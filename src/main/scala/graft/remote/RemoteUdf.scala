package graft.remote

import graft.sig.{FunctionDef, Registry}
import graft.functions.{ScalarImpl, TableImpl}
import org.apache.arrow.memory.{BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.complex.StructVector
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
import org.apache.spark.sql.types.{Metadata => SMetadata, _}
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream,
  InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/**
 * Remote UDF execution over Arrow IPC streams on a plain TCP socket — the
 * engine's analogue of the reference's Arrow-Flight protocol
 * (`arrow-udf-remote`: client `remote/mod.rs:36-156`, Java server
 * `UdfProducer.java:30-140`). gRPC/Flight jars are not part of the Spark
 * distribution, so the transport is a minimal framing: each request is a
 * UTF-8 command line (`LIST` / `GET f` / `CALL f` / `CALLTABLE f`), for the
 * CALL forms followed by one complete Arrow IPC stream (the stream's own EOS
 * marker delimits it); the response is a status line (`OK` / `ERR msg`)
 * followed by — for LIST/GET — signature text lines ending in a blank line,
 * or — for CALL forms — an IPC stream of results.
 *
 * Discovery mirrors the reference's `get/list` FlightInfo surface
 * (`remote/mod.rs:36-133`): signatures describe arg/return types in graft's
 * own grammar, so a remote client can resolve overloads before calling.
 *
 * The server streams one result batch per input batch as it evaluates
 * (reference `UdfProducer.java:103-139`) — nothing is buffered server-side.
 * Each CALL exchanges one bounded chunk (≤ [[RemoteProtocol.BatchSize]]
 * rows), so request and response never exceed socket buffering and the
 * half-duplex socket cannot deadlock; the Spark integration reuses one
 * pooled connection per partition across chunks and closes it at task end.
 *
 * Type matrix: bool, int32/64, float32/64, string, binary, date32,
 * timestamp (µs, naive), time64 (µs — a real Arrow `Time64`, engine-side a
 * tagged int64), decimal(p,s), calendar interval (Arrow `MonthDayNano`),
 * one-level lists of numeric types, maps, and structs of scalars. Extension
 * types (`json`, text-backed `decimal`, `time64`) carry their
 * `ARROW:extension:name` metadata on the Field, like the reference's
 * pyarrow bridge (`python/pyarrow.rs:136-459`). The server honors each
 * function's registered [[graft.sig.CallMode]]: CalledOnNullInput functions
 * receive NULL arguments over the wire instead of being short-circuited.
 */
object RemoteProtocol {
  /** Rows per exchange. Each CALL is one synchronous round-trip, so the fixed
    * exchange cost (command line, IPC schema, EOS, ack) amortizes over this
    * many rows; one bounded batch per exchange keeps the strictly-sequential
    * write-then-read ordering deadlock-free at any size. */
  val BatchSize = 8192
  /** Live extension-metadata key (def, not val: re-keyable via
    * [[graft.types.GraftType.configureExtensionTags]]). */
  def ExtKey: String = graft.types.GraftType.ExtensionKey
  /** Wire protocol version (reference: `do_action(protocol_version) = 2`). */
  // v3: JS framing carries int64 as decimal strings (BigInt-exact) — a v2
  // worker would silently string-concat where v3 expects arithmetic, so the
  // handshake must reject mixed pairs rather than corrupt data
  // v4: ERR status lines MAY carry a structured {"name","message"} JSON
  // object (clients render either form), and guest workers enforce a
  // per-call wall-clock deadline (TimeoutError over the wire)
  val Version = 4

  /** One '\n'-terminated line of the line-framed wire, or null at end of
    * stream. */
  def readLine(in: java.io.InputStream): String = {
    val sb = new java.lang.StringBuilder()
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { sb.append(b.toChar); b = in.read() }
    sb.toString
  }

  /** A call's argument schema: columns `a0, a1, ...` of `argTypes`, tagged
    * with `argMeta`'s extension metadata when given. */
  def argSchema(argTypes: Seq[DataType], argMeta: Seq[SMetadata] = Nil): ASchema = {
    val meta = if (argMeta.nonEmpty) argMeta else argTypes.map(_ => SMetadata.empty)
    new ASchema(argTypes.zip(meta).zipWithIndex.map { case ((t, m), i) =>
      toArrowField(s"a$i", t, m) }.asJava)
  }

  /** Allocate `root` and write `rows` into it, one bound writer per column. */
  def fillRoot(root: VectorSchemaRoot, rows: Seq[Seq[Any]]): Unit = {
    root.allocateNew()
    val writers = root.getFieldVectors.asScala.map(cellWriter).toArray
    rows.iterator.zipWithIndex.foreach { case (row, i) =>
      var j = 0
      while (j < writers.length) { writers(j)(i, row(j)); j += 1 }
    }
    root.setRowCount(rows.size)
  }

  private def fieldType(t: ArrowType, md: SMetadata): FieldType = {
    val ext = graft.types.GraftType.extensionOf(md)
    val m = ext.map(e => Map(ExtKey -> e).asJava).orNull
    new FieldType(true, t, null, m)
  }

  def toArrowField(name: String, dt: DataType, md: SMetadata = SMetadata.empty): Field =
    dt match {
      case BooleanType => new Field(name, fieldType(ArrowType.Bool.INSTANCE, md), null)
      case IntegerType => new Field(name, fieldType(new ArrowType.Int(32, true), md), null)
      // time64: µs-of-day rides as a REAL Arrow Time64 (not a bare int64), so
      // pyarrow peers see `time64[us]` exactly like the reference's bridge
      // (`python/pyarrow.rs:188-197`); engine-side it stays a LongType tagged
      // with the graft.time64 extension.
      case LongType if graft.types.GraftType.extensionOf(md).contains(graft.types.GraftType.TimeExt) =>
        new Field(name, fieldType(new ArrowType.Time(TimeUnit.MICROSECOND, 64), md), null)
      case LongType    => new Field(name, fieldType(new ArrowType.Int(64, true), md), null)
      case FloatType   => new Field(name,
        fieldType(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE), md), null)
      case DoubleType  => new Field(name,
        fieldType(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE), md), null)
      case StringType  => new Field(name, fieldType(ArrowType.Utf8.INSTANCE, md), null)
      case BinaryType  => new Field(name, fieldType(ArrowType.Binary.INSTANCE, md), null)
      case DateType    => new Field(name, fieldType(new ArrowType.Date(DateUnit.DAY), md), null)
      case TimestampNTZType => new Field(name,
        fieldType(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null), md), null)
      case d: DecimalType => new Field(name,
        fieldType(new ArrowType.Decimal(d.precision, d.scale, 128), md), null)
      case CalendarIntervalType =>
        new Field(name,
          fieldType(new ArrowType.Interval(org.apache.arrow.vector.types.IntervalUnit.MONTH_DAY_NANO), md), null)
      case ArrayType(et, _) =>
        new Field(name, fieldType(ArrowType.List.INSTANCE, md),
          Seq(toArrowField("item", et)).asJava)
      case MapType(kt, vt, _) =>
        // canonical Arrow map layout: map<entries: struct<key (non-null), value>>
        val key = new Field("key",
          new FieldType(false, toArrowField("key", kt).getType, null, null),
          toArrowField("key", kt).getChildren)
        val value = toArrowField("value", vt)
        val entries = new Field("entries",
          new FieldType(false, ArrowType.Struct.INSTANCE, null, null),
          Seq(key, value).asJava)
        new Field(name, fieldType(new ArrowType.Map(false), md), Seq(entries).asJava)
      case StructType(fields) =>
        new Field(name, fieldType(ArrowType.Struct.INSTANCE, md),
          fields.map(f => toArrowField(f.name, f.dataType, f.metadata)).toSeq.asJava)
      case other => throw new IllegalArgumentException(s"remote udf: unsupported type $other")
    }

  def fromArrowField(f: Field): (DataType, SMetadata) = {
    val dt: DataType = f.getType match {
      case _: ArrowType.Bool => BooleanType
      case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
      case i: ArrowType.Int if i.getBitWidth == 64 => LongType
      case fp: ArrowType.FloatingPoint if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
      case _: ArrowType.FloatingPoint => DoubleType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Binary => BinaryType
      // view layouts from foreign peers (reference `pyarrow.rs:188-197`):
      // same logical value space, so they land on the same Spark types —
      // inbound only (Spark types always serialize as the non-view layout)
      case _: ArrowType.Utf8View => StringType
      case _: ArrowType.BinaryView => BinaryType
      case _: ArrowType.Date => DateType
      case _: ArrowType.Timestamp => TimestampNTZType
      case _: ArrowType.Time => LongType // µs-of-day; TimeExt re-attached below
      case _: ArrowType.Interval => CalendarIntervalType
      // Decimal256 beyond Spark's 38-digit ceiling degrades to the engine's
      // text-backed unconstrained decimal (the reference's BigDecimal shim,
      // `jsarrow.rs:267-278`); within 38 digits both widths map to DecimalType
      case d: ArrowType.Decimal if d.getBitWidth == 256 && d.getPrecision > 38 => StringType
      case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
      case _: ArrowType.Map =>
        val entries = f.getChildren.get(0)
        MapType(fromArrowField(entries.getChildren.get(0))._1,
          fromArrowField(entries.getChildren.get(1))._1, valueContainsNull = true)
      case _: ArrowType.List =>
        ArrayType(fromArrowField(f.getChildren.get(0))._1, containsNull = true)
      case _: ArrowType.Struct =>
        StructType(f.getChildren.asScala.map { c =>
          val (cdt, cmd) = fromArrowField(c)
          StructField(c.getName, cdt, nullable = true, cmd)
        }.toSeq)
      case other => throw new IllegalArgumentException(s"remote udf: unsupported arrow type $other")
    }
    val md = Option(f.getMetadata).map(_.asScala.get(ExtKey)).flatten match {
      case Some(ext) => new MetadataBuilder().putString(ExtKey, ext).build()
      case None => f.getType match {
        // a bare time64[us] from a non-graft peer still resolves time64 overloads
        case _: ArrowType.Time => new MetadataBuilder()
          .putString(ExtKey, graft.types.GraftType.TimeExt).build()
        // over-38-digit Decimal256 → text-backed decimal extension, so
        // decimal-sensitive overloads still resolve on the string carrier
        case d: ArrowType.Decimal if d.getBitWidth == 256 && d.getPrecision > 38 =>
          new MetadataBuilder().putString(ExtKey, graft.types.GraftType.DecimalExt).build()
        case _ => SMetadata.empty
      }
    }
    (dt, md)
  }

  /** Write one external (JVM) value into vector cell `i`. Rows must be
    * written in ascending `i` order (list offsets are sequential). */
  def setCell(v: FieldVector, i: Int, value: Any): Unit = (v, value) match {
    case (lv: ListVector, null) => lv.setNull(i) // also MapVector (a ListVector)
    case (sv: StructVector, null) => sv.setNull(i)
    case (_, null) => v.setNull(i)
    case (tv: TimeMicroVector, x: Long) => tv.setSafe(i, x)
    case (iv: IntervalMonthDayNanoVector, x: org.apache.spark.unsafe.types.CalendarInterval) =>
      iv.setSafe(i, x.months, x.days, x.microseconds * 1000L)
    case (mv: org.apache.arrow.vector.complex.MapVector, m: scala.collection.Map[_, _]) =>
      val start = mv.startNewValue(i)
      val entries = mv.getDataVector.asInstanceOf[StructVector]
      val kVec = entries.getChildrenFromFields.get(0)
      val vVec = entries.getChildrenFromFields.get(1)
      var j = 0
      m.foreach { case (k, value) =>
        entries.setIndexDefined(start + j)
        setCell(kVec, start + j, k)
        setCell(vVec, start + j, value)
        j += 1
      }
      mv.endValue(i, m.size)
    case (bv: BitVector, x: Boolean) => bv.setSafe(i, if (x) 1 else 0)
    case (iv: IntVector, x: Int) => iv.setSafe(i, x)
    case (bv: BigIntVector, x: Long) => bv.setSafe(i, x)
    case (bv: BigIntVector, x: Int) => bv.setSafe(i, x.toLong)
    case (fv: Float4Vector, x: Float) => fv.setSafe(i, x)
    case (dv: Float8Vector, x: Double) => dv.setSafe(i, x)
    case (sv: VarCharVector, x: String) => sv.setSafe(i, x.getBytes(StandardCharsets.UTF_8))
    case (bv: VarBinaryVector, x: Array[Byte]) => bv.setSafe(i, x)
    case (dv: DateDayVector, x: java.sql.Date) => dv.setSafe(i, x.toLocalDate.toEpochDay.toInt)
    case (tv: TimeStampMicroVector, x: java.time.LocalDateTime) =>
      tv.setSafe(i, x.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
        + x.getNano / 1000L)
    case (dv: DecimalVector, x: java.math.BigDecimal) =>
      dv.setSafe(i, x.setScale(dv.getScale, java.math.RoundingMode.HALF_UP))
    case (dv: Decimal256Vector, x: java.math.BigDecimal) =>
      dv.setSafe(i, x.setScale(dv.getScale, java.math.RoundingMode.HALF_UP))
    case (vv: ViewVarCharVector, x: String) => vv.setSafe(i, x.getBytes(StandardCharsets.UTF_8))
    case (vv: ViewVarBinaryVector, x: Array[Byte]) => vv.setSafe(i, x)
    case (lv: ListVector, xs: scala.collection.Seq[_]) =>
      val start = lv.startNewValue(i)
      val data = lv.getDataVector.asInstanceOf[FieldVector]
      var j = 0
      xs.foreach { e => setCell(data, start + j, e); j += 1 }
      lv.endValue(i, xs.size)
    case (sv: StructVector, r: org.apache.spark.sql.Row) =>
      sv.setIndexDefined(i)
      val children = sv.getChildrenFromFields.asScala
      var j = 0
      while (j < children.size) { setCell(children(j), i, r.get(j)); j += 1 }
    case (vec, x) => throw new IllegalArgumentException(s"cell $x into ${vec.getClass}")
  }

  /** Read vector cell `i` back to the external (JVM) value. */
  def getCell(v: FieldVector, i: Int): Any =
    if (v.isNull(i)) null
    else v match {
      case bv: BitVector => bv.get(i) == 1
      case iv: IntVector => iv.get(i)
      case bv: BigIntVector => bv.get(i)
      case fv: Float4Vector => fv.get(i)
      case dv: Float8Vector => dv.get(i)
      case sv: VarCharVector => new String(sv.get(i), StandardCharsets.UTF_8)
      case bv: VarBinaryVector => bv.get(i)
      case dv: DateDayVector => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(dv.get(i)))
      case tv: TimeStampMicroVector =>
        val micros = tv.get(i)
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case dv: DecimalVector => dv.getObject(i)
      case dv: Decimal256Vector =>
        // >38 digits maps to the text-backed decimal (Spark can't hold it);
        // within 38 the BigDecimal feeds DecimalType like the 128-bit path
        if (dv.getPrecision > 38) dv.getObject(i).toPlainString else dv.getObject(i)
      case vv: ViewVarCharVector => new String(vv.get(i), StandardCharsets.UTF_8)
      case vv: ViewVarBinaryVector => vv.get(i)
      case tv: TimeMicroVector => tv.get(i)
      case iv: IntervalMonthDayNanoVector =>
        val h = iv.getObject(i) // PeriodDuration
        val period = h.getPeriod
        new org.apache.spark.unsafe.types.CalendarInterval(
          period.getYears * 12 + period.getMonths, period.getDays,
          h.getDuration.toNanos / 1000L)
      case mv: org.apache.arrow.vector.complex.MapVector => // before ListVector: a MapVector IS a ListVector
        val entries = mv.getDataVector.asInstanceOf[StructVector]
        val kVec = entries.getChildrenFromFields.get(0)
        val vVec = entries.getChildrenFromFields.get(1)
        val start = mv.getElementStartIndex(i)
        val end = mv.getElementEndIndex(i)
        (start until end).map(j => getCell(kVec, j) -> getCell(vVec, j)).toMap
      case lv: ListVector =>
        val data = lv.getDataVector.asInstanceOf[FieldVector]
        val start = lv.getElementStartIndex(i)
        val end = lv.getElementEndIndex(i)
        (start until end).map(j => getCell(data, j))
      case sv: StructVector =>
        org.apache.spark.sql.Row.fromSeq(
          sv.getChildrenFromFields.asScala.map(c => getCell(c, i)).toSeq)
      case other => throw new IllegalArgumentException(s"read from ${other.getClass}")
    }

  // ---- dictionary-encoded columns -------------------------------------------
  // Arrow Java materializes a dictionary-encoded IPC field as an INDEX-typed
  // vector in the reader's root (the value type lives in the reader's
  // DictionaryProvider), so both overload resolution and cell reading must
  // look THROUGH the encoding. At 100 TB this path is the norm, not the
  // exception: parquet writers dictionary-encode most string columns, and a
  // dictionary-preserving producer (the reference's Java server reads them
  // via FlightStream, which resolves dictionaries in the SDK —
  // `UdfProducer.java:103-139`) ships them as-is.

  /** The logical (value-typed) field behind a possibly dictionary-encoded
    * memory-format field; identity for plain fields. */
  def logicalField(f: Field,
      dictionaries: org.apache.arrow.vector.dictionary.DictionaryProvider): Field = {
    val enc = f.getDictionary
    if (enc == null) f
    else {
      val vf = dictionaries.lookup(enc.getId).getVector.getField
      new Field(f.getName,
        new FieldType(f.isNullable, vf.getType, null, f.getMetadata), vf.getChildren)
    }
  }

  /** A decoded (value-typed) view of a possibly dictionary-encoded vector.
    * Returns the SAME vector when not encoded; otherwise a freshly-allocated
    * decoded vector the caller must close (pair with [[batchCellReaders]]'
    * closer, which handles both cases). */
  def decodeDictionary(v: FieldVector,
      dictionaries: org.apache.arrow.vector.dictionary.DictionaryProvider): FieldVector = {
    val enc = v.getField.getDictionary
    if (enc == null) v
    else org.apache.arrow.vector.dictionary.DictionaryEncoder
      .decode(v, dictionaries.lookup(enc.getId)).asInstanceOf[FieldVector]
  }

  /** Dictionary-encode every STRING column of `root` for the wire: the
    * dictionary is the column's distinct non-null values in first-seen
    * order, the encoded column is index-typed (int32), and the returned
    * provider feeds a stock `ArrowStreamWriter` so the encoding travels as
    * schema-declared DictionaryEncoding + DictionaryBatch messages — the
    * batch shape a dictionary-preserving producer emits at scale, where
    * parquet string columns are dictionary pages. Non-string columns pass
    * through untouched. The closer releases the encoder's scratch vectors;
    * run it once the batch is written. */
  def dictionaryEncodeStrings(root: VectorSchemaRoot,
      allocator: org.apache.arrow.memory.BufferAllocator)
      : (VectorSchemaRoot,
         org.apache.arrow.vector.dictionary.DictionaryProvider.MapDictionaryProvider,
         () => Unit) = {
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder, DictionaryProvider}
    import org.apache.arrow.vector.types.pojo.DictionaryEncoding
    val n = root.getRowCount
    val extra = scala.collection.mutable.ArrayBuffer.empty[FieldVector]
    val provider = new DictionaryProvider.MapDictionaryProvider()
    val encoded = root.getFieldVectors.asScala.zipWithIndex.map {
      case (sv: VarCharVector, j) =>
        val distinct = new java.util.LinkedHashSet[String]()
        (0 until n).foreach { i =>
          if (!sv.isNull(i))
            distinct.add(new String(sv.get(i), StandardCharsets.UTF_8))
        }
        val dv = new VarCharVector(s"${sv.getName}-dict", allocator)
        extra += dv
        dv.allocateNew()
        var k = 0
        distinct.forEach { s =>
          dv.setSafe(k, s.getBytes(StandardCharsets.UTF_8)); k += 1
        }
        dv.setValueCount(k)
        val dict = new Dictionary(dv,
          new DictionaryEncoding(j.toLong, false, new ArrowType.Int(32, true)))
        provider.put(dict)
        val enc = DictionaryEncoder.encode(sv, dict).asInstanceOf[FieldVector]
        extra += enc
        enc
      case (v, _) => v
    }
    val encRoot = new VectorSchemaRoot(
      encoded.map(_.getField).asJava, encoded.map(v => v: FieldVector).asJava, n)
    (encRoot, provider,
      () => extra.foreach(v => try v.close() catch { case _: Exception => () }))
  }

  /** Column readers for the CURRENT batch of `root`, decoding any
    * dictionary-encoded columns through `dictionaries` (an [[ArrowStreamReader]]
    * IS a DictionaryProvider); the returned closer releases the decoded
    * copies and must run once the batch is consumed. Plain batches pay only
    * a null check per column. */
  def batchCellReaders(root: VectorSchemaRoot,
      dictionaries: org.apache.arrow.vector.dictionary.DictionaryProvider)
      : (Array[Int => Any], () => Unit) = {
    val orig = root.getFieldVectors
    val decoded = orig.asScala.map(v => decodeDictionary(v, dictionaries)).toArray
    val readers = decoded.map(cellReader)
    val closer = () => {
      var i = 0
      while (i < decoded.length) {
        if (decoded(i) ne orig.get(i)) decoded(i).close()
        i += 1
      }
    }
    (readers, closer)
  }

  /** Bind a reader closure to one vector: the type dispatch happens ONCE per
    * column per batch instead of once per cell — the hot loop then runs
    * monomorphic accessors (column-at-a-time binding, the batch-kernel
    * contract of the reference's Java server `UdfProducer.java:103-139`).
    * Nested/rare types fall back to the generic [[getCell]]. */
  def cellReader(v: FieldVector): Int => Any = v match {
    case bv: BitVector        => i => if (bv.isNull(i)) null else bv.get(i) == 1
    case iv: IntVector        => i => if (iv.isNull(i)) null else iv.get(i)
    case bv: BigIntVector     => i => if (bv.isNull(i)) null else bv.get(i)
    case fv: Float4Vector     => i => if (fv.isNull(i)) null else fv.get(i)
    case dv: Float8Vector     => i => if (dv.isNull(i)) null else dv.get(i)
    case sv: VarCharVector    => i => if (sv.isNull(i)) null
                                      else new String(sv.get(i), StandardCharsets.UTF_8)
    case bv: VarBinaryVector  => i => if (bv.isNull(i)) null else bv.get(i)
    case _                    => i => getCell(v, i)
  }

  /** Writer analogue of [[cellReader]]: one dispatch per column per batch. */
  def cellWriter(v: FieldVector): (Int, Any) => Unit = v match {
    case bv: BitVector       => (i, x) => if (x == null) bv.setNull(i)
                                          else bv.setSafe(i, if (x.asInstanceOf[Boolean]) 1 else 0)
    case iv: IntVector       => (i, x) => if (x == null) iv.setNull(i)
                                          else iv.setSafe(i, x.asInstanceOf[Int])
    case bv: BigIntVector    => (i, x) => if (x == null) bv.setNull(i) else (x: @unchecked) match {
                                            case l: Long => bv.setSafe(i, l)
                                            case n: Int  => bv.setSafe(i, n.toLong)
                                          }
    case fv: Float4Vector    => (i, x) => if (x == null) fv.setNull(i)
                                          else fv.setSafe(i, x.asInstanceOf[Float])
    case dv: Float8Vector    => (i, x) => if (x == null) dv.setNull(i)
                                          else dv.setSafe(i, x.asInstanceOf[Double])
    case sv: VarCharVector   => (i, x) => if (x == null) sv.setNull(i)
                                          else sv.setSafe(i, x.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
    case bv: VarBinaryVector => (i, x) => if (x == null) bv.setNull(i)
                                          else bv.setSafe(i, x.asInstanceOf[Array[Byte]])
    case _                   => (i, x) => setCell(v, i, x)
  }

  def renderSignature(fd: FunctionDef): String = fd.signature.toString

  /** Length-prefixed opaque state blob (the wire form of the reference's
    * single-row pickled-state array, `python/mod.rs:482-517`). */
  def writeBlob(out: DataOutputStream, bytes: Array[Byte]): Unit = {
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  def readBlob(in: DataInputStream): Array[Byte] = {
    val n = in.readInt()
    val buf = new Array[Byte](n)
    in.readFully(buf)
    buf
  }

  def javaSerialize(o: Any): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o.asInstanceOf[AnyRef]); oos.close()
    bos.toByteArray
  }
  def javaDeserialize(bytes: Array[Byte]): Any = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    try ois.readObject() finally ois.close()
  }
}

/** Server: exposes registered graft scalar + table functions to remote
  * callers, with LIST/GET discovery. */
/** @param authToken when set, every connection must open with
  *   `AUTH <token>` before any other verb — the flag-gated shared-secret
  *   analogue of the reference Java server's Flight auth middleware hook
  *   (off by default: loopback worker processes are spawned-trusted).
  * @param tls when set, the listener speaks MUTUAL TLS: the server presents
  *   its certificate AND requires a client certificate signed into its trust
  *   store (the reference's Flight-over-gRPC channel-security analogue,
  *   JDK-native). Build contexts with [[Tls.context]]. Composable with
  *   `authToken` (TLS authenticates the channel, the token the caller). */
class UdfServer(port: Int = 0, authToken: Option[String] = None,
                tls: Option[javax.net.ssl.SSLContext] = None) extends AutoCloseable {
  import RemoteProtocol._
  import UdfServer.serveCall

  private val server = tls match {
    case Some(ctx) =>
      val s = ctx.getServerSocketFactory.createServerSocket()
        .asInstanceOf[javax.net.ssl.SSLServerSocket]
      s.setNeedClientAuth(true) // mutual: no client cert → handshake refused
      s
    case None => new ServerSocket()
  }
  server.setReuseAddress(true) // restart on the same port despite TIME_WAIT
  server.bind(new InetSocketAddress("127.0.0.1", port))
  @volatile private var running = true
  private val active = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        // The exchange is write-write-read (command line, then Arrow stream,
        // then response): Nagle x delayed-ACK turns every chunk into a ~40 ms
        // stall. Latency-bound protocol => disable coalescing on both ends.
        sock.setTcpNoDelay(true)
        active.add(sock)
        val t = new Thread(() => try serve(sock) finally active.remove(sock))
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception if !running => }
    }
  }, "graft-udf-server")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val allocator = new RootAllocator()
    try {
      var authed = authToken.isEmpty
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        if (line.startsWith("AUTH")) {
          // constant-time compare; a wrong token closes the connection
          val presented = line.stripPrefix("AUTH").trim.getBytes(StandardCharsets.UTF_8)
          val expected = authToken.getOrElse("").getBytes(StandardCharsets.UTF_8)
          if (authToken.nonEmpty && java.security.MessageDigest.isEqual(presented, expected)) {
            authed = true
            out.write("OK\n".getBytes(StandardCharsets.UTF_8))
          } else {
            out.write("ERR unauthorized\n".getBytes(StandardCharsets.UTF_8))
            out.flush()
            return
          }
        } else if (!authed) {
          out.write("ERR unauthorized (AUTH required)\n".getBytes(StandardCharsets.UTF_8))
          out.flush()
          return
        } else if (line.startsWith("VERSION")) {
          // handshake: client verifies compatibility before calling
          out.write(s"OK\n${RemoteProtocol.Version}\n\n".getBytes(StandardCharsets.UTF_8))
        } else if (line.startsWith("LIST")) {
          // discovery: every registered signature (reference list_udfs)
          out.write("OK\n".getBytes(StandardCharsets.UTF_8))
          Registry.global.all.sortBy(_.signature.name).foreach { fd =>
            out.write((renderSignature(fd) + "\n").getBytes(StandardCharsets.UTF_8))
          }
          out.write("\n".getBytes(StandardCharsets.UTF_8))
        } else if (line.startsWith("GET ")) {
          // discovery: signatures for one name (reference get_udf FlightInfo)
          val fname = line.stripPrefix("GET ").trim
          val defs = Registry.global.lookup(fname)
          if (defs.isEmpty)
            out.write(s"ERR no function $fname\n".getBytes(StandardCharsets.UTF_8))
          else {
            out.write("OK\n".getBytes(StandardCharsets.UTF_8))
            defs.foreach(fd =>
              out.write((renderSignature(fd) + "\n").getBytes(StandardCharsets.UTF_8)))
            out.write("\n".getBytes(StandardCharsets.UTF_8))
          }
        } else if (line.startsWith("DEFINE")) {
          // guest-runtime verb (source-code registration): the JVM tier's
          // registration surface is in-process (graft.functions.Udf) — drain
          // the three source blobs so the connection stays framed, then ERR.
          readBlob(in); readBlob(in); readBlob(in)
          out.write(("ERR define not supported on the JVM tier " +
            "(register in-process via graft.functions.Udf)\n").getBytes(StandardCharsets.UTF_8))
        } else if (line.startsWith("CALLERR ")) {
          // fallible scalar call: per-row failures surface as an `error`
          // column instead of nulls (reference `python/mod.rs:382-390`
          // build_error_array / append_error_to_schema)
          serveCall(line.substring(8).trim, isTable = false, withErrors = true,
            in, out, allocator, statusLine(out))
        } else if (line.startsWith("CALL ") || line.startsWith("CALLTABLE ")) {
          val isTable = line.startsWith("CALLTABLE ")
          val fname = line.substring(if (isTable) 10 else 5).trim
          serveCall(fname, isTable, withErrors = false, in, out, allocator, statusLine(out))
        } else if (line.startsWith("ACC")) {
          // aggregate lifecycle verbs (reference create_state/accumulate/
          // retract/merge/finish, `python/mod.rs:229-309,456-656`)
          val sp = line.indexOf(' ')
          val verb = if (sp < 0) line else line.substring(0, sp)
          val fname = if (sp < 0) "" else line.substring(sp + 1).trim
          serveAgg(verb, fname, in, out, allocator)
        } else {
          out.write(s"ERR bad command $line\n".getBytes(StandardCharsets.UTF_8))
        }
        out.flush()
        line = readLine(in)
      }
    } catch {
      // any I/O failure is a gone peer: a hang-up (also between a command
      // line and its Arrow stream), a reset, or a refused TLS handshake
      case _: java.io.IOException =>
    } finally {
      try allocator.close() finally sock.close()
    }
  }

  /** A call's status on this wire: an `OK` or `ERR msg` line ahead of the
    * result stream. */
  private def statusLine(out: DataOutputStream)(err: Option[String]): Unit =
    out.write(s"${err.fold("OK")(e => s"ERR $e")}\n".getBytes(StandardCharsets.UTF_8))

  /** Aggregate lifecycle over the wire — the five verbs of the reference's
    * Python runtime aggregate protocol (`python/mod.rs:229-309,456-656`):
    * `ACCCREATE f` → state; `ACC f` / `ACCRETRACT f` (state + Arrow arg
    * stream → new state); `ACCMERGE f` (state + state → state);
    * `ACCFINISH f` (state → single-row Arrow `value` stream). State is an
    * opaque java-serialized blob — the `arrowudf.pickle` analogue; the
    * server never interprets a guest's bytes, only its own. */
  private def serveAgg(verb: String, fname: String, in: DataInputStream,
                       out: DataOutputStream, allocator: RootAllocator): Unit = {
    import graft.functions.{GraftAggregate, NativeAggImpl}
    val aggDef = Registry.global.lookup(fname).find(_.impl.isInstanceOf[NativeAggImpl])
    val agg = aggDef.map(_.impl.asInstanceOf[NativeAggImpl].agg
      .asInstanceOf[GraftAggregate[Any, Any]])

    def fail(msg: String): Unit =
      out.write(s"ERR $msg\n".getBytes(StandardCharsets.UTF_8))

    verb match {
      case "ACCCREATE" => agg match {
        case None => fail(s"no aggregate $fname")
        case Some(a) =>
          out.write("OK\n".getBytes(StandardCharsets.UTF_8))
          writeBlob(out, javaSerialize(a.createState()))
      }
      case "ACC" | "ACCRETRACT" =>
        val state = readBlob(in)
        // closed on every path: a peer gone mid-stream must not leak the
        // loaded batch into the connection's allocator
        val reader = new ArrowStreamReader(in, allocator)
        val folded = try {
          val root = reader.getVectorSchemaRoot
          agg match {
            case None =>
              while (reader.loadNextBatch()) {} // drain, then report
              None
            case Some(a) =>
              var s = javaDeserialize(state)
              val retract = verb == "ACCRETRACT"
              while (reader.loadNextBatch()) {
                val n = root.getRowCount
                val (readers, doneBatch) = batchCellReaders(root, reader)
                try {
                  var i = 0
                  while (i < n) {
                    val row = org.apache.spark.sql.Row.fromSeq(
                      scala.collection.immutable.ArraySeq.unsafeWrapArray(readers.map(_(i))))
                    s = if (retract) a.retract(s, row) else a.accumulate(s, row)
                    i += 1
                  }
                } finally doneBatch()
              }
              Some(s)
          }
        } finally reader.close(false)
        folded match {
          case Some(s) =>
            out.write("OK\n".getBytes(StandardCharsets.UTF_8))
            writeBlob(out, javaSerialize(s))
          case None => fail(s"no aggregate $fname")
        }
      case "ACCMERGE" =>
        val sa = readBlob(in)
        val sb = readBlob(in)
        agg match {
          case None => fail(s"no aggregate $fname")
          case Some(a) =>
            val merged = a.merge(javaDeserialize(sa), javaDeserialize(sb))
            out.write("OK\n".getBytes(StandardCharsets.UTF_8))
            writeBlob(out, javaSerialize(merged))
        }
      case "ACCFINISH" =>
        val state = readBlob(in)
        (agg, aggDef) match {
          case (Some(a), Some(fd)) =>
            val result = a.finish(javaDeserialize(state))
            out.write("OK\n".getBytes(StandardCharsets.UTF_8))
            val ret = fd.signature.returns
            val outSchema = new ASchema(Seq(
              toArrowField("value", ret.dataType, ret.metadata)).asJava)
            val outRoot = VectorSchemaRoot.create(outSchema, allocator)
            try {
              val writer = new ArrowStreamWriter(outRoot, null, out)
              writer.start()
              outRoot.allocateNew()
              setCell(outRoot.getVector(0), 0, result)
              outRoot.setRowCount(1)
              writer.writeBatch()
              writer.end()
            } finally outRoot.close()
          case _ => fail(s"no aggregate $fname")
        }
      case other => fail(s"bad agg verb $other")
    }
  }

  /** Sever every live connection (clients see EOF/reset and their
    * [[FailoverSession]] replays) without stopping the listener — the shape
    * of a transient network blip, also used at shutdown. */
  def dropConnections(): Unit = {
    active.forEach(s => try s.close() catch { case _: Exception => })
    active.clear()
  }

  override def close(): Unit = {
    running = false
    server.close()
    dropConnections()
  }
}

object UdfServer {
  import RemoteProtocol._

  /** Evaluate one CALL/CALLTABLE/CALLERR exchange: read the argument IPC
    * stream from `in`, resolve `fname` against its schema, and stream one
    * result batch per input batch to `out` as it is evaluated (reference
    * `UdfProducer.java:103-139`) — no server-side buffering of the result
    * set. `out` is flushed after every IPC message, so a caller streaming
    * many batches over one call can ping-pong: each result batch leaves
    * before the next input batch is read.
    *
    * `status` is called once, before any result bytes: with None when the
    * call resolved, or with the error when no function serves it. The
    * input is then drained to keep the wire parseable, unless `status`
    * throws. Reader, result root and decoded dictionary copies are closed
    * on every path, so a peer that goes away mid-stream leaks nothing from
    * `allocator`. Shared by [[UdfServer]] and
    * [[graft.remote.flight.FlightServer]]. */
  def serveCall(fname: String, isTable: Boolean, withErrors: Boolean,
                in: InputStream, out: OutputStream, allocator: BufferAllocator,
                status: Option[String] => Unit): Unit = {
    val reader = new ArrowStreamReader(in, allocator)
    try {
      val root = reader.getVectorSchemaRoot
      // overload resolution sees the LOGICAL types: a dictionary-encoded
      // string column resolves string signatures, not the index int's
      val argTypes = root.getSchema.getFields.asScala.map { f =>
        val (dt, md) = fromArrowField(logicalField(f, reader)); (dt, md)
      }.toSeq
      // Native-expression functions (the codegen tier) are served too: bind the
      // expression to positional references once, evaluate per row through the
      // catalyst converters — the server-side analogue of the reference's Java
      // server evaluating compiled kernels.
      def scalarFn(fd: FunctionDef): Option[Seq[Any] => Any] = fd.impl match {
        case ScalarImpl(f) => Some(f)
        case graft.functions.ExprImpl(build) =>
          import org.apache.spark.sql.catalyst.CatalystTypeConverters
          import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
          val argDts = argTypes.map(_._1)
          val expr = build(argDts.zipWithIndex.map { case (dt, i) =>
            BoundReference(i, dt, nullable = true) })
          val toCat = argDts.map(CatalystTypeConverters.createToCatalystConverter).toArray
          val fromCat = CatalystTypeConverters.createToScalaConverter(fd.signature.returns.dataType)
          // one reusable catalyst row per call — a call is evaluated on one
          // thread, so no per-row InternalRow allocation
          val rowBuf = new GenericInternalRow(argDts.length)
          Some { (args: Seq[Any]) =>
            var i = 0
            while (i < argDts.length) {
              val a = args(i)
              rowBuf.update(i, if (a == null) null else toCat(i)(a))
              i += 1
            }
            fromCat(expr.eval(rowBuf))
          }
        case _ => None
      }
      /** Start the result stream with `outSchema`, then feed each input
        * batch's column readers and row count to `evalBatch`, which fills
        * `outRoot` and sets its row count; one result batch per input. */
      def streamResults(outSchema: ASchema)(
          evalBatch: (VectorSchemaRoot, Array[Int => Any], Int) => Unit): Unit = {
        status(None)
        val outRoot = VectorSchemaRoot.create(outSchema, allocator)
        try {
          // no dictionary provider: the writer holds no buffers of its own
          val writer = new ArrowStreamWriter(outRoot, null, out)
          writer.start()
          out.flush()
          while (reader.loadNextBatch()) {
            // column-at-a-time binding: dispatch per COLUMN, not per cell
            // (dictionary-encoded columns decode to value vectors here)
            val (readers, doneBatch) = batchCellReaders(root, reader)
            try {
              outRoot.allocateNew()
              evalBatch(outRoot, readers, root.getRowCount)
              writer.writeBatch() // streamed per input batch
              out.flush()
            } finally doneBatch()
          }
          writer.end()
        } finally outRoot.close()
      }
      /** Row `i`'s arguments; null when one of them is NULL and the
        * function is not called on NULL input (its result is NULL). */
      def rowArgs(readers: Array[Int => Any], i: Int, callOnNull: Boolean): Seq[Any] = {
        val argsArr = new Array[Any](readers.length)
        var j = 0
        var hasNull = false
        while (j < readers.length) {
          val a = readers(j)(i)
          if (a == null) hasNull = true
          argsArr(j) = a
          j += 1
        }
        if (hasNull && !callOnNull) null
        else scala.collection.immutable.ArraySeq.unsafeWrapArray(argsArr)
      }
      val resolved = Registry.global.resolve(fname, argTypes)
      val resolvedScalar = resolved.flatMap(fd => scalarFn(fd).map(f => (fd, f)))
      (resolved, resolvedScalar) match {
        case (_, Some((fd @ FunctionDef(sigDef, _, _, _, _), f))) if !isTable =>
          // honor the registered CallMode over the wire: CalledOnNullInput
          // functions (e.g. option_add) see their NULL arguments
          val callOnNull = fd.callMode == graft.sig.CallMode.CalledOnNullInput
          // guest-SPI functions expose a column-at-a-time evaluator: pool and
          // compiled-handle lookups amortize per BATCH (LanguageRuntime
          // .callBatch) instead of repeating per row. Signature must match —
          // the per-name override doesn't cover overloads — and the row loop
          // keeps per-row error capture and CalledOnNullInput semantics.
          val batchFn: Option[(Seq[Array[Any]], Int) => Array[Any]] =
            if (withErrors || callOnNull) None
            else graft.functions.BatchEval.overrides.get(fname.toLowerCase).collect {
              case (sig, bf) if sig == sigDef.toString => bf
            }
          val valueField = toArrowField("value", sigDef.returns.dataType, sigDef.returns.metadata)
          streamResults(new ASchema(
            (if (withErrors) Seq(valueField, toArrowField("error", StringType))
             else Seq(valueField)).asJava)) { (outRoot, readers, n) =>
            val write = cellWriter(outRoot.getVector(0))
            val writeErr = if (withErrors) cellWriter(outRoot.getVector(1)) else null
            if (batchFn.isDefined) {
              val cols = readers.map { rd =>
                val col = new Array[Any](n)
                var i = 0
                while (i < n) { col(i) = rd(i); i += 1 }
                col
              }
              val vals = batchFn.get(scala.collection.immutable.ArraySeq.unsafeWrapArray(cols), n)
              var i = 0
              while (i < n) { write(i, vals(i)); i += 1 }
            } else {
              var i = 0
              while (i < n) {
                val args = rowArgs(readers, i, callOnNull)
                if (args == null) {
                  write(i, null)
                  if (withErrors) writeErr(i, null)
                } else if (withErrors) {
                  // per-row containment: a throwing row yields (null, message) —
                  // the SAME message convention as the in-process fallible tier
                  // (FallibleScalarInvoke), so local and remote error columns agree
                  try { write(i, f(args)); writeErr(i, null) }
                  catch { case e: Exception =>
                    write(i, null)
                    writeErr(i, if (e.getMessage == null) e.getClass.getSimpleName else e.getMessage)
                  }
                } else write(i, f(args))
                i += 1
              }
            }
            outRoot.setRowCount(n)
          }
        case (Some(fd @ FunctionDef(sigDef, TableImpl(f), _, _, _)), _) if isTable =>
          // table function: result rows are (row, value) — the input-row index
          // column materialized exactly like the reference's `row: Int32`.
          val callOnNull = fd.callMode == graft.sig.CallMode.CalledOnNullInput
          var rowBase = 0
          streamResults(new ASchema(Seq(
            toArrowField("row", IntegerType),
            toArrowField("value", sigDef.returns.dataType, sigDef.returns.metadata)).asJava)) {
            (outRoot, readers, n) =>
              val rowVec = outRoot.getVector(0).asInstanceOf[IntVector]
              val writeVal = cellWriter(outRoot.getVector(1))
              var outIdx = 0
              var i = 0
              while (i < n) {
                val args = rowArgs(readers, i, callOnNull)
                val it = if (args == null) Iterator.empty else f(args)
                it.foreach { v =>
                  rowVec.setSafe(outIdx, rowBase + i)
                  writeVal(outIdx, v)
                  outIdx += 1
                }
                i += 1
              }
              outRoot.setRowCount(outIdx)
              rowBase += n
          }
        case _ =>
          // report BEFORE draining, so an incremental caller waiting for the
          // status after sending only the schema isn't deadlocked waiting
          // for a drain of batches it will never send (it closes its stream
          // on the error, which ends the drain); a bounded-exchange caller
          // reads the same bytes after its EOS exactly as before
          val kind = if (isTable) "table function" else "scalar function"
          status(Some(s"no $kind $fname"))
          out.flush()
          while (reader.loadNextBatch()) {} // drain: keep the wire parseable
      }
    } finally reader.close(false)
  }
}

/** Client: one connection, sequential exchanges (`Client::call`,
  * `remote/mod.rs:134-156`) plus `list`/`get` discovery.
  *
  * Containment: every read carries an SO_TIMEOUT deadline (`timeoutMs`,
  * default 120 s) — a hung or wedged server aborts the calling task with a
  * clean `SocketTimeoutException` instead of hanging it forever, mirroring
  * the reference JS runtime's per-call timeout semantics
  * (`arrow-udf-runtime/src/javascript/mod.rs:229-260`).
  *
  * A failed connection is not revived: the client is dead, and
  * [[FailoverSession]] (the one retry site) opens a new one and replays.
  *
  * Auth: `authToken` (off by default) sends an AUTH handshake after connect;
  * the server refuses every other verb until it succeeds. */
class UdfClient(host: String, port: Int, timeoutMs: Int = 120000,
                authToken: Option[String] = None,
                tls: Option[javax.net.ssl.SSLContext] = None) extends AutoCloseable {
  import RemoteProtocol._

  private val sock: Socket = tls match {
    case Some(ctx) =>
      val s = ctx.getSocketFactory.createSocket(host, port)
        .asInstanceOf[javax.net.ssl.SSLSocket]
      // endpoint identification: the server cert must actually name this
      // host (SAN) — without it, ANY cert the trust store chains to would
      // be accepted for any endpoint, silently weaker than the leaf-pinned
      // contract Tls.context documents
      val params = s.getSSLParameters
      params.setEndpointIdentificationAlgorithm("HTTPS")
      s.setSSLParameters(params)
      s
    case None => new Socket(host, port)
  }
  sock.setTcpNoDelay(true) // latency-bound write-write-read exchange; see UdfServer
  sock.setSoTimeout(timeoutMs)
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val allocator = new RootAllocator()
  authToken.foreach { tok =>
    out.write(s"AUTH $tok\n".getBytes(StandardCharsets.UTF_8))
    out.flush()
    val status = readLine(in)
    if (status == null || !status.startsWith("OK"))
      throw new SecurityException(s"remote auth failed: $status")
  }

  /** Handshake: the server's wire protocol version. */
  def version(): Int = textExchange("VERSION\n").head.toInt

  /** Discovery: all remote signatures (reference `Client::list`). */
  def list(): Seq[String] = textExchange("LIST\n")

  /** Discovery: signatures registered under `fname` (reference `Client::get`). */
  def get(fname: String): Seq[String] = textExchange(s"GET $fname\n")

  private def textExchange(cmd: String): Seq[String] = {
    out.write(cmd.getBytes(StandardCharsets.UTF_8))
    out.flush()
    expectOk()
    Iterator.continually(nextLine()).takeWhile(_.nonEmpty).toSeq
  }

  /** Call a remote scalar function over rows of (typed) argument tuples.
    * With `dictEncodeStrings`, string argument columns travel
    * DICTIONARY-ENCODED (schema declares the encoding, a DictionaryBatch
    * per string column precedes the record batch) — the same producer shape
    * [[graft.remote.flight.FlightClient]] ships on the Flight wire, here
    * over the plain Arrow-IPC/TCP framing, pinning the shared decode sites
    * ([[RemoteProtocol.logicalField]]/[[RemoteProtocol.batchCellReaders]])
    * on this wire too. */
  def call(fname: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
           argMeta: Seq[SMetadata] = Nil, dictEncodeStrings: Boolean = false): Seq[Any] =
    exchange(s"CALL $fname\n", argTypes, rows, argMeta, dictEncodeStrings).map(_.head)

  /** Dynamic registration: ship SOURCE CODE to the guest runtime — the
    * reference's core `Runtime::add_function(name, return_type, mode, code)`
    * surface (`python/mod.rs` add_function_with_handler). `code` is a guest
    * module defining `handler` (defaults to the signature's function name);
    * for `aggregate = true` the handler is a class with the five-phase
    * methods (DEFINEAGG). */
  def define(sig: String, code: String, handler: String = "",
             aggregate: Boolean = false): Unit = {
    val verb = if (aggregate) "DEFINEAGG" else "DEFINE"
    out.write(s"$verb\n".getBytes(StandardCharsets.UTF_8))
    writeBlob(out, sig.getBytes(StandardCharsets.UTF_8))
    writeBlob(out, code.getBytes(StandardCharsets.UTF_8))
    writeBlob(out, handler.getBytes(StandardCharsets.UTF_8))
    out.flush()
    expectOk()
  }

  /** Fallible scalar call: (value, error) per row — a failing row carries a
    * NULL value and the exception message instead of aborting the exchange
    * (the wire analogue of the in-process error column, reference
    * `python/mod.rs:382-390`). */
  def callWithErrors(fname: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
                     argMeta: Seq[SMetadata] = Nil): Seq[(Any, String)] =
    exchange(s"CALLERR $fname\n", argTypes, rows, argMeta)
      .map(r => (r(0), r(1).asInstanceOf[String]))

  /** Call a remote table function: returns (input-row index, value) pairs. */
  def callTable(fname: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
                argMeta: Seq[SMetadata] = Nil): Seq[(Int, Any)] =
    exchange(s"CALLTABLE $fname\n", argTypes, rows, argMeta)
      .map(r => (r(0).asInstanceOf[Int], r(1)))

  // ---- aggregate lifecycle (reference create_state/accumulate/retract/
  // merge/finish over the wire, `python/mod.rs:229-309,456-656`) -------------

  /** `create_state`: a fresh opaque state blob from the guest. */
  def accCreate(fname: String): Array[Byte] = {
    out.write(s"ACCCREATE $fname\n".getBytes(StandardCharsets.UTF_8))
    out.flush()
    expectOk()
    readBlob(in)
  }

  /** `accumulate` (or `retract`): fold `rows` into `state` guest-side. */
  def accumulate(fname: String, state: Array[Byte], argTypes: Seq[DataType],
                 rows: Seq[Seq[Any]], retract: Boolean = false,
                 argMeta: Seq[SMetadata] = Nil): Array[Byte] = {
    val verb = if (retract) "ACCRETRACT" else "ACC"
    out.write(s"$verb $fname\n".getBytes(StandardCharsets.UTF_8))
    writeBlob(out, state)
    writeStream(argSchema(argTypes, argMeta), rows)
    out.flush()
    expectOk()
    readBlob(in)
  }

  /** `merge`: combine two partial states guest-side. */
  def accMerge(fname: String, a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    out.write(s"ACCMERGE $fname\n".getBytes(StandardCharsets.UTF_8))
    writeBlob(out, a)
    writeBlob(out, b)
    out.flush()
    expectOk()
    readBlob(in)
  }

  /** `finish`: final typed value out of a state blob. */
  def accFinish(fname: String, state: Array[Byte]): Any = {
    out.write(s"ACCFINISH $fname\n".getBytes(StandardCharsets.UTF_8))
    writeBlob(out, state)
    out.flush()
    expectOk()
    readResponse { reader =>
      val rroot = reader.getVectorSchemaRoot
      var result: Any = null
      while (reader.loadNextBatch()) {
        if (rroot.getRowCount > 0) result = getCell(rroot.getVector(0), 0)
      }
      result
    }
  }

  /** The next line; a hang-up is an `EOFException`, never an answer. */
  private def nextLine(): String = {
    val l = readLine(in)
    if (l == null) throw new java.io.EOFException("connection closed by server")
    l
  }

  private def expectOk(): Unit = {
    val status = nextLine()
    if (!status.startsWith("OK"))
      throw new RuntimeException(s"remote call failed: $status")
  }

  private[remote] def exchange(cmd: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
                               argMeta: Seq[SMetadata],
                               dictEncodeStrings: Boolean = false): Seq[Seq[Any]] = {
    out.write(cmd.getBytes(StandardCharsets.UTF_8))
    if (dictEncodeStrings) writeDictEncoded(argSchema(argTypes, argMeta), rows)
    else writeStream(argSchema(argTypes, argMeta), rows)
    out.flush()
    expectOk()
    readResponse { reader =>
      val rroot = reader.getVectorSchemaRoot
      val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (reader.loadNextBatch()) {
        val (readers, doneBatch) = batchCellReaders(rroot, reader)
        (0 until rroot.getRowCount).foreach { i =>
          results += scala.collection.immutable.ArraySeq.unsafeWrapArray(readers.map(_(i)))
        }
        doneBatch()
      }
      results.toSeq
    }
  }

  /** Read one response IPC stream with `f`. A complete stream ends with its
    * EOS marker while the connection stays open, so reaching end of input
    * means the server hung up mid-response: an `EOFException`, never a
    * short result (the reader alone treats end of input as end of stream). */
  private def readResponse[T](f: ArrowStreamReader => T): T = {
    var eof = false
    val watched = new java.io.FilterInputStream(in) {
      override def read(): Int = { val b = super.read(); if (b < 0) eof = true; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(b, off, len)
        if (n < 0) eof = true
        n
      }
    }
    val reader = new ArrowStreamReader(watched, allocator)
    val res = try f(reader) finally reader.close(false)
    if (eof) throw new java.io.EOFException("connection closed mid-response")
    res
  }

  /** Write `rows` as one Arrow IPC stream of [[RemoteProtocol.BatchSize]]
    * batches. The root is closed even when a write fails: buffers must not
    * outlive a failed exchange. */
  private def writeStream(schema: ASchema, rows: Seq[Seq[Any]]): Unit = {
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      val writer = new ArrowStreamWriter(root, null, out)
      writer.start()
      rows.grouped(BatchSize).foreach { chunk => fillRoot(root, chunk); writer.writeBatch() }
      writer.end()
    } finally root.close()
  }

  /** Write `rows` as ONE batch with string columns dictionary-encoded: the
    * stock writer ships schema + DictionaryBatches + index batch. */
  private def writeDictEncoded(schema: ASchema, rows: Seq[Seq[Any]]): Unit = {
    require(rows.size <= BatchSize,
      s"dictionary-encoded exchanges are single-batch (${rows.size} > $BatchSize rows)")
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      fillRoot(root, rows)
      val (encRoot, provider, release) = dictionaryEncodeStrings(root, allocator)
      try {
        // close(), not just end(): the writer retains internal dictionary
        // copies only close() releases — but close() also closes its
        // channel, so shield the connection's stream behind a non-closing
        // wrapper
        val shield = new java.io.FilterOutputStream(out) {
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            out.write(b, off, len)
          override def close(): Unit = out.flush()
        }
        val writer = new ArrowStreamWriter(encRoot, provider, shield)
        try { writer.start(); writer.writeBatch(); writer.end() }
        finally writer.close()
      } finally release()
    } finally root.close()
  }

  override def close(): Unit = {
    allocator.close()
    sock.close()
  }
}

/** Lazily-started in-process server fixture for queries that exercise the
  * remote path on a single node (local-mode executors reach it on loopback;
  * a real deployment points [[RemoteUdf]] at an external UDF service). */
object RemoteFixture {
  lazy val shared: UdfServer = new UdfServer()
  def port: Int = shared.boundPort
}

/** The raw Arrow-IPC wire for [[RemoteOp]] and [[RemoteAggExpr]]: one
  * [[UdfClient]] per session. With `dictEncodeStrings`, string argument
  * columns travel dictionary-encoded (see [[UdfClient.call]]). */
private[remote] final case class IpcWire(fname: String, shape: CallShape,
    dictEncodeStrings: Boolean = false) extends RemoteWire {
  def open(host: String, port: Int, argTypes: Seq[DataType]): RemoteSession =
    new RemoteSession {
      private val client = new UdfClient(host, port)
      private val cmd = s"${shape.verb} $fname\n"
      def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
        client.exchange(cmd, argTypes, rows, Nil, dictEncodeStrings)
      override def accCreate(): Array[Byte] = client.accCreate(fname)
      override def accumulate(state: Array[Byte], rows: Seq[Seq[Any]]): Array[Byte] =
        client.accumulate(fname, state, argTypes, rows)
      override def accMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
        client.accMerge(fname, a, b)
      override def accFinish(state: Array[Byte]): Any = client.accFinish(fname, state)
      def close(dead: Boolean): Unit = client.close()
    }
}

/** Spark-side integration over the raw Arrow-IPC wire: each entry point is
  * [[RemoteOp]] with an [[IpcWire]]. `endpoints` may list several
  * equivalent servers (e.g. a pool of CPython workers). */
object RemoteUdf {
  /** Append `value` computed remotely from `argCols`. */
  def withRemoteColumn(df: org.apache.spark.sql.DataFrame, endpoints: Seq[(String, Int)],
                       fname: String, argCols: Seq[String],
                       retType: DataType): org.apache.spark.sql.DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(IpcWire(fname, CallShape.Scalar))

  /** [[withRemoteColumn]] with STRING argument columns dictionary-encoded on
    * the wire (schema-declared encoding + DictionaryBatch per exchange) —
    * the plain-wire twin of
    * [[graft.remote.flight.FlightUdf.withFlightColumnDict]]; results are
    * identical to the plain path, the wire just carries indices + a
    * dictionary the server decodes through the shared
    * [[RemoteProtocol.batchCellReaders]] sites. */
  def withRemoteColumnDict(df: org.apache.spark.sql.DataFrame, endpoints: Seq[(String, Int)],
                           fname: String, argCols: Seq[String],
                           retType: DataType): org.apache.spark.sql.DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(
      IpcWire(fname, CallShape.Scalar, dictEncodeStrings = true))

  /** Define a guest function from source on EVERY endpoint of a worker pool
    * (each process owns its own registry, so registration must fan out) —
    * driver-side, once, before the mapPartitions exchange runs. */
  def defineRemote(endpoints: Seq[(String, Int)], sig: String, code: String,
                   handler: String = "", aggregate: Boolean = false): Unit =
    endpoints.foreach { case (h, p) =>
      val c = new UdfClient(h, p)
      try c.define(sig, code, handler, aggregate) finally c.close()
    }

  /** Append `value` AND `error` columns computed remotely — the fallible
    * call: a row whose guest evaluation throws carries (NULL, message)
    * instead of failing the partition, mirroring the in-process
    * `FallibleScalarInvoke` error-column surface over the wire. */
  def withRemoteFallibleColumn(df: org.apache.spark.sql.DataFrame,
                               endpoints: Seq[(String, Int)], fname: String,
                               argCols: Seq[String],
                               retType: DataType): org.apache.spark.sql.DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(IpcWire(fname, CallShape.Fallible))

  /** Explode each input row into the remote table function's output rows —
    * result columns are the input columns plus `value` (generator semantics
    * over the wire, reference `call_table_function`). */
  def withRemoteTableColumn(df: org.apache.spark.sql.DataFrame, endpoints: Seq[(String, Int)],
                            fname: String, argCols: Seq[String],
                            retType: DataType): org.apache.spark.sql.DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(IpcWire(fname, CallShape.Table))
}
