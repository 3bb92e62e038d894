package graft.remote.flight

import graft.remote.RemoteProtocol
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.VectorUnloader
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.{Schema => ASchema}
import org.apache.spark.sql.types.{DataType, Metadata => SMetadata}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels
import scala.jdk.CollectionConverters._

/** A remote UDF function discovered over Flight: the reference's
  * `Function { name, args, returns }` (`remote/mod.rs:160-195`), with Arrow
  * fields already mapped to Spark types via [[RemoteProtocol.fromArrowField]]. */
final case class FlightFunction(name: String,
                                args: Seq[(String, DataType, SMetadata)],
                                returns: Seq[(String, DataType, SMetadata)])

/**
 * Arrow Flight UDF client — the reference's `remote::Client`
 * (`arrow-udf-runtime/src/remote/mod.rs:36-156`) re-expressed on graft's
 * from-scratch gRPC transport ([[GrpcConn]]): wire-compatible with any stock
 * Flight UDF server (the reference's Java `UdfServer`, its Python
 * `arrow_udf.UdfServer`, or anything else speaking the protocol). The
 * interop gates drive this client against a REAL `pyarrow.flight` server
 * (grpc-core) in `tools/flightudf_server.py`.
 *
 * Verbs (reference lines cited):
 *  - `protocolVersion` — `DoAction("protocol_version")`, one `Result` byte;
 *    an error means a v1 server (`remote/mod.rs:53-65`).
 *  - `get` — `GetFlightInfo(FlightDescriptor::path([name]))`; the returned
 *    schema is input-fields ++ return-fields with `total_records` carrying
 *    the input arity (`remote/mod.rs:79-86,170-195`).
 *  - `list` — `ListFlights(Criteria::default())` (`remote/mod.rs:86-99`).
 *  - `call`/`callTable` — one `DoExchange` per bounded row chunk: a schema
 *    `FlightData` carrying the descriptor, then one `FlightData` per record
 *    batch; results stream back one batch per input batch
 *    (`remote/mod.rs:134-156`).
 *
 * IPC framing: each `FlightData` is one encapsulated Arrow IPC message with
 * the 8-byte prefix stripped (`data_header` = flatbuffer Message,
 * `data_body` = body buffers) — the public Flight↔IPC mapping. Outbound
 * messages are produced by `MessageSerializer` and split; inbound messages
 * are re-encapsulated and fed to a stock `ArrowStreamReader`, so all vector
 * decoding rides the same battle-tested path as [[graft.remote.UdfClient]].
 *
 * Like [[graft.remote.UdfClient]], exchanges are half-duplex and bounded
 * (≤ [[RemoteProtocol.BatchSize]] rows per call from the Spark integration),
 * so flow-control windows never deadlock: the transport services
 * WINDOW_UPDATE/PING frames at every blocking point and both request and
 * response fit the announced windows.
 */
/** @param recvWindow our announced h2 receive window (per stream + the
  *   connection top-up). The 8 MiB default never back-pressures a bounded
  *   exchange; shrink it to cap per-connection buffering (the peer then
  *   waits on our credit, which the read loop returns as it consumes).
  *
  * One connection: once it fails, every later RPC on this client fails too.
  * [[graft.remote.FailoverSession]] is the one retry site; it drops the
  * client's lease and replays on a fresh one. */
final class FlightClient(host: String, port: Int, timeoutMs: Int = 120000,
                         tls: Option[javax.net.ssl.SSLContext] = None,
                         authToken: Option[String] = None,
                         recvWindow: Int = 1 << 23)
    extends AutoCloseable {
  import RemoteProtocol.{argSchema, batchCellReaders, dictionaryEncodeStrings, fillRoot, fromArrowField}

  private val Service = "/arrow.flight.protocol.FlightService"
  // THREAD-SAFE: concurrent calls multiplex as h2 streams on the shared
  // connection ([[GrpcConn]] is concurrent), so one client can serve many
  // partition tasks ([[FlightClientCache]]); the allocator is Arrow's
  // thread-safe RootAllocator.
  private val grpc = new GrpcConn(host, port, timeoutMs, tls,
    // caller identity rides gRPC call metadata — the standard bearer-token
    // convention (graft's AUTH wire verb, expressed the Flight way)
    authToken.map(t => "authorization" -> s"Bearer $t").toSeq,
    recvWindow)
  private val allocator = new RootAllocator()

  /** Server protocol version; any failure (e.g. UNIMPLEMENTED DoAction) means
    * a version-1 server, exactly like the reference (`remote/mod.rs:53-65`). */
  def protocolVersion(): Int =
    try {
      val rs = grpc.call(s"$Service/DoAction",
        Iterator(Pb.action("protocol_version", Pb.Empty)))
      val results = try rs.toSeq finally rs.close()
      results.headOption.map(Pb.parseResultBody).filter(_.nonEmpty)
        .map(_.head.toInt).getOrElse(1)
    } catch { case _: GrpcStatusException => 1 }

  /** Discovery: one function's signature (`Client::get`). */
  def get(name: String): FlightFunction = {
    val rs = grpc.call(s"$Service/GetFlightInfo", Iterator(Pb.descriptorPath(name)))
    val infos = try rs.toSeq finally rs.close()
    parseFunction(Pb.parseFlightInfo(infos.head))
  }

  /** Discovery: every function on the server (`Client::list`). */
  def list(): Seq[FlightFunction] = {
    val rs = grpc.call(s"$Service/ListFlights", Iterator(Pb.criteria(Pb.Empty)))
    try rs.map(b => parseFunction(Pb.parseFlightInfo(b))).toSeq
    finally rs.close()
  }

  private def parseFunction(info: Pb.FlightInfoMsg): FlightFunction = {
    val schema = MessageSerializer.deserializeSchema(
      new ReadChannel(Channels.newChannel(new ByteArrayInputStream(info.schemaIpc))))
    val fields = schema.getFields.asScala.toSeq.map { f =>
      val (dt, md) = fromArrowField(f)
      (f.getName, dt, md)
    }
    require(info.totalRecords <= fields.length,
      s"invalid input arity ${info.totalRecords} for ${fields.length} fields")
    val (in, out) = fields.splitAt(info.totalRecords.toInt)
    FlightFunction(info.path.headOption.getOrElse(""), in, out)
  }

  /** Scalar call: one result value per input row (`Client::call`). */
  def call(fname: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
           argMeta: Seq[SMetadata] = Nil, dictEncodeStrings: Boolean = false): Seq[Any] =
    exchange(fname, argTypes, rows, argMeta, dictEncodeStrings).map(_.head)

  /** Table-function call: (input-row index, value) pairs
    * (`Client::call_table_function`; the index column is the protocol's
    * row-correlation convention, reference python server `TableFunction`).
    * One bounded batch per DoExchange: stock Flight UDF servers emit row
    * indices RELATIVE TO EACH INPUT BATCH, so a multi-batch exchange would
    * collide indices across batches — per-chunk exchanges with a running
    * base keep the correlation unambiguous against every server. */
  def callTable(fname: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
                argMeta: Seq[SMetadata] = Nil): Seq[(Int, Any)] = {
    val out = Seq.newBuilder[(Int, Any)]
    var base = 0
    rows.grouped(RemoteProtocol.BatchSize).foreach { chunk =>
      exchange(fname, argTypes, chunk, argMeta).foreach { r =>
        out += ((base + r(0).asInstanceOf[Int], r(1)))
      }
      base += chunk.size
    }
    out.result()
  }

  /** Fallible scalar call against a graft [[FlightServer]]: (value, error)
    * per row — the error-column surface (`CALLERR`) over the Flight wire.
    * (The reference Flight protocol has no error column; its servers fail
    * the whole exchange on a guest error. graft's server advertises the
    * two-column result schema in FlightInfo, so any Flight client can
    * consume it — this helper just types the pair.) */
  def callWithErrors(fname: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
                     argMeta: Seq[SMetadata] = Nil): Seq[(Any, String)] =
    exchange(fname, argTypes, rows, argMeta).map { r =>
      require(r.length >= 2,
        s"$fname returned ${r.length} column(s), not (value, error) — the " +
          "function is not fallible or the server serves no error column")
      (r(0), r(1).asInstanceOf[String])
    }

  /** One DoExchange: write the argument rows as schema + record-batch
    * `FlightData` messages, read back every result row. With
    * `dictEncodeStrings`, string argument columns travel DICTIONARY-ENCODED
    * (schema declares the encoding; a DictionaryBatch per string column
    * precedes the record batch) — the inline-dictionary shape a
    * dictionary-preserving producer emits, exercising the server's
    * DictionaryBatch pass-through end to end. */
  def exchange(fname: String, argTypes: Seq[DataType], rows: Seq[Seq[Any]],
               argMeta: Seq[SMetadata] = Nil,
               dictEncodeStrings: Boolean = false): Seq[Seq[Any]] = {
    val schema = argSchema(argTypes, argMeta)
    val descriptor = Pb.descriptorPath(fname)

    // request messages: schema FlightData (carries the descriptor), then one
    // FlightData per bounded batch
    val requestMsgs: Iterator[Array[Byte]] =
      if (dictEncodeStrings) dictEncodedRequest(descriptor, schema, rows).iterator
      else {
        val (schemaHeader, _) = encapsulated(ch => { MessageSerializer.serialize(ch, schema); () })
        val schemaMsg = Pb.flightData(Some(descriptor), schemaHeader, Pb.Empty)
        val batchMsgs = rows.grouped(RemoteProtocol.BatchSize).map { chunk =>
          val root = VectorSchemaRoot.create(schema, allocator)
          try {
            fillRoot(root, chunk)
            val batch = new VectorUnloader(root).getRecordBatch
            try {
              val (header, body) = encapsulated(ch => { MessageSerializer.serialize(ch, batch); () })
              Pb.flightData(None, header, body)
            } finally batch.close()
          } finally root.close()
        }
        Iterator(schemaMsg) ++ batchMsgs
      }

    val responses = grpc.call(s"$Service/DoExchange", requestMsgs)

    // reassemble the response FlightData messages into one Arrow IPC stream
    // (close() releases the h2 stream if a parse throws mid-drain — a no-op
    // after normal exhaustion)
    val ipc = new ByteArrayOutputStream()
    var sawAny = false
    try responses.foreach { msg =>
      val fd = Pb.parseFlightData(msg)
      if (fd.dataHeader.nonEmpty) {
        sawAny = true
        IpcFraming.write(ipc, fd.dataHeader, fd.dataBody)
      }
    } finally responses.close()
    if (!sawAny) Seq.empty // zero-row exchange: no schema message came back
    else {
      ipc.write(IpcFraming.Eos)
      val reader = new ArrowStreamReader(new ByteArrayInputStream(ipc.toByteArray), allocator)
      try {
        val rroot = reader.getVectorSchemaRoot
        val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        while (reader.loadNextBatch()) {
          // dictionary-encoded result columns (e.g. a pyarrow server
          // returning dictionary arrays) decode to value vectors here
          val (readers, doneBatch) = batchCellReaders(rroot, reader)
          (0 until rroot.getRowCount).foreach { i =>
            results += scala.collection.immutable.ArraySeq.unsafeWrapArray(readers.map(_(i)))
          }
          doneBatch()
        }
        results.toSeq
      } finally reader.close()
    }
  }

  // ---- long-lived DoExchange (reference multi-batch streaming mode) ---------

  /**
   * One LONG-LIVED DoExchange carrying many batches — the reference server's
   * native shape (`UdfProducer.java:104-139` loops the inbound stream; the
   * Python fixture's `for chunk in reader`). Each [[ExchangeStream.call]]
   * ping-pongs ONE bounded batch: write it, then read exactly its result
   * rows before the next write — so the half-duplex flow-control invariant
   * still holds (at most one batch in flight per direction) while the
   * per-exchange setup (HEADERS, descriptor, schema, trailers) amortizes
   * over the whole partition instead of every chunk.
   *
   * Requires a server that evaluates batches INCREMENTALLY as they arrive —
   * the reference Java/Python servers do, and so does graft's own
   * [[FlightServer]] (per-batch evaluation), so graft→graft runs this mode
   * too. A server that buffered the whole request before responding would
   * deadlock the ping-pong — the read deadline (`timeoutMs`) bounds that
   * failure.
   */
  final class ExchangeStream private[FlightClient] (fname: String,
      argTypes: Seq[DataType], argMeta: Seq[SMetadata]) extends AutoCloseable {
    private val schema = argSchema(argTypes, argMeta)
    // a failure here (say, a cached client whose server has restarted)
    // reaches the wire's open, which marks the lease dead; the session
    // fails over to a fresh client
    private val rpc = grpc.bidi(s"$Service/DoExchange")
    locally {
      val (schemaHeader, _) = encapsulated(ch => { MessageSerializer.serialize(ch, schema); () })
      rpc.send(Pb.flightData(Some(Pb.descriptorPath(fname)), schemaHeader, Pb.Empty))
    }
    // recv() verifies grpc-status when the server ends the stream
    private val reader = new ArrowStreamReader(new FlightDataStream(
      Iterator.continually(rpc.recv()).takeWhile(_.isDefined).flatten.map(Pb.parseFlightData)),
      allocator)

    /** Send one bounded batch of rows, read back exactly its result rows. */
    def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = {
      require(rows.nonEmpty, "streamed exchange batches must be non-empty")
      val root = VectorSchemaRoot.create(schema, allocator)
      try {
        fillRoot(root, rows)
        val batch = new VectorUnloader(root).getRecordBatch
        try {
          val (header, body) = encapsulated(ch => { MessageSerializer.serialize(ch, batch); () })
          rpc.send(Pb.flightData(None, header, body))
        } finally batch.close()
      } finally root.close()
      // one result batch per input batch (reference contract); tolerate a
      // server that splits it, by reading until the row count is covered
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      val rroot = reader.getVectorSchemaRoot
      while (out.size < rows.size && reader.loadNextBatch()) {
        val (readers, doneBatch) = batchCellReaders(rroot, reader)
        (0 until rroot.getRowCount).foreach { i =>
          out += scala.collection.immutable.ArraySeq.unsafeWrapArray(readers.map(_(i)))
        }
        doneBatch()
      }
      require(out.size == rows.size,
        s"$fname streamed exchange returned ${out.size} rows for ${rows.size} inputs")
      out.toSeq
    }

    /** Half-close, drain the end-of-stream (verifying grpc-status), release.
      * The reader and the h2 stream are released even when the half-close or
      * drain throws (dead connection, decode failure, non-OK status) — an
      * abandoned stream would otherwise leak its result buffers into the
      * client's allocator and its stream on the long-lived shared
      * connection. */
    override def close(): Unit =
      try {
        try { rpc.finishSending(); while (reader.loadNextBatch()) {} }
        finally reader.close()
      } finally rpc.close()
  }

  /** Open a long-lived multi-batch DoExchange (see [[ExchangeStream]]). */
  def openExchange(fname: String, argTypes: Seq[DataType],
                   argMeta: Seq[SMetadata] = Nil): ExchangeStream =
    new ExchangeStream(fname, argTypes, argMeta)

  /** Request messages for ONE record batch with every string argument column
    * dictionary-encoded on the wire: schema (declaring the encodings, with
    * the descriptor) + one DictionaryBatch per string column + the
    * index-typed RecordBatch — produced by a stock `ArrowStreamWriter` with
    * a `DictionaryProvider`, then re-split into FlightData framing. All
    * `rows` ride one batch (callers chunk at [[RemoteProtocol.BatchSize]]). */
  private def dictEncodedRequest(descriptor: Array[Byte], schema: ASchema,
      rows: Seq[Seq[Any]]): Seq[Array[Byte]] = {
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      fillRoot(root, rows)
      // shared encoder with the plain wire ([[RemoteProtocol]]): distinct
      // non-null values in first-seen order, int32 indices
      val (encRoot, provider, release) = dictionaryEncodeStrings(root, allocator)
      try {
        val bos = new ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(encRoot, provider, bos)
        // close(), not just end(): the stream writer retains an internal
        // COPY of each dictionary vector (its replacement/delta tracking)
        // that only close() releases
        try { w.start(); w.writeBatch(); w.end() } finally w.close()
        val msgIn = new java.io.DataInputStream(new ByteArrayInputStream(bos.toByteArray))
        val msgs = Iterator.continually(IpcFraming.readMessage(msgIn))
          .takeWhile(_.isDefined).map(_.get).toSeq
        msgs.zipWithIndex.map { case ((h, b), i) =>
          Pb.flightData(if (i == 0) Some(descriptor) else None, h, b)
        }
      } finally release()
    } finally root.close()
  }

  /** Run `f` into a buffer and split the encapsulated IPC framing into the
    * `FlightData` (metadata, body) field mapping. */
  private def encapsulated(f: WriteChannel => Unit): (Array[Byte], Array[Byte]) = {
    val bos = new ByteArrayOutputStream()
    f(new WriteChannel(Channels.newChannel(bos)))
    IpcFraming.split(bos.toByteArray)
  }

  override def close(): Unit = {
    try grpc.close() finally allocator.close()
  }
}
