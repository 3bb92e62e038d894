package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/**
 * Columnar (batch-at-a-time) kernel tier — the engine's Arrow-native path:
 * a physical operator with `supportsColumnar = true` that appends a computed
 * column by reading the scan's `ColumnarBatch` vectors DIRECTLY (the
 * vectorized parquet reader's output), with zero row materialization between
 * the scan and the kernel. The analogue of the reference's column-level
 * `eval(&RecordBatch) -> RecordBatch` surface (`codegen_utils.rs:314-678`)
 * expressed as a Spark physical operator instead of a framework call.
 *
 * Spark's `ApplyColumnarRulesAndInsertTransitions` handles placement: above a
 * columnar scan the kernel consumes batches as-is; a row-producing child gets
 * a `RowToColumnar` transition inserted automatically, and a row-consuming
 * parent gets `ColumnarToRow` above the kernel — so the operator composes
 * with any plan while keeping the scan → kernel hot path row-free.
 *
 * == Scale design ==
 * Pure map-side: no shuffle, no state; partition parallelism and batch size
 * come from the scan (`spark.sql.parquet.columnarReaderBatchSize`). The
 * kernel loop is a tight per-vector pass — the same cost model as the
 * reference's `arrow_arith` kernels.
 */
object ColumnarMap {

  /** A column-level kernel: read `rows` values from `in` vectors, write the
    * result column into `out` (nulls included). Must be pure. */
  trait BatchKernel extends Serializable {
    def apply(in: Seq[ColumnVector], rows: Int, out: OnHeapColumnVector): Unit
  }

  /** Append `outName` computed by `kernel` over `inCols`, as a first-class
    * columnar operator. */
  def withBatchColumn(df: DataFrame, outName: String, inCols: Seq[String],
                      dt: DataType, kernel: BatchKernel): DataFrame = {
    val spark = df.sparkSession
    Shim.installStrategy(spark, ColumnarMapStrategy)
    val child = Shim.logicalPlan(df)
    val attr = AttributeReference(outName, dt, nullable = true)()
    Shim.ofRows(spark, ColumnarMapNode(attr, inCols, kernel, child))
  }

  /** Generic lowering kernel for boxed [[graft.functions.ScalarImpl]]
    * functions: reads argument values straight off the scan's
    * `ColumnVector`s (no `ColumnarToRow`, no `InternalRow` materialization,
    * no per-row `UnsafeProjection`), calls the closure, writes the result
    * vector. This is what makes EVERY registered boxed function — including
    * wasm guest kernels — a batch-at-a-time operator over parquet scan
    * batches, the reference's `eval(&RecordBatch)` contract
    * (`codegen_utils.rs:314-678`) for functions without a native kernel.
    * Null semantics: ReturnNullOnNullInput short-circuits before the call;
    * CalledOnNullInput passes nulls through (`codegen_utils.rs:415-444`). */
  final case class RowClosureKernel(
      f: Seq[Any] => Any,
      callOnNull: Boolean,
      argTypes: Seq[DataType],
      retType: DataType) extends BatchKernel {
    import org.apache.spark.sql.types._

    override def apply(in: Seq[ColumnVector], rows: Int, out: OnHeapColumnVector): Unit = {
      val nArgs = in.length
      val args = new Array[Any](nArgs)
      var i = 0
      while (i < rows) {
        var anyNull = false
        var j = 0
        while (j < nArgs) {
          args(j) = if (in(j).isNullAt(i)) { anyNull = true; null }
                    else read(in(j), i, argTypes(j))
          j += 1
        }
        if (anyNull && !callOnNull) out.putNull(i)
        else write(out, i, f(scala.collection.immutable.ArraySeq.unsafeWrapArray(args.clone())))
        i += 1
      }
    }

    private def read(v: ColumnVector, i: Int, dt: DataType): Any = dt match {
      case IntegerType => v.getInt(i)
      case LongType => v.getLong(i)
      case DoubleType => v.getDouble(i)
      case FloatType => v.getFloat(i)
      case BooleanType => v.getBoolean(i)
      case ShortType => v.getShort(i)
      case ByteType => v.getByte(i)
      case StringType => v.getUTF8String(i).toString
      case BinaryType => v.getBinary(i)
      case _ => throw new IllegalStateException(s"unsupported lowered arg type $dt")
    }

    private def write(out: OnHeapColumnVector, i: Int, r: Any): Unit =
      if (r == null) out.putNull(i)
      else retType match {
        case IntegerType => out.putInt(i, r.asInstanceOf[Number].intValue)
        case LongType => out.putLong(i, r.asInstanceOf[Number].longValue)
        case DoubleType => out.putDouble(i, r.asInstanceOf[Number].doubleValue)
        case FloatType => out.putFloat(i, r.asInstanceOf[Number].floatValue)
        case BooleanType => out.putBoolean(i, r.asInstanceOf[Boolean])
        case ShortType => out.putShort(i, r.asInstanceOf[Number].shortValue)
        case ByteType => out.putByte(i, r.asInstanceOf[Number].byteValue)
        case StringType =>
          val b = r match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.getBytes
            case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            case other => other.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          out.putByteArray(i, b, 0, b.length)
        case BinaryType =>
          val b = r.asInstanceOf[Array[Byte]]
          out.putByteArray(i, b, 0, b.length)
        case dt => throw new IllegalStateException(s"unsupported lowered return type $dt")
      }
  }

  /** Types [[RowClosureKernel]] can read/write vector-directly. */
  private[plans] val closureLowerable: Set[DataType] = {
    import org.apache.spark.sql.types._
    Set[DataType](IntegerType, LongType, DoubleType, FloatType, BooleanType,
      ShortType, ByteType, StringType, BinaryType)
  }

  /** Adapter that fills LITERAL argument positions with
    * `ConstantColumnVector`s so a kernel written over the full argument list
    * lowers even when some args are constants — `wasm_count_byte(text, 101)`
    * is one column plus one literal, and without this the whole call fell
    * back to the per-row path. `argSrc(k)` is `Left(i)` for the i-th
    * provided input vector or `Right((catalystValue, dt))` for a constant
    * (Catalyst internal repr: `UTF8String` for strings, boxed primitives
    * otherwise — exactly what `ConstantColumnVector`'s setters take). */
  final case class ConstArgsKernel(
      inner: BatchKernel,
      argSrc: Seq[Either[Int, (Any, DataType)]]) extends BatchKernel {
    import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
    import org.apache.spark.sql.types._

    override def apply(in: Seq[ColumnVector], rows: Int, out: OnHeapColumnVector): Unit = {
      val consts = scala.collection.mutable.ArrayBuffer.empty[ConstantColumnVector]
      try {
        val full = argSrc.map {
          case Left(i) => in(i)
          case Right((v, dt)) =>
            val c = new ConstantColumnVector(rows, dt)
            if (v == null) c.setNull()
            else dt match {
              case IntegerType => c.setInt(v.asInstanceOf[Int])
              case LongType    => c.setLong(v.asInstanceOf[Long])
              case DoubleType  => c.setDouble(v.asInstanceOf[Double])
              case FloatType   => c.setFloat(v.asInstanceOf[Float])
              case BooleanType => c.setBoolean(v.asInstanceOf[Boolean])
              case ShortType   => c.setShort(v.asInstanceOf[Short])
              case ByteType    => c.setByte(v.asInstanceOf[Byte])
              case StringType  =>
                c.setUtf8String(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
              case BinaryType  => c.setBinary(v.asInstanceOf[Array[Byte]])
              case other => throw new IllegalStateException(
                s"unsupported lowered literal type $other")
            }
            consts += c
            c
        }
        inner(full, rows, out)
      } finally consts.foreach(_.close())
    }
  }

  /** Function-name → hand-registered batch kernel. Consulted FIRST by the
    * auto-lowering rule: a tier that can amortize per-call setup across a
    * whole batch (e.g. wasm guests borrowing one instance per batch instead
    * of per row) registers here; everything else falls back to
    * [[RowClosureKernel]]'s per-row closure call. */
  val kernelOverrides =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[DataType], DataType) => Option[BatchKernel]]

  /** Columnar gcd over two INT columns — the flagship kernel on this tier. */
  object GcdKernel extends BatchKernel {
    override def apply(in: Seq[ColumnVector], rows: Int, out: OnHeapColumnVector): Unit = {
      val a = in(0); val b = in(1)
      var i = 0
      while (i < rows) {
        if (a.isNullAt(i) || b.isNullAt(i)) out.putNull(i)
        else out.putInt(i, graft.functions.Kernels.gcd(a.getInt(i), b.getInt(i)))
        i += 1
      }
    }
  }

  /** Cosine similarity of a `float[]` column against one fixed query vector,
    * read through `ColumnarArray` (the nested-column vectorized reader path)
    * — the batch-scoring shape of a brute-force ANN pass. Arithmetic order
    * matches [[graft.functions.Kernels.cosineSim]] exactly. */
  final case class CosineQueryKernel(q: Array[Double]) extends BatchKernel {
    override def apply(in: Seq[ColumnVector], rows: Int, out: OnHeapColumnVector): Unit = {
      val col = in(0)
      var i = 0
      while (i < rows) {
        if (col.isNullAt(i)) out.putNull(i)
        else {
          val arr = col.getArray(i)
          val n = math.min(arr.numElements(), q.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var j = 0
          while (j < n) {
            val x = arr.getFloat(j).toDouble; val y = q(j)
            dot += x * y; na += x * x; nb += y * y
            j += 1
          }
          out.putDouble(i, if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb)))
        }
        i += 1
      }
    }
  }

  /** Whitespace token count over a string column, read as UTF8String straight
    * from the scan vectors — the curation gate function on the columnar tier. */
  object TokenCountKernel extends BatchKernel {
    override def apply(in: Seq[ColumnVector], rows: Int, out: OnHeapColumnVector): Unit = {
      val col = in(0)
      var i = 0
      while (i < rows) {
        if (col.isNullAt(i)) out.putNull(i)
        else out.putInt(i, graft.functions.Kernels.tokenCount(col.getUTF8String(i)))
        i += 1
      }
    }
  }

  /** BIGINT variant — applies directly to parquet int64 scan columns with no
    * cast projection in between (keeps the scan → kernel path columnar). */
  object GcdLongKernel extends BatchKernel {
    override def apply(in: Seq[ColumnVector], rows: Int, out: OnHeapColumnVector): Unit = {
      val a = in(0); val b = in(1)
      var i = 0
      while (i < rows) {
        if (a.isNullAt(i) || b.isNullAt(i)) out.putNull(i)
        else out.putLong(i, graft.functions.Kernels.gcd(a.getLong(i), b.getLong(i)))
        i += 1
      }
    }
  }
}

/**
 * Auto-lowering rule (`SparkSessionExtensions.injectColumnar`): a plain SQL
 * `gcd(a, b)` in a projection directly above a columnar scan is rewritten to
 * run on [[ColumnarMapExec]] — the kernel consumes the scan's batches, and
 * the surviving row-side projection only selects attributes. Scope is
 * deliberately conservative: direct attribute arguments, unique column
 * names, child already columnar; anything else keeps the codegen'd
 * expression tier (which is already fast).
 */
case class GraftColumnarRule(session: SparkSession)
  extends org.apache.spark.sql.execution.ColumnarRule {
  import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
  import org.apache.spark.sql.execution.ProjectExec
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def preColumnarTransitions: org.apache.spark.sql.catalyst.rules.Rule[SparkPlan] =
    new org.apache.spark.sql.catalyst.rules.Rule[SparkPlan] {
      override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
        case p @ ProjectExec(list, child)
            if child.supportsColumnar &&
               child.output.map(_.name).distinct.size == child.output.size &&
               list.exists(lowerable(_, child).isDefined) =>
          // all lowered entries fuse into ONE multi-kernel pass per batch
          val fused = Seq.newBuilder[(AttributeReference, Seq[String], ColumnarMap.BatchKernel)]
          val replaced: Seq[NamedExpression] = list.map { ne =>
            lowerable(ne, child) match {
              case Some((name, exprId, dt, inCols, kernel)) =>
                // keep the alias's exprId so downstream references still bind
                val attr = AttributeReference(name, dt, nullable = true)(exprId = exprId)
                fused += ((attr, inCols, kernel))
                attr
              case None => ne
            }
          }
          ProjectExec(replaced, ColumnarMultiMapExec(fused.result(), child))
      }

      /** (name, exprId, type, input columns, kernel) when this projection
        * entry is a native expression with a columnar kernel over direct
        * attribute arguments. */
      private def lowerable(e: org.apache.spark.sql.catalyst.expressions.Expression,
                            child: SparkPlan)
          : Option[(String, org.apache.spark.sql.catalyst.expressions.ExprId,
                    org.apache.spark.sql.types.DataType, Seq[String],
                    ColumnarMap.BatchKernel)] = e match {
        case al @ Alias(g: graft.functions.GcdExpr, name)
            if (g.dataType == IntegerType || g.dataType == LongType) &&
               Seq(g.left, g.right).forall(a => a.isInstanceOf[Attribute] &&
                 child.outputSet.contains(a.asInstanceOf[Attribute])) =>
          val kernel = if (g.dataType == LongType) ColumnarMap.GcdLongKernel
                       else ColumnarMap.GcdKernel
          Some((name, al.exprId, g.dataType,
            Seq(g.left.asInstanceOf[Attribute].name, g.right.asInstanceOf[Attribute].name),
            kernel))
        case al @ Alias(t: graft.functions.TokenCountExpr, name)
            if t.child.isInstanceOf[Attribute] &&
               child.outputSet.contains(t.child.asInstanceOf[Attribute]) =>
          Some((name, al.exprId, IntegerType,
            Seq(t.child.asInstanceOf[Attribute].name), ColumnarMap.TokenCountKernel))
        // Generic tier: ANY registered boxed function (incl. wasm guests)
        // over direct attribute args of vector-readable types consumes the
        // scan's batches through RowClosureKernel — no ColumnarToRow, no
        // row materialization between scan and call. A tier that registered
        // a dedicated batch kernel (kernelOverrides) gets that instead.
        case al @ Alias(si: graft.functions.ScalarInvoke, name)
            if si.deterministic &&
               ColumnarMap.closureLowerable.contains(si.dataType) &&
               si.children.exists(_.isInstanceOf[Attribute]) &&
               si.children.forall {
                 case a: Attribute =>
                   child.outputSet.contains(a) &&
                     ColumnarMap.closureLowerable.contains(a.dataType)
                 case l: org.apache.spark.sql.catalyst.expressions.Literal =>
                   ColumnarMap.closureLowerable.contains(l.dataType)
                 case _ => false
               } =>
          val argTypes = si.children.map(_.dataType)
          val base = ColumnarMap.kernelOverrides.get(si.funcName)
            .flatMap(mk => mk(argTypes, si.dataType))
            .getOrElse(ColumnarMap.RowClosureKernel(si.function,
              si.callMode == graft.sig.CallMode.CalledOnNullInput,
              argTypes, si.dataType))
          // literal args lower through ConstantColumnVector injection; the
          // kernel sees the full argument list either way
          val attrs = si.children.collect { case a: Attribute => a }
          val kernel =
            if (attrs.length == si.children.length) base
            else {
              var nextIn = -1
              ColumnarMap.ConstArgsKernel(base, si.children.map {
                case _: Attribute => nextIn += 1; Left(nextIn)
                case l: org.apache.spark.sql.catalyst.expressions.Literal =>
                  Right((l.value, l.dataType))
              })
            }
          Some((name, al.exprId, si.dataType, attrs.map(_.name), kernel))
        case _ => None
      }
    }
}

case class ColumnarMapNode(outAttr: AttributeReference, inCols: Seq[String],
                           kernel: ColumnarMap.BatchKernel, child: LogicalPlan)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttr)
  // the operator passes through every child column (and the kernel reads by
  // name), so nothing below it may be pruned away
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object ColumnarMapStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ColumnarMapNode(outAttr, inCols, kernel, child) =>
      ColumnarMapExec(outAttr, inCols, kernel, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Fused form: N kernels evaluated in ONE pass over each scan batch — a
  * projection with several lowerable functions costs one operator, one
  * batch re-wrap, and shares the loaded input vectors (the multi-kernel
  * fusion the reference gets from chaining `eval(&RecordBatch)` calls
  * without leaving the batch). */
case class ColumnarMultiMapExec(
    outs: Seq[(AttributeReference, Seq[String], ColumnarMap.BatchKernel)],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ outs.map(_._1)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outs.map(_._1))
  override def supportsColumnar: Boolean = true

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val resolved = outs.map { case (attr, inCols, kernel) =>
      val idx = inCols.map(c => child.output.indexWhere(_.name == c))
      require(idx.forall(_ >= 0), s"columns $inCols not all present in ${child.output}")
      (attr.dataType, idx, kernel)
    }
    child.executeColumnar().map { batch =>
      val n = batch.numRows()
      val newCols = resolved.map { case (dt, idx, k) =>
        val out = new OnHeapColumnVector(n, dt)
        k(idx.map(batch.column), n, out)
        out
      }
      val cols = Array.tabulate[ColumnVector](batch.numCols() + newCols.length) { i =>
        if (i < batch.numCols()) batch.column(i) else newCols(i - batch.numCols())
      }
      new ColumnarBatch(cols, n)
    }
  }

  override protected def doExecute(): RDD[InternalRow] =
    throw new IllegalStateException(
      "ColumnarMultiMapExec is columnar-only; Spark inserts ColumnarToRow above it")

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

case class ColumnarMapExec(outAttr: AttributeReference, inCols: Seq[String],
                           kernel: ColumnarMap.BatchKernel, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttr)
  override def supportsColumnar: Boolean = true

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val idx = inCols.map(c => child.output.indexWhere(_.name == c))
    require(idx.forall(_ >= 0), s"columns $inCols not all present in ${child.output}")
    val dt = outAttr.dataType
    val k = kernel
    child.executeColumnar().map { batch =>
      val n = batch.numRows()
      val out = new OnHeapColumnVector(n, dt)
      k(idx.map(batch.column), n, out)
      val cols = Array.tabulate[ColumnVector](batch.numCols() + 1) { i =>
        if (i < batch.numCols()) batch.column(i) else out
      }
      new ColumnarBatch(cols, n)
    }
  }

  override protected def doExecute(): RDD[InternalRow] =
    throw new IllegalStateException(
      "ColumnarMapExec is columnar-only; Spark inserts ColumnarToRow above it")

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
