package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Exact GLOBAL order statistics without the single-partition funnel.
 *
 * The naive `row_number() OVER (ORDER BY …)` / running `sum() OVER
 * (ORDER BY …)` with no PARTITION BY collapses the whole table into ONE
 * window partition — the classic scale-killer for global ranking. The
 * standard distributed formulation used here: range-repartition on the
 * order key, pin the sorted layout with a checkpoint, compute per-partition
 * (count, sum) — a #partitions-sized driver collect — then attach ranks and
 * running sums with a stateful codegen expression seeded from the prefix
 * offsets ([[graft.functions.PartitionRunningSum]]): a bare codegen Project
 * directly over the checkpoint scan, zero post-checkpoint exchanges. The
 * order must end in a unique tiebreak so the total order (and therefore
 * every rank) is well-defined regardless of partitioning.
 */
object Rank {

  /** Add exact global `rank` (1-indexed position in `orderCols` order) and
    * `cum` (running sum of `valCol`, current row inclusive) to `df`.
    *
    * `orderCols` MUST be a total order (end in a unique tiebreak).
    * Scale: one range shuffle + per-partition windows; the only driver
    * materialization is one (count, sum) row per partition. The ranged
    * data is localCheckpoint-pinned so the offset pass and the output ride
    * the same partitioning (swap for a reliable checkpoint dir multi-node). */
  def globalPrefix(df: DataFrame, orderCols: Seq[Column], valCol: String,
                   rankName: String = "rank", cumName: String = "cum"): DataFrame = {
    require(orderCols.nonEmpty, "globalPrefix needs order columns")
    require(!df.columns.contains(rankName) && !df.columns.contains(cumName),
      s"globalPrefix: output names $rankName/$cumName collide with input")
    require(!df.columns.exists(_.startsWith("__")),
      "globalPrefix: __-prefixed input columns collide with intermediates")
    // the running sum rides long arithmetic; a fractional valCol would be
    // silently truncated by the cast below — reject it up front
    locally {
      val dt = df.schema(valCol).dataType.typeName
      require(Seq("byte", "short", "integer", "long").contains(dt),
        s"globalPrefix: valCol '$valCol' must be integral (got $dt) — " +
          "scale fractional values to integers (e.g. cents) upstream")
    }
    val v = col(valCol).cast("long")
    // ONE range shuffle and ONE in-partition sort, SHARED by the offset pass
    // and the output pass through the compiled RDD (r15): queryExecution's
    // RDD is one instance, so the offset job and the caller's output job
    // both hang off the same shuffle dependency — the range-exchange map
    // stage runs once and is SKIPPED on the second action, and both passes
    // see the identical partition assignment the old DISK_ONLY
    // localCheckpoint existed to pin. The checkpoint wrote (and re-read) an
    // uncompressed copy of the whole table, measured at ~85% of the
    // 100M-row probe; the shuffle files it duplicated were
    // already on disk, compressed. (A `Window.partitionBy(__pid)` here
    // would re-exchange and re-sort the WHOLE table; the prefix attachment
    // below is a codegen'd stateful expression instead — zero post-shuffle
    // exchanges, nothing written twice, no boxing.)
    import org.apache.spark.sql.graftshim.Shim
    import graft.functions.PartitionRunningSum
    // NO sortWithinPartitions here: the offsets pass is order-independent,
    // so the in-partition sort happens exactly once, on the output side
    val ranged = df.repartitionByRange(orderCols: _*)
      .withColumn("__v", coalesce(v, lit(0L)))
    val rdd = Shim.internalRdd(ranged)
    val vIdx = ranged.schema.fieldIndex("__v")
    // per-partition (count, sum of __v) straight off the shared shuffle —
    // field reads only (rows may be reused buffers; nothing is retained)
    val parts = rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L
      var s = 0L
      while (it.hasNext) { val r = it.next(); c += 1L; s += r.getLong(vIdx) }
      Iterator.single((pid, c, s))
    }.collect().sortBy(_._1)
    // exclusive prefix offsets per partition id, dense long[] (every
    // partition reports, including empty ones)
    val nParts = if (parts.isEmpty) 0 else parts.map(_._1).max + 1
    val coff = new Array[Long](nParts)
    val soff = new Array[Long](nParts)
    var (cAcc, sAcc) = (0L, 0L)
    parts.foreach { case (pid, c, s) =>
      coff(pid) = cAcc; soff(pid) = sAcc; cAcc += c; sAcc += s
    }
    // rank = running sum of 1, cum = running sum of __v — each a stateful
    // codegen'd expression seeded per partition (PartitionRunningSum, the
    // MonotonicallyIncreasingID pattern): the whole attachment stays inside
    // WholeStageCodegen directly over the shared-shuffle scan. The second
    // action re-runs only the reduce-side sort (map stage skipped); on a
    // multi-node cluster with unreliable executors, swap the shared RDD for
    // a reliable checkpoint dir as before.
    // The in-partition sort is compiled into its own RDD barrier: the
    // running sums are only meaningful over sorted partition iterators, and
    // a caller-side orderBy must never let EliminateSorts reason the local
    // sort away. Executing it shares the range shuffle (map stage skipped).
    val sorted = Shim.ofInternalRdd(df.sparkSession, ranged, rdd)
      .sortWithinPartitions(orderCols: _*)
    Shim.ofInternalRdd(df.sparkSession, sorted, Shim.internalRdd(sorted))
      .withColumn(rankName, Shim.column(
        PartitionRunningSum(Shim.expression(lit(1L)), coff)))
      .withColumn(cumName, Shim.column(
        PartitionRunningSum(Shim.expression(col("__v")), soff)))
      .drop("__v")
  }

  /** Contiguous 0-based global position in `orderCols` order, attached as
    * `posName` — the distributed zipWithIndex replacement built on the same
    * shared-shuffle machinery as [[globalPrefix]]: one range exchange feeds
    * both the per-partition counting pass (which reads the UNSORTED shuffle —
    * counts are order-independent) and the output pass, and the in-partition
    * sort runs exactly once, on the output side. Unlike
    * `toRdd.zipWithIndex`, nothing converts to external rows and nothing is
    * sorted twice. `orderCols` MUST end in a unique tiebreak. */
  def globalOrder(df: DataFrame, orderCols: Seq[Column], posName: String): DataFrame = {
    require(orderCols.nonEmpty, "globalOrder needs order columns")
    require(!df.columns.contains(posName),
      s"globalOrder: output name $posName collides with input")
    import org.apache.spark.sql.graftshim.Shim
    import graft.functions.PartitionRunningSum
    val ranged = df.repartitionByRange(orderCols: _*)
    val rdd = Shim.internalRdd(ranged)
    val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1L }
      Iterator.single((pid, c))
    }.collect().sortBy(_._1)
    val nParts = if (counts.isEmpty) 0 else counts.map(_._1).max + 1
    val coff = new Array[Long](nParts)
    var acc = 0L
    counts.foreach { case (pid, c) => coff(pid) = acc; acc += c }
    // sort pinned behind its own RDD barrier — see globalPrefix
    val sorted = Shim.ofInternalRdd(df.sparkSession, ranged, rdd)
      .sortWithinPartitions(orderCols: _*)
    Shim.ofInternalRdd(df.sparkSession, sorted, Shim.internalRdd(sorted))
      .withColumn(posName, Shim.column(
        PartitionRunningSum(Shim.expression(lit(1L)), coff)) - 1)
  }

  /** RFM quintile scoring per entity: given per-entity (recency metric
    * ASCENDING = better, frequency, monetary), attach exact quintile
    * scores 1–5 (5 = best) by global-rank position arithmetic:
    * `score = 5 − (5·(rank−1)) div n` with rank over (metric, tiebreak) —
    * deterministic, replayable, no single-partition window (three
    * [[globalPrefix]] passes over the entity-sized table). `idCol` is the
    * unique tiebreak. Output adds r_score/f_score/m_score. */
  def rfmScores(df: DataFrame, idCol: String, recencyCol: String,
                freqCol: String, monetaryCol: String): DataFrame = {
    def scored(in: DataFrame, metric: Column, name: String): DataFrame = {
      val ranked = globalPrefix(in, Seq(metric, col(idCol)), idCol,
        rankName = "__rnk", cumName = "__cum")
      ranked.crossJoin(broadcast(in.agg(count(lit(1)).as("__n"))))
        .withColumn(name,
          (lit(5L) - expr("(5 * (__rnk - 1)) div __n")).cast("int"))
        .drop("__rnk", "__cum", "__n")
    }
    // recency: SMALLER is better → rank ascending puts best first (rank 1
    // → score 5); frequency/monetary: LARGER is better → rank descending
    val r = scored(df, col(recencyCol).asc, "r_score")
    val f = scored(r, col(freqCol).desc, "f_score")
    scored(f, col(monetaryCol).desc, "m_score")
  }
}
