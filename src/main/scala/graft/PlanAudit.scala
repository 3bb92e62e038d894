package graft

/** Physical-plan audit: prints the shuffle/join/scan skeleton of named
  * SparkEntry queries (all of them with no args) — the "would this survive
  * 100×?" review loop. Usage:
  * `sbt "runMain graft.PlanAudit [sfDir] [query-substring...]"` */
object PlanAudit {

  /** Structural scale assert, shared by Bench probes and PlanShapeSpec: the
    * physical plan of `df` must contain NO single-partition exchange (the
    * global-funnel scale-killer) and NO cartesian product; `maxShuffles`
    * (when >= 0) bounds the number of shuffle exchanges (BroadcastExchange
    * is excluded — broadcasting a bounded side is the desired shape).
    *
    * Caveat: operators that cut lineage (localCheckpoint) hide their
    * upstream stages from this plan — assert those stages separately on the
    * pre-checkpoint DataFrame (PlanShapeSpec does). A global aggregate of a
    * FEW rows legitimately plans `Exchange SinglePartition` (one row per
    * partition rides it), so apply this to the operator's OUTPUT, not to
    * driver-side summary aggregates layered on top. */
  def assertScaleShape(df: org.apache.spark.sql.DataFrame, what: String,
                       maxShuffles: Int = -1): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange SinglePartition"),
      s"$what: plan funnels through a single-partition exchange\n$plan")
    require(!plan.contains("CartesianProduct"),
      s"$what: plan contains a cartesian product\n$plan")
    if (maxShuffles >= 0) {
      // ReusedExchange lines repeat the reused exchange's description — one
      // physical shuffle reused twice must count once, not twice
      val n = plan.linesIterator
        .count(l => l.contains("Exchange ") && !l.contains("BroadcastExchange")
          && !l.contains("ReusedExchange"))
      require(n <= maxShuffles,
        s"$what: $n shuffle exchanges, budget $maxShuffles\n$plan")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val filters = args.drop(1)
    val spark = Verify.session()
    val interesting = Seq("Exchange", "Join", "Scan", "TopK", "Broadcast",
      "Cartesian", "Sort", "Aggregate", "Window", "Asof", "Columnar")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filters.isEmpty || filters.exists(n.contains) }
      .foreach { case (name, fn) =>
        println(s"===== $name =====")
        try println(fn(spark, sfDir).queryExecution.executedPlan.toString
          .linesIterator
          .filter(l => interesting.exists(l.contains))
          .map(_.take(150)).mkString("\n"))
        catch { case e: Throwable => println(s"  (failed to plan: ${e.getMessage})") }
      }
    spark.stop()
  }
}
