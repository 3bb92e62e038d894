package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

/** The at-scale invariant battery: every SparkEntry query over
  * SPARK_GRAFT_SF_DIR (default sf0.1) and every `x_*` probe, each forced to
  * run in full through the noop sink (a bare count() would let Catalyst
  * prune away the UDF work being measured) or through its own invariant
  * check.
  *
  * `runMain graft.Bench` runs the default battery: everything except the
  * heavy `x_curate_10m` and the bench-redundant twins, under a 1100 s
  * budget for further samples. `runMain graft.Bench <substring>...` runs
  * exactly the probes whose names contain one of the substrings, heavy ones
  * included, with no budget; it is the artifact-capture path. Sampling
  * follows [[sample]]: one pass over every probe, then up to three samples
  * for each probe whose first took at most 5 s. A probe's value is its
  * minimum sample.
  *
  * Output: the full line, with every sample (`reps`) and the per-sample
  * ledger (jobs, stages, tasks, task run/CPU/GC time, shuffle and spill,
  * host load and CPU steal, and the curate funnel's stage seconds), goes to
  * SPARK_GRAFT_BENCHFULL (default `BENCHFULL_c<cpus>.json`). stdout ends
  * with a short summary line whose `n_failed` counts the probes that threw.
  * SPARK_GRAFT_CPUS sets the `local[n]` width (default 32), and
  * SPARK_GRAFT_BENCH_PREV the capture the summary compares against.
  */
object Bench {
  /** Further samples go only to probes whose first sample took at most this
    * many seconds; a longer probe keeps one sample. */
  val RepeatMaxSec = 5.0
  /** At most this many samples per probe (BASELINE.md's min-of-3). */
  val MaxSamples = 3
  /** A default run starts no further sample after this much battery time. */
  val BudgetSec = 1100.0

  final case class Probe(name: String, run: () => Unit)

  /** A one-time input, built before pass 1 when a selected probe's name
    * contains one of `users`. */
  final case class Fixture(users: Seq[String], build: () => Unit)

  /** A probe's samples in seconds, in the order taken. `failed` when its
    * fixture or one of its samples threw. */
  final case class Outcome(name: String, samples: Vector[Double], failed: Boolean) {
    def value: Double = if (failed || samples.isEmpty) -1.0 else samples.min
  }

  /** The sampling rule. Builds the fixtures the probes use; a throwing
    * fixture fails only its users. Pass 1 times every probe once, in
    * declaration order. Further samples go to the probes whose first sample
    * took at most [[RepeatMaxSec]], round-robin, cheapest first sample
    * first, up to [[MaxSamples]] each. Unless `named`, no further sample
    * starts once [[BudgetSec]] of battery time (from pass 1's start, on
    * `clock`, in seconds) has passed; pass 1 always runs whole, so every
    * probe keeps one sample. A probe that throws is failed and gets no
    * further sample. `bracket` wraps each timed sample in work kept outside
    * the timed window. Returns the outcomes in declaration order, and
    * whether the budget cut a further sample. */
  def sample(probes: Seq[Probe], fixtures: Seq[Fixture], named: Boolean,
      clock: () => Double,
      bracket: (String, () => Double) => Double = (_, timed) => timed())
      : (Seq[Outcome], Boolean) = {
    val samples = Array.fill(probes.size)(Vector.empty[Double])
    val failed = Array.fill(probes.size)(false)
    def fail(i: Int, why: String): Unit = {
      failed(i) = true
      System.err.println(s"[bench] ${probes(i).name} failed: $why")
    }
    for (f <- fixtures) {
      val users = probes.indices.filter(i => f.users.exists(probes(i).name.contains))
      if (users.nonEmpty)
        try f.build() catch { case e: Throwable => users.foreach(fail(_, s"fixture: ${e.getMessage}")) }
    }
    def take(i: Int): Unit = {
      val p = probes(i)
      try {
        val t = bracket(p.name, () => { val t0 = clock(); p.run(); clock() - t0 })
        samples(i) :+= t
        System.err.println(f"[bench] ${p.name} rep${samples(i).size} $t%.3f s")
      } catch { case e: Throwable => fail(i, e.getMessage) }
    }
    val t0 = clock()
    probes.indices.filterNot(failed).foreach(take)
    val repeat = probes.indices.filter(i => !failed(i) && samples(i).head <= RepeatMaxSec)
      .sortBy(samples(_).head)
    var budgetHit = false
    for (_ <- 2 to MaxSamples; i <- repeat if !failed(i) && !budgetHit) {
      budgetHit = !named && clock() - t0 > BudgetSec
      if (budgetHit)
        System.err.println(f"[bench] budget $BudgetSec%.0f s reached, no further samples")
      else take(i)
    }
    (probes.indices.map(i => Outcome(probes(i).name, samples(i), failed(i))), budgetHit)
  }

  /** Whitespace-split first line of a /proc file; empty if unreadable. */
  private def procLine(path: String): Array[String] =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).get(0).trim.split("\\s+")
    catch { case _: Throwable => Array.empty }

  /** The 1-, 5- and 15-minute load averages as a JSON array, or null. */
  private def loadavgJson(): String = {
    val p = procLine("/proc/loadavg")
    if (p.length < 3) "null" else p.take(3).mkString("[", ",", "]")
  }

  /** The per-sample ledger. One listener, registered on every SparkContext
    * the battery builds, sums the task-end metrics of the jobs a sample
    * runs (the fields of perfbench's Trace). [[begin]] and [[end]] bracket
    * the timed window: both drain the asynchronous listener bus outside it.
    * Each record also holds the 1-minute load at the sample's start, the
    * host's CPU steal seconds over the sample (/proc/stat), and any stage
    * seconds the probe [[mark]]s. */
  private object Ledger extends SparkListener {
    private var jobs, stages, tasks, runMs, cpuNs, gcMs, readB, writeB, spillB = 0L
    private var steal0 = Option.empty[Long]
    private var load1 = "null"
    private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val records = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.diskBytesSpilled
      }
    }

    def mark(stage: String, sec: Double): Unit = synchronized { marks(stage) = sec }

    private def stealTicks(): Option[Long] = procLine("/proc/stat").lift(8).flatMap(_.toLongOption)

    def begin(sc: SparkContext): Unit = {
      Shim.drainListeners(sc)
      synchronized {
        jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
        readB = 0; writeB = 0; spillB = 0; marks.clear()
        load1 = procLine("/proc/loadavg").headOption.getOrElse("null")
        steal0 = stealTicks()
      }
    }

    def end(sc: SparkContext, probe: String, sec: Double): Unit = {
      Shim.drainListeners(sc)
      synchronized {
        // /proc/stat counts in USER_HZ ticks, 100 a second
        val stealS = steal0.zip(stealTicks()).map { case (a, b) => f"${(b - a) / 100.0}%.2f" }
          .getOrElse("null")
        val marksJson = if (marks.isEmpty) "" else marks
          .map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",\"marks_s\":{", ",", "}")
        records(probe) = records.getOrElse(probe, Vector.empty) :+
          (f"""{"s":$sec%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
           f""""run_s":${runMs / 1e3}%.3f,"cpu_s":${cpuNs / 1e9}%.3f,"gc_s":${gcMs / 1e3}%.3f,""" +
           f""""shuffle_read_mb":${readB / 1e6}%.1f,"shuffle_write_mb":${writeB / 1e6}%.1f,""" +
           f""""spill_mb":${spillB / 1e6}%.1f,"load1":$load1,"steal_s":$stealS$marksJson}""")
      }
    }
  }

  /** 10M-row two-int64-column parquet for the wasm scan probes (the batched
    * kernel only lowers over columnar scans, not range()). Written once,
    * reused across reps and rounds. */
  private def wasmBenchParquet(s: SparkSession): String = {
    val dir = "/tmp/graft_bench_wasm10m"
    if (!new java.io.File(dir, "_SUCCESS").isFile)
      s.range(10000000L).selectExpr("id % 1000003 AS a", "id % 999983 AS b")
        .write.mode("overwrite").parquet(dir)
    dir
  }

  /** 1M-doc 20-token text corpus over a skewed 50k vocab for the LM probe;
    * written once, reused across reps and rounds. */
  private def docsBenchParquet(s: SparkSession): String = {
    val dir = "/tmp/graft_bench_docs1m"
    if (!new java.io.File(dir, "_SUCCESS").isFile)
      s.range(1000000L).selectExpr("id AS doc_id",
        """array_join(transform(sequence(0, 19),
          |  i -> concat('w', pmod(hash(id * 20 + i), 1 + pmod(hash(i * 31 + id), 50021)))), ' ') AS text""".stripMargin)
        .write.mode("overwrite").parquet(dir)
    dir
  }

  /** ~19M-row SCD2 history parquet (100k keys, ~190 ts steps each) for the
    * incremental-apply probe — materialized once so the probe times the
    * MERGE, not the history build. */
  private def scd2HistParquet(s: SparkSession): String = {
    val dir = "/tmp/graft_bench_scd2hist"
    if (!new java.io.File(dir, "_SUCCESS").isFile) {
      val log = s.range(19000000L).selectExpr("id % 100000 AS k",
        "id div 100000 AS ts", "id AS tid",
        "CAST(pmod(hash(id), 4) AS STRING) AS st")
      graft.ops.Warehouse.scd2(log, "k", "ts", "tid", Seq("st"))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Bucketed+sorted join tables for x_bucketed_join. The in-memory catalog
    * forgets managed tables across JVMs while the warehouse directory
    * persists, so a fresh session must drop + clear before rewriting. The
    * build runs as a fixture, outside the timed samples. */
  private def bucketedTablesFixture(s: SparkSession): Unit = {
    if (!s.catalog.tableExists("graft_bl") || !s.catalog.tableExists("graft_br")) {
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      Seq("graft_bl", "graft_br").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val dir = new java.io.File(s"/tmp/graft_bench_warehouse/$t")
        if (dir.exists()) rmrf(dir)
      }
      s.range(10000000L).selectExpr("id % 1000000 AS k", "id AS va")
        .write.bucketBy(32, "k").sortBy("k").mode("overwrite")
        .saveAsTable("graft_bl")
      s.range(2000000L).selectExpr("id % 1000000 AS k", "id AS vb")
        .write.bucketBy(32, "k").sortBy("k").mode("overwrite")
        .saveAsTable("graft_br")
    }
  }

  /** 1M-row 64-dim float corpus for the ANN scale probes; written once. */
  private def annBenchParquet(s: SparkSession): String = {
    val dir = "/tmp/graft_bench_ann1m"
    if (!new java.io.File(dir, "_SUCCESS").isFile)
      s.range(1000000L).selectExpr("id AS vec_id",
        // deterministic pseudo-random floats in [-1, 1)
        """transform(sequence(0, 63), i ->
          |  CAST((hash(id * 64 + i) % 10007) / 10007.0 AS FLOAT)) AS embedding""".stripMargin)
        .write.mode("overwrite").parquet(dir)
    dir
  }

  /** 1M-row PLANTED-STRUCTURE corpus for the recall gates: 1000 clusters of
    * 1000 vectors each — vector i = center(i mod 1000) + 0.10-amplitude
    * per-vector noise, all components deterministic murmur3 draws in [-1, 1).
    * Intra-cluster cosine ≈ 0.97, inter-cluster ≈ 0 — real neighborhood
    * structure, unlike the iid [[annBenchParquet]] corpus (whose "nearest
    * neighbors" are noise, so recall over it measures nothing). */
  private def annClusteredParquet(s: SparkSession): String = {
    val dir = "/tmp/graft_bench_annrec1m"
    if (!new java.io.File(dir, "_SUCCESS").isFile)
      s.range(1000000L).selectExpr("id AS vec_id",
        """transform(sequence(0, 63), i -> CAST(
          |  (hash(pmod(id, 1000) * 64 + i, 42) % 10007) / 10007.0 +
          |  0.10 * ((hash(id * 64 + i, 7) % 10007) / 10007.0) AS FLOAT)) AS embedding"""
          .stripMargin)
        .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Session with GraftExtensions applied (GraftColumnarRule runs only in
    * extensions sessions); shares the SparkContext with the main session.
    * Built on first use so plain runs never pay for it; rebuilt if its
    * context died (the same resilience contract as liveSession in main —
    * a probe OOM must not poison the extensions probes that follow). */
  private var extSessionCache: SparkSession = _
  private def extensionsSession: SparkSession = synchronized {
    if (extSessionCache == null || extSessionCache.sparkContext.isStopped) {
      val old = SparkSession.active
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      extSessionCache = SparkSession.builder()
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
    extSessionCache
  }

  /** The q_curate_v7 nine-stage funnel on `nDocs` planted docs — shared by
    * x_curate_1m and x_curate_10m (identical invariants, one order of
    * magnitude apart: the 10M run proves each stage's shuffles scale
    * linearly). See the planted-condition comment below for the fixture. */
  private def curateFunnel(s: SparkSession, nDocs: Long, tag: String): Unit = {
    Graft.install(s)
    import org.apache.spark.sql.functions._
    // per-stage seconds into the sample's ledger, marked on the funnel's
    // existing eager boundaries (checkpoints, collects), so each delta is
    // one stage's real cost and no Spark action is added
    var stageLast = System.nanoTime()
    def mark(stage: String): Unit = {
      val now = System.nanoTime()
      Ledger.mark(stage, (now - stageLast) / 1e9)
      stageLast = now
    }
        // every planted condition keys off the dup base `b` (NOT the id) so
        // the ÷20 duplicate pairs stay byte-identical: ÷11 of b gets a
        // curly-brace line (C4 page kill), ÷17 a '##########' spam line
        // (gopher r_symbol kill), ÷3 a fourth keyed line (the length
        // feature the classifier label rides), ÷23 a CONSTANT sentence
        // shared corpus-wide (the planted span-dedup target); all other
        // tokens embed b ITSELF (w<b>_<hash>) so unique docs share no
        // 3-shingle run BY CONSTRUCTION at any corpus size — pure
        // hash-keyed tokens collided often enough at 10M (5 in 10M) to
        // break the exact dedup-survivor invariant — and LSH buckets stay
        // pair-sized
        val docs = s.range(nDocs)
          .selectExpr("id AS doc_id", "CAST(pmod(id, 20) AS STRING) AS source",
            s"CASE WHEN id % 20 < 2 THEN id div 20 ELSE ${nDocs}L + id END AS b")
          // class-keyed filler words: ÷2 of b writes with real English
          // stopwords, the other half with non-stop fillers — a 0.4-wide
          // stop-ratio separation the classifier label rides (balanced
          // classes, so the intercept can't swamp the signal)
          .selectExpr("doc_id", "source", "b",
            "CASE WHEN b % 2 = 0 THEN 'the' ELSE 'thus' END AS c1",
            "CASE WHEN b % 2 = 0 THEN 'of' ELSE 'per' END AS c2",
            "CASE WHEN b % 2 = 0 THEN 'and' ELSE 'via' END AS c3")
          .selectExpr("doc_id", "source", "b",
            """concat_ws(chr(10),
              |  concat(c1, ' w', b, '_', pmod(hash(b, 1), 1000000), ' ', c2, ' w',
              |    b, '_', pmod(hash(b, 2), 1000000), ' ', c3, ' w',
              |    b, '_', pmod(hash(b, 3), 1000000), ' runs w',
              |    b, '_', pmod(hash(b, 4), 1000000), ' fine.'),
              |  CASE WHEN b % 5 = 0 THEN concat(c1, ' ', c2, ' ', c3, ' runs w',
              |    b, '_', pmod(hash(b, 5), 1000000), ' fine. ', c1, ' ', c2, ' ', c3,
              |    ' runs fine.')
              |  ELSE concat(c1, ' w', b, '_', pmod(hash(b, 5), 1000000), ' ', c2, ' w',
              |    b, '_', pmod(hash(b, 6), 1000000), ' ', c3, ' w',
              |    b, '_', pmod(hash(b, 7), 1000000), ' runs w',
              |    b, '_', pmod(hash(b, 8), 1000000), ' fine.') END,
              |  CASE WHEN b % 11 = 0 THEN 'style { color: red }'
              |       ELSE concat(c1, ' w', b, '_', pmod(hash(b, 9), 1000000), ' ', c2, ' w',
              |         b, '_', pmod(hash(b, 10), 1000000), ' ', c3, ' w',
              |         b, '_', pmod(hash(b, 11), 1000000), ' runs w',
              |         b, '_', pmod(hash(b, 12), 1000000), ' fine.') END,
              |  CASE WHEN b % 3 = 0 THEN concat(c1, ' w',
              |    b, '_', pmod(hash(b, 13), 1000000), ' ', c2, ' w', b, '_', pmod(hash(b, 14), 1000000),
              |    ' ', c3, ' w', b, '_', pmod(hash(b, 15), 1000000), ' walks w',
              |    b, '_', pmod(hash(b, 16), 1000000), ' fine.') ELSE NULL END,
              |  CASE WHEN b % 17 = 0 THEN 'spam ########## mark.' ELSE NULL END,
              |  CASE WHEN b % 23 = 0 THEN
              |    'the common span sentence continues with nine exact words.'
              |  ELSE NULL END) AS text""".stripMargin)
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        mark("docs")
        // gate flags: the join-shaped gates (near-dedup survivorship,
        // trained classifier scores) stay frames; the MAP-ONLY gates (C4,
        // gopher, LM) fuse into the text projection itself (r16, guide
        // §2.4 — VERDICT #6): two joins instead of five, no corpus-sized
        // LM-score persist, and the flag values are the identical
        // predicates the per-gate frames carried
        val surv = graft.ops.Dedup.nearDedupCorpus(docs, "text", "doc_id")
          .select(col("doc_id"), lit(true).as("f_dedup"))
        mark("near_dedup")
        val lmm = graft.ops.LangModel.trainUnigram(docs, "text", vocabSize = 10000)
        mark("lm_train")
        // adaptive 10th-percentile gate: the ÷5 common-heavy docs (~20% of
        // the corpus) sit strictly below the hash-heavy rest in integer
        // bits/token, so the percentile threshold lands ON their cluster —
        // a split is guaranteed by construction, not by luck. One scoring
        // pass feeds the histogram; the flag below re-scores map-side in
        // the fused projection (cheaper than persisting corpus-sized
        // scores + joining them back — measured r16).
        val thr = graft.ops.LangModel.adaptiveThreshold(
          docs.select(graft.ops.LangModel.bitsPerTokCol(s, lmm, "text")
            .as("bits_per_tok")), "bits_per_tok", 10)
        mark("lm_score_thr")
        // label = the stopword class: balanced 50/50 and separated by ~0.4
        // on the stop-ratio feature, so pred learns the split
        val clf = graft.ops.Classifier.qualityClassifier(docs, "text", "doc_id",
            "CASE WHEN b % 2 = 0 THEN 1.0 ELSE 0.0 END", iters = 8)
          .select(col("doc_id"), col("pred").as("f_clf"))
        mark("clf_train")
        val flags = docs.select(col("doc_id"), col("source"), col("text"),
            graft.ops.Curation.c4Pass(col("text")).as("f_c4"),
            graft.ops.Curation.gopherPass(col("text"), minWords = 20,
              stopList = Seq("runs", "fine.")).as("f_gopher"),
            (graft.ops.LangModel.bitsPerTokCol(s, lmm, "text")
              <= lit(thr.getOrElse(Long.MinValue))).as("f_lm"))
          // NOTE (r16): SHUFFLE_HASH hints on the two slim gate frames were
          // tried here (the verify-join lesson — stream the text-wide side
          // unsorted) and REVERTED: at 10M the wide-side sort is ~85 MB/task
          // and overlaps the gate CPU + checkpoint write, so the stage moved
          // within host noise (64.8/51.5 s hinted vs 49.4–68.4 unhinted
          // across steal-noisy runs). The near-dedup verify join is
          // different in kind: its candidate side is 29M rows and SPILLS.
          .join(clf, "doc_id")
          .join(surv, Seq("doc_id"), "left").na.fill(false, Seq("f_dedup"))
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        mark("flags")
        // the funnel report: ONE aggregation pass over the flag frame
        val f = flags.agg(count(lit(1)), sum(col("f_dedup").cast("long")),
            sum(col("f_c4").cast("long")), sum(col("f_gopher").cast("long")),
            sum(col("f_lm").cast("long")), sum(col("f_clf").cast("long")))
          .collect().head
        mark("funnel_agg")
        val (n0, nDedup, nC4, nGop, nLm, nClf) = (f.getLong(0), f.getLong(1),
          f.getLong(2), f.getLong(3), f.getLong(4), f.getLong(5))
        System.err.println(s"[bench] $tag funnel: n=$n0 dedup=$nDedup" +
          s" c4=$nC4 gopher=$nGop lm=$nLm clf=$nClf")
        require(nDedup == nDocs - nDocs / 20,
          s"expected exactly ${nDocs - nDocs / 20} dedup survivors, got $nDedup")
        // every gate must FIRE (reject some docs) and PASS some docs
        Seq("c4" -> nC4, "gopher" -> nGop, "lm" -> nLm, "clf" -> nClf).foreach {
          case (g, n) => require(n > 0 && n < n0, s"gate $g vacuous: $n of $n0")
        }
        val keep = flags
          .where(col("f_dedup") && col("f_c4") && col("f_gopher") &&
            col("f_lm") && col("f_clf"))
          .select("doc_id", "source", "text")
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        mark("keep")
        val sd = graft.ops.Curation.dedupSpans(keep, "text", "doc_id", n = 8)
        val sv = sd.join(keep.select("doc_id", "source"), "doc_id")
          .selectExpr("source", "doc_id", "token_count(kept_text) AS n_tok")
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        mark("span_dedup")
        // the planted ÷23 span must have actually been cut somewhere
        val keepToks = keep.selectExpr("CAST(sum(token_count(text)) AS BIGINT) t")
          .collect().head.getLong(0)
        val svToks = sv.agg(sum(col("n_tok"))).collect().head.getLong(0)
        require(svToks < keepToks,
          s"span dedup did not fire: $keepToks tokens in, $svToks out")
        mark("span_check")
        val mixed = graft.ops.Curation.tokenBudgetMix(sv, "source", "doc_id",
            "n_tok", budget = 100000, salt = tag)
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        mark("mix")
        val packed = graft.ops.Curation.packSequences(
          mixed.select("source", "doc_id", "n_tok"), "source", "doc_id",
          "n_tok", budget = 2048)
        val pos = graft.ops.Curation.deterministicShuffle(
          mixed.select("doc_id"), "doc_id", tag + "s")
        val out = packed.join(pos, "doc_id")
        PlanAudit.assertScaleShape(out, tag)
        val (nMix, nOut) = (mixed.count(), out.count())
        mark("pack_shuffle")
        System.err.println(s"[bench] $tag tail: mixed=$nMix out=$nOut")
        require(nMix > 0 && nOut == nMix,
          s"pack/shuffle must keep the mixed set 1:1, got $nMix -> $nOut")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the host's load before our own session build and warm-up raise it
    val loadAtEntry = loadavgJson()
    val tInit = System.nanoTime()
    def buildSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        // checkpoint/cache blocks are only dropped after a driver GC lets
        // ContextCleaner see the dead RDD refs; the default periodic-GC
        // interval (30min) outlives the whole bench, so hundreds of
        // queries' checkpoint blocks would pile up in the block manager
        .config("spark.cleaner.periodicGC.interval", "2min")
        // managed tables (x_bucketed_join) land in /tmp, not the repo
        .config("spark.sql.warehouse.dir", "/tmp/graft_bench_warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(Ledger)
      s
    }
    var spark = buildSession()
    // One probe OOM-killing the local SparkContext must not zero out every
    // number after it: rebuild the session (outside any timed window) and
    // keep measuring. Only the offending probe records a failure.
    def liveSession(): SparkSession = {
      if (spark.sparkContext.isStopped) {
        System.err.println("[bench] SparkContext stopped — rebuilding session")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = buildSession()
      }
      spark
    }

    // warm the session (JIT, codegen, parquet footers) on the smallest query;
    // timed separately so fixed session overhead never blurs per-query
    // numbers (per-query times below are all steady-state)
    try SparkEntry.queries("q_gcd")(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    catch { case _: Throwable => }
    val overheadSec = (System.nanoTime() - tInit) / 1e9

    // Pure-engine throughput probes (no table I/O): comparable to the
    // reference's per-batch kernel numbers (BASELINE.md). 100M rows of the
    // codegen'd gcd tier and the generic-invoke tier.
    val throughput: Seq[(String, SparkSession => Unit)] = Seq(
      "x_gcd_codegen_100m" -> { s: SparkSession =>
        Graft.install(s)
        s.range(100000000L)
          .selectExpr("gcd(CAST(id % 1000003 AS INT), CAST(id % 999983 AS INT)) AS g")
          .write.format("noop").mode("overwrite").save()
      },
      "x_invoke_boxed_10m" -> { s: SparkSession =>
        Graft.install(s)
        s.range(10000000L)
          .selectExpr("add(CAST(id % 1000 AS INT), CAST(id % 97 AS INT)) AS a")
          .write.format("noop").mode("overwrite").save()
      },
      // Interpreted wasm guest throughput (pooled instances, typed-slot ABI)
      "x_wasm_gcd_10m" -> { s: SparkSession =>
        Graft.install(s)
        s.range(10000000L)
          .selectExpr("wasm_gcd(id % 1000003, id % 999983) AS g")
          .write.format("noop").mode("overwrite").save()
      },
      // Same 10M wasm_gcd rows over a parquet scan, per-row invoke tier —
      // the baseline x_wasm_batched_10m is measured against.
      "x_wasm_perrow_10m" -> { s: SparkSession =>
        Graft.install(s)
        s.read.parquet(wasmBenchParquet(s))
          .selectExpr("wasm_gcd(a, b) AS g")
          .write.format("noop").mode("overwrite").save()
      },
      // The BATCHED wasm kernel (one pooled-instance borrow per scan batch,
      // slots read box-free off the scan's ColumnVectors) — only activates
      // under GraftColumnarRule, so it runs in the extensions session.
      "x_wasm_batched_10m" -> { _: SparkSession =>
        val s = extensionsSession
        Graft.install(s)
        val df = s.read.parquet(wasmBenchParquet(s))
          .selectExpr("wasm_gcd(a, b) AS g")
        // guard: if the rule stopped lowering this, the probe would silently
        // re-measure the per-row tier
        require(df.queryExecution.executedPlan.toString.contains("WasmBatchKernel"),
          "x_wasm_batched_10m is not on the batched kernel")
        df.write.format("noop").mode("overwrite").save()
      },
      // String args + string RETURN through the per-row FFI alloc path —
      // the baseline x_wasm_str_batched_1m is measured against.
      "x_wasm_str_perrow_1m" -> { s: SparkSession =>
        Graft.install(s)
        s.read.parquet(docsBenchParquet(s))
          .selectExpr("wasm_count_byte(text, 119) AS ne",
                      "wasm_substring(text, 4, 16) AS sub")
          .write.format("noop").mode("overwrite").save()
      },
      // Same two calls through the batched kernel: one pooled-instance
      // borrow + export binds per scan batch, buffer args through the alloc
      // ABI, the literal args injected as ConstantColumnVectors, both
      // kernels fused into ONE pass over each batch.
      //
      // r13 arena packing: all of a batch's string args land in the guest
      // with ONE reset_heap + ONE alloc + direct UTF8String->guest copies;
      // rows pass (arenaPtr+off, len). r14 closed the OUTPUT side too:
      // result buffers copy straight from guest memory into the column
      // vector (no per-row byte[] intermediate). SETTLED (r13 VERDICT #6):
      // the packing now covers both directions and the batched tier wins
      // consistently (~1.06x here, ~1.2x on the marshalling-bound pair
      // below) — but the 1.3x aspiration is unreachable on ANY probe,
      // because the remaining time is costs the tiers share equally: this
      // pair is dominated by interpreting count_byte's O(len) scan over
      // every doc, and the substring-only pair by the parquet scan floor.
      // Further marshalling work cannot move either ratio.
      "x_wasm_str_batched_1m" -> { _: SparkSession =>
        val s = extensionsSession
        Graft.install(s)
        val df = s.read.parquet(docsBenchParquet(s))
          .selectExpr("wasm_count_byte(text, 119) AS ne",
                      "wasm_substring(text, 4, 16) AS sub")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("WasmBatchKernel") && plan.contains("ConstArgsKernel"),
          "x_wasm_str_batched_1m is not on the batched kernel with literal injection")
        require("ColumnarMultiMap".r.findAllIn(plan).size == 1,
          "the two wasm string kernels must fuse into one pass")
        df.write.format("noop").mode("overwrite").save()
      },
      // MARSHALLING-bound pair: substring alone is O(1)-ish guest work with a
      // buffer arg AND a buffer result, so the tier ratio here isolates what
      // the arena packing (one reset+alloc+copy-in per batch, r13) and the
      // direct guest→vector copy-out (r14) actually buy — unlike the
      // x_wasm_str pair, whose count_byte O(len) interpretation dominates
      // both tiers equally and caps the visible ratio.
      "x_wasm_marshal_perrow_1m" -> { s: SparkSession =>
        Graft.install(s)
        s.read.parquet(docsBenchParquet(s))
          .selectExpr("wasm_substring(text, 4, 16) AS sub")
          .write.format("noop").mode("overwrite").save()
      },
      "x_wasm_marshal_batched_1m" -> { _: SparkSession =>
        val s = extensionsSession
        Graft.install(s)
        val df = s.read.parquet(docsBenchParquet(s))
          .selectExpr("wasm_substring(text, 4, 16) AS sub")
        require(df.queryExecution.executedPlan.toString.contains("WasmBatchKernel"),
          "x_wasm_marshal_batched_1m is not on the batched kernel")
        df.write.format("noop").mode("overwrite").save()
      },
      "x_udaf_10m" -> { s: SparkSession =>
        Graft.install(s)
        s.range(10000000L)
          .selectExpr("id % 64 AS k", "CAST(id % 1000 AS INT) AS v")
          .groupBy("k").agg(org.apache.spark.sql.functions.call_function("sum_udaf",
            org.apache.spark.sql.functions.col("v")))
          .write.format("noop").mode("overwrite").save()
      },
      // Same aggregate through the compatibility UDAF tier (ScalaAggregator,
      // per-row Row deserialization) — documents what the native tier saves.
      "x_udaf_boxed_10m" -> { s: SparkSession =>
        Graft.install(s)
        s.range(10000000L)
          .selectExpr("id % 64 AS k", "CAST(id % 1000 AS INT) AS v")
          .groupBy("k").agg(org.apache.spark.sql.functions.call_function("sum_udaf_boxed",
            org.apache.spark.sql.functions.col("v")))
          .write.format("noop").mode("overwrite").save()
      },
      // Spark's builtin sum on the same shape — the codegen'd floor the
      // user-defined tiers are measured against.
      "x_sum_builtin_10m" -> { s: SparkSession =>
        s.range(10000000L)
          .selectExpr("id % 64 AS k", "CAST(id % 1000 AS INT) AS v")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
          .write.format("noop").mode("overwrite").save()
      },
      // Remote-tier throughput: 5M rows of gcd through the full wire path
      // (per-partition pooled clients -> in-process Arrow-IPC server with the
      // column-bound eval loop). Rows/s = 5e6 / seconds.
      "x_remote_throughput_5m" -> { s: SparkSession =>
        Graft.install(s)
        val port = graft.remote.RemoteFixture.port
        val df = s.range(5000000L)
          .selectExpr("CAST(id % 1000003 AS INT) AS a", "CAST(id % 999983 AS INT) AS b")
        graft.remote.RemoteUdf.withRemoteColumn(df, Seq(("127.0.0.1", port)), "gcd",
            Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
          .write.format("noop").mode("overwrite").save()
      },
      // the SAME 5M-row gcd exchange over the Arrow Flight wire (from-scratch
      // gRPC/HTTP2 client → FlightServer, which evaluates in-process):
      // measures the full h2-framing + re-framing overhead vs the raw wire
      // above — the two probes share workload, registry tier, evaluator and
      // batch size.
      "x_flight_throughput_5m" -> { s: SparkSession =>
        Graft.install(s)
        val port = graft.remote.flight.FlightFixture.port
        val df = s.range(5000000L)
          .selectExpr("CAST(id % 1000003 AS INT) AS a", "CAST(id % 999983 AS INT) AS b")
        graft.remote.flight.FlightUdf.withFlightColumn(df, Seq(("127.0.0.1", port)),
            "gcd", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
          .write.format("noop").mode("overwrite").save()
      },
      // Rolling-drain cost (r15, VERDICT #3): the same wire workload on a
      // TWO-server pool, once undisturbed and once with one server
      // GOAWAY-drained mid-query. FlightDrainSpec proves the drain causes
      // zero failures (lease refusal → markDead → failover → chunk replay);
      // this pair records that the failover costs BOUNDED LATENCY — the
      // delta between the two probes is the price of a rolling restart.
      "x_flight_drain_base_5m" -> { s: SparkSession =>
        Graft.install(s)
        val s1 = new graft.remote.flight.FlightServer()
        val s2 = new graft.remote.flight.FlightServer()
        try {
          val eps = Seq(("127.0.0.1", s1.boundPort), ("127.0.0.1", s2.boundPort))
          val df = s.range(5000000L)
            .selectExpr("CAST(id % 1000003 AS INT) AS a", "CAST(id % 999983 AS INT) AS b")
          graft.remote.flight.FlightUdf.withFlightColumn(df, eps,
              "gcd", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
            .write.format("noop").mode("overwrite").save()
        } finally { s1.close(0L); s2.close(0L) }
      },
      "x_flight_drain_5m" -> { s: SparkSession =>
        Graft.install(s)
        val s1 = new graft.remote.flight.FlightServer()
        val s2 = new graft.remote.flight.FlightServer()
        try {
          val eps = Seq(("127.0.0.1", s1.boundPort), ("127.0.0.1", s2.boundPort))
          val df = s.range(5000000L)
            .selectExpr("CAST(id % 1000003 AS INT) AS a", "CAST(id % 999983 AS INT) AS b")
          val drainer = new Thread(() => {
            // drain once s1 is demonstrably serving the query
            val t0 = System.nanoTime()
            while (s1.connectionsAccepted == 0 && System.nanoTime() - t0 < 30e9.toLong)
              Thread.sleep(5)
            Thread.sleep(50)
            s1.close(drainMillis = 5000L)
          })
          drainer.start()
          graft.remote.flight.FlightUdf.withFlightColumn(df, eps,
              "gcd", Seq("a", "b"), org.apache.spark.sql.types.IntegerType)
            .write.format("noop").mode("overwrite").save()
          drainer.join(30000)
        } finally { s1.close(0L); s2.close(0L) }
      },
      // Per-exchange overhead isolation (r13): the same 1M-row gcd against
      // the REAL pyarrow server pool at a deliberately small 512-row batch.
      // Per-chunk opens ~2000 DoExchanges (HEADERS + schema + trailers per
      // 512 rows); streamed pays that setup ONCE per partition over one
      // long-lived DoExchange (the reference server's native multi-batch
      // shape, UdfProducer.java:104-139). The pair's delta IS the recorded
      // per-exchange amortization win.
      "x_flight_perchunk_1m_b512" -> { s: SparkSession =>
        val eps = graft.remote.flight.FlightWorker.endpoints
        val df = s.range(1000000L)
          .selectExpr("CAST(id % 1000003 AS INT) AS a", "CAST(id % 999983 AS INT) AS b")
        graft.remote.flight.FlightUdf.withFlightColumn(df, eps,
            "flight_gcd", Seq("a", "b"), org.apache.spark.sql.types.IntegerType,
            batchRows = 512)
          .write.format("noop").mode("overwrite").save()
      },
      "x_flight_stream_1m_b512" -> { s: SparkSession =>
        val eps = graft.remote.flight.FlightWorker.endpoints
        val df = s.range(1000000L)
          .selectExpr("CAST(id % 1000003 AS INT) AS a", "CAST(id % 999983 AS INT) AS b")
        graft.remote.flight.FlightUdf.withFlightColumnStreamed(df, eps,
            "flight_gcd", Seq("a", "b"), org.apache.spark.sql.types.IntegerType,
            batchRows = 512)
          .write.format("noop").mode("overwrite").save()
      },
      // same streamed shape, but graft→graft: the incremental FlightServer
      // evaluation ping-ponging against graft's own client — prices the
      // whole from-scratch stack (client + server + in-process evaluator)
      // for the long-lived mode
      "x_flight_srv_stream_1m_b512" -> { s: SparkSession =>
        graft.functions.Builtins.ensureRegistered()
        val port = graft.remote.flight.FlightFixture.port
        val df = s.range(1000000L)
          .selectExpr("CAST(id % 1000003 AS INT) AS a", "CAST(id % 999983 AS INT) AS b")
        graft.remote.flight.FlightUdf.withFlightColumnStreamed(df,
            Seq(("127.0.0.1", port)),
            "gcd", Seq("a", "b"), org.apache.spark.sql.types.IntegerType,
            batchRows = 512)
          .write.format("noop").mode("overwrite").save()
      },
      // ANN at 1M vectors: exact brute-force vs the int8-quantized corpus
      // (a quarter of the scan bytes — the 100 TB lever q_quantized_topk
      // verifies for correctness at small SF).
      "x_ann_brute_1m" -> { s: SparkSession =>
        Graft.install(s)
        val corpus = s.read.parquet(annBenchParquet(s))
        val queries = corpus.where("vec_id < 5")
          .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
        graft.ops.Similarity.bruteForceTopK(corpus, queries, 10)
          .write.format("noop").mode("overwrite").save()
      },
      "x_ann_quantized_1m" -> { s: SparkSession =>
        Graft.install(s)
        // codes are quantized ONCE at ingest and stored (that is the point
        // of the compressed corpus); the probe measures SEARCH over the
        // stored codes, not per-query re-quantization
        val qdir = "/tmp/graft_bench_ann1m_q"
        // regenerate when missing OR older than the base corpus — stale
        // codes against a regenerated corpus would silently compare
        // different datasets across the two probes
        val baseMarker = new java.io.File(annBenchParquet(s), "_SUCCESS")
        val qMarker = new java.io.File(qdir, "_SUCCESS")
        if (!qMarker.isFile || qMarker.lastModified < baseMarker.lastModified)
          graft.ops.Similarity.quantizeInt8(s.read.parquet(annBenchParquet(s)))
            .select("vec_id", "codes", "q_scale")
            .write.mode("overwrite").parquet(qdir)
        val queries = s.read.parquet(annBenchParquet(s)).where("vec_id < 5")
          .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
        graft.ops.Similarity.quantizedTopK(s.read.parquet(qdir), queries, 10)
          .write.format("noop").mode("overwrite").save()
      },
      // PQ-compressed ANN at 1M vectors: 8 code bytes/vector (16x less scan
      // I/O than float32). Encode once at ingest (stored like the int8
      // codes); the probe measures SEARCH over stored codes.
      "x_ann_pq_1m" -> { s: SparkSession =>
        Graft.install(s)
        val base = s.read.parquet(annBenchParquet(s))
        val cb = graft.ops.Similarity.pqCodebook(base, m = 8, nCodes = 256)
        val qdir = "/tmp/graft_bench_ann1m_pq"
        val baseMarker = new java.io.File(annBenchParquet(s), "_SUCCESS")
        val pqMarker = new java.io.File(qdir, "_SUCCESS")
        if (!pqMarker.isFile || pqMarker.lastModified < baseMarker.lastModified)
          graft.ops.Similarity.pqEncode(base, cb)
            .write.mode("overwrite").parquet(qdir)
        val queries = base.where("vec_id < 5")
          .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
        graft.ops.Similarity.pqTopK(s.read.parquet(qdir), cb, queries, 10)
          .write.format("noop").mode("overwrite").save()
      },
      // BIG-BIG ANN join at 250k x 1M: every 4th corpus vector retrieves its
      // top-3 neighbors from the full corpus — neither side broadcast, NO
      // manual bits: AutoBits resolves 18 from the corpus count (1M / 2^18
      // ≈ 4 candidates/bucket, ~19 probes/left row ≈ 18M reranked pairs —
      // the sizing r10 hand-picked, now derived), bounded per-key heaps
      // before the exchange. Planted invariant: every
      // left vector IS a corpus vector, so its own bucket always holds an
      // exact copy — all 250k left ids must surface a sim ≈ 1.0 hit at
      // rank 1, whatever bits the rule picks.
      "x_lsh_join_1m" -> { s: SparkSession =>
        Graft.install(s)
        val corpus = s.read.parquet(annBenchParquet(s))
        val left = corpus.where("vec_id % 4 = 0")
          .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
        val out = graft.ops.Similarity.lshJoinTopK(left, corpus, 3)
        PlanAudit.assertScaleShape(out, "x_lsh_join_1m")
        val selfHits = out.where("rank = 1 AND sim >= 0.999999").count()
        require(selfHits == 250000L,
          s"expected 250k exact self-matches at rank 1, got $selfHits")
      },
      // MEASURED recall gates: planted-structure corpus (1000 clusters x
      // 1000 vectors), ~51 NEAR-BOUNDARY queries (corpus vectors re-noised
      // at 0.12 — never exact copies, so same-bucket membership is earned,
      // not planted), ground truth = exact bruteForceTopK. Every approximate
      // family must clear a recall@10 floor, and the multi-table union must
      // measurably beat one table — the claim that L tables are the recall
      // knob, now a number instead of an argument. Floors sit ~10 points
      // under the deterministic measured values (hash-seeded corpus, fixed
      // summation order).
      "x_ann_recall_1m" -> { s: SparkSession =>
        Graft.install(s)
        // seven retrieval passes share one in-memory corpus (the gate
        // measures RECALL of live operator code, not parquet re-reads; the
        // passes themselves always run live — only deterministic inputs are
        // ever fixture-cached)
        val corpus = s.read.parquet(annClusteredParquet(s))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        // ~51 probe queries; checkpointed so each recall pass doesn't re-scan
        // the corpus just to derive them
        val (gtMod, gtK) = (19997, 10) // ground-truth derivation parameters
        val queries = corpus.where(s"vec_id % $gtMod = 0")
          .selectExpr("vec_id AS q_id",
            """transform(embedding, (x, i) -> CAST(
              |  x + 0.12 * ((hash(vec_id * 64 + i, 13) % 10007) / 10007.0) AS FLOAT))
              |  AS q_embedding""".stripMargin)
          .localCheckpoint(true)
        def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.select("q_id", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet   // ≤ k × ~51 rows
        // Exact ground truth is a deterministic constant per corpus (the
        // queries derive from it) — fixture-cache the brute-force pairs like
        // the PQ codes / IVF layout: the dir name carries the DERIVATION
        // PARAMETERS (query modulus, k) and the corpus path hash (the ivf_c/
        // pq_m naming convention), so a rule change or a second checkout's
        // same-named corpus can never silently reuse stale pairs; the
        // _SUCCESS mtime still guards corpus regeneration in place
        val baseMarker = new java.io.File(annClusteredParquet(s), "_SUCCESS")
        val corpusTag = java.lang.Integer.toHexString(annClusteredParquet(s).hashCode)
        val exactDir =
          s"/tmp/graft_bench_annrec1m_exact_k${gtK}_mod${gtMod}_p$corpusTag"
        val exactMarker = new java.io.File(exactDir, "_SUCCESS")
        if (!exactMarker.isFile || exactMarker.lastModified < baseMarker.lastModified)
          graft.ops.Similarity.bruteForceTopK(corpus, queries, gtK)
            .select("q_id", "vec_id").write.mode("overwrite").parquet(exactDir)
        val exact = pairs(s.read.parquet(exactDir))
        def recall(approx: Set[(Long, Long)]): Double =
          (exact intersect approx).size.toDouble / exact.size
        val rLsh1 = recall(pairs(
          graft.ops.Similarity.lshJoinTopK(queries, corpus, 10, bits = 16)))
        val rMulti1 = recall(pairs(
          graft.ops.Similarity.lshJoinTopKMulti(queries, corpus, 10, bits = 16, tables = 1)))
        val rMulti8 = recall(pairs(
          graft.ops.Similarity.lshJoinTopKMulti(queries, corpus, 10, bits = 16, tables = 8)))
        // 2 Lloyd iterations: the planted clusters are well-separated, so
        // the cells converge immediately — 3 more iterations buy nothing
        val rIvf = recall(pairs(
          graft.ops.Similarity.ivfTopK(corpus, queries, 10, nCells = 64, nprobe = 8, iters = 2)))
        // PERSISTED index at PARTIAL probe — the 100 TB retrieval path: the
        // cell-partitioned layout is built once at ingest (fixture-cached,
        // like the PQ codes); each search reads nprobe/nCells of the files
        // via static partition pruning. This gates the pruned READ path's
        // recall, not just in-memory ivfTopK's.
        // fixture dirs carry the BUILD PARAMETERS in their names, so a
        // parameter change can never silently reuse a stale layout built
        // with the old ones (the _SUCCESS-mtime check only sees the corpus)
        val (ivfCells, ivfIters) = (64, 2)
        val ivfDir = s"/tmp/graft_bench_annrec1m_ivf_c${ivfCells}_i$ivfIters"
        val ivfMarker = new java.io.File(s"$ivfDir/assigned", "_SUCCESS")
        if (!ivfMarker.isFile || ivfMarker.lastModified < baseMarker.lastModified)
          graft.ops.Similarity.ivfSave(corpus, ivfDir, nCells = ivfCells, iters = ivfIters)
        val rIvfSaved = recall(pairs(
          graft.ops.Similarity.ivfSearchSaved(s, ivfDir, queries, 10, nprobe = 8)))
        // PQ codes are encoded ONCE at ingest and stored (the compressed-
        // corpus model, same fixture pattern as x_ann_pq_1m) — search passes
        // scan 8-byte codes, never re-encode
        val (pqM, pqCodes) = (8, 256)
        val cb = graft.ops.Similarity.pqCodebook(corpus, m = pqM, nCodes = pqCodes)
        val pqDir = s"/tmp/graft_bench_annrec1m_pq_m${pqM}_c$pqCodes"
        val pqMarker = new java.io.File(pqDir, "_SUCCESS")
        if (!pqMarker.isFile || pqMarker.lastModified < baseMarker.lastModified)
          graft.ops.Similarity.pqEncode(corpus, cb)
            .write.mode("overwrite").parquet(pqDir)
        val encoded = s.read.parquet(pqDir)
        // raw PQ codes are resolution-limited: same-cluster vectors share a
        // code, so recall@10 within a 1000-member cluster is ~random (~0.03
        // measured) — inherent to 8-byte codes. What the codes CAN claim is
        // the NEIGHBORHOOD: gate the fraction of returned neighbors from the
        // query's true cluster (vec_id ≡ q_id mod 1000 by construction)...
        val pqRaw = pairs(graft.ops.Similarity.pqTopK(encoded, cb, queries, 10))
        val pqCluster = pqRaw.count { case (q, v) => q % 1000 == v % 1000 }
          .toDouble / pqRaw.size
        // ...and real recall@10 comes from the refine topology: compressed
        // scan cuts 1M → 2000 (covering the code-resolution cell), exact
        // cosine reranks only the shortlist
        val rPqRerank = recall(pairs(graft.ops.Similarity.pqTopKRerank(
          corpus, encoded, cb, queries, 10, shortlist = 2000)))
        // REFINED codebook (opt-in Lloyd, refine=2): both the codebook and
        // the re-encoded codes are deterministic inputs — fixture-cached
        // with the build parameters in the names, like every other ANN
        // fixture; the retrieval pass itself always runs live
        val cbRFile = new java.io.File(
          s"/tmp/graft_bench_annrec1m_pqcb_m${pqM}_c${pqCodes}_r2_p$corpusTag.bin")
        val cbR: Array[Array[Array[Float]]] =
          if (cbRFile.isFile && cbRFile.lastModified >= baseMarker.lastModified) {
            val ois = new java.io.ObjectInputStream(
              new java.io.FileInputStream(cbRFile))
            try ois.readObject().asInstanceOf[Array[Array[Array[Float]]]]
            finally ois.close()
          } else {
            val c = graft.ops.Similarity.pqCodebook(
              corpus, m = pqM, nCodes = pqCodes, refine = 2)
            val oos = new java.io.ObjectOutputStream(
              new java.io.FileOutputStream(cbRFile))
            try oos.writeObject(c) finally oos.close()
            c
          }
        val pqDirR = s"/tmp/graft_bench_annrec1m_pq_m${pqM}_c${pqCodes}_r2_p$corpusTag"
        val pqMarkerR = new java.io.File(pqDirR, "_SUCCESS")
        if (!pqMarkerR.isFile || pqMarkerR.lastModified < baseMarker.lastModified)
          graft.ops.Similarity.pqEncode(corpus, cbR)
            .write.mode("overwrite").parquet(pqDirR)
        val pqRawR = pairs(graft.ops.Similarity.pqTopK(
          s.read.parquet(pqDirR), cbR, queries, 10))
        val pqClusterR = pqRawR.count { case (q, v) => q % 1000 == v % 1000 }
          .toDouble / pqRawR.size
        val rPqRerankR = recall(pairs(graft.ops.Similarity.pqTopKRerank(
          corpus, s.read.parquet(pqDirR), cbR, queries, 10, shortlist = 2000)))
        // the claim Lloyd actually makes is DISTORTION: mean quantization
        // error over a deterministic ~100-vector corpus sample, refined vs
        // sampled-init (raw recall@10 is ~random at this code resolution —
        // 8 bytes cannot rank within a 1000-member cluster — so it is NOT a
        // refinement metric; the rankable claims are gated below)
        def distortion(cbX: Array[Array[Array[Float]]]): Double = {
          val sampleV = corpus.where("vec_id % 9973 = 0")
            .select("embedding").collect().map(_.getSeq[Float](0).toArray)
          val mm = cbX.length; val w = cbX(0)(0).length
          sampleV.iterator.map { v =>
            (0 until mm).map { ss =>
              cbX(ss).map { cent =>
                (0 until w).map { j =>
                  val t = v(ss * w + j).toDouble - cent(j).toDouble; t * t
                }.sum
              }.min
            }.sum
          }.sum / sampleV.length
        }
        val (dist0, distR) = (distortion(cb), distortion(cbR))
        System.err.println(f"[bench] x_ann_recall_1m recall@10: lsh+probe=$rLsh1%.3f " +
          f"1-table=$rMulti1%.3f 8-table=$rMulti8%.3f ivf=$rIvf%.3f " +
          f"ivf_saved=$rIvfSaved%.3f pq_cluster=$pqCluster%.3f pq_rerank=$rPqRerank%.3f " +
          f"pq_cluster_refined=$pqClusterR%.3f pq_rerank_refined=$rPqRerankR%.3f " +
          f"pq_distortion=$dist0%.4f->$distR%.4f")
        // floors ~10 points under deterministic measured values (r9:
        // 0.825 / 0.450 / 0.996 / 1.000 / 1.000 / ~1.0 / ~1.0)
        require(rLsh1 >= 0.70, f"lshJoinTopK multi-probe recall@10 $rLsh1%.3f < 0.70")
        require(rMulti8 >= 0.90, f"8-table lshJoinTopKMulti recall@10 $rMulti8%.3f < 0.90")
        require(rMulti8 >= rMulti1 + 0.30,
          f"multi-table recall knob ineffective: 8-table $rMulti8%.3f vs 1-table $rMulti1%.3f")
        require(rIvf >= 0.90, f"ivfTopK recall@10 $rIvf%.3f < 0.90")
        require(rIvfSaved >= 0.90, f"ivfSearchSaved recall@10 $rIvfSaved%.3f < 0.90")
        require(pqCluster >= 0.90, f"pqTopK cluster recall $pqCluster%.3f < 0.90")
        require(rPqRerank >= 0.90, f"pqTopKRerank recall@10 $rPqRerank%.3f < 0.90")
        // Lloyd refinement gates (all deterministic): it must CUT the
        // quantization distortion materially, and must not cost quality on
        // either rankable claim — cluster recall of the raw codes and
        // recall@10 of the rerank topology
        require(distR < dist0 * 0.9,
          f"refined codebook did not cut distortion: $dist0%.4f -> $distR%.4f")
        require(pqClusterR >= pqCluster,
          f"refined PQ cluster recall $pqClusterR%.3f < unrefined $pqCluster%.3f")
        require(rPqRerankR >= rPqRerank,
          f"refined PQ rerank recall@10 $rPqRerankR%.3f < unrefined $rPqRerank%.3f")
        } finally corpus.unpersist()
      },
      // PATHOLOGICAL hot bucket: 20% of the corpus (200k scaled copies of
      // one base vector — positive scaling preserves every hyperplane sign,
      // so they share ONE bucket at ANY bits) against a 200k-query left
      // side. The hot bucket's candidate block is ~10M pairs in a single
      // join key — the shape that funnels one reducer in a plain SMJ. The
      // probe asserts AQE's skew-join split actually engages (skew=true in
      // the final adaptive SMJ) AND the planted invariants hold.
      "x_lsh_skew_1m" -> { s: SparkSession =>
        Graft.install(s)
        val conf = s.conf
        val saved = Seq(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
          .map(k => k -> conf.getOption(k))
        try {
          // the defaults (256 MB threshold) are sized for TB shuffles; the
          // 1M-row probe plants a ~60 MB hot partition, so scale the knobs
          // the same way a 100 TB deployment would size them DOWN per task
          conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
          // the planted hot block is a FIXED absolute size (~60 MB), so its
          // skew RATIO shrinks as partitions grow: at 32 shuffle partitions
          // the cold median is ~10 MB (hot ≈ 7× median, caught by the default
          // factor 5), but the driver's low-core pass runs 8 partitions where
          // the median is ~40 MB and hot ≈ 2.6× — the r15 8-core capture
          // failed exactly here. Factor 2 keeps the gate meaningful at any
          // partition count ≥ 8 without loosening what it asserts: the cold
          // partitions are uniform (hash of ~unique buckets), so nothing
          // besides the planted hot bucket sits near 2× median either way.
          conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
          conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
          // neither side may broadcast: the probe must exercise the
          // shuffled-join path where key skew actually hurts
          conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          val corpus = s.range(1000000L).selectExpr("id AS vec_id",
            """transform(sequence(0, 63), i -> CAST(
              |  CASE WHEN id % 5 = 0
              |    THEN ((hash(i, 99) % 10007) / 10007.0) * (1.0 + (id % 9973) / 100000.0)
              |    ELSE (hash(id * 64 + i) % 10007) / 10007.0
              |  END AS FLOAT)) AS embedding""".stripMargin)
          // left: all 200k cold every-4th rows, but only 50 hot rows — the
          // hot CANDIDATE block stays ~10M pairs (50 × 200k), not 10^10
          val left = corpus
            .where("vec_id % 4 = 0 AND (vec_id % 5 != 0 OR vec_id % 20000 = 0)")
            .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
          // bits derived by the occupancy rule, not hand-picked: 1M rows at
          // target occupancy 4 → 18 bits (the value the probe was sized for)
          val bits = graft.ops.Similarity.autoBits(corpus.count(), targetOccupancy = 4L)
          require(bits == 18, s"autoBits(1M, occ=4) = $bits, probe sized for 18")
          val out = graft.ops.Similarity.lshJoinTopK(left, corpus, 3, bits = bits)
          val agg = out.selectExpr(
            "count(*) AS total",
            // every cold left row is its own unique corpus vector: rank 1
            // must be the exact self-match
            "count_if(q_id % 5 != 0 AND rank = 1 AND q_id = vec_id AND sim >= 0.999999) AS coldSelf",
            // hot left rows tie at cosine 1.0 with every scaled copy: all 3
            // survivors must be perfect-sim hits
            "count_if(q_id % 20000 = 0 AND sim >= 0.999999) AS hotTies")
          // collect() (NOT head(): head plans a separate limit(1) execution)
          // so agg's own adaptive plan finalizes and can be inspected
          val row = agg.collect().head
          val finalPlan = agg.queryExecution.executedPlan.toString
          require(finalPlan.contains("skew=true"),
            s"AQE skew-join split did not engage on the hot bucket\n$finalPlan")
          // left = 250k every-4th rows − 50k hot + the 50 planted hot probes
          val nColdLeft = 200000L
          require(row.getLong(1) == nColdLeft,
            s"cold self-matches ${row.getLong(1)} of $nColdLeft")
          require(row.getLong(2) == 50L * 3L,
            s"hot perfect-sim survivors ${row.getLong(2)} != 150")
        } finally saved.foreach { case (k, v) =>
          v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
        }
      },
      // Curation ops at 1M docs — the documents table holds only 500 rows at
      // every SF, so these probes are the operators' scale proof. Corpora are
      // derived from range() (no files), deterministic by construction.
      "x_decontaminate_1m" -> { s: SparkSession =>
        Graft.install(s)
        // doc i covers words [5i, 5i+20) of a rolling vocab: consecutive docs
        // share 15-word runs, so benchmark docs (every 1000th) contaminate
        // their neighbors through shared 8-grams; bench side broadcasts
        // ~13k n-grams, corpus side is a map-only explode + semi-join
        val docs = s.range(1000000L).selectExpr("id AS doc_id",
          "array_join(transform(sequence(0, 19), i -> concat('w', pmod(id * 5 + i, 50021))), ' ') AS text")
        graft.ops.Curation.decontaminate(
            docs.where("doc_id % 1000 <> 0"), docs.where("doc_id % 1000 = 0"),
            "text", "doc_id", 8)
          .write.format("noop").mode("overwrite").save()
      },
      "x_sentence_dedup_1m" -> { s: SparkSession =>
        Graft.install(s)
        // 1M docs x 4 sentences drawn from a 100k-sentence pool -> 4M
        // instances, ~100k survivors; the window shuffle partitions by
        // sentence text (the CCNet shape) and reassembly by doc id
        val docs = s.range(1000000L).selectExpr("id AS doc_id",
          """concat_ws('. ', transform(sequence(0, 3),
            |  i -> concat('sentence ', pmod(hash(id * 4 + i), 100000), ' body'))) AS text""".stripMargin)
        graft.ops.Curation.dedupSentences(docs, "text", "doc_id")
          .write.format("noop").mode("overwrite").save()
      },
      "x_pack_sequences_1m" -> { s: SparkSession =>
        Graft.install(s)
        // 1000 strata x 1000 docs each through flatMapSortedGroups: strata
        // are the parallelism unit, Spark sorts each group spill-safely
        val docs = s.range(1000000L).selectExpr(
          "concat('src', id % 1000) AS source", "id AS doc_id",
          "CAST(50 + pmod(hash(id), 400) AS INT) AS n_tok")
        graft.ops.Curation.packSequences(docs, "source", "doc_id", "n_tok", 2048)
          .write.format("noop").mode("overwrite").save()
      },
      "x_semantic_dedup_1m" -> { s: SparkSession =>
        Graft.install(s)
        // 1M random 64-dim vectors through 12-plane buckets (~4096 cells,
        // ~244 vectors/cell): measures the full LSH equi-join + per-bucket
        // pairwise cosine + greedy min aggregate — the SemDeDup shape
        val corpus = s.read.parquet(annBenchParquet(s))
        graft.ops.Dedup.semanticDedup(corpus, "vec_id", "embedding",
            nPlanes = 12, tau = 0.95)
          .write.format("noop").mode("overwrite").save()
      },
      "x_dedup_spans_1m" -> { s: SparkSession =>
        Graft.install(s)
        // 20M tokens -> ~13M gram instances through the first-occurrence
        // shuffle; mostly-novel corpus, so this measures the full gram
        // exchange + anti-join cost, not a lucky early exit
        val docs = s.read.parquet(docsBenchParquet(s))
        graft.ops.Curation.dedupSpans(docs, "text", "doc_id", n = 8)
          .write.format("noop").mode("overwrite").save()
      },
      "x_lm_score_1m" -> { s: SparkSession =>
        Graft.install(s)
        // 1M docs x 20 tokens over a skewed 50k vocab (pre-written parquet,
        // so the probe times the operator, not the synthetic generator):
        // training is one counted shuffle over 20M occurrences -> 50k
        // distinct rows + a bounded top-V; scoring is map-only under the
        // broadcast model
        val docs = s.read.parquet(docsBenchParquet(s))
        graft.ops.LangModel.lmScore(docs, docs, "text", "doc_id", vocabSize = 10000)
          .write.format("noop").mode("overwrite").save()
      },
      // END-TO-END pipeline: LM quality gate -> exact dedup -> BPE tokenize
      // -> token-budget packing, over the 1M-doc corpus in ONE lineage — the
      // number a "build a training shard" run would see. Every stage is the
      // scale-shaped operator: map-only scoring under a broadcast model, a
      // fingerprint semi-join, broadcast-merges encode, one packing shuffle.
      "x_pipeline_1m" -> { s: SparkSession =>
        Graft.install(s)
        val docs = s.read.parquet(docsBenchParquet(s))
        val lm = graft.ops.LangModel.trainUnigram(docs, "text", vocabSize = 10000)
        val gated = graft.ops.LangModel.surprisal(docs, lm, "text", "doc_id")
          .where("bits_per_tok <= 14").select("doc_id")
          .join(docs, "doc_id")
        val deduped = graft.ops.Dedup.exactDedup(gated, "text", "doc_id")
        val bpe = graft.ops.Bpe.train(deduped, "text", numMerges = 32)
        val toks = deduped
          .withColumn("n_tok", graft.ops.Bpe.nTokCol(deduped, bpe, "text"))
          .withColumn("stratum", org.apache.spark.sql.functions.expr("CAST(doc_id % 16 AS STRING)"))
        graft.ops.Curation.packSequences(toks, "stratum", "doc_id", "n_tok", budget = 2048)
          .write.format("noop").mode("overwrite").save()
      },
      "x_classifier_1m" -> { s: SparkSession =>
        Graft.install(s)
        // model-based curation at scale: 8 full-batch GD steps over 1M docs
        // (each one map-side-combined aggregate of five longs over the
        // persisted 6-double/row feature matrix) + map-only scoring
        val docs = s.read.parquet(docsBenchParquet(s))
        graft.ops.Classifier.qualityClassifier(docs, "text", "doc_id",
            "CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END", iters = 8)
          .write.format("noop").mode("overwrite").save()
      },
      "x_bpe_encode_1m" -> { s: SparkSession =>
        Graft.install(s)
        // BPE end-to-end at scale: train 64 merges on the same 1M-doc/20M-
        // token corpus (one counted shuffle + bounded top-V + driver merge
        // loop), then map-only encode of all 1M docs under the broadcast
        // merge list with the per-executor word memo hot
        val docs = s.read.parquet(docsBenchParquet(s))
        val m = graft.ops.Bpe.train(docs, "text", numMerges = 64, maxWords = 50000)
        graft.ops.Bpe.encode(docs, m, "text", "doc_id")
          .write.format("noop").mode("overwrite").save()
      },
      // Sketch probes: each is one pass over tens of millions of rows with
      // kilobytes of state — the "profile the corpus without shuffling it"
      // regime the sketches exist for.
      "x_hll_20m" -> { s: SparkSession =>
        // 20M rows / ~5M distinct: register file via the counted shuffle
        // (<=512 groups, map-side combined)
        val df = s.range(20000000L).selectExpr("CAST(id % 5000003 AS STRING) AS k")
        graft.ops.Sketches.hllRegisters(df, org.apache.spark.sql.functions.col("k"), p = 9)
          .write.format("noop").mode("overwrite").save()
      },
      "x_cms_20m" -> { s: SparkSession =>
        // count-min over the 1M-doc corpus token stream (20M tokens, skewed
        // 50k vocab): per-partition 4x1024 matrices, one tiny driver merge
        val toks = s.read.parquet(docsBenchParquet(s))
          .selectExpr("explode(split(text, ' ')) AS t")
        val mat = graft.ops.Sketches.countMin(toks,
          org.apache.spark.sql.functions.col("t"), None, d = 4, w = 1024)
        require(mat.sum > 0)
      },
      "x_funnel_20m" -> { s: SparkSession =>
        // ordered funnel over 20M synthetic events / 1M users: one
        // user-keyed shuffle + sorted-group scan with O(#stages) state
        val ev = s.range(20000000L).selectExpr(
          "id % 1000000 AS user_id",
          // vary the type WITHIN each user's event sequence (1e6 % 4 == 0,
          // so a bare id % 4 would give every user a single constant type
          // and the chain-advance state would never run past stage 1)
          "element_at(array('view','click','purchase','error'), CAST((id + id DIV 1000000) % 4 + 1 AS INT)) AS event_type",
          "id * 13 AS ts")
        graft.ops.Funnel.funnel(ev, "user_id", "event_type", "ts",
            Seq("view", "click", "purchase"))
          .write.format("noop").mode("overwrite").save()
      },
      "x_cohort_20m" -> { s: SparkSession =>
        val ev = s.range(20000000L).selectExpr(
          "id % 1000000 AS user_id",
          "CASE WHEN id < 1000000 THEN 'signup' ELSE 'view' END AS event_type",
          "(id % 30) * 86400000000000 + id AS ts")
        graft.ops.Funnel.cohortRetention(ev, "user_id", "event_type", "ts", "signup")
          .write.format("noop").mode("overwrite").save()
      },
      "x_index_1m" -> { s: SparkSession =>
        // inverted index over the 1M-doc / 20M-token corpus: the df-count
        // pass + the term-keyed postings shuffle, maxDf capping postings at
        // 10k ids so no stopword-scale array ever materializes
        val docs = s.read.parquet(docsBenchParquet(s))
        graft.ops.Index.invertedIndex(docs, "text", "doc_id", minDf = 2, maxDf = 10000)
          .write.format("noop").mode("overwrite").save()
      },
      "x_cc_1m" -> { s: SparkSession =>
        // connected components on a 1M-edge graph: 800k nodes in 25k chain
        // blocks of 32 (+ star links to each block head) → ~10 label-
        // propagation iterations over 1M edges with pointer jumps; the
        // iterative operator's proof beyond the 500-doc table. (Diameter is
        // bounded by construction: dedup candidate graphs are star/clique-
        // like; million-hop chains are the documented pathological case.)
        val edges = s.range(1000000L).selectExpr(
          "id % 800000 AS src",
          """CASE WHEN id % 3 = 0 THEN (id % 800000) - (id % 800000) % 32
            |     WHEN (id % 800000) % 32 = 31 THEN id % 800000
            |     ELSE (id % 800000) + 1 END AS dst""".stripMargin)
        val labels = graft.ops.Dedup.connectedComponents(edges, "src", "dst")
        labels.write.format("noop").mode("overwrite").save()
      },
      "x_shuffle_20m" -> { s: SparkSession =>
        // deterministic epoch shuffle at 20M rows: distributed sort on the
        // md5 rank + zipWithIndex's extra count pass
        val df = s.range(20000000L).selectExpr("id AS doc_id")
        graft.ops.Curation.deterministicShuffle(df, "doc_id", "bench")
          .write.format("noop").mode("overwrite").save()
      },
      "x_bloom_20m" -> { s: SparkSession =>
        // build over 100k keys, probe 20M rows map-only under broadcast bits
        val build = s.range(100000L).selectExpr("CAST(id * 7 AS STRING) AS k")
        val bits = graft.ops.Sketches.bloomBits(build,
          org.apache.spark.sql.functions.col("k"), mBits = 1 << 21, k = 3)
        val probe = s.range(20000000L).selectExpr("CAST(id AS STRING) AS k")
        graft.ops.Sketches.bloomProbe(probe,
            org.apache.spark.sql.functions.col("k"), bits, 1 << 21, 3)
          .write.format("noop").mode("overwrite").save()
      },
      // Guest-SPI function over the wire: served through BatchEval /
      // LanguageRuntime.callBatch — pool + compiled-handle lookups amortize
      // per batch server-side instead of repeating per row.
      "x_remote_script_2m" -> { s: SparkSession =>
        Graft.install(s)
        val port = graft.remote.RemoteFixture.port
        val df = s.range(2000000L).selectExpr("id % 100000 AS x")
        graft.remote.RemoteUdf.withRemoteColumn(df, Seq(("127.0.0.1", port)), "script_score",
            Seq("x"), org.apache.spark.sql.types.LongType)
          .write.format("noop").mode("overwrite").save()
      },
      "x_tablefn_16k_x_1k" -> { s: SparkSession =>
        Graft.install(s)
        // reference's range-table-fn benchmark shape (16K invocations),
        // scaled to 1000 output rows each = 16.4M generated rows
        s.sql("SELECT count(*) FROM range(16384) LATERAL VIEW range_setof(1000) t AS v")
          .write.format("noop").mode("overwrite").save()
      },
      // Hot-key join, AQE skew-split path: 20M rows where key 0 holds 25% of
      // the data. AQE splits the oversized partition at runtime.
      "x_skew_join_aqe_20m" -> { s: SparkSession =>
        val fact = s.range(20000000L)
          .selectExpr("CASE WHEN id % 4 = 0 THEN 0 ELSE id % 1024 END AS k", "id AS v")
        val dim = s.range(1024L).selectExpr("id AS k", "id * 7 AS d")
        fact.join(dim, "k").selectExpr("k", "v + d AS x")
          .write.format("noop").mode("overwrite").save()
      },
      // Same shape through the explicit salted-join operator (the tool for
      // hot keys so heavy that even split partitions overwhelm a task).
      "x_skew_join_salted_20m" -> { s: SparkSession =>
        val fact = s.range(20000000L)
          .selectExpr("CASE WHEN id % 4 = 0 THEN 0 ELSE id % 1024 END AS k", "id AS v")
        val dim = s.range(1024L).selectExpr("id AS k", "id * 7 AS d")
        graft.plans.Skew.saltedJoin(fact, dim, "k", salts = 16)
          .selectExpr("k", "v + d AS x")
          .write.format("noop").mode("overwrite").save()
      },
      // CDC retraction replay over lineitem rows: every row inserts, then
      // the l_linenumber=1 slice retracts; the replayed per-key state must
      // equal the batch aggregate over surviving rows. Capped at 200k source
      // rows: the driver-side feed (collect + MemoryStream encode) is bench
      // harness, not operator design — a deployment replays from
      // Kafka/files; the measured work is flatMapGroupsWithState state
      // revision across micro-batches.
      // streaming curation at 100k docs / 100 sources: stateless gopher
      // gate + stateful budget cut across 4 micro-batches; replay must
      // equal the batch gate + seq-order prefix (require, not just timing)
      "x_curation_stream_100k" -> { s: SparkSession =>
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.streaming.Streaming
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        Graft.install(s)
        val good = (1 to 50).map(i => s"tok$i").mkString(
          "the quick data of a scan and ", " ", " end.")
        // junk keyed by the per-source ORDINAL (i/100), not i itself —
        // i%5 would correlate with the i%100 source id (both mod 5) and
        // make 20 sources all-junk
        val docs = (0L until 100000L).map(i =>
          Streaming.DocIn("s" + (i % 100), i,
            if ((i / 100) % 5 == 4) "#### ####" else good))
        val mem = MemoryStream[Streaming.DocIn]
        val oldParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        val q = try Streaming.curationStream(mem.toDS(), minWords = 40,
            budget = 25000L, stopList = Seq("the", "a", "of", "and"))
          .writeStream.format("memory").queryName("x_curation_stream_100k")
          .outputMode("update").start()
        finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
        try {
          docs.grouped(25001).foreach { c =>
            mem.addData(c.toSeq: _*); q.processAllAvailable()
          }
          val n = s.table("x_curation_stream_100k").count()
          // each source: 800 good docs × 58 tokens, budget 25000 → 431 kept
          require(n == 100L * (25000L / 58L),
            s"stream kept $n docs, expected ${100L * (25000L / 58L)}")
        } finally q.stop()
      },
      "x_retract_replay_200k" -> { s: SparkSession =>
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.streaming.Streaming
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = s.read.parquet(s"$sfDir/lineitem.parquet")
          .selectExpr("CAST(l_suppkey % 1000 AS STRING) AS key",
            "l_linenumber = 1 AS doomed", "CAST(l_quantity AS INT) AS v")
          .limit(200000)
          .as[(String, Boolean, Int)].collect()
        val ops = rows.map { case (k, _, v) => Streaming.OpRow(k, op = false, v) } ++
          rows.collect { case (k, true, v) => Streaming.OpRow(k, op = true, v) }
        val mem = MemoryStream[Streaming.OpRow]
        // state-store commits cost per (partition x micro-batch), and 1000
        // keys need few partitions: 8 keeps the fixed overhead honest while
        // still exercising the shuffle
        val oldParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        val q = try Streaming.retractingSum(mem.toDS(), new graft.functions.SumAgg)
          .writeStream.format("memory").queryName("x_retract_replay_200k")
          .outputMode("update").start()
        finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
        try {
          ops.grouped(math.max(1, ops.length / 4 + 1)).foreach { c =>
            mem.addData(c.toSeq: _*); q.processAllAvailable()
          }
          val got = s.table("x_retract_replay_200k").as[Streaming.KeyResult].collect()
            .groupBy(_.key).map { case (k, rs) => k -> rs.last.result }
          val want = rows.filterNot(_._2).groupBy(_._1)
            .map { case (k, vs) => k -> vs.map(_._3.toLong).sum }
          require(got == want, s"retraction replay diverged from batch " +
            s"(got ${got.size} keys, want ${want.size})")
        } finally q.stop()
      },
      // streaming HLL sliding-window replay: 200k dated values over 100 keys
      // x 60 days fed in 4 micro-batches whose id order REVISITS earlier
      // days each batch (late in-retention data) — the final latest-per-
      // (key, day) estimates must equal the batch operator's exactly
      "x_hllwin_replay_200k" -> { s: SparkSession =>
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.streaming.Streaming
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val ns = 86400L * 1000000000L
        val rows = s.range(200000L).selectExpr(
            "CAST(id % 100 AS STRING) AS key",
            "id div 100 % 60 AS day",
            "concat('u', pmod(hash(id), 3000)) AS value")
          .as[(String, Long, String)].collect()
          .map { case (k, d, v) => Streaming.DayKV(k, d, v) }
        val want = graft.ops.TimeSeries.windowedDistinctHll(
            rows.toSeq.toDF("key", "day", "value")
              .selectExpr("key AS k", s"day * ${ns}L AS ts", "value AS e"),
            "k", "ts", "e", windowDays = 7)
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        val mem = MemoryStream[Streaming.DayKV]
        val oldParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        // retention covers the full 60-day span: exact batch parity holds
        val q = try Streaming.hllWindowStream(mem.toDS(), windowDays = 7,
            retainDays = 60)
          .writeStream.format("memory").queryName("x_hllwin_replay_200k")
          .outputMode("update").start()
        finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
        try {
          rows.grouped(rows.length / 4 + 1).foreach { c =>
            mem.addData(c.toSeq: _*); q.processAllAvailable()
          }
          val got = s.table("x_hllwin_replay_200k").as[Streaming.WinEst].collect()
            .groupBy(e => (e.key, e.day)).map { case (k, es) => k -> es.last.est }
          require(got == want, s"hllWindowStream replay diverged from batch " +
            s"(got ${got.size} grid days, want ${want.size})")
        } finally q.stop()
      },
      // streaming trending replay: 500k events over 20 types x 200 days fed
      // in 4 micro-batches whose id order REVISITS earlier days each batch —
      // the final latest-per-(day, rank) top-3 must equal the batch rollup
      // on every day <= the max event day (fan-forward days beyond it are
      // provisional by the operator's contract)
      "x_trend_replay_500k" -> { s: SparkSession =>
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.streaming.Streaming
        import s.implicits._
        import org.apache.spark.sql.functions._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = s.range(500000L).selectExpr(
            "concat('t', pmod(hash(id), 20)) AS event_type",
            "id div 100 % 200 AS day")
          .as[(String, Long)].collect()
          .map { case (t, d) => Streaming.TrendIn(t, d) }
        val dmax = rows.map(_.day).max
        val daily = rows.toSeq.toDF("event_type", "day")
          .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        val fanned = daily.select(col("event_type"), col("c"),
            explode(sequence(col("day"), col("day") + 6)).as("day"))
          .groupBy("day", "event_type").agg(sum("c").as("cnt7"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("day").orderBy(col("cnt7").desc, col("event_type"))
        val want = fanned.where(col("day") <= dmax)
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
          .collect()
          .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getString(1), r.getLong(2))))
          .toMap
        val mem = MemoryStream[Streaming.TrendIn]
        val oldParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        // retainDays = 0: this probe replays 200 days and checks EVERY day
        // against the batch rollup — the explicit unbounded opt-out (the
        // bounded default would correctly freeze days behind its horizon;
        // that contract is x_trend_retain_500k's probe)
        val q = try Streaming.trendingStream(mem.toDS(), retainDays = 0)
          .writeStream.format("memory").queryName("x_trend_replay_500k")
          .outputMode("update").start()
        finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
        try {
          rows.grouped(rows.length / 4 + 1).foreach { c =>
            mem.addData(c.toSeq: _*); q.processAllAvailable()
          }
          val got = s.table("x_trend_replay_500k").as[Streaming.TrendOut].collect()
            .groupBy(e => (e.day, e.rank))
            .map { case (k, es) => k -> ((es.last.eventType, es.last.cnt7)) }
            .filter(_._1._1 <= dmax)
          require(got == want, s"trendingStream replay diverged from batch " +
            s"(got ${got.size} ranked cells, want ${want.size})")
        } finally q.stop()
      },
      // trendingStream RETENTION mode at the same 500k scale: every batch
      // spans all 200 days, so after batch 1 the watermark sits at
      // maxFanDay - retainDays and (a) later revisits to older days drop,
      // freezing those windows at their last in-retention emission, (b) the
      // per-(window-day) state keys behind the horizon evict — final state
      // rows must be ~(retainDays + windowDays), NOT the 206 live days the
      // unbounded twin holds. In-retention days must still equal the batch
      // rollup exactly (their fans were never dropped).
      "x_trend_retain_500k" -> { s: SparkSession =>
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.streaming.Streaming
        import s.implicits._
        import org.apache.spark.sql.functions._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val retain = 14
        val rows = s.range(500000L).selectExpr(
            "concat('t', pmod(hash(id), 20)) AS event_type",
            "id div 100 % 200 AS day")
          .as[(String, Long)].collect()
          .map { case (t, d) => Streaming.TrendIn(t, d) }
        val dmax = rows.map(_.day).max
        val daily = rows.toSeq.toDF("event_type", "day")
          .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        val fanned = daily.select(col("event_type"), col("c"),
            explode(sequence(col("day"), col("day") + 6)).as("day"))
          .groupBy("day", "event_type").agg(sum("c").as("cnt7"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("day").orderBy(col("cnt7").desc, col("event_type"))
        // watermark horizon after ANY batch: every batch's max fanned day is
        // dmax + 6, so days >= dmax + 7 - retain kept full fans throughout
        val safeFrom = dmax + 7 - retain
        val want = fanned.where(col("day") >= safeFrom && col("day") <= dmax)
          .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
          .collect()
          .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getString(1), r.getLong(2))))
          .toMap
        val mem = MemoryStream[Streaming.TrendIn]
        val oldParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        val q = try Streaming.trendingStream(mem.toDS(), retainDays = retain)
          .writeStream.format("memory").queryName("x_trend_retain_500k")
          .outputMode("update").start()
        finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
        try {
          rows.grouped(rows.length / 4 + 1).foreach { c =>
            mem.addData(c.toSeq: _*); q.processAllAvailable()
          }
          val got = s.table("x_trend_retain_500k").as[Streaming.TrendOut].collect()
            .groupBy(e => (e.day, e.rank))
            .map { case (k, es) => k -> ((es.last.eventType, es.last.cnt7)) }
            .filter(kv => kv._1._1 >= safeFrom && kv._1._1 <= dmax)
          require(got == want, s"retention trendingStream diverged from batch " +
            s"on in-retention days (got ${got.size} cells, want ${want.size})")
          val stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
            .last.stateOperators.map(_.numRowsTotal).sum
          require(stateRows <= retain + 7 + 2,
            s"retention did not bound state: $stateRows window-day keys live")
        } finally q.stop()
      },
      // fuzzy edit-distance self-join over 1M ~22-char strings with 250k
      // planted single-char-perturbed near-dups: PassJoin blocking keys +
      // one candidate equi-join; proves the operator beyond 2k part names
      "x_fuzzy_1m" -> { s: SparkSession =>
        val strs = s.range(1000000L).selectExpr("id",
          // ids 4n/4n+1 share a base string; 4n+1 perturbs one char
          """concat('tok', pmod(hash(id div 4), 100000), ' mid',
            |       CASE WHEN id % 4 = 1 THEN 'x' ELSE 'q' END,
            |       pmod(hash(id div 4, 7), 1000), ' tail',
            |       CASE WHEN id % 4 <= 1 THEN pmod(hash(id div 4, 13), 100)
            |            ELSE pmod(hash(id, 17), 100) END) AS s""".stripMargin)
        val n = graft.ops.Fuzzy.fuzzySelfJoin(strs, "id", "s", maxDist = 1).count()
        require(n >= 200000, s"expected >=200k planted near-dup pairs, got $n")
      },
      // O(1)/row rolling extrema over 20M rows / 100 series at w=1000 — the
      // tile decomposition's point: a naive 1000-row frame would do 20G
      // comparisons
      "x_rollext_20m" -> { s: SparkSession =>
        val ev = s.range(20000000L).selectExpr(
          "CAST(id % 100 AS STRING) AS k", "id AS i", "pmod(hash(id), 100000) AS v")
        graft.ops.TimeSeries.rollingExtrema(ev, "k", Seq("i"), "v", window = 1000)
          .write.format("noop").mode("overwrite").save()
      },
      // duplicate-immunity: 1M rows but only 100k distinct strings (10
      // copies each), every distinct pair ≥ 2 edits apart (the value digits
      // appear twice, so one edit can't equate two values) — with k=1 the
      // answer is EXACTLY the same-string diagonal, 100k · C(10,2) = 4.5M
      // id pairs. Candidate verification cost stays distinct-string-sized;
      // only the unavoidable output expansion is 4.5M.
      "x_fuzzy_dup_1m" -> { s: SparkSession =>
        val strs = s.range(1000000L).selectExpr("id",
          "concat('v', id div 10, ' v', id div 10) AS s")
        val n = graft.ops.Fuzzy.fuzzySelfJoin(strs, "id", "s", maxDist = 1).count()
        require(n == 4500000L, s"expected exactly 4.5M diagonal pairs, got $n")
      },
      // small-file compaction: 512 files → few, rows preserved (the
      // maintenance rewrite is one round-robin repartition)
      "x_compact_512f" -> { s: SparkSession =>
        val dir = "/tmp/graft_bench_compact/t"
        org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path("/tmp/graft_bench_compact"), true)
        s.range(2000000L).selectExpr("id", "id % 97 AS v")
          .repartition(512).write.parquet(dir)
        val (b, a, rows) = graft.ops.Warehouse.compact(s, dir, targetBytes = 32L << 20)
        require(b == 512 && a <= 4 && rows == 2000000L,
          s"compact: $b -> $a files, $rows rows")
      },
      // dynamic partition overwrite: replacing ONE day's partition must
      // leave every other partition byte-identical — the idempotent-backfill
      // write pattern every date-partitioned 100 TB table relies on
      "x_dynamic_overwrite" -> { s: SparkSession =>
        val root = "/tmp/graft_bench_dynover"
        org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(root), true)
        val dir = root + "/t"
        s.range(100000L).selectExpr("id", "id % 8 AS day")
          .write.partitionBy("day").parquet(dir)
        s.range(500L).selectExpr("id + 1000000 AS id", "CAST(3 AS BIGINT) AS day")
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(dir)
        val counts = s.read.parquet(dir).groupBy("day").count().collect()
          .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
        require(counts(3L) == 500L && (0L until 8L).filter(_ != 3L)
            .forall(counts(_) == 12500L),
          s"dynamic overwrite corrupted sibling partitions: $counts")
      },
      // C4 battery over 1M derived multi-line pages: one scan, the whole
      // battery a codegen'd projection (the gate's 100 TB cost model)
      "x_c4_1m" -> { s: SparkSession =>
        val pages = s.range(1000000L).selectExpr("id",
          """concat_ws(chr(10),
            |  'This page has a perfectly fine first sentence.',
            |  concat('Row ', id, ' adds one more good sentence here.'),
            |  CASE WHEN id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
            |       ELSE 'And a third sentence keeps it over the bar.' END,
            |  'no terminal punctuation here',
            |  'Enable javascript to continue viewing this content.') AS page""".stripMargin)
        val n = graft.ops.Curation.c4Filter(pages, "page", "id")
          .where(org.apache.spark.sql.functions.col("pass")).count()
        require(n == 1000000L - (1000000L + 6) / 7,
          s"expected all pages except the id%7 lorem kills to pass, got $n")
      },
      // Aho-Corasick blocklist over 1M docs × 200 patterns: ONE automaton
      // pass per doc (per-pattern contains would be 200 corpus scans)
      "x_blocklist_1m" -> { s: SparkSession =>
        Graft.install(s)
        val pats = (0 until 200).map(i => s"'w$i'").mkString(", ")
        val hits = s.read.parquet(docsBenchParquet(s))
          .selectExpr(s"size(blocklist_matches(text, array($pats))) AS nh")
          .agg(org.apache.spark.sql.functions.sum("nh")).head().getLong(0)
        require(hits > 100000L, s"expected >100k pattern hits, got $hits")
      },
      // 2M jaro_winkler scorings, map-only: the codegen kernel's throughput
      "x_jw_2m" -> { s: SparkSession =>
        Graft.install(s)
        val n = s.range(2000000L).selectExpr(
            "concat('record name ', id) AS a",
            "concat('record name ', id + 1, 'x') AS b")
          .selectExpr("jaro_winkler(a, b) AS sim")
          .where(org.apache.spark.sql.functions.col("sim") > 0.8).count()
        require(n > 1900000L, s"expected >1.9M high-sim pairs, got $n")
      },
      // sorted-neighborhood linkage at 1M rows, window 4: distributed
      // sort-rank + 3M-row successor equi-join — never O(n^2)
      "x_sneighbor_1m" -> { s: SparkSession =>
        Graft.install(s)
        val strs = s.range(1000000L).selectExpr("id",
          // ids 2n/2n+1 share a name stem differing in the last char, so
          // each planted pair is adjacent after the sort
          "concat('name', id div 2, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END) AS s")
        val n = graft.ops.Fuzzy.sortedNeighborhood(strs, "id", "s",
          window = 4, minSim = 0.9).count()
        require(n >= 500000L, s"expected >=500k planted adjacent pairs, got $n")
      },
      // token-budget mixture over 20M docs / 100 sources: one per-stratum
      // window pass
      "x_token_mix_20m" -> { s: SparkSession =>
        val docs = s.range(20000000L).selectExpr(
          "CAST(id % 100 AS STRING) AS src", "id",
          "100 + pmod(hash(id), 50) AS n_tok")
        val kept = graft.ops.Curation.tokenBudgetMix(docs, "src", "id", "n_tok",
          budget = 10000000L, salt = "bx").count()
        require(kept > 1000000L, s"expected >1M docs within budget, got $kept")
      },
      // rolling z-score flags over 20M events / 100 series: one hash
      // exchange + a bounded 50-row frame
      "x_anomaly_20m" -> { s: SparkSession =>
        val ev = s.range(20000000L).selectExpr(
          "CAST(id % 100 AS STRING) AS k", "id AS i",
          "CASE WHEN id % 997 = 0 THEN 50000 + pmod(hash(id), 100) " +
            "ELSE 100 + pmod(hash(id), 7) END AS v")
        graft.ops.TimeSeries.anomalyFlags(ev, "k", Seq("i"), "v", window = 50)
          .write.format("noop").mode("overwrite").save()
      },
      // bucketed co-located join: both sides written bucketed+sorted on the
      // key, so the sort-merge join needs NO shuffle and NO sort — the plan
      // is asserted exchange-free. At 100 TB this is the difference between
      // joining in place and moving both tables over the network.
      "x_bucketed_join" -> { s: SparkSession =>
        bucketedTablesFixture(s) // no-op when already built (pre-built outside the timed loop)
        val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = s.table("graft_bl").join(s.table("graft_br"), "k")
            .selectExpr("k", "va + vb AS v")
          val plan = j.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange hashpartitioning"),
            "bucketed join should not shuffle")
          j.write.format("noop").mode("overwrite").save()
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      },
      // partition-pruned scan: a day-partitioned write, then a one-day
      // filter that must prune at planning time (PartitionFilters in the
      // scan, ~1/64 of the files read) — the other half of not-reading
      // 100 TB. The full-scan count is measured alongside for contrast.
      "x_partition_prune" -> { s: SparkSession =>
        val dir = "/tmp/graft_bench_part_events"
        if (!new java.io.File(dir, "_SUCCESS").isFile)
          s.range(10000000L).selectExpr("id", "id % 64 AS day", "id % 997 AS v")
            .write.partitionBy("day").mode("overwrite").parquet(dir)
        val one = s.read.parquet(dir).where("day = 17")
        val plan = one.queryExecution.executedPlan.toString
        require(plan.contains("PartitionFilters: [isnotnull(day"),
          s"day filter did not reach partition pruning")
        require(one.count() == 10000000L / 64,
          "pruned scan returned wrong row count")
      },
      // 2-itemset mining over the 1M-doc corpus (every 20th doc carries a
      // planted correlated pair): frequent-term prune first, then the
      // doc-keyed pair self-join over surviving terms only
      "x_cooccur_1m" -> { s: SparkSession =>
        val docs = s.read.parquet(docsBenchParquet(s))
          .selectExpr("doc_id",
            "CASE WHEN doc_id % 20 = 0 THEN concat(text, ' kwa kwb') ELSE text END AS text")
        val top = graft.ops.Index.coOccurrence(docs, "text", "doc_id",
          minSup = 2000L, topK = 100).collect()
        require(top.exists(r => r.getString(0) == "kwa" && r.getString(1) == "kwb"
            && r.getLong(2) == 50000L),
          "planted pair (kwa, kwb) not mined at its exact support")
      },
      // interval-union sweep over 20M overlapping intervals / 1000 keys:
      // one shuffle + one sort, O(1)/row island marker
      "x_interval_union_20m" -> { s: SparkSession =>
        val iv = s.range(20000000L).selectExpr("id % 1000 AS k",
          "(id div 1000) * 7 + pmod(hash(id), 5) AS s0",
          "(id div 1000) * 7 + 10 + pmod(hash(id, 3), 5) AS e0")
        graft.ops.TimeSeries.intervalCoverage(iv, "k", "s0", "e0")
          .write.format("noop").mode("overwrite").save()
      },
      // group percentiles + winsorize clip over 20M rows / 100 groups:
      // one windowed rank pass + a broadcast bounds join
      "x_winsorize_20m" -> { s: SparkSession =>
        val df = s.range(20000000L).selectExpr("CAST(id % 100 AS STRING) AS k",
          "pmod(hash(id), 1000000) AS v")
        graft.ops.Profile.winsorize(df, "k", "v", pLo = 1, pHi = 99)
          .write.format("noop").mode("overwrite").save()
      },
      // (the old rows-count-only x_dq_20m is superseded by the planted-
      // violation-count version in the warehouse battery below)
      // qsketch register build over 20M values across 100 keys: one
      // counted shuffle into <= ~960 bins/key
      "x_qsketch_20m" -> { s: SparkSession =>
        val df = s.range(20000000L).selectExpr("CAST(id % 100 AS STRING) AS k",
          "id * 37 % 1000000007 AS v")
        graft.ops.Sketches.qsketchRegisters(df, "k", "v")
          .write.format("noop").mode("overwrite").save()
      },
      // (x_global_prefix_20m superseded by the 100M-row probe in the
      // 100×-scale battery below)
      // 4-hop BFS over a 1M-edge ring-with-chords graph from 1k seeds:
      // per-hop frontier joins + min aggregates, localCheckpoint-truncated
      "x_bfs_1m" -> { s: SparkSession =>
        val edges = s.range(1000000L).selectExpr("id AS a",
          "pmod(id + 1 + pmod(hash(id), 97), 1000000) AS b")
        val seeds = s.range(1000L).selectExpr("id * 1000 AS id")
        val n = graft.ops.Dedup.bfsDistances(edges, "a", "b", seeds, "id",
          maxHops = 4).count()
        require(n >= 1000L, s"expected >= 1k reached nodes, got $n")
      },
      // sliding 7-day exact distincts over 10M events (1k keys × 200 days,
      // ~70M fanned rows into the distinct aggregate): the deduplicated-
      // daily fan-out + day-grid left join at scale
      "x_window_distinct_10m" -> { s: SparkSession =>
        val ev = s.range(10000000L).selectExpr("id % 1000 AS k",
          "(id div 1000 % 200) * 86400000000000 + id AS ts",
          "pmod(hash(id), 50000) AS e")
        graft.ops.TimeSeries.windowedDistinct(ev, "k", "ts", "e", windowDays = 7)
          .write.format("noop").mode("overwrite").save()
      },
      // sliding 7-day APPROXIMATE distinct via HLL day-registers on a
      // heavy-day fixture (10 keys × 100 days × 10k events, ~9k distinct
      // entities per key-day): each day collapses to ≤512 register rows
      // before the window fan-out — ~17× fewer fanned rows than the exact
      // formulation would produce here, the gap that widens with entity
      // count at 100 TB. Accuracy is GATED, not argued: one key's slice is
      // compared against the exact operator (p=9 ⇒ σ≈4.6%).
      "x_window_distinct_hll_10m" -> { s: SparkSession =>
        def ev = s.range(10000000L).selectExpr("id % 10 AS k",
          "(id div 10 % 100) * 86400000000000 + id AS ts",
          "pmod(hash(id), 50000) AS e")
        val n = graft.ops.TimeSeries.windowedDistinctHll(
            ev, "k", "ts", "e", windowDays = 7)
          .where("est > 0").count()
        require(n == 1000L, s"expected the full 10x100 day grid, got $n")
        val slice = ev.where("k = 0")
        val exact = graft.ops.TimeSeries.windowedDistinct(slice, "k", "ts", "e", 7)
          .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
        val est = graft.ops.TimeSeries.windowedDistinctHll(slice, "k", "ts", "e", 7)
          .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
        val errs = exact.toSeq.collect { case (d, nd) if nd > 0 =>
          math.abs(est(d) - nd).toDouble / nd }
        val worst = errs.max
        val mean = errs.sum / errs.size
        require(worst <= 0.15 && mean <= 0.08,
          f"HLL windowed distinct rel-err worst=$worst%.3f mean=$mean%.3f " +
            "above (0.15, 0.08) floors")
      },
      // SCD2 over a 20M-row changelog (100k keys × 200 versions-ish): one
      // key shuffle, both windows on one sort; distinct-until-changed keeps
      // only ~1/4 of rows (state cycles with period-4 noise)
      "x_scd2_20m" -> { s: SparkSession =>
        val log = s.range(20000000L).selectExpr("id % 100000 AS k",
          "id div 100000 AS ts", "id AS tid",
          "CAST(pmod(hash(id), 4) AS STRING) AS st")
        graft.ops.Warehouse.scd2(log, "k", "ts", "tid", Seq("st"))
          .write.format("noop").mode("overwrite").save()
      },
      // keyed snapshot diff of two 20M-row snapshots (~1/16 keys changed,
      // 1/31 added, 1/37 removed): SMJ full outer, delta-sized output
      "x_snapshot_diff_20m" -> { s: SparkSession =>
        val base = s.range(20000000L).selectExpr("id AS k", "hash(id) AS v")
        val old = base.where("k % 31 != 0")
        val neu = base.where("k % 37 != 0")
          .selectExpr("k", "CASE WHEN k % 16 = 0 THEN v + 1 ELSE v END AS v")
        graft.ops.Warehouse.snapshotDiff(old, neu, Seq("k"), Seq("v"))
          .write.format("noop").mode("overwrite").save()
      },
      // weighted sampling: 10k winners from 1M docs across 10 strata,
      // ticket mins map-only, bounded-heap top-k selection
      "x_weighted_sample_1m" -> { s: SparkSession =>
        val docs = s.read.parquet(docsBenchParquet(s))
          .selectExpr("doc_id", "pmod(hash(doc_id), 10) AS stratum",
            "pmod(hash(doc_id, 3), 8) + 1 AS w")
        val n = graft.ops.Curation.weightedSample(docs, "doc_id", "stratum",
          org.apache.spark.sql.functions.col("w"), k = 1000, salt = "bench").count()
        require(n == 10000L, s"expected 10k winners, got $n")
      },

      // ---- 100×-scale battery: the heavy pipeline operators at 2M–100M
      // rows, each plan-shape ASSERTED (no single-partition exchange, no
      // cartesian — PlanAudit.assertScaleShape; PlanShapeSpec asserts the
      // same shapes per-stage at unit scale) before being timed, with
      // planted exact-count invariants so a silently-broken op can't post a
      // fast time. These are the operators a 100 TB user actually runs hot.

      // full near-dedup pipeline (minhash → LSH bands → verify → CC → anti
      // join) over 2M docs: 100k planted identical pairs, the rest
      // token-unique — survivor count is exact
      "x_near_dedup_2m" -> { s: SparkSession =>
        Graft.install(s)
        val docs = s.range(2000000L).selectExpr("id AS doc_id",
          """array_join(transform(sequence(0, 9), j -> concat('w',
            |  pmod(hash(CASE WHEN id % 20 < 2 THEN id div 20
            |            ELSE 2000000 + id END, j), 1000000000))), ' ') AS text""".stripMargin)
        val out = graft.ops.Dedup.nearDedupCorpus(docs, "text", "doc_id")
        PlanAudit.assertScaleShape(out, "x_near_dedup_2m")
        val n = out.count()
        require(n == 1900000L, s"expected exactly 1.9M survivors, got $n")
      },
      // exact global rank + running sum over 100M rows: ONE range shuffle
      // (hidden behind the DISK_ONLY checkpoint) + the codegen'd
      // PartitionRunningSum attachment — the post-checkpoint plan must hold
      // ZERO shuffle exchanges (a Window.partitionBy(__pid) regression
      // would plan one and fail this budget)
      "x_global_prefix_100m" -> { s: SparkSession =>
        val df = s.range(100000000L).selectExpr("id", "hash(id) AS v")
        val out = graft.ops.Rank.globalPrefix(df,
          Seq(org.apache.spark.sql.functions.col("v").desc,
            org.apache.spark.sql.functions.col("id").asc), "v")
        PlanAudit.assertScaleShape(out, "x_global_prefix_100m", maxShuffles = 0)
        out.write.format("noop").mode("overwrite").save()
      },
      // incremental SCD2 merge: 1M-row batch applied to a ~19M-row parquet
      // history (100k live keys) — closed history passes through untouched,
      // only seeds + batch enter the shuffle; exactly one open version per
      // key must survive
      "x_scd2_apply_20m" -> { s: SparkSession =>
        val hist = s.read.parquet(scd2HistParquet(s))
        val batch = s.range(1000000L).selectExpr("id % 100000 AS k",
          "200 + id div 100000 AS ts", "id AS tid",
          "CAST(pmod(hash(id, 5), 4) AS STRING) AS st")
        val out = graft.ops.Warehouse.scd2Apply(hist, batch, "k", "ts", "tid",
          Seq("st"))
        PlanAudit.assertScaleShape(out, "x_scd2_apply_20m")
        val opens = out.where("valid_to IS NULL").count()
        require(opens == 100000L, s"expected 100k open versions, got $opens")
      },
      // full DQ battery over 20M rows with PLANTED violation counts per
      // check: the scan checks (not_null / range / accepted / predicate)
      // fold into ONE aggregation pass over the table; unique adds one
      // key-shuffle agg; ref adds one broadcast-dim join. The one-row
      // funnel at the end is inherent to a report (and carries #checks
      // longs, not data), so this probe gates exact counts, not plan shape.
      "x_dq_20m" -> { s: SparkSession =>
        val df = s.range(20000000L).selectExpr(
          "id",
          "IF(pmod(id, 1000000) = 3, NULL, id) AS v",              // 20 nulls
          "pmod(id, 100) + IF(pmod(id, 2000000) = 11, 1000, 0) AS r", // 10 over
          "IF(pmod(id, 4000000) = 13, 'junk', CAST(pmod(id, 4) AS STRING)) AS st", // 5 bad
          "IF(pmod(id, 5000000) = 17, 0, id) AS uk",               // key 0: 5 rows
          "CAST(IF(pmod(id, 2000000) = 19, 1000 + pmod(id, 7), pmod(id, 1000)) AS BIGINT) AS fk") // 10 dangling
        val dim = s.range(1000L).selectExpr("id AS pk")
        val rep = graft.ops.Warehouse.dqReport(df,
          notNull = Seq("v"),
          unique = Seq(Seq("uk")),
          ranges = Seq(("r", 0L, 99L)),
          accepted = Seq(("st", Seq("0", "1", "2", "3"))),
          refs = Seq(("fk", dim, "pk")),
          predicates = Seq(("v_matches_id", "v IS NULL OR v = id")))
        val got = rep.collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap       // ≤ 6 rows
        val want = Map(
          "not_null:v" -> 20L, "range:r[0,99]" -> 10L, "accepted:st" -> 5L,
          "predicate:v_matches_id" -> 0L, "unique:uk" -> 4L,
          "ref:fk->pk" -> 10L)
        require(got == want, s"dq report mismatch: $got vs $want")
      },
      // k-anonymity audit over 20M rows × 200k quasi-identifier groups with
      // 20 PLANTED singleton groups: one groupBy + filter, violators-only
      // output (the privacy scan is a single shuffle at any scale)
      "x_kanon_20m" -> { s: SparkSession =>
        val df = s.range(20000000L).selectExpr(
          "IF(id < 20, 1000000 + id, pmod(id, 100000)) AS q1",
          "pmod(id, 2) AS q2")
        val out = graft.ops.Warehouse.kAnonymity(df, Seq("q1", "q2"), k = 5)
        PlanAudit.assertScaleShape(out, "x_kanon_20m")
        val rows = out.collect()                                // violators only
        require(rows.length == 20 && rows.forall(_.getLong(2) == 1L),
          s"expected 20 singleton violator groups, got ${rows.length}")
      },
      // sorted-neighborhood linkage over 4M strings (4× the 1M probe):
      // distributed sort + rank fan-out equi-join, 2M planted adjacent pairs
      "x_sneighbor_4m" -> { s: SparkSession =>
        Graft.install(s)
        val strs = s.range(4000000L).selectExpr("id",
          "concat('name', id div 2, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END) AS s")
        val out = graft.ops.Fuzzy.sortedNeighborhood(strs, "id", "s",
          window = 4, minSim = 0.9)
        PlanAudit.assertScaleShape(out, "x_sneighbor_4m")
        val n = out.count()
        require(n >= 2000000L, s"expected >=2M planted adjacent pairs, got $n")
      },
      // the q_curate_v7 funnel at 1M docs: near-dedup → C4 → gopher → LM →
      // classifier → span-dedup → budget mix → pack → epoch order, with
      // every gate PLANTED to fire (dup pairs ÷20, brace pages ÷11, symbol
      // spam ÷17, classifier label ÷2) and the funnel reported from ONE
      // flag-aggregation pass. Budget: ≤120 s warm on local[32] (README).
      "x_curate_1m" -> { s: SparkSession => curateFunnel(s, 1000000L, "x_curate_1m") },
      // the SAME planted funnel one order of magnitude up: proves every
      // stage's shuffles scale linearly — no hidden super-linear term in
      // CC, gram exchange, classifier GD, or the mix/pack tail. Budget:
      // ≤ ~10× the 1M probe on a quiet host.
      "x_curate_10m" -> { s: SparkSession => curateFunnel(s, 10000000L, "x_curate_10m") },

      // exact-substring span dedup over 2M docs × 16 tokens (32M tokens,
      // ~18M gram instances through the first-occurrence shuffle); ids
      // 10n/10n+1 share a 12-token prefix so planted 8-gram spans dedup
      "x_dedup_spans_2m" -> { s: SparkSession =>
        Graft.install(s)
        val docs = s.range(2000000L).selectExpr("id AS doc_id",
          """array_join(transform(sequence(0, 15), j -> concat('w',
            |  pmod(hash(CASE WHEN id % 10 < 2 AND j < 12
            |                 THEN CAST(id div 10 * 100 + j AS BIGINT)
            |            ELSE CAST(hash(id, j) AS BIGINT) END), 1000000000))), ' ') AS text""".stripMargin)
        val out = graft.ops.Curation.dedupSpans(docs, "text", "doc_id", n = 8)
        PlanAudit.assertScaleShape(out, "x_dedup_spans_2m")
        out.write.format("noop").mode("overwrite").save()
      },
    )
    // A named run selects exactly the matching probes; the default battery
    // leaves out the heavy x_curate_10m (its 1M twin carries the same plan
    // asserts) and the bench-redundant twins below.
    val named = args.nonEmpty
    val heavyOnly = Set("x_curate_10m")
    // Bench-redundant oracle gates: each stays a full correctness gate in
    // Verify, but its bench cost duplicates a twin already in the battery
    // (the same wire or marshalling exchange its gcd/arrow twin times).
    val benchRedundant = Set(
      // error-column twins: same wire exchange as their gcd twin, plus the
      // identical per-row containment q_div_error/q_wasm_div_error measure
      "q_js_div_error", "q_python_div_error", "q_remote_div_error",
      "q_flight_div_error", "q_flight_stream_div_error",
      // decimal-over-wire twins of the gcd exchanges (q_decimal_add keeps
      // decimal arithmetic itself measured)
      "q_remote_decimal", "q_flight_decimal",
      // source/sink roundtrips: q_arrow_roundtrip keeps the shape; the
      // format-specific parse costs don't gate any operator decision
      "q_csv_roundtrip", "q_jsonl_roundtrip", "q_orc_roundtrip",
      // foreign-fixture twins of the q_wasm_rustc_* battery (same kernels,
      // different build provenance — identical execution profile)
      "q_wasm_real_math", "q_wasm_real_binary", "q_wasm_real_table",
      "q_wasm_real_agg",
      // table-function-over-wire twins of q_flight_split/q_script_table
      "q_js_split", "q_python_split")
    val selected: String => Boolean =
      if (named) n => args.exists(n.contains) else n => !heavyOnly(n) && !benchRedundant(n)
    val probes: Seq[Probe] =
      throughput.filter(p => selected(p._1)).map { case (name, fn) =>
        Probe(name, () => fn(liveSession())) } ++
      SparkEntry.queries.toSeq.sortBy(_._1).filter(p => selected(p._1)).map { case (name, fn) =>
        Probe(name, () => fn(liveSession(), sfDir).write.format("noop").mode("overwrite").save())
      }

    // one-time inputs and servers, built before pass 1 so no probe's first
    // sample pays for them
    val fixtures = Seq(
      Fixture(Seq("x_wasm_perrow_10m", "x_wasm_batched_10m"),
        () => wasmBenchParquet(liveSession())),
      Fixture(Seq("x_wasm_str_", "x_wasm_marshal_"), () => docsBenchParquet(liveSession())),
      Fixture(Seq("x_ann_", "x_lsh_join_1m"), () => annBenchParquet(liveSession())),
      Fixture(Seq("x_ann_recall_1m"), () => annClusteredParquet(liveSession())),
      Fixture(Seq("x_scd2_apply_20m"), () => scd2HistParquet(liveSession())),
      Fixture(Seq("x_bucketed_join"), () => bucketedTablesFixture(liveSession())),
      // the pyarrow server pool (python + pyarrow import)
      Fixture(Seq("x_flight_perchunk_", "x_flight_stream_"),
        () => graft.remote.flight.FlightWorker.endpoints),
      // graft's own servers, with the registry they serve
      Fixture(Seq("x_flight_srv_stream_", "x_flight_throughput_5m"),
        () => { graft.functions.Builtins.ensureRegistered(); graft.remote.flight.FlightFixture.port }),
      Fixture(Seq("x_remote_throughput_5m", "x_remote_script_2m"),
        () => { graft.functions.Builtins.ensureRegistered(); graft.remote.RemoteFixture.port }))

    val loadBefore = loadavgJson()
    val (outcomes, budgetHit) = sample(probes, fixtures, named, () => System.nanoTime() / 1e9,
      (name, timed) => {
        val sc = liveSession().sparkContext // a rebuild stays outside the timed window
        Ledger.begin(sc)
        val t = timed()
        Ledger.end(sc, name, t)
        t
      })
    val loadAfter = loadavgJson()
    val results = outcomes.map(o => (o.name, o.value, o.samples))
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, _, ss) =>
      "\"" + k + "\":[" + ss.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalStr = f"$total%.3f"
    val ncpus = Runtime.getRuntime.availableProcessors()
    // SPARK_GRAFT_CPUS is a free-form string (it also names the BENCHFULL
    // file); a non-numeric value must not corrupt the JSON lines
    val cpusNum = scala.util.Try(cpus.trim.toInt).getOrElse(ncpus)
    // session_overhead = SparkSession build + warm-up query (paid once per
    // JVM); "queries" are steady-state only
    val jsonLine =
      s"""{"metric":"total","value":$totalStr,"unit":"sec","cpus":$cpusNum,"queries":$qs,"reps":$repsJson,"session_overhead":${f"$overheadSec%.3f"},"loadavg_at_entry":$loadAtEntry,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"ncpus":$ncpus,"budget_hit":$budgetHit,"heavy_skipped":${if (named) "[]" else heavyOnly.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(jsonLine)
    // The complete line, with the per-sample ledger, goes to a file: the
    // driver keeps only the tail of stdout. The default name is per core
    // count, so a run at 8 cores does not overwrite the one at 32.
    val ledgerJson = Ledger.records
      .map { case (k, rs) => "\"" + k + "\":" + rs.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCHFULL", s"BENCHFULL_c$cpus.json")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
        jsonLine.dropRight(1) + ",\"ledger\":" + ledgerJson + "}\n")
      System.err.println(s"[bench] full per-query JSON written to $fullPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write BENCHFULL: ${e.getMessage}")
    }
    // The summary line, printed last, stays well under the ~2000 chars of
    // stdout the driver keeps: totals, counts, the top 12 families by time,
    // and geomean speedups against SPARK_GRAFT_BENCH_PREV
    // (BENCHFULL_prev.json by default).
    val nFailed = results.count(_._2 < 0)
    // family = "tpch" for q<digit>… names, else the first '_'-token after
    // the q_/x_ prefix (curate, wasm, lm, fuzzy, …)
    def family(name: String): String =
      if (name.matches("^q[0-9].*")) "tpch"
      else {
        val base = name.stripPrefix("q_").stripPrefix("x_")
        val f = base.takeWhile(_ != '_')
        if (f.isEmpty) base else f
      }
    val famSec = results.filter(_._2 > 0).groupBy(r => family(r._1))
      .map { case (f, rs) => f -> rs.map(_._2).sum }
      .toSeq.sortBy(-_._2).take(12)
    val famSecJson = famSec
      .map { case (f, s) => s""""$f":${f"$s%.2f"}""" }.mkString("{", ",", "}")
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCHFULL_prev.json")
    // Never compare across CPU counts: an 8-core run diffed against a
    // 32-core prev would print a bogus ~0.3-0.5 "regression" in the summary
    // line. The prev capture must match on both the session's cores
    // ("cpus") and the host's ("ncpus"); a capture missing either field is
    // not compared, and the line says so with "prev_cpus_assumed":true.
    var prevCpusAssumed = false
    val (geoStr, nCommon, nImp, nReg, famGeoJson) = try {
      val prevTxt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(prevPath)))
      def intField(name: String): Option[Int] =
        raw""""$name":(\d+)""".r.findFirstMatchIn(prevTxt).map(_.group(1).toInt)
      val (prevCpus, prevNcpus) = (intField("cpus"), intField("ncpus"))
      prevCpusAssumed = prevCpus.isEmpty || prevNcpus.isEmpty
      // extract the "queries" object of our own one-line format
      val qStart = prevTxt.indexOf("\"queries\":{")
      if (qStart < 0 || prevCpus != Some(cpusNum) || prevNcpus != Some(ncpus))
        ("null", 0, 0, 0, "null")
      else {
        val body = prevTxt.substring(qStart + 11, prevTxt.indexOf('}', qStart))
        val pair = """"([^"]+)":(-?[0-9.]+)""".r
        val prevMap = pair.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val speedups = results.collect {
          case (k, v, _) if v > 0 && prevMap.getOrElse(k, -1.0) > 0 =>
            k -> prevMap(k) / v // speedup: >1 = faster now
        }
        val common = speedups.map(_._2)
        if (common.isEmpty) ("null", 0, 0, 0, "null")
        else {
          val geo = math.exp(common.map(math.log).sum / common.size)
          // same top-by-time family set as famSec, geomean of its members'
          // speedups — the per-family round-over-round signal the tail keeps
          val byFam = speedups.groupBy(p => family(p._1))
          val famGeo = famSec.flatMap { case (f, _) =>
            byFam.get(f).filter(_.nonEmpty).map { ss =>
              val g = math.exp(ss.map(p => math.log(p._2)).sum / ss.size)
              s""""$f":${f"$g%.3f"}"""
            }
          }.mkString("{", ",", "}")
          (f"$geo%.4f", common.size,
            common.count(_ > 1.10), common.count(_ < 0.90), famGeo)
        }
      }
    } catch { case _: Throwable => ("null", 0, 0, 0, "null") }
    val summaryLine =
      s"""{"metric":"total","value":$totalStr,"unit":"sec","n":${results.size},"n_failed":$nFailed,"failed":${results.filter(_._2 < 0).map("\"" + _._1 + "\"").mkString("[", ",", "]")},"cpus":$cpusNum,"ncpus":$ncpus,"budget_hit":$budgetHit,"session_overhead":${f"$overheadSec%.3f"},"geomean_speedup_vs_prev":$geoStr,"prev_cpus_assumed":$prevCpusAssumed,"n_common":$nCommon,"n_improved_10pct":$nImp,"n_regressed_10pct":$nReg,"family_sec":$famSecJson,"family_geomean_vs_prev":$famGeoJson,"prev_file":"$prevPath","benchfull":"$fullPath","sf":"$sfDir"}"""
    println(summaryLine)
    spark.stop()
  }
}
