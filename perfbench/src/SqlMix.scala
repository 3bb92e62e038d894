package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The interactive SQL-with-UDFs path: `SparkEntry.queries` entries that have
  * an oracle, run over seeded tables (perfbench/gen_tables.py), each result
  * written the way `graft.Verify` writes it. A pass runs each query of
  * `SqlMix.Queries` once, in an order drawn from the seed (a smoke run takes
  * the first three of that order). The results are compared with DuckDB by
  * run.py after the run. */
final class SqlMix(a: Args, out: Out) extends Workload {
  private val pool: Seq[String] = {
    val drawn = new scala.util.Random(a.seed).shuffle(SqlMix.Queries)
    if (a.smoke) drawn.take(3) else drawn
  }
  private var spark: SparkSession = _
  def sessions: Seq[SparkSession] = Seq(spark)

  /** The seeded tables run.py writes before the JVM starts. */
  private val dir = new File(a.out, "tables").getAbsolutePath

  def setup(): Unit = {
    spark = Main.session(a)
    Tracer.span("Graft.install", "Graft")(graft.Graft.install(spark))
    // the shared fixtures and sidecar pools the remote queries call, started
    // here whichever queries were drawn
    graft.remote.RemoteFixture.port
    graft.remote.flight.FlightFixture.port
    graft.remote.PythonWorker.endpoints
    graft.remote.JsWorker.endpoints
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(a.out, "oracle_sql.json"),
      Out.json(pool.map(n => n -> oracle(n)).toMap))
  }

  def teardown(): Unit = if (spark != null) { Main.stopSession(spark); spark = null }

  def pass(p: Int): Unit = pool.foreach { name =>
    val result = new File(a.out, s"results/$p-$name").getPath
    var err: String = null
    val t0 = System.nanoTime()
    try Tracer.span(name, "bench", newOp = true) {
      val df = Tracer.span("SparkEntry.build", "SparkEntry")(graft.SparkEntry.queries(name)(spark, dir))
      Tracer.span("action", "exec")(df.coalesce(1).write.mode("overwrite").parquet(result))
    } catch { case e: Throwable => err = String.valueOf(e).take(500) }
    out.emit("kind" -> "op", "pass" -> p, "name" -> name, "s" -> (System.nanoTime() - t0) / 1e9,
      "ok" -> (err == null), "error" -> Option(err), "result" -> result)
  }
}

object SqlMix {
  /** A quantile sample of the whole oracle battery: with all 265 oracle
    * queries ranked by their warm time (one warm-up and one timed pass over
    * the seed-1 tables, 4 vCPUs), the queries at the 0.1, 0.3, 0.5, 0.7 and
    * 0.9 quantiles. The sample's mean query time (1.34 s) and SparkEntry
    * build share (0.64) are close to the battery's (1.40 s, 0.70). A fixed
    * sample keeps runs with different seeds comparable: a per-seed draw of
    * five queries varies pass and tail times across seeds by more than the
    * benchmark's bounds. */
  val Queries: Seq[String] =
    Seq("q_wasm_rustc_math", "q_js_sum_udaf", "q13_custdist", "q_bpe_roundtrip", "q_window_distinct_hll")
}
