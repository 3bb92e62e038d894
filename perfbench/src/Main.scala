package perfbench

import java.io.{File, FileWriter, PrintWriter}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (see perfbench/run.py, which builds and
  * launches it):
  *
  * {{{
  * perfbench.Main --workload <udf_ladder|sql_mix> --seed <n> --seconds <s>
  *                --trace <0|1> --out <dir> --t0-ns <epoch ns>
  *                [--size full|smoke] [--corrupt <op name>]
  * }}}
  *
  * `--t0-ns` is the wall-clock instant (ns since the epoch) the run started,
  * before its inputs were generated; set-up time counts from there. It writes
  * `samples.jsonl` (one JSON object per setup, pass and op) and,
  * with `--trace 1`, `spans.jsonl` into `--out`. Metrics are derived from
  * those files by run.py. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      out: String, t0Ns: Long, smoke: Boolean, corrupt: Option[String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("out"), m("t0-ns").toLong, m.get("size").contains("smoke"), m.get("corrupt"))
  }
}

/** JSON-lines sink for samples and spans. */
final class Out(path: String) {
  private val w = new PrintWriter(new FileWriter(path))
  def emit(fields: (String, Any)*): Unit = synchronized { w.println(Out.json(fields.toMap)); w.flush() }
  def close(): Unit = w.close()
}

object Out {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

/** Host-side counters read around single ops. */
object Host {
  private def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)))

  /** Loopback bytes received so far (one direction, so each byte counts once). */
  def loBytes(): Long = read("/proc/net/dev").linesIterator.map(_.trim)
    .find(_.startsWith("lo:")).map(_.stripPrefix("lo:").trim.split("\\s+")(0).toLong).getOrElse(0L)

  /** CPU seconds used so far by this JVM's child processes (the sidecars). */
  def childCpuS(): Double = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.current().descendants().iterator().asScala
      .map(_.info().totalCpuDuration().map[java.lang.Long](_.toNanos).orElse(0L).toLong).sum / 1e9
  }

  /** Peak RSS in MB of this JVM plus every child process still running. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    val pids = ProcessHandle.current().pid() +:
      ProcessHandle.current().descendants().iterator().asScala.map(_.pid()).toSeq
    pids.map { pid =>
      try read(s"/proc/$pid/status").linesIterator.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      catch { case _: Exception => 0.0 }
    }.sum
  }

  /** Stop every child process and wait until each has exited. */
  def stopChildren(): Unit = {
    import scala.jdk.CollectionConverters._
    val kids = ProcessHandle.current().descendants().iterator().asScala.toSeq
    kids.foreach(_.destroy())
    kids.foreach { k =>
      try k.onExit().get(5, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: Exception => k.destroyForcibly(); k.onExit().get() }
    }
  }
}

/** One benchmark workload: built by `setup`, measured by repeated `pass`es. */
trait Workload {
  /** Build everything a pass needs: session, Graft.install, inputs, fixtures. */
  def setup(): Unit
  /** Run the fixed op list once. */
  def pass(p: Int): Unit
  /** Release what `setup` built. */
  def teardown(): Unit
  /** The sessions a pass runs queries in. */
  def sessions: Seq[SparkSession]
}

object Main {
  def session(a: Args): SparkSession = {
    val tmp = new File(a.out, "spark").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", tmp + "/warehouse")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tracer.sc = s.sparkContext
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val out = new Out(new File(a.out, "samples.jsonl").getPath)
    out.emit("kind" -> "host", "jvm" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION, "cores" -> a.cores)
    val w: Workload = a.workload match {
      case "udf_ladder" => new Ladder(a, out)
      case "sql_mix" => new SqlMix(a, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // sidecars die with the JVM, also when it is stopped by a signal
    sys.addShutdownHook(Host.stopChildren())
    var code = 0
    try {
      // set-up time: one cold set-up, from the start of the run (before the
      // inputs were generated and the JVM launched) to the first op
      Tracer.enabled = a.trace
      w.setup()
      val now = java.time.Instant.now()
      out.emit("kind" -> "setup", "s" -> (now.getEpochSecond * 1000000000L + now.getNano - a.t0Ns) / 1e9)
      // one untimed warm-up pass (JIT, codegen caches, sidecar connections),
      // then at least three timed passes and more until the time budget is
      // spent; a
      // traced run alternates traced and untraced passes so the tracing
      // overhead can be measured, and attaches its listener only for the
      // traced ones
      Tracer.enabled = false
      w.pass(0)
      val t0 = System.nanoTime()
      var p = 1
      while (p <= 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        val traced = a.trace && p % 2 == 1
        val listener = new Listener
        if (traced) {
          Tracer.sc.addSparkListener(listener)
          w.sessions.foreach(_.listenerManager.register(listener))
        }
        Tracer.enabled = traced
        val start = System.nanoTime()
        w.pass(p)
        val end = System.nanoTime()
        Tracer.enabled = false
        if (traced) {
          org.apache.spark.PerfbenchShim.drainListeners(Tracer.sc)
          Tracer.sc.removeSparkListener(listener)
          w.sessions.foreach(_.listenerManager.unregister(listener))
        }
        out.emit("kind" -> "pass", "i" -> p, "s" -> (end - start) / 1e9, "traced" -> traced,
          "start_ns" -> start, "end_ns" -> end)
        p += 1
      }
      out.emit("kind" -> "rss", "mb" -> Host.peakRssMb())
      if (a.trace) {
        val spans = new Out(new File(a.out, "spans.jsonl").getPath)
        Tracer.all.foreach { s =>
          spans.emit("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
            "layer" -> s.layer, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)
        }
        spans.close()
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.emit("kind" -> "fatal", "error" -> String.valueOf(e))
        code = 1
    } finally {
      try w.teardown() catch { case e: Throwable => e.printStackTrace() }
      Host.stopChildren()
      out.close()
    }
    sys.exit(code)
  }
}
