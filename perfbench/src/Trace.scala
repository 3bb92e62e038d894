package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in nanoseconds on the JVM's `nanoTime` clock. `parent`
  * is the span that caused it (0 for none, -1 for "the benchmark span open at
  * that time"); `op` is the workload op it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      start: Long, end: Long, attrs: Map[String, Double])

/** In-memory span recorder. Spans are written out once, when the run ends. */
object Tracer {
  /** Gates the benchmark's own spans; listener spans are kept whenever the
    * listener is registered and are matched to traced passes by time. */
  @volatile var enabled = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { override def initialValue() = (0L, 0L) }
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def msToNs(ms: Long): Long = ms * 1000000L - epochNs
  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Run `body` inside a span. `newOp` starts a new op (one entry of the
    * workload's op list); otherwise the span joins the enclosing op. Jobs
    * started inside carry the span id as a local property. */
  def span[A](name: String, layer: String, newOp: Boolean = false)(body: => A): A = {
    if (!enabled) return body
    val (parent, parentOp) = current.get()
    val id = nextId()
    val op = if (newOp || parentOp == 0L) id else parentOp
    current.set((id, op))
    setProperty(s"$id:$op")
    val t0 = System.nanoTime()
    try body
    finally {
      record(Span(id, parent, op, name, layer, t0, System.nanoTime(), Map.empty))
      current.set((parent, parentOp))
      setProperty(if (parent == 0L) null else s"$parent:$parentOp")
    }
  }

  private def setProperty(v: String): Unit =
    if (sc != null) sc.setLocalProperty(Listener.SpanKey, v)
}

/** Benchmark-owned listener. Job, stage and task events become `exec`
  * spans, parented by the benchmark span that was open when the job was
  * submitted; each finished query's catalyst phases become `catalyst` spans. */
final class Listener extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, (Long, Long, Long, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (parent, op) = Option(e.properties).flatMap(p => Option(p.getProperty(Listener.SpanKey)))
      .map { s => val Array(a, b) = s.split(":"); (a.toLong, b.toLong) }.getOrElse((-1L, 0L))
    val id = Tracer.nextId()
    jobs.put(e.jobId, (id, parent, op, e.time))
    e.stageIds.foreach(s => stageJob.put(s, (id, op)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.remove(e.jobId)).foreach {
    case (id, parent, op, t0) =>
      Tracer.record(Span(id, parent, op, "job", "exec", Tracer.msToNs(t0), Tracer.msToNs(e.time),
        Map.empty))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { case (job, op) =>
      val id = stageSpan.computeIfAbsent(info.stageId, _ => Tracer.nextId())
      val t0 = info.submissionTime.getOrElse(0L)
      Tracer.record(Span(id, job, op, "stage", "exec", Tracer.msToNs(t0),
        Tracer.msToNs(info.completionTime.getOrElse(t0)), Map.empty))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { case (_, op) =>
      val m = e.taskMetrics
      val info = e.taskInfo
      val stage = stageSpan.computeIfAbsent(e.stageId, _ => Tracer.nextId())
      val attrs: Map[String, Double] = if (m == null) Map.empty else Map(
        "run_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "sched_delay_s" -> math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1e6,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1e6,
        "spill_mb" -> m.diskBytesSpilled / 1e6)
      Tracer.record(Span(Tracer.nextId(), stage, op, "task", "exec",
        Tracer.msToNs(info.launchTime), Tracer.msToNs(info.finishTime), attrs))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** `qe`'s analysis, optimization and planning phases; the listener bus
    * delivers them on its own thread, so their parent is found by time. */
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      Tracer.record(Span(Tracer.nextId(), -1L, 0L, phase, "catalyst",
        Tracer.msToNs(p.startTimeMs), Tracer.msToNs(p.endTimeMs), Map.empty))
    }
}

object Listener {
  val SpanKey = "perfbench.span"
}
