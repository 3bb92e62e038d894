package graft.remote

/**
 * Launches the CPython guest UDF worker (`tools/pyudf_server.py`, built on
 * pyarrow) as a subprocess and exposes its bound port — the engine's analogue
 * of the reference's Python UDF server package (`arrow-udf-remote/python`,
 * README.md:14-56): a real CPython interpreter evaluating user `@udf`
 * functions over Arrow IPC batches, reached through the exact same
 * LIST/GET/CALL/CALLTABLE framing as any other remote UDF service, so
 * [[UdfClient]] / [[RemoteUdf]] work against it unchanged.
 *
 * On a real cluster the worker runs as a sidecar service per executor host
 * (or a shared fleet behind a load balancer) and queries point at its
 * host:port; in local mode the lazily-started shared worker on loopback
 * serves all 32 executor threads over per-partition pooled connections.
 */
final class PythonWorker
    extends Sidecar("pyudf_server.py", "GRAFT_PYUDF", f => Seq("python3", f, "--port", "0"))

/** Shared lazily-started worker POOL for queries exercising the CPython guest
  * on a single node (mirrors [[RemoteFixture]] for the in-process JVM server).
  *
  * One CPython process is GIL-bound: all 32 local executor threads would
  * serialize their CPU-bound guest calls through a single interpreter. The
  * pool spawns several interpreter processes and publishes every bound port;
  * [[RemoteUdf]] round-robins partitions across them — the local-mode
  * analogue of one worker sidecar per executor host on a real cluster. */
object PythonWorker {
  /** Pool size: enough interpreters to keep CPU-bound guests parallel
    * without paying 32 process startups; override with GRAFT_PYUDF_WORKERS. */
  lazy val shared: Seq[PythonWorker] = Sidecar.pool("GRAFT_PYUDF_WORKERS", 8)(new PythonWorker())
  /** All pool endpoints, for round-robin assignment across partitions. */
  def endpoints: Seq[(String, Int)] = shared.map(w => ("127.0.0.1", w.boundPort))
  /** A single pool port (legacy callers / discovery checks). */
  def port: Int = shared.head.boundPort
}

/** A guest-worker subprocess: `launch` runs `tools/<script>` (or the file the
  * `env` variable names), and the worker prints `PORT <n>` once it listens. */
abstract class Sidecar(script: String, env: String, launch: String => Seq[String])
    extends AutoCloseable {
  private val proc: Process = {
    val fromCwd = new java.io.File(sys.props("user.dir"), s"tools/$script")
    val file = sys.env.get(env).map(new java.io.File(_)).filter(_.isFile)
      .orElse(Some(fromCwd).filter(_.isFile)).getOrElse(throw new IllegalStateException(
        s"tools/$script not found from ${sys.props("user.dir")} (set $env)"))
    new ProcessBuilder(launch(file.getAbsolutePath): _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
  }

  /** Ephemeral port the worker bound, from its `PORT <n>` startup line.
    * Lazy so a pool can launch every process before blocking on any port —
    * interpreter startup overlaps instead of serializing. */
  lazy val boundPort: Int = {
    val line = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
      .readLine()
    if (line == null || !line.startsWith("PORT "))
      throw new IllegalStateException(s"$script failed to start (got: $line)")
    line.stripPrefix("PORT ").trim.toInt
  }

  override def close(): Unit = proc.destroy()
}

object Sidecar {
  /** A pool of `sizeEnv` (default: `max` capped at the core count) workers,
    * closed at JVM exit: every process launches, then all block on ports. */
  def pool[W <: Sidecar](sizeEnv: String, max: Int)(worker: => W): Seq[W] = {
    val n = sys.env.get(sizeEnv).map(_.toInt)
      .getOrElse(math.min(max, Runtime.getRuntime.availableProcessors()))
    val ws = (1 to n).map(_ => worker)
    sys.addShutdownHook(ws.foreach(_.close()))
    ws.foreach(_.boundPort)
    ws
  }
}
