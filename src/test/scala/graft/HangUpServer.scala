package graft

/** A loopback listener that answers each connection with `reply`, then
  * hangs up: its write side is shut at once (the client reads EOF after
  * `reply`) and the request is drained, so the close is a FIN, not a reset. */
object HangUpServer {
  def apply(reply: Array[Byte] = Array.emptyByteArray): java.net.ServerSocket = {
    val ss = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try while (true) {
        val s = ss.accept()
        s.getOutputStream.write(reply)
        s.shutdownOutput()
        val drain = new Thread(() =>
          try { val in = s.getInputStream; while (in.read() >= 0) {} }
          catch { case _: java.io.IOException => }
          finally s.close())
        drain.setDaemon(true)
        drain.start()
      } catch { case _: java.io.IOException => } // listener closed
    })
    t.setDaemon(true)
    t.start()
    ss
  }
}
