package e2ebench

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.HttpWire

/** Loopback client for `GraftServer`: one connection per request, as the
  * server closes the socket after each response. */
object Http {
  /** The reference binary's `httptimeout` (seconds). */
  val TimeoutMs = 120000

  final case class Resp(status: Int, body: Array[Byte], wireBytes: Long)

  /** GET `path`; throws on a dropped socket, a timeout or a short body. */
  def get(port: Int, path: String): Resp = {
    val sock = new Socket()
    try {
      sock.connect(new InetSocketAddress("127.0.0.1", port), TimeoutMs)
      sock.setSoTimeout(TimeoutMs)
      sock.setTcpNoDelay(true)
      val out = sock.getOutputStream
      out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(UTF_8))
      out.flush()
      val all = sock.getInputStream.readAllBytes()
      val sep = indexOf(all, "\r\n\r\n".getBytes(UTF_8))
      if (sep < 0) throw new java.io.IOException("no response head")
      val head = new String(all, 0, sep, UTF_8).split("\r\n")
      val status = head(0).split(" ")(1).toInt
      val len = head.tail.collectFirst {
        case h if h.toLowerCase.startsWith("content-length:") =>
          h.substring(15).trim.toInt
      }.getOrElse(throw new java.io.IOException("no content-length"))
      val body = java.util.Arrays.copyOfRange(all, sep + 4, all.length)
      if (body.length != len)
        throw new java.io.IOException(s"body ${body.length} != content-length $len")
      Resp(status, body, all.length.toLong)
    } finally sock.close()
  }

  private def indexOf(a: Array[Byte], pat: Array[Byte]): Int = {
    var i = 0
    while (i + pat.length <= a.length) {
      var j = 0
      while (j < pat.length && a(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }
}

/** One WebSocket subscriber on `/api/ws`: sends a Subscribe command and
  * records every text frame with its arrival time (nanoTime). */
final class WsClient(port: Int, rib: String, filter: String) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(0)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out = sock.getOutputStream
  private val mask = Array[Byte](0x5a, 0x13, 0x7e, 0x21)

  /** Frames in arrival order and their arrival times. */
  val frames = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  private val received = new java.util.concurrent.atomic.AtomicInteger(0)
  def count: Int = received.get()
  @volatile var error: Option[String] = None

  out.write(("GET /api/ws HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
    "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
    "Sec-WebSocket-Key: ZTJlYmVuY2gtd3MtY2xpZW50\r\n" +
    "Sec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
  out.flush()
  private val headBuf = new ByteArrayOutputStream()
  while (!new String(headBuf.toByteArray, UTF_8).endsWith("\r\n\r\n")) {
    val b = in.read()
    if (b < 0) throw new java.io.IOException("ws upgrade: connection closed")
    headBuf.write(b)
  }
  if (!new String(headBuf.toByteArray, UTF_8).startsWith("HTTP/1.1 101 "))
    throw new java.io.IOException("ws upgrade refused")
  private val cmd = s"""{"Subscribe":{"rib":"$rib","filter":"$filter"}}"""
  out.write(HttpWire.encodeClientFrame(HttpWire.OpText, cmd.getBytes(UTF_8), mask))
  out.flush()

  private val reader = new Thread(() => {
    try {
      var open = true
      while (open) HttpWire.readServerFrame(in) match {
        case None => open = false
        case Some(f) if f.opcode == HttpWire.OpText =>
          frames.add((System.nanoTime(), f.text)); received.incrementAndGet()
        case Some(f) if f.opcode == HttpWire.OpClose => open = false
        case _ =>
      }
    } catch {
      case e: Exception => if (!sock.isClosed) error = Some(e.toString)
    }
  }, "e2ebench-ws")
  reader.setDaemon(true)
  reader.start()

  override def close(): Unit = {
    try {
      out.write(HttpWire.encodeClientFrame(HttpWire.OpClose,
        Array[Byte](0x03, 0xe8.toByte), mask))
      out.flush()
    } catch { case _: Exception => }
    reader.join(5000)
    sock.close()
    reader.join(5000)
  }
}
