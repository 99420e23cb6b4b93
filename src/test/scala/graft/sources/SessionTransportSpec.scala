package graft.sources

import java.io.ByteArrayInputStream
import java.net.{InetAddress, ServerSocket, Socket}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.BgpSession._

/** The socket pump driven over a REAL localhost TCP pair: the active FSM
  * on one end, the passive FSM on the other — negotiation, keepalive
  * exchange, a framed UPDATE dispatched end-to-end, NOTIFICATION close
  * (reference lifecycle, src/bgppeer.rs:72-258). Closes the last untested
  * seam: everything protocol-shaped was already golden-specced pure; this
  * proves the byte pump carries it over an actual socket. */
class SessionTransportSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def loopbackPair[A](serverSide: Socket => A): (Socket, Thread, () => A) = {
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    @volatile var result: Option[A] = None
    @volatile var err: Option[Throwable] = None
    val t = new Thread(() => {
      try {
        val s = server.accept()
        try result = Some(serverSide(s)) finally s.close()
      } catch { case e: Throwable => err = Some(e) }
      finally server.close()
    })
    t.setDaemon(true); t.start()
    val client = new Socket(InetAddress.getLoopbackAddress, server.getLocalPort)
    client.setSoTimeout(30000)
    (client, t, () => { t.join(30000); err.foreach(throw _); result.get })
  }

  test("loopback TCP: negotiate, keepalive, UPDATE dispatch, NOTIFICATION close") {
    // one real UPDATE frame off the wire fixtures (sf0.001 events)
    val events = graft.queries.Tables(spark, "/root/testdata/sf0.001", "events")
    val updateFrame = BgpWire.encodeUpdates(
      UpdateDecompose.messages(events).limit(1))
      .select("bytes").collect()(0).getAs[Array[Byte]](0)

    // active ASN > 65535 → AS_TRANS on the wire, truth in the 4-octet cap
    val activeOpen = Open(70000L, 90, 0x0a000002L,
      Vector(Cap.Mp(1, 1), Cap.FourOctetAs(70000L)))
    val passiveOpen = Open(65000L, 180, 0x0a000001L,
      Vector(Cap.Mp(1, 1), Cap.RouteRefresh, Cap.FourOctetAs(65000L)))

    val updates = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val (client, _, passiveResult) = loopbackPair { s =>
      SessionTransport.servePassive(s.getInputStream, s.getOutputStream,
        passiveOpen, peerV4 = true, 0L, 0x0a000002L)(updates += _)
    }
    try {
      val in = client.getInputStream; val out = client.getOutputStream
      val res = SessionTransport.activeHandshake(in, out, activeOpen,
        peerV4 = true, 0L, 0x0a000001L)
      val est = res.asInstanceOf[ActiveResult.Established]
      // passive replies with the peer's own OPEN, router-id swapped
      // (start_passive quirk, src/bgppeer.rs:85): the active side sees its
      // ASN echoed back under the passive router-id, and adopts its own
      // hold time back
      assert(est.desc.remote.open.routerId == 0x0a000001L)
      assert(est.desc.remote.open.asn == 70000L)
      assert(est.local.holdTime == 90)
      assert(est.local.caps == activeOpen.caps)
      // the pump sent our initial KEEPALIVE on establishment; the passive
      // loop echoes it back
      val echo = SessionTransport.readFrame(in).get
      assert(decodeHead(echo)._1 == 4 && echo.length == 19)
      // a framed UPDATE crosses the socket and lands in the RIB callback
      out.write(updateFrame); out.flush()
      // close administratively; the passive side reports the decoded reason
      out.write(encodeNotification(Notification(6, 2, Vector.empty)))
      out.flush()
      val (desc, closed) = passiveResult()
      assert(closed.contains("BGP notification: Cease: Administrative Shutdown"))
      assert(desc.remote.open.asn == 70000L && desc.remote.open.holdTime == 90)
      assert(desc.local.open.routerId == 0x0a000001L)
      assert(updates.length == 1 && updates(0).toSeq == updateFrame.toSeq)
      // and the dispatched bytes decode as a well-formed UPDATE
      assert(BgpWire.decodeUpdate(0L, 0, null, updates(0)) != null)
    } finally client.close()
  }

  test("capability refusal retries over the socket without the refused cap") {
    val activeOpen = Open(64512L, 60, 0x0a000009L,
      Vector(Cap.Mp(1, 1), Cap.RouteRefresh, Cap.FourOctetAs(64512L)))
    val (client, _, scriptedResult) = loopbackPair { s =>
      val in = s.getInputStream; val out = s.getOutputStream
      // first OPEN announces RouteRefresh
      val o1 = SessionTransport.readFrame(in).get
      // refuse it: NOTIFICATION 2/7 carrying the cap TLV (code 2, len 0)
      out.write(encodeNotification(Notification(2, 7, Vector(2, 0))))
      out.flush()
      // the retried OPEN must have dropped exactly that capability
      val o2 = SessionTransport.readFrame(in).get
      out.write(encodeOpen(Open(65001L, 120, 0x0a000008L,
        Vector(Cap.Mp(1, 1), Cap.FourOctetAs(65001L))))); out.flush()
      // the pump's establishment KEEPALIVE
      val ka = SessionTransport.readFrame(in).get
      (o1, o2, ka)
    }
    try {
      val res = SessionTransport.activeHandshake(client.getInputStream,
        client.getOutputStream, activeOpen, peerV4 = true, 0L, 0L)
      val est = res.asInstanceOf[ActiveResult.Established]
      assert(est.desc.remote.open.asn == 65001L)
      // adopted caps: the refused RouteRefresh is gone; hold time adopted
      assert(!est.local.caps.contains(Cap.RouteRefresh))
      assert(est.local.holdTime == 120)
      val (o1, o2, ka) = scriptedResult()
      val caps1 = decodeOpenBody(o1.drop(19)).caps
      val caps2 = decodeOpenBody(o2.drop(19)).caps
      assert(caps1.contains(Cap.RouteRefresh) && !caps2.contains(Cap.RouteRefresh))
      assert(caps2 == caps1.filterNot(_ == Cap.RouteRefresh))
      assert(decodeHead(ka)._1 == 4)
    } finally client.close()
  }

  test("readFrame: clean EOF → None, mid-frame EOF and bad marker fail loudly") {
    assert(SessionTransport.readFrame(
      new ByteArrayInputStream(Array.emptyByteArray)).isEmpty)
    val ka = encodeKeepalive
    // truncated head
    intercept[java.io.EOFException] {
      SessionTransport.readFrame(new ByteArrayInputStream(ka.take(10)))
    }
    // truncated body
    val open = encodeOpen(Open(65000L, 180, 1L, Vector(Cap.Mp(1, 1))))
    intercept[java.io.EOFException] {
      SessionTransport.readFrame(new ByteArrayInputStream(open.dropRight(3)))
    }
    // corrupt marker
    val bad = ka.clone(); bad(0) = 0
    intercept[IllegalArgumentException] {
      SessionTransport.readFrame(new ByteArrayInputStream(bad))
    }
    // two frames back-to-back read cleanly in sequence
    val in = new ByteArrayInputStream(ka ++ open)
    assert(SessionTransport.readFrame(in).get.toSeq == ka.toSeq)
    assert(SessionTransport.readFrame(in).get.toSeq == open.toSeq)
    assert(SessionTransport.readFrame(in).isEmpty)
  }
}
