package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import BgpSession._

/** The BGP session layer (reference: src/bgppeer.rs — OPEN exchange,
  * capability negotiation + the unsupported-capability retry, NOTIFICATION,
  * keepalive cadence, lifecycle dispatch — and the BMP PeerUp session
  * registry of src/bmppeer.rs:30-63 / src/bgpsvc.rs:59-73).
  *
  * The OPEN and NOTIFICATION goldens are HAND-ASSEMBLED hex, independent of
  * the encoder, so the codecs are pinned against RFC 4271/5492/6793 wire
  * bytes — not against this repo's own serializer. */
class BgpSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val marker = "ff" * 16

  // OPEN: ver 4, AS_TRANS (real ASN 70000 in the 4-octet cap), hold 90,
  // router-id 1.2.3.4, caps MP(1,1) + route-refresh + 4-octet-AS
  private val goldenOpenHex = marker +
    "002d" + "01" + // total 45, type OPEN
    "04" + "5ba0" + "005a" + "01020304" + // ver, AS_TRANS=23456, hold 90, rid
    "10" + "02 0e" + // opt params 16B: one type-2 (capabilities) of 14B
    "01 04 0001 00 01" + // MP afi 1 safi 1
    "02 00" + // route-refresh
    "41 04 00011170" // 4-octet AS 70000
  private val goldenOpen = Open(70000L, 90, 0x01020304L,
    Vector(Cap.Mp(1, 1), Cap.RouteRefresh, Cap.FourOctetAs(70000L)))

  test("golden OPEN: decode recovers the 4-octet ASN through AS_TRANS") {
    val (tpe, blen) = decodeHead(hex(goldenOpenHex))
    assert(tpe == 1 && blen == 26)
    val o = decodeOpenBody(hex(goldenOpenHex).drop(19))
    assert(o == goldenOpen)
    assert(o.wireAs2 == AsTrans)
  }

  test("golden OPEN: encoder reproduces the hand-assembled bytes exactly") {
    assert(encodeOpen(goldenOpen).sameElements(hex(goldenOpenHex)))
  }

  test("OPEN with a small ASN keeps it in the 2-octet field") {
    val o = Open(65001L, 180, 7L, Vector(Cap.Mp(1, 1)))
    assert(o.wireAs2 == 65001L)
    assert(decodeOpenBody(encodeOpenBody(o)) == o)
  }

  test("unknown capabilities and non-capability optional params survive/skip") {
    // opt params: type 9 (opaque, 2B) then caps with an unknown code 99
    val body = hex("04" + "fde9" + "00b4" + "0a0b0c0d" +
      "08" + "09 02 aabb" + "02 02" + "63 00")
    val o = decodeOpenBody(body)
    assert(o.asn == 65001L && o.holdTime == 180)
    assert(o.caps == Vector(Cap.Unknown(99, Vector.empty)))
  }

  test("golden NOTIFICATION 2/7 embeds the refused capability") {
    val msg = hex(marker + "0017" + "03" + "02 07" + "02 00")
    val (tpe, _) = decodeHead(msg)
    assert(tpe == 3)
    val n = decodeNotificationBody(msg.drop(19))
    assert(n.errorText == "OPEN Message Error: Unsupported Capability")
    assert(n.refusedCapability.contains(Cap.RouteRefresh))
    assert(encodeNotification(n).sameElements(msg))
  }

  test("notification error texts follow RFC 4271 §6 / RFC 4486") {
    assert(Notification(6, 2, Vector.empty).errorText
      == "Cease: Administrative Shutdown")
    assert(Notification(4, 0, Vector.empty).errorText == "Hold Timer Expired")
    assert(Notification(3, 11, Vector.empty).errorText
      == "UPDATE Message Error: Malformed AS_PATH")
  }

  test("decodeHead rejects bad marker, bad length, unknown type") {
    val ok = hex(marker + "0013" + "04")
    assert(decodeHead(ok) == (4, 0))
    val badMarker = ok.clone(); badMarker(3) = 0
    intercept[IllegalArgumentException](decodeHead(badMarker))
    intercept[IllegalArgumentException](decodeHead(hex(marker + "0012" + "04")))
    intercept[IllegalArgumentException](decodeHead(hex(marker + "0013" + "05")))
  }

  test("matchCaps keeps the intersection; removeCapability drops by kind") {
    val local = Seq[Cap](Cap.Mp(1, 1), Cap.Mp(2, 1), Cap.RouteRefresh,
      Cap.FourOctetAs(70000L))
    val remote = Seq[Cap](Cap.Mp(1, 1), Cap.FourOctetAs(65010L))
    // own 4-octet ASN is kept (each side announces its own)
    assert(matchCaps(local, remote)
      == Seq(Cap.Mp(1, 1), Cap.FourOctetAs(70000L)))
    assert(removeCapability(local, Cap.Mp(2, 1))
      == Seq(Cap.Mp(1, 1), Cap.RouteRefresh, Cap.FourOctetAs(70000L)))
    assert(removeCapability(local, Cap.FourOctetAs(0L))
      == Seq(Cap.Mp(1, 1), Cap.Mp(2, 1), Cap.RouteRefresh))
    // a refused TLV we never announced (malformed MP decoding as
    // Unknown(1, ...)) removes NOTHING — code-1 MP families must survive
    assert(removeCapability(local, Cap.Unknown(1, Vector[Byte](0, 1)))
      == local)
    // ...and matchCaps must not let a malformed Unknown(65) stand in for a
    // well-formed 4-octet-AS on the remote side
    assert(matchCaps(Seq(Cap.FourOctetAs(70000L)),
      Seq(Cap.Unknown(65, Vector[Byte](1)))).isEmpty)
  }

  test("runActive fails (not retries) on refusal of an unannounced capability") {
    val local = Open(65001L, 180, 1L, Vector(Cap.Mp(1, 1)))
    val (sent, r) = runActive(local, peerV4 = true, 0L, 9L, Iterator(
      encodeNotification(Notification(2, 7, Vector[Byte](2, 0))))) // RR: never sent
    assert(sent.length == 1)
    r match {
      case ActiveResult.Failed(msg) => assert(msg.contains("not announced"))
      case other => fail(s"unexpected $other")
    }
  }

  test("passive handshake: echo with our router-id, adopt peer AS/hold (quirks)") {
    val local = Open(65001L, 180, 0x0A0A0A0AL,
      Vector(Cap.Mp(1, 1), Cap.Mp(2, 1), Cap.RouteRefresh))
    val peer = Open(65010L, 30, 0x14141414L, Vector(Cap.Mp(1, 1)))
    val (adopted, replyBytes, desc) =
      passiveHandshake(local, peerV4 = true, 0L, (10L << 24) + 9,
        encodeOpen(peer))
    // bgppeer.rs:85-88: as_num and hold_time adopted wholesale; local caps
    // narrowed to the intersection
    assert(adopted.asn == 65010L && adopted.holdTime == 30)
    assert(adopted.caps == Vector(Cap.Mp(1, 1)))
    // the reply is the PEER's OPEN with only router_id swapped
    val reply = decodeOpenBody(replyBytes.drop(19))
    assert(reply == peer.copy(routerId = 0x0A0A0A0AL))
    assert(desc.remote.open == peer && desc.remote.addrLo == (10L << 24) + 9)
    // non-OPEN first frame is a state error (bgppeer.rs:79-81)
    intercept[IllegalArgumentException](
      passiveHandshake(local, peerV4 = true, 0L, 0L, encodeKeepalive))
  }

  test("active handshake: established / capability-retry / failure") {
    val local = Open(65001L, 180, 1L,
      Vector(Cap.Mp(1, 1), Cap.RouteRefresh))
    val peer = Open(65010L, 90, 2L, Vector(Cap.Mp(1, 1)))
    activeStep(local, peerV4 = true, 0L, 5L, encodeOpen(peer)) match {
      case ActiveResult.Established(adopted, desc) =>
        assert(adopted.holdTime == 90 && adopted.caps == Vector(Cap.Mp(1, 1)))
        assert(desc.remote.open == peer)
      case other => fail(s"unexpected $other")
    }
    // NOTIFICATION 2/7 carrying the refused cap → retry without it
    // (bgppeer.rs:143-151)
    val refuse = encodeNotification(Notification(2, 7, Vector[Byte](2, 0)))
    activeStep(local, peerV4 = true, 0L, 5L, refuse) match {
      case ActiveResult.RetryWithout(next, cap) =>
        assert(cap == Cap.RouteRefresh)
        assert(next.caps == Vector(Cap.Mp(1, 1)))
      case other => fail(s"unexpected $other")
    }
    val shutdown = encodeNotification(Notification(6, 2, Vector.empty))
    assert(activeStep(local, peerV4 = true, 0L, 5L, shutdown)
      == ActiveResult.Failed(
        "Notification received: Cease: Administrative Shutdown"))
    assert(activeStep(local, peerV4 = true, 0L, 5L, encodeKeepalive)
      == ActiveResult.Failed("Invalid message type received: 4"))
  }

  test("runActive: capability-retry loop strips refused caps until accepted") {
    val local = Open(65001L, 180, 1L,
      Vector(Cap.Mp(1, 1), Cap.Mp(2, 1), Cap.RouteRefresh))
    val peer = Open(65010L, 90, 2L, Vector(Cap.Mp(1, 1), Cap.Mp(2, 1)))
    // the peer refuses route-refresh, then MP(2,1), then accepts
    val answers = Iterator(
      encodeNotification(Notification(2, 7, Vector[Byte](2, 0))),
      encodeNotification(Notification(2, 7, Vector[Byte](1, 4, 0, 2, 0, 1))),
      encodeOpen(peer))
    val (sent, result) = runActive(local, peerV4 = true, 0L, 9L, answers)
    assert(sent.length == 3)
    // each successive OPEN carries one capability fewer
    assert(decodeOpenBody(sent(0).drop(19)).caps.length == 3)
    assert(decodeOpenBody(sent(1).drop(19)).caps
      == Vector(Cap.Mp(1, 1), Cap.Mp(2, 1)))
    assert(decodeOpenBody(sent(2).drop(19)).caps == Vector(Cap.Mp(1, 1)))
    result match {
      case ActiveResult.Established(adopted, desc) =>
        assert(adopted.holdTime == 90)
        assert(adopted.caps == Vector(Cap.Mp(1, 1)))
        assert(desc.remote.open == peer)
      case other => fail(s"unexpected $other")
    }
    // a peer that hangs up mid-retry fails cleanly
    val (sent2, r2) = runActive(local, peerV4 = true, 0L, 9L,
      Iterator(encodeNotification(Notification(2, 7, Vector[Byte](2, 0)))))
    assert(sent2.length == 2)
    assert(r2 == ActiveResult.Failed("peer closed during handshake"))
  }

  test("keepalive cadence: hold_time/3 (bgppeer.rs:181-184); zero hold sends none") {
    assert(!keepaliveDue(29, 90))
    assert(keepaliveDue(30, 90))
    assert(keepaliveDue(31, 90))
    // RFC 4271 §4.4: hold time 0 → no keepalives (documented divergence
    // from the reference's every-tick flood)
    assert(!keepaliveDue(0, 0))
    assert(!keepaliveDue(100000, 0))
  }

  test("runPassive: full recorded session — handshake, echoes, updates, close") {
    val local = Open(65001L, 180, 1L, Vector(Cap.Mp(1, 1)))
    val peer = Open(65010L, 30, 2L, Vector(Cap.Mp(1, 1)))
    // a minimal real UPDATE: one NLRI 10.1.2.0/24, no attrs, no withdraws
    val update = hex(marker + "001b" + "02" + "0000" + "0000" + "18 0a0102")
    val frames = Iterator(encodeOpen(peer), encodeKeepalive, update,
      encodeKeepalive, encodeNotification(Notification(6, 2, Vector.empty)),
      encodeKeepalive /* after close: must not be consumed */)
    val (desc, out, updates, closed) =
      runPassive(local, peerV4 = true, 0L, 7L, frames)
    assert(desc.remote.open == peer)
    assert(out.length == 3) // reply OPEN + two keepalive echoes
    assert(decodeHead(out(0))._1 == 1)
    assert(out.tail.forall(f => decodeHead(f)._1 == 4))
    assert(updates.length == 1)
    // the handed-off frame decodes with the engine's UPDATE decoder as-is
    val dec = BgpWire.decodeUpdate(1L, 0, null, updates(0))
    assert(dec.getSeq[org.apache.spark.sql.Row](3).map(p =>
      (p.getLong(2), p.getInt(3))) == Seq(((10L << 24) + (1L << 16) + (2L << 8), 24)))
    assert(closed.contains("BGP notification: Cease: Administrative Shutdown"))
    // OPEN in established state closes the session (bgppeer.rs:220-223)
    assert(dispatch(encodeOpen(peer)) == Action.Close("Incorrect open message!"))
  }

  test("golden BMP PeerUp: hand-assembled frame pins encoder AND decoder") {
    // RFC 7854 §4.10: common header (v3, len 154, type 3), per-peer header
    // (type 1/RD-instance, v4 flags, RD 1:101, peer 10.0.0.1, AS 65001,
    // bgp-id 1001, ts 7s), local 192.168.0.1 ports 179/30001, then the two
    // framed OPENs (sent: AS 70001 via AS_TRANS + cap 65, hold 91, rid 11;
    // received: AS 65001, hold 33, rid 22)
    val sentOpenHex = marker + "002b" + "01" +
      "04" + "5ba0" + "005b" + "0000000b" + "0e" + "02 0c" +
      "01 04 0001 00 01" + "41 04 00011171"
    val recvOpenHex = marker + "002b" + "01" +
      "04" + "fde9" + "0021" + "00000016" + "0e" + "02 0c" +
      "01 04 0001 00 01" + "41 04 0000fde9"
    val frameHex = "03" + "0000009a" + "03" +
      "01 00" + "0000 0001 00000065" + "000000000000000000000000 0a000001" +
      "0000fde9" + "000003e9" + "00000007" + "00000000" +
      "000000000000000000000000 c0a80001" + "00b3" + "7531" +
      sentOpenHex + recvOpenHex
    val bytes = hex(frameHex)
    val row = BgpWire.decodeBmp(bytes)
    assert(row.getString(0) == "peer_up")
    assert(row.getStruct(1).getLong(0) == 1L && row.getStruct(1).getLong(1) == 101L)
    assert(row.getLong(3) == 65001L && row.getLong(4) == 1001L)
    val pu = decodePeerUpBody(row.getAs[Array[Byte]](6))
    val sent = Open(70001L, 91, 11L,
      Vector(Cap.Mp(1, 1), Cap.FourOctetAs(70001L)))
    val recv = Open(65001L, 33, 22L,
      Vector(Cap.Mp(1, 1), Cap.FourOctetAs(65001L)))
    assert(pu == PeerUp(localV6 = false, 0L, (192L << 24) | (168L << 16) | 1L,
      179, 30001, sent, recv))
    // and the encoder reproduces the hand-assembled bytes exactly
    assert(encodeBmpPeerUp(1L, 101L, (10L << 24) + 1, 65001L, 1001L, 7L, 0L,
      (192L << 24) | (168L << 16) | 1L, 179, 30001, sent, recv)
      .sameElements(bytes))
  }

  test("BMP PeerUp roundtrip: registry fields incl. AS_TRANS recovery") {
    val sent = Open(70001L, 91, 11L,
      Vector(Cap.Mp(1, 1), Cap.FourOctetAs(70001L)))
    val recv = Open(65001L, 33, 22L,
      Vector(Cap.Mp(1, 1), Cap.FourOctetAs(65001L)))
    val frame = encodeBmpPeerUp(1L, 101L, (10L << 24) + 1, 65001L, 1001L,
      7L, 0L, (192L << 24) | (168L << 16) | 1L, 179, 30001, sent, recv)
    val row = BgpWire.decodeBmp(frame)
    assert(row.getString(0) == "peer_up")
    assert(row.getLong(3) == 65001L) // header peer AS
    val pu = decodePeerUpBody(row.getAs[Array[Byte]](6))
    assert(!pu.localV6 && pu.localLo == ((192L << 24) | (168L << 16) | 1L))
    assert(pu.localPort == 179 && pu.remotePort == 30001)
    assert(pu.openSent == sent) // 70001 recovered through AS_TRANS + cap 65
    assert(pu.openRecv == recv)
  }

  test("property: OPEN and NOTIFICATION codecs roundtrip over random inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1337L + i)))
    // caps without 4-octet-AS (its value must track the ASN, added below);
    // unknown codes avoid 1/2/65 so they decode as Unknown, not as a known
    // kind with a different shape
    val genBaseCap: Gen[Cap] = Gen.oneOf(
      Gen.zip(Gen.choose(1, 3), Gen.choose(1, 133)).map { case (a, s) => Cap.Mp(a, s) },
      Gen.const(Cap.RouteRefresh),
      Gen.zip(Gen.oneOf(64, 67, 70, 128), Gen.listOfN(3, Gen.choose(0, 255)))
        .map { case (c, b) => Cap.Unknown(c, b.map(_.toByte).toVector) })
    val genOpen: Gen[Open] = for {
      asn <- Gen.oneOf(Gen.choose(0L, 65535L), Gen.choose(65536L, 0xFFFFFFFFL))
      hold <- Gen.choose(0, 65535)
      rid <- Gen.choose(0L, 0xFFFFFFFFL)
      base <- Gen.listOfN(4, genBaseCap)
      withFour <- Gen.oneOf(true, false)
    } yield {
      val caps = if (asn > 0xFFFFL || withFour)
        base.toVector :+ Cap.FourOctetAs(asn) else base.toVector
      Open(asn, hold, rid, caps)
    }
    samples(genOpen, 300).foreach { o =>
      val framed = encodeOpen(o)
      val (tpe, blen) = decodeHead(framed)
      assert(tpe == 1 && framed.length == 19 + blen)
      assert(decodeOpenBody(framed.drop(19)) == o, s"roundtrip mismatch for $o")
    }
    val genNotif: Gen[Notification] = for {
      code <- Gen.choose(0, 255)
      sub <- Gen.choose(0, 255)
      data <- Gen.listOfN(6, Gen.choose(0, 255))
    } yield Notification(code, sub, data.map(_.toByte).toVector)
    samples(genNotif, 200).foreach { n =>
      assert(decodeNotificationBody(encodeNotification(n).drop(19)) == n)
    }
  }

  test("malformed frames fail cleanly: lying cap length, oversize caps") {
    // NOTIFICATION 2/7 claiming a 4-byte cap body but carrying none: the
    // reference fails the session on a bad TLV, it does not crash
    val lying = Notification(2, 7, Vector[Byte](0x41, 0x04))
    assert(lying.refusedCapability.isEmpty)
    val local = Open(65001L, 180, 1L, Vector(Cap.Mp(1, 1)))
    assert(activeStep(local, peerV4 = true, 0L, 5L, encodeNotification(lying))
      == ActiveResult.Failed(
        "Notification received: OPEN Message Error: Unsupported Capability"))
    // an OPEN whose caps cannot fit the u8 length fields refuses to encode
    // (silent wrap would emit corrupt bytes)
    val tooMany = Open(65001L, 180, 1L,
      Vector.tabulate(50)(i => Cap.Mp(1, i)))
    intercept[IllegalArgumentException](encodeOpenBody(tooMany))
    intercept[IllegalArgumentException](encodeOpenBody(Open(65001L, 180, 1L,
      Vector(Cap.Unknown(99, Vector.fill(300)(0.toByte))))))
    // a truncated capability inside an OPEN body fails loudly too
    intercept[IllegalArgumentException](
      decodeOpenBody(hex("04 fde9 00b4 0a0b0c0d 04" + "02 02" + "41 04")))
  }

  test("registry keeps the LATEST PeerUp per session key (bounce)") {
    import spark.implicits._
    def up(holdSent: Int, tsSec: Long) = BgpSession.encodeBmpPeerUp(
      1L, 101L, (10L << 24) + 1, 65001L, 1001L, tsSec, 0L,
      (192L << 24) | (168L << 16) | 1L, 179, 30001,
      Open(70001L, holdSent, 11L, Vector(Cap.Mp(1, 1))),
      Open(65001L, 33, 22L, Vector(Cap.Mp(1, 1))))
    // same key, two registrations: the reference's map insert overwrites,
    // so the newer (ts 900, hold 95) must win and the join must not fan out
    val bmp = BgpWire.decodeBmpFrames(
      Seq(up(90, 100L), up(95, 900L)).toDF("bytes"))
    val reg = sessionRegistry(bmp)
    val rows = reg.collect()
    assert(rows.length == 1)
    assert(rows(0).getInt(rows(0).fieldIndex("local_hold")) == 95)
  }

  test("registry scale guard: over-threshold session count fails loudly") {
    import spark.implicits._
    val events = (0L until 64L).map(i => (i, i % 8, new java.sql.Timestamp(1700000000000L + i * 1000)))
      .toDF("event_id", "user_id", "ts")
    val bmp = BgpWire.decodeBmpFrames(bmpStream(events))
    // fixture registers 2 sessions: threshold 1 must trip BEFORE the
    // unpartitioned dense_rank sort, with a message naming the misuse
    val ex = intercept[IllegalArgumentException] {
      sessionRegistry(bmp, maxSessions = 1).collect()
    }
    assert(ex.getMessage.contains("fact stream"))
    // and the same input passes untouched at the default threshold
    assert(sessionRegistry(bmp).count() == 2L)
  }

  test("session registry + dispatch: unregistered sessions drop") {
    import spark.implicits._
    val events = (0L until 64L).map(i => (i, i % 8, new java.sql.Timestamp(1700000000000L + i * 1000)))
      .toDF("event_id", "user_id", "ts")
    val bmp = BgpWire.decodeBmpFrames(bmpStream(events))
    val reg = sessionRegistry(bmp)
    // sessions are user_id%4 = 0..3; registered: %3 != 0 → {1, 2}
    val regRows = reg.select("peer_as", "local_asn", "local_hold",
      "remote_hold", "n_caps_matched").orderBy("peer_as").collect()
    assert(regRows.map(_.getLong(0)).toSeq == Seq(65001L, 65002L))
    assert(regRows.map(_.getLong(1)).toSeq == Seq(70001L, 70002L))
    assert(regRows.map(_.getInt(2)).toSeq == Seq(91, 92))
    assert(regRows.map(_.getInt(3)).toSeq == Seq(33, 36))
    assert(regRows.map(_.getInt(4)).toSeq == Seq(2, 2))
    val updates = dispatchUpdates(bmp, reg)
    // 64 events over sessions 0..3 (16 each); only sessions 1 and 2 pass
    assert(updates.count() == 32L)
    // dispatched messages carry the registry ids and decode losslessly
    val perSession = updates.groupBy("session_id").count()
      .orderBy("session_id").collect()
    assert(perSession.map(r => (r.getInt(0), r.getLong(1))).toSeq
      == Seq((1, 16L), (2, 16L)))
  }
}
