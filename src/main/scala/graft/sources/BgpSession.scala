package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** S1/S2 session layer: the BGP peer finite-state machine, in-engine and
  * transport-free (reference: src/bgppeer.rs — the whole file — and the BMP
  * session registry of src/bmppeer.rs:30-63).
  *
  * What the reference's peer task does splits cleanly in two:
  *
  *   1. PROTOCOL LOGIC — message-head validation, the OPEN exchange with
  *      capability negotiation (including the retry-after-removing-an-
  *      unsupported-capability quirk, src/bgppeer.rs:143-151), NOTIFICATION
  *      decode, the hold_time/3 keepalive rule (src/bgppeer.rs:181-184), and
  *      the established-state dispatch loop (src/bgppeer.rs:219-256). All of
  *      that is PURE — (bytes, state) in, (bytes, state, actions) out — and
  *      lives here as total functions with golden-byte specs.
  *   2. SOCKET I/O — read_exact/write_all on a TcpStream. That, and only
  *      that, stays an out-of-engine adapter (zero-egress sandbox; SURVEY
  *      §2.1): a deployment pumps `step`'s emitted bytes into a socket.
  *
  * The BMP side needs no sockets at all: PeerUp carries both OPEN messages
  * of the monitored session (reference `BgpSessionDesc::from_bmppeerup`,
  * src/bgpsvc.rs:67-73), so the session REGISTRY and the per-session
  * dispatch of route-monitoring frames (the `sessids` BTreeMap of
  * src/bmppeer.rs:12,40-58) are fully realizable over recorded frames —
  * here as a small-dimension registry DataFrame broadcast-joined against
  * the frame stream, oracle-checked end-to-end through real bytes
  * (`q_wire_sessions`).
  */
object BgpSession {
  import BgpWire.{Reader, Writer}

  /** RFC 6793: the 2-octet stand-in when the real ASN needs 4 octets. */
  val AsTrans = 23456L

  // ------------------------------------------------------------ capabilities

  /** The capability surface the reference negotiates (zettabgp caps used by
    * BgpSessionParams): multiprotocol (code 1, RFC 4760), route-refresh
    * (code 2, RFC 2918), 4-octet AS (code 65, RFC 6793). Anything else is
    * carried opaquely so match/remove still work on it. */
  sealed trait Cap { def code: Int }
  object Cap {
    final case class Mp(afi: Int, safi: Int) extends Cap { def code = 1 }
    case object RouteRefresh extends Cap { def code = 2 }
    final case class FourOctetAs(asn: Long) extends Cap { def code = 65 }
    final case class Unknown(code: Int, body: Vector[Byte]) extends Cap
  }

  private def encodeCap(w: Writer, c: Cap): Unit = c match {
    case Cap.Mp(afi, safi) => w.u8(1).u8(4).u16(afi).u8(0).u8(safi)
    case Cap.RouteRefresh => w.u8(2).u8(0)
    case Cap.FourOctetAs(asn) => w.u8(65).u8(4).u32(asn)
    case Cap.Unknown(code, body) =>
      require(body.length <= 255, s"capability $code body ${body.length}B > 255")
      w.u8(code).u8(body.length); body.foreach(b => w.u8(b & 0xFF))
  }

  private def decodeCap(r: Reader): Cap = {
    val code = r.u8(); val len = r.u8(); val end = r.off + len
    // a lying length byte must fail cleanly (the callers turn this into a
    // session failure, reference src/bgppeer.rs:145-146), not index past
    // the buffer
    require(r.remaining >= len, s"capability $code claims $len bytes, " +
      s"${r.remaining} remain")
    val cap = code match {
      case 1 if len == 4 =>
        val afi = r.u16(); r.u8(); Cap.Mp(afi, r.u8())
      case 2 => Cap.RouteRefresh
      case 65 if len == 4 => Cap.FourOctetAs(r.u32())
      case _ =>
        val b = Vector.newBuilder[Byte]
        while (r.off < end) b += r.u8().toByte
        Cap.Unknown(code, b.result())
    }
    r.skip(end - r.off)
    cap
  }

  /** Capability agreement (reference `params.match_caps(&bom.caps)`,
    * src/bgppeer.rs:88,131): keep the local capabilities the peer also
    * announced — MP families by (afi, safi), value-carrying caps by kind
    * (each side keeps its OWN 4-octet ASN). */
  def matchCaps(local: Seq[Cap], remote: Seq[Cap]): Seq[Cap] = {
    val remoteMp = remote.collect { case Cap.Mp(a, s) => (a, s) }.toSet
    local.filter {
      case Cap.Mp(a, s) => remoteMp((a, s))
      case Cap.RouteRefresh => remote.contains(Cap.RouteRefresh)
      // a well-formed 4-octet-AS on the remote side, not any TLV that
      // happens to carry code 65 (a malformed one decodes as Unknown(65))
      case Cap.FourOctetAs(_) => remote.exists(_.isInstanceOf[Cap.FourOctetAs])
      case u: Cap.Unknown => remote.contains(u)
    }
  }

  /** Drop one capability after the peer refused it (reference
    * `remove_capability`, src/bgppeer.rs:148): MP families by (afi, safi);
    * RouteRefresh / FourOctetAs by kind; Unknown only on an exact match —
    * a refused TLV we never announced (e.g. a malformed MP cap decoding as
    * Unknown(1, ...)) must remove NOTHING, not every capability sharing
    * its code byte. */
  def removeCapability(caps: Seq[Cap], refused: Cap): Seq[Cap] = refused match {
    case mp: Cap.Mp => caps.filterNot(_ == mp)
    case Cap.RouteRefresh => caps.filterNot(_ == Cap.RouteRefresh)
    case _: Cap.FourOctetAs => caps.filterNot(_.isInstanceOf[Cap.FourOctetAs])
    case u: Cap.Unknown => caps.filterNot(_ == u)
  }

  // ------------------------------------------------------------------- OPEN

  /** RFC 4271 §4.2 OPEN (the reference's zettabgp `BgpOpenMessage`): version
    * is fixed at 4; `asn` is the REAL ASN — the 2-octet wire field carries
    * AS_TRANS when it doesn't fit and the 4-octet capability carries the
    * truth (RFC 6793 §3). */
  final case class Open(asn: Long, holdTime: Int, routerId: Long,
      caps: Vector[Cap]) {
    def wireAs2: Long = if (asn > 0xFFFFL) AsTrans else asn
  }

  def encodeOpenBody(o: Open): Array[Byte] = {
    val w = new Writer
    w.u8(4).u16(o.wireAs2.toInt).u16(o.holdTime).u32(o.routerId)
    val capsW = new Writer
    o.caps.foreach(c => encodeCap(capsW, c))
    val capsB = capsW.bytes
    if (capsB.isEmpty) w.u8(0)
    else {
      // one optional parameter of type 2 (capabilities, RFC 5492 §4); the
      // u8 length fields wrap silently past 253 bytes of caps — refuse to
      // emit a corrupt OPEN instead
      require(capsB.length <= 253,
        s"capabilities encode to ${capsB.length}B > 253 (u8 length fields)")
      w.u8(capsB.length + 2).u8(2).u8(capsB.length).raw(capsB)
    }
    w.bytes
  }

  /** A complete framed OPEN message. */
  def encodeOpen(o: Open): Array[Byte] = BgpWire.frameBgp(1, encodeOpenBody(o))

  def decodeOpenBody(body: Array[Byte]): Open = {
    val r = new Reader(body, 0, body.length)
    val ver = r.u8()
    require(ver == 4, s"BGP version $ver (RFC 4271 requires 4)")
    val as2 = r.u16().toLong
    val hold = r.u16()
    val routerId = r.u32()
    val optEnd = { val n = r.u8(); r.off + n }
    val caps = Vector.newBuilder[Cap]
    while (r.off < optEnd) {
      val ptype = r.u8(); val plen = r.u8(); val pend = r.off + plen
      if (ptype == 2) while (r.off < pend) caps += decodeCap(r)
      // a capability that overran its parameter boundary must fail, not
      // rewind and double-parse the already-consumed bytes as a fresh
      // optional parameter
      require(r.off <= pend, s"capability overran optional parameter " +
        s"(at ${r.off}, boundary $pend)")
      r.skip(pend - r.off) // non-capability optional params: opaque skip
    }
    val cs = caps.result()
    // RFC 6793 §3: the 4-octet capability value wins over the 2-octet field
    val asn = cs.collectFirst { case Cap.FourOctetAs(a) => a }.getOrElse(as2)
    Open(asn, hold, routerId, cs)
  }

  // ----------------------------------------------------------- NOTIFICATION

  /** RFC 4271 §4.5 NOTIFICATION (+ RFC 4486 cease subcodes) — the decode and
    * `error_text` surface the reference logs (src/bgppeer.rs:140-155,
    * 230-244). */
  final case class Notification(code: Int, subcode: Int, data: Vector[Byte]) {
    def errorText: String = {
      val main = code match {
        case 1 => "Message Header Error"
        case 2 => "OPEN Message Error"
        case 3 => "UPDATE Message Error"
        case 4 => "Hold Timer Expired"
        case 5 => "Finite State Machine Error"
        case 6 => "Cease"
        case n => s"Unknown error code $n"
      }
      val sub = (code, subcode) match {
        case (1, 1) => "Connection Not Synchronized"
        case (1, 2) => "Bad Message Length"
        case (1, 3) => "Bad Message Type"
        case (2, 1) => "Unsupported Version Number"
        case (2, 2) => "Bad Peer AS"
        case (2, 3) => "Bad BGP Identifier"
        case (2, 4) => "Unsupported Optional Parameter"
        case (2, 6) => "Unacceptable Hold Time"
        case (2, 7) => "Unsupported Capability"
        case (3, 1) => "Malformed Attribute List"
        case (3, 2) => "Unrecognized Well-known Attribute"
        case (3, 3) => "Missing Well-known Attribute"
        case (3, 4) => "Attribute Flags Error"
        case (3, 5) => "Attribute Length Error"
        case (3, 6) => "Invalid ORIGIN Attribute"
        case (3, 8) => "Invalid NEXT_HOP Attribute"
        case (3, 9) => "Optional Attribute Error"
        case (3, 10) => "Invalid Network Field"
        case (3, 11) => "Malformed AS_PATH"
        case (6, 1) => "Maximum Number of Prefixes Reached"
        case (6, 2) => "Administrative Shutdown"
        case (6, 3) => "Peer De-configured"
        case (6, 4) => "Administrative Reset"
        case (6, 5) => "Connection Rejected"
        case (6, 6) => "Other Configuration Change"
        case (6, 7) => "Connection Collision Resolution"
        case (6, 8) => "Out of Resources"
        case _ => if (subcode == 0) "" else s"subcode $subcode"
      }
      if (sub.isEmpty) main else s"$main: $sub"
    }

    /** The capability TLV embedded after code+subcode when the peer refuses
      * one (reference src/bgppeer.rs:145: `BgpCapability::from_buffer(
      * &buf[2..])`). A malformed TLV yields None — the reference's
      * `if let Ok(cap)` falls through to session failure on a parse error
      * (src/bgppeer.rs:146-151), it does not crash the peer task. */
    def refusedCapability: Option[Cap] =
      if (code == 2 && subcode == 7 && data.length >= 2) {
        val arr = data.toArray
        scala.util.Try(decodeCap(new Reader(arr, 0, arr.length))).toOption
      } else None
  }

  def encodeNotification(n: Notification): Array[Byte] = {
    val w = new Writer
    w.u8(n.code).u8(n.subcode)
    n.data.foreach(b => w.u8(b & 0xFF))
    BgpWire.frameBgp(3, w.bytes)
  }

  def decodeNotificationBody(body: Array[Byte]): Notification = {
    require(body.length >= 2, "short NOTIFICATION body")
    Notification(body(0) & 0xFF, body(1) & 0xFF, body.drop(2).toVector)
  }

  // ------------------------------------------------------- framing / head

  /** An empty-body KEEPALIVE frame (reference send_keepalive,
    * src/bgppeer.rs:166-178). */
  def encodeKeepalive: Array[Byte] = BgpWire.frameBgp(4, Array.emptyByteArray)

  /** Validate a 19-byte message head → (type, body length). The reference's
    * `decode_message_head` (src/bgppeer.rs:50-54): all-ones marker, total
    * length in [19, 4096], known type. */
  def decodeHead(head: Array[Byte]): (Int, Int) = {
    require(head.length >= 19, s"short message head (${head.length}B)")
    (0 until 16).foreach(i =>
      require(head(i) == 0xFF.toByte, s"bad marker byte $i"))
    val total = ((head(16) & 0xFF) << 8) | (head(17) & 0xFF)
    require(total >= 19 && total <= 4096, s"message length $total out of range")
    val tpe = head(18) & 0xFF
    require(tpe >= 1 && tpe <= 4, s"unknown message type $tpe")
    (tpe, total - 19)
  }

  private def splitFrame(frame: Array[Byte]): (Int, Array[Byte]) = {
    val (tpe, blen) = decodeHead(frame)
    require(frame.length == 19 + blen,
      s"frame length ${frame.length} != ${19 + blen}")
    (tpe, java.util.Arrays.copyOfRange(frame, 19, frame.length))
  }

  // -------------------------------------------------------------- handshake

  /** One side of a session: address + the OPEN it sent (reference
    * `BgpPeerDesc`, src/bgpsvc.rs:29-36; addresses as the engine's
    * (version, hi, lo) halves). */
  final case class PeerDesc(v4: Boolean, addrHi: Long, addrLo: Long, open: Open)

  /** A registered session (reference `BgpSessionDesc`, src/bgpsvc.rs:59-73):
    * local side first, remote second. */
  final case class SessionDesc(local: PeerDesc, remote: PeerDesc)

  /** Passive (listen-side) handshake, reference start_passive
    * (src/bgppeer.rs:72-101) — QUIRKS KEPT VERBATIM: the reply echoes the
    * PEER's OPEN — its ASN, hold time and capabilities unchanged — with only
    * the router-id replaced by our own (line 85), and the local params adopt
    * the peer's as_num and hold_time wholesale (lines 86-87; no RFC 4271
    * §4.2 min() negotiation; match_caps narrows only the LOCAL caps, line
    * 88). Returns the updated local params, the framed reply bytes, and the
    * session descriptor. */
  def passiveHandshake(local: Open, peerV4: Boolean, peerHi: Long,
      peerLo: Long, received: Array[Byte]): (Open, Array[Byte], SessionDesc) = {
    val (tpe, body) = splitFrame(received)
    require(tpe == 1, "Invalid state to start_passive") // bgppeer.rs:79-81
    val peerOpen = decodeOpenBody(body)
    val reply = peerOpen.copy(routerId = local.routerId)
    val adopted = local.copy(asn = peerOpen.asn, holdTime = peerOpen.holdTime,
      caps = matchCaps(local.caps, peerOpen.caps).toVector)
    val desc = SessionDesc(
      PeerDesc(v4 = true, 0L, 0L, reply), // reference uses 0.0.0.0 locally
      PeerDesc(peerV4, peerHi, peerLo, peerOpen))
    (adopted, encodeOpen(reply), desc)
  }

  /** Outcome of one active-handshake exchange (reference start_active,
    * src/bgppeer.rs:102-165). */
  sealed trait ActiveResult
  object ActiveResult {
    /** Peer answered OPEN: session up; local params adopted the peer's
      * hold_time and the matched caps (bgppeer.rs:130-131). */
    final case class Established(local: Open, desc: SessionDesc) extends ActiveResult
    /** Peer refused a capability (NOTIFICATION 2/7): retry the OPEN without
      * it (bgppeer.rs:143-151). */
    final case class RetryWithout(local: Open, refused: Cap) extends ActiveResult
    final case class Failed(reason: String) extends ActiveResult
  }

  /** One step of the active handshake: we sent `encodeOpen(local)`, the peer
    * answered `received`. */
  def activeStep(local: Open, peerV4: Boolean, peerHi: Long, peerLo: Long,
      received: Array[Byte]): ActiveResult = {
    val (tpe, body) = splitFrame(received)
    tpe match {
      case 1 =>
        val peerOpen = decodeOpenBody(body)
        val adopted = local.copy(holdTime = peerOpen.holdTime,
          caps = matchCaps(local.caps, peerOpen.caps).toVector)
        val desc = SessionDesc(
          PeerDesc(v4 = true, 0L, 0L, local),
          PeerDesc(peerV4, peerHi, peerLo, peerOpen))
        ActiveResult.Established(adopted, desc)
      case 3 =>
        val n = decodeNotificationBody(body)
        n.refusedCapability match {
          case Some(cap) =>
            ActiveResult.RetryWithout(
              local.copy(caps = removeCapability(local.caps, cap).toVector), cap)
          case None =>
            ActiveResult.Failed(s"Notification received: ${n.errorText}")
        }
      case t => ActiveResult.Failed(s"Invalid message type received: $t")
    }
  }

  /** Drive the active-open retry loop over a recorded exchange: send OPEN,
    * read the peer's answer, strip refused capabilities and retry —
    * reference start_active's `loop`/`continue` (src/bgppeer.rs:102-165).
    * `answers` yields the peer's response to each successive OPEN we send;
    * returns every OPEN we sent plus the terminal result. Bounded by the
    * capability count: each retry removes one, as in the reference. */
  def runActive(local: Open, peerV4: Boolean, peerHi: Long, peerLo: Long,
      answers: Iterator[Array[Byte]]):
      (Vector[Array[Byte]], ActiveResult) = {
    val sent = Vector.newBuilder[Array[Byte]]
    var params = local
    var result: ActiveResult = null
    var done = false
    while (!done) {
      sent += encodeOpen(params)
      if (!answers.hasNext) {
        result = ActiveResult.Failed("peer closed during handshake"); done = true
      } else activeStep(params, peerV4, peerHi, peerLo, answers.next()) match {
        case r @ ActiveResult.RetryWithout(next, cap) =>
          if (next.caps == params.caps) {
            // the refusal named a capability we never announced (or one
            // already stripped): retrying the identical OPEN would loop
            // forever — this is a terminal failure, not a pending retry
            result = ActiveResult.Failed(
              s"peer refused a capability not announced: $cap")
            done = true
          } else { result = r; params = next }
        case r => result = r; done = true
      }
    }
    (sent.result(), result)
  }

  // -------------------------------------------------------------- lifecycle

  /** What the established-state loop does with one inbound frame (reference
    * lifecycle dispatch, src/bgppeer.rs:219-256). */
  sealed trait Action
  object Action {
    /** Peer sent KEEPALIVE → answer with one (bgppeer.rs:224-229). */
    case object SendKeepalive extends Action
    /** UPDATE body → hand to the RIB (bgppeer.rs:246-255). */
    final case class HandleUpdate(frame: Array[Byte]) extends Action
    /** Session over: OPEN in established state or NOTIFICATION
      * (bgppeer.rs:220-223, 230-245). */
    final case class Close(reason: String) extends Action
  }

  /** Established-state dispatch of one complete frame. UPDATE frames are
    * re-framed so `BgpWire.decodeUpdate` (which validates full framing)
    * consumes them unchanged. */
  def dispatch(frame: Array[Byte]): Action = {
    val (tpe, body) = splitFrame(frame)
    tpe match {
      case 1 => Action.Close("Incorrect open message!") // bgppeer.rs:220-223
      case 2 => Action.HandleUpdate(frame)
      case 3 => Action.Close(
        s"BGP notification: ${decodeNotificationBody(body).errorText}")
      case 4 => Action.SendKeepalive
    }
  }

  /** The keepalive cadence: send when a third of the hold time elapsed since
    * the last send (reference keep_interval = hold_time/3,
    * src/bgppeer.rs:181-184). Divergence, documented: a negotiated hold
    * time of ZERO means no keepalives at all (RFC 4271 §4.4); the
    * reference's zero keep_interval would send one every loop tick — a
    * flood we deliberately do not replicate (same spirit as the SURVEY
    * §7.5 subscription-filter fix). */
  def keepaliveDue(elapsedSec: Long, holdTimeSec: Int): Boolean =
    holdTimeSec > 0 && elapsedSec >= holdTimeSec / 3

  /** Drive a full passive session over a recorded frame sequence: handshake
    * on the first frame, dispatch the rest, stop at the first Close. Returns
    * the session descriptor, every emitted outbound frame (reply OPEN,
    * keepalive echoes), the UPDATE frames handed to the RIB, and the close
    * reason if any. Pure — the socket adapter pumps real TCP through this
    * exact function. */
  def runPassive(local: Open, peerV4: Boolean, peerHi: Long, peerLo: Long,
      frames: Iterator[Array[Byte]]):
      (SessionDesc, Vector[Array[Byte]], Vector[Array[Byte]], Option[String]) = {
    require(frames.hasNext, "empty frame stream")
    val (_, reply, desc) = passiveHandshake(local, peerV4, peerHi, peerLo,
      frames.next())
    val out = Vector.newBuilder[Array[Byte]]
    val updates = Vector.newBuilder[Array[Byte]]
    out += reply
    var closed: Option[String] = None
    while (closed.isEmpty && frames.hasNext) {
      dispatch(frames.next()) match {
        case Action.SendKeepalive => out += encodeKeepalive
        case Action.HandleUpdate(u) => updates += u
        case Action.Close(reason) => closed = Some(reason)
      }
    }
    (desc, out.result(), updates.result(), closed)
  }

  // ------------------------------------------------------------ BMP peer-up

  /** RFC 7854 §4.10 PeerUp body (after the per-peer header): local address
    * (16B, v4-mapped), local/remote ports, then the two framed OPEN messages
    * (sent, received). The reference builds its session descriptor from
    * exactly these (src/bgpsvc.rs:67-73). */
  final case class PeerUp(localV6: Boolean, localHi: Long, localLo: Long,
      localPort: Int, remotePort: Int, openSent: Open, openRecv: Open)

  def encodeBmpPeerUp(rdh: Long, rdl: Long, peerV4: Long, peerAs: Long,
      bgpId: Long, tsSec: Long, tsUsec: Long, localV4: Long, localPort: Int,
      remotePort: Int, openSent: Open, openRecv: Open): Array[Byte] = {
    val sent = encodeOpen(openSent)
    val recv = encodeOpen(openRecv)
    val tailLen = 16 + 2 + 2 + sent.length + recv.length
    val w = new Writer
    w.u8(3) // version
    w.u32(6 + 42 + tailLen) // common header: total message length
    w.u8(3) // type 3 = peer up
    w.u8(1).u8(0) // per-peer header: type 1 (RD instance), flags: v4
    BgpWire.writeRd(w, rdh, rdl)
    (0 until 12).foreach(_ => w.u8(0))
    w.u32(peerV4)
    w.u32(peerAs).u32(bgpId).u32(tsSec).u32(tsUsec)
    (0 until 12).foreach(_ => w.u8(0)) // local address, v4-mapped
    w.u32(localV4)
    w.u16(localPort).u16(remotePort)
    w.raw(sent).raw(recv)
    w.bytes
  }

  /** `peerV6`: the session's address family from the per-peer header flags
    * (one TCP session is one family, so the local address shares it). RFC
    * 7854 gives the 16-byte local-address field no flag of its own; without
    * the hint, 12-leading-zero bytes (the BMP v4 layout) and the RFC 4291
    * ::ffff:a.b.c.d mapped form are read as v4 — a v6 local address inside
    * ::/96 (e.g. ::1) would still be misread, which is why callers that
    * HAVE the per-peer flags (sessionRegistry) pass the hint. */
  def decodePeerUpBody(payload: Array[Byte],
      peerV6: Option[Boolean] = None): PeerUp = {
    val r = new Reader(payload, 0, payload.length)
    // local address: 16 bytes; v4 = 12 zero bytes + addr, or ::ffff:v4
    val head12 = (0 until 12).map(_ => r.u8())
    val v4Mapped = head12.take(10).forall(_ == 0) &&
      ((head12(10) == 0 && head12(11) == 0) ||
        (head12(10) == 0xFF && head12(11) == 0xFF))
    val v6 = peerV6.getOrElse(!v4Mapped)
    var hi = 0L; var lo = 0L
    if (v6) {
      head12.take(8).zipWithIndex.foreach { case (b, i) => hi |= b.toLong << (56 - 8 * i) }
      head12.drop(8).zipWithIndex.foreach { case (b, i) => lo |= b.toLong << (56 - 8 * i) }
      (0 until 4).foreach(i => lo |= r.u8().toLong << (24 - 8 * i))
    } else lo = r.u32()
    val lport = r.u16(); val rport = r.u16()
    def readOpen(): Open = {
      val head = java.util.Arrays.copyOfRange(r.b, r.off, r.off + 19)
      val (tpe, blen) = decodeHead(head)
      require(tpe == 1, s"PeerUp embeds message type $tpe (expected OPEN)")
      r.skip(19)
      val body = java.util.Arrays.copyOfRange(r.b, r.off, r.off + blen)
      r.skip(blen)
      decodeOpenBody(body)
    }
    val sent = readOpen()
    val recv = readOpen()
    PeerUp(v6, hi, lo, lport, rport, sent, recv)
  }

  // ------------------------------------------- Spark-side session registry

  /** Registry row: the session key (the reference's `BgpSessionKey` —
    * peer RD + peer address, src/bmppeer.rs:45,48) + both OPENs' negotiated
    * surface, flattened to hash-checkable columns. */
  val registrySchema: StructType = StructType(Seq(
    StructField("rdh", LongType, nullable = false),
    StructField("rdl", LongType, nullable = false),
    StructField("peer_addr_hi", LongType, nullable = false),
    StructField("peer_addr_lo", LongType, nullable = false),
    StructField("peer_as", LongType, nullable = false),
    StructField("peer_bgp_id", LongType, nullable = false),
    StructField("local_addr_hi", LongType, nullable = false),
    StructField("local_addr_lo", LongType, nullable = false),
    StructField("local_port", IntegerType, nullable = false),
    StructField("remote_port", IntegerType, nullable = false),
    StructField("local_asn", LongType, nullable = false),
    StructField("local_hold", IntegerType, nullable = false),
    StructField("local_router_id", LongType, nullable = false),
    StructField("remote_asn", LongType, nullable = false),
    StructField("remote_hold", IntegerType, nullable = false),
    StructField("remote_router_id", LongType, nullable = false),
    StructField("n_caps_matched", IntegerType, nullable = false)))

  /** PeerUp frames → the session registry (reference register_session on
    * PeerUpNotification, src/bmppeer.rs:32-46). A session that bounces
    * (PeerUp, PeerDown — which the reference deliberately ignores — then
    * PeerUp again) produces several PeerUps for one key; the reference's
    * BTreeMap insert keeps the LATEST, so the registry keeps one row per
    * key: newest by header timestamp, payload-hash tiebreak for
    * determinism. `session_id` is a dense_rank over the session KEY —
    * deterministic where the reference's arrival-order counter is not
    * (arrival order does not survive a distributed replay); the registry is
    * a bounded dimension (one row per monitored session), so the
    * single-partition windows are a deliberate non-cost and the result
    * broadcasts. */
  def sessionRegistry(bmp: DataFrame, maxSessions: Int = 1 << 20): DataFrame = {
    val enc = RowEncoder.encoderFor(registrySchema)
    val latest = bmp
      .where(col("msg_type") === "peer_up" && col("update").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("peer_rd.rdh"), col("peer_rd.rdl"),
            col("peer_addr.ip_hi"), col("peer_addr.ip_lo"))
          .orderBy(col("ts").desc, xxhash64(col("update")))))
      .where(col("__rn") === 1)
    // Scale guard: the session_id assignment below is an UNPARTITIONED
    // dense_rank — correct and cheap for the registry's bounded dimension
    // (one row per monitored session) but a single-partition sort of
    // everything if a fact stream is fed in by mistake. Fail loudly before
    // that sort. The check materializes the capped deduped rows into a
    // cache and counts THAT, so the guard costs no second pass over the
    // (expensive) upstream frame pipeline: the registry below is built
    // from the same cached rows. The cache is bounded by maxSessions+1
    // registry rows by construction and evictable like any Spark cache.
    val capped = latest.limit(maxSessions + 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sessions = capped.count()
    if (sessions > maxSessions) {
      capped.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"sessionRegistry: more than $maxSessions distinct sessions — this " +
          "is a bounded control-plane dimension (one row per monitored " +
          "peer); a fact stream was probably passed instead of PeerUp " +
          "frames. Raise maxSessions only if the peer dimension is " +
          "genuinely this large.")
    }
    val decoded = capped
      .select(col("peer_rd.rdh"), col("peer_rd.rdl"),
        col("peer_addr.ip_hi"), col("peer_addr.ip_lo"),
        col("peer_as"), col("peer_bgp_id"), col("update"),
        col("peer_addr.version"))
      .mapPartitions { it =>
        it.map { row =>
          val pu = decodePeerUpBody(row.getAs[Array[Byte]](6),
            peerV6 = Some(row.getByte(7) == 6))
          val matched = matchCaps(pu.openSent.caps, pu.openRecv.caps)
          Row(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
            row.getLong(4), row.getLong(5), pu.localHi, pu.localLo,
            pu.localPort, pu.remotePort, pu.openSent.asn,
            pu.openSent.holdTime, pu.openSent.routerId, pu.openRecv.asn,
            pu.openRecv.holdTime, pu.openRecv.routerId, matched.length)
        }
      }(enc)
    // unpartitioned dense_rank is safe HERE only because the input is the
    // distinct PeerUp registry — bounded by live-session cardinality (the
    // reference packs it into a dense u16, ≤65k rows; bmppeer.rs:12), the
    // same bounded-dimension reasoning as the registry collect() in Api
    decoded.withColumn("session_id",
      dense_rank().over(Window.orderBy(col("rdh"), col("rdl"),
        col("peer_addr_hi"), col("peer_addr_lo"))).cast("long"))
  }

  /** Deterministic BMP stream derived from `events` (the oracle fixture for
    * `q_wire_sessions`): every message becomes a route-monitoring frame for
    * its session's peer, and sessions with `session_id % 3 != 0` get a
    * PeerUp — the rest stay unregistered so the reference's drop rule
    * (src/bmppeer.rs:48-58) is exercised, not just dead code. The sent OPEN
    * uses an ASN above 65535 so the AS_TRANS + 4-octet-capability path
    * (RFC 6793) must roundtrip for the oracle to hash. */
  def bmpStream(events: DataFrame): DataFrame = {
    val msgs = UpdateDecompose.messages(events)
    val schema = StructType(Seq(StructField("bytes", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    // UPDATE encode + BMP wrap FUSED into one mapPartitions (r18 opt
    // round): the two-stage encodeUpdates → wrap form paid a full
    // serialize/deserialize object boundary for the intermediate frame
    // rows; the bytes produced are identical (same encodeUpdate over the
    // same updateSchema-aligned row, same encodeBmpRouteMonitoring args)
    val cols = BgpWire.updateSchema.fields.map { f =>
      if (msgs.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val rm = msgs.select(cols.toIndexedSeq: _*)
      .mapPartitions { it =>
        it.map { row =>
          val s = row.getInt(1).toLong
          val tsSec = if (row.isNullAt(2)) 0L else row.getTimestamp(2).getTime / 1000
          Row(BgpWire.encodeBmpRouteMonitoring(s, 100 + s, (10L << 24) + s,
            65000 + s, 1000 + s, tsSec, 0L, BgpWire.encodeUpdate(row)))
        }
      }(enc)
    // session set from the PRE-ENCODE message stream: the byte encoder is
    // opaque to column pruning, so deriving it from `frames` would re-run
    // the full UPDATE encode of every message just to read session_id
    val pu = UpdateDecompose.messages(events).select(col("session_id")).distinct()
      .where(col("session_id") % 3 =!= 0)
      .mapPartitions { it =>
        it.map { row =>
          val s = row.getInt(0).toLong
          Row(encodeBmpPeerUp(s, 100 + s, (10L << 24) + s, 65000 + s,
            1000 + s, 0L, 0L, (192L << 24) | (168L << 16) | s, 179,
            30000 + s.toInt,
            Open(70000 + s, 90 + s.toInt, 0x01010100L + s, Vector(
              Cap.Mp(1, 1), Cap.Mp(2, 1), Cap.RouteRefresh,
              Cap.FourOctetAs(70000 + s))),
            Open(65000 + s, 30 + 3 * s.toInt, 0x02020200L + s, Vector(
              Cap.Mp(1, 1), Cap.FourOctetAs(65000 + s)))))
        }
      }(enc)
    rm.unionByName(pu)
  }

  /** Route-monitoring frames → decoded UPDATEs carrying their registry
    * session id; frames whose (RD, peer address) key has no registered
    * session are DROPPED, as the reference drops them
    * (src/bmppeer.rs:48-58). The registry is a bounded dimension →
    * broadcast inner join; the frame stream itself never shuffles. */
  def dispatchUpdates(bmp: DataFrame, registry: DataFrame): DataFrame = {
    // a header-only RM frame decodes with a null payload — drop it like
    // the reference's dispatch (which simply never yields a frame for it)
    // instead of letting decodeUpdate NPE the job
    val rm = bmp.where(col("msg_type") === "route_monitoring" &&
        col("update").isNotNull)
      .select(col("peer_rd.rdh").as("f_rdh"), col("peer_rd.rdl").as("f_rdl"),
        col("peer_addr.ip_hi").as("f_hi"), col("peer_addr.ip_lo").as("f_lo"),
        col("ts"), col("update"))
    val keyed = rm.join(
      broadcast(registry.select(col("rdh"), col("rdl"), col("peer_addr_hi"),
        col("peer_addr_lo"), col("session_id"))),
      col("f_rdh") === col("rdh") && col("f_rdl") === col("rdl") &&
        col("f_hi") === col("peer_addr_hi") && col("f_lo") === col("peer_addr_lo"))
    BgpWire.decodeUpdates(keyed.select(
      xxhash64(col("update")).as("msg_id"),
      col("session_id").cast("int").as("session_id"),
      col("ts"), col("update").as("bytes")))
  }
}
