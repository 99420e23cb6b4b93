package graft.sources

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

/** S1/S2 wire formats: a real RFC 4271 BGP UPDATE decoder and RFC 7854 BMP
  * framing over `binary` columns (reference: update handling
  * src/bgppeer.rs:170-258, BMP framing + per-peer header
  * src/bmppeer.rs:30-131, `filter_rd` src/bmppeer.rs:33-39).
  *
  * This closes most of the "live protocol adapters" gap: the byte-level
  * decode (message framing, withdrawn routes, the path-attribute TLV walk,
  * MP_REACH/MP_UNREACH with AFI/SAFI dispatch, labeled/VPN NLRI with RD and
  * label extraction, BMP common + per-peer headers) is all here and real —
  * what stays out of engine scope is only the TCP/FSM session driver
  * (OPEN/KEEPALIVE timers), which a deployment wires around
  * `spark.readStream` exactly as SURVEY §2.1 prescribes.
  *
  * Spark-first shape: decode runs in `mapPartitions` — iterator in,
  * iterator out, schema-typed rows, partitioning preserved (the one place
  * imperative byte code beats Column expressions). No driver involvement,
  * no shuffle: cost scales with input bytes.
  *
  * The ENCODER exists so the whole wire path is falsifiable: the
  * `q_wire_decompose` oracle query round-trips the deterministic message
  * stream through encode → decode → decomposition and must reproduce the
  * `q_ingest_decompose` oracle exactly, while BgpWireSpec pins hand-built
  * golden BYTES so encoder and decoder cannot share a hidden convention.
  */
object BgpWire {

  private val pfxSt = DataType.fromDDL(RouteEventGen.pfxType).asInstanceOf[StructType]
  private val rdSt = DataType.fromDDL(RouteEventGen.rdType).asInstanceOf[StructType]
  private val l2St = DataType.fromDDL(RouteEventGen.l2Type).asInstanceOf[StructType]
  private val mvpnSt = DataType.fromDDL(RouteEventGen.mvpnType).asInstanceOf[StructType]
  private val evpnSt = DataType.fromDDL(RouteEventGen.evpnType).asInstanceOf[StructType]

  /** Per-MP-family item: rib + prefixes + family nexthop, plus the
    * per-prefix RD/label wrappers for VPN/labeled SAFIs (aligned with
    * `nlri`; null entries for plain families). */
  private val mpSt = StructType(Seq(
    StructField("rib", StringType),
    StructField("nlri", ArrayType(pfxSt)),
    StructField("nexthop", pfxSt, nullable = true),
    StructField("rds", ArrayType(rdSt), nullable = true),
    StructField("labels", ArrayType(IntegerType), nullable = true)))

  /** One exotic-family route key (EVPN/MVPN/VPLS): the engine's key
    * structs, exactly as RouteEventGen stores them — rib + top-level RD
    * (VPLS only, matching the generator's column placement) + the family
    * struct + the family nexthop. */
  private val mpKeySt = StructType(Seq(
    StructField("rib", StringType),
    StructField("rd", rdSt, nullable = true),
    StructField("l2", l2St, nullable = true),
    StructField("mvpn", mvpnSt, nullable = true),
    StructField("evpn", evpnSt, nullable = true),
    StructField("nexthop", pfxSt, nullable = true),
    // MDT key parts (RFC 6037): the RD rides in `rd` above, the unicast
    // prefix and the MDT group land here (null for the other families).
    // Appended after nexthop so the pre-MDT golden specs keep their
    // positional reads.
    StructField("prefix", pfxSt, nullable = true),
    StructField("mdt_group", pfxSt, nullable = true)))

  /** Decoded-update schema: a superset of UpdateDecompose.messages — the
    * decomposition consumes (nlri, withdraws, nexthop, mp, mp_keys) by name
    * and the decoded path attributes ride alongside as flat columns. */
  val updateSchema: StructType = StructType(Seq(
    StructField("msg_id", LongType, nullable = false),
    StructField("session_id", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("nlri", ArrayType(pfxSt), nullable = false),
    StructField("withdraws", ArrayType(pfxSt), nullable = false),
    StructField("nexthop", pfxSt, nullable = true),
    StructField("mp", ArrayType(mpSt), nullable = true),
    StructField("mp_withdraws", ArrayType(mpSt), nullable = true),
    StructField("mp_keys", ArrayType(mpKeySt), nullable = true),
    StructField("mp_keys_withdraws", ArrayType(mpKeySt), nullable = true),
    StructField("origin", StringType, nullable = true),
    StructField("as_list", ArrayType(LongType), nullable = true),
    StructField("med", LongType, nullable = true),
    StructField("localpref", LongType, nullable = true),
    StructField("comms", ArrayType(StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType)))), nullable = true),
    StructField("lcomms", ArrayType(StructType(Seq(
      StructField("a", LongType), StructField("b", LongType),
      StructField("c", LongType)))), nullable = true),
    StructField("extcomms", ArrayType(StructType(Seq(
      StructField("ctype", IntegerType), StructField("subtype", IntegerType),
      StructField("a", LongType), StructField("b", LongType)))), nullable = true)))

  /** BMP route-monitoring frame schema: per-peer header fields + the
    * embedded BGP message bytes (null for non-RM message types). */
  val bmpSchema: StructType = StructType(Seq(
    StructField("msg_type", StringType, nullable = false),
    StructField("peer_rd", rdSt, nullable = true),
    StructField("peer_addr", pfxSt, nullable = true),
    StructField("peer_as", LongType, nullable = true),
    StructField("peer_bgp_id", LongType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("update", BinaryType, nullable = true)))

  // AFI/SAFI registry → (rib, hasLabel, hasRd, v6). The engine's 15 SAFI
  // tables minus the families whose NLRI is structurally richer than
  // RD/label+prefix (evpn/mvpn/l2vpls/mdt/flowspec decode via their own
  // readers below and ride mp_keys / the flowspec mp arm; their MATCH
  // semantics are engine-side regardless).
  private val afiSafi: Map[(Int, Int), (String, Boolean, Boolean, Boolean)] = Map(
    (1, 1) -> ("ipv4u", false, false, false),
    (1, 2) -> ("ipv4m", false, false, false),
    (1, 4) -> ("ipv4lu", true, false, false),
    (1, 128) -> ("vpnv4u", true, true, false),
    (1, 129) -> ("vpnv4m", false, true, false),
    // (2,2) plain v6 multicast intentionally absent: the reference has no
    // ipv6m table (src/bgprib.rs:807-821) — such frames skip like any
    // family out of scope
    (2, 1) -> ("ipv6u", false, false, true),
    (2, 4) -> ("ipv6lu", true, false, true),
    (2, 128) -> ("vpnv6u", true, true, true),
    (2, 129) -> ("vpnv6m", false, true, true))

  private val ribToAfiSafi: Map[String, (Int, Int)] =
    afiSafi.map { case (k, v) => v._1 -> k }

  // ---------------------------------------------------------------- bytes

  private[sources] final class Reader(val b: Array[Byte], var off: Int, val end: Int) {
    def u8(): Int = { val v = b(off) & 0xFF; off += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def u32(): Long = (u16().toLong << 16) | u16()
    def u64(): Long = (u32() << 32) | u32()
    def skip(n: Int): Unit = off += n
    def remaining: Int = end - off
  }

  private[sources] final class Writer {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): this.type = { out.write(v & 0xFF); this }
    def u16(v: Int): this.type = { u8(v >> 8); u8(v) }
    def u32(v: Long): this.type = { u16((v >> 16).toInt); u16(v.toInt) }
    def u64(v: Long): this.type = { u32(v >>> 32); u32(v) }
    def raw(b: Array[Byte]): this.type = { out.write(b); this }
    def bytes: Array[Byte] = out.toByteArray
  }

  private def pfxRow(version: Byte, hi: Long, lo: Long, plen: Int): Row =
    Row(version, hi, lo, plen)

  /** Wire prefix: [bit length][ceil(len/8) network-order bytes]. */
  private def writePrefix(w: Writer, p: Row): Unit = {
    val plen = p.getInt(3)
    w.u8(plen)
    val nBytes = (plen + 7) / 8
    if (p.getByte(0) == 4) {
      val addr = p.getLong(2)
      (0 until nBytes).foreach(i => w.u8(((addr >> (24 - 8 * i)) & 0xFF).toInt))
    } else {
      val hi = p.getLong(1); val lo = p.getLong(2)
      (0 until nBytes).foreach { i =>
        val byte = if (i < 8) (hi >> (56 - 8 * i)) & 0xFF else (lo >> (56 - 8 * (i - 8))) & 0xFF
        w.u8(byte.toInt)
      }
    }
  }

  /** Read `bits` prefix bits into (hi, lo) halves (v6) or a 32-bit addr. */
  private[sources] def readPrefixBits(r: Reader, bits: Int, v6: Boolean): Row = {
    val nBytes = (bits + 7) / 8
    var hi = 0L; var lo = 0L
    (0 until nBytes).foreach { i =>
      val b = r.u8().toLong
      if (v6) { if (i < 8) hi |= b << (56 - 8 * i) else lo |= b << (56 - 8 * (i - 8)) }
      else lo |= b << (24 - 8 * i)
    }
    if (v6) pfxRow(6, hi, lo, bits) else pfxRow(4, 0L, lo, bits)
  }

  /** One (possibly label/RD-wrapped) NLRI item → (prefix, rd, label).
    * The wire bit-length covers label (24) + RD (64) + prefix bits. */
  private def readNlriItem(r: Reader, hasLabel: Boolean, hasRd: Boolean,
      v6: Boolean): (Row, Row, Integer) = {
    var bits = r.u8()
    var label: Integer = null
    var rd: Row = null
    if (hasLabel) {
      // 20-bit label + 3 TC bits + bottom-of-stack (single label assumed)
      label = Int.box(((r.u8() << 16) | (r.u8() << 8) | r.u8()) >> 4)
      bits -= 24
    }
    if (hasRd) { rd = readRd(r); bits -= 64 }
    (readPrefixBits(r, bits, v6), rd, label)
  }

  /** Type-0 (2B admin ASN + 4B number) and type-1 (4B IP + 2B number) RDs
    * → the engine's (rdh, rdl) halves (X6 parse, src/ribfilter.rs:76-99). */
  private[sources] def readRd(r: Reader): Row = r.u16() match {
    case 0 => Row(r.u16().toLong, r.u32())
    case 1 => Row(r.u32(), r.u16().toLong)
    case _ => Row(r.u32(), r.u16().toLong) // type-2: 4B ASN + 2B number
  }

  private[sources] def writeRd(w: Writer, rdh: Long, rdl: Long): Unit = {
    // encoder emits type 0 (the generator's RDs are small admin/number
    // pairs); decoder handles types 0/1/2
    w.u16(0); w.u16(rdh.toInt); w.u32(rdl)
  }

  // ------- exotic-family NLRI (EVPN RFC 7432/9136, MVPN RFC 6514, VPLS
  // RFC 4761) → the engine's key structs (reference match arms:
  // src/ribfilter.rs:320-453)

  /** Fixed-width address body (4 or 16 octets) with an explicit prefix
    * length — EVPN/MVPN addresses are full-width on the wire even when the
    * semantic prefix length is shorter. */
  private def hostRowFixed(r: Reader, nBytes: Int, plen: Int): Row = {
    var hi = 0L; var lo = 0L
    if (nBytes == 4) {
      (0 until 4).foreach(i => lo |= r.u8().toLong << (24 - 8 * i))
      pfxRow(4, 0L, lo, plen)
    } else {
      (0 until 16).foreach { i =>
        val b = r.u8().toLong
        if (i < 8) hi |= b << (56 - 8 * i) else lo |= b << (56 - 8 * (i - 8))
      }
      pfxRow(6, hi, lo, plen)
    }
  }

  /** Bit-length-prefixed host address (32 → 4B v4, 128 → 16B v6). */
  private def hostRow(r: Reader, bits: Int): Row =
    if (bits == 0) null
    else hostRowFixed(r, if (bits <= 32) 4 else 16, bits)

  /** One EVPN NLRI item (type, length, body) → the engine evpn struct
    * (etype, rd, ip, gw_ip, esi, eth_tag, mac). The RFC 7432/9136 NLRI
    * field sets decode in full: ESI (10 octets → 20 lowercase hex chars),
    * Ethernet Tag (u32) and MAC (6 octets → colon-hex) per their per-type
    * presence; only MPLS labels are consumed without storing (they ride
    * the shared `labels` surface on labeled SAFIs, and the reference's
    * match surface ignores all three fields, src/ribfilter.rs:391-443). */
  private def readEvpnItem(r: Reader): Row = {
    val t = r.u8(); val len = r.u8(); val end = r.off + len
    val rd = readRd(r)
    def esiHex(): String = {
      val sb = new java.lang.StringBuilder(20)
      (0 until 10).foreach(_ => sb.append(f"${r.u8()}%02x"))
      sb.toString
    }
    def macHex(nBytes: Int): String =
      (0 until nBytes).map(_ => f"${r.u8()}%02x").mkString(":")
    val row = t match {
      case 1 => // Ethernet A-D: ESI + tag (label skipped below)
        Row(1, rd, null, null, esiHex(), r.u32(), null)
      case 2 => // MAC/IP advertisement
        val esi = esiHex(); val tag = r.u32()
        val macBits = r.u8(); val mac = macHex((macBits + 7) / 8)
        val ipBits = r.u8()
        Row(2, rd, if (ipBits == 0) null else hostRow(r, ipBits), null,
          esi, tag, mac)
      case 3 => // inclusive multicast: tag + originating router IP
        val tag = r.u32()
        Row(3, rd, hostRow(r, r.u8()), null, null, tag, null)
      case 4 => // ethernet segment: ESI + originating router IP
        val esi = esiHex()
        Row(4, rd, hostRow(r, r.u8()), null, esi, null, null)
      case 5 => // IP prefix (RFC 9136): ESI + tag + prefix + gateway
        val esi = esiHex(); val tag = r.u32()
        val plen = r.u8()
        val v6 = (end - r.off) >= 32 // 16B prefix + 16B GW (+label)
        val ip = hostRowFixed(r, if (v6) 16 else 4, plen)
        val gw = hostRowFixed(r, if (v6) 16 else 4, if (v6) 128 else 32)
        Row(5, rd, ip, gw, esi, tag, null)
      case n => Row(n, rd, null, null, null, null, null)
    }
    require(r.off <= end, s"EVPN t$t overran its declared length")
    r.skip(end - r.off)
    row
  }

  /** One MVPN NLRI item → the engine mvpn struct (mtype, rd, originator,
    * source, group, rp, spmsi_*) following the per-type field consumption
    * of src/ribfilter.rs:320-388. */
  private def readMvpnItem(r: Reader): Row = {
    val t = r.u8(); val len = r.u8(); val end = r.off + len
    def rest(stop: Int): Row =
      if (stop - r.off <= 0) null
      else hostRowFixed(r, stop - r.off, if (stop - r.off == 4) 32 else 128)
    val row = t match {
      case 1 => // intra-AS I-PMSI A-D: RD + originator
        val rd = readRd(r)
        Row(1, rd, rest(end), null, null, null, null, null, null, null)
      case 2 => // inter-AS I-PMSI A-D: RD + source AS
        val rd = readRd(r); r.u32()
        Row(2, rd, null, null, null, null, null, null, null, null)
      case 3 => // S-PMSI A-D: RD + source + group + originator
        val rd = readRd(r)
        val src = hostRow(r, r.u8()); val grp = hostRow(r, r.u8())
        Row(3, rd, rest(end), src, grp, null, null, null, null, null)
      case 4 => // leaf A-D: embedded S-PMSI route key + originator
        val it = r.u8()
        require(it == 3, s"MVPN t4 embeds route type $it (expected 3)")
        val ilen = r.u8(); val iEnd = r.off + ilen
        val srd = readRd(r)
        val ssrc = hostRow(r, r.u8()); val sgrp = hostRow(r, r.u8())
        val sorig = rest(iEnd)
        Row(4, null, rest(end), null, null, null, srd, sorig, ssrc, sgrp)
      case 5 => // source active A-D: RD + source + group
        val rd = readRd(r)
        val src = hostRow(r, r.u8()); val grp = hostRow(r, r.u8())
        Row(5, rd, null, src, grp, null, null, null, null, null)
      case 6 | 7 => // C-multicast joins: RD + source AS + RP/source + group
        val rd = readRd(r); r.u32()
        val rp = hostRow(r, r.u8()); val grp = hostRow(r, r.u8())
        Row(t, rd, null, null, grp, rp, null, null, null, null)
      case n => Row(n, readRd(r), null, null, null, null, null, null, null, null)
    }
    require(r.off <= end, s"MVPN t$t overran its declared length")
    r.skip(end - r.off)
    row
  }

  /** One VPLS NLRI item (RFC 4761: u16 length, RD, VE id, VE block offset,
    * VE block size, label base) → (rd, engine l2 struct). */
  private def readVplsItem(r: Reader): (Row, Row) = {
    val len = r.u16(); val end = r.off + len
    val rd = readRd(r)
    val site = r.u16(); val offset = r.u16(); val range = r.u16()
    r.skip(end - r.off) // label base
    (rd, Row(site, offset, range))
  }

  /** One MDT NLRI item (RFC 6037 §4.1; reference tables `WithRd<BgpMdtV4/
    * V6>`, src/bgprib.rs:820-821): length octet covering RD + unicast
    * prefix bits, 8-octet RD, the prefix body, then the MDT group. RFC
    * 6037 fixes the v4 shape at 96 bits (RD + host) with a trailing
    * 4-octet group; this codec generalizes to variable prefix length and
    * to the v6 family by keeping the length octet (64 + prefix_len) and
    * encoding the group with an explicit family octet (0 = absent, else
    * the IP version) followed by a bit-length-prefixed body — the family
    * octet (not a bit-length heuristic) is what lets a v4 SSM group ride
    * in an ipv6mdt frame (the synthetic corpus' shape: RouteEventGen's
    * mcGroup is v4 for both MDT families) AND a short-prefix v6 group
    * (ff30::/12) or a degenerate /0 group survive the round trip.
    * Malformed input (bits < 64, a family octet that is neither 0/4/6)
    * throws — same posture as `decodeUpdate`: adapters feeding this
    * codec are trusted transports, and a silent skip would hide their
    * bugs; quarantining belongs in the session layer, not the codec.
    * Returns (rd, prefix, group). */
  private def readMdtItem(r: Reader, v6: Boolean): (Row, Row, Row) = {
    val bits = r.u8()
    require(bits >= 64, s"MDT NLRI shorter than its RD ($bits bits)")
    val rd = readRd(r)
    val p = readPrefixBits(r, bits - 64, v6)
    // group: symmetric with writeMdtBody — family octet, then the same
    // bit-length-prefixed shape writePrefix emits (NOT the full-width
    // read the EVPN/MVPN families use)
    val gv = r.u8()
    require(gv == 0 || gv == 4 || gv == 6, s"MDT group family octet $gv")
    val g = if (gv == 0) null else readPrefixBits(r, r.u8(), v6 = gv == 6)
    (rd, p, g)
  }

  /** AFI/SAFI → exotic engine table (the families whose NLRI is richer
    * than RD/label + prefix). */
  private def exoticFamily(afi: Int, safi: Int): Option[String] = (afi, safi) match {
    case (25, 70) => Some("evpn")
    case (1, 5) | (2, 5) => Some("mvpn")
    case (25, 65) => Some("l2vpls")
    case (1, 66) => Some("ipv4mdt") // SAFI 66 = MDT (RFC 6037)
    case (2, 66) => Some("ipv6mdt")
    case _ => None
  }

  /** One FlowSpec NLRI item (RFC 8955 §4): length-prefixed component list.
    * The engine's fs4u key is the destination prefix (component type 1) —
    * the reference's flowspec filter surface is trait-default beyond it
    * (src/ribfilter.rs fs4u arms); other components (ports, protocol,
    * DSCP, ...) are walked via their op/value lists and consumed. */
  private def readFlowspecItem(r: Reader): Row = {
    var len = r.u8()
    if (len >= 240) len = ((len & 0x0F) << 8) | r.u8()
    val end = r.off + len
    var dst: Row = null
    while (r.off < end) {
      val t = r.u8()
      if (t == 1 || t == 2) { // destination / source prefix
        val bits = r.u8()
        val p = readPrefixBits(r, bits, v6 = false)
        if (t == 1) dst = p
      } else { // numeric-op component: walk the (op, value) list
        var op = 0
        do { op = r.u8(); r.skip(1 << ((op >> 4) & 3)) } while ((op & 0x80) == 0)
      }
    }
    require(r.off == end, "flowspec component list overran its length")
    dst
  }

  /** One exotic route key as an mp_keys row. */
  private def readExoticItem(rib: String, r: Reader, nh: Row): Row = rib match {
    case "evpn" => Row("evpn", null, null, null, readEvpnItem(r), nh, null, null)
    case "mvpn" => Row("mvpn", null, null, readMvpnItem(r), null, nh, null, null)
    case "ipv4mdt" | "ipv6mdt" =>
      val (rd, p, g) = readMdtItem(r, v6 = rib == "ipv6mdt")
      Row(rib, rd, null, null, null, nh, p, g)
    case _ =>
      val (rd, l2) = readVplsItem(r)
      Row("l2vpls", rd, l2, null, null, nh, null, null)
  }

  // ------------------------------------------------------------ BGP UPDATE

  private[sources] val Marker = Array.fill[Byte](16)(0xFF.toByte)

  /** Frame a BGP message: 16-byte marker + u16 total length + u8 type. */
  private[sources] def frameBgp(msgType: Int, body: Array[Byte]): Array[Byte] = {
    val w = new Writer
    w.raw(Marker).u16(19 + body.length).u8(msgType).raw(body)
    w.bytes
  }

  private def writeAttr(w: Writer, flags: Int, tpe: Int, body: Array[Byte]): Unit = {
    if (body.length > 255) { w.u8(flags | 0x10).u8(tpe).u16(body.length) }
    else { w.u8(flags).u8(tpe).u8(body.length) }
    w.raw(body)
  }

  /** Encode one decoded-update row (the [[updateSchema]] / messages()
    * shape) as a complete framed BGP UPDATE message. */
  def encodeUpdate(row: Row): Array[Byte] = {
    def field(n: String): Int = row.fieldIndex(n)
    def rows(n: String): Seq[Row] =
      if (row.isNullAt(field(n))) Nil else row.getSeq[Row](field(n))
    val w = new Writer
    // withdrawn routes
    val wd = new Writer
    rows("withdraws").foreach(p => writePrefix(wd, p))
    val wdb = wd.bytes
    w.u16(wdb.length).raw(wdb)
    // path attributes
    val pa = new Writer
    val oIdx = row.fieldIndex("origin")
    if (!row.isNullAt(oIdx)) {
      val code = row.getString(oIdx) match {
        case "IGP" => 0; case "EGP" => 1; case _ => 2
      }
      writeAttr(pa, 0x40, 1, Array(code.toByte))
    }
    val asIdx = row.fieldIndex("as_list")
    if (!row.isNullAt(asIdx)) {
      val asns = row.getSeq[Long](asIdx)
      val seg = new Writer
      seg.u8(2).u8(asns.length) // AS_SEQUENCE, 4-octet ASNs
      asns.foreach(a => seg.u32(a))
      writeAttr(pa, 0x40, 2, seg.bytes)
    }
    if (!row.isNullAt(field("nexthop"))) {
      val nh = row.getStruct(field("nexthop"))
      if (nh.getByte(0) == 4) {
        val b = new Writer
        val addr = nh.getLong(2)
        (0 until 4).foreach(i => b.u8(((addr >> (24 - 8 * i)) & 0xFF).toInt))
        writeAttr(pa, 0x40, 3, b.bytes)
      }
    }
    if (!row.isNullAt(field("med")))
      writeAttr(pa, 0x80, 4, new Writer().u32(row.getLong(field("med"))).bytes)
    if (!row.isNullAt(field("localpref")))
      writeAttr(pa, 0x40, 5, new Writer().u32(row.getLong(field("localpref"))).bytes)
    val cs = rows("comms")
    if (cs.nonEmpty) {
      val b = new Writer
      cs.foreach(c => { b.u16(c.getInt(0)); b.u16(c.getInt(1)) })
      writeAttr(pa, 0xC0, 8, b.bytes)
    }
    val ecs = rows("extcomms")
    if (ecs.nonEmpty) {
      val b = new Writer
      ecs.foreach(e => { b.u8(e.getInt(0)); b.u8(e.getInt(1)); b.u16(e.getLong(2).toInt); b.u32(e.getLong(3)) })
      writeAttr(pa, 0xC0, 16, b.bytes)
    }
    val lcs = rows("lcomms")
    if (lcs.nonEmpty) {
      val b = new Writer
      lcs.foreach(l => { b.u32(l.getLong(0)); b.u32(l.getLong(1)); b.u32(l.getLong(2)) })
      writeAttr(pa, 0xC0, 32, b.bytes)
    }
    // MP_REACH_NLRI per family
    rows("mp").foreach { fam =>
      val (afi, safi) = ribToAfiSafi(fam.getString(0))
      val (_, hasLabel, hasRd, v6) = afiSafi((afi, safi))
      val b = new Writer
      b.u16(afi).u8(safi)
      val nh = fam.getStruct(2)
      if (nh.getByte(0) == 6) {
        b.u8(16)
        (0 until 8).foreach(i => b.u8(((nh.getLong(1) >> (56 - 8 * i)) & 0xFF).toInt))
        (0 until 8).foreach(i => b.u8(((nh.getLong(2) >> (56 - 8 * i)) & 0xFF).toInt))
      } else {
        b.u8(4)
        (0 until 4).foreach(i => b.u8(((nh.getLong(2) >> (24 - 8 * i)) & 0xFF).toInt))
      }
      b.u8(0) // reserved
      val nlri = fam.getSeq[Row](1)
      // messages()-shaped input carries the 3-field mp struct (no wrapper
      // arrays); decoded-shape input carries 5 fields
      val rds = if (fam.length > 3 && !fam.isNullAt(3)) fam.getSeq[Row](3) else null
      val labels = if (fam.length > 4 && !fam.isNullAt(4)) fam.getSeq[Integer](4) else null
      nlri.zipWithIndex.foreach { case (p, i) =>
        var bits = p.getInt(3)
        if (hasLabel) bits += 24
        if (hasRd) bits += 64
        b.u8(bits)
        if (hasLabel) {
          val lbl = if (labels != null && labels(i) != null) labels(i).intValue else 0
          b.u8(lbl >> 12).u8((lbl >> 4) & 0xFF).u8(((lbl & 0xF) << 4) | 1)
        }
        if (hasRd) {
          if (rds != null && rds(i) != null) writeRd(b, rds(i).getLong(0), rds(i).getLong(1))
          else writeRd(b, 0L, 0L)
        }
        val nBytes = (p.getInt(3) + 7) / 8
        if (v6) (0 until nBytes).foreach { i =>
          val byte = if (i < 8) (p.getLong(1) >> (56 - 8 * i)) & 0xFF
            else (p.getLong(2) >> (56 - 8 * (i - 8))) & 0xFF
          b.u8(byte.toInt)
        } else (0 until nBytes).foreach(i =>
          b.u8(((p.getLong(2) >> (24 - 8 * i)) & 0xFF).toInt))
      }
      writeAttr(pa, 0x80, 14, b.bytes)
    }
    // MDT route keys from mp_keys / mp_keys_withdraws (readMdtItem doc):
    // one MP_REACH attr per (family, nexthop) group (the grouping below),
    // one MP_UNREACH attr per family (withdraws carry no nexthop). The
    // other exotic families stay decode-only (their frames are
    // hand-assembled goldens); the encoder skips them here.
    def writeMdtBody(b: Writer, k: Row): Unit = {
      val p = k.getStruct(6) // prefix
      val rd = k.getStruct(1)
      b.u8(64 + p.getInt(3))
      writeRd(b, rd.getLong(0), rd.getLong(1))
      // prefix body without its own length octet (counted in the item len)
      val nBytes = (p.getInt(3) + 7) / 8
      if (p.getByte(0) == 4) {
        (0 until nBytes).foreach(i => b.u8(((p.getLong(2) >> (24 - 8 * i)) & 0xFF).toInt))
      } else (0 until nBytes).foreach { i =>
        val byte = if (i < 8) (p.getLong(1) >> (56 - 8 * i)) & 0xFF
          else (p.getLong(2) >> (56 - 8 * (i - 8))) & 0xFF
        b.u8(byte.toInt)
      }
      // group: family octet (0 = absent) + bit-length-prefixed address
      // (readMdtItem doc — the family octet keeps short-prefix v6 and /0
      // groups symmetric where a bits-only heuristic could not)
      val g = k.getStruct(7)
      if (g == null) b.u8(0) else { b.u8(g.getByte(0).toInt); writePrefix(b, g) }
    }
    def mdtOnly(n: String): Seq[(String, Seq[Row])] =
      rows(n).filter(k => k.getString(0) == "ipv4mdt" || k.getString(0) == "ipv6mdt")
        .groupBy(_.getString(0)).toSeq.sortBy(_._1)
    // one MP_REACH per (family, nexthop): the nexthop is an attribute of
    // the MP_REACH envelope, not the item, so items with differing
    // nexthops must not collapse onto items.head's — group and emit one
    // attribute per distinct nexthop (deterministic order so encode is a
    // pure function of the row)
    mdtOnly("mp_keys").foreach { case (rib, famItems) =>
      famItems.groupBy(_.getStruct(5)).toSeq
        .sortBy { case (nh, _) =>
          if (nh == null) (-1, 0L, 0L)
          else (nh.getByte(0).toInt, nh.getLong(1), nh.getLong(2)) }
        .foreach { case (nh, items) =>
          val b = new Writer
          b.u16(if (rib == "ipv4mdt") 1 else 2).u8(66)
          if (nh != null && nh.getByte(0) == 4) {
            b.u8(4)
            (0 until 4).foreach(i => b.u8(((nh.getLong(2) >> (24 - 8 * i)) & 0xFF).toInt))
          } else if (nh != null) {
            b.u8(16)
            (0 until 8).foreach(i => b.u8(((nh.getLong(1) >> (56 - 8 * i)) & 0xFF).toInt))
            (0 until 8).foreach(i => b.u8(((nh.getLong(2) >> (56 - 8 * i)) & 0xFF).toInt))
          } else b.u8(0)
          b.u8(0) // reserved
          items.foreach(writeMdtBody(b, _))
          writeAttr(pa, 0x80, 14, b.bytes)
        }
    }
    mdtOnly("mp_keys_withdraws").foreach { case (rib, items) =>
      val b = new Writer
      b.u16(if (rib == "ipv4mdt") 1 else 2).u8(66)
      items.foreach(writeMdtBody(b, _))
      writeAttr(pa, 0x80, 15, b.bytes)
    }
    val pab = pa.bytes
    w.u16(pab.length).raw(pab)
    // base NLRI
    rows("nlri").foreach(p => writePrefix(w, p))
    frameBgp(2, w.bytes)
  }

  /** Decode one framed BGP UPDATE. Throws on malformed framing — a silent
    * skip would hide adapter bugs. */
  def decodeUpdate(msgId: Long, sessionId: Int, ts: java.sql.Timestamp,
      bytes: Array[Byte]): Row = {
    require(bytes.length >= 19, s"msg $msgId: short BGP message (${bytes.length}B)")
    (0 until 16).foreach(i => require(bytes(i) == 0xFF.toByte,
      s"msg $msgId: bad marker byte $i"))
    val r = new Reader(bytes, 16, bytes.length)
    val total = r.u16()
    require(total == bytes.length, s"msg $msgId: length $total != ${bytes.length}")
    val tpe = r.u8()
    require(tpe == 2, s"msg $msgId: not an UPDATE (type $tpe)")
    // withdrawn
    val wdEnd = { val n = r.u16(); r.off + n }
    val withdraws = Seq.newBuilder[Row]
    while (r.off < wdEnd) withdraws += readNlriItem(r, hasLabel = false, hasRd = false, v6 = false)._1
    // path attributes
    val paEnd = { val n = r.u16(); r.off + n }
    var origin: String = null
    var asList: Seq[Long] = null
    var nexthop: Row = null
    var med: java.lang.Long = null
    var localpref: java.lang.Long = null
    var comms: Seq[Row] = null
    var lcomms: Seq[Row] = null
    var extcomms: Seq[Row] = null
    val mp = Seq.newBuilder[Row]
    val mpWd = Seq.newBuilder[Row]
    val mpKeys = Seq.newBuilder[Row]
    val mpKeysWd = Seq.newBuilder[Row]
    var sawMp = false; var sawMpWd = false
    var sawMpKeys = false; var sawMpKeysWd = false
    while (r.off < paEnd) {
      val flags = r.u8()
      val tpeA = r.u8()
      val len = if ((flags & 0x10) != 0) r.u16() else r.u8()
      val attrEnd = r.off + len
      tpeA match {
        case 1 => origin = r.u8() match {
          case 0 => "IGP"; case 1 => "EGP"; case _ => "Incomplete"
        }
        case 2 =>
          val all = Seq.newBuilder[Long]
          while (r.off < attrEnd) {
            r.u8() // segment type (SET/SEQUENCE — flattened like as_list)
            val n = r.u8()
            (0 until n).foreach(_ => all += r.u32())
          }
          asList = all.result()
        case 3 => nexthop = readPrefixBits(r, 32, v6 = false)
        case 4 => med = Long.box(r.u32())
        case 5 => localpref = Long.box(r.u32())
        case 8 =>
          val b = Seq.newBuilder[Row]
          while (r.off < attrEnd) b += Row(r.u16(), r.u16())
          comms = b.result()
        case 16 =>
          val b = Seq.newBuilder[Row]
          while (r.off < attrEnd) b += Row(r.u8(), r.u8(), r.u16().toLong, r.u32())
          extcomms = b.result()
        case 32 =>
          val b = Seq.newBuilder[Row]
          while (r.off < attrEnd) b += Row(r.u32(), r.u32(), r.u32())
          lcomms = b.result()
        case 14 => // MP_REACH_NLRI
          val afi = r.u16(); val safi = r.u8()
          val nhLen = r.u8()
          val famNh: Row = nhLen match {
            case 4 => readPrefixBits(r, 32, v6 = false)
            case 12 => r.skip(8); readPrefixBits(r, 32, v6 = false)
            case 16 => readPrefixBits(r, 128, v6 = true)
            case 24 | 32 =>
              if (nhLen == 24) r.skip(8)
              val nh = readPrefixBits(r, 128, v6 = true)
              if (nhLen == 32) r.skip(16) // link-local second half
              nh
            case n => r.skip(n); null
          }
          r.u8() // reserved
          // fix nexthop plen to the family's host length
          val nhFixed = if (famNh == null) null
            else pfxRow(famNh.getByte(0), famNh.getLong(1), famNh.getLong(2),
              if (famNh.getByte(0) == 6) 128 else 32)
          exoticFamily(afi, safi) match {
            case Some(rib) =>
              sawMpKeys = true
              while (r.off < attrEnd) mpKeys += readExoticItem(rib, r, nhFixed)
            case None if afi == 1 && safi == 133 => // FlowSpec v4 → fs4u
              sawMp = true
              val ps = Seq.newBuilder[Row]
              while (r.off < attrEnd) ps += readFlowspecItem(r)
              mp += Row("fs4u", ps.result(), nhFixed, null, null)
            case None => afiSafi.get((afi, safi)) match {
              case Some((rib, hasLabel, hasRd, v6)) =>
                sawMp = true
                val ps = Seq.newBuilder[Row]; val rds = Seq.newBuilder[Row]
                val lbls = Seq.newBuilder[Integer]
                while (r.off < attrEnd) {
                  val (p, rd, lbl) = readNlriItem(r, hasLabel, hasRd, v6)
                  ps += p; rds += rd; lbls += lbl
                }
                mp += Row(rib, ps.result(), nhFixed,
                  if (hasRd) rds.result() else null,
                  if (hasLabel) lbls.result() else null)
              case None => r.skip(attrEnd - r.off) // family out of decoder scope
            }
          }
        case 15 => // MP_UNREACH_NLRI
          val afi = r.u16(); val safi = r.u8()
          exoticFamily(afi, safi) match {
            case Some(rib) =>
              sawMpKeysWd = true
              while (r.off < attrEnd) mpKeysWd += readExoticItem(rib, r, null)
            case None if afi == 1 && safi == 133 =>
              sawMpWd = true
              val ps = Seq.newBuilder[Row]
              while (r.off < attrEnd) ps += readFlowspecItem(r)
              mpWd += Row("fs4u", ps.result(), null, null, null)
            case None => afiSafi.get((afi, safi)) match {
              case Some((rib, hasLabel, hasRd, v6)) =>
                sawMpWd = true
                val ps = Seq.newBuilder[Row]; val rds = Seq.newBuilder[Row]
                val lbls = Seq.newBuilder[Integer]
                while (r.off < attrEnd) {
                  val (p, rd, lbl) = readNlriItem(r, hasLabel, hasRd, v6)
                  ps += p; rds += rd; lbls += lbl
                }
                mpWd += Row(rib, ps.result(), null,
                  if (hasRd) rds.result() else null,
                  if (hasLabel) lbls.result() else null)
              case None => r.skip(attrEnd - r.off)
            }
          }
        case _ => r.skip(attrEnd - r.off) // unknown attribute: honest skip
      }
      require(r.off == attrEnd, s"msg $msgId: attr $tpeA mis-parsed")
    }
    // base NLRI to end of message
    val nlri = Seq.newBuilder[Row]
    while (r.off < r.end) nlri += readNlriItem(r, hasLabel = false, hasRd = false, v6 = false)._1
    Row(msgId, sessionId, ts, nlri.result(), withdraws.result(), nexthop,
      if (sawMp) mp.result() else null,
      if (sawMpWd) mpWd.result() else null,
      if (sawMpKeys) mpKeys.result() else null,
      if (sawMpKeysWd) mpKeysWd.result() else null,
      origin, asList, med, localpref, comms, lcomms, extcomms)
  }

  /** (msg_id, session_id, ts, bytes) frame → decoded updates. */
  def decodeUpdates(frames: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(updateSchema)
    frames.select("msg_id", "session_id", "ts", "bytes").mapPartitions { it =>
      it.map { row =>
        decodeUpdate(row.getLong(0), row.getInt(1),
          if (row.isNullAt(2)) null else row.getTimestamp(2),
          row.getAs[Array[Byte]](3))
      }
    }(enc)
  }

  /** messages()-shaped rows → (msg_id, session_id, ts, bytes) frames. */
  def encodeUpdates(msgs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("msg_id", LongType, nullable = false),
      StructField("session_id", IntegerType, nullable = false),
      StructField("ts", TimestampType, nullable = true),
      StructField("bytes", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    // align arbitrary messages()-shaped input onto updateSchema columns
    // (absent attr columns become nulls) so encodeUpdate sees one shape
    val cols = updateSchema.fields.map { f =>
      if (msgs.columns.contains(f.name)) org.apache.spark.sql.functions.col(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }
    msgs.select(cols.toIndexedSeq: _*).mapPartitions { it =>
      it.map { row =>
        Row(row.getLong(0), row.getInt(1),
          if (row.isNullAt(2)) null else row.getTimestamp(2),
          encodeUpdate(row))
      }
    }(enc)
  }

  // ------------------------------------------------------------------ BMP

  /** Frame a BMP v3 route-monitoring message around a framed BGP message
    * (RFC 7854 §4.1/§4.2: common header + per-peer header). */
  def encodeBmpRouteMonitoring(rdh: Long, rdl: Long, peerV4: Long,
      peerAs: Long, bgpId: Long, tsSec: Long, tsUsec: Long,
      update: Array[Byte]): Array[Byte] = {
    val w = new Writer
    w.u8(3) // version
    w.u32(6 + 42 + update.length)
    w.u8(0) // type 0 = route monitoring
    w.u8(1).u8(0) // peer type 1 (RD instance), flags: v4
    writeRd(w, rdh, rdl)
    (0 until 12).foreach(_ => w.u8(0)) // v4-mapped: 12 zero bytes + addr
    w.u32(peerV4)
    w.u32(peerAs).u32(bgpId).u32(tsSec).u32(tsUsec)
    w.raw(update)
    w.bytes
  }

  /** Decode one BMP message: route-monitoring and peer-up carry their
    * post-per-peer-header payload in `update` (the embedded framed UPDATE
    * for type 0; local addr + ports + the two framed OPENs for type 3 —
    * consumed by `BgpSession.decodePeerUpBody`); other types surface their
    * type name with null payload (reference src/bmppeer.rs:30-63). */
  def decodeBmp(bytes: Array[Byte]): Row = {
    val r = new Reader(bytes, 0, bytes.length)
    val v = r.u8()
    require(v == 3, s"BMP version $v")
    val len = r.u32()
    require(len == bytes.length, s"BMP length $len != ${bytes.length}")
    val tpe = r.u8()
    val typeName = tpe match {
      case 0 => "route_monitoring"; case 1 => "stats"; case 2 => "peer_down"
      case 3 => "peer_up"; case 4 => "initiation"; case 5 => "termination"
      case n => s"type_$n"
    }
    if (tpe != 0 && tpe != 2 && tpe != 3)
      return Row(typeName, null, null, null, null, null, null)
    r.u8() // peer type
    val flags = r.u8()
    val rd = readRd(r)
    val peerAddr = if ((flags & 0x80) != 0) {
      readPrefixBits(r, 128, v6 = true)
    } else { r.skip(12); readPrefixBits(r, 32, v6 = false) }
    val peerAs = r.u32()
    val bgpId = r.u32()
    val tsSec = r.u32(); val tsUsec = r.u32()
    val ts = new java.sql.Timestamp(tsSec * 1000L + tsUsec / 1000)
    val payload = if ((tpe == 0 || tpe == 3) && r.remaining > 0)
      java.util.Arrays.copyOfRange(r.b, r.off, r.end) else null
    Row(typeName, rd, peerAddr, peerAs, bgpId, ts, payload)
  }

  /** Binary BMP frames → per-peer rows with the embedded framed UPDATE. */
  def decodeBmpFrames(frames: DataFrame, bytesCol: String = "bytes"): DataFrame = {
    val enc = RowEncoder.encoderFor(bmpSchema)
    frames.select(bytesCol).mapPartitions { it =>
      it.map(row => decodeBmp(row.getAs[Array[Byte]](0)))
    }(enc)
  }

  /** The reference's `filter_rd` (src/bmppeer.rs:33-39): keep only frames
    * from the given VRF — a plain ingest `where`, exactly as SURVEY §2.1
    * prescribes. */
  def filterRd(bmp: DataFrame, rdh: Long, rdl: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    bmp.where(col("peer_rd.rdh") === rdh && col("peer_rd.rdl") === rdl)
  }
}
