package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.IpFns

/** S3/S4: update-message decomposition (reference: `BgpRIB::handle_update`,
  * src/bgprib.rs:1104-1205) — one decoded UPDATE message explodes into base
  * withdraws + base updates + per-MP-family items, where each MP family
  * carries its own nexthop that overrides the base attrs
  * (src/bgprib.rs:1183-1201), and every output row lands in its SAFI table
  * via the `rib` discriminator (the 26-arm dispatch of
  * src/bgprib.rs:1016-1097 becomes a column).
  *
  * Pure flatMap shape: three explodes + a union — no shuffle, scales with
  * input bytes. */
object UpdateDecompose {

  /** Deterministic update-message stream derived from the `events` table —
    * the oracle-checkable stand-in for decoded BGP UPDATEs. The wire path
    * (BgpWire.encodeUpdates → decodeUpdates) round-trips this same stream
    * through real RFC 4271 bytes; q_ingest_decompose and q_wire_decompose
    * share one events-arithmetic oracle, so the two paths are pinned to
    * agree. */
  def messages(events0: DataFrame): DataFrame = {
    // id-keyed spread ahead of the message-derivation expressions and the
    // wire-codec mapPartitions chain downstream (r18 opt round,
    // Tables.spread doc): the events fixture is one small one-row-group
    // file — single-task codec work otherwise
    val events = graft.queries.Tables.spread(
      events0.sparkSession, events0, "event_id")
    val eid = col("event_id")
    val uid = col("user_id")
    def pfx(j: Int) = {
      val ip = lit(10L << 24) + shiftleft((eid + j) % 64, 16) + shiftleft(uid % 256, 8)
      struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
        ip.cast("long").as("ip_lo"), lit(24).as("prefix_len"))
    }
    def pfx6 = struct(lit(6.toByte).as("version"),
      (lit(0x2001L << 48) + (eid % 64)).cast("long").as("ip_hi"),
      lit(0L).as("ip_lo"), lit(64).as("prefix_len"))
    val nh4 = struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
      (lit((192L << 24) + (168L << 16)) + uid % 256).cast("long").as("ip_lo"),
      lit(32).as("prefix_len"))
    val nh6 = struct(lit(6.toByte).as("version"),
      lit(0xFE80L << 48).as("ip_hi"), (uid % 256).cast("long").as("ip_lo"),
      lit(128).as("prefix_len"))
    // path attributes mirror the RouteEventGen attr arithmetic so the
    // wire roundtrip (q_wire_attrs) is oracle-checkable from `events`
    val a1 = (lit(100L) + eid % 5).cast("long")
    val a2 = (lit(200L) + uid % 7).cast("long")
    // MDT route keys (RFC 6037) on independent strides: reach items on
    // eid%5==0, withdraws on eid%7==3, family by uid parity — both MDT
    // tables see both activity kinds through the wire roundtrip. Structs
    // are full mpKeySt shape (BgpWire encodes mp_keys positionally).
    val pfxT = RouteEventGen.pfxType
    val mdtV4 = uid % 2 === 0
    // withdraw keys carry NO nexthop: MP_UNREACH has none on the wire, so
    // a reach-style nexthop here would be silently dropped by the
    // roundtrip and the direct/decoded decompositions would disagree
    def mdtKey(pIdx: Int, nh: org.apache.spark.sql.Column) = struct(
      when(mdtV4, "ipv4mdt").otherwise("ipv6mdt").as("rib"),
      struct((lit(130L) + uid % 2).as("rdh"), (lit(1030L) + eid % 2).as("rdl"))
        .as("rd"),
      lit(null).cast(RouteEventGen.l2Type).as("l2"),
      lit(null).cast(RouteEventGen.mvpnType).as("mvpn"),
      lit(null).cast(RouteEventGen.evpnType).as("evpn"),
      nh.as("nexthop"),
      when(mdtV4, pfx(pIdx)).otherwise(pfx6).as("prefix"),
      struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
        (lit(232L << 24) + shiftleft(eid % 8, 16) + shiftleft(uid % 256, 8))
          .cast("long").as("ip_lo"), lit(32).as("prefix_len")).as("mdt_group"))
    val mdtKeys = when(eid % 5 === 0, array(mdtKey(3, nh4)))
      .otherwise(lit(null).cast(s"array<struct<rib:string,rd:${RouteEventGen.rdType}," +
        s"l2:${RouteEventGen.l2Type},mvpn:${RouteEventGen.mvpnType}," +
        s"evpn:${RouteEventGen.evpnType},nexthop:$pfxT,prefix:$pfxT,mdt_group:$pfxT>>"))
    val mdtKeysWd = when(eid % 7 === 3,
        array(mdtKey(4, lit(null).cast(pfxT))))
      .otherwise(lit(null).cast(s"array<struct<rib:string,rd:${RouteEventGen.rdType}," +
        s"l2:${RouteEventGen.l2Type},mvpn:${RouteEventGen.mvpnType}," +
        s"evpn:${RouteEventGen.evpnType},nexthop:$pfxT,prefix:$pfxT,mdt_group:$pfxT>>"))
    events.select(
      eid.as("msg_id"),
      (uid % 4).cast("int").as("session_id"),
      col("ts"),
      when(eid % 2 === 1, array(pfx(0), pfx(1))).otherwise(array(pfx(0))).as("nlri"),
      when(eid % 3 === 0, array(pfx(2))).otherwise(array().cast("array<" +
        RouteEventGen.pfxType + ">")).as("withdraws"),
      nh4.as("nexthop"),
      when(eid % 4 === 0,
        array(struct(lit("ipv6u").as("rib"), array(pfx6).as("nlri"), nh6.as("nexthop"))))
        .otherwise(lit(null).cast(s"array<struct<rib:string,nlri:array<${RouteEventGen.pfxType}>,nexthop:${RouteEventGen.pfxType}>>"))
        .as("mp"),
      mdtKeys.as("mp_keys"),
      mdtKeysWd.as("mp_keys_withdraws"),
      element_at(array(lit("IGP"), lit("EGP"), lit("Incomplete")), (eid % 3 + 1).cast("int"))
        .as("origin"),
      when(eid % 2 === 1, array(a1, a2, lit(65001L))).otherwise(array(a1, a2))
        .as("as_list"),
      (eid % 100).cast("long").as("med"),
      (lit(100L) + uid % 10).as("localpref"),
      array(struct(lit(10).as("a"), (eid % 50).cast("int").as("b")),
        struct(lit(20).as("a"), (uid % 10).cast("int").as("b"))).as("comms"),
      array(struct(lit(1L).as("a"), lit(2L).as("b"), (eid % 5).cast("long").as("c")))
        .as("lcomms"),
      array(struct(lit(0).as("ctype"), lit(2).as("subtype"),
        (lit(200L) + uid % 4).as("a"), (lit(300L) + eid % 5).as("b"))).as("extcomms"))
  }

  /** The decomposition itself: base updates (rib=ipv4u, base nexthop) +
    * base withdraws (active=false) + MP families (family rib, family
    * nexthop overriding the base — the attrs clone of
    * src/bgprib.rs:1183-1201). Wire-decoded frames (BgpWire.updateSchema)
    * additionally carry `mp_keys`/`mp_keys_withdraws` — EVPN/MVPN/VPLS
    * route keys — which land in their SAFI tables with the engine's key
    * structs (the exotic arms of the 26-way dispatch,
    * src/bgprib.rs:1016-1097).
    *
    * SINGLE-PASS shape: the per-message output rows are built as one
    * `concat` of array `transform`s and exploded ONCE. The union-of-explodes
    * alternative re-evaluates the upstream per branch — behind the wire
    * decoder that meant 5 full encode+decode passes over every message
    * (measured ~2.5× total cost at sf0.1). One Generate = one scan, one
    * decode, still zero shuffles. */
  def decompose(msgs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val nullPfx = lit(null).cast(RouteEventGen.pfxType)
    val nullRd = lit(null).cast(RouteEventGen.rdType)
    val nullL2 = lit(null).cast(RouteEventGen.l2Type)
    val nullMvpn = lit(null).cast(RouteEventGen.mvpnType)
    val nullEvpn = lit(null).cast(RouteEventGen.evpnType)
    def item(rib: Column, p: Column, active: Column, nh: Column,
        rd: Column = nullRd, l2: Column = nullL2, mvpn: Column = nullMvpn,
        evpn: Column = nullEvpn, mdtGroup: Column = nullPfx): Column =
      struct(rib.as("rib"), active.as("active"), p.as("prefix"),
        nh.as("nexthop"), rd.as("rd"), l2.as("l2"), mvpn.as("mvpn"),
        evpn.as("evpn"), mdtGroup.as("mdt_group"))
    val base = transform(col("nlri"),
      p => item(lit("ipv4u"), p, lit(true), col("nexthop")))
    val withdrawn = transform(col("withdraws"),
      p => item(lit("ipv4u"), p, lit(false), col("nexthop")))
    val mp = flatten(transform(col("mp"), fam =>
      transform(fam("nlri"), p => item(fam("rib"), p, lit(true), fam("nexthop")))))
    def exoticArr(colName: String, active: Boolean): Option[Column] =
      if (!msgs.columns.contains(colName)) None
      else Some(transform(col(colName), k =>
        item(k("rib"), k("prefix"), lit(active), k("nexthop"),
          rd = k("rd"), l2 = k("l2"), mvpn = k("mvpn"), evpn = k("evpn"),
          mdtGroup = k("mdt_group"))))
    // null family arrays contribute nothing; `slice(base, 1, 0)` is the
    // cheapest same-typed empty array for the coalesce
    val empty = slice(base, 1, 0)
    val parts = Seq(Some(base), Some(withdrawn), Some(coalesce(mp, empty))) ++
      Seq(exoticArr("mp_keys", active = true),
        exoticArr("mp_keys_withdraws", active = false))
        .map(_.map(a => coalesce(a, empty)))
    msgs.select(col("ts"), col("msg_id"), col("session_id"),
        explode(concat(parts.flatten: _*)).as("it"))
      .select(col("ts"), col("msg_id"), col("session_id"),
        col("it.rib").as("rib"), col("it.active").as("active"),
        col("it.prefix").as("prefix"),
        IpFns.pfxStr(col("it.prefix")).as("prefix_str"),
        col("it.nexthop").as("nexthop"), col("it.rd").as("rd"),
        col("it.l2").as("l2"), col("it.mvpn").as("mvpn"),
        col("it.evpn").as("evpn"), col("it.mdt_group").as("mdt_group"))
  }
}
