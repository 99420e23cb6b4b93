package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.IpFns
import graft.queries.Tables

/** Deterministic route-event derivation from the driver `events` table —
  * the test-bench analog of the ingest adapter (SURVEY.md §2.1 S1-S4): maps
  * each generic event to one normalized route-event row of the canonical
  * schema (FIXTURES.md §1), covering ALL 15 RIB kinds of the reference's
  * table registry (src/bgprib.rs:807-821), VPN RDs, MPLS labels, MDT groups,
  * the 7 MVPN route types and 5 EVPN route types (src/ribfilter.rs:320-453),
  * v4/v6/multicast prefixes and the full attribute record.
  *
  * Every derived value is integer arithmetic on (event_id, user_id) so the
  * DuckDB oracle (RibQueries.cte) can mirror it exactly — the oracle
  * computes filter results directly from the arithmetic while the engine
  * goes through parse → compile → tri-state evaluation, which is exactly
  * what makes the hash compare a real semantics check.
  *
  * At scale this is the shape of the real ingest path: a narrow projection +
  * pure column arithmetic, fully codegen'd, no shuffle, partitionable by
  * `ts_day`/`rib` at the write (reference's daily `idx_changed` buckets,
  * src/bgprib.rs:430).
  */
object RouteEventGen {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private lazy val snapshotRoot =
    java.nio.file.Files.createTempDirectory("graft_route_events").toString

  /** ff05:: high long (v6 multicast prefix space), folded to the signed-64
    * representation shared with the DuckDB CTE. */
  val FF05_HI: Long = 0xff05L << 48

  /** Derived route events, materialized once per (session, sfDir) as a
    * Parquet event log partitioned by `rib` and sorted within partitions by
    * the unsigned prefix order — the same layout a production deployment
    * would write (partition pruning on `rib`, min/max data skipping on the
    * prefix longs; reference analog: per-SAFI tables + ordered BTreeMap
    * keys, src/bgprib.rs:427-436). Also keeps query plans small: filters
    * compile against the scanned columns instead of inlining the whole
    * derivation expression tree into every predicate. */
  def routeEvents(spark: SparkSession, sfDir: String): DataFrame =
    cache.computeIfAbsent(sfDir, { _ =>
      val dir = s"$snapshotRoot/${java.lang.Integer.toHexString(sfDir.hashCode)}"
      // ONE rib-keyed exchange between the derivation and the writer (r18
      // optimization round): the derivation — the expression-heavy half,
      // display rendering included — runs at full scan parallelism (the
      // Tables.spread floor), and the dynamic-partition writer sees rows
      // already clustered by rib, so each task writes ONE file into one
      // rib directory instead of task-count × rib-count fragments (the
      // coalesce(16) form measured 12.2 s under the spread scan — 240
      // writer buffers — vs 2.4 s for this shape; the pre-spread
      // no-shuffle form was 5.2 s, derivation single-threaded). The
      // within-file prefix sort keeps parquet ROW-GROUP min/max stats
      // tight, which is the granularity the reader actually skips at. At
      // 100 TB the same exchange becomes (rib, prefix-range) to bound
      // per-task output size — see SCALE.md.
      // the partition count is PINNED (repartition-by-col alone lets AQE
      // coalesce the ~30 MB exchange to ONE writer task); ≤ |ribs|
      // partitions are non-empty, so the pin costs nothing beyond them
      fromEvents(Tables(spark, sfDir, "events"))
        .repartition(spark.sparkContext.defaultParallelism, col("rib"))
        .sortWithinPartitions(col("rib"), col("prefix.ip_hi"), col("prefix.ip_lo"),
          col("prefix.prefix_len"), col("ts"))
        .write.mode("overwrite").partitionBy("rib").parquet(dir)
      // deliberately NOT wrapped in Tables.spread: rib queries' first
      // operation is a key-partitioned window/aggregate exchange, so a
      // round-robin exchange ahead of it is pure overhead (measured
      // +0.5-1 s across the rib board when tried r18); the scan stage
      // here is columnar decode + filter, not expression-heavy work
      spark.read.parquet(dir)
    })

  /** Directory of the materialized event log — for streaming readers that
    * tail the log as a file source (the log IS the bus, Feed ST1). */
  def routeEventsDir(spark: SparkSession, sfDir: String): String = {
    routeEvents(spark, sfDir) // ensure materialized
    s"$snapshotRoot/${java.lang.Integer.toHexString(sfDir.hashCode)}"
  }

  val l2Type = "struct<site:int,offset:int,range:int>"
  val pfxType = "struct<version:tinyint,ip_hi:bigint,ip_lo:bigint,prefix_len:int>"
  val rdType = "struct<rdh:bigint,rdl:bigint>"
  val mvpnType = s"struct<mtype:int,rd:$rdType,originator:$pfxType,source:$pfxType," +
    s"group:$pfxType,rp:$pfxType,spmsi_rd:$rdType,spmsi_originator:$pfxType," +
    s"spmsi_source:$pfxType,spmsi_group:$pfxType>"
  val evpnType = s"struct<etype:int,rd:$rdType,ip:$pfxType,gw_ip:$pfxType," +
    "esi:string,eth_tag:bigint,mac:string>"

  def fromEvents(events0: DataFrame): DataFrame = {
    // id-keyed spread ahead of the derivation expressions (r18 opt round,
    // Tables.spread doc): the events fixture is one small one-row-group
    // file, so the expression-heavy derivation — display rendering
    // included — otherwise runs in a single task
    val events = graft.queries.Tables.spread(
      events0.sparkSession, events0, "event_id")
    val eid = col("event_id")
    val uid = col("user_id")
    val m16 = eid % 16
    // slot must be independent of the rib bits (eid%16): gcd(16,20)=4 would
    // otherwise make many (rib, prefix) combinations unreachable
    val slot = (shiftright(eid, 4) + uid) % 20
    // All 15 SAFI tables of the reference registry (src/bgprib.rs:807-821).
    // The sub-splits (uid%2 / uid%3) are independent of the eid%16 bits.
    val rib = when(m16 < 6, "ipv4u")
      .when(m16 === 6, when(uid % 2 === 0, "ipv6lu").otherwise("fs4u"))
      .when(m16 === 7, when(uid % 2 === 0, "ipv4mdt").otherwise("ipv6mdt"))
      .when(m16 < 10, "vpnv4u")
      .when(m16 === 10, when(uid % 3 === 0, "vpnv6u").when(uid % 3 === 1, "vpnv4m")
        .otherwise("vpnv6m"))
      .when(m16 < 13, "ipv6u")
      .when(m16 === 13, "ipv4lu")
      .when(m16 === 14, "ipv4m")
      .otherwise(when(uid % 3 === 0, "mvpn").when(uid % 3 === 1, "evpn")
        .otherwise("l2vpls"))
    val v6uRibs = Seq("ipv6u", "vpnv6u", "ipv6lu", "ipv6mdt")
    val isV6u = rib.isin(v6uRibs: _*)
    val isV6m = rib === "vpnv6m"
    val isV4m = rib === "ipv4m" || rib === "vpnv4m"
    val noKeyPrefix = rib.isin("mvpn", "evpn", "l2vpls")
    val plen = lit(24) + (slot % 3) * 4
    val o2 = slot % 16
    val o3 = uid % 256
    val o4 = when(slot % 3 === 0, 0L)
      .when(slot % 3 === 1, (slot % 16) * 16L)
      .otherwise((slot * 12L) % 256)
    val v4base = when(isV4m, 224L << 24).otherwise(10L << 24)
    val v4ip = v4base + shiftleft(o2, 16) + shiftleft(o3, 8) + o4
    val v6hi = lit(0x2001L << 48) + shiftleft(o2, 16) + o3
    val v6mHi = lit(FF05_HI) + shiftleft(o2, 16) + o3
    val prefix = when(isV6u,
      struct(lit(6.toByte).as("version"), v6hi.cast("long").as("ip_hi"),
        lit(0L).as("ip_lo"), lit(64).as("prefix_len")))
      .when(isV6m,
        struct(lit(6.toByte).as("version"), v6mHi.cast("long").as("ip_hi"),
          lit(0L).as("ip_lo"), lit(64).as("prefix_len")))
      .when(noKeyPrefix, lit(null).cast(pfxType))
      .otherwise(
        struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
          v4ip.cast("long").as("ip_lo"), plen.cast("int").as("prefix_len")))
    // MVPN route type 1..7 / EVPN route type 1..5, independent of eid%16
    val mtype = (lit(1) + shiftright(eid, 4) % 7).cast("int")
    val etype = (lit(1) + shiftright(eid, 4) % 5).cast("int")
    val rd = when(rib === "vpnv4u",
      struct((lit(100L) + uid % 3).as("rdh"), (lit(1000L) + eid % 2).as("rdl")))
      .when(rib === "vpnv6u",
        struct((lit(110L) + uid % 2).as("rdh"), (lit(1010L) + eid % 2).as("rdl")))
      .when(rib === "vpnv4m",
        struct((lit(120L) + uid % 2).as("rdh"), (lit(1020L) + eid % 2).as("rdl")))
      .when(rib === "ipv4mdt" || rib === "ipv6mdt",
        struct((lit(130L) + uid % 2).as("rdh"), (lit(1030L) + eid % 2).as("rdl")))
      .when(rib === "vpnv6m",
        struct((lit(140L) + uid % 2).as("rdh"), (lit(1040L) + eid % 2).as("rdl")))
      .when(rib === "l2vpls",
        struct((lit(500L) + uid % 2).as("rdh"), (lit(700L) + eid % 3).as("rdl")))
      .otherwise(lit(null).cast(rdType))
    val labeledRibs = Seq("ipv4lu", "vpnv4u", "ipv6lu", "vpnv6u")
    val labels = when(rib.isin(labeledRibs: _*),
      array((lit(100) + (eid % 8)).cast("int"))).otherwise(lit(null).cast("array<int>"))
    def v4Host(base: Long, o4h: Column): Column =
      struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
        (lit(base) + shiftleft(o2, 16) + shiftleft(o3, 8) + o4h).cast("long").as("ip_lo"),
        lit(32).as("prefix_len"))
    // multicast group host 224.(slot%8).o3.0 (second octet independent of o2)
    def mcGroup(base: Long): Column =
      struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
        (lit(base) + shiftleft(slot % 8, 16) + shiftleft(o3, 8))
          .cast("long").as("ip_lo"), lit(32).as("prefix_len"))
    // rendezvous point 172.(16+slot%4).o3.(eid%100) for MVPN t6/t7
    val rpHost =
      struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
        (lit(172L << 24) + shiftleft(lit(16) + slot % 4, 16) + shiftleft(o3, 8) + eid % 100)
          .cast("long").as("ip_lo"), lit(32).as("prefix_len"))
    val origHost = v4Host(10L << 24, eid % 100) // originator ≡ source arithmetic
    val mvpnRd = struct((lit(300L) + uid % 2).as("rdh"), (lit(500L) + eid % 4).as("rdl"))
    // Per-type field population mirrors which fields each reference match arm
    // consults (src/ribfilter.rs:320-388): t1 orig, t2 rd-only, t3 orig+src+grp,
    // t4 S-PMSI tuple + originator fallback, t5 src+grp, t6/7 rp+grp.
    val mvpnKey = when(rib === "mvpn", struct(
      mtype.as("mtype"),
      when(mtype =!= 4, mvpnRd).otherwise(lit(null).cast(rdType)).as("rd"),
      when(mtype.isin(1, 3, 4), origHost).otherwise(lit(null).cast(pfxType))
        .as("originator"),
      when(mtype.isin(3, 5), origHost).otherwise(lit(null).cast(pfxType)).as("source"),
      when(mtype.isin(3, 5, 6, 7), mcGroup(224L << 24))
        .otherwise(lit(null).cast(pfxType)).as("group"),
      when(mtype.isin(6, 7), rpHost).otherwise(lit(null).cast(pfxType)).as("rp"),
      when(mtype === 4,
        struct((lit(600L) + uid % 2).as("rdh"), (lit(800L) + eid % 3).as("rdl")))
        .otherwise(lit(null).cast(rdType)).as("spmsi_rd"),
      when(mtype === 4, origHost).otherwise(lit(null).cast(pfxType)).as("spmsi_originator"),
      when(mtype === 4, origHost).otherwise(lit(null).cast(pfxType)).as("spmsi_source"),
      when(mtype === 4, mcGroup(224L << 24)).otherwise(lit(null).cast(pfxType))
        .as("spmsi_group"))).otherwise(lit(null).cast(mvpnType))
    // EVPN: t2 may legitimately carry no IP (src/ribfilter.rs:403-410) —
    // emitted for uid%5==4 to exercise the Unknown arm
    val evpnIpSet = etype.isin(2, 3, 4) && !(etype === 2 && uid % 5 === 4)
    // RFC 7432/9136 NLRI fields beyond the match surface, with per-type
    // presence (esi t1/t2/t4/t5, eth_tag t1/t2/t3/t5, mac t2 only);
    // values are pure arithmetic over fields ALREADY in the route key
    // (etype, rdh's uid%2, rdl's eid%3) — NOT fresh eid entropy: the key
    // struct feeds ring identity (route_id/ring_id hash and every
    // per-ring window), so a field that varied per event would split
    // every evpn ring into near-singletons and silently gut the history
    // semantics (flaps, retention, diff — the round-13 first-cut bug).
    // The DuckDB oracle replays the derivations (q_rib_evpn_fields),
    // formatted exactly like the wire decoder (20 lowercase hex chars /
    // colon-hex MAC).
    val evpnEsi = when(etype.isin(1, 2, 4, 5),
      lpad(lower(hex((uid % 2) * 100 + (eid % 3) * 10 + etype)), 20, "0"))
      .otherwise(lit(null).cast("string"))
    val evpnTag = when(etype.isin(1, 2, 3, 5),
      ((eid % 3) * 16 + uid % 2).cast("long"))
      .otherwise(lit(null).cast("long"))
    val evpnMac = when(etype === 2,
      format_string("02:00:00:00:%02x:%02x",
        (uid % 2).cast("int"), (eid % 3).cast("int")))
      .otherwise(lit(null).cast("string"))
    val evpnKey = when(rib === "evpn", struct(
      etype.as("etype"),
      struct((lit(400L) + uid % 2).as("rdh"), (lit(600L) + eid % 3).as("rdl")).as("rd"),
      when(evpnIpSet, v4Host(10L << 24, eid % 50)).otherwise(lit(null).cast(pfxType))
        .as("ip"),
      when(etype === 5, v4Host(10L << 24, eid % 50)).otherwise(lit(null).cast(pfxType))
        .as("gw_ip"),
      evpnEsi.as("esi"), evpnTag.as("eth_tag"), evpnMac.as("mac")))
      .otherwise(lit(null).cast(evpnType))
    val l2Key = when(rib === "l2vpls", struct(
      (lit(1) + (uid % 5)).cast("int").as("site"),
      ((eid % 4) * 10).cast("int").as("offset"),
      ((eid % 4) * 10 + 9).cast("int").as("range"))).otherwise(lit(null).cast(l2Type))
    // MDT group 232.(slot%8).o3.0 (SSM space) for both ipv4mdt and ipv6mdt
    val mdtGroup = when(rib === "ipv4mdt" || rib === "ipv6mdt", mcGroup(232L << 24))
      .otherwise(lit(null).cast(pfxType))
    val a1 = (lit(100L) + eid % 5).cast("long")
    val a2 = (lit(200L) + uid % 7).cast("long")
    val asList = when(eid % 2 === 1, array(a1, a2, lit(65001L))).otherwise(array(a1, a2))
    val nexthop = struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
      (lit((192L << 24) + (168L << 16)) + shiftleft(uid % 4, 8) + eid % 200)
        .cast("long").as("ip_lo"),
      lit(32).as("prefix_len"))
    val attrs = struct(
      element_at(array(lit("IGP"), lit("EGP"), lit("Incomplete")), (eid % 3 + 1).cast("int"))
        .as("origin"),
      nexthop.as("nexthop"),
      array(struct(lit(false).as("is_set"), asList.as("asns"))).as("aspath"),
      asList.as("as_list"),
      array(struct(lit(10).as("a"), (eid % 50).cast("int").as("b")),
        struct(lit(20).as("a"), (uid % 10).cast("int").as("b"))).as("comms"),
      array(struct(lit(1L).as("a"), lit(2L).as("b"), (eid % 5).cast("long").as("c")))
        .as("lcomms"),
      array(struct(lit(0).as("ctype"), lit(2).as("subtype"),
        (lit(200L) + uid % 4).as("a"), (lit(300L) + eid % 5).as("b"))).as("extcomms"),
      (eid % 100).cast("long").as("med"),
      (lit(100L) + uid % 10).as("localpref"),
      lit(null).cast("string").as("atomicaggregate"),
      lit(null).cast("struct<asn:bigint,addr:string>").as("aggregator_as"),
      lit(null).cast("string").as("originator"),
      lit(null).cast("array<string>").as("clusterlist"),
      lit(null).cast("string").as("pmsi_ta"))
    // Surrogate identities, stored at ingest: route_id names the route key
    // (rib + NLRI incl. wrappers), ring_id the full history ring (+ session
    // + path). Downstream windows, rollups and the page semi-join key on
    // ONE long instead of a 10-column nested tuple — narrower exchange
    // keys, cheaper sort comparisons, codegen-small aggregate keys
    // (SCALE.md "Surrogate keys"). 64-bit space: the chance of ANY
    // colliding pair is ~n²/2⁶⁵ — ~3e-4 at the 10⁸-ring ceiling implied by
    // the reference's full-table scale, and a collision perturbs a single
    // ring. RibJson synthesizes the same hash for ad-hoc frames, so stored
    // and computed forms agree.
    val sessionId = (uid % 4).cast("int")
    val pathId = (eid % 3).cast("long")
    val routeId = xxhash64(rib, prefix, rd, labels, l2Key, mvpnKey, evpnKey, mdtGroup)
    val ringId = xxhash64(routeId, sessionId, pathId)
    events.select(
      col("ts"),
      rib.as("rib"),
      sessionId.as("session_id"),
      pathId.as("path_id"),
      (eid % 7 =!= 0).as("active"),
      prefix.as("prefix"),
      IpFns.pfxStr(prefix).as("prefix_str"),
      rd.as("rd"),
      labels.as("labels"),
      l2Key.as("l2"),
      mvpnKey.as("mvpn"),
      evpnKey.as("evpn"),
      mdtGroup.as("mdt_group"),
      attrs.as("attrs"),
      // regex-match subjects, rendered once at ingest (src/ribfilter.rs:1463-1470)
      graft.filter.FilterCompiler.attrStrings(attrs).as("attr_strs"),
      ((eid % 600) * 1000 + uid % 140).cast("long").as("attrs_hash"),
      // daily change-time bucket → partition-prunable (replaces the
      // reference's idx_changed daily index, src/bgprib.rs:430, 652-653)
      to_date(col("ts")).as("ts_day"),
      eid.as("event_id"),
      routeId.as("route_id"),
      ringId.as("ring_id"))
  }
}
