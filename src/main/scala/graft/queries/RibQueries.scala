package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.filter.FilterParser
import graft.operators.{RibViews, Temporal}
import graft.sources.RouteEventGen

/** Oracle-checked queries for every RIB operator of SURVEY.md §2, bound to
  * the deterministic route events derived from the `events` table
  * (RouteEventGen). The engine side goes through the real machinery —
  * parse → tri-state compile → window views; the DuckDB side (the CTE below)
  * recomputes expected results directly from the derivation arithmetic, so
  * a hash match certifies the semantics, not just the plumbing.
  *
  * Coverage: all 15 RIB kinds (src/bgprib.rs:807-821), all 7 MVPN route
  * types and 5 EVPN route types (src/ribfilter.rs:320-453) have at least one
  * oracle row exercising their match arm.
  */
object RibQueries {

  private def re(s: SparkSession, dir: String): DataFrame =
    RouteEventGen.routeEvents(s, dir)

  /** Count accepted rows per rib — the standard observable for scan ops. */
  private def perRib(df: DataFrame): DataFrame =
    df.groupBy(col("rib")).agg(count(lit(1)).cast("long").as("n")).orderBy(col("rib"))

  private def filterCount(filter: String): (SparkSession, String) => DataFrame =
    (s, dir) => perRib(RibViews.scan(re(s, dir), filter))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- filter-language scans (F1-F9, P1-P4, Q1/Q2; SURVEY §2.2-2.4) ----
    "q_rib_filter_subnet" -> filterCount("10.4.0.0/14"),
    "q_rib_filter_rd" -> filterCount("rd:101:1000"),
    "q_rib_filter_num" -> filterCount("24"),
    "q_rib_filter_aspath" -> filterCount("as:^100"),
    "q_rib_filter_aspath_ends" -> filterCount("as:200$"),
    "q_rib_filter_community" -> filterCount("community:10:25"),
    "q_rib_filter_rt" -> filterCount("rt:202:301"),
    "q_rib_filter_rt_num" -> filterCount("rt:203"),
    "q_rib_filter_nh" -> filterCount("nh:192.168.2.0/24"),
    "q_rib_filter_regex" -> filterCount("re:^10\\.3\\."),
    "q_rib_filter_polarity" -> filterCount("10.4.0.0/14 -community:10:25"),
    "q_rib_filter_conj" -> filterCount("rd:101:1000 10.4.0.0/14"),
    "q_rib_filter_multicast" -> filterCount("224.8.0.0/13"),
    "q_rib_filter_v6" -> filterCount("2001:0:a::/48"),
    "q_rib_filter_mvpn_group" -> filterCount("224.3.0.0/16"),
    "q_rib_filter_rd_exotic" -> filterCount("rd:301:503"),
    // per-SAFI arms with no coverage in round 1 (VERDICT r1 item 1):
    "q_rib_filter_vpn6_rd" -> filterCount("rd:110:1010"),
    "q_rib_filter_v6_multicast" -> filterCount("ff05:0:a::/48"),
    "q_rib_filter_mdt_group" -> filterCount("232.3.0.0/16"),
    "q_rib_filter_mdt_rd" -> filterCount("rd:131:1031"),
    "q_rib_filter_spmsi_rd" -> filterCount("rd:601:801"),
    "q_rib_filter_mvpn_rp" -> filterCount("172.17.0.0/16"),
    "q_rib_filter_evpn_rd" -> filterCount("rd:401:601"),
    // regex over the ::-compressed v6 display (the reference Display form,
    // src/ribfilter.rs:1463-1470): "[0-9a-f]+::" requires a nonzero o3 group
    "q_rib_filter_regex_v6" -> filterCount("re:^2001:0:a:[0-9a-f]+::/64$"),
    // regex matched through the ATTR subjects (nexthop bare-address display)
    // while every route key is Unknown — the route-Unknown/attr-Yes cell
    "q_rib_filter_regex_attr" -> filterCount("re:^192\\.168\\.2\\."),
    "q_rib_supernet" -> ((s, dir) => perRib(RibViews.scanSuper(re(s, dir), "10.3.9.50"))),

    // --- history views (S5, A4, A5; SURVEY §2.1/2.5) ---------------------
    "q_rib_current" -> ((s, dir) => perRib(RibViews.current(re(s, dir)))),
    "q_rib_asof" -> ((s, dir) => perRib(RibViews.asOf(re(s, dir), 1705276800000L))),
    "q_rib_retention" -> ((s, dir) => perRib(RibViews.retained(re(s, dir), 2))),
    "q_rib_onlydiffer" -> ((s, dir) => perRib(RibViews.onlyDiffer(re(s, dir)))),
    "q_rib_response_filter" -> ((s, dir) => perRib(RibViews.responseFilter(
      re(s, dir), onlyActive = true,
      changedAfterMs = Some(1704844800000L), changedBeforeMs = Some(1705708800000L)))),
    "q_rib_exists" -> ((s, dir) => perRib(
      RibViews.historyExists(re(s, dir), FilterParser.parse("community:10:25"), maxDepth = 2)
        .dropDuplicates(RibViews.keyCols))),

    // --- aggregations (A1-A3) --------------------------------------------
    "q_rib_statistics" -> ((s, dir) => re(s, dir).groupBy(col("rib")).agg(
      count(lit(1)).cast("long").as("n_events"),
      sum(when(col("active"), 1L).otherwise(0L)).cast("long").as("n_updates"),
      sum(when(col("active"), 0L).otherwise(1L)).cast("long").as("n_withdraws"),
      countDistinct(col("attrs_hash")).cast("long").as("n_attrs"))
      .orderBy(col("rib"))),
    "q_rib_stores" -> ((s, dir) => {
      val d = re(s, dir)
      d.agg(
        countDistinct(col("attrs.as_list")).cast("long").as("pathes"),
        countDistinct(col("attrs.comms")).cast("long").as("comms"),
        countDistinct(col("attrs.lcomms")).cast("long").as("lcomms"),
        countDistinct(col("attrs.extcomms")).cast("long").as("extcomms"),
        countDistinct(col("attrs_hash")).cast("long").as("attrs"))
    }),
    "q_rib_sessions" -> ((s, dir) => re(s, dir)
      .groupBy(col("session_id").cast("long").as("session_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("rib")).cast("long").as("n_ribs"))
      .orderBy(col("session_id"))),
    // A2 found/length, single-pass: one aggregation job computes both counts
    // (the jsonPage form; reference serves them from one scan,
    // src/bgpsvc.rs:618-633)
    // the filter language as a SQL predicate: rib_accept('<filter>') is
    // registered through SparkSessionExtensions — plain spark.sql text,
    // same parse → tri-state compile path as the DataFrame scan
    "q_rib_sql_accept" -> ((s, dir) => {
      re(s, dir).createOrReplaceTempView("route_events")
      s.sql("""SELECT rib, COUNT(*) AS n FROM route_events
              |WHERE rib_accept('nh:192.168.2.0/24 as:^100')
              |GROUP BY rib ORDER BY rib""".stripMargin)
    }),

    // --- analytics beyond the reference surface --------------------------
    // point-in-time as-of join: per event, the newest STRICTLY-earlier
    // active state of its ring (Temporal.asofJoin — union + tagged window,
    // one exchange, no range join); rolled up per rib with a hash SUM so
    // any per-row mismatch flips the aggregate
    "q_rib_asof_join" -> ((s, dir) => {
      val d = re(s, dir)
      val states = d.where(col("active"))
        .groupBy(col("ring_id"), col("ts"))
        .agg(max_by(col("attrs_hash"), col("event_id")).as("h"))
      val probes = d.select(col("ring_id"), col("ts"), col("rib"), col("event_id"))
      Temporal.asofJoin(probes, states, "ring_id", "ts", "h", out = "asof_hash")
        .groupBy(col("rib"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          count(col("asof_hash")).cast("long").as("n_with_state"),
          coalesce(sum(col("asof_hash")), lit(0L)).cast("long").as("sum_hash"))
        .orderBy(col("rib"))
    }),
    // origin-AS rollup: the last ASN of the path per event (BGP origin),
    // prefix reach and active share per origin — the standard looking-glass
    // "who originates what" question over the same event log
    "q_rib_origin_as" -> ((s, dir) =>
      re(s, dir).groupBy(RibViews.pathOrigin.as("origin_as"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("prefix_str")).cast("long").as("n_prefixes"),
          sum(when(col("active"), 1L).otherwise(0L)).cast("long").as("n_active"))
        .orderBy(col("origin_as"))),
    // AS adjacency graph (round 12): directed consecutive-ASN edges of
    // every path with event/prefix/active counts — the looking-glass
    // topology view; explode + map-side-combined aggregation. The oracle
    // re-derives both edge families from the generator arithmetic
    "q_rib_as_adjacency" -> ((s, dir) =>
      RibViews.asAdjacency(re(s, dir)).orderBy(col("as_a"), col("as_b"))),
    // Gao AS-relationship inference (round 15): distinct-collapsed-path
    // votes, leftmost-highest-degree top election, sibling tolerance.
    // The fixture graph is closed-form (a1→a2→65001 with deg(a1)=7 ≥
    // deg(a2)=6, deg(65001)=7 → top always pos 0, every vote downhill)
    // but the oracle REPLAYS the inference from the data — degree
    // election, vote split and classification — not the closed form
    "q_rib_as_rels" -> ((s, dir) =>
      RibViews.asRelationships(re(s, dir))
        .orderBy(col("as_lo"), col("as_hi"))),
    // Valley-free route-leak audit (round 15): leaks planted in the
    // QUERY (natural fixture paths are all valley-free — verified by the
    // oracle finding exactly the plants): every 11th event re-exports a
    // provider route to a second provider (with a prepended first hop,
    // so collapseRuns is exercised in-pipeline), every 13th additionally
    // carries a final edge to an AS absent from the relationship table —
    // the unknown-edge policy row (counted, treated as flat). The
    // relationship table is FROZEN from the unmodified log (the
    // production discipline: audit today's paths against the standing
    // inference), so the plants cannot perturb the rels they are judged
    // against
    "q_rib_route_leaks" -> ((s, dir) => {
      val base = re(s, dir)
      val frozen = RibViews.asRelationships(base)
      val asl = col("attrs.as_list")
      val a1 = element_at(asl, 1)
      val a2 = element_at(asl, 2)
      val a1p = lit(100L) + (col("event_id") + 1) % 5
      val planted = when(col("event_id") % 11 === 0,
          array(a1, a1, a2, a1p))
        .when(col("event_id") % 13 === 0,
          array(a1, a2, a1p, lit(900L) + col("event_id") % 2))
        .otherwise(asl)
      RibViews.routeLeaks(
        base.withColumn("attrs",
          col("attrs").withField("as_list", planted)),
        rels = Some(frozen))
        .orderBy(col("event_id"))
    }),
    // Relationship-drift audit (round 16, r14 ask #7): the production
    // discipline around asRelationships made operational — the FROZEN
    // table is inferred from the even-event epoch, the fresh inference
    // from the full log, and the audit reports every adjacency's status
    // (new/gone/changed/stable). The natural fixture exercises new (the
    // 65001 edges exist only on odd events) and stable; gone/changed are
    // pinned by the RibViewsSpec hand fixture — Gao's degree heuristic is
    // deliberately hard to flip from within generator arithmetic
    "q_rib_rels_drift" -> ((s, dir) => {
      val base = re(s, dir)
      RibViews.relsDrift(
        RibViews.asRelationships(base.where(col("event_id") % 2 === 0)),
        RibViews.asRelationships(base))
        .orderBy(col("as_lo"), col("as_hi"))
    }),
    // MOAS audit (round 16): prefixes the current RIB carries with >= 2
    // distinct origins. The natural fixture is MOAS-rich: the same
    // (rib, prefix) arises from many (event, user) pairs, and origin is
    // 65001 on odd events vs 200+uid%7 on even — the oracle replays the
    // current-state window, the origin arithmetic and the >=2 filter
    "q_rib_moas" -> ((s, dir) =>
      RibViews.moasPrefixes(re(s, dir))
        .orderBy(col("rib"), col("prefix_str"))),
    // AS transit centrality (round 16): distinct-collapsed-path share
    // per interior ASN. Natural interior set = {a2 on odd events} (the
    // 3-hop paths); the oracle re-derives the distinct path set from
    // (a1, a2, len3) and the permille by integer division
    "q_rib_hegemony" -> ((s, dir) =>
      RibViews.asHegemony(re(s, dir)).orderBy(col("asn"))),
    // Prefix visibility histogram (round 16): prefixes per current
    // peer-session count, permille of peers ever seen — the RIS-style
    // partial-visibility report; oracle replays window + both rollups
    "q_rib_visibility" -> ((s, dir) =>
      RibViews.prefixVisibility(re(s, dir))
        .orderBy(col("rib"), col("n_sessions"))),
    // Customer cones (round 16): CAIDA AS-rank cone size + direct
    // customers over the inferred relationship graph; the oracle walks
    // the SAME inference replay with a recursive CTE — an independent
    // transitive-closure mechanism against the engine's fixpoint loop
    "q_rib_as_cone" -> ((s, dir) =>
      RibViews.customerCones(RibViews.asRelationships(re(s, dir)))
        .orderBy(col("asn"))),
    // RPKI origin validation (round 16): current v4 routes against a
    // planted ROA table (/16 covers for EVEN second octets only, origin
    // 200+o2%7, maxLength 24/32/28 cycling) — odd-o2 and 224.x routes
    // land not_found, odd-event (65001-origin) covered routes
    // invalid_origin, origin-matching routes split valid/invalid_length
    // on plen vs maxlen. The ROA table is built from range arithmetic
    // on BOTH sides, so neither side reads the other's table
    "q_rib_rpki" -> ((s, dir) => {
      val roas = s.range(0, 16).where(col("id") % 2 === 0)
        .select((lit(167772160L) + col("id") * 65536L).as("roa_ip"),
          lit(16L).as("roa_plen"),
          (lit(24L) + (col("id") % 3) * 4L).as("roa_maxlen"),
          (lit(200L) + col("id") % 7).as("roa_origin"))
      RibViews.rpkiValidate(re(s, dir), roas)
        .select(col("rib"), col("prefix_str"),
          col("session_id").cast("long").as("session_id"),
          col("path_id").cast("long").as("path_id"),
          col("origin"), col("validity"))
        .orderBy(col("rib"), col("prefix_str"), col("session_id"),
          col("path_id"), col("origin"))
    }),

    // CIDR compression (round 16): sibling-merge fixpoint over the
    // current v4 table. The forwarding-equivalence key is planted in the
    // QUERY (per-o2 parity — natural origins/nexthops vary per event,
    // which would leave nothing mergeable); the aggregateRoutes fixpoint
    // under test is general. Cross-parity o2 blocks can never merge, so
    // the plant also pins the negative case
    "q_rib_aggregate" -> ((s, dir) => {
      val cur = RibViews.current(re(s, dir))
        .where(col("prefix").isNotNull && col("prefix.version") === 4 &&
          col("prefix.prefix_len").between(1, 32) &&
          col("rib").isin("ipv4u", "ipv4m", "fs4u"))
        .select(col("rib"), col("prefix.ip_lo").as("ip"),
          col("prefix.prefix_len").cast("long").as("plen"),
          (lit(65000L) + pmod(call_function("shiftright",
            col("prefix.ip_lo"), lit(16)), lit(2L))).as("attr_key"))
      RibViews.aggregateRoutes(cur)
        .orderBy(col("rib"), col("ip"), col("plen"), col("attr_key"))
    }),

    // bogon/martian audit (round 16): current routes classified against
    // the IANA special-purpose ranges — the fixture's 10.x unicast space
    // lands rfc1918, 224.x multicast, 2001:0:… Teredo, ff05:… v6
    // multicast, exercising both the v4 ip_lo and v6 ip_hi range paths.
    // The range table is shared DATA (like the classifier weights
    // precedent): the oracle gets the same literal rows, no shared logic
    "q_rib_bogons" -> ((s, dir) =>
      RibViews.bogonAudit(re(s, dir), RibViews.bogonDim(s))
        .orderBy(col("rib"), col("bogon_class"))),

    // martian next-hop audit (round 16): the attribute-side bogon check —
    // the fixture's nexthops are all 192.168.2-ish, so every rib lands
    // v4-rfc1918-192 naturally (the misconfigured-redistribution page)
    "q_rib_bogon_nexthops" -> ((s, dir) =>
      RibViews.bogonNexthops(re(s, dir), RibViews.bogonDim(s))
        .orderBy(col("rib"), col("bogon_class"))),

    // per-prefix update bursts (round 16): convergence/path-exploration
    // sessionization — 24h gap against the fixture's ~1/day per-prefix
    // event cadence yields a mix of single-event and multi-event bursts
    "q_rib_convergence" -> ((s, dir) =>
      RibViews.updateBursts(re(s, dir), gapMs = 86400000L)
        .orderBy(col("rib"), col("prefix_str"), col("burst"))),
    // CIDR aggregation candidates (round 12): sibling v4 prefix pairs in
    // the current RIB with identical origin+nexthop, found by parent-block
    // GROUPING (no self-join); the oracle replays the current-state
    // window, the sibling-bit arithmetic and the both-halves check
    "q_rib_aggregatable" -> ((s, dir) =>
      RibViews.aggregatableSiblings(re(s, dir))
        .orderBy(col("rib"), col("plen"), col("parent_ip"),
          col("origin_as"))),
    // community rollup: events/active/rib-spread per community value — the
    // "which communities tag how much of the table" policy view; explode +
    // map-side-combined aggregation, same shape as wordfreq
    "q_rib_communities" -> ((s, dir) =>
      re(s, dir).select(col("active"), col("rib"),
        explode(col("attrs.comms")).as("c"))
        .groupBy(col("c.a").cast("long").as("comm_a"),
          col("c.b").cast("long").as("comm_b"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(when(col("active"), 1L).otherwise(0L)).cast("long").as("n_active"),
          countDistinct(col("rib")).cast("long").as("n_ribs"))
        .orderBy(col("comm_a"), col("comm_b"))),
    // two-instant RIB delta (round 12): per-ring state compare between two
    // as-of instants in ONE aggregation (conditional struct-max argmax, no
    // window, no self-join) — the "what changed overnight" view; rolled up
    // per (rib, change class). The oracle re-derives both states with
    // DuckDB arg_max FILTER — a different argmax mechanism entirely.
    "q_rib_diff" -> ((s, dir) =>
      RibViews.diff(re(s, dir), 1704844800000L, 1705276800000L)
        .groupBy(col("rib"), col("change"))
        .agg(count(lit(1)).cast("long").as("n_rings"))
        .orderBy(col("rib"), col("change"))),
    // origin-AS handoff detection (round 12): per-ring lag over the active
    // history's origin (last ASN of the path) — consecutive active records
    // whose origin differs are the looking-glass "who took over this
    // prefix" events (hijack/move signal); same window family as flaps
    "q_rib_origin_changes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("ring_id")).orderBy(col("ts"), col("event_id"))
      re(s, dir).where(col("active"))
        .withColumn("origin", RibViews.pathOrigin)
        .withColumn("__po", lag(col("origin"), 1).over(w))
        .where(col("__po").isNotNull && col("__po") =!= col("origin"))
        .groupBy(col("rib"))
        .agg(count(lit(1)).cast("long").as("n_changes"),
          countDistinct(col("ring_id")).cast("long").as("n_rings"))
        .orderBy(col("rib"))
    }),
    // flap detection: activity transitions per ring (lag window on the
    // ring_id surrogate), rolled up per rib — route-stability analytics
    "q_rib_flaps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("ring_id")).orderBy(col("ts"), col("event_id"))
      re(s, dir).withColumn("__pa", lag(col("active"), 1).over(w))
        .where(col("__pa").isNotNull && col("__pa") =!= col("active"))
        .groupBy(col("rib"))
        .agg(count(lit(1)).cast("long").as("n_transitions"),
          countDistinct(col("ring_id")).cast("long").as("n_flapping_rings"))
        .orderBy(col("rib"))
    }),

    // AS-path prepending audit (round 13): longest consecutive-equal run
    // in the AS path, rolled up per rib — prepending planted in the QUERY
    // (every 5th event duplicates its first ASN once, every 10th twice)
    // because the fixture's natural paths never repeat; the maxRun HOF
    // under test is general
    "q_rib_prepending" -> ((s, dir) => {
      val asl = col("attrs.as_list")
      val first = slice(asl, 1, 1)
      val planted = when(col("event_id") % 10 === 0, concat(first, first, asl))
        .when(col("event_id") % 5 === 0, concat(first, asl))
        .otherwise(asl)
      re(s, dir).select(col("rib"), RibViews.maxRun(planted).as("run"))
        .groupBy(col("rib"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("run") >= 2, 1L).otherwise(0L)).cast("long")
            .as("n_prepended"),
          max(col("run")).cast("long").as("max_run"))
        .orderBy(col("rib"))
    }),

    // Address-scope audit (round 13): classify every route prefix into
    // rfc1918/multicast/global/... by integer range (the martian/bogon
    // sanity view); the fixture maps each rib family to a known scope,
    // which the oracle states independently from the rib arithmetic
    "q_rib_scopes" -> ((s, dir) =>
      re(s, dir)
        .select(col("rib"), RibViews.addrScope(col("prefix")).as("scope"))
        .where(col("scope").isNotNull)
        .groupBy(col("rib"), col("scope"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("rib"), col("scope"))),

    // EVPN NLRI field audit (round 13): the RFC 7432/9136 fields beyond
    // the match surface (ESI / Ethernet Tag / MAC) per route type —
    // presence counts, tag mass and the exact formatted extrema pin both
    // the per-type presence rules and the hex renderings
    "q_rib_evpn_fields" -> ((s, dir) => {
      re(s, dir).where(col("rib") === "evpn")
        .groupBy(col("evpn.etype").as("etype"))
        .agg(count(lit(1)).cast("long").as("n"),
          count(col("evpn.esi")).cast("long").as("n_esi"),
          countDistinct(col("evpn.esi")).cast("long").as("n_esi_distinct"),
          count(col("evpn.mac")).cast("long").as("n_mac"),
          sum(col("evpn.eth_tag")).cast("long").as("sum_tag"),
          max(col("evpn.esi")).as("max_esi"),
          max(col("evpn.mac")).as("max_mac"))
        .orderBy(col("etype"))
    }),

    // RFC-2439 flap damping (round 13): replay the event log per ring
    // through Feed's flapStep recurrence (penalty halvings by elapsed
    // event time, suppress/reuse crossings)
    // — integer halvings are engine-portable, so the DuckDB oracle
    // re-derives every transition with a recursive CTE
    "q_rib_flap_damp" -> ((s, dir) => {
      graft.streaming.Feed.flapDamp(re(s, dir), penaltyPerFlap = 1000L,
        suppressAt = 1000L, reuseBelow = 600L, halfLifeMs = 86400000L)
        .select(col("rib"), col("prefix_str"), col("ts_ms"), col("kind"),
          col("penalty"))
        .orderBy(col("rib"), col("prefix_str"), col("ts_ms"), col("kind"),
          col("penalty"))
    }),

    "q_rib_found" -> ((s, dir) => {
      val d = re(s, dir)
      val f = FilterParser.parse("community:10:25")
      val key = struct(RibViews.keyCols.map(col): _*)
      // distinct keys with ≥1 matching entry / distinct keys overall, in ONE
      // aggregation job (countDistinct skips the null non-matching rows)
      d.agg(
        countDistinct(when(graft.filter.FilterCompiler.accept(f), key))
          .cast("long").as("found"),
        countDistinct(key).cast("long").as("length"))
    }),

    // --- LPM / top-k / pagination (Q4-Q7) --------------------------------
    "q_rib_lpm" -> ((s, dir) => {
      val s2 = s; import s2.implicits._
      // 10.3.9.50 hits a /24 (slot 3) and a /28 (slot 19) — real LPM choice;
      // 10.0.9.77 only its /24; 224.2.9.200 a multicast /24
      val probes = Seq("10.3.9.50", "10.0.9.77", "224.2.9.200")
        .map(p => (p, graft.model.Model.parseV4(p))).toDF("probe", "probe_ip")
      val keys = re(s, dir).where(col("prefix.version") === 4)
        .select((RibViews.keyCols :+ "prefix_str").map(col) :+ RibViews.keyLen.as("key_len"): _*)
        .dropDuplicates(RibViews.keyCols)
      // native codegen'd containment expression for the column-column case
      // (SURVEY §7.4: custom Expression beats a 120-node composed predicate)
      val joined = keys.join(broadcast(probes),
        graft.functions.IpContains(col("prefix"),
          struct(lit(4.toByte).as("version"), lit(0L).as("ip_hi"),
            col("probe_ip").as("ip_lo"), lit(32).as("prefix_len"))))
      joined.groupBy(col("probe"))
        .agg(max(col("key_len")).cast("long").as("best_len"),
          count(lit(1)).cast("long").as("n_keys"))
        .orderBy(col("probe"))
    }),
    "q_rib_supernet_topk" -> ((s, dir) =>
      RibViews.supernetTopK(re(s, dir), "10.3.9.50", 25)
        .select(col("rib"), col("prefix_str"), col("key_len").cast("long").as("key_len"),
          col("rd.rdh").as("rdh"), col("rd.rdl").as("rdl"),
          col("labels").getItem(0).cast("long").as("label"),
          col("session_id").cast("long").as("session_id"), col("path_id"))),
    "q_rib_pagination" -> ((s, dir) =>
      RibViews.page(
        RibViews.scan(re(s, dir), "10.0.0.0/8").dropDuplicates(RibViews.keyCols),
        skip = 20, limit = 20)
        .select(col("prefix_str"),
          col("rd.rdh").as("rdh"), col("rd.rdl").as("rdl"),
          col("labels").getItem(0).cast("long").as("label"),
          col("session_id").cast("long").as("session_id"), col("path_id"))),

    // --- S3/S4 update decomposition ---------------------------------------
    "q_ingest_decompose" -> ((s, dir) =>
      graft.sources.UpdateDecompose.decompose(
        graft.sources.UpdateDecompose.messages(Tables(s, dir, "events")))
        .groupBy(col("rib"), col("active"))
        .agg(count(lit(1)).cast("long").as("n"),
          countDistinct(col("prefix_str")).cast("long").as("n_prefixes"),
          countDistinct(graft.functions.IpFns.pfxStr(col("mdt_group")))
            .cast("long").as("n_groups"))
        .orderBy(col("rib"), col("active"))),
    // --- S1/S2 wire path: the SAME message stream round-tripped through
    // real RFC 4271 bytes (BgpWire.encode → decode) before decomposition —
    // must reproduce the q_ingest_decompose oracle exactly, so any encode/
    // decode asymmetry or prefix/nexthop corruption flips the hash (golden
    // BYTES are pinned separately in BgpWireSpec) ------------------------
    "q_wire_decompose" -> ((s, dir) =>
      graft.sources.UpdateDecompose.decompose(
        graft.sources.BgpWire.decodeUpdates(graft.sources.BgpWire.encodeUpdates(
          graft.sources.UpdateDecompose.messages(Tables(s, dir, "events")))))
        .groupBy(col("rib"), col("active"))
        .agg(count(lit(1)).cast("long").as("n"),
          countDistinct(col("prefix_str")).cast("long").as("n_prefixes"),
          countDistinct(graft.functions.IpFns.pfxStr(col("mdt_group")))
            .cast("long").as("n_groups"))
        .orderBy(col("rib"), col("active"))),

    // the ATTRIBUTE TLVs through the same wire roundtrip: per-session sums
    // over every decoded attr family (origin code, AS-path origin, MED,
    // LOCAL_PREF, communities, large/extended communities) against pure
    // events arithmetic — a byte-offset error in any attr encoder/decoder
    // pair flips a sum
    "q_wire_attrs" -> ((s, dir) => {
      val decoded = graft.sources.BgpWire.decodeUpdates(
        graft.sources.BgpWire.encodeUpdates(
          graft.sources.UpdateDecompose.messages(Tables(s, dir, "events"))))
      decoded.groupBy(col("session_id").cast("long").as("session_id"))
        .agg(count(lit(1)).cast("long").as("n_msgs"),
          sum(col("med")).cast("long").as("sum_med"),
          sum(col("localpref")).cast("long").as("sum_lp"),
          sum(element_at(col("as_list"), -1)).cast("long").as("sum_origin_as"),
          sum(aggregate(col("comms"), lit(0L),
            (acc, c) => acc + c.getField("b"))).cast("long").as("sum_comm_b"),
          sum(when(col("origin") === "IGP", 0L).when(col("origin") === "EGP", 1L)
            .otherwise(2L)).cast("long").as("sum_origin_code"),
          sum(element_at(col("lcomms"), 1).getField("c")).cast("long").as("sum_lcomm_c"),
          sum(element_at(col("extcomms"), 1).getField("b")).cast("long").as("sum_extcomm_b"))
        .orderBy(col("session_id"))
    }),

    // the SESSION layer end-to-end through real bytes: BMP PeerUp frames
    // (embedding two framed OPENs, AS_TRANS + 4-octet-cap path included)
    // build the session registry; route-monitoring frames dispatch against
    // it — unregistered sessions must DROP (src/bmppeer.rs:32-58) — and the
    // per-session sums replicate in pure events arithmetic
    "q_wire_sessions" -> ((s, dir) => {
      // decoded frames materialized ONCE (r18 opt round): the frame is
      // read by the registry broadcast build AND the dispatch stream —
      // the codec chain (encode → BMP wrap → decode) has no shuffle for
      // exchange reuse to share, so each un-materialized read re-ran it
      val bmp = graft.sources.BgpWire.decodeBmpFrames(
        graft.sources.BgpSession.bmpStream(Tables(s, dir, "events")))
        .localCheckpoint()
      val reg = graft.sources.BgpSession.sessionRegistry(bmp)
      graft.sources.BgpSession.dispatchUpdates(bmp, reg)
        .groupBy(col("session_id").cast("long").as("session_id"))
        .agg(count(lit(1)).cast("long").as("n_msgs"),
          sum(col("med")).cast("long").as("sum_med"),
          sum(size(col("nlri"))).cast("long").as("n_nlri"),
          sum(size(col("withdraws"))).cast("long").as("n_withdraws"),
          sum(element_at(col("as_list"), -1)).cast("long").as("sum_origin_as"))
        .join(broadcast(reg), Seq("session_id"))
        .select(col("peer_as"), col("local_asn"), col("local_hold"),
          col("remote_hold"), col("local_addr_lo"),
          col("n_caps_matched").as("n_caps"), col("n_msgs"), col("sum_med"),
          col("n_nlri"), col("n_withdraws"), col("sum_origin_as"))
        .orderBy(col("peer_as"))
    }),

    // --- P6 JSON tree page: the STRUCTURAL face (page selection, in-depth
    // match, response filter, newest-maxDepth cap — everything the JSON tree
    // serializes except the text formatting) runs the full jsonPage
    // machinery and is oracle-checked row-for-row; the stringification on
    // top is pinned by RibJsonSpec goldens ---------------------------------
    "q_rib_json_page" -> ((s, dir) =>
      graft.operators.RibJson.structuralPage(
        re(s, dir), "ipv4u", "10.4.0.0/14",
        graft.operators.RibJson.RibParams(skip = 0, limit = 20, maxDepth = 5))),

    // --- snapshot roundtrip (S6): write the event log as a Parquet
    // checkpoint partitioned by rib (the reference's CBOR snapshot,
    // src/bgprib.rs:903-1015), read it back, aggregate. ------------------
    "q_rib_snapshot" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapshot").toString
      re(s, dir).drop("event_id").write.mode("overwrite")
        .partitionBy("rib").parquet(tmp)
      perRib(s.read.parquet(tmp))
    }),

    // --- enrichment (E1-E3 cache-table pattern) -------------------------
    "q_whois_enrich" -> ((s, dir) =>
      graft.enrich.Whois.enrichOriginAs(re(s, dir))
        .groupBy(col("whois_org"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("prefix_str")).cast("long").as("n_prefixes"))
        .orderBy(col("whois_org"))))

  /** DuckDB mirror of RouteEventGen.fromEvents — MUST stay arithmetically
    * identical to the generator. Every rib oracle below starts from it, so
    * the mapping lives once. */
  private val cte: String =
    s"""WITH reS AS (
      |  SELECT *, ((event_id>>4)+user_id)%20 AS slot FROM events
      |), re0 AS (
      |  SELECT event_id AS eid, user_id AS uid, ts, slot,
      |    CASE WHEN event_id%16<6 THEN 'ipv4u'
      |         WHEN event_id%16=6 THEN (CASE WHEN user_id%2=0 THEN 'ipv6lu' ELSE 'fs4u' END)
      |         WHEN event_id%16=7 THEN (CASE WHEN user_id%2=0 THEN 'ipv4mdt' ELSE 'ipv6mdt' END)
      |         WHEN event_id%16<10 THEN 'vpnv4u'
      |         WHEN event_id%16=10 THEN (CASE WHEN user_id%3=0 THEN 'vpnv6u'
      |              WHEN user_id%3=1 THEN 'vpnv4m' ELSE 'vpnv6m' END)
      |         WHEN event_id%16<13 THEN 'ipv6u'
      |         WHEN event_id%16=13 THEN 'ipv4lu'
      |         WHEN event_id%16=14 THEN 'ipv4m'
      |         WHEN user_id%3=0 THEN 'mvpn' WHEN user_id%3=1 THEN 'evpn'
      |         ELSE 'l2vpls' END AS rib,
      |    1+(event_id>>4)%7 AS mt0, 1+(event_id>>4)%5 AS et0,
      |    user_id%4 AS session_id,
      |    event_id%3 AS path_id,
      |    (event_id%7)<>0 AS active,
      |    slot%16 AS o2,
      |    user_id%256 AS o3,
      |    CASE WHEN slot%3=0 THEN 0
      |         WHEN slot%3=1 THEN (slot%16)*16
      |         ELSE (slot*12)%256 END AS o4,
      |    CASE WHEN slot%3=0 THEN 24
      |         WHEN slot%3=1 THEN 28 ELSE 32 END AS plen4,
      |    100+event_id%5 AS a1, 200+user_id%7 AS a2, event_id%2 AS len3,
      |    event_id%50 AS c1b, user_id%10 AS c2b,
      |    200+user_id%4 AS rta, 300+event_id%5 AS rtb,
      |    user_id%4 AS nh3, event_id%200 AS nh4,
      |    event_id%100 AS med, 100+user_id%10 AS lp,
      |    (event_id%600)*1000+user_id%140 AS attrs_hash
      |  FROM reS
      |), re AS (
      |  SELECT *,
      |    CASE WHEN rib='mvpn' THEN mt0 END AS mtype,
      |    CASE WHEN rib='evpn' THEN et0 END AS etype,
      |    CASE WHEN rib IN ('ipv6u','vpnv6u','ipv6lu','ipv6mdt','vpnv6m') THEN 64
      |         WHEN rib IN ('mvpn','evpn','l2vpls') THEN NULL
      |         ELSE plen4 END AS plen,
      |    CASE WHEN rib IN ('ipv4m','vpnv4m') THEN 3758096384 + o2*65536 + o3*256 + o4
      |         WHEN rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4mdt','fs4u')
      |         THEN 167772160 + o2*65536 + o3*256 + o4 END AS ip,
      |    CASE WHEN rib IN ('ipv6u','vpnv6u','ipv6lu','ipv6mdt')
      |           THEN 8193*281474976710656 + o2*65536 + o3
      |         WHEN rib='vpnv6m' THEN ${RouteEventGen.FF05_HI} + o2*65536 + o3
      |         END AS hi6,
      |    CASE WHEN rib='vpnv4u' THEN 100+uid%3 WHEN rib='vpnv6u' THEN 110+uid%2
      |         WHEN rib='vpnv4m' THEN 120+uid%2 WHEN rib='vpnv6m' THEN 140+uid%2
      |         WHEN rib IN ('ipv4mdt','ipv6mdt') THEN 130+uid%2
      |         WHEN rib='mvpn' AND mt0<>4 THEN 300+uid%2
      |         WHEN rib='evpn' THEN 400+uid%2 WHEN rib='l2vpls' THEN 500+uid%2
      |         END AS rdh,
      |    CASE WHEN rib='vpnv4u' THEN 1000+eid%2 WHEN rib='vpnv6u' THEN 1010+eid%2
      |         WHEN rib='vpnv4m' THEN 1020+eid%2 WHEN rib='vpnv6m' THEN 1040+eid%2
      |         WHEN rib IN ('ipv4mdt','ipv6mdt') THEN 1030+eid%2
      |         WHEN rib='mvpn' AND mt0<>4 THEN 500+eid%4
      |         WHEN rib='evpn' THEN 600+eid%3 WHEN rib='l2vpls' THEN 700+eid%3
      |         END AS rdl,
      |    CASE WHEN rib IN ('ipv4lu','vpnv4u','ipv6lu','vpnv6u') THEN 100+eid%8
      |         END AS label,
      |    CASE WHEN rib IN ('ipv6u','vpnv6u','ipv6lu','ipv6mdt','vpnv6m') THEN
      |           (CASE WHEN rib='vpnv6m' THEN 'ff05' ELSE '2001' END) ||
      |           (CASE WHEN o2=0 AND o3=0 THEN '::'
      |                 WHEN o3=0 THEN ':0:'||printf('%x',o2)||'::'
      |                 WHEN o2=0 THEN ':0:0:'||printf('%x',o3)||'::'
      |                 ELSE ':0:'||printf('%x',o2)||':'||printf('%x',o3)||'::'
      |            END) || '/64'
      |         WHEN rib IN ('mvpn','evpn','l2vpls') THEN NULL
      |         ELSE CAST((CASE WHEN rib IN ('ipv4m','vpnv4m') THEN 224 ELSE 10 END) AS VARCHAR)
      |              ||'.'||CAST(o2 AS VARCHAR)||'.'||CAST(o3 AS VARCHAR)
      |              ||'.'||CAST(o4 AS VARCHAR)||'/'||CAST(plen4 AS VARCHAR) END AS prefix_str,
      |    CASE WHEN rib IN ('ipv4u','ipv4m','fs4u') THEN plen4
      |         WHEN rib='ipv4lu' THEN plen4+24
      |         WHEN rib='vpnv4u' THEN plen4+88
      |         WHEN rib IN ('vpnv4m','ipv4mdt') THEN plen4+64
      |         WHEN rib='ipv6u' THEN 64 WHEN rib='ipv6lu' THEN 88
      |         WHEN rib='vpnv6u' THEN 152
      |         WHEN rib IN ('vpnv6m','ipv6mdt') THEN 128
      |         END AS key_len,
      |    COALESCE(
      |      CASE WHEN rib IN ('ipv6u','vpnv6u','ipv6lu','ipv6mdt')
      |             THEN 8193*281474976710656 + o2*65536 + o3
      |           WHEN rib='vpnv6m' THEN ${RouteEventGen.FF05_HI} + o2*65536 + o3
      |           WHEN rib IN ('ipv4m','vpnv4m') THEN 3758096384 + o2*65536 + o3*256 + o4
      |           WHEN rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4mdt','fs4u')
      |             THEN 167772160 + o2*65536 + o3*256 + o4
      |           WHEN rib='mvpn' THEN
      |             CASE WHEN mt0=2 THEN 0
      |                  WHEN mt0 IN (6,7)
      |                    THEN (slot%4)*100000000 + (eid%100)*1000000 + (slot%8)*65536 + o3
      |                  ELSE 167772160 + o2*65536 + o3*256 + eid%100 END
      |           WHEN rib='evpn' THEN
      |             CASE WHEN et0=1 OR (et0=2 AND uid%5=4) THEN 0
      |                  ELSE 167772160 + o2*65536 + o3*256 + eid%50 END
      |           WHEN rib='l2vpls' THEN (1+uid%5)*1000000 + (eid%4)*10*1000 + (eid%4)*10+9
      |           END, 0) AS keyip,
      |    CASE WHEN rib='mvpn' THEN mt0*10 + (CASE WHEN mt0=4 THEN uid%2 ELSE 0 END)
      |         WHEN rib='evpn' THEN et0 END AS keyx2
      |  FROM re0
      |)
      |""".stripMargin

  /** DuckDB replay of RibViews.asRelationships over the generator
    * arithmetic — every inference step restated independently of the Spark
    * code: distinct collapsed paths ([a1,a2] always, +65001 when len3=1;
    * the generator's ASN ranges are disjoint so collapseRuns is identity),
    * undirected distinct-neighbor degree, leftmost-max-degree top election
    * (ROW_NUMBER over deg DESC, pos), uphill/downhill vote split per
    * DISTINCT path (edge i is uphill iff i+1 <= top), and the
    * sibling/p2c/c2p classification with siblingRatio=5. Splices after
    * [[cte]]; yields `${x}rels(as_lo, as_hi, lo_provides, hi_provides,
    * rel)`. `x` prefixes every CTE name so two inferences over different
    * event subsets (the rels-drift oracle) coexist in one statement;
    * `where` restricts the event set the inference reads. */
  private[queries] def relsCteFor(x: String, where: String): String =
    s""", ${x}gp AS (
      |  SELECT DISTINCT a1 AS x1, a2 AS x2,
      |    CASE WHEN len3=1 THEN 65001 END AS x3
      |  FROM re WHERE $where
      |), ${x}gpe AS (
      |  SELECT x1, x2, x3, 0 AS i, x1 AS u, x2 AS v FROM ${x}gp
      |  UNION ALL
      |  SELECT x1, x2, x3, 1, x2, x3 FROM ${x}gp WHERE x3 IS NOT NULL
      |), ${x}und AS (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT u, v FROM ${x}gpe
      |    UNION ALL SELECT v AS u, u AS v FROM ${x}gpe)
      |), ${x}deg AS (
      |  SELECT u AS asn, COUNT(*) AS deg FROM ${x}und GROUP BY 1
      |), ${x}pnodes AS (
      |  SELECT x1, x2, x3, 0 AS pos, x1 AS asn FROM ${x}gp
      |  UNION ALL SELECT x1, x2, x3, 1, x2 FROM ${x}gp
      |  UNION ALL SELECT x1, x2, x3, 2, x3 FROM ${x}gp WHERE x3 IS NOT NULL
      |), ${x}tops AS (
      |  SELECT x1, x2, x3, pos AS top FROM (
      |    SELECT n.x1, n.x2, n.x3, n.pos,
      |      ROW_NUMBER() OVER (PARTITION BY n.x1, n.x2, n.x3
      |        ORDER BY d.deg DESC, n.pos) AS rn
      |    FROM ${x}pnodes n JOIN ${x}deg d ON n.asn = d.asn) t
      |  WHERE rn = 1
      |), ${x}votes AS (
      |  SELECT CASE WHEN e.i + 1 <= t.top THEN e.v ELSE e.u END AS provider,
      |    CASE WHEN e.i + 1 <= t.top THEN e.u ELSE e.v END AS customer,
      |    COUNT(*) AS n
      |  FROM ${x}gpe e JOIN ${x}tops t ON e.x1 = t.x1 AND e.x2 = t.x2
      |    AND e.x3 IS NOT DISTINCT FROM t.x3
      |  GROUP BY 1, 2
      |), ${x}rels AS (
      |  SELECT as_lo, as_hi, lo_provides, hi_provides,
      |    CASE WHEN LEAST(lo_provides, hi_provides) > 0
      |          AND LEAST(lo_provides, hi_provides) * 5
      |              >= GREATEST(lo_provides, hi_provides) THEN 'sibling'
      |         WHEN lo_provides >= hi_provides THEN 'p2c'
      |         ELSE 'c2p' END AS rel
      |  FROM (
      |    SELECT LEAST(provider, customer) AS as_lo,
      |      GREATEST(provider, customer) AS as_hi,
      |      CAST(SUM(CASE WHEN provider < customer THEN n ELSE 0 END) AS BIGINT)
      |        AS lo_provides,
      |      CAST(SUM(CASE WHEN provider > customer THEN n ELSE 0 END) AS BIGINT)
      |        AS hi_provides
      |    FROM ${x}votes GROUP BY 1, 2) v
      |)
      |""".stripMargin

  private[queries] val relsCte: String = relsCteFor("", "TRUE")

  private def perRibSql(where: String): String =
    cte + s"SELECT rib, COUNT(*) AS n FROM re WHERE $where GROUP BY rib ORDER BY rib"

  /** ribs whose v4 unicast prefix participates directly in prefix matching */
  private val v4PfxRibs = "rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4mdt')"

  /** subnet-term acceptance for "10.4.0.0/14"-style unicast v4 nets over all
    * key algebras: prefix ribs by containment, MVPN via originator/source/
    * S-PMSI hosts (types 1/3/4/5; t6/7 fail on the 172.x RP, t2 is rd-only),
    * EVPN via ip/gw_ip (t2 with absent ip → Unknown). */
  private val v4SubnetMatch =
    s"""($v4PfxRibs
       |  OR (rib='mvpn' AND mtype IN (1,3,4,5))
       |  OR (rib='evpn' AND (etype IN (3,4,5) OR (etype=2 AND uid%5<>4))))""".stripMargin

  /** Full history-ring key for window partitioning, as scalar columns. */
  private val keyExpr =
    "rib, keyip, keyx2, plen, rdh, rdl, label, session_id, path_id"

  /** Unrolled sibling-merge rounds for the q_rib_aggregate oracle: a
    * recursive CTE cannot express row REMOVAL, so the replay chains
    * `rounds` fixed iterations — a round past the fixpoint is an exact
    * no-op (no pairs → w carries through unchanged), so any chain length
    * ≥ the actual round count reproduces the fixpoint bit-for-bit. The
    * fixture cascades at most /24→/16 (8 rounds); 12 leaves margin.
    * Every round CTE is MATERIALIZED: each w references its predecessor
    * three times, so default inlining would expand the base scan ~3¹²
    * times (observed as an fd-exhaustion error, not just slowness). */
  private def aggregateOracleChain(rounds: Int): String = {
    def parent = "ip - ((ip >> (32 - plen)) % 2) * (CAST(1 AS BIGINT) << (32 - plen))"
    (0 until rounds).map { k =>
      s""", m$k AS MATERIALIZED (
         |  SELECT rib, plen, attr_key, $parent AS parent
         |  FROM w$k WHERE plen >= 1
         |  GROUP BY 1, 2, 3, 4
         |  HAVING COUNT(DISTINCT (ip >> (32 - plen)) % 2) = 2
         |), w${k + 1} AS MATERIALIZED (
         |  SELECT DISTINCT rib, ip, plen, attr_key FROM (
         |    SELECT t.rib, t.ip, t.plen, t.attr_key
         |    FROM (SELECT *, $parent AS parent FROM w$k) t
         |    LEFT JOIN m$k m ON m.rib = t.rib AND m.plen = t.plen
         |      AND m.attr_key = t.attr_key AND m.parent = t.parent
         |    WHERE m.parent IS NULL
         |    UNION ALL
         |    SELECT rib, parent AS ip, plen - 1 AS plen, attr_key FROM m$k
         |  ) u
         |)""".stripMargin
    }.mkString("\n")
  }

  /** [[RibViews.standardBogonRanges]] as SQL VALUES rows — shared DATA
    * between engine and oracle (the classifier-weights precedent); the
    * containment/rollup logic on each side is written independently. */
  private val bogonValues: String = RibViews.standardBogonRanges.map {
    case (cls, ver, lo, hi, plen) => s"('$cls', $ver, $lo, $hi, $plen)"
  }.mkString(",\n      ")

  def oracleSql: Map[String, String] = Map(
    "q_rib_filter_subnet" -> perRibSql(s"$v4SubnetMatch AND o2 BETWEEN 4 AND 7"),
    "q_rib_filter_rd" -> perRibSql("rib='vpnv4u' AND uid%3=1 AND eid%2=0"),
    "q_rib_filter_num" -> perRibSql(
      "(rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4m','vpnv4m','ipv4mdt') AND plen4=24)" +
        " OR (rib='l2vpls' AND eid%4=2)"),
    "q_rib_filter_aspath" -> perRibSql("eid%5=0"),
    "q_rib_filter_aspath_ends" -> perRibSql("uid%7=0 AND eid%2=0"),
    "q_rib_filter_community" -> perRibSql("eid%50=25"),
    "q_rib_filter_rt" -> perRibSql("uid%4=2 AND eid%5=1"),
    "q_rib_filter_rt_num" -> perRibSql("uid%4=3"),
    "q_rib_filter_nh" -> perRibSql("uid%4=2"),
    "q_rib_filter_regex" -> perRibSql(s"$v4PfxRibs AND o2=3"),
    "q_rib_filter_polarity" -> perRibSql(
      s"$v4SubnetMatch AND o2 BETWEEN 4 AND 7 AND eid%50<>25"),
    "q_rib_filter_conj" ->
      perRibSql("rib='vpnv4u' AND uid%3=1 AND eid%2=0 AND o2 BETWEEN 4 AND 7"),
    "q_rib_filter_multicast" -> perRibSql("rib IN ('ipv4m','vpnv4m') AND o2>=8"),
    "q_rib_filter_v6" -> perRibSql(
      "rib IN ('ipv6u','vpnv6u','ipv6lu','ipv6mdt') AND o2=10"),
    // mvpn group 224.(slot%8).o3.0 matched by the MCV4 net term via the
    // multi() majority for every type carrying a group (3/4 via S-PMSI/5/6/7);
    // ipv4m/vpnv4m prefixes match by plain containment
    "q_rib_filter_mvpn_group" -> perRibSql(
      "(rib='mvpn' AND mtype IN (3,4,5,6,7) AND slot%8=3)" +
        " OR (rib IN ('ipv4m','vpnv4m') AND o2=3)"),
    // mvpn events sit at eid%16=15 so eid%4=3 always: rdl is always 503 —
    // 502 would be structurally unmatchable (caught in round 2)
    "q_rib_filter_rd_exotic" -> perRibSql(
      "rib='mvpn' AND mtype<>4 AND uid%2=1 AND eid%4=3"),
    "q_rib_filter_vpn6_rd" -> perRibSql("rib='vpnv6u' AND uid%2=0 AND eid%2=0"),
    "q_rib_filter_v6_multicast" -> perRibSql("rib='vpnv6m' AND o2=10"),
    // MDT: the 232.x group host satisfies the MCV4 term through the multi()
    // combine while the unicast (v4) / v6 prefix contributes Unknown
    "q_rib_filter_mdt_group" -> perRibSql(
      "rib IN ('ipv4mdt','ipv6mdt') AND slot%8=3"),
    "q_rib_filter_mdt_rd" -> perRibSql("rib='ipv6mdt' AND eid%2=1"),
    // S-PMSI rd-first path of MVPN type 4 (src/ribfilter.rs:350-360)
    "q_rib_filter_spmsi_rd" -> perRibSql(
      "rib='mvpn' AND mtype=4 AND uid%2=1 AND eid%3=1"),
    // rendezvous-point arm of MVPN types 6/7 (src/ribfilter.rs:377-388)
    "q_rib_filter_mvpn_rp" -> perRibSql(
      "rib='mvpn' AND mtype IN (6,7) AND slot%4=1"),
    "q_rib_filter_evpn_rd" -> perRibSql("rib='evpn' AND uid%2=1 AND eid%3=1"),
    // compressed form is '2001:0:a:<o3>::/64'; o3=0 collapses to
    // '2001:0:a::/64' which the [0-9a-f]+ group does not match
    "q_rib_filter_regex_v6" -> perRibSql(
      "rib IN ('ipv6u','vpnv6u','ipv6lu','ipv6mdt') AND o2=10 AND o3<>0"),
    // nexthop 192.168.(uid%4).(eid%200): second-octet test hits every rib
    "q_rib_filter_regex_attr" -> perRibSql("uid%4=2"),
    // probe 10.3.9.50 = 167971122; route contains probe ⟺ equal nets at
    // the route's prefix length (route ips are canonical network addresses);
    // mdt ribs are rd-only on the supernet path, fs4u is trait-default Unknown
    "q_rib_supernet" -> perRibSql(
      "rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4m','vpnv4m')" +
        " AND (167971122>>(32-plen4)) = (ip>>(32-plen4))"),

    "q_rib_current" -> (cte +
      s"""SELECT rib, COUNT(*) AS n FROM (
         |  SELECT rib, active,
         |    ROW_NUMBER() OVER (PARTITION BY $keyExpr ORDER BY ts DESC, eid DESC) AS rn
         |  FROM re) t WHERE rn=1 AND active GROUP BY rib ORDER BY rib""".stripMargin),
    "q_rib_asof" -> (cte +
      s"""SELECT rib, COUNT(*) AS n FROM (
         |  SELECT rib, active,
         |    ROW_NUMBER() OVER (PARTITION BY $keyExpr ORDER BY ts DESC, eid DESC) AS rn
         |  FROM re WHERE epoch_ms(ts) <= 1705276800000) t
         |WHERE rn=1 AND active GROUP BY rib ORDER BY rib""".stripMargin),
    "q_rib_retention" -> (cte +
      s"""SELECT rib, COUNT(*) AS n FROM (
         |  SELECT rib,
         |    ROW_NUMBER() OVER (PARTITION BY $keyExpr ORDER BY ts DESC, eid DESC) AS rn
         |  FROM re) t WHERE rn<=2 GROUP BY rib ORDER BY rib""".stripMargin),
    "q_rib_onlydiffer" -> (cte +
      s"""SELECT rib, COUNT(*) AS n FROM (
         |  SELECT rib, attrs_hash, active,
         |    LAG(attrs_hash) OVER (PARTITION BY $keyExpr ORDER BY ts, eid) AS ph,
         |    LAG(active) OVER (PARTITION BY $keyExpr ORDER BY ts, eid) AS pa
         |  FROM re) t
         |WHERE ph IS NULL OR ph<>attrs_hash OR pa<>active GROUP BY rib ORDER BY rib""".stripMargin),
    "q_rib_response_filter" -> perRibSql(
      "active AND epoch_ms(ts) > 1704844800000 AND epoch_ms(ts) < 1705708800000"),
    "q_rib_exists" -> (cte +
      s"""SELECT rib, COUNT(*) AS n FROM (
         |  SELECT rib, MAX(CASE WHEN rn > nall-2 AND c1b=25 THEN 1 ELSE 0 END) AS m
         |  FROM (
         |    SELECT $keyExpr, c1b,
         |      ROW_NUMBER() OVER (PARTITION BY $keyExpr ORDER BY ts, eid) AS rn,
         |      COUNT(*) OVER (PARTITION BY $keyExpr) AS nall
         |    FROM re) t
         |  GROUP BY $keyExpr) g
         |WHERE m=1 GROUP BY rib ORDER BY rib""".stripMargin),

    "q_rib_statistics" -> (cte +
      """SELECT rib, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
        |  CAST(SUM(CASE WHEN active THEN 0 ELSE 1 END) AS BIGINT) AS n_withdraws,
        |  COUNT(DISTINCT attrs_hash) AS n_attrs
        |FROM re GROUP BY rib ORDER BY rib""".stripMargin),
    "q_rib_stores" -> (cte +
      """SELECT
        |  COUNT(DISTINCT (eid%5)*100+(uid%7)*10+(eid%2)) AS pathes,
        |  COUNT(DISTINCT (eid%50)*100+(uid%10)) AS comms,
        |  COUNT(DISTINCT eid%5) AS lcomms,
        |  COUNT(DISTINCT (uid%4)*10+(eid%5)) AS extcomms,
        |  COUNT(DISTINCT attrs_hash) AS attrs
        |FROM re""".stripMargin),
    "q_rib_sessions" -> (cte +
      """SELECT CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT rib) AS n_ribs
        |FROM re GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_rib_sql_accept" -> perRibSql("uid%4=2 AND eid%5=0"),
    // DuckDB's native ASOF JOIN is the independent second opinion on the
    // engine's union+window as-of implementation; nullable key parts are
    // sentinel-coalesced because ASOF equality conditions reject NULLs
    "q_rib_asof_join" -> (cte +
      """, rights AS (
        |  SELECT rib, coalesce(keyip,-1) AS k1, coalesce(keyx2,-1) AS k2,
        |    coalesce(plen,-1) AS k3, coalesce(rdh,-1) AS k4,
        |    coalesce(rdl,-1) AS k5, coalesce(label,-1) AS k6,
        |    session_id AS k7, path_id AS k8, ts,
        |    max_by(attrs_hash, eid) AS h
        |  FROM re WHERE active
        |  GROUP BY ALL
        |), probes AS (
        |  SELECT rib, coalesce(keyip,-1) AS k1, coalesce(keyx2,-1) AS k2,
        |    coalesce(plen,-1) AS k3, coalesce(rdh,-1) AS k4,
        |    coalesce(rdl,-1) AS k5, coalesce(label,-1) AS k6,
        |    session_id AS k7, path_id AS k8, ts, eid
        |  FROM re
        |)
        |SELECT p.rib, COUNT(*) AS n_events, COUNT(r.h) AS n_with_state,
        |  CAST(coalesce(SUM(r.h), 0) AS BIGINT) AS sum_hash
        |FROM probes p ASOF LEFT JOIN rights r
        |  ON p.rib = r.rib AND p.k1 = r.k1 AND p.k2 = r.k2 AND p.k3 = r.k3
        |  AND p.k4 = r.k4 AND p.k5 = r.k5 AND p.k6 = r.k6 AND p.k7 = r.k7
        |  AND p.k8 = r.k8 AND p.ts > r.ts
        |GROUP BY p.rib ORDER BY p.rib""".stripMargin),
    "q_rib_origin_as" -> (cte +
      """SELECT CAST(CASE WHEN eid%2=1 THEN 65001 ELSE a2 END AS BIGINT) AS origin_as,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT prefix_str) AS n_prefixes,
        |  CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_active
        |FROM re GROUP BY 1 ORDER BY 1""".stripMargin),
    // path edges mirror the generator: (a1, a2) on every event plus
    // (a2, 65001) when the third ASN is appended (eid odd)
    "q_rib_as_adjacency" -> (cte +
      """, edges AS (
        |  SELECT a1 AS as_a, a2 AS as_b, prefix_str, active FROM re
        |  UNION ALL
        |  SELECT a2 AS as_a, 65001 AS as_b, prefix_str, active FROM re
        |  WHERE eid%2=1
        |)
        |SELECT CAST(as_a AS BIGINT) AS as_a, CAST(as_b AS BIGINT) AS as_b,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT prefix_str) AS n_prefixes,
        |  CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_active
        |FROM edges GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Gao inference replay: distinct collapsed paths from the generator
    // arithmetic ([a1,a2] always, +65001 when eid odd), undirected degree,
    // leftmost-max-degree top election (ROW_NUMBER over deg DESC, pos),
    // uphill/downhill vote split, sibling/p2c/c2p classification — every
    // step of asRelationships restated independently
    "q_rib_as_rels" -> (cte + relsCte +
      """SELECT CAST(as_lo AS BIGINT) AS as_lo, CAST(as_hi AS BIGINT) AS as_hi,
        |  lo_provides, hi_provides, rel
        |FROM rels ORDER BY 1, 2""".stripMargin),
    // route-leak replay: per-EVENT planted edges (see the query comment),
    // left-joined against the frozen rels replay, unknown→flat policy,
    // first-down valley scan, first offending up-edge
    "q_rib_route_leaks" -> (cte + relsCte +
      """, pl AS (
        |  SELECT eid, rib, 0 AS i, a1 AS u, a2 AS v FROM re
        |  UNION ALL
        |  SELECT eid, rib, 1,
        |    a2, CASE WHEN eid%11=0 OR eid%13=0 THEN 100+(eid+1)%5
        |             ELSE 65001 END
        |  FROM re WHERE eid%11=0 OR eid%13=0 OR len3=1
        |  UNION ALL
        |  SELECT eid, rib, 2, 100+(eid+1)%5, 900+eid%2
        |  FROM re WHERE eid%13=0 AND eid%11<>0
        |), dirs AS (
        |  SELECT p.eid, p.rib, p.i, p.u,
        |    CASE WHEN r.rel IS NULL THEN 1 ELSE 0 END AS unk,
        |    CASE WHEN r.rel IS NULL THEN 'flat'
        |         WHEN r.rel='sibling' THEN 'flat'
        |         WHEN (p.u < p.v AND r.rel='p2c')
        |           OR (p.u > p.v AND r.rel='c2p') THEN 'down'
        |         ELSE 'up' END AS dir
        |  FROM pl p LEFT JOIN rels r
        |    ON LEAST(p.u, p.v) = r.as_lo AND GREATEST(p.u, p.v) = r.as_hi
        |), fds AS (
        |  SELECT eid, MIN(CASE WHEN dir='down' THEN i END) AS fd,
        |    SUM(unk) AS unknown_edges
        |  FROM dirs GROUP BY 1
        |  HAVING MIN(CASE WHEN dir='down' THEN i END) IS NOT NULL
        |)
        |SELECT CAST(d.eid AS BIGINT) AS event_id, d.rib,
        |  CAST(MIN(f.fd) AS BIGINT) AS first_down,
        |  CAST(MIN(d.i) AS BIGINT) AS leak_pos,
        |  CAST(MIN_BY(d.u, d.i) AS BIGINT) AS leaker_as,
        |  CAST(MIN(f.unknown_edges) AS BIGINT) AS unknown_edges
        |FROM dirs d JOIN fds f ON d.eid = f.eid
        |WHERE d.dir='up' AND d.i > f.fd
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // drift replay: two full inference replays over different event
    // subsets (prefixes keep their CTE chains disjoint), full-outer
    // joined on the unordered adjacency
    "q_rib_rels_drift" -> (cte + relsCteFor("fz_", "eid % 2 = 0") +
      relsCteFor("fr_", "TRUE") +
      """SELECT CAST(COALESCE(a.as_lo, b.as_lo) AS BIGINT) AS as_lo,
        |  CAST(COALESCE(a.as_hi, b.as_hi) AS BIGINT) AS as_hi,
        |  a.rel AS old_rel, b.rel AS new_rel,
        |  CASE WHEN a.rel IS NULL THEN 'new'
        |       WHEN b.rel IS NULL THEN 'gone'
        |       WHEN a.rel = b.rel THEN 'stable' ELSE 'changed' END AS status
        |FROM fz_rels a FULL OUTER JOIN fr_rels b
        |  ON a.as_lo = b.as_lo AND a.as_hi = b.as_hi
        |ORDER BY 1, 2""".stripMargin),
    // MOAS replay: current-state window, origin arithmetic (65001 on odd
    // events, else a2), >=2-distinct-origins filter
    "q_rib_moas" -> (cte +
      s"""SELECT rib, prefix_str, COUNT(DISTINCT origin) AS n_origins,
         |  COUNT(*) AS n_routes,
         |  CAST(MIN(origin) AS BIGINT) AS min_origin,
         |  CAST(MAX(origin) AS BIGINT) AS max_origin
         |FROM (
         |  SELECT rib, prefix_str, active,
         |    CASE WHEN eid%2=1 THEN 65001 ELSE a2 END AS origin,
         |    ROW_NUMBER() OVER (PARTITION BY $keyExpr
         |      ORDER BY ts DESC, eid DESC) AS rn
         |  FROM re) t
         |WHERE rn=1 AND active AND prefix_str IS NOT NULL
         |GROUP BY 1, 2 HAVING COUNT(DISTINCT origin) >= 2
         |ORDER BY 1, 2""".stripMargin),
    // hegemony replay: the distinct collapsed path set is exactly the
    // distinct (a1, a2, len3) triples; interior ASNs exist only on the
    // 3-hop paths (a2); permille by integer division
    "q_rib_hegemony" -> (cte +
      """, hpaths AS (SELECT DISTINCT a1, a2, len3 FROM re)
        |, htot AS (SELECT COUNT(*) AS n_paths FROM hpaths)
        |SELECT CAST(a2 AS BIGINT) AS asn,
        |  COUNT(*) AS n_transit_paths,
        |  CAST(t.n_paths AS BIGINT) AS n_paths,
        |  CAST(COUNT(*) * 1000 // t.n_paths AS BIGINT) AS transit_x1000
        |FROM hpaths, htot t WHERE len3 = 1
        |GROUP BY a2, t.n_paths ORDER BY 1""".stripMargin),
    // visibility replay: current-state window, per-prefix distinct
    // sessions, per-count histogram, whole-log session denominator
    "q_rib_visibility" -> (cte +
      s""", vtot AS (SELECT COUNT(DISTINCT session_id) AS total_sessions FROM re)
         |, vper AS (
         |  SELECT rib, prefix_str,
         |    CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions
         |  FROM (
         |    SELECT rib, prefix_str, session_id, active,
         |      ROW_NUMBER() OVER (PARTITION BY $keyExpr
         |        ORDER BY ts DESC, eid DESC) AS rn
         |    FROM re) t
         |  WHERE rn=1 AND active AND prefix_str IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT rib, n_sessions, COUNT(*) AS n_prefixes,
         |  CAST(v.total_sessions AS BIGINT) AS total_sessions,
         |  CAST(n_sessions * 1000 // v.total_sessions AS BIGINT)
         |    AS visibility_x1000
         |FROM vper, vtot v
         |GROUP BY rib, n_sessions, v.total_sessions
         |ORDER BY 1, 2""".stripMargin),
    // cone replay: provider->customer edges off the rels replay, then a
    // RECURSIVE-CTE reach closure (an independent transitive-closure
    // mechanism vs the engine's count-fixpoint loop); self included
    "q_rib_as_cone" -> ((cte + relsCte +
      """, down AS (
        |  SELECT as_lo AS p, as_hi AS c FROM rels WHERE rel = 'p2c'
        |  UNION ALL
        |  SELECT as_hi AS p, as_lo AS c FROM rels WHERE rel = 'c2p'
        |), nodes AS (
        |  SELECT DISTINCT asn FROM (
        |    SELECT as_lo AS asn FROM rels
        |    UNION ALL SELECT as_hi FROM rels)
        |), reach AS (
        |  SELECT asn, asn AS m FROM nodes
        |  UNION
        |  SELECT r.asn, d.c FROM reach r JOIN down d ON d.p = r.m
        |)
        |SELECT CAST(r.asn AS BIGINT) AS asn, COUNT(*) AS cone_size,
        |  CAST(COALESCE(MIN(dc.nd), 0) AS BIGINT) AS n_direct
        |FROM reach r LEFT JOIN (
        |  SELECT p, COUNT(*) AS nd FROM down GROUP BY 1) dc ON dc.p = r.asn
        |GROUP BY r.asn ORDER BY 1""".stripMargin)
      .replaceFirst("WITH ", "WITH RECURSIVE ")),
    // RPKI replay: current v4 routes left-joined to the same
    // range-arithmetic ROA table under the covering condition, RFC 6811
    // verdict CASE per route
    "q_rib_rpki" -> (cte +
      s""", rcur AS (
         |  SELECT rib, prefix_str, ip, plen, session_id, path_id,
         |    CASE WHEN eid%2=1 THEN 65001 ELSE a2 END AS origin
         |  FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY $keyExpr
         |      ORDER BY ts DESC, eid DESC) AS rn
         |    FROM re) t
         |  WHERE rn=1 AND active AND ip IS NOT NULL
         |    AND plen BETWEEN 1 AND 32
         |), roas AS (
         |  SELECT 167772160 + range*65536 AS roa_ip, 16 AS roa_plen,
         |    24 + (range%3)*4 AS roa_maxlen, 200 + range%7 AS roa_origin
         |  FROM range(0, 16, 2)
         |)
         |SELECT c.rib, c.prefix_str,
         |  CAST(c.session_id AS BIGINT) AS session_id,
         |  CAST(c.path_id AS BIGINT) AS path_id,
         |  CAST(c.origin AS BIGINT) AS origin,
         |  CASE WHEN MAX(CASE WHEN r.roa_origin = c.origin
         |         AND c.plen <= r.roa_maxlen THEN 1 ELSE 0 END) = 1
         |       THEN 'valid'
         |       WHEN MAX(CASE WHEN r.roa_origin = c.origin
         |         THEN 1 ELSE 0 END) = 1 THEN 'invalid_length'
         |       WHEN MAX(CASE WHEN r.roa_plen IS NOT NULL
         |         THEN 1 ELSE 0 END) = 1 THEN 'invalid_origin'
         |       ELSE 'not_found' END AS validity
         |FROM rcur c LEFT JOIN roas r
         |  ON r.roa_plen <= c.plen
         |  AND (c.ip >> (32 - r.roa_plen)) = (r.roa_ip >> (32 - r.roa_plen))
         |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3, 4, 5""".stripMargin),
    // CIDR-compression replay: current window → planted equivalence key →
    // the unrolled sibling-merge chain (aggregateOracleChain)
    "q_rib_aggregate" -> (cte +
      s""", acur AS (
         |  SELECT rib, ip, plen, 65000 + ((ip >> 16) % 2) AS attr_key
         |  FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY $keyExpr
         |      ORDER BY ts DESC, eid DESC) AS rn
         |    FROM re) t
         |  WHERE rn=1 AND active AND rib IN ('ipv4u','ipv4m','fs4u')
         |    AND ip IS NOT NULL AND plen BETWEEN 1 AND 32
         |), w0 AS MATERIALIZED (
         |  SELECT DISTINCT rib, ip, plen, attr_key FROM acur)
         |${aggregateOracleChain(12)}
         |SELECT rib, CAST(ip AS BIGINT) AS ip, CAST(plen AS BIGINT) AS plen,
         |  CAST(attr_key AS BIGINT) AS attr_key
         |FROM w12 ORDER BY 1, 2, 3, 4""".stripMargin),
    // bogon replay: current-state window, base address = v4 ip else v6
    // hi64, signed-BETWEEN against the same literal range rows (shared
    // DATA, independently-written logic); disjoint ranges → left join
    // emits one row per route
    "q_rib_bogons" -> (cte +
      s""", bdim(bclass, bver, blo, bhi, bplen) AS (
         |  VALUES $bogonValues
         |), bcur AS (
         |  SELECT rib, prefix_str,
         |    CASE WHEN ip IS NOT NULL THEN 4 ELSE 6 END AS ver,
         |    COALESCE(ip, hi6) AS addr
         |  FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY $keyExpr
         |      ORDER BY ts DESC, eid DESC) AS rn
         |    FROM re) t
         |  WHERE rn=1 AND active AND prefix_str IS NOT NULL
         |)
         |SELECT rib, COALESCE(b.bclass, 'clean') AS bogon_class,
         |  COUNT(*) AS n_routes,
         |  COUNT(DISTINCT prefix_str) AS n_prefixes
         |FROM bcur c LEFT JOIN bdim b
         |  ON b.bver = c.ver AND c.addr BETWEEN b.blo AND b.bhi
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // next-hop bogon replay: current window, nexthop numeric from the
    // generator arithmetic (192.168.nh3.nh4), same literal range rows
    "q_rib_bogon_nexthops" -> (cte +
      s""", ndim(bclass, bver, blo, bhi, bplen) AS (
         |  VALUES $bogonValues
         |), ncur AS (
         |  SELECT rib, 3232235520 + nh3*256 + nh4 AS addr
         |  FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY $keyExpr
         |      ORDER BY ts DESC, eid DESC) AS rn
         |    FROM re) t
         |  WHERE rn=1 AND active
         |)
         |SELECT rib, COALESCE(b.bclass, 'clean') AS bogon_class,
         |  COUNT(*) AS n_routes,
         |  COUNT(DISTINCT addr) AS n_nexthops
         |FROM ncur c LEFT JOIN ndim b
         |  ON b.bver = 4 AND c.addr BETWEEN b.blo AND b.bhi
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // convergence replay: per (rib, prefix) lag gaps, 24h burst
    // boundaries, running-sum burst ids, per-burst rollup
    "q_rib_convergence" -> (cte +
      """, cb AS (
        |  SELECT rib, prefix_str, epoch_ms(ts) AS ms, eid, active,
        |    epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w AS gap,
        |    LAG(active) OVER w AS pa
        |  FROM re WHERE prefix_str IS NOT NULL
        |  WINDOW w AS (PARTITION BY rib, prefix_str ORDER BY ts, eid)
        |), cs AS (
        |  SELECT rib, prefix_str, ms, active,
        |    CASE WHEN gap IS NOT NULL AND gap <= 86400000
        |      AND active <> pa THEN 1 ELSE 0 END AS flip,
        |    SUM(CASE WHEN gap IS NULL OR gap > 86400000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY rib, prefix_str ORDER BY ms, eid
        |        ROWS UNBOUNDED PRECEDING) AS burst
        |  FROM cb
        |)
        |SELECT rib, prefix_str, CAST(burst AS BIGINT) AS burst,
        |  CAST(MIN(ms) AS BIGINT) AS start_ms, COUNT(*) AS n_events,
        |  CAST(SUM(flip) AS BIGINT) AS n_flips,
        |  CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms
        |FROM cs GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // sibling-bit arithmetic over the current-state window; BIGINT shift
    // base so a short plen cannot overflow a 32-bit 1<<31
    "q_rib_aggregatable" -> (cte +
      s""", cur AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY $keyExpr
         |      ORDER BY ts DESC, eid DESC) AS rn
         |    FROM re) t WHERE rn=1 AND active
         |), v4 AS (
         |  SELECT rib, plen, prefix_str,
         |    (ip // (CAST(1 AS BIGINT) << (32 - plen))) % 2 AS cb,
         |    ip - ((ip // (CAST(1 AS BIGINT) << (32 - plen))) % 2)
         |      * (CAST(1 AS BIGINT) << (32 - plen)) AS parent_ip,
         |    CASE WHEN eid%2=1 THEN 65001 ELSE a2 END AS origin_as
         |  FROM cur WHERE ip IS NOT NULL AND plen BETWEEN 1 AND 32
         |)
         |SELECT rib, plen, CAST(parent_ip AS BIGINT) AS parent_ip,
         |  CAST(origin_as AS BIGINT) AS origin_as,
         |  COUNT(DISTINCT prefix_str) AS n_prefixes, COUNT(*) AS n_routes
         |FROM v4 GROUP BY 1, 2, 3, 4
         |HAVING COUNT(DISTINCT cb) = 2
         |ORDER BY 1, 2, 3, 4""".stripMargin),
    // communities mirror the generator: (10, eid%50) and (20, uid%10) per
    // event (c1b/c2b in the cte)
    "q_rib_communities" -> (cte +
      """, cx AS (
        |  SELECT 10 AS ca, c1b AS cb, rib, active FROM re
        |  UNION ALL
        |  SELECT 20 AS ca, c2b AS cb, rib, active FROM re
        |)
        |SELECT CAST(ca AS BIGINT) AS comm_a, CAST(cb AS BIGINT) AS comm_b,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        |  COUNT(DISTINCT rib) AS n_ribs
        |FROM cx GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // two-state compare via arg_max FILTER — DuckDB's native argmax with a
    // filtered aggregate is the independent second opinion on the engine's
    // conditional struct-max (different mechanism, same answer). DuckDB's
    // arg_max takes no composite ordering key, so (ts, eid) is flattened
    // to the scalar epoch_ms(ts)·2^21 + eid — exact while eid < 2^21
    // (events eid peaks at 10^6 on the largest oracle fixture, sf1; the
    // product stays under 2^62)
    "q_rib_diff" -> (cte +
      s"""SELECT rib, change, COUNT(*) AS n_rings FROM (
         |  SELECT rib,
         |    CASE
         |      WHEN NOT coalesce(a1, false) AND a2 THEN 'added'
         |      WHEN coalesce(a1, false) AND NOT a2 THEN 'withdrawn'
         |      WHEN coalesce(a1, false) AND a2 AND h1 <> h2 THEN 'changed'
         |    END AS change
         |  FROM (
         |    SELECT rib,
         |      arg_max(active, epoch_ms(ts)*2097152+eid)
         |        FILTER (WHERE epoch_ms(ts) <= 1704844800000) AS a1,
         |      arg_max(attrs_hash, epoch_ms(ts)*2097152+eid)
         |        FILTER (WHERE epoch_ms(ts) <= 1704844800000) AS h1,
         |      arg_max(active, epoch_ms(ts)*2097152+eid) AS a2,
         |      arg_max(attrs_hash, epoch_ms(ts)*2097152+eid) AS h2
         |    FROM re WHERE epoch_ms(ts) <= 1705276800000
         |    GROUP BY $keyExpr
         |  ) s
         |) c WHERE change IS NOT NULL
         |GROUP BY rib, change ORDER BY rib, change""".stripMargin),
    "q_rib_origin_changes" -> (cte +
      s"""SELECT rib, COUNT(*) AS n_changes,
         |  COUNT(DISTINCT (keyip, keyx2, plen, rdh, rdl, label, session_id,
         |    path_id)) AS n_rings
         |FROM (
         |  SELECT rib, keyip, keyx2, plen, rdh, rdl, label, session_id,
         |    path_id, org,
         |    LAG(org) OVER (PARTITION BY $keyExpr ORDER BY ts, eid) AS po
         |  FROM (
         |    SELECT *, CASE WHEN eid%2=1 THEN 65001 ELSE a2 END AS org
         |    FROM re WHERE active) t
         |) x WHERE po IS NOT NULL AND po <> org
         |GROUP BY rib ORDER BY rib""".stripMargin),
    "q_rib_flaps" -> (cte +
      s"""SELECT rib, COUNT(*) AS n_transitions,
         |  COUNT(DISTINCT (keyip, keyx2, plen, rdh, rdl, label, session_id,
         |    path_id)) AS n_flapping_rings
         |FROM (
         |  SELECT rib, keyip, keyx2, plen, rdh, rdl, label, session_id,
         |    path_id, active,
         |    LAG(active) OVER (PARTITION BY $keyExpr ORDER BY ts, eid) AS pa
         |  FROM re) t
         |WHERE pa IS NOT NULL AND pa <> active
         |GROUP BY rib ORDER BY rib""".stripMargin),
    // the planted runs restated from the event arithmetic: natural paths
    // never repeat (a1 in 100..104, a2 in 200..206, then 65001), so run =
    // 3 on every 10th event, 2 on every remaining 5th, else 1
    "q_rib_prepending" -> (cte +
      """SELECT rib, COUNT(*) AS n,
        |  COUNT(CASE WHEN eid % 5 = 0 THEN 1 END) AS n_prepended,
        |  CAST(MAX(CASE WHEN eid % 10 = 0 THEN 3
        |      WHEN eid % 5 = 0 THEN 2 ELSE 1 END) AS BIGINT) AS max_run
        |FROM re GROUP BY rib ORDER BY rib""".stripMargin),

    // the fixture's per-rib scope mapping, stated from the address
    // constants rather than the range arithmetic under test: 10.x ->
    // rfc1918, 224.x/ff05:: -> multicast, 2001:0:: -> global
    "q_rib_scopes" -> (cte +
      """SELECT rib,
        |  CASE WHEN rib IN ('ipv4m','vpnv4m','vpnv6m') THEN 'multicast'
        |    WHEN rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4mdt','fs4u')
        |      THEN 'rfc1918'
        |    ELSE 'global' END AS scope,
        |  COUNT(*) AS n
        |FROM re WHERE ip IS NOT NULL OR hi6 IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // per-type presence rules + formatting replayed from the same (uid,
    // eid) arithmetic; SUM cast to BIGINT (DuckDB types bare SUM HUGEINT)
    "q_rib_evpn_fields" -> (cte +
      """, ef AS (
        |  SELECT et0 AS etype,
        |    CASE WHEN et0 IN (1,2,4,5)
        |      THEN lpad(printf('%x', (uid%2)*100 + (eid%3)*10 + et0), 20, '0')
        |      END AS esi,
        |    CASE WHEN et0 IN (1,2,3,5) THEN (eid%3)*16 + uid%2 END AS eth_tag,
        |    CASE WHEN et0 = 2 THEN printf('02:00:00:00:%02x:%02x',
        |      uid%2, eid%3) END AS mac
        |  FROM re WHERE rib='evpn'
        |)
        |SELECT CAST(etype AS INT) AS etype, COUNT(*) AS n,
        |  COUNT(esi) AS n_esi, COUNT(DISTINCT esi) AS n_esi_distinct,
        |  COUNT(mac) AS n_mac, CAST(SUM(eth_tag) AS BIGINT) AS sum_tag,
        |  MAX(esi) AS max_esi, MAX(mac) AS max_mac
        |FROM ef GROUP BY etype ORDER BY etype""".stripMargin),

    // sequential per-ring fold replayed as a recursive CTE: iteration i
    // advances every ring to its i-th event (rn joins), carrying
    // (penalty, last ts, last active, suppressed); kind marks crossings.
    // `>>`/`//`/LEAST are pure integer ops — bit-identical to flapStep
    "q_rib_flap_damp" -> (cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", ev AS (
         |  SELECT rib, COALESCE(prefix_str, '') AS pfx,
         |    keyip, keyx2, plen, rdh, rdl, label, session_id, path_id,
         |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
         |    CASE WHEN active THEN 1 ELSE 0 END AS act,
         |    ROW_NUMBER() OVER (PARTITION BY $keyExpr ORDER BY ts, eid) AS rn
         |  FROM re
         |), step AS (
         |  SELECT rib, pfx, keyip, keyx2, plen, rdh, rdl, label, session_id,
         |    path_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS penalty,
         |    CAST(NULL AS BIGINT) AS ts_ms, -1 AS last_act,
         |    FALSE AS suppressed, CAST(NULL AS VARCHAR) AS kind
         |  FROM (SELECT DISTINCT rib, pfx, keyip, keyx2, plen, rdh, rdl,
         |    label, session_id, path_id FROM ev) seeds
         |  UNION ALL
         |  SELECT rib, pfx, keyip, keyx2, plen, rdh, rdl, label, session_id,
         |    path_id, rn, penalty, ts_ms, act AS last_act, sup AS suppressed,
         |    CASE WHEN sup <> was THEN
         |      (CASE WHEN sup THEN 'suppress' ELSE 'reuse' END) END AS kind
         |  FROM (
         |    SELECT e.rib AS rib, e.pfx AS pfx, e.keyip AS keyip,
         |      e.keyx2 AS keyx2, e.plen AS plen, e.rdh AS rdh, e.rdl AS rdl,
         |      e.label AS label, e.session_id AS session_id,
         |      e.path_id AS path_id, e.rn AS rn, e.ts_ms AS ts_ms,
         |      e.act AS act, s.suppressed AS was,
         |      (s.penalty >> LEAST(CASE WHEN s.ts_ms IS NULL THEN 0
         |          ELSE GREATEST(0, e.ts_ms - s.ts_ms) END // 86400000, 62))
         |        + (CASE WHEN s.last_act >= 0 AND s.last_act <> e.act
         |            THEN 1000 ELSE 0 END) AS penalty
         |    FROM step s JOIN ev e
         |      ON e.rib = s.rib AND e.keyip = s.keyip
         |      AND e.keyx2 IS NOT DISTINCT FROM s.keyx2
         |      AND e.plen IS NOT DISTINCT FROM s.plen
         |      AND e.rdh IS NOT DISTINCT FROM s.rdh
         |      AND e.rdl IS NOT DISTINCT FROM s.rdl
         |      AND e.label IS NOT DISTINCT FROM s.label
         |      AND e.session_id = s.session_id AND e.path_id = s.path_id
         |      AND e.rn = s.rn + 1
         |  ) t(rib, pfx, keyip, keyx2, plen, rdh, rdl, label, session_id,
         |      path_id, rn, ts_ms, act, was, penalty)
         |  CROSS JOIN LATERAL (SELECT CASE
         |      WHEN NOT was AND penalty >= 1000 THEN TRUE
         |      WHEN was AND penalty < 600 THEN FALSE ELSE was END AS sup) c
         |)
         |SELECT rib, pfx AS prefix_str, ts_ms, kind, penalty
         |FROM step WHERE kind IS NOT NULL
         |ORDER BY rib, prefix_str, ts_ms, kind, penalty""".stripMargin),

    "q_rib_found" -> (cte +
      """SELECT
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT rib, keyip, keyx2, plen, rdh, rdl, label,
        |     session_id, path_id FROM re WHERE c1b=25) a) AS found,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT rib, keyip, keyx2, plen, rdh, rdl, label,
        |     session_id, path_id FROM re) b) AS length""".stripMargin),

    "q_rib_lpm" -> (cte +
      """, keys AS (
        |  SELECT DISTINCT rib, ip, plen4, keyip, plen, rdh, rdl, label, session_id,
        |    path_id, key_len
        |  FROM re
        |  WHERE rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4m','vpnv4m','ipv4mdt','fs4u')
        |), probes AS (
        |  SELECT * FROM (VALUES ('10.3.9.50', 167971122), ('10.0.9.77', 167774541),
        |    ('224.2.9.200', 3758229960)) v(probe, probe_ip)
        |)
        |SELECT probe, CAST(MAX(key_len) AS BIGINT) AS best_len, COUNT(*) AS n_keys
        |FROM keys JOIN probes ON (probe_ip>>(32-plen4)) = (ip>>(32-plen4))
        |GROUP BY probe ORDER BY probe""".stripMargin),
    "q_rib_supernet_topk" -> (cte +
      """SELECT rib, prefix_str, CAST(key_len AS BIGINT) AS key_len,
        |  rdh, rdl, CAST(label AS BIGINT) AS label,
        |  CAST(session_id AS BIGINT) AS session_id, path_id
        |FROM (SELECT DISTINCT rib, prefix_str, key_len, ip, plen4, rdh, rdl, label,
        |        session_id, path_id
        |      FROM re WHERE rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4m','vpnv4m')
        AND (ip>>(32-plen4)) = (167971122>>(32-plen4))) t
        |ORDER BY key_len DESC, ip, plen4, rdh NULLS FIRST, rdl NULLS FIRST,
        |  label NULLS FIRST, session_id, path_id
        |LIMIT 25""".stripMargin),
    "q_rib_pagination" -> (cte +
      """SELECT prefix_str, rdh, rdl, CAST(label AS BIGINT) AS label,
        |  CAST(session_id AS BIGINT) AS session_id, path_id
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY ip, plen4, rdh NULLS FIRST,
        |    rdl NULLS FIRST, label NULLS FIRST, session_id, path_id) AS rn
        |  FROM (SELECT DISTINCT rib, prefix_str, ip, plen4, rdh, rdl, label,
        |          session_id, path_id
        |        FROM re WHERE rib IN ('ipv4u','vpnv4u','ipv4lu','ipv4mdt')) k) t
        |WHERE rn > 20 AND rn <= 40 ORDER BY rn""".stripMargin),
    "q_rib_snapshot" -> perRibSql("TRUE"),
    // Structural JSON page replica: ipv4u + "10.4.0.0/14" ⟺ o2 ∈ [4,7];
    // rings are (keyExpr) partitions, route keys collapse to (keyip, plen)
    // for ipv4u (rd/labels/wrappers all NULL); page order = nlriOrder
    // restricted to ipv4u = (ip, plen); per-(key, session, path) history
    // keeps the newest 5 by (ts, eid) — RibJson.structuralPage semantics.
    "q_rib_json_page" -> (cte +
      s""", mm AS (
         |  SELECT keyip, plen,
         |    MAX(CASE WHEN rn > nall - 5 AND o2 BETWEEN 4 AND 7 THEN 1 ELSE 0 END) AS m
         |  FROM (
         |    SELECT keyip, plen, o2,
         |      ROW_NUMBER() OVER (PARTITION BY $keyExpr ORDER BY ts, eid) AS rn,
         |      COUNT(*) OVER (PARTITION BY $keyExpr) AS nall
         |    FROM re WHERE rib='ipv4u') t
         |  GROUP BY 1, 2
         |), page AS (
         |  SELECT keyip, plen FROM mm WHERE m = 1 ORDER BY keyip, plen LIMIT 20
         |), ent AS (
         |  SELECT r.prefix_str, r.session_id, r.path_id, epoch_ms(r.ts) AS ts_ms,
         |    r.active, r.attrs_hash,
         |    ROW_NUMBER() OVER (PARTITION BY r.keyip, r.plen, r.session_id, r.path_id
         |      ORDER BY r.ts DESC, r.eid DESC) AS rn
         |  FROM re r JOIN page p ON r.keyip = p.keyip AND r.plen = p.plen
         |  WHERE r.rib='ipv4u'
         |)
         |SELECT prefix_str AS item_key, CAST(session_id AS BIGINT) AS session_id,
         |  CAST(path_id AS BIGINT) AS path_id, ts_ms, active, attrs_hash
         |FROM ent WHERE rn <= 5
         |ORDER BY item_key, session_id, path_id, ts_ms, active, attrs_hash""".stripMargin),
    "q_ingest_decompose" -> decomposeOracle,
    // identical expectation: the wire roundtrip must be lossless
    "q_wire_decompose" -> decomposeOracle,
    // attr arithmetic mirrors UpdateDecompose.messages (origin ↔ eid%3,
    // origin AS = 65001 on odd eids else 200+uid%7, comms b-halves, ...)
    "q_wire_attrs" ->
      """WITH m AS (SELECT event_id AS eid, user_id AS uid FROM events)
        |SELECT CAST(uid%4 AS BIGINT) AS session_id, COUNT(*) AS n_msgs,
        |  CAST(SUM(eid%100) AS BIGINT) AS sum_med,
        |  CAST(SUM(100+uid%10) AS BIGINT) AS sum_lp,
        |  CAST(SUM(CASE WHEN eid%2=1 THEN 65001 ELSE 200+uid%7 END) AS BIGINT) AS sum_origin_as,
        |  CAST(SUM(eid%50 + uid%10) AS BIGINT) AS sum_comm_b,
        |  CAST(SUM(eid%3) AS BIGINT) AS sum_origin_code,
        |  CAST(SUM(eid%5) AS BIGINT) AS sum_lcomm_c,
        |  CAST(SUM(300+eid%5) AS BIGINT) AS sum_extcomm_b
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // session-layer arithmetic mirrors BgpSession.bmpStream: registration
    // gate sess%3<>0, OPEN fields 70000+s/90+s (sent), 65000+s/30+3s
    // (received), local addr 192.168.0.s, 2 matched capabilities
    "q_wire_sessions" ->
      """WITH m AS (SELECT user_id%4 AS sess, event_id AS eid, user_id AS uid
        |           FROM events)
        |SELECT CAST(65000+sess AS BIGINT) AS peer_as,
        |  CAST(70000+sess AS BIGINT) AS local_asn,
        |  CAST(90+sess AS INT) AS local_hold,
        |  CAST(30+3*sess AS INT) AS remote_hold,
        |  CAST(3232235520+sess AS BIGINT) AS local_addr_lo,
        |  CAST(2 AS INT) AS n_caps,
        |  COUNT(*) AS n_msgs,
        |  CAST(SUM(eid%100) AS BIGINT) AS sum_med,
        |  CAST(SUM(1 + eid%2) AS BIGINT) AS n_nlri,
        |  CAST(SUM(CASE WHEN eid%3=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_withdraws,
        |  CAST(SUM(CASE WHEN eid%2=1 THEN 65001 ELSE 200+uid%7 END) AS BIGINT) AS sum_origin_as
        |FROM m WHERE sess%3<>0
        |GROUP BY sess ORDER BY peer_as""".stripMargin,
    "q_whois_enrich" -> (cte +
      """SELECT 'AS'||(CASE WHEN eid%2=1 THEN 65001 ELSE a2 END)
        |    ||'-ORG-'||((CASE WHEN eid%2=1 THEN 65001 ELSE a2 END)%2) AS whois_org,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT prefix_str) AS n_prefixes
        |FROM re GROUP BY 1 ORDER BY 1""".stripMargin))

  private val decomposeOracle: String =
      """WITH m AS (
        |  SELECT event_id AS eid, user_id AS uid FROM events
        |), v6p AS (
        |  SELECT eid, CASE WHEN eid%64=0 THEN '2001::/64'
        |         ELSE '2001:0:0:'||printf('%x', eid%64)||'::/64' END AS p
        |  FROM m
        |), rows_out AS (
        |  SELECT 'ipv4u' AS rib, TRUE AS active,
        |    '10.'||CAST((eid+0)%64 AS VARCHAR)||'.'||CAST(uid%256 AS VARCHAR)||'.0/24' AS p,
        |    NULL AS g
        |  FROM m
        |  UNION ALL
        |  SELECT 'ipv4u', TRUE,
        |    '10.'||CAST((eid+1)%64 AS VARCHAR)||'.'||CAST(uid%256 AS VARCHAR)||'.0/24',
        |    NULL
        |  FROM m WHERE eid%2=1
        |  UNION ALL
        |  SELECT 'ipv4u', FALSE,
        |    '10.'||CAST((eid+2)%64 AS VARCHAR)||'.'||CAST(uid%256 AS VARCHAR)||'.0/24',
        |    NULL
        |  FROM m WHERE eid%3=0
        |  UNION ALL
        |  SELECT 'ipv6u', TRUE, (SELECT p FROM v6p WHERE v6p.eid = m.eid), NULL
        |  FROM m WHERE eid%4=0
        |  UNION ALL
        |  -- MDT reach keys (eid%5==0, family by uid parity): v4 prefix
        |  -- pfx(3), v6 prefix pfx6, group 232.(eid%8).(uid%256).0/32
        |  SELECT CASE WHEN uid%2=0 THEN 'ipv4mdt' ELSE 'ipv6mdt' END, TRUE,
        |    CASE WHEN uid%2=0
        |      THEN '10.'||CAST((eid+3)%64 AS VARCHAR)||'.'||CAST(uid%256 AS VARCHAR)||'.0/24'
        |      ELSE (SELECT p FROM v6p WHERE v6p.eid = m.eid) END,
        |    '232.'||CAST(eid%8 AS VARCHAR)||'.'||CAST(uid%256 AS VARCHAR)||'.0/32'
        |  FROM m WHERE eid%5=0
        |  UNION ALL
        |  -- MDT withdraw keys (eid%7==3): v4 prefix shifts to pfx(4)
        |  SELECT CASE WHEN uid%2=0 THEN 'ipv4mdt' ELSE 'ipv6mdt' END, FALSE,
        |    CASE WHEN uid%2=0
        |      THEN '10.'||CAST((eid+4)%64 AS VARCHAR)||'.'||CAST(uid%256 AS VARCHAR)||'.0/24'
        |      ELSE (SELECT p FROM v6p WHERE v6p.eid = m.eid) END,
        |    '232.'||CAST(eid%8 AS VARCHAR)||'.'||CAST(uid%256 AS VARCHAR)||'.0/32'
        |  FROM m WHERE eid%7=3
        |)
        |SELECT rib, active, COUNT(*) AS n, COUNT(DISTINCT p) AS n_prefixes,
        |  COUNT(DISTINCT g) AS n_groups
        |FROM rows_out GROUP BY 1,2 ORDER BY 1,2""".stripMargin
}
