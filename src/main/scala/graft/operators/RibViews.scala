package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.filter.{FilterCompiler, FilterParser, RouteFilter}
import graft.functions.{IpFns, Param}

/** Derived views over the append-only route-event log — the engine's
  * re-expression of the reference's mutable nested history maps
  * (reference: src/bgprib.rs:310-436).
  *
  * Everything is a keyed window or aggregation: shuffles partition on the
  * route key, so the plan scales horizontally — no global state anywhere
  * except final top-k/pagination, which is bounded by the page size.
  */
object RibViews {

  /** The identity of one history ring: (rib, NLRI incl. wrappers, session,
    * path) — the reference's 4-level map path (src/bgprib.rs:385-426). */
  val keyCols: Seq[String] =
    Seq("rib", "prefix", "rd", "labels", "l2", "mvpn", "evpn", "mdt_group",
      "session_id", "path_id")

  private def sortCols(df: DataFrame, desc0: Boolean): Seq[Column] = {
    val base = if (df.columns.contains("event_id")) Seq(col("ts"), col("event_id"))
    else Seq(col("ts"))
    if (desc0) base.map(_.desc) else base
  }

  /** Window partition columns for the ring identity: the stored `ring_id`
    * surrogate (ONE long — narrower exchange keys and cheaper per-row sort
    * comparisons than the 10-column nested tuple) when the frame carries
    * it, else the full column list (ad-hoc/spec frames). Collision bound:
    * see RouteEventGen — ~n²/2⁶⁵ chance of any merged ring pair. */
  private def ringPart(df: DataFrame): Seq[Column] =
    if (df.columns.contains("ring_id")) Seq(col("ring_id")) else keyCols.map(col)

  private def keyWindowDesc(df: DataFrame) =
    Window.partitionBy(ringPart(df): _*).orderBy(sortCols(df, desc0 = true): _*)

  private def keyWindowAsc(df: DataFrame) =
    Window.partitionBy(ringPart(df): _*).orderBy(sortCols(df, desc0 = false): _*)

  /** "The RIB": newest record per history ring, active only — the latest
    * state the reference holds in RAM (src/bgprib.rs:599-618). */
  def current(df: DataFrame): DataFrame =
    df.withColumn("__rn", row_number().over(keyWindowDesc(df)))
      .where(col("__rn") === 1 && col("active"))
      .drop("__rn")

  /** Time travel: the RIB as of epoch-millis `tMs` — newest active record
    * per ring among those changed at or before `tMs`. The reference gets
    * this view by combining its `changed_before` response bound with the
    * history ring walk (src/ribservice.rs:72-89 over src/bgprib.rs:599-618);
    * here it is one predicate pushed below the per-key window. `ts_day`
    * partition pruning bounds the scan to days ≤ t. */
  def asOf(df: DataFrame, tMs: Long): DataFrame =
    current(df.where(unix_millis(col("ts")) <= tMs))

  /** RIB delta between two as-of instants: per history ring, compare the
    * newest record at or before `t1Ms` against the newest at or before
    * `t2Ms` and classify — `added` (not active or absent at t1, active at
    * t2), `withdrawn` (active at t1, inactive at t2), `changed` (active at
    * both with different attrs). Rings whose state is identical at both
    * instants emit nothing. The "what changed overnight" question a RIB
    * operator asks constantly; the reference can only answer it by
    * replaying history client-side — here it is ONE aggregation.
    *
    * Both instants resolve in a single pass: one groupBy on the ring
    * identity with two conditional `max(struct(ts, event_id, …))` states
    * (the newest-record argmax as a lexicographic struct max — `max`
    * ignores the null the `when` leaves on rows after t1, so no
    * window/self-join and no second scan). One shuffle on ring_id,
    * map-side combinable, `ts_day ≤ t2` partition pruning bounds the
    * scan — the same scale shape as `current`.
    *
    * Returns one row per differing ring: every ring key column plus
    * `change`. */
  def diff(df: DataFrame, t1Ms: Long, t2Ms: Long): DataFrame = {
    require(t1Ms <= t2Ms, s"diff instants out of order: $t1Ms > $t2Ms")
    val oid = if (df.columns.contains("event_id")) col("event_id") else lit(0L)
    def newest(cond: Column) = max(when(cond,
      struct(col("ts").as("ts"), oid.as("eid"),
        col("active").as("active"), col("attrs_hash").as("h"))))
    // prefix_str rides along (functionally dependent on prefix) so
    // downstream renderers (Api.diffJson's itemKey) need no re-join;
    // when the frame lacks ring_id, ringPart already IS the key-column
    // list, so only the surrogate case appends it — a blanket ++ would
    // group on every key column twice
    val carry = (keyCols :+ "prefix_str").filter(df.columns.contains).map(col)
    val part =
      if (df.columns.contains("ring_id")) col("ring_id") +: carry else carry
    df.where(unix_millis(col("ts")) <= t2Ms)
      .groupBy(part: _*)
      .agg(newest(unix_millis(col("ts")) <= t1Ms).as("s1"),
        newest(lit(true)).as("s2"))
      .withColumn("__a1", coalesce(col("s1.active"), lit(false)))
      .withColumn("change",
        when(!col("__a1") && col("s2.active"), "added")
          .when(col("__a1") && !col("s2.active"), "withdrawn")
          .when(col("__a1") && col("s2.active") &&
            col("s1.h") =!= col("s2.h"), "changed"))
      .where(col("change").isNotNull)
      .drop("s1", "s2", "__a1")
  }

  /** BGP origin of a route's path: the LAST ASN of `attrs.as_list`, null
    * when the path is null OR empty — the size guard matters: a bare
    * `element_at(.., -1)` THROWS on an empty array under Spark 4's
    * default ANSI mode, and zero-length AS_PATHs are legal (iBGP-
    * originated routes), so the bare form would crash a query on a valid
    * frame. Shared by the origin rollups and the origin-change analytics
    * so the guard can't drift. */
  def pathOrigin: Column =
    when(size(col("attrs.as_list")) > 0, element_at(col("attrs.as_list"), -1))

  /** Consecutive-ASN edges of the flattened AS path — the building block
    * of the AS adjacency graph ("who peers with whom, carrying how many
    * prefixes"), the standard looking-glass topology view derived from
    * the same event log. Empty below 2 ASNs; the explicit guard matters
    * because `sequence(1, 0)` would otherwise count DOWN. Pure array
    * arithmetic — scan-level, codegen'd. */
  def pathEdges: Column = {
    val asns = col("attrs.as_list")
    val edgeType = "array<struct<as_a:bigint,as_b:bigint>>"
    when(size(asns) >= 2,
      transform(sequence(lit(1), size(asns) - 1),
        i => struct(element_at(asns, i).cast("long").as("as_a"),
          element_at(asns, i + 1).cast("long").as("as_b"))))
      .otherwise(lit(null).cast(edgeType))
  }

  /** Longest run of consecutive EQUAL elements in an array column — the
    * AS-path prepending measure (a path `[65001 65001 65001 174]` has
    * run 3: the origin prepended itself twice, the standard inbound
    * traffic-engineering signal a looking glass surfaces). One aggregate
    * HOF (scan-level, codegen-friendly): the accumulator carries
    * (previous element, current run, best run); a null or empty array
    * scores 0, a singleton 1. Engine-portable integer logic — the oracle
    * replays the decision from the same planted arithmetic. */
  def maxRun(arr: Column): Column =
    coalesce(aggregate(arr,
      struct(lit(null).cast("long").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        // null prev (first element) fails the equality → run restarts at 1
        val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.cast("long").as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best")), lit(0L))

  /** Address scope of a route prefix — the martian/bogon audit class the
    * reference's operators eyeball by hand: v4 prefixes classify into
    * rfc1918 / loopback / link_local / cgn (RFC 6598) / multicast /
    * reserved (240/4) / global by integer range on the leading address;
    * v6 into multicast (ff00::/8) / link_local (fe80::/10) / ula
    * (fc00::/7) / doc (2001:db8::/32) / global. A unicast rib carrying
    * anything but `global` is the route-sanity finding ("martian
    * announcement"). Pure scan-level CASE arithmetic on the key integers
    * — no parsing, no strings, codegen'd; the oracle replays the ranges
    * on the same integers. Null prefix (the non-prefix SAFIs) → null. */
  def addrScope(prefix: Column): Column = {
    val v4 = prefix("ip_lo")
    val hi = prefix("ip_hi")
    when(prefix.isNull, lit(null).cast("string"))
      .when(prefix("version") === 4,
        when(v4 >= (10L << 24) && v4 < (11L << 24), "rfc1918")
          .when(v4 >= (127L << 24) && v4 < (128L << 24), "loopback")
          .when(v4 >= ((172L << 24) + (16L << 16)) &&
            v4 < ((172L << 24) + (32L << 16)), "rfc1918")
          .when(v4 >= ((192L << 24) + (168L << 16)) &&
            v4 < ((192L << 24) + (169L << 16)), "rfc1918")
          .when(v4 >= ((100L << 24) + (64L << 16)) &&
            v4 < ((100L << 24) + (128L << 16)), "cgn")
          .when(v4 >= ((169L << 24) + (254L << 16)) &&
            v4 < ((169L << 24) + (255L << 16)), "link_local")
          .when(v4 >= (224L << 24) && v4 < (240L << 24), "multicast")
          .when(v4 >= (240L << 24), "reserved")
          .otherwise("global"))
      .otherwise(
        // UNSIGNED shifts: a multicast hi has its sign bit set, and the
        // arithmetic shift would smear it into the comparison
        when(shiftrightunsigned(hi, 56) === 0xffL, "multicast")
          .when(shiftrightunsigned(hi, 54) === (0xfe80L >> 6), "link_local")
          .when(shiftrightunsigned(hi, 57) === (0xfcL >> 1), "ula")
          .when(shiftrightunsigned(hi, 32) === 0x20010db8L, "doc")
          .otherwise("global"))
  }

  /** AS adjacency rollup: one row per directed AS-path edge with event,
    * distinct-prefix and active counts. Explode + map-side-combined
    * aggregation — the same shape as the community rollup; edge
    * cardinality is |AS graph edges| (tens of thousands on a full
    * internet table), so the aggregate output is tiny next to the log. */
  def asAdjacency(df: DataFrame): DataFrame =
    df.select(col("active"), col("prefix_str"), explode(pathEdges).as("e"))
      .groupBy(col("e.as_a").as("as_a"), col("e.as_b").as("as_b"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("prefix_str")).cast("long").as("n_prefixes"),
        sum(when(col("active"), 1L).otherwise(0L)).cast("long").as("n_active"))

  /** Collapse consecutive duplicate ASNs (AS-path prepending) to single
    * hops — the normalization every AS-graph analytic needs ahead of edge
    * extraction, or a prepended path would vote a self-edge. Pure array
    * HOF; the index-0 guard uses `when` (not `||`) because `element_at`
    * throws on index 0 and boolean operands are not short-circuited. */
  def collapseRuns(arr: Column): Column =
    when(arr.isNull, arr).otherwise(
      filter(arr, (x, i) =>
        when(i === 0, lit(true)).otherwise(x =!= element_at(arr, i))))

  /** Gao-style AS relationship inference over the observed paths (Gao
    * 2001, "On inferring autonomous system relationships in the
    * Internet" — the deterministic degree-based heuristic): per path,
    * the LEFTMOST highest-degree AS is the top provider; every edge
    * before it votes customer→provider (the right AS provides transit),
    * every edge from it on votes provider→customer. Vote totals classify
    * each unordered adjacency: both directions within `1/siblingRatio`
    * of each other → `sibling` (misconfiguration tolerance, Gao's L);
    * otherwise the majority direction wins — `p2c` = the lower ASN
    * provides the higher, `c2p` the reverse. Degree = distinct
    * undirected neighbors, computed from the same frame.
    *
    * Votes are counted once per DISTINCT collapsed path, not per route
    * event (ADVICE r14): Gao's heuristic votes over the observed path
    * SET, and per-event counting would let one flappy prefix
    * re-announcing the same path dominate an adjacency's totals and
    * flip its classification.
    *
    * Returns (as_lo, as_hi, lo_provides, hi_provides, rel). All integer
    * logic over (degree, position, counts) — engine-portable, the DuckDB
    * oracle replays every step. Scale: the AS graph and the vote table
    * are |edges|-sized (tiny vs the log); the only log-sized passes are
    * the event-log distinct (map-side combinable — path diversity on a
    * full internet table is millions vs billions of events) and its
    * explodes; the per-path top election keys on the distinct path
    * array itself (orderable, shuffle-safe — no synthetic path id whose
    * hash an oracle would have to replay). */
  def asRelationships(df: DataFrame, siblingRatio: Int = 5): DataFrame = {
    require(siblingRatio >= 2, s"siblingRatio must be >= 2: $siblingRatio")
    val paths = df.select(collapseRuns(col("attrs.as_list")).as("p"))
      .where(size(col("p")) >= 2)
      .distinct()
    def edgeStructs(p: Column): Column =
      transform(sequence(lit(1), size(p) - 1),
        i => struct(element_at(p, i).cast("long").as("u"),
          element_at(p, i + 1).cast("long").as("v")))
    val edges = paths
      .select(explode(edgeStructs(col("p"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val degrees = und.groupBy(col("u").as("asn"))
      .agg(count(lit(1)).as("deg"))
    val tops = paths
      .select(col("p"), posexplode(col("p")).as(Seq("pos", "asn")))
      .join(broadcast(degrees), "asn")
      .groupBy(col("p"))
      .agg(min(struct((-col("deg")).as("nd"), col("pos").as("pos"))).as("t"))
      .select(col("p"), col("t.pos").as("top"))
    val votes = paths
      .select(col("p"), posexplode(edgeStructs(col("p")))
        .as(Seq("i", "e")))
      .join(tops, "p")
      .select(
        when(col("i") + 1 <= col("top"), col("e.v")).otherwise(col("e.u"))
          .as("provider"),
        when(col("i") + 1 <= col("top"), col("e.u")).otherwise(col("e.v"))
          .as("customer"))
      .groupBy(col("provider"), col("customer"))
      .agg(count(lit(1)).as("n"))
    votes
      .select(least(col("provider"), col("customer")).as("as_lo"),
        greatest(col("provider"), col("customer")).as("as_hi"),
        when(col("provider") < col("customer"), col("n")).otherwise(0L)
          .as("lo_n"),
        when(col("provider") > col("customer"), col("n")).otherwise(0L)
          .as("hi_n"))
      .groupBy(col("as_lo"), col("as_hi"))
      .agg(sum(col("lo_n")).cast("long").as("lo_provides"),
        sum(col("hi_n")).cast("long").as("hi_provides"))
      .withColumn("rel",
        when(least(col("lo_provides"), col("hi_provides")) > 0 &&
          least(col("lo_provides"), col("hi_provides")) * siblingRatio >=
            greatest(col("lo_provides"), col("hi_provides")), "sibling")
          .when(col("lo_provides") >= col("hi_provides"), "p2c")
          .otherwise("c2p"))
  }

  /** Valley-free route-leak audit — the classic looking-glass analytic:
    * with relationships from [[asRelationships]] (or a caller-pinned
    * `rels` table — production refreshes the inference periodically and
    * audits each day's paths against the frozen table, the same frozen-
    * index discipline as Dedup.dedupAgainstIndex), every path edge maps
    * to a direction — `down` when traversed provider→customer, `up` for
    * customer→provider, `flat` for siblings — and a LEAK is any `up`
    * strictly after a `down` (a route learned from a provider re-exported
    * to another provider; siblings never break the valley). Returns one
    * row per leaked path: (event_id, rib, first_down, leak_pos,
    * leaker_as, unknown_edges) where leaker_as is the AS at the valley
    * bottom — the start of the first offending up-edge.
    *
    * Unknown-edge policy (ADVICE r14): a path edge ABSENT from the
    * relationship table is treated as `flat` — it can neither open a
    * valley nor offend — but is COUNTED in `unknown_edges` so the
    * auditor sees the coverage of each verdict instead of unknown
    * adjacencies silently hiding a leak or shifting `first_down`. A
    * left join (not inner) keeps the edge in the position arithmetic.
    *
    * Scale: the relationship table is |AS edges| (tiny) → broadcast
    * joins against the exploded edges; the valley scan is two id-keyed
    * aggregations (first down per path, then first offending up), both
    * co-partitioned on event_id. No self-joins, nothing pairwise. */
  def routeLeaks(df: DataFrame, siblingRatio: Int = 5,
      rels: Option[DataFrame] = None): DataFrame = {
    val rel = rels.getOrElse(asRelationships(df, siblingRatio))
      .select(col("as_lo"), col("as_hi"), col("rel"))
    val paths = df.select(col("event_id"), col("rib"),
        collapseRuns(col("attrs.as_list")).as("p"))
      .where(size(col("p")) >= 2)
    val edgePos = paths.select(col("event_id"), col("rib"),
      posexplode(transform(sequence(lit(1), size(col("p")) - 1),
        i => struct(element_at(col("p"), i).cast("long").as("u"),
          element_at(col("p"), i + 1).cast("long").as("v"))))
        .as(Seq("i", "e")))
    val dirs = edgePos
      .join(broadcast(rel),
        least(col("e.u"), col("e.v")) === col("as_lo") &&
          greatest(col("e.u"), col("e.v")) === col("as_hi"), "left")
      .select(col("event_id"), col("rib"), col("i"),
        col("e.u").as("u"),
        col("rel").isNull.as("unknown"),
        when(col("rel").isNull, "flat") // unknown-edge policy: non-valley
          .when(col("rel") === "sibling", "flat")
          .when((col("e.u") < col("e.v") && col("rel") === "p2c") ||
            (col("e.u") > col("e.v") && col("rel") === "c2p"), "down")
          .otherwise("up").as("dir"))
    // first-down + unknown-count as WINDOW aggregates over event_id, not
    // a groupBy re-joined onto dirs: the join form read `dirs` (a full
    // log explode + broadcast join) twice and paid two extra exchanges;
    // the window form is ONE pass over one event_id exchange, and the
    // final rollup reuses that partitioning (r18 opt round, guide §2.4).
    val byEvent = Window.partitionBy(col("event_id"))
    dirs
      .withColumn("fd", min(when(col("dir") === "down", col("i")))
        .over(byEvent))
      .withColumn("unk", sum(when(col("unknown"), 1L).otherwise(0L))
        .over(byEvent))
      .where(col("fd").isNotNull &&
        col("dir") === "up" && col("i") > col("fd"))
      .groupBy(col("event_id"), col("rib"))
      .agg(min(col("fd")).cast("long").as("first_down"),
        min(col("i")).cast("long").as("leak_pos"),
        min(struct(col("i"), col("u"))).getField("u").cast("long")
          .as("leaker_as"),
        min(col("unk")).cast("long").as("unknown_edges"))
  }

  /** Relationship drift between a FROZEN [[asRelationships]] inference
    * (epoch N — the standing table production audits against, the same
    * frozen-index discipline as Dedup.dedupAgainstIndex) and a fresh
    * re-inference (epoch N+1): one row per unordered adjacency present
    * in either table, with `status`:
    *
    *   - `new`     — adjacency only in the fresh inference (edge appeared)
    *   - `gone`    — only in the frozen table (edge vanished — for a
    *     cumulative refresh this means the path set changed enough to
    *     drop below the 2-hop floor, for disjoint epochs simply unseen)
    *   - `changed` — present in both with a DIFFERENT classification
    *     (the row an operator actually pages on: a p2c flipping to c2p
    *     upends every valley-free audit downstream of it)
    *   - `stable`  — same classification both sides.
    *
    * Scale: both inputs are |AS adjacency|-sized (tiny against the
    * event log that produced them), so the full-outer join is a
    * broadcast-scale operation regardless of corpus size. */
  def relsDrift(frozen: DataFrame, fresh: DataFrame): DataFrame =
    frozen.select(col("as_lo"), col("as_hi"), col("rel").as("old_rel"))
      .join(
        fresh.select(col("as_lo"), col("as_hi"), col("rel").as("new_rel")),
        Seq("as_lo", "as_hi"), "full_outer")
      .withColumn("status",
        when(col("old_rel").isNull, "new")
          .when(col("new_rel").isNull, "gone")
          .when(col("old_rel") === col("new_rel"), "stable")
          .otherwise("changed"))

  /** CIDR aggregation candidates: sibling v4 prefix pairs in the current
    * RIB — two same-length prefixes differing only in their last network
    * bit, announced with the same origin AS and nexthop — that could be
    * replaced by their /(len−1) parent without changing forwarding (the
    * classic table-compression / config-audit analytic).
    *
    * Shape: NOT a self-join — each route maps to its parent block
    * (integer arithmetic: the sibling bit is 2^(32−len)), and one
    * grouped aggregation per (rib, parent, len, origin, nexthop) checks
    * that BOTH child halves are present. One shuffle on the group key,
    * linear in the current table; a self-join on the sibling ip would
    * move the same data twice and square the skew.
    *
    * The match requirement is the origin AS by default; callers wanting
    * strict forwarding equivalence append more attribute keys via
    * `extraKeys` (e.g. `"nh_ip" -> col("attrs.nexthop.ip_lo")`).
    *
    * Returns (rib, plen, parent_ip, origin_as, extraKeys..., n_prefixes,
    * n_routes) for groups where both halves exist. */
  def aggregatableSiblings(df: DataFrame,
      extraKeys: Seq[(String, Column)] = Nil): DataFrame = {
    val plen = col("prefix.prefix_len")
    val ip = col("prefix.ip_lo")
    val sibBit = call_function("shiftleft", lit(1L), lit(32) - plen)
    val childBit = pmod(call_function("div", ip, sibBit), lit(2L))
    val keyNames = Seq("rib", "plen", "parent_ip", "origin_as") ++
      extraKeys.map(_._1)
    current(df)
      .where(col("prefix").isNotNull && col("prefix.version") === 4 &&
        plen.between(1, 32))
      .select(Seq(col("rib"), plen.as("plen"),
        (ip - childBit * sibBit).as("parent_ip"), childBit.as("__cb"),
        pathOrigin.as("origin_as"), col("prefix_str")) ++
        extraKeys.map { case (n, c) => c.as(n) }: _*)
      .groupBy(keyNames.map(col): _*)
      .agg(countDistinct(col("__cb")).as("__nc"),
        countDistinct(col("prefix_str")).cast("long").as("n_prefixes"),
        count(lit(1)).cast("long").as("n_routes"))
      .where(col("__nc") === 2)
      .drop("__nc")
  }

  /** MOAS audit (Multiple-Origin AS): prefixes the CURRENT RIB carries
    * with two or more distinct origin ASNs — the classic hijack /
    * misconfiguration alarm a looking glass pages on (the reference's
    * per-origin rollup surface, src/bgprib.rs:628-653, read the other
    * way around). Origin is [[pathOrigin]] (last ASN — prepending
    * cannot change it, so no collapse needed); conflicting origins can
    * come from different sessions, paths, or RDs of the same NLRI.
    *
    * Shape: the current-state window (the one shuffle every current-RIB
    * analytic pays) then ONE map-side-combined aggregation keyed on
    * (rib, prefix) — output is bounded by |distinct announced prefixes|
    * and the ≥2-origins filter cuts it to the (rare) conflict set.
    * No self-join: min/max origin plus the distinct count give the
    * operator the conflict pair without materializing pairs. */
  def moasPrefixes(df: DataFrame): DataFrame =
    current(df)
      .where(col("prefix_str").isNotNull)
      .select(col("rib"), col("prefix_str"),
        pathOrigin.cast("long").as("origin"))
      .where(col("origin").isNotNull)
      .groupBy(col("rib"), col("prefix_str"))
      .agg(countDistinct(col("origin")).cast("long").as("n_origins"),
        count(lit(1)).cast("long").as("n_routes"),
        min(col("origin")).as("min_origin"),
        max(col("origin")).as("max_origin"))
      .where(col("n_origins") >= 2)

  /** AS transit centrality ("hegemony"-family metric, after the IHR AS
    * Hegemony measure: the share of observed paths an AS sits INSIDE):
    * per ASN, the number of distinct collapsed AS paths where it appears
    * strictly interior (neither first hop nor origin — the positions
    * where it forwards someone else's traffic), the total distinct path
    * count, and the integer permille share. The operational "who is a
    * transit chokepoint" view over the same path set the Gao inference
    * reads.
    *
    * Shape: identical scale posture to [[asRelationships]] — the only
    * log-sized pass is the distinct over collapsed paths (map-side
    * combinable); the posexplode runs over the distinct path SET, and
    * the per-ASN aggregate is |ASN|-sized. The 1-row total joins back
    * as a broadcast nested-loop against the tiny per-ASN table. A path
    * counts once per interior ASN even if the ASN recurs (distinct
    * before the rollup). */
  def asHegemony(df: DataFrame): DataFrame = {
    val paths = df.select(collapseRuns(col("attrs.as_list")).as("p"))
      .where(size(col("p")) >= 1)
      .distinct()
    val total = paths.agg(count(lit(1)).cast("long").as("n_paths"))
    paths
      .select(col("p"), posexplode(col("p")).as(Seq("pos", "asn")))
      .where(col("pos") > 0 && col("pos") < size(col("p")) - 1)
      .select(col("p"), col("asn").cast("long").as("asn"))
      .distinct()
      .groupBy(col("asn"))
      .agg(count(lit(1)).cast("long").as("n_transit_paths"))
      .join(broadcast(total), lit(true), "inner")
      .withColumn("transit_x1000",
        expr("n_transit_paths * 1000 div n_paths"))
  }

  /** Customer cones over the inferred relationship graph (the CAIDA
    * AS-rank metric next to Gao inference): for each AS, the set of
    * ASes reachable by walking provider→customer edges only — "whose
    * routes does this AS sell transit for" — reported as the cone SIZE
    * (self included, so a stub AS books 1) plus the direct-customer
    * count. Sibling edges do not extend a cone (CAIDA contracts
    * siblings into one organization first; callers wanting that merge
    * pre-contract the rels table).
    *
    * Shape: the input is the |AS-adjacency|-sized [[asRelationships]]
    * output (tiny against the event log — ~500k edges on a full
    * internet table), so this is a broadcast-scale fixpoint, NOT a
    * corpus-scale one: reach-set expansion joins run over at most
    * |edges|·depth rows, the loop is paced by the provider hierarchy
    * depth (≤ ~10 on the real topology), and each round
    * localCheckpoints to truncate lineage (the duplicateClusters
    * discipline). `maxIters` is a cycle backstop only — a p2c cycle
    * saturates the reach sets and the count fixpoint exits. */
  def customerCones(rels: DataFrame, maxIters: Int = 64): DataFrame = {
    // Materialize the relationship table ONCE before the fixpoint: `rels`
    // is usually a LIVE asRelationships plan (a full event-log inference),
    // and it is read four times building `down`/`asns` plus TWICE MORE per
    // expansion round through the un-truncated `down` lineage — before the
    // r18 cut q_rib_as_cone replayed the whole inference ~8× (4.4 s; the
    // duplicateClusters `base` checkpoint discipline, applied here).
    val relsM = rels.select(col("as_lo"), col("as_hi"), col("rel"))
      .localCheckpoint()
    val down = relsM.where(col("rel") === "p2c")
      .select(col("as_lo").as("p"), col("as_hi").as("c"))
      .unionByName(relsM.where(col("rel") === "c2p")
        .select(col("as_hi").as("p"), col("as_lo").as("c")))
    val asns = relsM.select(col("as_lo").as("asn"))
      .unionByName(relsM.select(col("as_hi").as("asn"))).distinct()
    var reach = asns.select(col("asn"), col("asn").as("m"))
      .localCheckpoint()
    var prev = -1L
    var n = reach.count()
    var it = 0
    while (n != prev && it < maxIters) {
      prev = n
      it += 1
      val next = reach.join(down, reach("m") === down("p"))
        .select(reach("asn").as("asn"), down("c").as("m"))
      reach = reach.unionByName(next).distinct().localCheckpoint()
      n = reach.count()
    }
    val ndir = down.groupBy(col("p"))
      .agg(count(lit(1)).cast("long").as("n_direct"))
    reach.groupBy(col("asn"))
      .agg(count(lit(1)).cast("long").as("cone_size"))
      .join(ndir, col("asn") === col("p"), "left")
      .select(col("asn"), col("cone_size"),
        coalesce(col("n_direct"), lit(0L)).as("n_direct"))
  }

  /** RPKI route-origin validation (RFC 6811 semantics) of the current
    * v4 unicast RIB against a ROA table `(roa_ip, roa_plen, roa_maxlen,
    * roa_origin)`: a ROA COVERS a route when the route's prefix sits
    * inside the ROA prefix (roa_plen ≤ plen and equal network bits at
    * roa_plen); a covered route is `valid` if SOME covering ROA matches
    * its origin AND its length (plen ≤ roa_maxlen), `invalid_length` if
    * an origin-matching covering ROA exists but only with plen >
    * maxlen, `invalid_origin` if covering ROAs exist but none matches
    * the origin, and `not_found` with no covering ROA at all (RFC 6811
    * collapses the two invalid reasons into one state; the split is the
    * actionable column — wrong origin is the hijack page, wrong length
    * the config fix).
    *
    * Shape: the ROA table is a smalldimension (a full production RPKI
    * dump is ~500k rows) — broadcast; the containment condition is a
    * range predicate, so the join plans as a BroadcastNestedLoopJoin
    * with the corpus-side stream never shuffling, and the per-route
    * verdict is ONE map-side-combined aggregation keyed on the route.
    * Returns one row per current v4 route: (rib, prefix_str, origin,
    * validity). */
  def rpkiValidate(df: DataFrame, roas: DataFrame): DataFrame = {
    val cur = current(df)
      .where(col("prefix").isNotNull && col("prefix.version") === 4 &&
        col("prefix.prefix_len").between(1, 32))
      .select(col("rib"), col("prefix_str"),
        col("prefix.ip_lo").as("ip"),
        col("prefix.prefix_len").cast("long").as("plen"),
        pathOrigin.cast("long").as("origin"),
        col("session_id"), col("path_id"))
    val covers = col("roa_plen") <= col("plen") &&
      call_function("shiftright", col("ip"),
        lit(32) - col("roa_plen").cast("int")) ===
      call_function("shiftright", col("roa_ip"),
        lit(32) - col("roa_plen").cast("int"))
    cur.join(broadcast(roas), covers, "left")
      .groupBy(col("rib"), col("prefix_str"), col("session_id"),
        col("path_id"), col("origin"))
      .agg(
        max(when(col("roa_origin") === col("origin") &&
          col("plen") <= col("roa_maxlen"), 1).otherwise(0)).as("__v"),
        max(when(col("roa_origin") === col("origin"), 1).otherwise(0))
          .as("__o"),
        max(when(col("roa_plen").isNotNull, 1).otherwise(0)).as("__c"))
      .withColumn("validity",
        when(col("__v") === 1, "valid")
          .when(col("__o") === 1, "invalid_length")
          .when(col("__c") === 1, "invalid_origin")
          .otherwise("not_found"))
      .drop("__v", "__o", "__c")
  }

  /** Prefix visibility report: how many prefixes the CURRENT RIB
    * carries at each peer-session count — the looking-glass "is this
    * route globally visible or partial" histogram (RIPE RIS/RouteViews
    * practice: a prefix seen by few of the N peers signals a leak
    * remnant, anycast scoping, or an ongoing withdrawal). Denominator =
    * distinct sessions in the WHOLE log (peers ever configured), so a
    * fully-visible prefix books 1000 permille even while some session
    * currently withdraws everything else.
    *
    * Shape: the current-state window, then TWO map-side-combined
    * aggregations (per-prefix distinct-session count → per-count prefix
    * histogram) — output is |distinct session counts| rows per rib; the
    * 1-row total broadcast-joins in. */
  def prefixVisibility(df: DataFrame): DataFrame = {
    val total = df.agg(countDistinct(col("session_id")).cast("long")
      .as("total_sessions"))
    current(df).where(col("prefix_str").isNotNull)
      .groupBy(col("rib"), col("prefix_str"))
      .agg(countDistinct(col("session_id")).cast("long").as("n_sessions"))
      .groupBy(col("rib"), col("n_sessions"))
      .agg(count(lit(1)).cast("long").as("n_prefixes"))
      .join(broadcast(total), lit(true), "inner")
      .withColumn("visibility_x1000",
        expr("n_sessions * 1000 div total_sessions"))
  }

  /** IANA special-purpose ("bogon"/martian) address ranges, as
    * (class, version, lo, hi, plen) numeric bounds: v4 rows bound
    * `prefix.ip_lo`, v6 rows bound the upper-64 `prefix.ip_hi` (every
    * listed v6 range is /64-or-shorter). Bounds are two's-complement
    * longs on BOTH engines and no listed range crosses the sign
    * boundary, so a signed BETWEEN is exact. The set is pairwise
    * disjoint per family (RFC 6890's table is), which [[bogonAudit]]
    * relies on for its one-row-per-route left join. */
  val standardBogonRanges: Seq[(String, Int, Long, Long, Int)] = {
    def v4(a: Long, b: Long, c: Long, d: Long, plen: Int) = {
      val base = (a << 24) | (b << 16) | (c << 8) | d
      (base, base + ((1L << (32 - plen)) - 1), plen)
    }
    def v6(hi: Long, plen: Int) = (hi, hi | ((1L << (64 - plen)) - 1), plen)
    def row(cls: String, ver: Int, t: (Long, Long, Int)) =
      (cls, ver, t._1, t._2, t._3)
    Seq(
      row("v4-this-net", 4, v4(0, 0, 0, 0, 8)),
      row("v4-rfc1918-10", 4, v4(10, 0, 0, 0, 8)),
      row("v4-cgn", 4, v4(100, 64, 0, 0, 10)),
      row("v4-loopback", 4, v4(127, 0, 0, 0, 8)),
      row("v4-link-local", 4, v4(169, 254, 0, 0, 16)),
      row("v4-rfc1918-172", 4, v4(172, 16, 0, 0, 12)),
      row("v4-ietf-special", 4, v4(192, 0, 0, 0, 24)),
      row("v4-test-net-1", 4, v4(192, 0, 2, 0, 24)),
      row("v4-rfc1918-192", 4, v4(192, 168, 0, 0, 16)),
      row("v4-benchmark", 4, v4(198, 18, 0, 0, 15)),
      row("v4-test-net-2", 4, v4(198, 51, 100, 0, 24)),
      row("v4-test-net-3", 4, v4(203, 0, 113, 0, 24)),
      row("v4-multicast", 4, v4(224, 0, 0, 0, 4)),
      row("v4-reserved", 4, v4(240, 0, 0, 0, 4)),
      row("v6-reserved-low", 6, v6(0L, 8)),
      row("v6-teredo", 6, v6(0x2001L << 48, 32)),
      row("v6-doc", 6, v6((0x2001L << 48) | (0x0db8L << 32), 32)),
      row("v6-6to4", 6, v6(0x2002L << 48, 16)),
      row("v6-ula", 6, v6(0xfc00L << 48, 7)),
      row("v6-link-local", 6, v6(0xfe80L << 48, 10)),
      row("v6-multicast", 6, v6(0xff00L << 48, 8)))
  }

  /** [[standardBogonRanges]] as the broadcastable dimension
    * [[bogonAudit]] consumes. */
  def bogonDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    standardBogonRanges
      .toDF("bogon_class", "bogon_version", "bogon_lo", "bogon_hi",
        "bogon_plen")
  }

  /** Bogon/martian announcement audit: classify every CURRENT route by
    * the special-purpose range its NLRI base address falls in — the
    * looking-glass hygiene report (a transit feed announcing RFC 1918,
    * documentation, or reserved space is a config leak; the reference's
    * users run exactly this scan through its subnet-range filter path,
    * src/ribfilter.rs:571-633 — `find_least_subnet` +
    * `get_subnet_range` over the prefix BTree). Routes outside every
    * range report `clean`.
    *
    * Shape: the range table is a tiny dimension (21 rows; a full-team
    * bogon feed is ~thousands) — Catalyst keys a broadcast hash join on
    * the version-equality conjunct with the range containment as the
    * join residual (strictly better than the rpkiValidate BNLJ: each
    * route probes only its family's ranges), and the corpus side never
    * shuffles for the join; the ranges are pairwise disjoint per family
    * so the left join emits exactly one row per route (no most-specific
    * re-aggregation), and the rollup is ONE map-side-combined
    * aggregation. Plan-pinned in PlanEvidenceSpec. Returns
    * (rib, bogon_class, n_routes, n_prefixes). */
  def bogonAudit(df: DataFrame, bogons: DataFrame): DataFrame = {
    val cur = current(df).where(col("prefix").isNotNull)
      .select(col("rib"), col("prefix_str"),
        col("prefix.version").cast("int").as("__ver"),
        when(col("prefix.version") === 4, col("prefix.ip_lo"))
          .otherwise(col("prefix.ip_hi")).as("__addr"))
    val covers = col("bogon_version") === col("__ver") &&
      col("__addr").between(col("bogon_lo"), col("bogon_hi"))
    cur.join(broadcast(bogons), covers, "left")
      .groupBy(col("rib"),
        coalesce(col("bogon_class"), lit("clean")).as("bogon_class"))
      .agg(count(lit(1)).cast("long").as("n_routes"),
        countDistinct(col("prefix_str")).cast("long").as("n_prefixes"))
  }

  /** CIDR route-table compression by sibling merge to fixpoint — the
    * operational "how small could this RIB be" analysis (the announce
    * side of the reference's aggregatable-siblings report,
    * [[aggregatableSiblings]]: that one FINDS mergeable pairs, this one
    * performs the merge transitively). Input is a SET of v4 routes
    * (rib, ip, plen, attr_key) where `attr_key` encodes whatever must
    * match for two routes to be forwarding-equivalent (origin, nexthop,
    * policy — caller's choice); each round merges every sibling pair
    * (both halves of a parent present with equal attr_key) into the
    * parent, to fixpoint. Pure sibling merge: a more-specific covered by
    * a supernet is NOT elided (that is a policy decision, not an
    * identity), so the result announces exactly the same address space.
    *
    * Shape: each round is ONE map-side-combined aggregation keyed on
    * (rib, parent, plen, attr_key) + one anti-join + a distinct — all
    * partition-parallel; the working set shrinks monotonically and the
    * round count is bounded by address length (≤ 32), with
    * localCheckpoint truncating lineage per round (the [[customerCones]]
    * fixpoint discipline). The per-round driver count is the fixpoint
    * test, not a data fetch. */
  def aggregateRoutes(routes: DataFrame, maxIters: Int = 32): DataFrame = {
    val free = org.apache.spark.sql.GraftBridge.freeCheckpoint _
    var w = routes.select(col("rib"), col("ip"), col("plen"),
      col("attr_key")).distinct().localCheckpoint()
    var merged = true
    var i = 0
    while (merged && i < maxIters) {
      val sib = call_function("shiftleft", lit(1L),
        lit(32) - col("plen").cast("int"))
      val t = w.withColumn("__cb",
        pmod(call_function("shiftright", col("ip"),
          lit(32) - col("plen").cast("int")), lit(2L)))
        .withColumn("__parent", col("ip") - col("__cb") * sib)
      // materialize the round's merge set ONCE: `m` is read three times
      // (the fixpoint test, the anti-join build side, the parent rows) and
      // each un-materialized read re-ran the sibling aggregation over `w`
      // (r18 opt round — the duplicateClusters per-round discipline)
      val m = t.where(col("plen") >= 1)
        .groupBy(col("rib"), col("__parent"), col("plen"), col("attr_key"))
        .agg(countDistinct(col("__cb")).as("__nc"))
        .where(col("__nc") === 2).drop("__nc")
        .localCheckpoint()
      if (m.isEmpty) merged = false
      else {
        val keep = t.join(m,
          Seq("rib", "__parent", "plen", "attr_key"), "left_anti")
          .select(col("rib"), col("ip"), col("plen"), col("attr_key"))
        val up = m.select(col("rib"), col("__parent").as("ip"),
          (col("plen") - 1).as("plen"), col("attr_key"))
        val prev = w
        w = keep.union(up).distinct().localCheckpoint()
        free(prev) // superseded round — the new frame is materialized
      }
      free(m) // consumed by the fixpoint test and (if any) the new round
      i += 1
    }
    w
  }

  /** Martian next-hop audit — the BGP-speaker-side complement of
    * [[bogonAudit]]: a route whose NEXT-HOP sits in special-purpose
    * space is unreachable through any real peering (RFC 4271 §5.1.3
    * expects a resolvable next-hop), the classic symptom of a
    * misconfigured redistribution. Same broadcast-dimension shape as
    * bogonAudit over the attribute's address instead of the NLRI.
    * Returns (rib, bogon_class, n_routes, n_nexthops). */
  def bogonNexthops(df: DataFrame, bogons: DataFrame): DataFrame = {
    val nh = col("attrs.nexthop")
    val cur = current(df).where(nh.isNotNull)
      .select(col("rib"),
        nh.getField("version").cast("int").as("__ver"),
        when(nh.getField("version") === 4, nh.getField("ip_lo"))
          .otherwise(nh.getField("ip_hi")).as("__addr"))
    val covers = col("bogon_version") === col("__ver") &&
      col("__addr").between(col("bogon_lo"), col("bogon_hi"))
    cur.join(broadcast(bogons), covers, "left")
      .groupBy(col("rib"),
        coalesce(col("bogon_class"), lit("clean")).as("bogon_class"))
      .agg(count(lit(1)).cast("long").as("n_routes"),
        // distinct over the (version, address) PAIR: __addr is v4 ip_lo
        // for v4 nexthops but v6 hi64 for v6 ones, so a bare
        // countDistinct(__addr) would collapse a v4 address numerically
        // equal to a v6 hi64 within a mixed-family class
        countDistinct(col("__ver"), col("__addr")).cast("long")
          .as("n_nexthops"))
  }

  /** Bogon class as a PURE COLUMN over a LITERAL range set — the
    * stateless twin of [[bogonAudit]] for streams (the
    * [[rpkiVerdictFor]] discipline): the ranges ride the plan as a
    * literal array, the containment check is one array HOF, so the
    * expression is scan-local and usable per-event in a Structured
    * Streaming select with no join/aggregation state. Ranges must be
    * pairwise disjoint per family (the standard set is) — the first
    * match is THE match. Routes outside every range report `clean`. */
  def bogonClassFor(ver: Column, addr: Column,
      ranges: Seq[(String, Int, Long, Long, Int)] = standardBogonRanges)
      : Column = {
    val arr = array(ranges.map { case (cls, v, lo, hi, _) =>
      struct(lit(cls).as("cls"), lit(v).as("v"),
        lit(lo).as("lo"), lit(hi).as("hi"))
    }: _*)
    val m = filter(arr, r => r.getField("v") === ver &&
      addr.between(r.getField("lo"), r.getField("hi")))
    // size-guarded: a bare element_at(m, 1) THROWS on the empty match
    // array under Spark 4's default ANSI mode — i.e. on every CLEAN
    // address (caught by the random-address model spec; the RIB fixture
    // never exercises clean, so only the spec sees it)
    coalesce(when(size(m) > 0, element_at(m, 1).getField("cls")),
      lit("clean"))
  }

  /** Per-prefix update bursts — the BGP convergence/path-exploration
    * report (Labovitz et al., "Delayed Internet Routing Convergence"):
    * updates for one prefix cluster in time while the mesh explores
    * alternate paths after a change; each maximal run of events with
    * inter-arrival ≤ `gapMs` is one burst, its duration the convergence
    * time, its `n_flips` the announce/withdraw oscillations inside it
    * (flips across a burst boundary are distinct incidents, not
    * exploration, and don't count). Returns one row per burst:
    * (rib, prefix_str, burst, start_ms, n_events, n_flips,
    * duration_ms).
    *
    * Shape: one exchange on (rib, prefix_str) serves everything — the
    * lag flags and their running sum share partitioning and ordering so
    * Catalyst stacks them in a single WindowExec (the
    * [[Temporal.sessionize]] discipline), and the burst rollup's
    * grouping keys are a superset of the window partition keys, so the
    * aggregation reuses the exchange (hash(rib, prefix_str) already
    * clusters every (rib, prefix_str, burst) group). Linear per prefix
    * at any scale; never a global window. */
  def updateBursts(df: DataFrame, gapMs: Long = 86400000L): DataFrame = {
    require(gapMs >= 0, s"gapMs must be non-negative: $gapMs")
    val w = Window.partitionBy(col("rib"), col("prefix_str"))
      .orderBy(col("ts"), col("event_id"))
    val ms = unix_millis(col("ts"))
    val gap = ms - lag(ms, 1).over(w)
    val tagged = df.where(col("prefix_str").isNotNull)
      .select(col("rib"), col("prefix_str"), col("ts"), col("event_id"),
        col("active"), ms.as("__ms"))
      .withColumn("__flip", when(gap.isNotNull && gap <= gapMs &&
        col("active") =!= lag(col("active"), 1).over(w), 1L).otherwise(0L))
      .withColumn("__new",
        when(gap.isNull || gap > gapMs, 1L).otherwise(0L))
      .withColumn("burst", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    tagged.groupBy(col("rib"), col("prefix_str"), col("burst"))
      .agg(min(col("__ms")).cast("long").as("start_ms"),
        count(lit(1)).cast("long").as("n_events"),
        sum(col("__flip")).cast("long").as("n_flips"),
        (max(col("__ms")) - min(col("__ms"))).cast("long")
          .as("duration_ms"))
  }

  /** RFC 6811 verdict as a PURE COLUMN over a LITERAL ROA set — the
    * stateless form of [[rpkiValidate]] for streams and small ROA dumps:
    * the ROA array rides the plan as a literal (like a trained
    * classifier's weight vector), covering/origin/length checks are
    * array HOFs, so the expression is scan-local — usable per-event in
    * a Structured Streaming select where the join+groupBy form would
    * demand watermarked aggregation state. Production full-table dumps
    * (~500k ROAs) stay on the [[rpkiValidate]] broadcast-join path;
    * FeedSpec pins the two forms verdict-equal on the same events. */
  def rpkiVerdictFor(ip: Column, plen: Column, origin: Column,
      roas: Seq[(Long, Long, Long, Long)]): Column = {
    require(roas.nonEmpty, "rpkiVerdictFor needs at least one ROA")
    val arr = array(roas.map { case (rip, rplen, rmax, rorig) =>
      struct(lit(rip).as("rip"), lit(rplen).as("rplen"),
        lit(rmax).as("rmax"), lit(rorig).as("rorig"))
    }: _*)
    val covering = filter(arr, r =>
      r.getField("rplen") <= plen &&
        call_function("shiftright", ip,
          lit(32) - r.getField("rplen").cast("int")) ===
        call_function("shiftright", r.getField("rip"),
          lit(32) - r.getField("rplen").cast("int")))
    when(exists(covering, r => r.getField("rorig") === origin &&
      plen <= r.getField("rmax")), "valid")
      .when(exists(covering, r => r.getField("rorig") === origin),
        "invalid_length")
      .when(size(covering) > 0, "invalid_origin")
      .otherwise("not_found")
  }

  /** Bounded history ring: newest `depth` records per key — the reference's
    * `shrink_hist` retention (A5, src/bgprib.rs:326-341). */
  def retained(df: DataFrame, depth: Int): DataFrame =
    df.withColumn("__rn", row_number().over(keyWindowDesc(df)))
      .where(col("__rn") <= depth)
      .drop("__rn")

  /** OnlyDiffer history mode: keep a record only when attrs or active-flag
    * changed vs the previous record of the same key (A4,
    * src/bgprib.rs:663-679, 772-789). */
  def onlyDiffer(df: DataFrame): DataFrame = {
    val w = keyWindowAsc(df)
    df.withColumn("__ph", lag(col("attrs_hash"), 1).over(w))
      .withColumn("__pa", lag(col("active"), 1).over(w))
      .where(col("__ph").isNull ||
        col("__ph") =!= col("attrs_hash") || col("__pa") =!= col("active"))
      .drop("__ph", "__pa")
  }

  /** Per-history-entry response filter `filter_ah` (P7,
    * src/ribservice.rs:72-89): onlyactive + half-open change-time bounds
    * (ts > after, ts < before), in epoch millis. */
  def responseFilter(df: DataFrame, onlyActive: Boolean,
      changedAfterMs: Option[Long], changedBeforeMs: Option[Long]): DataFrame = {
    var out = df
    if (onlyActive) out = out.where(col("active"))
    changedAfterMs.foreach(a => out = out.where(unix_millis(col("ts")) > a))
    changedBeforeMs.foreach(b => out = out.where(unix_millis(col("ts")) < b))
    out
  }

  /** P5 existential history match: keep the history rings whose recent
    * entries (the newest `maxdepth` of the response-filtered stream, with
    * the reference's skip-count quirk: the skip amount is computed from the
    * UNFILTERED ring length, src/ribfilter.rs:581-619) contain at least one
    * entry matching the compiled filter. Returns the matching rows of `df`
    * (all history of matching keys). */
  def historyExists(df: DataFrame, filter: RouteFilter, maxDepth: Int = 10,
      onlyActive: Boolean = false, changedAfterMs: Option[Long] = None,
      changedBeforeMs: Option[Long] = None,
      existencePrefixLevel: Boolean = false): DataFrame = {
    val wAll = keyWindowAsc(df)
    var passes: Column = lit(true)
    if (onlyActive) passes = passes && col("active")
    changedAfterMs.foreach(a => passes = passes && unix_millis(col("ts")) > a)
    changedBeforeMs.foreach(b => passes = passes && unix_millis(col("ts")) < b)
    val nAll = count(lit(1)).over(Window.partitionBy(ringPart(df): _*))
    // rank among passing entries, ascending ts (0 for non-passing rows)
    val rnPass = sum(when(passes, 1).otherwise(0)).over(
      wAll.rowsBetween(Window.unboundedPreceding, 0))
    val inDepth = passes && (rnPass > nAll - maxDepth)
    val entryMatch = inDepth && (FilterCompiler.matchRoute(filter) <=> lit(true))
    // existence granularity: the reference tests "any (session, path,
    // entry) under this PREFIX" (src/ribfilter.rs:589-611); ring-level
    // existence is the stricter per-ring variant used by some metrics
    val existPart: Seq[Column] =
      if (!existencePrefixLevel) ringPart(df)
      else if (df.columns.contains("route_id")) Seq(col("route_id"))
      else keyCols.filterNot(c => c == "session_id" || c == "path_id").map(col)
    val keyMatch = max(when(entryMatch, 1).otherwise(0))
      .over(Window.partitionBy(existPart: _*))
    df.withColumn("__m", keyMatch).where(col("__m") === 1).drop("__m")
  }

  /** Per-entry match flag without the existence window, for a frame that
    * holds ONE rib — the building block of RibJson's key-flag aggregate.
    * The match is [[FilterCompiler.acceptFor]] specialized to that rib (≡
    * `matchRoute(f) <=> true` on its rows, the equivalence [[scan]] also
    * relies on), so the depth-window stage compiles one rib's key algebra
    * instead of the 15-way dispatch. The frame must carry `route_id`: the
    * windows partition on (route_id, ring) — the same rings, since a ring
    * lies inside one route key — so a frame hash-partitioned on `route_id`
    * feeds both them and a `route_id` aggregate without another exchange. */
  def entryMatchFlag(df: DataFrame, ribName: String, filter: RouteFilter,
      maxDepth: Int, onlyActive: Boolean, changedAfterMs: Option[Long],
      changedBeforeMs: Option[Long]): Column = {
    val ring = col("route_id") +: ringPart(df)
    val wAll = Window.partitionBy(ring: _*).orderBy(sortCols(df, desc0 = false): _*)
    // the request's values are parameters: one generated class per page shape
    var passes: Column = lit(true)
    if (onlyActive) passes = passes && col("active")
    changedAfterMs.foreach(a => passes = passes && unix_millis(col("ts")) > Param.column(a))
    changedBeforeMs.foreach(b => passes = passes && unix_millis(col("ts")) < Param.column(b))
    val nAll = count(lit(1)).over(Window.partitionBy(ring: _*))
    val rnPass = sum(when(passes, 1).otherwise(0)).over(
      wAll.rowsBetween(Window.unboundedPreceding, 0))
    passes && (rnPass > nAll - Param.column(maxDepth.toLong)) &&
      FilterCompiler.acceptFor(ribName, filter)
  }

  /** SURVEY O2: the reference's BTreeMap range prune (most-specific
    * positive prefix term → key range, src/ribfilter.rs:559-580, 830-865)
    * as a SIMPLE, Parquet-pushable predicate: plain comparisons on the
    * prefix longs reach row-group min/max stats (the event log is sorted by
    * them within rib partitions), while the full tri-state filter — too
    * complex to push — runs behind it. Semantically implied by the filter:
    * rows whose match could depend on a v4/v6 prefix key must lie inside
    * the term's address range. Per rib branch of the union scan: within
    * one rib the prefix family and nullability are statically known, so
    * the hint is either a plain pushable range conjunct or `true`.
    * ipv4mdt is never v4-range-prunable (its mdt_group host can satisfy a
    * v4 term via the multi() majority even when the v4 prefix lies
    * outside the term's range). */
  private def rangePruneHintFor(rib: String, f: RouteFilter): Column = {
    val v4Pfx = Set("ipv4u", "vpnv4u", "ipv4lu", "ipv4m", "vpnv4m", "fs4u")
    val v6Pfx = Set("ipv6u", "vpnv6u", "ipv6lu", "ipv6mdt", "vpnv6m")
    f.leastSubnet match {
      case Some(graft.filter.FilterItem.V4(net, _)) if v4Pfx(rib) =>
        col("prefix.ip_lo") >= net.firstAddr && col("prefix.ip_lo") <= net.lastAddr
      case Some(graft.filter.FilterItem.V6(net, _)) if net.hi >= 0 && v6Pfx(rib) =>
        // signed compare is unsigned-correct here: the range is non-negative
        // and negative hi values (ff00::/8 space) sort below it either way
        val maskHi = if (net.plen <= 0) 0L
          else if (net.plen >= 64) -1L else -1L << (64 - net.plen)
        col("prefix.ip_hi") >= (net.hi & maskHi) && col("prefix.ip_hi") <= (net.hi | ~maskHi)
      case _ => lit(true)
    }
  }

  /** Subnet scan (Q1): pushable range hint + the compiled tri-state
    * acceptance (src/ribfilter.rs:559-619).
    *
    * Plan shape: a union of per-rib-partition scans, each with the filter
    * SPECIALIZED to that rib's key algebra. Two scale effects: (a) the
    * `rib` equality prunes to one partition directory per branch, and
    * (b) each branch's predicate is small enough to stay inside whole-stage
    * codegen — the full 15-way polymorphic tree in a single Filter blows
    * Janino's 64 KB method limit and drops the scan to interpreted eval
    * (~3× slower per core, measured at sf0.1). Empty-rib branches cost
    * nothing (pruned to zero files at planning). */
  def scan(df: DataFrame, filter: String): DataFrame = {
    val f = FilterParser.parse(filter)
    FilterCompiler.ribValues.map { r =>
      df.where(col("rib") === r)
        .where(rangePruneHintFor(r, f))
        .where(FilterCompiler.acceptFor(r, f))
    }.reduce(_ union _)
  }

  /** Pushable candidate-network hint for the supernet scan: a supernet of
    * the filter net must BE the filter address masked at some shorter
    * prefix length, so its network address is one of ≤33 (v4) / ≤65 (v6-hi)
    * candidates — an IN-list the Parquet reader can push into row-group
    * dictionary/stats skipping. Sound only for branches whose supernet
    * acceptance requires prefix containment (prefix/vpn families; mdt is
    * rd-only on this path and gets no hint). Built as an [[inSet]]: the
    * number of distinct candidates varies with the address, and an
    * IN-list of up to ten literals would put them into the generated
    * code. */
  private def superPruneHintFor(rib: String, f: RouteFilter): Column = {
    val v4Pfx = Set("ipv4u", "vpnv4u", "ipv4lu", "ipv4m", "vpnv4m", "fs4u")
    val v6Pfx = Set("ipv6u", "vpnv6u", "ipv6lu", "ipv6mdt", "vpnv6m")
    f.leastSubnet match {
      case Some(graft.filter.FilterItem.V4(net, _)) if v4Pfx(rib) =>
        val cands = (0 to net.plen)
          .map(p => if (p == 0) 0L else net.addr & (-1L << (32 - p)) & 0xFFFFFFFFL)
        inSet(col("prefix.ip_lo"), cands)
      case Some(graft.filter.FilterItem.V6(net, _)) if v6Pfx(rib) =>
        val cands = (0 to math.min(net.plen, 64))
          .map(p => if (p == 0) 0L else if (p >= 64) net.hi else net.hi & (-1L << (64 - p)))
        inSet(col("prefix.ip_hi"), cands)
      case _ => lit(true)
    }
  }

  /** `c IN values` built as an `InSet` directly, where `isin` keeps an
    * IN-list of at most ten values (`spark.sql.optimizer.inSetConversionThreshold`)
    * whose literals whole-stage codegen inlines: the generated code is
    * the same for any values and any number of them, and the filter
    * still pushes to a Parquet scan as `In`. */
  private[operators] def inSet(c: Column, values: Iterable[Long]): Column =
    GraftBridge.column(InSet(GraftBridge.expression(c), values.toSet[Any]))

  /** Supernet scan (Q2, src/ribfilter.rs:620-683) — same union shape, plus
    * the candidate-network IN-list ahead of the tri-state predicate (the
    * reference's upward BTreeMap walk, re-expressed as data skipping). */
  def scanSuper(df: DataFrame, filter: String): DataFrame = {
    val f = FilterParser.parse(filter)
    FilterCompiler.ribValues.map { r =>
      df.where(col("rib") === r).where(superMatchFor(r, f))
    }.reduce(_ union _)
  }

  /** One rib's branch of [[scanSuper]]: the candidate-network hint and the
    * supernet acceptance specialized to that rib. A page over one rib's
    * slice builds this branch alone. */
  def superMatchFor(rib: String, f: RouteFilter): Column =
    superPruneHintFor(rib, f) && FilterCompiler.acceptSuperFor(rib, f)

  /** Route-key specificity (reference `len()`: prefixlen + 64 per RD + 24
    * per label, src/ribfilter.rs:469-494). */
  def keyLen: Column = IpFns.keyLen(col("prefix"), col("rd"), col("labels"))

  /** Q5: supernets of the filter target sorted most-specific-first, top k —
    * the empty-page fallback (src/bgpsvc.rs:638-658). TakeOrderedAndProject
    * physically: no global sort materialization. */
  def supernetTopK(df: DataFrame, filter: String, k: Int): DataFrame =
    scanSuper(df, filter)
      .select((keyCols :+ "prefix_str").map(col) :+ keyLen.as("key_len"): _*)
      .dropDuplicates(keyCols)
      .orderBy(col("key_len").desc +: nlriOrder: _*)
      .limit(k)

  /** Deterministic NLRI ordering (Q7): unsigned 128-bit order of the
    * network address, then specificity and wrappers — the engine's stable
    * iteration contract matching BTreeMap key order semantics. Session and
    * path tie-breaks are included only when those columns exist (ring-level
    * frames) — prefix-level key frames order identically without them. */
  def nlriOrder: Seq[Column] = nlriOrderFor(includeRing = true)

  def nlriOrderFor(includeRing: Boolean): Seq[Column] = {
    val base = Seq(
      col("prefix").isNull.cast("int"),
      col("prefix.version"),
      IpFns.sortable(col("prefix.ip_hi")),
      IpFns.sortable(col("prefix.ip_lo")),
      col("prefix.prefix_len"),
      col("rd.rdh"), col("rd.rdl"),
      col("labels").cast("array<int>").getItem(0))
    if (includeRing) base ++ Seq(col("session_id"), col("path_id")) else base
  }

  /** Q4 pagination over a deterministic order (skip/limit,
    * src/bgpsvc.rs:625-630).
    *
    * Scale shape: `orderBy().offset(skip).limit(limit)` plans as a single
    * TakeOrderedAndProject — per-partition top-(skip+limit) heaps + a
    * driver merge of page-sized slices — so the full matched key set never
    * funnels through one task (round-1's global row_number window did
    * exactly that; VERDICT r1 item 2). For deep scans use [[pageAfter]]. */
  def page(df: DataFrame, skip: Int, limit: Int): DataFrame =
    page(df, skip, limit, nlriOrderFor(df.columns.contains("session_id")))

  /** [[page]] over an explicit order. */
  def page(df: DataFrame, skip: Int, limit: Int, ord: Seq[Column]): DataFrame =
    df.orderBy(ord: _*).offset(skip).limit(limit)

  /** Keyset continuation (the production path for deep pagination named in
    * SCALE.md): resume strictly after `token`, the [[pageToken]] of the last
    * row of the previous page. O(limit) result work per call regardless of
    * page depth — no skip-scan. */
  def pageAfter(df: DataFrame, token: Option[Column], limit: Int): DataFrame =
    pageAfter(df, token, limit, nlriOrderFor(df.columns.contains("session_id")))

  /** [[pageAfter]] over an explicit order; `token` is that order's
    * [[orderToken]]. */
  def pageAfter(df: DataFrame, token: Option[Column], limit: Int,
      ord: Seq[Column]): DataFrame = {
    val cont = token.map(t => orderToken(ord) > t).getOrElse(lit(true))
    df.where(cont).orderBy(ord: _*).limit(limit)
  }

  /** Continuation token: the NLRI order tuple as a comparable struct
    * (Spark orders structs field-by-field, nulls first — same as the
    * column-wise sort order used by [[page]]). */
  def pageToken(ring: Boolean = true): Column = orderToken(nlriOrderFor(ring))

  /** An order tuple as a comparable struct with fields `k0`, `k1`, …. */
  def orderToken(ord: Seq[Column]): Column =
    struct(ord.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
}
