package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String
import graft.filter.{FilterCompiler, FilterParser, RouteFilter}
import graft.functions.{IpFns, Param}

/** P6 JSON tree projection + the `/api/json` response lifecycle
  * (reference: serializers src/bgpsvc.rs:493-707, service
  * src/ribservice.rs:239-278).
  *
  * Output per route key: {session_id → {path_id → {ts_millis →
  * {Active, Attrs, Labels}}}}, history newest-first capped at `maxdepth`
  * (take-after-filter from the newest side, src/bgpsvc.rs:519-531), empty
  * subtrees pruned. This object selects a page's keys and renders it. The
  * keys, found and length come from the rib's [[RibState]] on the driver
  * when the log is a file relation within its bound — the reference's
  * BTreeMap walk, with `length` the table size: a key-only page reads its
  * key part, a page with an attribute term or a response filter its
  * dictionary-encoded entry part too. Any other page runs one Spark key
  * pass — one action, found/length observed on it, no persisted key set —
  * that hash-partitions the rib slice on `route_id` once for the depth
  * window and the key-flag aggregate. Either way the page's entry rows —
  * bounded by limit × rings × history — are read through an `InSet` of
  * the page keys in one stage, collected once and rendered on the driver.
  * Request values (filter values, the `after=` id, change-time bounds,
  * maxdepth) enter the plans and the state's predicates as
  * [[graft.functions.Param]]s, so each page shape compiles once. */
object RibJson {

  final case class RibParams(
      skip: Int = 0, limit: Int = 1000, maxDepth: Int = 10,
      onlyActive: Boolean = false, changedAfterMs: Option[Long] = None,
      changedBeforeMs: Option[Long] = None,
      // keyset continuation: resume strictly after the route key with this
      // route_id (the last item of the previous page). The deep-pagination
      // path (RibViews.pageAfter): O(limit) page work at any depth, where
      // skip/limit pays per-partition top-(skip+limit) heaps. Overrides
      // `skip` when set.
      pageAfterId: Option[Long] = None)

  /** One rendered route of a page: its keyset-continuation token
    * (`route_id`), display key and history tree. */
  final case class PageItem(routeId: Long, itemKey: String, itemsJson: String)

  /** The page order over entry rows: the NLRI order, then the `route_id`
    * surrogate. The tuple does not cover the exotic key structs (evpn and
    * mvpn keys have null prefix, rd and labels; l2vpls keys share a few
    * rds), so many keys tie on it alone; the surrogate makes skip pages
    * over them well defined and lets a keyset walk step past a tie. */
  private[operators] def pageOrder: Seq[Column] = nlriOrder :+ col("route_id")

  private def nlriOrder: Seq[Column] = RibViews.nlriOrderFor(includeRing = false)

  /** [[pageOrder]] over the key-flag aggregate, which carries the NLRI
    * order tuple as the columns `k0`, `k1`, …. */
  private def keyOrder: Seq[Column] = nlriOrder.indices.map(i => col(s"k$i")) :+ col("route_id")

  /** Engine-canonical display key for a route (reference uses the NLRI
    * Display impls as JSON keys, src/bgpsvc.rs:635). Prefix-shaped ribs
    * render rd + prefix + labels; the structurally-rich keys (L2VPLS,
    * MVPN, EVPN, MDT group) append an explicit rendering of their key
    * struct — zettabgp's exact Display text is unknowable from the
    * reference alone, so the canonical form is the JSON of the struct
    * (null fields omitted, schema field order — deterministic). Without
    * the suffix, distinct exotic routes sharing an RD would collide in
    * JSON pages and in the text-key snapshot export. The input frame must
    * carry the route-key columns (rib, prefix, prefix_str, rd, labels, l2,
    * mvpn, evpn, mdt_group).
    *
    * Oracle note (r13 stretch ask): `to_json` serializes struct fields in
    * SCHEMA DECLARATION order (Model.scala's L2Key/MvpnKey/EvpnKey field
    * order) and omits null fields. Any future DuckDB oracle that pins
    * exotic `item_key` TEXT must replicate that exact field order and
    * null-omission in its own JSON rendering — DuckDB's `to_json(struct)`
    * keeps nulls and uses its own struct order, so a naive struct-pack
    * will hash-mismatch even when the key VALUES are identical. Current
    * oracles only pin itemKey for prefix-shaped ribs (rd/prefix/labels
    * arithmetic, no to_json), so nothing binds today. */
  def itemKey: Column = concat(
    when(col("rd").isNotNull, concat(IpFns.rdStr(col("rd")), lit(" "))).otherwise(lit("")),
    coalesce(col("prefix_str"), lit("")),
    when(col("labels").isNotNull,
      concat(lit(" l"), concat_ws(",", col("labels")))).otherwise(lit("")),
    when(col("l2").isNotNull, concat(lit("l2"), to_json(col("l2")))).otherwise(lit("")),
    when(col("mvpn").isNotNull, concat(lit("mvpn"), to_json(col("mvpn")))).otherwise(lit("")),
    when(col("evpn").isNotNull, concat(lit("evpn"), to_json(col("evpn")))).otherwise(lit("")),
    when(col("mdt_group").isNotNull,
      concat(lit(" g"), IpFns.pfxStr(col("mdt_group")))).otherwise(lit("")))

  private def entryStruct: Column = struct(
    col("active").as("Active"), col("attrs").as("Attrs"), col("labels").as("Labels"))

  /** Per-entry response filter `filter_ah` (src/ribservice.rs:72-89). */
  private def passes(p: RibParams): Column = {
    var c: Column = lit(true)
    if (p.onlyActive) c = c && col("active")
    p.changedAfterMs.foreach(a => c = c && unix_millis(col("ts")) > Param.column(a))
    p.changedBeforeMs.foreach(b => c = c && unix_millis(col("ts")) < Param.column(b))
    c
  }

  /** Entries with the route-key surrogate: the stored `route_id` when
    * present (event-log frames), else synthesized with the SAME hash
    * (RouteEventGen stores xxhash64 over these columns in this order), so
    * stored and computed forms agree. Grouping/joining on the one long
    * instead of the 9-column nested tuple keeps the aggregate keys inside
    * whole-stage codegen (the wide-struct key exceeded Janino's method
    * limit and fell back to interpreted eval — SCALE.md round-2 wart) and
    * makes the page's entry fetch a set lookup on one long. */
  private def withRouteId(entries: DataFrame): DataFrame =
    if (entries.columns.contains("route_id")) entries
    else entries.withColumn("route_id",
      xxhash64(col("rib"), col("prefix"), col("rd"), col("labels"),
        col("l2"), col("mvpn"), col("evpn"), col("mdt_group")))

  /** Full `/api/json` page: filter → existential match → deterministic
    * pagination → items tree; empty page falls back to the supernet scan
    * sorted most-specific-first (Q5, src/bgpsvc.rs:638-658). Returns the
    * rendered items in page order plus the found/length counts. */
  def jsonPage(events: DataFrame, ribName: String, filterStr: String,
      p: RibParams): (Seq[PageItem], Long, Long) = {
    val (entries, order, found, length) = pagedEntries(events, ribName, filterStr, p)
    (render(entries, order, p), found, length)
  }

  /** Renders the page's entries, collected in one job, into items in page
    * order (`order`: the page's route ids). The orders are those of a
    * Spark `sort_array` over (key, json) structs: history by ts
    * descending, ties by the entry JSON descending in UTF-8 byte order,
    * capped at `maxDepth` (0 = uncapped) after the response filter; paths
    * and sessions by id ascending. A route with no entry left after the
    * filter is left out. */
  private def render(entries: DataFrame, order: Seq[Long], p: RibParams): Seq[PageItem] = {
    if (order.isEmpty) return Nil // an empty page runs no entry job
    val rows = entries.where(passes(p))
      .select(col("route_id"), itemKey, col("session_id").cast("long"),
        col("path_id").cast("long"), unix_millis(col("ts")), to_json(entryStruct))
      .collect()
    def obj(kvs: Seq[(Long, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def byId(rs: Seq[Row], i: Int)(level: Seq[Row] => String): String =
      obj(rs.groupBy(_.getLong(i)).toSeq.sortBy(_._1).map { case (k, g) => (k, level(g)) })
    val newestFirst: Ordering[(Long, UTF8String)] =
      Ordering.Tuple2(Ordering.Long, Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)).reverse
    def history(rs: Seq[Row]): String = {
      val hist = rs.map(r => (r.getLong(4), UTF8String.fromString(r.getString(5))))
        .sorted(newestFirst)
      obj((if (p.maxDepth > 0) hist.take(p.maxDepth) else hist)
        .map { case (ts, v) => (ts, v.toString) })
    }
    val byRoute = rows.toSeq.groupBy(_.getLong(0))
    order.flatMap(id => byRoute.get(id).map(rs =>
      PageItem(id, rs.head.getString(1), byId(rs, 2)(byId(_, 3)(history)))))
  }

  /** The page's entry rows PRE-stringification: (item_key, session_id,
    * path_id, ts_ms, active, attrs_hash), one row per in-depth history entry
    * of each page route key — exactly the facts the JSON tree serializes
    * (page selection, response filter, newest-`maxDepth` cap) minus the text
    * formatting, which has no stable cross-engine form. This is the
    * oracle-checkable face of the JSON page (the DuckDB replica recomputes
    * the same rows); the stringification on top is pinned by RibJsonSpec
    * goldens. Ties inside a ring at equal ts resolve by event_id (frames
    * without event_id: ts only). */
  def structuralPage(events: DataFrame, ribName: String, filterStr: String,
      p: RibParams): DataFrame = {
    val (entries, _, _, _) = pagedEntries(events, ribName, filterStr, p)
    val filtered = entries.where(passes(p))
    val ord =
      if (filtered.columns.contains("event_id")) Seq(col("ts").desc, col("event_id").desc)
      else Seq(col("ts").desc)
    val w = Window.partitionBy(col("route_id"), col("session_id"), col("path_id"))
      .orderBy(ord: _*)
    val capped =
      if (p.maxDepth > 0)
        filtered.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= p.maxDepth)
      else filtered
    capped.select(itemKey.as("item_key"),
        col("session_id").cast("long").as("session_id"),
        col("path_id").cast("long").as("path_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("active"), col("attrs_hash"))
      .orderBy(col("item_key"), col("session_id"), col("path_id"),
        col("ts_ms"), col("active"), col("attrs_hash"))
  }

  /** The rib's slice of the log, with the route-key surrogate. */
  private def ribSlice(events: DataFrame, ribName: String): DataFrame =
    withRouteId(events.where(col("rib") === ribName))

  /** The key-flag aggregate of a page: one row per route key of the rib,
    * `__m` = 1 when an in-depth entry matches the filter (found), every
    * key counting toward length — the reference's second full scan for
    * `found` (src/bgpsvc.rs:604-613) folded into the same aggregation.
    * Grouping on the route_id surrogate keeps the aggregate key one long;
    * the NLRI order tuple rides along as first() primitives `k0`, `k1`, …,
    * which keeps the aggregation a hash aggregate. The depth window's
    * (route_id, ring) partitioning and the aggregate share one
    * distribution of the slice: it is hash-partitioned on `route_id` once.
    * A `route_id` predicate above the aggregate pushes below the window to
    * the scan. */
  private[operators] def keyFlags(events: DataFrame, ribName: String,
      filter: RouteFilter, p: RibParams): DataFrame = {
    val d = ribSlice(events, ribName).repartition(col("route_id"))
    val flag = RibViews.entryMatchFlag(d, ribName, filter, p.maxDepth,
      p.onlyActive, p.changedAfterMs, p.changedBeforeMs)
    d.withColumn("__em", flag)
      .groupBy(col("route_id"))
      .agg(max(when(col("__em"), 1).otherwise(0)).as("__m"),
        nlriOrder.zipWithIndex.map { case (c, i) => first(c).as(s"k$i") }: _*)
  }

  /** Shared page machinery: the page keys and the counts come from the
    * rib's [[RibState]] where it answers the page, else from one Spark key
    * pass; then the page's entries are read from the rib's slice
    * through an `InSet` of the page keys. Returns (pageEntries, page route
    * ids in item order, found, length) where pageEntries holds ALL history
    * rows of the page's route keys. */
  private def pagedEntries(events: DataFrame, ribName: String,
      filterStr: String, p: RibParams): (DataFrame, Seq[Long], Long, Long) = {
    val d = ribSlice(events, ribName)
    val f = FilterParser.parse(filterStr)
    val accept = FilterCompiler.acceptFor(ribName, f)
    val superMatch = RibViews.superMatchFor(ribName, f)
    // the page plans as a TakeOrderedAndProject only while skip + limit
    // stays below Spark's top-K fallback threshold: past it the page would
    // be a global sort, whose range-partition sampling job runs the
    // observed metrics a second time. No page reaches that many keys
    val maxRows = d.sparkSession.conf.get(SQLConf.TOP_K_SORT_FALLBACK_THRESHOLD.key).toInt - 1
    val limit = math.min(p.limit, maxRows)
    val (order, found, length) =
      RibState(events, ribName, Seq(accept, superMatch), () => d) match {
      case Some(state) => statePage(state, accept, superMatch, p, limit)
      case None => keyPass(events, ribName, f, superMatch, p, limit, maxRows)
    }
    // the page is bounded by `limit` (reference contract, default 1000):
    // its keys filter the slice as a set of at most `limit` longs, so the
    // fetch is one stage and its code is the same at any page size
    val pageEntries = d.where(RibViews.inSet(col("route_id"), order))
    (pageEntries, order, found, length)
  }

  /** The Spark key pass: (page route ids, found, length) from one action
    * over the key-flag aggregate, the supernet fallback's keys from one
    * more over the rib's slice. */
  private def keyPass(events: DataFrame, ribName: String, filter: RouteFilter,
      superMatch: Column, p: RibParams, limit: Int, maxRows: Int): (Seq[Long], Long, Long) = {
    val flags = keyFlags(events, ribName, filter, p)
    // keyset continuation: the `after` route key's order tuple, read from
    // the key pass restricted to that one matched key (the route_id
    // predicate reaches the scan), then the page resumes strictly after
    // it — no skip-scan at any page depth. An unknown or unmatched
    // route_id yields no token → first page (the reference's
    // tolerant-params behavior). The id and the token's values are
    // parameters, so every continuation page of a shape shares its code.
    val token = p.pageAfterId.flatMap { aid =>
      val tokDf = flags.where(col("route_id") === Param.column(aid) && col("__m") === 1)
        .select(keyOrder.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
      val schema = tokDf.schema
      tokDf.collect().headOption.map { r =>
        struct(schema.fields.zipWithIndex.map { case (f, i) =>
          (if (r.isNullAt(i)) lit(null) else Param.column(r.get(i)))
            .cast(f.dataType).as(f.name)
        }: _*)
      }
    }
    // the counts ride along with the page-key action as observed metrics:
    // its TakeOrderedAndProject reads every key row, so the metrics above
    // the aggregate see every key without a job of their own
    val obs = Observation()
    val observed = flags
      .observe(obs, sum(col("__m")).as("found"), count(lit(1)).as("length"))
    def pageIds(keys: DataFrame): DataFrame = {
      val matchedKeys = keys.where(col("__m") === 1)
      (if (p.pageAfterId.isDefined) RibViews.pageAfter(matchedKeys, token, limit, keyOrder)
        else RibViews.page(matchedKeys, p.skip, math.max(0, math.min(limit, maxRows - p.skip)),
          keyOrder))
        .select(col("route_id"))
    }
    val planned = pageIds(observed)
    // the optimizer also drops the limit of a page whose keys fit it when
    // the input is bounded (a driver-local frame); above the one-task size
    // the global sort left in its place would sample its exchanged input
    // in a job of its own. One partition keeps that sort in the metrics'
    // own stage. Parquet logs, the served path, are unbounded
    val pageIdDf =
      if (planned.queryExecution.sparkPlan.exists {
        case s: SortExec => s.global
        case _ => false
      }) pageIds(observed.coalesce(1))
      else planned
    val matched = pageIdDf.collect().map(_.getLong(0)).toSeq
    // read only after the action succeeded (get blocks until the metrics
    // arrive). The sum over no keys is null, i.e. 0. The metrics are
    // absent when the optimizer or AQE pruned their part of the plan (a
    // zero limit, an offset past a bounded input, an empty slice), so
    // they are then counted by a plain aggregate over the key flags
    val metrics = obs.get
    val (found, length) =
      if (metrics.isEmpty) {
        val r = flags.agg(coalesce(sum(col("__m")), lit(0L)), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      } else {
        def metric(name: String): Long = metrics.get(name) match {
          case Some(v: Long) => v
          case _ => 0L
        }
        (metric("found"), metric("length"))
      }
    val order =
      if (found > 0) matched
      else // supernet fallback: the most-specific `limit` keys, listed in page order
        routeIds(ribSlice(events, ribName).where(superMatch)
          .dropDuplicates("route_id")
          .orderBy(RibViews.keyLen.desc +: pageOrder: _*)
          .limit(limit)
          .orderBy(pageOrder: _*))
    (order, found, length)
  }

  /** The key pass answered from the rib's state on the driver: the keys
    * the page finds, and the supernet fallback's when it finds none, are
    * picked from the state's keys in page order. Returns (page route ids,
    * found, length) as [[keyPass]] does. */
  private def statePage(state: RibState, accept: Column, superMatch: Column,
      p: RibParams, limit: Int): (Seq[Long], Long, Long) = {
    val matched = state.matching(accept, p)
    val page =
      if (matched.nonEmpty) p.pageAfterId match {
        // an unknown or unmatched id resumes nowhere: the first page
        case Some(aid) => matched.drop(matched.indexWhere(state.routeId(_) == aid) + 1).take(limit)
        case None => matched.drop(p.skip).take(limit)
      }
      else { // supernet fallback: the most-specific `limit` keys, listed in page order
        val len = state.keyInt(RibViews.keyLen)
        state.holding(superMatch).sortBy(k => (-len(k), k)).take(limit).sorted
      }
    (page.map(state.routeId), matched.length.toLong, state.length.toLong)
  }

  private def routeIds(keys: DataFrame): Seq[Long] =
    keys.select(col("route_id")).collect().map(_.getLong(0)).toSeq

  /** The complete reference-shaped response document
    * (src/bgpsvc.rs:688-707). Collects only the bounded page. Engine
    * extension beyond the reference shape: a trailing `next_after` field —
    * the keyset-continuation token (`after=` URL param) when this page is
    * full, null otherwise — so deep pagination is reachable through the
    * HTTP surface without skip-scans. */
  def response(events: DataFrame, ribName: String, filterStr: String,
      p: RibParams): String = {
    val (items, found, length) = jsonPage(events, ribName, filterStr, p)
    val kv = items
      .map(i => "\"" + i.itemKey.replace("\"", "\\\"") + "\":" + i.itemsJson)
    val nextAfter =
      if (found > 0 && items.length >= p.limit && items.nonEmpty)
        items.last.routeId.toString
      else "null"
    s"""{"ribtype":"$ribName","length":$length,"skip":${p.skip},""" +
      s""""limit":${p.limit},"maxdepth":${p.maxDepth},"onlyactive":${p.onlyActive},""" +
      s""""changed_after":${p.changedAfterMs.map(_.toString).getOrElse("null")},""" +
      s""""changed_before":${p.changedBeforeMs.map(_.toString).getOrElse("null")},""" +
      s""""found":$found,"items":{${kv.mkString(",")}},""" +
      s""""next_after":$nextAfter}"""
  }
}
