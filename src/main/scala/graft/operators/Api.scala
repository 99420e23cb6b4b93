package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `/api` query surface (reference: src/bgpsvc.rs:457-482 dispatch,
  * src/main.rs:145-165 outer routes, src/ribservice.rs:93-114 +
  * src/service.rs:5-30 URL-parameter extraction).
  *
  * The HTTP transport itself is out-of-engine (driver scope); this object
  * is everything behind it: URL-parameter parsing with the reference's
  * defaults and ignore-unparseable rule, the rib-name dispatch (unknown
  * names fall back to ipv4u, src/ribservice.rs:261-277), the session-FSM
  * state strings, and the route to each response document. */
object Api {

  /** BGP session FSM states (reference: src/bgpsvc.rs:164-173). `/api/state`
    * returns the Rust Debug rendering, which is the bare variant name. */
  sealed trait SessionState { def render: String = toString }
  case object Idle extends SessionState
  case object Connect extends SessionState
  case object Active extends SessionState
  case object OpenSent extends SessionState
  case object OpenConfirm extends SessionState
  case object Established extends SessionState
  case object BMP extends SessionState

  def ping: String = "pong" // src/main.rs:152-154

  /** Query-string → map (last value wins, URL-decoded) — the engine half of
    * `get_url_params` (src/service.rs:5-14). */
  def parseQuery(qs: String): Map[String, String] =
    qs.split('&').toSeq.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k) => Some(dec(k) -> "")
        case _ => None
      }
    }.toMap

  private def dec(s: String): String =
    try java.net.URLDecoder.decode(s, "UTF-8") catch { case _: Exception => s }

  /** Reference defaults skip=0 limit=1000 maxdepth=10 onlyactive=false
    * (src/ribservice.rs:253); unparseable values are IGNORED, keeping the
    * default (`get_url_param` logs and returns None, src/service.rs:15-30).
    * Time bounds are epoch milliseconds. */
  def parseParams(params: Map[String, String]): RibJson.RibParams = {
    def num(k: String): Option[Long] = params.get(k).flatMap(v =>
      try Some(java.lang.Long.parseLong(v)) catch { case _: NumberFormatException => None })
    def bool(k: String): Option[Boolean] = params.get(k).flatMap(v =>
      if (v == "true") Some(true) else if (v == "false") Some(false) else None)
    // a count: a negative value keeps the default, a value above
    // Int.MaxValue clamps (as `limitOf` does)
    def count(k: String, default: Int): Int =
      num(k).filter(_ >= 0).map(v => math.min(v, Int.MaxValue.toLong).toInt).getOrElse(default)
    RibJson.RibParams(
      skip = count("skip", 0),
      limit = count("limit", 1000),
      maxDepth = count("maxdepth", 10),
      onlyActive = bool("onlyactive").getOrElse(false),
      changedAfterMs = num("changed_after"),
      changedBeforeMs = num("changed_before"),
      // engine extension beyond the reference surface: `after=<route_id>`
      // switches the page to keyset continuation (see RibParams.pageAfterId)
      pageAfterId = num("after"))
  }

  /** Unknown rib names dispatch to ipv4u (src/ribservice.rs:277). */
  def ribName(part: String): String =
    if (graft.model.Model.ribKinds.contains(part)) part else "ipv4u"

  /** `/api/...` router over the event log. Returns None for paths the
    * reference 404s (src/bgpsvc.rs:463-481). `state` is supplied by the
    * session adapter; `roas` is the operator-configured ROA table for
    * `/api/rpki` (absent → every route reports `not_found`, the RFC 6811
    * no-covering-ROA verdict). */
  def handle(events: DataFrame, path: String, state: SessionState = Established,
      roas: Option[DataFrame] = None): Option[String] = {
    val (p, qs) = path.indexOf('?') match {
      case -1 => (path, "")
      case i => (path.substring(0, i), path.substring(i + 1))
    }
    val parts = p.split('/').toSeq
    if (parts.length < 3 || parts(1) != "api") return None
    def limitOf: Int = {
      val q = parseQuery(qs)
      q.get("limit").flatMap(v =>
        try Some(java.lang.Long.parseLong(v))
        catch { case _: NumberFormatException => None })
        .map(l => math.min(math.max(l, 0L), Int.MaxValue.toLong).toInt)
        .getOrElse(1000)
    }
    def afterOf: Option[String] = parseQuery(qs).get("after")
    parts(2) match {
      case "ping" => Some(ping)
      // --- the security-report endpoints (round 17; engine extensions —
      // the reference's users run these scans by hand over /api/json):
      case "moas" => Some(moasJson(events, limitOf, afterOf))
      case "rpki" => Some(rpkiJson(events, roas, limitOf, afterOf))
      case "leaks" => Some(leaksJson(events, limitOf, afterOf))
      case "bogons" => Some(bogonsJson(events))
      case "state" => Some(state.render)
      case "statistics" => Some(Statistics.statisticsJson(events))
      case "sessions" => Some(sessionsJson(events))
      case "json" if parts.length >= 4 =>
        val q = parseQuery(qs)
        val rib = ribName(parts(3))
        Some(RibJson.response(events, rib, q.getOrElse("filter", ""), parseParams(q)))
      case "diff" =>
        val q = parseQuery(qs)
        def num(k: String, d: Long): Long = q.get(k).flatMap(v =>
          try Some(java.lang.Long.parseLong(v))
          catch { case _: NumberFormatException => None }).getOrElse(d)
        // user params degrade, never throw (the route posture everywhere
        // else): reversed instants swap, out-of-range limits clamp —
        // GraftServer's catch-all would otherwise drop the socket with
        // no HTTP response at all
        val (ta, tb) = (num("t1", 0L), num("t2", Long.MaxValue))
        val limit = math.min(math.max(num("limit", 100L), 0L),
          Int.MaxValue.toLong).toInt
        Some(diffJson(events, math.min(ta, tb), math.max(ta, tb),
          q.get("rib"), limit))
      case _ => None
    }
  }

  /** `/api/diff?t1=<ms>&t2=<ms>[&rib=<name>][&limit=<n>]` — the two-instant
    * RIB delta ([[RibViews.diff]]) as a JSON document: per-rib class
    * counts plus up to `limit` differing route keys in deterministic
    * order. ENGINE EXTENSION beyond the reference surface (the reference
    * has no delta endpoint — operators replay history client-side).
    * Unparseable/absent params keep their defaults, the reference's
    * param posture: t1=0 with t2=∞ books everything currently active as
    * `added`. Driver-side cost is bounded: ≤15 summary rows plus `limit`
    * item rows collect; the delta itself is the one-aggregation plan. */
  def diffJson(events: DataFrame, t1Ms: Long, t2Ms: Long,
      ribSel: Option[String], limit: Int): String = {
    val base = ribSel.map(r => events.where(col("rib") === ribName(r)))
      .getOrElse(events)
    // the summary and the item page are two actions over the same delta —
    // persist so the scan + per-ring aggregation runs ONCE per request
    // (the persisted set is only the DIFFERING rings, bounded by churn),
    // not once per action; released before returning
    val d = RibViews.diff(base, t1Ms, t2Ms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val summary = d.groupBy(col("rib")).agg(
        sum(when(col("change") === "added", 1L).otherwise(0L)).as("a"),
        sum(when(col("change") === "withdrawn", 1L).otherwise(0L)).as("w"),
        sum(when(col("change") === "changed", 1L).otherwise(0L)).as("c"))
        .orderBy(col("rib")).collect()
      val items = d.select(col("rib"), RibJson.itemKey.as("key"), col("change"))
        .orderBy(col("rib"), col("change"), col("key")).limit(limit).collect()
      def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
      val sumJson = summary.map { r =>
        s"""{"rib":"${r.getString(0)}","added":${r.getLong(1)},""" +
          s""""withdrawn":${r.getLong(2)},"changed":${r.getLong(3)}}"""
      }.mkString("[", ",", "]")
      val itemJson = items.map { r =>
        s"""{"rib":"${r.getString(0)}","key":"${esc(r.getString(1))}",""" +
          s""""change":"${r.getString(2)}"}"""
      }.mkString("[", ",", "]")
      s"""{"t1":$t1Ms,"t2":$t2Ms,"summary":$sumJson,"items":$itemJson}"""
    } finally {
      d.unpersist(blocking = false)
      ()
    }
  }

  // --- round-17 security endpoints: summary + bounded item page, the
  // diffJson posture (persist so the scan runs once per request; the
  // collects are summary-sized plus `limit` item rows) ------------------

  private def withPersisted[A](d: DataFrame)(f: DataFrame => A): A = {
    val p = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(p) finally { p.unpersist(blocking = false); () }
  }

  /** Keyset continuation for the security item pages (the `/api/json`
    * `after=` posture threaded through, VERDICT r17 ask #7): `after=`
    * carries the order-key tuple of the LAST row of the previous page,
    * values '|'-joined (each page emits it as `next_after` when full, so
    * a client walks `after=<next_after>` to any depth with O(limit)
    * result work per call — no offset skip-scan re-reading the whole
    * report). Token fields are compared as ONE struct, matching the
    * column-wise sort order. An unparseable/short token yields the first
    * page — the tolerant-params posture everywhere else. `longAt` marks
    * which token positions parse as longs (a malformed number voids the
    * token rather than throwing). */
  private def keysetCont(after: Option[String],
      ordCols: Seq[org.apache.spark.sql.Column], longAt: Set[Int])
      : org.apache.spark.sql.Column =
    after.flatMap { t =>
      val parts = t.split('|')
      if (parts.length != ordCols.length) None
      else {
        val lits = parts.toSeq.zipWithIndex.map { case (v, i) =>
          if (longAt(i))
            try Some(lit(java.lang.Long.parseLong(v)))
            catch { case _: NumberFormatException => None }
          else Some(lit(v))
        }
        if (lits.exists(_.isEmpty)) None
        else {
          // widen numeric key positions to long on the COLUMN side so an
          // INT column compares against the parsed long literal (order is
          // preserved under the widening; orderBy keeps the raw columns)
          val left = ordCols.zipWithIndex.map { case (c, i) =>
            if (longAt(i)) c.cast("long") else c }
          Some(struct(left: _*) > struct(lits.map(_.get): _*))
        }
      }
    }.getOrElse(lit(true))

  /** `next_after` field value: the '|'-joined order tuple of the last
    * page row when the page is full (more rows may follow), else null. */
  private def nextAfterJson(page: Array[org.apache.spark.sql.Row],
      limit: Int, keyOf: org.apache.spark.sql.Row => Seq[Any]): String =
    if (limit > 0 && page.length == limit)
      "\"" + esc(keyOf(page.last).map(String.valueOf).mkString("|")) + "\""
    else "null"

  /** `/api/moas[?limit=<n>][&after=<tok>]` — [[RibViews.moasPrefixes]] as
    * a JSON document: per-rib conflict counts plus up to `limit`
    * conflicting prefixes in deterministic (rib, prefix) order, with
    * keyset continuation via `after`/`next_after`. */
  def moasJson(events: DataFrame, limit: Int,
      after: Option[String] = None): String =
    withPersisted(RibViews.moasPrefixes(events)) { d =>
      val summary = d.groupBy(col("rib"))
        .agg(count(lit(1)).as("n")).orderBy(col("rib")).collect()
        .map(r => s"""{"rib":"${r.getString(0)}","conflicts":${r.getLong(1)}}""")
        .mkString("[", ",", "]")
      val ord = Seq(col("rib"), col("prefix_str"))
      val page = d.where(keysetCont(after, ord, Set.empty))
        .orderBy(ord: _*).limit(limit).collect()
      val items = page.map { r =>
          s"""{"rib":"${r.getString(0)}","prefix":"${esc(r.getString(1))}",""" +
            s""""n_origins":${r.getLong(2)},"n_routes":${r.getLong(3)},""" +
            s""""min_origin":${r.getLong(4)},"max_origin":${r.getLong(5)}}"""
        }.mkString("[", ",", "]")
      val na = nextAfterJson(page, limit,
        r => Seq(r.getString(0), r.getString(1)))
      s"""{"summary":$summary,"items":$items,"next_after":$na}"""
    }

  /** `/api/rpki[?limit=<n>]` — [[RibViews.rpkiValidate]] against the
    * configured ROA table: per-(rib, validity) counts plus up to `limit`
    * INVALID routes (the actionable page — valid/not_found rows stay in
    * the summary). No ROA table configured → an empty one, so every
    * route summarizes as `not_found` and the item page is empty. */
  def rpkiJson(events: DataFrame, roas: Option[DataFrame], limit: Int,
      after: Option[String] = None): String = {
    val roaTable = roas.getOrElse(
      events.sparkSession.range(0)
        .select(col("id").as("roa_ip"), col("id").as("roa_plen"),
          col("id").as("roa_maxlen"), col("id").as("roa_origin")))
    withPersisted(RibViews.rpkiValidate(events, roaTable)) { d =>
      val summary = d.groupBy(col("rib"), col("validity"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("rib"), col("validity")).collect()
        .map(r => s"""{"rib":"${r.getString(0)}","validity":"${r.getString(1)}",""" +
          s""""n_routes":${r.getLong(2)}}""")
        .mkString("[", ",", "]")
      val ord = Seq(col("rib"), col("prefix_str"), col("session_id"),
        col("path_id"))
      val page = d.where(col("validity").startsWith("invalid") &&
          keysetCont(after, ord, Set(2, 3)))
        .orderBy(ord: _*)
        .limit(limit).collect()
      val items = page.map { r =>
          def f(n: String) = r.get(r.fieldIndex(n))
          s"""{"rib":"${f("rib")}","prefix":"${esc(String.valueOf(f("prefix_str")))}",""" +
            s""""origin":${f("origin")},"validity":"${f("validity")}"}"""
        }.mkString("[", ",", "]")
      val na = nextAfterJson(page, limit, r => Seq(
        r.get(r.fieldIndex("rib")), r.get(r.fieldIndex("prefix_str")),
        r.get(r.fieldIndex("session_id")), r.get(r.fieldIndex("path_id"))))
      s"""{"summary":$summary,"items":$items,"next_after":$na}"""
    }
  }

  /** `/api/leaks[?limit=<n>]` — [[RibViews.routeLeaks]] with the
    * relationship table inferred from the same event log (the standing
    * deployment refreshes the inference periodically; this endpoint is
    * the self-contained form): per-rib leak counts plus up to `limit`
    * leaked paths. */
  def leaksJson(events: DataFrame, limit: Int,
      after: Option[String] = None): String =
    withPersisted(RibViews.routeLeaks(events)) { d =>
      val summary = d.groupBy(col("rib"))
        .agg(count(lit(1)).as("n")).orderBy(col("rib")).collect()
        .map(r => s"""{"rib":"${r.getString(0)}","leaks":${r.getLong(1)}}""")
        .mkString("[", ",", "]")
      val ord = Seq(col("rib"), col("event_id"))
      val page = d.where(keysetCont(after, ord, Set(1)))
        .orderBy(ord: _*).limit(limit)
        .collect()
      val items = page.map { r =>
          def L(n: String) = r.getLong(r.fieldIndex(n))
          s"""{"event_id":${L("event_id")},"rib":"${r.getString(r.fieldIndex("rib"))}",""" +
            s""""leaker_as":${L("leaker_as")},"leak_pos":${L("leak_pos")},""" +
            s""""first_down":${L("first_down")},"unknown_edges":${L("unknown_edges")}}"""
        }.mkString("[", ",", "]")
      val na = nextAfterJson(page, limit, r => Seq(
        r.getString(r.fieldIndex("rib")), r.getLong(r.fieldIndex("event_id"))))
      s"""{"summary":$summary,"items":$items,"next_after":$na}"""
    }

  /** `/api/bogons` — [[RibViews.bogonAudit]] + [[RibViews.bogonNexthops]]
    * over the standard IANA range set, both already summary-shaped
    * (≤ |ribs| × |classes| rows — no limit needed). */
  def bogonsJson(events: DataFrame): String = {
    val dim = RibViews.bogonDim(events.sparkSession)
    val routes = RibViews.bogonAudit(events, dim)
      .orderBy(col("rib"), col("bogon_class")).collect()
      .map(r => s"""{"rib":"${r.getString(0)}","class":"${r.getString(1)}",""" +
        s""""n_routes":${r.getLong(2)},"n_prefixes":${r.getLong(3)}}""")
      .mkString("[", ",", "]")
    val nexthops = RibViews.bogonNexthops(events, dim)
      .orderBy(col("rib"), col("bogon_class")).collect()
      .map(r => s"""{"rib":"${r.getString(0)}","class":"${r.getString(1)}",""" +
        s""""n_routes":${r.getLong(2)},"n_nexthops":${r.getLong(3)}}""")
      .mkString("[", ",", "]")
    s"""{"routes":$routes,"nexthops":$nexthops}"""
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** The handshake-registered session registry as a /api/sessions document
    * — the wire-level face: the reference serializes its peer map of
    * `BgpSessionDesc` pairs, i.e. both sides' OPEN parameters
    * (src/bgpsvc.rs:436-462). Input is `BgpSession.sessionRegistry` output
    * (a bounded dimension; the collect is O(sessions)). */
  def wireSessionsJson(registry: DataFrame): String = {
    val rows = registry.orderBy(col("session_id")).collect()
    rows.map { r =>
      def L(n: String) = r.getLong(r.fieldIndex(n))
      def I(n: String) = r.getInt(r.fieldIndex(n))
      s"""{"session_id":${L("session_id")},"rd":"${L("rdh")}:${L("rdl")}",""" +
        s""""peer_as":${L("peer_as")},"local_as":${L("local_asn")},""" +
        s""""hold_time":${I("remote_hold")},"router_id":${L("remote_router_id")},""" +
        s""""caps_matched":${I("n_caps_matched")}}"""
    }.mkString("[", ",", "]")
  }

  /** Session registry document (reference serializes its session map,
    * src/bgpsvc.rs:436-462; engine-canonical shape from the log). */
  def sessionsJson(events: DataFrame): String = {
    val rows = events.groupBy(col("session_id"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("rib")).as("n_ribs"),
        max(unix_millis(col("ts"))).as("last_change"))
      .orderBy(col("session_id")).collect()
    rows.map(r =>
      s"""{"session_id":${r.getInt(0)},"n_events":${r.getLong(1)},""" +
        s""""n_ribs":${r.getLong(2)},"last_change":${r.getLong(3)}}""")
      .mkString("[", ",", "]")
  }
}
