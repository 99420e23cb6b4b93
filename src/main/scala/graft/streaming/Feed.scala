package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.filter.FilterCompiler

/** Running per-session rollup maintained by [[Feed.sessionTracker]] —
  * the streaming-state analog of the session registry the reference serves
  * from its peer map (src/bgpsvc.rs:164-173 state/sessions endpoints). */
case class SessionLive(session_id: Int, n_events: Long, last_ts_ms: Long,
    last_event_id: Long, last_rib: String)

/** One decoded BMP frame as the session gate sees it (key fields from the
  * per-peer header + the embedded framed BGP message bytes). */
case class BmpGateEvent(msg_type: String, rdh: Long, rdl: Long,
    addr_hi: Long, addr_lo: Long, ts_ms: Long, update: Array[Byte])

/** One origin-AS handoff alert emitted by [[Feed.originAlertStream]]:
  * ring `ring_id` (`rib`/`prefix_str` for display) moved from `from_as`
  * to `to_as` at `ts_ms`. */
case class OriginAlert(ring_id: Long, rib: String, prefix_str: String,
    ts_ms: Long, from_as: Long, to_as: Long)

/** One MOAS alert emitted by [[Feed.moasAlertStream]]: `prefix_str` in
  * `rib` gained a NEW conflicting origin — after event `event_id` the
  * prefix's live rings carry `n_origins` distinct origins (≥ 2), the
  * arriving one being `origin`. */
case class MoasAlert(rib: String, prefix_str: String, ts_ms: Long,
    event_id: Long, origin: Long, n_origins: Long)

/** One RPKI alert emitted by [[Feed.rpkiAlertStream]]: active v4
  * announcement `event_id` for `rib`/`prefix_str` with `origin` judged
  * `invalid_origin` or `invalid_length` against the deployed ROA set. */
case class RpkiAlert(event_id: Long, rib: String, prefix_str: String,
    ts_ms: Long, origin: Long, validity: String)

/** One bogon alert emitted by [[Feed.bogonAlertStream]]: active
  * announcement `event_id` for `rib`/`prefix_str` whose NLRI base
  * address falls in special-purpose range `bogon_class`. */
case class BogonAlert(event_id: Long, rib: String, prefix_str: String,
    ts_ms: Long, bogon_class: String)

/** One COMPLETED update burst emitted by [[Feed.burstStream]] for
  * (rib, prefix_str): burst index `burst` within the key, first event
  * at `start_ms`, `n_events` updates, `n_flips` in-burst
  * announce/withdraw oscillations, `duration_ms` = last − first. */
case class BurstReport(rib: String, prefix_str: String, burst: Long,
    start_ms: Long, n_events: Long, n_flips: Long, duration_ms: Long)

/** Per-(rib, prefix) open-burst state held by [[Feed.burstStream]]. */
case class BurstState(burstIdx: Long, startMs: Long, lastMs: Long,
    nEvents: Long, nFlips: Long, lastActive: Boolean)

/** One flap-damping transition emitted by [[Feed.flapDampStream]]: ring
  * `ring_id` crossed the suppress threshold (`kind = "suppress"`) or
  * decayed back under the reuse threshold (`kind = "reuse"`) at `ts_ms`,
  * with the penalty value after the triggering event. */
case class FlapAlert(ring_id: Long, rib: String, prefix_str: String,
    ts_ms: Long, kind: String, penalty: Long)

/** Per-ring damping state held by [[Feed.flapDampStream]]: accumulated
  * penalty, the event time it was last valued at, the last seen
  * active flag (-1 = none yet) and whether the ring is suppressed. */
case class FlapState(penalty: Long, last_ts_ms: Long, last_active: Int,
    suppressed: Boolean)

/** Structured Streaming surface of the engine (SURVEY.md §2.6 ST1-ST5).
  *
  * The reference runs a tokio broadcast bus (capacity 2, laggards dropped,
  * src/bgprib.rs:824-839) feeding WebSocket subscribers, a bounded mpsc
  * ingest queue (src/bgpsvc.rs:227), and periodic CBOR snapshots. Here the
  * event log IS the bus: ingest appends Parquet through a checkpointed
  * streaming query (ordering + backpressure from micro-batch triggers;
  * durability from checkpoints — ST3/ST5), and each subscriber is a
  * streaming query over the same schema with its compiled filter applied
  * (ST1/ST2 — note the reference parses but never applies the subscriber
  * filter, src/subscriber.rs:58-137; we apply it, SURVEY §7.5 quirk 6).
  */
object Feed {

  /** ST3: ingest pipeline — normalize a raw event stream (any streaming
    * DataFrame with the `events` schema) into route events and append to
    * the Parquet event log with a checkpoint. */
  def ingest(rawEvents: DataFrame, logDir: String, checkpointDir: String,
      triggerMs: Long = 1000): StreamingQuery =
    graft.sources.RouteEventGen.fromEvents(rawEvents)
      .writeStream
      .format("parquet")
      .option("path", logDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .outputMode("append")
      .start()

  /** ST1/ST2: per-client subscription — rib gate + the compiled filter
    * predicate, pushed via foreachBatch (the transport callback stands in
    * for the WebSocket frame write). */
  def subscribe(eventStream: DataFrame, rib: String, filter: String)(
      push: Iterator[Row] => Unit): DataStreamWriter[Row] = {
    val pred = col("rib") === rib && FilterCompiler.accept(filter)
    eventStream.where(pred)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        // one partition on the driver at a time — a burst batch (initial
        // RIB dump against a broad filter) must not materialize whole
        import scala.jdk.CollectionConverters._
        push(batch.toLocalIterator().asScala)
      }
  }

  /** The outbound WebSocket frame per event (reference EventUpdate /
    * EventWithdraw custom serializers, src/subscriber.rs:24-57): updates
    * carry `attrs`, withdraws carry only `sessionid` + `addrs` — exactly
    * the reference's two frame shapes, rendered with codegen'd `to_json`
    * over the event columns (null struct fields are omitted, so plain-rib
    * frames carry no `rd`). */
  def eventFrame: org.apache.spark.sql.Column = {
    val addrs = struct(col("rib").as("rib"),
      col("prefix_str").as("prefix"), col("rd").as("rd"))
    val sid = col("session_id").as("sessionid")
    when(col("active"),
      to_json(struct(sid, col("attrs").as("attrs"), addrs.as("addrs"))))
      .otherwise(to_json(struct(sid, addrs.as("addrs"))))
  }

  /** ST2 with the wire face: the subscription feed as ready-to-send
    * text frames — the WebSocket adapter writes each string verbatim. */
  def subscribeJson(eventStream: DataFrame, rib: String, filter: String)(
      push: Iterator[String] => Unit): DataStreamWriter[Row] =
    subscribe(eventStream.withColumn("__frame", eventFrame), rib, filter) {
      rows => push(rows.map(r => r.getString(r.fieldIndex("__frame"))))
    }

  /** ST2 at fan-out scale (VERDICT r17 ask #6): ONE streaming query
    * serving every WebSocket subscriber. [[subscribe]] runs a
    * checkpointed streaming query per client — right for a handful of
    * dashboards, but at hundreds of subscribers that is hundreds of
    * queries re-reading the same log. A dispatcher owns the single
    * query; clients [[FeedDispatcher.attach]]/detach (rib, filter)
    * subscriptions at ANY moment, and each micro-batch evaluates every
    * subscription in one codegen'd pass — a per-row array of matching
    * client ids built from the same compiled predicates `subscribe`
    * uses, null-compacted and exploded, so the per-batch cost is one
    * scan plus a slim (frame, client) stream to the driver, independent
    * of subscriber count. Frames route to each client's sink row by row
    * (no per-client materialization — the burst-batch discipline of
    * [[subscribe]]); a client that detaches mid-batch just stops
    * receiving. A new client sees events from the first batch after it
    * attaches — the reference's registration-point semantics
    * (src/subscriber.rs:58-137). */
  final class FeedDispatcher {
    private val clients = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, (org.apache.spark.sql.Column, String => Unit)]()
    private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

    /** Register a subscription; the returned handle detaches it. */
    def attach(rib: String, filter: String)(push: String => Unit)
        : AutoCloseable = {
      val id = java.lang.Long.valueOf(nextId.getAndIncrement())
      val pred = col("rib") === rib && FilterCompiler.accept(filter)
      clients.put(id, (pred, push))
      () => { clients.remove(id); () }
    }

    /** Live subscription count (deployment wiring + specs). */
    def clientCount: Int = clients.size()

    /** The shared query over the event stream — call once, `start()` it
      * with the caller's checkpoint options. */
    def writer(eventStream: DataFrame): DataStreamWriter[Row] = {
      val framed = eventStream.withColumn("__frame", eventFrame)
      framed.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
          import scala.jdk.CollectionConverters._
          // snapshot the registry once per batch: attach/detach during
          // the batch takes effect next batch (detach also guards below)
          val snap = clients.entrySet().iterator().asScala
            .map(e => e.getKey.longValue() -> e.getValue).toVector
          if (snap.nonEmpty) {
            val cids = array(snap.map { case (id, (pred, _)) =>
              when(pred, lit(id)) }: _*)
            val routed = batch.select(col("__frame"),
              explode(filter(cids, x => x.isNotNull)).as("__cid"))
            routed.toLocalIterator().asScala.foreach { r =>
              val sink = clients.get(java.lang.Long.valueOf(r.getLong(1)))
              if (sink != null) sink._2(r.getString(0))
            }
          }
        }
    }
  }

  /** The inbound WebSocket command (reference ClientCmd,
    * src/subscriber.rs:15-23): `{"Subscribe":{"rib":"..","filter":".."}}`
    * → (rib, filter). Malformed input yields None — the reference warns
    * and keeps the connection (src/subscriber.rs:119-121). A real JSON
    * parse, not a regex: the rib/filter keys must live INSIDE the
    * Subscribe object, and filter values containing escapes or
    * `"rib"`-shaped substrings parse exactly. */
  def parseClientCmd(text: String): Option[(String, String)] =
    try {
      val root = cmdMapper.readTree(text)
      val sub = if (root == null) null else root.get("Subscribe")
      if (sub == null || !sub.isObject) None
      else {
        val rib = sub.get("rib"); val f = sub.get("filter")
        if (rib != null && rib.isTextual && f != null && f.isTextual)
          Some((rib.asText, f.asText))
        else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // Jackson rides on Spark's own classpath — no extra dependency
  private lazy val cmdMapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** ST4: the periodic retention/compaction job — rewrite the log keeping
    * the newest `historyDepth` records per ring, OnlyDiffer-deduped (the
    * reference's purge, src/bgprib.rs:875-902). Batch job on a schedule.
    *
    * `snapshotDir`: when set, each compaction tick ALSO exports the
    * compacted log as a CBOR snapshot in the reference's own on-disk
    * format (Snapshot.write) — mirroring the reference's `snapshot_every`
    * timer (src/config.rs:476-485), which couples its purge cadence to the
    * periodic CBOR dump. A legacy bgpexplorer instance can load the emitted
    * directory directly, so the streaming engine can feed one end-to-end. */
  def compact(spark: SparkSession, logDir: String, outDir: String,
      historyDepth: Int = 10, bucketTable: Option[String] = None,
      nBuckets: Int = 8, snapshotDir: Option[String] = None): Unit = {
    val log = spark.read.parquet(logDir)
    val kept = graft.operators.RibViews.retained(
      graft.operators.RibViews.onlyDiffer(log), historyDepth)
    bucketTable match {
      // steady-state layout: compaction is where rows migrate into the
      // bucketed table (SCALE.md) — ring-keyed views over it plan
      // exchange-free while the hot append path stays unbucketed
      case Some(t) =>
        // a log without ring_id must fail loudly, not silently write a plain
        // (unregistered, exchange-paying) directory the caller thinks is
        // the bucketed steady-state table
        require(log.columns.contains("ring_id"),
          s"compact: bucketTable=$t requires a ring_id column in the log at " +
            s"$logDir (found: ${log.columns.mkString(", ")})")
        kept.write.bucketBy(nBuckets, "ring_id").sortBy("ring_id", "ts")
          .option("path", outDir).mode("overwrite").saveAsTable(t)
      case None =>
        kept.write.mode("overwrite").parquet(outDir)
    }
    // export AFTER the compacted write from the same `kept` plan: the
    // snapshot sees exactly the retained rows, and a crash between the two
    // writes leaves a stale-but-loadable snapshot, never a torn one
    // (Snapshot.write stages per-shard files then moves them into place)
    snapshotDir.foreach(d => graft.sources.Snapshot.write(kept, d))
  }

  /** ST5: recover the latest RIB state from the durable log — the snapshot
    * load path is just a read (checkpoint + parquet are the durability). */
  def restoreCurrent(spark: SparkSession, logDir: String): DataFrame =
    graft.operators.RibViews.current(spark.read.parquet(logDir))

  /** ST6: windowed live statistics — per-(rib, event-time window) arrival
    * counts and approximate distinct prefixes, with a watermark bounding
    * the aggregation state (late events beyond `watermark` are dropped,
    * closed windows are evicted — what keeps an unbounded stream's state
    * finite on a long-running cluster). The streaming analog of the
    * /api/statistics rollup (Statistics.scala); HLL partials merge
    * order-independently, so streamed results equal the batch rollup. */
  def liveStats(eventStream: DataFrame, windowDur: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    eventStream
      .withWatermark("ts", watermark)
      .groupBy(col("rib"), window(col("ts"), windowDur).as("w"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("prefix_str")).as("n_prefixes"))

  /** ST9: the BMP per-peer dispatch as STREAMING custom state — the live
    * form of `BgpSession.dispatchUpdates`. The reference keeps a `sessids`
    * map per BMP connection (src/bmppeer.rs:12): a PeerUp registers the
    * (RD, peer address) key (lines 32-46); RouteMonitoring frames pass only
    * if the key is registered, otherwise they DROP (lines 48-58). Here the
    * map is per-key GroupState over a stream of decoded BMP frames
    * (`BgpWire.decodeBmpFrames`), and `flatMapGroupsWithState` is the right
    * stateful form because one input row emits 0 or 1 rows depending on the
    * key's state. Reference quirks kept: PeerDown does NOT unregister (the
    * reference's catch-all arm only logs it, line 61), so state lives until
    * restart — NoTimeout mirrors that; a production deployment would set an
    * idle timeout here. Within a micro-batch, rows process in event-time
    * order (PeerUp wins ties), so admission is deterministic, not
    * batch-iterator-order dependent. */
  def bmpSessionGate(bmp: DataFrame): Dataset[BmpGateEvent] = {
    import bmp.sparkSession.implicits._
    // header-only RouteMonitoring frames (null payload) drop here, exactly
    // like the batch dispatchUpdates — a registered key must not admit a
    // frame that NPEs the downstream decodeUpdate
    bmp.where(col("msg_type").isin("peer_up", "route_monitoring") &&
        (col("msg_type") === "peer_up" || col("update").isNotNull))
      .select(col("msg_type"), col("peer_rd.rdh").as("rdh"),
        col("peer_rd.rdl").as("rdl"), col("peer_addr.ip_hi").as("addr_hi"),
        col("peer_addr.ip_lo").as("addr_lo"),
        unix_millis(col("ts")).as("ts_ms"), col("update"))
      .as[BmpGateEvent]
      .groupByKey(e => (e.rdh, e.rdl, e.addr_hi, e.addr_lo))
      .flatMapGroupsWithState[Boolean, BmpGateEvent](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        var registered = state.getOption.getOrElse(false)
        val out = Vector.newBuilder[BmpGateEvent]
        rows.toVector.sortBy(e => (e.ts_ms, e.msg_type)).foreach { e =>
          if (e.msg_type == "peer_up") registered = true
          else if (registered) out += e
        }
        if (registered) state.update(true)
        out.result().iterator
      }
  }

  /** ST12 (round 12): streaming origin-AS handoff alerts — the LIVE form
    * of `q_rib_origin_changes` (the looking-glass hijack/move signal).
    * Per history ring, GroupState holds the last seen active origin (ONE
    * long per ring); an arriving active event whose path origin differs
    * emits an alert row carrying both ASNs. `flatMapGroupsWithState`
    * because one input row emits 0 or 1 alerts depending on the key's
    * state (the ST9 shape). Within a micro-batch, rows process in
    * (ts, event_id) order, so a batch carrying several handoffs emits
    * every transition deterministically, not iterator-order noise.
    * Events without a usable path (null/empty as_list) pass the state
    * untouched — an embedder-failure row must not book a handoff from a
    * sentinel. NoTimeout keeps rings forever like the reference's peer
    * maps; a production deployment would tie an idle timeout to ring
    * retention. */
  def originAlertStream(eventStream: DataFrame): Dataset[OriginAlert] = {
    import eventStream.sparkSession.implicits._
    eventStream.where(col("active"))
      .select(col("ring_id"), col("rib"),
        coalesce(col("prefix_str"), lit("")).as("prefix_str"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        // size-guarded origin (RibViews.pathOrigin): a bare element_at
        // throws on an EMPTY as_list under ANSI mode — a legal frame
        // must never crash the stream
        graft.operators.RibViews.pathOrigin.as("origin"))
      .where(col("origin").isNotNull)
      .as[(Long, String, String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, OriginAlert](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (ring, rows, state) =>
        var last = state.getOption.getOrElse(Long.MinValue)
        val out = Vector.newBuilder[OriginAlert]
        rows.toVector.sortBy(r => (r._4, r._5)).foreach { r =>
          if (last != Long.MinValue && r._6 != last)
            out += OriginAlert(ring, r._2, r._3, r._4, last, r._6)
          last = r._6
        }
        state.update(last)
        out.result().iterator
      }
  }

  /** ST16 (round 16): streaming MOAS alerts — the LIVE form of
    * `q_rib_moas` (the hijack alarm: a second origin AS appears for a
    * prefix that already has a live one). Keyed by (rib, prefix); the
    * GroupState holds the CURRENT origin per live ring (a small map —
    * bounded by peers × paths announcing that one prefix), maintained
    * from the feed: an active event books its ring's origin, a withdraw
    * evicts the ring. An alert emits exactly when the prefix's distinct-
    * origin count INCREASES to ≥ 2 — each new conflicting origin pages
    * once; steady-state re-announcements of an existing conflict stay
    * silent. Events without a usable path leave the state untouched
    * (ST12 discipline — an attribute-parse failure must not book or
    * evict an origin). Rows sort (ts, event_id) within a batch;
    * NoTimeout keys live as long as ring retention. */
  def moasAlertStream(eventStream: DataFrame): Dataset[MoasAlert] = {
    import eventStream.sparkSession.implicits._
    eventStream
      .where(col("prefix_str").isNotNull)
      .select(col("rib"), col("prefix_str"), col("ring_id"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        col("active").cast("int").as("act"),
        coalesce(graft.operators.RibViews.pathOrigin.cast("long"),
          lit(Long.MinValue)).as("origin"))
      .as[(String, String, Long, Long, Long, Int, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Map[Long, Long], MoasAlert](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var m = state.getOption.getOrElse(Map.empty[Long, Long])
        val out = Vector.newBuilder[MoasAlert]
        rows.toVector.sortBy(r => (r._4, r._5)).foreach { r =>
          val before = m.values.toSet.size
          if (r._6 == 1 && r._7 != Long.MinValue) m += (r._3 -> r._7)
          else if (r._6 == 0) m -= r._3
          val after = m.values.toSet.size
          if (after >= 2 && after > before)
            out += MoasAlert(key._1, key._2, r._4, r._5, r._7, after.toLong)
        }
        state.update(m)
        out.result().iterator
      }
  }

  /** ST15 (round 16): streaming RPKI invalid-announcement alerts — the
    * LIVE form of `q_rib_rpki` (the BGPalerter/routinator workflow:
    * page when someone announces your space with the wrong origin or an
    * over-specific length). STATELESS by construction: the ROA set
    * rides the plan as a literal array
    * ([[graft.operators.RibViews.rpkiVerdictFor]]) and every ACTIVE v4
    * announcement gets its RFC 6811 verdict in the scan — no GroupState,
    * no watermark, no aggregation mode constraints; a refreshed ROA dump
    * redeploys the query (full-table dumps stay on the batch
    * rpkiValidate join). Only `invalid_*` verdicts emit — `not_found`
    * is the internet's default state and would flood the sink. Events
    * without a usable path never alert (no sentinel-origin rows). */
  def rpkiAlertStream(eventStream: DataFrame,
      roas: Seq[(Long, Long, Long, Long)]): Dataset[RpkiAlert] = {
    import eventStream.sparkSession.implicits._
    val origin = graft.operators.RibViews.pathOrigin
    eventStream
      .where(col("active") && col("prefix").isNotNull &&
        col("prefix.version") === 4 &&
        col("prefix.prefix_len").between(1, 32))
      .select(col("event_id"), col("rib"),
        coalesce(col("prefix_str"), lit("")).as("prefix_str"),
        unix_millis(col("ts")).as("ts_ms"),
        origin.cast("long").as("origin"),
        graft.operators.RibViews.rpkiVerdictFor(col("prefix.ip_lo"),
          col("prefix.prefix_len").cast("long"), origin, roas)
          .as("validity"))
      .where(col("origin").isNotNull &&
        col("validity").startsWith("invalid"))
      .as[RpkiAlert]
  }

  /** ST18 — live convergence watcher, the streaming twin of
    * [[graft.operators.RibViews.updateBursts]] (the flapDamp
    * batch/stream twin discipline): per (rib, prefix), GroupState holds
    * the ONE open burst (constant per key — index, start, last, counts,
    * last flag); an arriving event either extends it (gap ≤ `gapMs`,
    * counting in-burst flips exactly like the batch window) or CLOSES it
    * — the completed burst emits and a fresh one opens. By construction
    * a key's final burst is still open when the stream stops, so the
    * emitted set is the batch report minus each key's last burst
    * (flushing it early would need an event-time timeout and would
    * publish a burst that might still grow — a convergence report for an
    * unconverged burst is the one wrong answer this operator must never
    * give).
    *
    * Arrival order: events sort by (ts, event_id) WITHIN a micro-batch;
    * across batches the stream assumes in-order arrival per key (the
    * ST12 chunked-staging discipline, as the flapDamp family documents).
    * A late cross-batch event (ts < the open burst's lastMs) is folded
    * into the open burst with `lastMs` CLAMPED to max(lastMs, ts), so a
    * straggler can never shrink the burst's duration or un-due a
    * gap-split. */
  def burstStream(eventStream: DataFrame,
      gapMs: Long = 86400000L): Dataset[BurstReport] = {
    import eventStream.sparkSession.implicits._
    eventStream
      .where(col("prefix_str").isNotNull)
      .select(col("rib"), col("prefix_str"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        col("active").cast("int").as("act"))
      .as[(String, String, Long, Long, Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[BurstState, BurstReport](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var st = state.getOption.orNull
        val out = Vector.newBuilder[BurstReport]
        rows.toVector.sortBy(r => (r._3, r._4)).foreach { r =>
          val act = r._5 == 1
          if (st == null) st = BurstState(1L, r._3, r._3, 1L, 0L, act)
          else if (r._3 - st.lastMs > gapMs) {
            out += BurstReport(key._1, key._2, st.burstIdx, st.startMs,
              st.nEvents, st.nFlips, st.lastMs - st.startMs)
            st = BurstState(st.burstIdx + 1, r._3, r._3, 1L, 0L, act)
          } else st = BurstState(st.burstIdx, st.startMs,
            math.max(st.lastMs, r._3),
            st.nEvents + 1L,
            st.nFlips + (if (act != st.lastActive) 1L else 0L), act)
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** ST17 — live bogon/martian gate: every ACTIVE announcement whose
    * NLRI base address falls in an IANA special-purpose range emits an
    * alert as it arrives (the hygiene tripwire a looking glass runs on
    * its transit feeds — RFC 1918 / documentation / reserved space on a
    * session is a config leak the operator wants paged on, not
    * discovered in tomorrow's [[graft.operators.RibViews.bogonAudit]]
    * report). STATELESS by construction, same discipline as
    * [[rpkiAlertStream]]: the 21-row range set rides the plan as a
    * literal array ([[graft.operators.RibViews.bogonClassFor]]), the
    * containment check is one array HOF in the scan — no GroupState, no
    * watermark; `clean` announcements never emit. Custom/team bogon
    * feeds beyond literal-array size stay on the batch broadcast-join
    * audit. */
  def bogonAlertStream(eventStream: DataFrame): Dataset[BogonAlert] = {
    import eventStream.sparkSession.implicits._
    val ver = col("prefix.version").cast("int")
    val addr = when(ver === 4, col("prefix.ip_lo"))
      .otherwise(col("prefix.ip_hi"))
    eventStream
      .where(col("active") && col("prefix").isNotNull &&
        col("prefix_str").isNotNull)
      .select(col("event_id"), col("rib"), col("prefix_str"),
        unix_millis(col("ts")).as("ts_ms"),
        graft.operators.RibViews.bogonClassFor(ver, addr)
          .as("bogon_class"))
      .where(col("bogon_class") =!= "clean")
      .as[BogonAlert]
  }

  /** ST14 (round 12): streaming route-flap damping — the RFC 2439 shape
    * (penalty per activity transition, exponential decay, suppress /
    * reuse thresholds) as a stateful operator over the live feed; the
    * batch flap view (`q_rib_flaps`) counts transitions after the fact,
    * this damps them as they happen. Per ring, GroupState holds ONE
    * small [[FlapState]]; each event first decays the penalty by
    * integer halvings of the elapsed event time (`penalty >>
    * elapsed/halfLifeMs` — exact, engine-portable, no float e^-λt), then
    * books `penaltyPerFlap` when the active flag flipped, then emits a
    * transition row when the ring crosses `suppressAt` upward or falls
    * below `reuseBelow`. Decay is EVENT-DRIVEN (valued lazily at the
    * next arrival): a silent suppressed ring stays suppressed until it
    * speaks again — the operator analog of a router's reuse timer tick
    * folded into arrival processing; deterministic because the decayed
    * value depends only on event times, never on wall clock or batch
    * boundaries. Rows sort by (ts, event_id) within a batch (ST12
    * discipline) so multi-flap batches emit every crossing
    * deterministically. NoTimeout: ring lifetime = ring retention. */
  def flapDampStream(eventStream: DataFrame, penaltyPerFlap: Long = 1000L,
      suppressAt: Long = 3000L, reuseBelow: Long = 1000L,
      halfLifeMs: Long = 3600000L): Dataset[FlapAlert] = {
    require(penaltyPerFlap > 0 && suppressAt > reuseBelow && reuseBelow > 0,
      s"need penaltyPerFlap > 0 and suppressAt > reuseBelow > 0: " +
        s"$penaltyPerFlap/$suppressAt/$reuseBelow")
    require(halfLifeMs > 0, s"halfLifeMs must be positive: $halfLifeMs")
    import eventStream.sparkSession.implicits._
    eventStream
      .select(col("ring_id"), col("rib"),
        coalesce(col("prefix_str"), lit("")).as("prefix_str"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"), col("active"))
      .as[(Long, String, String, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FlapState, FlapAlert](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (ring, rows, state) =>
        var st = state.getOption.getOrElse(FlapState(0L, Long.MinValue, -1, false))
        val out = Vector.newBuilder[FlapAlert]
        rows.toVector.sortBy(r => (r._4, r._5)).foreach { r =>
          val (next, alert) = flapStep(st, ring, r._2, r._3, r._4,
            if (r._6) 1 else 0, penaltyPerFlap, suppressAt, reuseBelow,
            halfLifeMs)
          st = next
          alert.foreach(out += _)
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** One damping transition: decay the penalty by integer halvings of the
    * elapsed event time, book a flap if the active flag flipped, cross the
    * suppress/reuse thresholds. Shared VERBATIM by [[flapDampStream]] and
    * the batch twin [[flapDamp]], so stream/batch parity holds by
    * construction — there is exactly one implementation of the recurrence
    * (the penalty fold is not prefix-decomposable: floor-halving does not
    * distribute over the flap additions, so no window/cumsum form exists). */
  private[graft] def flapStep(st: FlapState, ring: Long, rib: String,
      prefix: String, tsMs: Long, active: Int, penaltyPerFlap: Long,
      suppressAt: Long, reuseBelow: Long, halfLifeMs: Long)
      : (FlapState, Option[FlapAlert]) = {
    // decay to this event's time (monotone per ring by sort order;
    // a clock-skewed earlier ts decays nothing)
    val elapsed = if (st.last_ts_ms == Long.MinValue) 0L
      else math.max(0L, tsMs - st.last_ts_ms)
    val halvings = math.min(elapsed / halfLifeMs, 62L)
    var penalty = st.penalty >> halvings
    if (st.last_active >= 0 && st.last_active != active)
      penalty += penaltyPerFlap
    val suppressed =
      if (!st.suppressed && penalty >= suppressAt) true
      else if (st.suppressed && penalty < reuseBelow) false
      else st.suppressed
    val alert =
      if (suppressed != st.suppressed)
        Some(FlapAlert(ring, rib, prefix, tsMs,
          if (suppressed) "suppress" else "reuse", penalty))
      else None
    (FlapState(penalty, tsMs, active, suppressed), alert)
  }

  /** Batch twin of [[flapDampStream]]: replay the full event log per ring
    * in (ts, event_id) order through the SAME [[flapStep]] recurrence and
    * emit every suppress/reuse crossing — the retrospective flap-damping
    * audit ("which rings would RFC 2439 have suppressed, and when") over
    * a parquet history, DuckDB-oracle-checkable because the fold is pure
    * integer halvings.
    *
    * Shape: one exchange on ring_id, then a per-ring sorted fold inside
    * `flatMapGroups` — the typed fold is the right primitive here because
    * the recurrence is sequential and non-decomposable (floor-halving
    * does not distribute over addition, so no prefix-sum/window form is
    * exact). Per-group memory is one ring's history — bounded by ring
    * retention, the same bound the streaming state store relies on —
    * and rings distribute across executors, so the fold parallelizes to
    * |rings|, never a global sort. */
  def flapDamp(events: DataFrame, penaltyPerFlap: Long = 1000L,
      suppressAt: Long = 3000L, reuseBelow: Long = 1000L,
      halfLifeMs: Long = 3600000L): Dataset[FlapAlert] = {
    require(penaltyPerFlap > 0 && suppressAt > reuseBelow && reuseBelow > 0,
      s"need penaltyPerFlap > 0 and suppressAt > reuseBelow > 0: " +
        s"$penaltyPerFlap/$suppressAt/$reuseBelow")
    require(halfLifeMs > 0, s"halfLifeMs must be positive: $halfLifeMs")
    import events.sparkSession.implicits._
    events
      .select(col("ring_id"), col("rib"),
        coalesce(col("prefix_str"), lit("")).as("prefix_str"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"), col("active"))
      .as[(Long, String, String, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (ring, rows) =>
        var st = FlapState(0L, Long.MinValue, -1, false)
        val out = Vector.newBuilder[FlapAlert]
        rows.toVector.sortBy(r => (r._4, r._5)).foreach { r =>
          val (next, alert) = flapStep(st, ring, r._2, r._3, r._4,
            if (r._6) 1 else 0, penaltyPerFlap, suppressAt, reuseBelow,
            halfLifeMs)
          st = next
          alert.foreach(out += _)
        }
        out.result().iterator
      }
  }

  /** ST7: per-session running state via `mapGroupsWithState` — the custom-
    * state form for semantics windows/aggs can't express: each session's
    * event count and latest (ts, event_id)-ordered event, updated every
    * micro-batch and kept in the state store across restarts. Stands in
    * for the reference's peer FSM bookkeeping (ride-along state the bus
    * consumers read, src/bgpsvc.rs:164-173). Deterministic: "latest" ties
    * break on event_id, not batch iterator order. */
  def sessionTracker(eventStream: DataFrame): Dataset[SessionLive] = {
    import eventStream.sparkSession.implicits._
    eventStream
      .select(col("session_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("rib"))
      .as[(Int, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionLive, SessionLive](GroupStateTimeout.NoTimeout) {
        (sid, rows, state) =>
          val prev = state.getOption
            .getOrElse(SessionLive(sid, 0L, Long.MinValue, Long.MinValue, ""))
          var n = prev.n_events
          var ts = prev.last_ts_ms; var eid = prev.last_event_id
          var rib = prev.last_rib
          rows.foreach { r =>
            n += 1
            if (r._2 > ts || (r._2 == ts && r._3 > eid)) {
              ts = r._2; eid = r._3; rib = r._4
            }
          }
          val next = SessionLive(sid, n, ts, eid, rib)
          state.update(next)
          next
      }
  }
}
