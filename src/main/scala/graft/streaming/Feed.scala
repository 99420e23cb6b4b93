package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.filter.FilterCompiler

/** One flap-damping transition emitted by [[Feed.flapDamp]]: ring
  * `ring_id` crossed the suppress threshold (`kind = "suppress"`) or
  * decayed back under the reuse threshold (`kind = "reuse"`) at `ts_ms`,
  * with the penalty value after the triggering event. */
case class FlapAlert(ring_id: Long, rib: String, prefix_str: String,
    ts_ms: Long, kind: String, penalty: Long)

/** Per-ring damping state folded by [[Feed.flapDamp]]: accumulated
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
  * Like the reference, the feed has no windowed or stateful alert
  * operators. The one batch report kept here is [[flapDamp]], the
  * retrospective flap-damping audit behind `q_rib_flap_damp`.
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
      historyDepth: Int = 10, snapshotDir: Option[String] = None): Unit = {
    val kept = graft.operators.RibViews.retained(
      graft.operators.RibViews.onlyDiffer(spark.read.parquet(logDir)),
      historyDepth)
    kept.write.mode("overwrite").parquet(outDir)
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

  /** One damping transition: decay the penalty by integer halvings of the
    * elapsed event time, book a flap if the active flag flipped, cross the
    * suppress/reuse thresholds. The fold step of [[flapDamp]] (the penalty
    * fold is not prefix-decomposable: floor-halving does not distribute
    * over the flap additions, so no window/cumsum form exists). */
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

  /** RFC 2439 route-flap damping (penalty per activity transition,
    * exponential decay, suppress / reuse thresholds) over a batch event
    * log: replay each ring in (ts, event_id) order through the
    * [[flapStep]] recurrence and emit every suppress/reuse crossing — the
    * retrospective audit ("which rings would RFC 2439 have suppressed, and
    * when") over a parquet history, DuckDB-oracle-checkable because the
    * fold is pure integer halvings. Decay is event-driven (valued lazily
    * at the ring's next event), so the result depends only on event times.
    *
    * Shape: one exchange on ring_id, then a per-ring sorted fold inside
    * `flatMapGroups` — the typed fold is the right primitive here because
    * the recurrence is sequential and non-decomposable (floor-halving
    * does not distribute over addition, so no prefix-sum/window form is
    * exact). Per-group memory is one ring's history — bounded by ring
    * retention — and rings distribute across executors, so the fold
    * parallelizes to |rings|, never a global sort. */
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
}
