package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.operators.RibViews

/** Streaming fixtures (FIXTURES.md §4): replay the event table as a file
  * stream in micro-batches; assert (a) streamed rib_current equals the
  * batch result, (b) the subscription feed emits exactly the events the
  * compiled predicate accepts, (c) restart from checkpoint loses nothing. */
class FeedSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val srcSf = "/root/testdata/sf0.001"

  private def tmp(): String = Files.createTempDirectory("graft_feed").toString

  test("streamed ingest equals batch derivation and survives restart") {
    val stage = tmp()
    val logDir = tmp() + "/log"
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    // stage the source as 4 files → 4 micro-batches with maxFilesPerTrigger=1
    events.repartition(4).write.mode("overwrite").parquet(stage)
    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
    val q1 = Feed.ingest(stream, logDir, ckpt, triggerMs = 100)
    q1.processAllAvailable()
    q1.stop()
    val streamed = spark.read.parquet(logDir)
    val batch = graft.sources.RouteEventGen.fromEvents(events)
    assert(streamed.count() == batch.count())
    // rib_current from the streamed log equals the batch-computed view
    val sCur = Feed.restoreCurrent(spark, logDir)
      .select("prefix_str", "session_id", "path_id", "attrs_hash")
      .collect().map(_.toString).sorted
    val bCur = RibViews.current(batch)
      .select("prefix_str", "session_id", "path_id", "attrs_hash")
      .collect().map(_.toString).sorted
    assert(sCur.toSeq == bCur.toSeq)
    // restart with the same checkpoint: no new input → no duplicates
    val q2 = Feed.ingest(spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage), logDir, ckpt, 100)
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(logDir).count() == batch.count())
  }

  test("subscription feed applies rib gate AND the compiled filter") {
    val stage = tmp()
    val events = graft.queries.Tables(spark, srcSf, "events")
    // subscribers tail the DERIVED event log (the log IS the bus — ST1):
    // the compiled filter runs over stored columns, exactly the production
    // shape; filtering over the inline derivation CASE trees would exceed
    // Janino's limit, and SparkTestBase runs with codegen fallback DISABLED
    val derived = graft.sources.RouteEventGen.fromEvents(events).localCheckpoint()
    derived.repartition(2).write.mode("overwrite").parquet(stage)
    val routeStream = spark.readStream.schema(derived.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val received = scala.collection.mutable.ArrayBuffer[Long]()
    val q = Feed.subscribe(routeStream, "ipv4u", "10.4.0.0/14") { rows =>
      received.synchronized { received ++= rows.map(_.getAs[Long]("event_id")) }
    }.start()
    q.processAllAvailable()
    q.stop()
    val expected = derived
      .where(col("rib") === "ipv4u" && graft.filter.FilterCompiler.accept("10.4.0.0/14"))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(received.sorted.toSeq == expected.toSeq)
    assert(expected.nonEmpty)
  }

  test("shared dispatcher: N clients on ONE query ≡ N independent subscribes") {
    val stage = tmp()
    val events = graft.queries.Tables(spark, srcSf, "events")
    val derived = graft.sources.RouteEventGen.fromEvents(events).localCheckpoint()
    derived.repartition(2).write.mode("overwrite").parquet(stage)
    def stream() = spark.readStream.schema(derived.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val subs = Seq(
      ("ipv4u", "10.4.0.0/14"), ("ipv4u", ""), ("ipv6u", ""),
      ("ipv4u", "10.4.0.0/14"), // duplicate subscription: independent sink
      ("vpnv4u", "rd:101:1000"))
    // the dispatcher: ONE streaming query, five attached clients
    val disp = new Feed.FeedDispatcher
    val got = subs.map(_ => scala.collection.mutable.ArrayBuffer[String]())
    val handles = subs.zip(got).map { case ((rib, f), buf) =>
      disp.attach(rib, f)(s => buf.synchronized { buf += s; () }) }
    assert(disp.clientCount == 5)
    val q = disp.writer(stream()).start()
    q.processAllAvailable()
    q.stop()
    // the baseline: five independent subscribeJson queries
    val want = subs.map { case (rib, f) =>
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      val q1 = Feed.subscribeJson(stream(), rib, f)(rows =>
        buf.synchronized { buf ++= rows; () }).start()
      q1.processAllAvailable(); q1.stop()
      buf.sorted.toSeq
    }
    got.map(_.sorted.toSeq).zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"client $i diverged (${subs(i)})")
    }
    assert(want.head.nonEmpty && want(2).nonEmpty, "vacuous fixture")
    assert(want.head == want(3).sorted) // duplicate subs see identical sets
    // detach: a closed client receives nothing from later batches
    handles.head.close()
    assert(disp.clientCount == 4)
    val before = got.head.size
    val before1 = got(1).size
    val q2 = disp.writer(stream()).start()
    q2.processAllAvailable(); q2.stop()
    assert(got.head.size == before, "detached client kept receiving")
    assert(got(1).size > before1, "attached clients keep receiving")
    handles.tail.foreach(_.close())
  }

  test("wire ingest: framed BGP UPDATE bytes stream into decoded route rows") {
    import graft.sources.{BgpWire, UpdateDecompose}
    val stage = tmp()
    val out = tmp() + "/wire_log"
    val ckpt = tmp() + "/wire_ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    // frames on disk stand in for a BMP/BGP capture; the streaming side is
    // the LIVE ingest path: bytes → decodeUpdates → decompose → log append
    val frames = BgpWire.encodeUpdates(
      UpdateDecompose.messages(events).limit(64)).localCheckpoint()
    frames.repartition(2).write.mode("overwrite").parquet(stage)
    val stream = spark.readStream.schema(frames.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = UpdateDecompose.decompose(BgpWire.decodeUpdates(stream))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    q.processAllAvailable()
    q.stop()
    def flat(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("msg_id", "rib", "active", "prefix_str")
        .collect().map(_.toString).sorted.toSeq
    val streamed = flat(spark.read.parquet(out))
    val batch = flat(UpdateDecompose.decompose(BgpWire.decodeUpdates(frames)))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("compaction keeps <= depth newest, deduped") {
    val stage = tmp()
    val out = tmp() + "/compact"
    val events = graft.queries.Tables(spark, srcSf, "events")
    graft.sources.RouteEventGen.fromEvents(events)
      .write.mode("overwrite").parquet(stage)
    Feed.compact(spark, stage, out, historyDepth = 2)
    val compacted = spark.read.parquet(out)
    val maxPerRing = compacted.groupBy(RibViews.keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).collect()(0).getLong(0)
    assert(maxPerRing <= 2)
  }

  test("compaction tick emits a loadable CBOR snapshot of the retained rows") {
    // the reference couples its purge cadence to a periodic CBOR dump
    // (`snapshot_every`, src/config.rs:476-485): a compaction tick with
    // snapshotDir set must leave a snapshot a legacy instance could load,
    // and it must reflect the RETAINED (deduped, depth-capped) rows — not
    // the raw log
    val stage = tmp()
    val out = tmp() + "/compact"
    val snapDir = tmp() + "/snap"
    val events = graft.queries.Tables(spark, srcSf, "events")
    graft.sources.RouteEventGen.fromEvents(events)
      .where(col("attrs_hash") % 29 === 0) // bounded slice: CBOR is driver-light but the tree is per-shard memory
      .write.mode("overwrite").parquet(stage)
    Feed.compact(spark, stage, out, historyDepth = 2,
      snapshotDir = Some(snapDir))
    val compacted = spark.read.parquet(out)
    val loaded = graft.sources.Snapshot.load(spark, snapDir)
    assert(loaded.count() == compacted.count(),
      "snapshot must carry exactly the retained rows")
    // a second tick overwrites in place and stays loadable (the cadence
    // case: same shard names every tick, atomic replace)
    Feed.compact(spark, stage, out, historyDepth = 1,
      snapshotDir = Some(snapDir))
    val loaded2 = graft.sources.Snapshot.load(spark, snapDir)
    assert(loaded2.count() == spark.read.parquet(out).count())
    assert(loaded2.count() <= loaded.count()) // depth 1 retains no more
  }

  test("event frames match the reference's two WS shapes; client cmd parses") {
    val events = graft.queries.Tables(spark, srcSf, "events")
    val re = graft.sources.RouteEventGen.fromEvents(events)
    val one = re.where(col("rib") === "ipv4u" && col("active"))
      .select(Feed.eventFrame).limit(1).collect()(0).getString(0)
    // update frame: sessionid + attrs + addrs (subscriber.rs:24-40)
    assert(one.startsWith("{\"sessionid\":"))
    assert(one.contains("\"attrs\":{") && one.contains("\"addrs\":{\"rib\":\"ipv4u\",\"prefix\":\"10."))
    val wd = re.where(col("rib") === "ipv4u" && !col("active"))
      .select(Feed.eventFrame).limit(1).collect()(0).getString(0)
    // withdraw frame: NO attrs (subscriber.rs:41-57)
    assert(wd.startsWith("{\"sessionid\":") && !wd.contains("\"attrs\""))
    assert(wd.contains("\"addrs\":{\"rib\":\"ipv4u\""))
    // a VPN event's addrs carries the rd; a plain rib's omits it
    val vpn = re.where(col("rib") === "vpnv4u" && col("active"))
      .select(Feed.eventFrame).limit(1).collect()(0).getString(0)
    assert(vpn.contains("\"rd\":{"))
    assert(!one.contains("\"rd\""))
    // inbound command envelope (subscriber.rs:15-23); malformed → None
    assert(Feed.parseClientCmd(
      """{"Subscribe":{"rib":"vpnv4u","filter":"10.0.0.0/8"}}""")
      .contains(("vpnv4u", "10.0.0.0/8")))
    assert(Feed.parseClientCmd("""{"Subscribe":{"rib":"ipv4u"}}""").isEmpty)
    assert(Feed.parseClientCmd("""{"Ping":{}}""").isEmpty)
    // a filter value carrying a "rib"-key-shaped substring parses as the
    // literal filter text (the old regex extraction would mis-parse)
    assert(Feed.parseClientCmd(
      """{"Subscribe":{"rib":"ipv4u","filter":"\"rib\":\"evil\""}}""")
      .contains(("ipv4u", "\"rib\":\"evil\"")))
    // full JSON unescaping, not just \" — a backslash in the filter survives
    assert(Feed.parseClientCmd(
      """{"Subscribe":{"rib":"ipv4u","filter":"a\\b"}}""")
      .contains(("ipv4u", "a\\b".replace("\\\\", "\\"))))
    // rib/filter keys in a SIBLING object must not leak into Subscribe
    assert(Feed.parseClientCmd(
      """{"Other":{"rib":"x","filter":"y"},"Subscribe":{"rib":"ipv4u"}}""").isEmpty)
    // non-string values, non-object Subscribe, truncated JSON, junk → None
    assert(Feed.parseClientCmd("""{"Subscribe":{"rib":5,"filter":"f"}}""").isEmpty)
    assert(Feed.parseClientCmd("""{"Subscribe":"x"}""").isEmpty)
    assert(Feed.parseClientCmd("""{"Subscribe":{"rib":"a","filter":"b""").isEmpty)
    assert(Feed.parseClientCmd("not json at all").isEmpty)
  }

  test("ST14 flap damping equals the batch fold model") {
    val events = graft.queries.Tables(spark, srcSf, "events")
    val re = graft.sources.RouteEventGen.fromEvents(events)
    val rows = re
      .select(col("ring_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("active"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(t => (t._2, t._3))
    // first flap suppresses (1000 >= 1000); huge half-life: no decay, so
    // the independent model below needs no time arithmetic
    val model = scala.collection.mutable.ArrayBuffer.empty[String]
    val st = scala.collection.mutable.Map.empty[Long, (Long, Int, Boolean)]
    rows.foreach { case (ring, ts, _, act) =>
      val (p0, la, sup0) = st.getOrElse(ring, (0L, -1, false))
      val a = if (act) 1 else 0
      var p = p0
      if (la >= 0 && la != a) p += 1000L
      val sup =
        if (!sup0 && p >= 1000L) true
        else if (sup0 && p < 500L) false
        else sup0
      if (sup != sup0)
        model += s"[$ring,$ts,${if (sup) "suppress" else "reuse"},$p]"
      st(ring) = (p, a, sup)
    }
    val batch = Feed.flapDamp(re,
      penaltyPerFlap = 1000L, suppressAt = 1000L, reuseBelow = 500L,
      halfLifeMs = Long.MaxValue / 4)
      .select(col("ring_id"), col("ts_ms"), col("kind"), col("penalty"))
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty)
    assert(batch.toSeq == model.sorted.toSeq)
  }

  test("ST14 decay: suppressed ring reuses after quiet halvings") {
    import graft.model._
    val base = 1700000000000L
    def ev(ts: Long, active: Boolean) = RouteEvent(
      new java.sql.Timestamp(ts), "ipv4u", 0, 0L, active,
      Some(Model.v4("10.0.0.0", 24)), Some("10.0.0.0/24"),
      None, None, None, None, None, None, Model.emptyAttrs, 0L)
    val s = spark
    import s.implicits._
    val rows = Seq(ev(base, active = true), ev(base + 1000, active = false),
      ev(base + 2000, active = true), ev(base + 22000, active = true))
    val df = s.createDataset(rows).toDF()
      .withColumn("ring_id", lit(1L))
      .withColumn("event_id", unix_millis(col("ts")) - base)
    val got = Feed.flapDamp(df,
      penaltyPerFlap = 1000L, suppressAt = 2000L, reuseBelow = 800L,
      halfLifeMs = 10000L)
      .select(col("ts_ms"), col("kind"), col("penalty"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // flap at +1000 books 1000; flap at +2000 books 2000 -> suppress;
    // the quiet 20 s = two half-lives halves twice: 500 < 800 -> reuse
    assert(got == Seq((base + 2000, "suppress", 2000L),
      (base + 22000, "reuse", 500L)))
  }
}
