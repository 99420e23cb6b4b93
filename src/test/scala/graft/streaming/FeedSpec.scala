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
    // bucketed compaction target: same rows, exchange-free ring views
    val outB = tmp() + "/compact_bucketed"
    Feed.compact(spark, stage, outB, historyDepth = 2,
      bucketTable = Some("compacted_bucketed_spec"))
    val bucketed = spark.table("compacted_bucketed_spec")
    assert(bucketed.count() == compacted.count())
    assert(!RibViews.current(bucketed).queryExecution.executedPlan
      .toString.contains("Exchange"))
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

  test("compaction with bucketTable refuses a log without ring_id") {
    val stage = tmp()
    val events = graft.queries.Tables(spark, srcSf, "events")
    // strip the surrogate: asking for a bucketed target must now fail
    // loudly instead of silently writing a plain (unbucketed) directory
    graft.sources.RouteEventGen.fromEvents(events).drop("ring_id")
      .write.mode("overwrite").parquet(stage)
    val e = intercept[IllegalArgumentException] {
      Feed.compact(spark, stage, tmp() + "/x", historyDepth = 2,
        bucketTable = Some("compacted_guard_spec"))
    }
    assert(e.getMessage.contains("ring_id"))
    assert(!spark.catalog.tableExists("compacted_guard_spec"))
  }

  test("ST6 watermarked windowed live stats equal the batch rollup") {
    val stage = tmp()
    val events = graft.queries.Tables(spark, srcSf, "events")
    events.repartition(3).write.mode("overwrite").parquet(stage)
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    val q = Feed.liveStats(routeStream)
      .writeStream.format("memory").queryName("live_stats")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT rib, w.start AS ws, n_events, n_prefixes FROM live_stats")
      .collect().map(_.toString).sorted
    val batch = graft.sources.RouteEventGen.fromEvents(events)
      .groupBy(col("rib"), window(col("ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("prefix_str")).as("n_prefixes"))
      .select(col("rib"), col("w.start").as("ws"), col("n_events"), col("n_prefixes"))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
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

  test("ST9 flatMapGroupsWithState BMP gate: pre-registration frames drop, later ones pass") {
    import graft.sources.{BgpSession, BgpWire, UpdateDecompose}
    import spark.implicits._
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    // 16 deterministic messages over sessions uid%4 = 0..3 (4 each)
    val events = (0L until 16L).map(i =>
      (i, i, new java.sql.Timestamp(1700000000000L + i * 1000)))
      .toDF("event_id", "user_id", "ts")
    // event-time encodes the intended order (the gate sorts by ts within a
    // batch, so admission is the same whether the files land in one
    // micro-batch or three): early RMs at t=1000+eid, PeerUps at t=5000,
    // late RMs at t=9000+eid
    val frames = BgpWire.encodeUpdates(UpdateDecompose.messages(events))
      .collect().map(r => (r.getInt(1).toLong, r.getLong(0),
        BgpWire.encodeBmpRouteMonitoring(r.getInt(1).toLong,
          100 + r.getInt(1), (10L << 24) + r.getInt(1), 65000 + r.getInt(1),
          1000 + r.getInt(1),
          (if (r.getLong(0) < 8) 1000L else 9000L) + r.getLong(0), 0L,
          r.getAs[Array[Byte]](3))))
    def peerUp(s: Long) = BgpSession.encodeBmpPeerUp(s, 100 + s,
      (10L << 24) + s, 65000 + s, 1000 + s, 5000L, 0L,
      (192L << 24) | (168L << 16) | s, 179, 30000 + s.toInt,
      BgpSession.Open(70000 + s, 90, 1L, Vector(BgpSession.Cap.Mp(1, 1))),
      BgpSession.Open(65000 + s, 30, 2L, Vector(BgpSession.Cap.Mp(1, 1))))
    // three files → up to three micro-batches: early RMs (eid<8; all must
    // drop), then PeerUps for sessions 1/2, then late RMs (eid>=8; 1/2 pass)
    frames.filter(_._2 < 8).map(_._3).toSeq.toDF("bytes")
      .coalesce(1).write.parquet(s"$stage/s0")
    Seq(peerUp(1), peerUp(2)).toDF("bytes")
      .coalesce(1).write.parquet(s"$stage/s1")
    frames.filter(_._2 >= 8).map(_._3).toSeq.toDF("bytes")
      .coalesce(1).write.parquet(s"$stage/s2")
    // pin file mtimes so FileStreamSource (which orders by modification
    // time) always sees s0 → s1 → s2, even on a coarse-mtime filesystem
    Seq("s0", "s1", "s2").zipWithIndex.foreach { case (d, i) =>
      Files.list(java.nio.file.Paths.get(s"$stage/$d")).forEach { p =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
    }
    val stream = spark.readStream
      .schema("bytes binary").option("maxFilesPerTrigger", "1")
      .parquet(s"$stage/s*")
    val q = Feed.bmpSessionGate(BgpWire.decodeBmpFrames(stream))
      .writeStream.format("memory").queryName("bmp_gate")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val admitted = spark.sql("SELECT rdh, update FROM bmp_gate").collect()
      .map(r => (r.getLong(0),
        // med == event_id in this fixture (eid < 100): recover which
        // messages passed by decoding the admitted frames for real
        BgpWire.decodeUpdate(0L, 0, null, r.getAs[Array[Byte]](1)).getLong(12)))
    // sessions {1, 2}, only the post-registration half: eids 9, 10, 13, 14
    assert(admitted.map(_._1).toSet == Set(1L, 2L))
    assert(admitted.map(_._2).toSet == Set(9L, 10L, 13L, 14L))
    assert(admitted.length == 4)
  }

  test("ST12 origin-handoff alerts equal the batch lag transitions") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    // stage in event-time ranges (chunk i = the i-th ts range, sorted
    // within, WRITTEN SEQUENTIALLY so modification times ascend — the
    // file source orders new files by mtime, and a parallel range write
    // finishes its tasks in random order): per ring, arrival order
    // across micro-batches is then (ts, event_id) order — the alert
    // stream is arrival-order semantics like any live feed, so the
    // batch-equality claim needs ordered arrival, not a reordering
    // stream
    import org.apache.spark.sql.expressions.Window
    val chunked = events.withColumn("__c",
      ntile(3).over(Window.orderBy(col("ts"), col("event_id"))))
    (1 to 3).foreach { c =>
      chunked.where(col("__c") === c).drop("__c").coalesce(1)
        .sortWithinPartitions("ts", "event_id")
        .write.mode("append").parquet(stage)
      Thread.sleep(1100)
    }
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    val q = Feed.originAlertStream(routeStream)
      .writeStream.format("memory").queryName("origin_alerts")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT ring_id, ts_ms, from_as, to_as FROM origin_alerts")
      .collect().map(_.toString).sorted
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("ring_id")).orderBy(col("ts"), col("event_id"))
    val batch = graft.sources.RouteEventGen.fromEvents(events)
      .where(col("active"))
      .withColumn("origin", element_at(col("attrs.as_list"), -1))
      .where(col("origin").isNotNull)
      .withColumn("po", lag(col("origin"), 1).over(w))
      .where(col("po").isNotNull && col("po") =!= col("origin"))
      .select(col("ring_id"), unix_millis(col("ts")).as("ts_ms"),
        col("po").as("from_as"), col("origin").as("to_as"))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("ST16 streamed MOAS alerts equal an independent fold model") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    // ordered arrival (ST12 discipline): sequential event-time chunks
    import org.apache.spark.sql.expressions.Window
    val chunked = events.withColumn("__c",
      ntile(3).over(Window.orderBy(col("ts"), col("event_id"))))
    (1 to 3).foreach { c =>
      chunked.where(col("__c") === c).drop("__c").coalesce(1)
        .sortWithinPartitions("ts", "event_id")
        .write.mode("append").parquet(stage)
      Thread.sleep(1100)
    }
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    val q = Feed.moasAlertStream(routeStream)
      .writeStream.format("memory").queryName("moas_alerts")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT rib, prefix_str, ts_ms, event_id, origin, n_origins " +
        "FROM moas_alerts").collect().map(_.toString).sorted.toSeq
    // independent fold model over the batch-derived log
    val rows = graft.sources.RouteEventGen.fromEvents(events)
      .where(col("prefix_str").isNotNull)
      .select(col("rib"), col("prefix_str"), col("ring_id"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        col("active"),
        RibViews.pathOrigin.cast("long").as("origin"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
    val model = rows.groupBy(r => (r._1, r._2)).toSeq.flatMap {
      case ((rib, pfx), g) =>
        var m = Map.empty[Long, Long]
        g.sortBy(r => (r._4, r._5)).flatMap { r =>
          val before = m.values.toSet.size
          (r._6, r._7) match {
            case (true, Some(o)) => m += (r._3 -> o)
            case (false, _)      => m -= r._3
            case _               => ()
          }
          val after = m.values.toSet.size
          if (after >= 2 && after > before)
            Some(org.apache.spark.sql.Row(
              rib, pfx, r._4, r._5, r._7.get, after.toLong).toString)
          else None
        }
    }.sorted
    assert(streamed.nonEmpty)
    assert(streamed == model)
  }

  test("ST15 streamed RPKI alerts equal an independent batch join replay") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    events.repartition(3).write.mode("overwrite").parquet(stage)
    // the q_rib_rpki ROA set: /16 covers for even second octets
    val roas = (0 until 16 by 2).map(o2 =>
      (167772160L + o2 * 65536L, 16L, 24L + (o2 % 3) * 4L,
        200L + o2 % 7))
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    val q = Feed.rpkiAlertStream(routeStream, roas)
      .writeStream.format("memory").queryName("rpki_alerts")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT event_id, origin, validity FROM rpki_alerts")
      .collect().map(_.toString).sorted.toSeq
    // independent batch mechanism: ROA DataFrame + covering LEFT JOIN +
    // per-event verdict aggregation (the rpkiValidate join shape) — not
    // the array-HOF expression the stream compiles
    import spark.implicits._
    val roaDf = roas.toDF("roa_ip", "roa_plen", "roa_maxlen", "roa_origin")
    val ev = graft.sources.RouteEventGen.fromEvents(events)
      .where(col("active") && col("prefix").isNotNull &&
        col("prefix.version") === 4 &&
        col("prefix.prefix_len").between(1, 32))
      .select(col("event_id"), col("prefix.ip_lo").as("ip"),
        col("prefix.prefix_len").cast("long").as("plen"),
        RibViews.pathOrigin.cast("long").as("origin"))
      .where(col("origin").isNotNull)
    val covers = col("roa_plen") <= col("plen") &&
      call_function("shiftright", col("ip"),
        lit(32) - col("roa_plen").cast("int")) ===
      call_function("shiftright", col("roa_ip"),
        lit(32) - col("roa_plen").cast("int"))
    val batch = ev.join(broadcast(roaDf), covers, "left")
      .groupBy(col("event_id"), col("origin"))
      .agg(
        max(when(col("roa_origin") === col("origin") &&
          col("plen") <= col("roa_maxlen"), 1).otherwise(0)).as("v"),
        max(when(col("roa_origin") === col("origin"), 1).otherwise(0))
          .as("o"),
        max(when(col("roa_plen").isNotNull, 1).otherwise(0)).as("c"))
      .withColumn("validity",
        when(col("v") === 1, "valid")
          .when(col("o") === 1, "invalid_length")
          .when(col("c") === 1, "invalid_origin")
          .otherwise("not_found"))
      .where(col("validity").startsWith("invalid"))
      .select(col("event_id"), col("origin"), col("validity"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    // both invalid classes must actually occur in the fixture
    assert(streamed.exists(_.contains("invalid_origin")))
    assert(streamed.exists(_.contains("invalid_length")))
    assert(streamed == batch)
  }

  test("ST17 streamed bogon alerts equal an independent batch join replay") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    events.repartition(3).write.mode("overwrite").parquet(stage)
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    val q = Feed.bogonAlertStream(routeStream)
      .writeStream.format("memory").queryName("bogon_alerts")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT event_id, rib, bogon_class FROM bogon_alerts")
      .collect().map(_.toString).sorted.toSeq
    // independent batch mechanism: the broadcast-dimension range join
    // (the bogonAudit shape, at event granularity) — not the array-HOF
    // expression the stream compiles; inner join = non-clean only
    val ev = graft.sources.RouteEventGen.fromEvents(events)
      .where(col("active") && col("prefix").isNotNull &&
        col("prefix_str").isNotNull)
      .select(col("event_id"), col("rib"),
        col("prefix.version").cast("int").as("ver"),
        when(col("prefix.version") === 4, col("prefix.ip_lo"))
          .otherwise(col("prefix.ip_hi")).as("addr"))
    val batch = ev.join(
      broadcast(RibViews.bogonDim(spark)),
      col("bogon_version") === col("ver") &&
        col("addr").between(col("bogon_lo"), col("bogon_hi")), "inner")
      .select(col("event_id"), col("rib"), col("bogon_class"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    // both address families' range paths must actually fire
    assert(streamed.exists(_.contains("v4-rfc1918-10")))
    assert(streamed.exists(_.contains("v4-multicast")))
    assert(streamed.exists(_.contains("v6-teredo")))
    assert(streamed.exists(_.contains("v6-multicast")))
    assert(streamed == batch)
  }

  test("ST18 streamed completed bursts equal the batch report minus open bursts") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    import org.apache.spark.sql.expressions.Window
    // ST12 staging discipline: sequential event-time chunks so per-key
    // arrival order is (ts, event_id) across micro-batches
    val chunked = events.withColumn("__c",
      ntile(3).over(Window.orderBy(col("ts"), col("event_id"))))
    (1 to 3).foreach { c =>
      chunked.where(col("__c") === c).drop("__c").coalesce(1)
        .sortWithinPartitions("ts", "event_id")
        .write.mode("append").parquet(stage)
      Thread.sleep(1100)
    }
    // 5-day gap: sf0.001 per-key cadence is ~days, so bursts span chunks
    val gap = 5L * 86400000L
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    val q = Feed.burstStream(routeStream, gapMs = gap)
      .writeStream.format("memory").queryName("burst_reports")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      """SELECT rib, prefix_str, burst, start_ms, n_events, n_flips,
        |  duration_ms FROM burst_reports""".stripMargin)
      .collect().map(_.toString).sorted.toSeq
    // batch twin minus each key's LAST burst (still open in the stream)
    val batch = RibViews.updateBursts(
      graft.sources.RouteEventGen.fromEvents(events), gapMs = gap)
    val keyW = Window.partitionBy(col("rib"), col("prefix_str"))
    val closed = batch.withColumn("__mx", max(col("burst")).over(keyW))
      .where(col("burst") < col("__mx")).drop("__mx")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    // multi-event bursts with in-burst flips must actually occur
    assert(streamed.exists(s => s.split(",")(5) != "0"))
    assert(streamed == closed)
  }

  test("ST14 flap damping equals the batch fold model") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    import org.apache.spark.sql.expressions.Window
    // ST12 staging discipline: sequential event-time chunks so per-ring
    // arrival order is (ts, event_id)
    val chunked = events.withColumn("__c",
      ntile(3).over(Window.orderBy(col("ts"), col("event_id"))))
    (1 to 3).foreach { c =>
      chunked.where(col("__c") === c).drop("__c").coalesce(1)
        .sortWithinPartitions("ts", "event_id")
        .write.mode("append").parquet(stage)
      Thread.sleep(1100)
    }
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    // first flap suppresses (1000 >= 1000); huge half-life: no decay, so
    // the independent model below needs no time arithmetic
    val q = Feed.flapDampStream(routeStream, penaltyPerFlap = 1000L,
      suppressAt = 1000L, reuseBelow = 500L, halfLifeMs = Long.MaxValue / 4)
      .writeStream.format("memory").queryName("flap_alerts")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT ring_id, ts_ms, kind, penalty FROM flap_alerts")
      .collect().map(_.toString).sorted
    val rows = graft.sources.RouteEventGen.fromEvents(events)
      .select(col("ring_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("active"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(t => (t._2, t._3))
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
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == model.sorted.toSeq)
    // the batch twin replays the same flapStep over the same history —
    // identical transitions (stream/batch parity by construction)
    val batch = Feed.flapDamp(
      graft.sources.RouteEventGen.fromEvents(events),
      penaltyPerFlap = 1000L, suppressAt = 1000L, reuseBelow = 500L,
      halfLifeMs = Long.MaxValue / 4)
      .select(col("ring_id"), col("ts_ms"), col("kind"), col("penalty"))
      .collect().map(_.toString).sorted
    assert(batch.toSeq == model.sorted.toSeq)
  }

  test("ST14 decay: suppressed ring reuses after quiet halvings") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
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
    df.coalesce(1).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(stage)
    val q = Feed.flapDampStream(
      s.readStream.schema(df.schema).parquet(stage),
      penaltyPerFlap = 1000L, suppressAt = 2000L, reuseBelow = 800L,
      halfLifeMs = 10000L)
      .writeStream.format("memory").queryName("flap_decay")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT ts_ms, kind, penalty FROM flap_decay ORDER BY ts_ms")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // flap at +1000 books 1000; flap at +2000 books 2000 -> suppress;
    // the quiet 20 s = two half-lives halves twice: 500 < 800 -> reuse
    assert(got == Seq((base + 2000, "suppress", 2000L),
      (base + 22000, "reuse", 500L)))
  }

  test("ST7 mapGroupsWithState session tracker converges to the batch rollup") {
    val stage = tmp()
    val ckpt = tmp() + "/ckpt"
    val events = graft.queries.Tables(spark, srcSf, "events")
    events.repartition(3).write.mode("overwrite").parquet(stage)
    val routeStream = graft.sources.RouteEventGen.fromEvents(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
    val q = Feed.sessionTracker(routeStream)
      .writeStream.format("memory").queryName("session_live")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    // update mode re-emits a row per batch: keep each session's last emit
    val streamed = spark.sql(
      """SELECT session_id, n_events, last_ts_ms, last_event_id, last_rib
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY session_id
        |        ORDER BY n_events DESC) AS rn FROM session_live)
        |WHERE rn = 1""".stripMargin)
      .collect().map(_.toString).sorted
    val re = graft.sources.RouteEventGen.fromEvents(events)
    val batch = re
      .select(col("session_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("rib"))
      .groupBy(col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("ts_ms"), col("event_id"), col("rib"))).as("last"))
      .select(col("session_id"), col("n_events"), col("last.ts_ms"),
        col("last.event_id"), col("last.rib"))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }
}
