package e2ebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.{FilterCompiler, FilterParser}
import graft.operators.Api
import graft.server.{GraftServer, ServerRoutes}
import graft.sources.RouteEventGen
import graft.streaming.Feed

/** One finished request as the client saw it. */
final case class Sample(shape: String, path: String,
    startNs: Long, endNs: Long, ok: Boolean, error: String, bytes: Long,
    bodySha: String, items: Int, traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** End-to-end serving benchmark: boots `GraftServer` on loopback the way
  * `graft.Serve` does and drives one workload over real sockets.
  *
  *   java ... e2ebench.E2eBench --workload browse --seed 1 --seconds 10
  *     --trace 0 --work <scratch dir> --out <span dir>
  *
  * Prints one report line and, last, the result line. Exits 1 when any
  * output check fails. */
object E2eBench {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Set("browse", "dashboard", "live")(workload), s"unknown workload $workload")
    val work = Paths.get(opt("work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try new Run(spark, workload, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", work, Paths.get(opt("out")), cpus).go()
    finally spark.stop()
    note("stopped")
    System.exit(if (ok) 0 else 1)
  }

  /** Phase marks in the run log (stderr), seconds since JVM start. */
  def note(what: String): Unit = {
    val t = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"e2ebench: $t%.1f s $what")
  }
}

final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Int, traced: Boolean, work: Path, out: Path, cpus: Int) {

  private val json = new ObjectMapper()
  private val report = scala.collection.mutable.LinkedHashMap[String, Any]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val trace = new Trace(spark)
  /** Closed-loop clients: browse 1; dashboard and the live readers `nproc`
    * (live: one reader gives only 4-5 pages a run). */
  private val clients = if (workload == "browse") 1 else cpus

  // ---------------------------------------------------------------- host

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Fixed single-thread CPU probe (seconds): a seeded integer hash loop. */
  private def calibSec: Double = {
    val t = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { h ^= h >>> 29; h *= 0xbf58476d1ce4e5b9L; h += i; i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t) / 1e9
  }

  private def note(what: String): Unit = E2eBench.note(what)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  // --------------------------------------------------------------- setup

  private var events: () => DataFrame = _
  private var logDir: String = _
  private var server: GraftServer = _

  /** Serve's WS binding: one streaming subscription per client over the
    * log directory. */
  private def subscribe(schema: org.apache.spark.sql.types.StructType)
      : (String, String, String => Unit) => AutoCloseable = (rib, filter, push) => {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "8").parquet(logDir)
    val q = Feed.subscribeJson(stream, rib, filter)(_.foreach(push)).start()
    () => q.stop()
  }

  private def dirStats(dir: String): (Int, Double) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    (files.size, files.map(Files.size).sum / 1048576.0)
  }

  def go(): Boolean = {
    report("workload") = workload; report("seed") = seed
    report("seconds") = seconds; report("trace") = traced
    report("nproc") = cpus; report("clients") = clients
    report("load_before") = loadAvg
    report("calib_sec_before") = calibSec
    val gc0 = gcMs
    if (traced) trace.attach()

    val base = Gen.base(seed)
    val inDigest = new Gen.Digest
    inDigest.batch(base)
    report("input_rows") = base.size
    val inputDir = work.resolve("input")
    Files.createDirectories(inputDir.resolve("events.parquet"))

    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    report("setup.spark_s") = (System.currentTimeMillis() - startMs) / 1e3
    val tMat = System.nanoTime()
    if (workload == "live") setupLive(base)
    else {
      Gen.writeParquet(base, inputDir.resolve("events.parquet").resolve("part-0.parquet"))
      val ev = RouteEventGen.routeEvents(spark, inputDir.toString)
      logDir = RouteEventGen.routeEventsDir(spark, inputDir.toString)
      events = () => ev
      server = new GraftServer(ServerRoutes(events = events,
        subscribe = subscribe(ev.schema)))
    }
    val materializeS = (System.nanoTime() - tMat) / 1e9

    report("setup.materialize_s") = materializeS
    val tKeys = System.nanoTime()
    val keys = if (workload == "live") Keys(Vector.empty, Vector.empty)
      else routeKeys()
    val mix = new Mix(workload, seed, keys, Gen.SpanMs)
    val mixDigest = requestDigest(mix)
    require(mixDigest == requestDigest(new Mix(workload, seed, keys, Gen.SpanMs)),
      "same seed gave two request lists")
    report("input_digest") = inDigest.hex
    report("mix_digest") = mixDigest
    report("setup.keys_s") = since(tKeys)
    val tWarm = System.nanoTime()
    warmUp(keys)
    note("measuring")
    val samples = if (workload == "live") measureLive() else measure(mix)
    note("measured")
    // live's warm-up pass is its lead-in rounds, with the writer running
    report("setup.warmup_s") = (measuredFromNs - tWarm) / 1e9
    val setupS = (measuredFromMs - startMs) / 1e3
    val heapMb = heapLiveMb()
    report("load_after") = loadAvg
    report("gc_ms") = gcMs - gc0
    val inproc = if (traced) inProcess(samples) else Map.empty[String, Double]
    checkSample(samples)
    logCounts()
    report("calib_sec_after") = calibSec
    note("checked")

    // latency from the untraced rounds; every round's failures count
    val untraced = samples.filterNot(_.traced)
    val ok = untraced.filter(_.ok)
    val lat = ok.map(_.ms)
    val failed = samples.count(!_.ok) + failures.size
    val attempted = samples.size + failures.size
    val spanS = if (untraced.isEmpty) 1.0
      else (untraced.map(_.endNs).max - untraced.map(_.startNs).min) / 1e9
    // (value, unit, samples); the result line carries the gated ones
    val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String, Int)](
      "setup_s" -> ((setupS, "s", 1)),
      "req_gm_ms" -> ((gm(ok), "ms", lat.size)),
      "req_p50_ms" -> ((pct(lat, 50), "ms", lat.size)),
      "req_p90_ms" -> ((pct(lat, 90), "ms", lat.size)),
      "req_per_s" -> ((ok.size / spanS, "1/s", ok.size)),
      "heap_live_mb" -> ((heapMb, "MB", 1)),
      "error_rate" -> ((failed.toDouble / math.max(attempted, 1), "ratio", attempted)))
    if (workload == "live") for ((name, xs) <- Seq("page" -> freshPage, "ws" -> freshWs);
        p <- Seq(50, 90))
      e2e(s"fresh_${name}_p${p}_ms") = (pct(xs, p), "ms", xs.size)
    report("end_to_end") = e2e.map { case (k, (v, u, n)) =>
      k -> Map("value" -> v, "unit" -> u, "samples" -> n) }
    report("errors") = (samples.filterNot(_.ok).map(s => s"${s.shape}: ${s.error}") ++
      failures.asScala).take(10)
    report("latencies_ms") = lat.map(math.round)
    report("by_shape") = ok.groupBy(_.shape).map { case (k, v) =>
      k -> Map("n" -> v.size, "p50_ms" -> pct(v.map(_.ms), 50)) }

    val metrics = if (traced) perLayer(samples, inproc, materializeS)
      else Gated.map(k => k -> ((e2e(k)._1, e2e(k)._2))).toMap
    if (traced) {
      report("self_ms") = trace.selfTimes
      Files.createDirectories(out)
      val f = out.resolve(s"spans-$workload-$seed.jsonl")
      trace.writeSpans(f)
      report("span_file") = f.toString
      trace.detach()
    }
    if (server != null) server.close()
    spark.streams.active.foreach(_.stop())

    val correct = failed == 0
    println(json.writeValueAsString(toJava(Map("report" -> report))))
    println(json.writeValueAsString(toJava(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))))
    correct
  }

  /** End-to-end metrics in the result line: those every workload has and
    * that are never 0. The report line adds `req_p50_ms` and `req_p90_ms`
    * (over a mix of shapes a run's median moves with the few samples
    * around it), `req_per_s` (at a closed loop's fixed client count it
    * carries the latency's signal), `error_rate` and live's freshness. */
  private val Gated = Seq("setup_s", "req_gm_ms", "heap_live_mb")

  /** Geometric mean over the request shapes of each shape's median
    * latency: every shape weighs the same however many pages it has. */
  private def gm(ss: Seq[Sample]): Double = {
    val meds = ss.groupBy(_.shape).values.map(v => pct(v.map(_.ms), 50))
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }; j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  /** Digest of the request list: the mix's client streams, and for live
    * the writer's batches and the reader paths that follow them. */
  private def requestDigest(mix: Mix): String =
    if (workload != "live") mix.digest(clients)
    else {
      val d = new Gen.Digest
      (0 until LiveMaxBatches).foreach { i =>
        d.batch(Gen.liveBatch(seed, i, LiveBatch)); d.str(marker(i)) }
      d.hex
    }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = r.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def heapLiveMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Route keys per rib, sorted, from the served log. */
  private def routeKeys(): Keys = {
    val rows = events().where(col("rib").isin("ipv4u", "ipv6u"))
      .select(col("rib"), col("prefix_str")).distinct().collect()
    def of(r: String) = rows.filter(_.getString(0) == r).map(_.getString(1)).sorted.toIndexedSeq
    Keys(of("ipv4u"), of("ipv6u"))
  }

  // --------------------------------------------------------------- client

  private val reqIds = new AtomicLong(0)

  /** Issue one request and validate it: a 200 with a JSON body. */
  private def issue(shape: String, path: String): (Sample, JsonNode) = {
    val rid = reqIds.incrementAndGet()
    val spanId = trace.nextId()
    val on = trace.recording
    if (on && clients == 1) trace.attribute(spanId, rid)
    val t0 = System.nanoTime(); val w0 = trace.nowMs
    val (s, doc) = try {
      val r = Http.get(server.boundPort, path)
      val t1 = System.nanoTime()
      if (r.status != 200)
        (Sample(shape, path, t0, t1, ok = false, s"status ${r.status}",
          r.wireBytes, "", 0, on), null)
      else {
        val doc = json.readTree(r.body)
        (Sample(shape, path, t0, t1, ok = true, "", r.wireBytes,
          Gen.sha(r.body), itemCount(doc), on), doc)
      }
    } catch {
      case e: Exception =>
        (Sample(shape, path, t0, System.nanoTime(), ok = false,
          e.toString, 0, "", 0, on), null)
    }
    if (on) {
      if (clients == 1) trace.attribute(-1, -1)
      trace.span("client.request", w0, trace.nowMs, -1, rid, spanId)
    }
    (s, doc)
  }

  /** Run one step. A keyset walk follows each page's `next_after`; every
    * continuation page must be full and share no item with the page before
    * it (a repeated first page means the `after` token was ignored), else
    * it counts as failed. */
  private def runStep(st: Step): Seq[Sample] = {
    val (first, doc0) = issue(st.shape, st.path)
    var doc = doc0
    val out = Seq.newBuilder[Sample] += first
    var page = 1
    while (doc != null && page < st.pages) {
      val prev = itemKeys(doc)
      nextAfter(doc) match {
        case None =>
          failures.add(s"walk ${st.path}: page $page has no next_after")
          doc = null
        case Some(a) =>
          val (s, d) = issue("after", s"${st.path}&after=$a")
          val keys = if (d == null) Set.empty[String] else itemKeys(d)
          val err = if (!s.ok) None
            else if (keys.size != prev.size) Some(s"continuation page holds ${keys.size} items")
            else if (keys.exists(prev)) Some("continuation page repeats the previous page")
            else None
          out += err.fold(s)(e => s.copy(ok = false, error = e))
          doc = if (err.isEmpty) d else null
          page += 1
      }
    }
    out.result()
  }

  private def itemKeys(doc: JsonNode): Set[String] =
    Option(doc.get("items")).map(_.fieldNames().asScala.toSet).getOrElse(Set.empty)

  /** Items a response returns: the page/report `items`, else 1. */
  private def itemCount(doc: JsonNode): Int = {
    val it = doc.get("items")
    if (it == null || it.isNull) 1 else math.max(it.size(), 1)
  }

  private def nextAfter(doc: JsonNode): Option[String] =
    Option(doc).flatMap(d => Option(d.get("next_after"))).filterNot(_.isNull)
      .map(_.asText())

  /** One pass of the mix before measuring, over a second seed: 4 threads
    * take the steps of one cycle from a queue, largest first (a walk warms
    * one continuation page). Live subscribes its WS client and waits for
    * the initial dump; its reader pages warm up in the lead-in rounds of
    * [[measureLive]]. */
  private def warmUp(keys: Keys): Unit = {
    val warm = new Mix(workload, seed ^ 0x77a4L, keys, Gen.SpanMs)
    val steps = new ConcurrentLinkedQueue[Step]()
    if (workload == "live") {
      liveWs = new WsClient(server.boundPort, LiveRib, LiveFilter)
      // while the subscription sends its initial dump
      expected = expectedFrames(LiveMaxBatches)
      val deadline = System.nanoTime() + Http.TimeoutMs * 1000000L
      while (liveWs.count < baseFrames && System.nanoTime() < deadline) Thread.sleep(20)
      if (liveWs.count != baseFrames)
        failures.add(s"ws initial dump: ${liveWs.count} of $baseFrames frames")
    } else warm.stream(0, 1).take(warm.cycleLength).toSeq.sortBy(-_.pages)
      .foreach(st => steps.add(st.copy(pages = math.min(st.pages, 2))))
    val ts = (0 until 4).map { c =>
      new Thread(() => {
        var st = steps.poll()
        while (st != null) {
          runStep(st).filterNot(_.ok).foreach(s => failures.add(s"warm-up ${s.path}: ${s.error}"))
          st = steps.poll()
        }
      }, s"e2ebench-warmup-$c")
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  private var liveWs: WsClient = _

  /** Closed loop in rounds. In a round each client runs its share (the
    * clients' shares together make one whole cycle of the mix; a live
    * reader runs one page), and the next round starts when the last client
    * has finished, so a run measures whole cycles: the same shape
    * proportions on every run. The first `lead` rounds are not timed.
    * Measured rounds start until `seconds` have passed since the first;
    * the round in progress then completes. A traced run goes on with
    * traced rounds for another `seconds`, so tracing switches on between
    * rounds, with no request in flight. Returns the measured samples. */
  private def inRounds(lead: Int, share: Int => Seq[Sample]): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    var round = 0
    var start = 0L
    @volatile var stop = false
    val barrier = new CyclicBarrier(clients, () => {
      val now = System.nanoTime()
      if (round == lead) {
        start = now
        measuredFromNs = now; measuredFromMs = System.currentTimeMillis()
      }
      val elapsed = now - start
      if (round > lead && elapsed >= seconds * 1000000000L) {
        if (traced && !trace.recording) {
          trace.drain(); trace.recording = true
          start = now
        } else stop = true
      }
      round += 1
    })
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        barrier.await()
        while (!stop) {
          val r = round
          // a client that throws still meets the others at the barrier
          val ss = try share(c) catch {
            case e: Exception => failures.add(s"client $c: $e"); Nil
          }
          ss.foreach { s =>
            if (r > lead) out.add(s)
            else if (!s.ok) failures.add(s"lead-in ${s.path}: ${s.error}")
          }
          barrier.await()
        }
      }, s"e2ebench-client-$c")
    }
    val sampler = if (traced) Some(threadSampler(() => stop)) else None
    threads.foreach(_.start()); threads.foreach(_.join())
    sampler.foreach(_.join())
    if (traced) { trace.drain(); trace.recording = false }
    out.asScala.toSeq.sortBy(_.startNs)
  }

  /** When the first measured round started: the end of set-up. */
  @volatile private var measuredFromNs, measuredFromMs = 0L

  private def measure(mix: Mix): Seq[Sample] = {
    val streams = (0 until clients).map(mix.stream(_, clients))
    val share = mix.share(clients)
    inRounds(0, c => streams(c).take(share).toSeq.flatMap(runStep))
  }

  private val threadsPeak = new AtomicInteger(0)

  /** Samples the server's busy connection threads (a `graft-http` pool
    * thread with `GraftServer` on its stack; idle ones wait in the pool)
    * until `done`. */
  private def threadSampler(done: () => Boolean): Thread = {
    val t = new Thread(() => {
      var root = Thread.currentThread.getThreadGroup
      while (root.getParent != null) root = root.getParent
      val arr = new Array[Thread](4096)
      while (!done()) {
        if (trace.recording) {
          val n = root.enumerate(arr, true)
          val http = (0 until n).count(i => arr(i).getName == "graft-http" &&
            arr(i).getStackTrace.exists(_.getClassName.startsWith("graft.server.GraftServer")))
          threadsPeak.accumulateAndGet(http, math.max)
        }
        Thread.sleep(20)
      }
    }, "e2ebench-threads")
    t.setDaemon(true); t.start(); t
  }

  // ----------------------------------------------------------------- live

  /** Live writer cadence: a batch of `LiveBatch` events every `LivePeriodMs`
    * (200 events/s), open loop, written 100 ms before a tick of the ingest
    * query's 1 s wall-clock-aligned trigger, so every run sees the same
    * phase between writes and micro-batches. */
  private val LiveBatch = 400
  private val LivePeriodMs = 2000L
  private val LivePhaseMs = 900L
  /** Batches the writer writes at most (256 s of writes); their expected
    * frames are counted during set-up. */
  private val LiveMaxBatches = 128
  /** Untimed reader rounds before the measured ones. */
  private val LiveLead = 1
  private val LiveRib = "ipv4u"
  private val LiveFilter = "10.4.0.0/14"
  private val rawDir = work.resolve("raw")
  private var baseFrames = 0L

  /** The ingest side `Serve` does not wire: raw `events` files land in
    * `raw/`, `Feed.ingest` appends route events to the log, and the server
    * reads the log fresh per request. */
  private def setupLive(base: EventBatch): Unit = {
    Files.createDirectories(rawDir)
    logDir = work.resolve("log").toString
    writeRaw(base, "base")
    val rawSchema = spark.read.parquet(rawDir.toString).schema
    val q = Feed.ingest(spark.readStream.schema(rawSchema).parquet(rawDir.toString),
      logDir, work.resolve("ckpt").toString)
    trace.ingestId = q.id
    q.processAllAvailable()
    val logSchema = spark.read.parquet(logDir).schema
    events = () => spark.read.schema(logSchema).parquet(logDir)
    val ev = events()
    baseFrames = ev.where(col("rib") === LiveRib &&
      FilterCompiler.accept(LiveFilter)).count()
    server = new GraftServer(ServerRoutes(events = events,
      subscribe = subscribe(ev.schema)))
  }

  private val written = new AtomicInteger(0)

  private def writeRaw(b: EventBatch, name: String): Unit = {
    val tmp = rawDir.resolve(s".$name.tmp")
    Gen.writeParquet(b, tmp)
    Files.move(tmp, rawDir.resolve(s"$name.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Batch `i`'s canary history key as the page JSON renders it. */
  private def marker(i: Int): String = {
    val b = Gen.liveBatch(seed, i, LiveBatch)
    s"\"${b.tsMs(b.size - 1)}\":"
  }

  private val livePath =
    s"/api/json/$LiveRib?filter=${java.net.URLEncoder.encode(Gen.CanaryPrefix, UTF_8)}&limit=20"

  /** The writer starts with the readers; their first `LiveLead` rounds are
    * a lead-in (not timed), so the measured rounds see ingest, subscription
    * and a warm page path in steady state. The writer stops at the
    * measured window's deadline (a traced run: when the readers stop), so
    * the last batches' frames arrive while the last round completes. */
  private def measureLive(): Seq[Sample] = {
    val ws = liveWs
    val dumped = ws.count
    Thread.sleep(Math.floorMod(LivePhaseMs - System.currentTimeMillis(), 1000L))
    val wStart = System.nanoTime()
    val writeNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val lateMax = new AtomicLong(0)
    @volatile var published = -1
    @volatile var readersDone = false
    def writing = !readersDone && (traced || measuredFromNs == 0 ||
      System.nanoTime() < measuredFromNs + seconds * 1000000000L)
    trace.backlogNow = () =>
      written.get - math.max(0L, trace.ingestedRows.get - Gen.BaseEvents) / LiveBatch
    val writer = new Thread(() => {
      var i = 0
      while (writing && i < LiveMaxBatches) {
        val due = wStart + i * LivePeriodMs * 1000000L
        val wait = (due - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        if (writing) {
          lateMax.accumulateAndGet((System.nanoTime() - due) / 1000000L, math.max)
          writeRaw(Gen.liveBatch(seed, i, LiveBatch), f"batch-$i%05d")
          writeNs.put(i, System.nanoTime())
          written.incrementAndGet()
          published = i
          i += 1
        }
      }
    }, "e2ebench-writer")
    writer.start()
    // every response shows the canary's newest entries; the log is
    // append-only and ingested in order, so batch j visible means every
    // batch before it is visible too
    val freshPageQ = new ConcurrentLinkedQueue[Double]()
    var seen = -1
    def sawUpTo(top: Int, s: Sample, doc: JsonNode): Unit = synchronized {
      if (s.ok && top > seen) {
        val body = doc.toString
        (top to seen + 1 by -1).find(j => body.contains(marker(j))).foreach { v =>
          (seen + 1 to v).foreach(i => freshPageQ.add((s.endNs - writeNs.get(i)) / 1e6))
          seen = v
        }
      }
    }
    val samples = inRounds(LiveLead, _ => {
      val top = published
      val (s, doc) = issue("live", livePath)
      sawUpTo(top, s, doc)
      Seq(s)
    })
    readersDone = true
    writer.join()
    // the measured phase ends with the feed: ingest, then the subscription,
    // take in every written batch, and both stop before the frames are
    // counted and the heap is measured
    val streams = spark.streams.active.toSeq.sortBy(_.id != trace.ingestId)
    streams.foreach(_.processAllAvailable())
    streams.foreach(_.stop())

    // every batch's frames must arrive; freshness is when the cumulative
    // frame count reaches the batch's running total
    val nBatches = written.get
    val perBatch = expected.take(nBatches)
    val want = dumped + perBatch.sum
    val drainDeadline = System.nanoTime() + 60000000000L
    while (ws.count < want && System.nanoTime() < drainDeadline) Thread.sleep(20)
    val arrivals = ws.frames.asScala.map(_._1).toIndexedSeq
    ws.close()
    server.close()
    if (ws.count != want)
      failures.add(s"ws frames: ${ws.count - dumped} of ${perBatch.sum} expected")
    ws.error.foreach(e => failures.add(s"ws: $e"))
    val freshWs = perBatch.indices.flatMap { i =>
      val need = dumped + perBatch.take(i + 1).sum
      if (perBatch(i) > 0 && arrivals.size >= need)
        Some((arrivals(need.toInt - 1) - writeNs.get(i)) / 1e6)
      else None
    }
    freshPage = freshPageQ.asScala.toSeq
    this.freshWs = freshWs
    report("live") = Map(
      "batches" -> nBatches, "batch_events" -> LiveBatch,
      "period_ms" -> LivePeriodMs, "frames_expected" -> perBatch.sum,
      "frames_received" -> (ws.count - dumped), "gen.late_ms_max" -> lateMax.get)
    liveFrames = (ws.count - dumped, perBatch.sum)
    samples
  }

  private var liveFrames = (0, 0)
  private var expected = IndexedSeq.empty[Int]
  private var freshPage, freshWs = Seq.empty[Double]

  /** WS frames each of the first `n` batches must produce: `fromEvents` +
    * `accept`, counted in-process over the same generated batches. */
  private def expectedFrames(n: Int): IndexedSeq[Int] = {
    if (n == 0) return IndexedSeq.empty
    val dir = work.resolve("expected")
    Files.createDirectories(dir)
    val bs = (0 until n).map(i => Gen.liveBatch(seed, i, LiveBatch))
    Gen.writeParquet(EventBatch(bs.flatMap(_.eventIds).toArray,
      bs.flatMap(_.userIds).toArray, bs.flatMap(_.tsMs).toArray), dir.resolve("all.parquet"))
    val ids = RouteEventGen.fromEvents(spark.read.parquet(dir.toString))
      .where(col("rib") === LiveRib && FilterCompiler.accept(LiveFilter))
      .select(col("event_id")).collect().map(_.getLong(0))
    val batchOf = ids.map(e =>
      if (e >= Gen.CanaryMinId) (e / 320 - Gen.CanaryBase).toInt
      else ((e - Gen.BaseEvents) / (LiveBatch - 1)).toInt)
    (0 until n).map(i => batchOf.count(_ == i))
  }

  // ------------------------------------------------------------- in-process

  /** Traced only: in-process calls on a seeded sample of the traced paths —
    * `FilterParser.parse` and `FilterCompiler.acceptFor` (microseconds,
    * repeated), then `Api.handle` once per path with Spark work counted
    * separately from the HTTP phase. */
  private def inProcess(samples: Seq[Sample]): Map[String, Double] = {
    val tracedOk = samples.filter(s => s.ok && s.traced)
    val r = new SplittableRandom(seed ^ 0x1e9L)
    // one page and one other path when the mix has both
    val paths = tracedOk.map(_.path).distinct.partition(_.startsWith("/api/json/")) match {
      case (pg, other) =>
        def pick(xs: Seq[String], k: Int) = Seq.fill(k)(xs(r.nextInt(xs.size))).distinct
        if (pg.isEmpty) pick(other, 2)
        else if (other.isEmpty) pick(pg, 2)
        else pick(pg, 1) ++ pick(other, 1)
    }
    val pages = paths.filter(_.startsWith("/api/json/"))
    val (parseUs, compileUs) = if (pages.isEmpty) (Double.NaN, Double.NaN) else {
      val fs = pages.map { p =>
        val q = Api.parseQuery(p.substring(p.indexOf('?') + 1))
        (Api.ribName(p.stripPrefix("/api/json/").takeWhile(_ != '?')),
          q.getOrElse("filter", ""))
      }
      val reps = 200
      def time(f: => Unit): Double = {
        val t = System.nanoTime(); var i = 0
        while (i < reps) { f; i += 1 }
        (System.nanoTime() - t) / 1e3 / reps
      }
      val parsed = fs.map { case (rib, f) => (rib, FilterParser.parse(f)) }
      val p = fs.map { case (_, f) => time(FilterParser.parse(f)) }
      val c = parsed.map { case (rib, f) => time(FilterCompiler.acceptFor(rib, f)) }
      (p.sum / p.size, c.sum / c.size)
    }
    val c = new Counters
    trace.counters = c
    trace.recording = true
    val handles = paths.map { p =>
      val rid = reqIds.incrementAndGet(); val sid = trace.nextId()
      trace.attribute(sid, rid)
      val w0 = trace.nowMs; val t0 = System.nanoTime()
      val doc = Api.handle(events(), p)
      val ms = (System.nanoTime() - t0) / 1e6
      trace.attribute(-1, -1)
      trace.span("operators.handle", w0, trace.nowMs, -1, rid, sid)
      inprocBodies(p) = doc.map(d => Gen.sha(d.getBytes(UTF_8))).getOrElse("")
      p -> ms
    }
    trace.drain(); trace.recording = false
    val handleMs = handles.map(_._2).sum / math.max(handles.size, 1)
    val clientMs = handles.map { case (p, _) =>
      val ss = tracedOk.filter(_.path == p); ss.map(_.ms).sum / ss.size }
    Map("filter.parse_us" -> parseUs, "filter.compile_us" -> compileUs,
      "operators.handle_ms" -> handleMs,
      "operators.driver_ms" -> (handleMs - c.jobMs.sum.toDouble / math.max(handles.size, 1)),
      "server.http_ms" -> (clientMs.sum / math.max(clientMs.size, 1) - handleMs))
  }

  private val inprocBodies = scala.collection.mutable.Map[String, String]()

  /** Byte-identity of a seeded sample of responses against in-process
    * `Api.handle` on the same log (read-only workloads). */
  private def checkSample(samples: Seq[Sample]): Unit = if (workload != "live") {
    val ok = samples.filter(_.ok)
    val r = new SplittableRandom(seed ^ 0xc4ecL)
    val pick = if (inprocBodies.nonEmpty) inprocBodies.keys.toSeq
      else if (ok.isEmpty) Nil
      else Seq(ok(r.nextInt(ok.size)).path)
    pick.foreach { p =>
      val want = inprocBodies.getOrElse(p,
        Api.handle(events(), p).map(d => Gen.sha(d.getBytes(UTF_8))).getOrElse(""))
      ok.filter(_.path == p).foreach { s =>
        if (s.bodySha != want) failures.add(s"body mismatch on ${s.path}")
      }
    }
    report("checked_paths") = pick.size
  }

  private def logCounts(): Unit = {
    val ev = events()
    val c = ev.agg(count(lit(1)), countDistinct(col("route_id")),
      countDistinct(col("ring_id"))).collect()(0)
    report("log_rows") = c.getLong(0)
    report("routes") = c.getLong(1)
    report("rings") = c.getLong(2)
    val (files, mb) = dirStats(logDir)
    report("log_files") = files
    report("log_mb") = mb
  }

  // ------------------------------------------------------------ per-layer

  private def perLayer(samples: Seq[Sample], inproc: Map[String, Double],
      materializeS: Double): Map[String, (Double, String)] = {
    val ok = samples.filter(_.ok)
    val (on, off) = ok.partition(_.traced)
    val n = math.max(on.size, 1).toDouble
    val c = httpCounters
    val items = on.map(_.items).sum
    val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "trace.overhead_ms" -> (gm(on) - gm(off), "ms"),
      "server.http_ms" -> (inproc("server.http_ms"), "ms"),
      "server.resp_bytes" -> (on.map(_.bytes).sum / n, "B"),
      "server.threads_peak" -> (threadsPeak.get.toDouble, "count"),
      "filter.parse_us" -> (inproc("filter.parse_us"), "us"),
      "filter.compile_us" -> (inproc("filter.compile_us"), "us"),
      "operators.handle_ms" -> (inproc("operators.handle_ms"), "ms"),
      "operators.driver_ms" -> (inproc("operators.driver_ms"), "ms"),
      "operators.rows_read_per_item" -> (c.inputRows.sum.toDouble / math.max(items, 1), "ratio"),
      "spark.jobs_per_req" -> (c.jobs.sum / n, "count"),
      "spark.stages_per_req" -> (c.stages.sum / n, "count"),
      "spark.tasks_per_req" -> (c.tasks.sum / n, "count"),
      "spark.job_ms_per_req" -> (c.jobMs.sum / n, "ms"),
      "spark.task_ms_per_req" -> (c.taskMs.sum / n, "ms"),
      "spark.input_rows_per_req" -> (c.inputRows.sum / n, "count"),
      "spark.input_mb_per_req" -> (c.inputBytes.sum / n / 1048576.0, "MB"),
      "spark.shuffle_mb_per_req" -> (c.shuffleBytes.sum / n / 1048576.0, "MB"),
      "spark.sched_wait_ms" -> (c.schedWaitMs.sum.toDouble / math.max(c.tasks.sum, 1L), "ms"),
      "catalyst.analysis_ms" -> (c.analysisMs.sum / n, "ms"),
      "catalyst.optimization_ms" -> (c.optimizationMs.sum / n, "ms"),
      "catalyst.planning_ms" -> (c.planningMs.sum / n, "ms"),
      "spark.cached_mb" -> (trace.cachedPeak.get / 1048576.0, "MB"),
      "log.files" -> (report("log_files").asInstanceOf[Int].toDouble, "count"),
      "sources.materialize_s" -> (materializeS, "s"),
      "sources.log_rows" -> (report("log_rows").asInstanceOf[Long].toDouble, "count"),
      "sources.log_mb" -> (report("log_mb").asInstanceOf[Double], "MB"))
    if (workload == "live") {
      def per(s: trace.Stream, f: trace.Stream => Long) =
        f(s).toDouble / math.max(s.batches.sum, 1L)
      val bl = trace.backlog.asScala.map(_.toDouble).toSeq
      report("feed") = Map(
        "feed.ingest_batch_ms" -> per(trace.ingest, _.batchMs.sum),
        "feed.ingest_rows_per_batch" -> per(trace.ingest, _.rows.sum),
        "feed.ingest_backlog_files" -> (if (bl.isEmpty) 0.0 else bl.sum / bl.size),
        "feed.sub_batch_ms" -> per(trace.subs, _.batchMs.sum),
        "feed.sub_rows" -> per(trace.subs, _.rows.sum),
        "ws.frames_ratio" -> liveFrames._1.toDouble / math.max(liveFrames._2, 1))
    }
    m.toMap
  }

  /** Counters of the traced HTTP window ([[inProcess]] swaps in its own). */
  private val httpCounters: Counters = trace.counters
}
