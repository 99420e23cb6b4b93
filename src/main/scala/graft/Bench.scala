package graft
import org.apache.spark.sql.SparkSession

/** Benchmark runner. Prints ONE JSON line with per-query timings and also
  * writes the identical JSON to BENCH_full.json in the working directory so
  * the artifact survives any stdout truncation.
  *
  * Timing protocol: every query runs in REPS round-robin passes (pass 1 runs
  * all queries, then pass 2, ...) and the reported number is the per-query
  * MEDIAN across passes. Round-robin (rather than back-to-back repetition)
  * keeps one query's GC/compile debris from landing on its own later reps,
  * and the median absorbs the first-pass codegen/compile cost. A no-change
  * re-run should stay within ~1.3x per query, which single-shot timing did
  * not (r3->r4 showed 0.19x-4.65x swings on identical code).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Host-speed calibration: a fixed single-thread CPU-bound loop, timed
    // at start and end of the run. The sandbox is a shared VM — whole runs
    // can land in a host-contention episode (observed: a no-change pair
    // with 72/91 queries uniformly ~2× apart). calib_sec makes such
    // episodes visible in the artifact so cross-run comparisons can be
    // normalized instead of mis-read as regressions.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 400000000) { // xorshift64*, ~0.9 s on this host when quiet
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27; i += 1
      }
      if (x == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    // Scheduler-contention probe (VERDICT r10 item 3): the single-thread
    // loop above only sees CPU speed, but the observed 1.8× quiet-run
    // swing on the composed pipeline queries tracks SCHEDULER contention — 32
    // tasks fighting neighbor VMs for cores. This probe runs an actual
    // 32-task map + shuffle + reduce (the shape every bench query has),
    // so its time moves with exactly the resource the queries contend
    // for. Timed after an untimed warmup pass (codegen/classloading
    // otherwise dominates the first run), at run start and end.
    def calibratePar(): Double = {
      // GC ahead of the timed pass: after a few hundred queries the end
      // probe otherwise pays old-gen pressure and reads ~2x its fresh
      // value on a quiet host — JVM aging must not masquerade as host
      // contention (measured r12: fresh-JVM probe 0.35-0.43 s at 32
      // cpus, same probe after 357 query runs 0.67-0.72 s, load ~1)
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0, 8000000L, 1, 32)
        .selectExpr("id % 1024 AS k", "id AS v")
        .groupBy("k").sum("v").count()
      (System.nanoTime() - t0) / 1e9
    }
    // Ambient-drift probe (VERDICT r12 item 5): the r12 final pair carried
    // a measured ~1.7× VM drift on the text/shingle family that BOTH
    // probes above missed — the CPU loop sees core speed, the range-based
    // shuffle sees scheduler slots, but the drifting surface was
    // string/memory-bandwidth work against the filesystem. This probe
    // touches exactly that surface: write a string-heavy parquet to a
    // fresh temp dir, read it back, explode to words and hash-aggregate —
    // the shape of the drifting family (shingle explode + hash exchange +
    // parquet IO), so a leg inflated by that drift class flags itself
    // instead of needing a manual cross-session comparison.
    def calibrateIo(): Double = {
      System.gc()
      val dir = java.nio.file.Files.createTempDirectory("graft_calib_io")
      val t0 = System.nanoTime()
      spark.range(0, 200000L, 1, 32)
        .selectExpr("id",
          "repeat(concat('w', cast(id % 997 as string), ' '), 40) AS text")
        .write.mode("overwrite").parquet(dir.toString)
      spark.read.parquet(dir.toString)
        .selectExpr("explode(split(text, ' ')) AS w")
        .groupBy("w").count().count()
      val sec = (System.nanoTime() - t0) / 1e9
      try { // best-effort cleanup; a leftover temp dir must not fail a leg
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
      sec
    }
    val calibStart = calibrate()
    // warm the JVM/codegen paths (classloading + Janino + parquet reader
    // init cost ~10 s on first action) and the source page cache, so the
    // ingest line measures the derive+write pipeline, not cold-start
    spark.range(1000).selectExpr("sum(id)").collect()
    calibratePar() // warm the probe's codegen before the timed pass
    val calibParStart = calibratePar()
    calibrateIo() // warm the write/read/explode codegen paths
    val calibIoStart = calibrateIo()
    // Fixture identity (VERDICT r10 item 4): recompute the content
    // fingerprint and fail LOUDLY if the directory carries a stale
    // FIXTURE_ID.json pin (a rebuilt target/sf1, a regenerated
    // /root/testdata) — a bench over a changed fixture must not book
    // numbers that read as comparable. Runs before ingest, so it also
    // serves as the page-cache warm for every source table. The
    // fingerprint is computed even without a pin (ADVICE r11 weighed
    // skipping it then): the artifact's `fixture` field is what lets two
    // pinless driver runs be compared for same-fixture after the fact,
    // and the scan doubles as the 10-table cache warm — worth its ~2 s.
    // Guarded so a fingerprint IO failure (missing table, corrupt
    // parquet) still stops the session, like every other failure path.
    val (fixtureFp, fixtureErr) =
      try graft.tools.FixtureId.check(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] fixture fingerprint failed: " +
          Option(e.getMessage).getOrElse(e.getClass.getName))
        spark.stop()
        throw e
      }
    fixtureErr.foreach { msg =>
      System.err.println(s"[bench] $msg")
      spark.stop()
      sys.exit(2)
    }
    try {
      graft.queries.Tables(spark, sfDir, "events").count()
      // compile the derivation expressions once on a bounded slice
      graft.sources.RouteEventGen.fromEvents(
        graft.queries.Tables(spark, sfDir, "events").limit(2000)).count()
    } catch { case _: Throwable => () }
    // Error discipline (VERDICT r8 item 2): a query that throws must NEVER
    // be booked as a timing — r8 recorded six time-to-crash rows that read
    // as an 8× speedup. Failed runs are recorded per-query as `err`,
    // errored queries are excluded from every total, the artifact carries
    // an explicit "errors" list, and the process exits nonzero so the
    // driver's bench step goes red instead of green-with-lies.
    val errors = scala.collection.mutable.Map.empty[String, String]
    def errMsg(e: Throwable): String = {
      val m = Option(e.getMessage).getOrElse(e.getClass.getName)
      m.replaceAll("\\s+", " ").take(160)
    }
    // ingest once (materialize the derived route-event log) so per-query
    // timings measure the queries, not the shared ingest. Not repeated: the
    // second run would measure the page cache, not the pipeline.
    val tIngest0 = System.nanoTime()
    try graft.sources.RouteEventGen.routeEvents(spark, sfDir).count()
    catch { case e: Throwable => errors("ingest_route_events") = errMsg(e) }
    val ingestSec = (System.nanoTime() - tIngest0) / 1e9
    // stable name order: per-query timings comparable across rounds.
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 bounds the run to a named subset (the
    // r17 third-scale-point leg: the slowest families at sf3, where a
    // full-surface pass would burn hours on scale-flat queries); the
    // artifact records the subset in "only" so a bounded leg can never
    // read as full coverage
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // Between-pass contention probes (r18 verdict ask #2): the start/end
    // calib probes bracket ~12 minutes of wall — a mid-run host-contention
    // episode (the r18 driver leg read q_decontam at 18.3 s where five
    // other runs read 1.1–1.7 s, with quiet START/END probes; the spiked
    // queries were alphabetically CONTIGUOUS, i.e. a time-localized
    // episode) is invisible to them. One parallel-shape probe after each
    // pass timestamps the episode so a spiked median can be adjudicated
    // against the probe series instead of being booked as a regression.
    val passProbes = scala.collection.mutable.ListBuffer.empty[Double]
    for (pass <- 1 to reps) {
      System.gc() // start each pass from a comparable heap
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable => errors.getOrElseUpdate(name, errMsg(e)) }
      }
      if (pass < reps) passProbes += calibratePar()
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2) // odd reps -> true median; even -> upper-middle
    }
    def r4(d: Double): Double = math.rint(d * 1e4) / 1e4
    // Per-query [min, median, max] across the round-robin passes: the
    // medians alone cannot distinguish cross-run noise from a real
    // regression after the fact (q_sim_pq swung 4.68 -> 1.33 -> 2.40 s
    // across rounds on unchanged code); with the spread in the artifact
    // that call is decidable without a re-run.
    val spread = names.collect { case (name, _) if samples(name).nonEmpty =>
      val s = samples(name).sorted
      name -> (r4(s.head), r4(median(s)), r4(s.last))
    }.toMap
    // a query is a RESULT only if at least one pass completed; all-passes-
    // failed queries appear solely in "errors" (partial failures keep the
    // successful-pass median and are still flagged)
    val results = names.collect { case (name, _) if samples(name).nonEmpty =>
      name -> r4(median(samples(name)))
    }.toMap ++ (if (errors.contains("ingest_route_events")) Map.empty[String, Double]
                else Map("ingest_route_events" -> r4(ingestSec)))
    // `*_arith` queries are oracle-replica verification paths (portable-hash
    // re-derivations of the xxhash64 production twins), not operators a user
    // would run — split them out so the slowest-PRODUCTION-query reading is
    // immediate from the artifact
    def isReplica(name: String) = name.endsWith("_arith")
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = r4(results.values.sum)
    val prodTotal = r4(results.collect { case (k, v) if !isReplica(k) => v }.sum)
    val replicaTotal = r4(total - prodTotal)
    val replicaList = results.keys.filter(isReplica).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibIoEnd = calibrateIo()
    val calibParEnd = calibratePar()
    val calibEnd = calibrate()
    // Contended-run gate on BOTH probes: cpu anchor 0.84–1.13 s quiet, so
    // the 1.7 cut is ~1.5× the quiet ceiling; the parallel probe's 32
    // fixed tasks spread over `cpus` threads, so its quiet time scales as
    // 32/cpus (measured 0.28 s at 8 cpus → ~0.07 s per thread-slot), cut
    // at ~2× until more anchors accumulate. Either probe over its cut
    // marks the run contended, so per-query deltas read against the probe
    // ratio instead of booking as regressions (SCALE.md "Run-to-run
    // noise").
    // floor at the measured one-wave cost: the linear 32/cpus model only
    // holds while per-thread work dominates (<= 8 cpus, anchor 0.28-0.34
    // s); at 32 cpus the probe's scheduler dispatch + 32-reducer shuffle
    // fixed cost keeps a QUIET fresh-JVM run at 0.35-0.43 s (measured
    // r12, load ~1), so a 0.07 floor would flag every 32-cpu run as
    // contended and the flag would carry no information
    val parQuiet = math.max(0.30, 0.07 * 32.0 / cpus.toInt)
    // End-of-run par probe reads against an AGED quiet anchor: even with
    // the System.gc() ahead of it, a leg that has run ~400 heavy queries
    // leaves the probe at 0.65-0.70 s on a demonstrably quiet host (cpu
    // and io probes flat, start probe 0.32 s — measured r12 six legs, r13
    // two legs; old-gen and code-cache pressure the gc cannot fully
    // reclaim). Cutting the end probe at the fresh anchor flagged every
    // long leg as contended and carried no information — the same lesson
    // as the r12 probe-floor fix, one JVM-age step later. The start probe
    // keeps the fresh cut (a hot start IS contention).
    // Off-host portability (r13 advice item): 0.70 was measured at 32
    // cpus where the fresh floor is 0.30, i.e. aging costs ~2.33× the
    // fresh quiet time. Express the aged anchor as that RATIO over the
    // host's fresh quiet floor so a smaller host (whose parQuiet already
    // scales with 32/cpus) gets a proportionally larger aged allowance
    // instead of being flagged by a 32-cpu constant.
    // Anchor RE-MEASURED round 18 on the grown surface: the 0.70 point
    // was taken at ~357 query runs (r12/r13, ~120-query boards); the
    // board is now 190 queries × 3 reps = 570 runs, and four 32-cpu legs
    // this round read par-end 0.76-0.83 with cpu AND io probes quiet
    // (0.99 only on the one leg whose io probes were also inflated) —
    // the same old-gen/code-cache mechanism, one surface-growth step
    // later, deterministic across ambient states. 0.85 is the quiet
    // ceiling measured at 570 runs; same ratio-over-fresh form.
    val parAgedQuiet = parQuiet * (0.85 / 0.30)
    // io-probe quiet anchor: measured on this host at 32 cpus — a quiet
    // leg reads 0.80 s at run start and up to ~1.1 s at run end (the same
    // JVM-aging drift the parallel probe carries, despite the System.gc).
    // The cut sits at ~2× the aged-quiet ceiling so only the drift class
    // the r12 pair documented (string/bandwidth legs at ~1.7×, which this
    // probe's surface tracks directly) trips it, not the ±15-25% ambient
    // band or end-of-run aging.
    // Scaled like parQuiet (r13 advice item): the probe's explode +
    // hash-agg leg is cpu-parallel, so on fewer cpus a quiet run takes
    // ~32/cpus longer; 1.0 s is the measured 32-cpu aged-quiet ceiling
    // and stays the floor on larger hosts (the parquet IO share does not
    // shrink with more cpus).
    val ioQuiet = math.max(1.0, 1.0 * 32.0 / cpus.toInt)
    val contended = math.max(calibStart, calibEnd) > 1.7 ||
      calibParStart > 2.0 * parQuiet ||
      calibParEnd > 2.0 * parAgedQuiet ||
      math.max(calibIoStart, calibIoEnd) > 2.0 * ioQuiet
    // End-of-round PIN gate (VERDICT r17 ask #2): the cross-round trend
    // line is only as honest as its pin, and the `contended` cut above is
    // deliberately loose (2× aged-quiet) so mid-round iteration legs
    // survive ambient noise without tripping it. A committed SCALEBENCH
    // pin must clear the QUIET band instead — r16's quiet legs read
    // calib_io 0.97-1.35 s, calib_par ≤ 0.70 s, cpu ≤ 1.13 s at 32 cpus,
    // where r17's inflated pin read io 1.61/1.75 s (~18% prod_total
    // ambient inflation). The band scales off the same host anchors as
    // the contended cut. With SPARK_GRAFT_REQUIRE_QUIET set, a leg
    // outside the band EXITS NONZERO (after writing its artifacts) so it
    // cannot be committed as the round's scale pin by accident.
    val quietPin = math.max(calibStart, calibEnd) <= 1.3 &&
      math.max(calibParStart, calibParEnd) <= parAgedQuiet &&
      math.max(calibIoStart, calibIoEnd) <= 1.4 * ioQuiet
    val calibCompact = s""""calib_sec":[${r4(calibStart)},${r4(calibEnd)}],""" +
      s""""calib_par_sec":[${r4(calibParStart)},${r4(calibParEnd)}],""" +
      s""""calib_pass_sec":${passProbes.map(r4).mkString("[", ",", "]")},""" +
      s""""calib_io_sec":[${r4(calibIoStart)},${r4(calibIoEnd)}],""" +
      s""""contended":$contended,"quiet_pin":$quietPin"""
    // fixture identity only on the full artifact: the compact stdout line
    // must stay under the driver's ~2 KB tail window
    val calib = calibCompact + s""","fixture":$fixtureFp"""
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val errField = """"errors":""" + errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val spreadField = """"spread":""" + spread.toSeq.sortBy(_._1)
      .map { case (k, (mn, md, mx)) => s"\"$k\":[$mn,$md,$mx]" }
      .mkString("{", ",", "}")
    val onlyField = only.map(s => s""""only":${s.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")},""").getOrElse("")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,$onlyField"prod_total":$prodTotal,"replica_total":$replicaTotal,"replica_queries":$replicaList,$errField,$spreadField,$calib}"""
    println(line)
    // full artifact on disk: immune to stdout head/tail truncation
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_full.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    // The full line above (~3 KB for ~90 queries) overflows the driver's
    // 2 KB stdout-tail capture, so its head gets chopped and the parse
    // fails. Emit a compact summary as the TRUE LAST stdout line (after
    // spark.stop()'s shutdown chatter): headline totals + the slowest
    // production queries, well under the tail window even with sbt's
    // trailing [success] banner.
    val slowest = results.toSeq.filterNot(kv => isReplica(kv._1))
      .sortBy(-_._2).take(20).sortBy(_._1)
    val slowestProd = slowest
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // min-of-reps alongside the medians (r18 verdict ask #2, additions
    // only): a host-contention episode inflates a query's median when it
    // covers 2 of 3 round-robin samples, but almost never all three — the
    // min is the episode-robust reading. `queries` stays the median (the
    // cross-round comparable), `queries_min` is the adjudication column.
    val slowestProdMin = slowest
      .map { case (k, _) =>
        s"\"" + k + "\":" + spread.get(k).map(_._1).getOrElse(results(k)) }
      .mkString("{", ",", "}")
    val prodTotalMin = r4(results.collect { case (k, v) if !isReplica(k) =>
      spread.get(k).map(_._1).getOrElse(v) }.sum)
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$slowestProd,"sf":"$sfDir","reps":$reps,"prod_total":$prodTotal,"prod_total_min":$prodTotalMin,"queries_min":$slowestProdMin,"replica_total":$replicaTotal,$calibCompact,"n_errors":${errors.size},"n_errors_prod":${errors.keys.count(k => !isReplica(k))},"n_queries":${results.size},"queries_shown":"slowest 20 of ${results.size} production; full map in BENCH_full.json"}""")
    // a broken production query means the bench artifact is incomplete:
    // fail the step rather than let an N-queries-short total read as a win
    // the exit condition counts only PRODUCTION errors (incl. ingest);
    // replica-oracle errors are reported but never fail the step — name
    // both sets explicitly so the message can't overstate what failed
    val prodErrs = errors.keys.filterNot(isReplica).toSeq.sorted
    if (prodErrs.nonEmpty) {
      val replicaErrs = errors.keys.filter(isReplica).toSeq.sorted
      System.err.println(s"[bench] ${prodErrs.size} production queries errored: " +
        prodErrs.mkString(", ") +
        (if (replicaErrs.nonEmpty)
          s" (plus ${replicaErrs.size} replica: ${replicaErrs.mkString(", ")})"
        else ""))
      sys.exit(1)
    }
    if (sys.env.contains("SPARK_GRAFT_REQUIRE_QUIET") && !quietPin) {
      System.err.println(f"[bench] quiet-pin gate failed: cpu=[$calibStart%.2f," +
        f"$calibEnd%.2f] par=[$calibParStart%.2f,$calibParEnd%.2f] " +
        f"io=[$calibIoStart%.2f,$calibIoEnd%.2f] — artifacts written, but " +
        "re-run on a quiet machine before pinning this leg")
      sys.exit(2)
    }
  }
}
