package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkTestBase
import graft.filter.FilterParser
import graft.model._

/** History-view semantics: retention ring, OnlyDiffer dedup, response
  * filter, and the P5 existential match with the reference's maxdepth-skip
  * quirk (FIXTURES.md f_history; reference src/bgprib.rs:326-341, 663-679,
  * src/ribfilter.rs:581-619). */
class RibViewsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def ev(ts: Long, active: Boolean, hash: Long,
      comm: Option[Community] = None, sess: Int = 0): RouteEvent = {
    val attrs = Model.emptyAttrs.copy(comms = comm.toSeq)
    RouteEvent(new java.sql.Timestamp(ts), "ipv4u", sess, 0L, active,
      Some(Model.v4("10.0.0.0", 24)), Some("10.0.0.0/24"), None, None,
      None, None, None, None, attrs, hash)
  }

  private def df(evs: Seq[RouteEvent]): DataFrame = {
    val s = spark
    import s.implicits._
    s.createDataset(evs).toDF()
  }

  // f_history: 12 sequential updates, 3 distinct attr values interleaved,
  // then 1 withdraw carrying the prior attrs
  private val base = 1700000000000L
  private val historyRows: Seq[RouteEvent] = {
    val hashes = Seq(1L, 1L, 2L, 2L, 2L, 3L, 1L, 1L, 3L, 3L, 2L, 2L)
    hashes.zipWithIndex.map { case (h, i) => ev(base + i * 1000, active = true, h) } :+
      ev(base + 12000, active = false, 2L) // withdraw keeps last attrs
  }

  test("retention keeps newest N per ring (EveryUpdate mode)") {
    val kept = RibViews.retained(df(historyRows), 10)
    assert(kept.count() == 10)
    val minTs = kept.agg(org.apache.spark.sql.functions.min("ts")).collect()(0)
      .getTimestamp(0).getTime
    assert(minTs == base + 3000) // rows 0..2 trimmed
  }

  test("OnlyDiffer keeps only change points and the withdraw flip") {
    val kept = RibViews.onlyDiffer(df(historyRows))
    // change points: 1,2,3,1,3,2 then active flip (hash unchanged)
    assert(kept.count() == 7)
    val first = RibViews.onlyDiffer(df(historyRows))
      .orderBy("ts").collect().map(_.getAs[Long]("attrs_hash")).toSeq
    assert(first == Seq(1L, 2L, 3L, 1L, 3L, 2L, 2L))
  }

  test("current view hides withdrawn rings") {
    assert(RibViews.current(df(historyRows)).count() == 0) // newest is withdraw
    val alive = historyRows.dropRight(1)
    assert(RibViews.current(df(alive)).count() == 1)
  }

  test("asofJoin attaches the newest strictly-earlier state per key") {
    val s = spark
    import s.implicits._
    val states = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "x"))
      .toDF("k", "t", "v")
    val probes = Seq(
      (1L, 5L, "p0"), // before everything → null
      (1L, 10L, "p1"), // equal ts → strict: still null
      (1L, 15L, "p2"), // after a → "a"
      (1L, 25L, "p3"), // after b → "b"
      (2L, 16L, "p4"), // → "x"
      (3L, 99L, "p5")) // key with no states → null
      .toDF("k", "t", "tag")
    val got = Temporal.asofJoin(probes, states, "k", "t", "v")
      .select(col("tag"), col("asof_value"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("p0" -> None, "p1" -> None, "p2" -> Some("a"),
      "p3" -> Some("b"), "p4" -> Some("x"), "p5" -> None))
  }

  test("asofJoin carries a NULL-VALUED state instead of skipping past it") {
    val s = spark
    import s.implicits._
    // state at t=20 has v=NULL: the probe at t=25 must observe NULL (the
    // newest earlier state), NOT "a" — last(ignoreNulls) over a bare value
    // column would skip the null state and resurrect the older one
    val states = Seq((1L, 10L, Some("a")), (1L, 20L, None))
      .toDF("k", "t", "v")
    val probes = Seq((1L, 15L, "p1"), (1L, 25L, "p2")).toDF("k", "t", "tag")
    val got = Temporal.asofJoin(probes, states, "k", "t", "v")
      .select(col("tag"), col("asof_value"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("p1" -> Some("a"), "p2" -> None))
  }

  test("asOf time-travel: newest active record at or before t") {
    val d = df(historyRows)
    // at t = base+5000 the newest record is row 5 (active, hash 3)
    val mid = RibViews.asOf(d, base + 5000).collect()
    assert(mid.length == 1 && mid(0).getAs[Long]("attrs_hash") == 3L)
    // at the withdraw instant the ring is dead
    assert(RibViews.asOf(d, base + 12000).count() == 0)
    // before the first update: nothing existed
    assert(RibViews.asOf(d, base - 1).count() == 0)
    // asOf(∞) ≡ current
    assert(RibViews.asOf(d, Long.MaxValue / 2).count() ==
      RibViews.current(d).count())
  }

  test("pathOrigin: empty as_list yields null, never an ANSI throw") {
    // emptyAttrs carries as_list = Nil — the legal zero-length AS_PATH of
    // an iBGP-originated route; a bare element_at(as_list, -1) THROWS on
    // it under Spark 4's default ANSI mode (the review-caught crash in
    // the origin analytics), the size-guarded column nulls
    val empties = df(historyRows.take(2))
      .select(RibViews.pathOrigin.as("o")).collect()
    assert(empties.forall(_.isNullAt(0)))
    val withPath = df(historyRows.take(1))
      .withColumn("attrs", org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(100L),
          org.apache.spark.sql.functions.lit(65001L)).as("as_list")))
      .select(RibViews.pathOrigin.as("o")).collect()
    assert(withPath.head.getLong(0) == 65001L)
  }

  test("diff classifies added/withdrawn/changed between two instants") {
    val t1 = base + 5000; val t2 = base + 20000
    val rows = Seq(
      // ring 0: active h=1 at t1, active h=2 at t2 -> changed; the event
      // beyond t2 (withdraw) must be invisible to the compare
      ev(base + 1000, active = true, 1L, sess = 0),
      ev(base + 10000, active = true, 2L, sess = 0),
      ev(base + 30000, active = false, 9L, sess = 0),
      // ring 1: active at t1, withdrawn by t2
      ev(base + 2000, active = true, 3L, sess = 1),
      ev(base + 11000, active = false, 3L, sess = 1),
      // ring 2: born after t1 -> added
      ev(base + 12000, active = true, 4L, sess = 2),
      // ring 3: unchanged active state across both instants -> no row
      ev(base + 3000, active = true, 5L, sess = 3),
      // ring 4: withdrawn at t1, re-advertised by t2 -> added
      ev(base + 1000, active = true, 6L, sess = 4),
      ev(base + 4000, active = false, 6L, sess = 4),
      ev(base + 13000, active = true, 7L, sess = 4))
    val got = RibViews.diff(df(rows), t1, t2)
      .select(col("session_id"), col("change")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(0 -> "changed", 1 -> "withdrawn", 2 -> "added",
      4 -> "added"))
  }

  test("response filter: onlyactive and half-open time bounds") {
    val d = df(historyRows)
    assert(RibViews.responseFilter(d, onlyActive = true, None, None).count() == 12)
    assert(RibViews.responseFilter(d, onlyActive = false,
      Some(base + 2000), Some(base + 5000)).count() == 2) // ts in (2000,5000)
  }

  test("historyExists honors maxdepth with the reference skip quirk") {
    // key with 5 entries; only the OLDEST carries the matching community
    val c = Community(100, 1)
    val rows = Seq(
      ev(base, active = true, 1L, Some(c)),
      ev(base + 1000, active = true, 2L),
      ev(base + 2000, active = true, 3L),
      ev(base + 3000, active = true, 4L),
      ev(base + 4000, active = true, 5L))
    val f = FilterParser.parse("community:100:1")
    // maxdepth 2: only the newest 2 entries are consulted → no match
    assert(RibViews.historyExists(df(rows), f, maxDepth = 2).count() == 0)
    // maxdepth 10: the old matching entry is visible → whole ring returned
    assert(RibViews.historyExists(df(rows), f, maxDepth = 10).count() == 5)
    // skip quirk: skip = len(all) - maxdepth applied AFTER the response
    // filter (reference src/ribfilter.rs:593-605): with onlyActive and one
    // inactive row among 5, maxdepth 4 skips 5-4=1 of the 4 passing rows
    val rows2 = Seq(
      ev(base, active = true, 1L, Some(c)),
      ev(base + 1000, active = false, 2L),
      ev(base + 2000, active = true, 3L),
      ev(base + 3000, active = true, 4L),
      ev(base + 4000, active = true, 5L))
    assert(RibViews.historyExists(df(rows2), f, maxDepth = 4,
      onlyActive = true).count() == 0) // oldest (matching) active row skipped
    assert(RibViews.historyExists(df(rows2), f, maxDepth = 5,
      onlyActive = true).count() == 5)
  }

  test("pagination is deterministic in NLRI order") {
    val rows = (0 until 30).map { i =>
      val p = Model.v4(s"10.0.$i.0", 24)
      RouteEvent(new java.sql.Timestamp(base + i), "ipv4u", 0, 0L, active = true,
        Some(p), Some(Model.pfxStr(p)), None, None, None, None, None, None,
        Model.emptyAttrs, 0L)
    }
    val page = RibViews.page(df(rows), skip = 10, limit = 5)
      .select("prefix_str").collect().map(_.getString(0)).toSeq
    assert(page == (10 until 15).map(i => s"10.0.$i.0/24"))
  }

  test("keyset continuation pages equal skip/limit pages") {
    val rows = (0 until 30).map { i =>
      val p = Model.v4(s"10.0.$i.0", 24)
      RouteEvent(new java.sql.Timestamp(base + i), "ipv4u", 0, 0L, active = true,
        Some(p), Some(Model.pfxStr(p)), None, None, None, None, None, None,
        Model.emptyAttrs, 0L)
    }
    val d = df(rows)
    // first page without a token, then resume from its last row's token
    val p1 = RibViews.pageAfter(d, None, 10)
    assert(p1.select("prefix_str").collect().map(_.getString(0)).toSeq ==
      (0 until 10).map(i => s"10.0.$i.0/24"))
    val lastTok = p1.select(RibViews.pageToken().as("t"))
      .orderBy(org.apache.spark.sql.functions.col("t").desc).limit(1)
      .collect()(0).getStruct(0)
    val fields = lastTok.schema.fields
    val tokLit = org.apache.spark.sql.functions.struct(
      fields.indices.map(i =>
        org.apache.spark.sql.functions.lit(lastTok.get(i))
          .cast(fields(i).dataType).as(s"k$i")): _*)
    val p2 = RibViews.pageAfter(d, Some(tokLit), 10)
      .select("prefix_str").collect().map(_.getString(0)).toSeq
    assert(p2 == RibViews.page(d, skip = 10, limit = 10)
      .select("prefix_str").collect().map(_.getString(0)).toSeq)
  }

  test("rateAnomalies: exact integer z-score flags the spike day only") {
    val s = spark
    import s.implicits._
    val day = 86400000L
    def rows(uid: Long, counts: Seq[Int]): Seq[(Long, java.sql.Timestamp)] =
      counts.zipWithIndex.flatMap { case (c, d) =>
        (0 until c).map(i =>
          (uid, new java.sql.Timestamp(base + d * day + i * 1000L)))
      }
    // A: one true spike (z = 125/sqrt(3125/6)... > 2); B: constant (zero
    // variance flags nothing); C: single day (n < 2 excluded); D: mild
    // outlier below the threshold (max z with n=4 is sqrt(3) < 2)
    val df = (rows(1L, Seq(5, 5, 5, 5, 5, 30)) ++ rows(2L, Seq(7, 7, 7)) ++
      rows(3L, Seq(9)) ++ rows(4L, Seq(5, 5, 5, 20)))
      .toDF("user_id", "ts")
    val got = Temporal.rateAnomalies(df, "user_id", "ts", zX1000 = 2000L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 30L, 6L)))
    // at a looser threshold the n=4 outlier (z = sqrt(3)) appears too
    val loose = Temporal.rateAnomalies(df, "user_id", "ts", zX1000 = 1700L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(loose == Set((1L, 30L), (4L, 20L)))
  }

  test("asAdjacency counts events/prefixes/actives per consecutive-ASN edge") {
    def mk(ts: Long, asns: Seq[Long], addr: String, active: Boolean) = {
      val p = Model.v4(addr, 24)
      RouteEvent(new java.sql.Timestamp(ts), "ipv4u", 0, 0L, active,
        Some(p), Some(Model.pfxStr(p)), None, None, None, None, None, None,
        Model.emptyAttrs.copy(as_list = asns), 0L)
    }
    val rows = Seq(
      mk(base, Seq(1L, 2L, 3L), "10.0.0.0", active = true),
      mk(base + 1, Seq(1L, 2L), "10.0.1.0", active = true),
      mk(base + 2, Seq(2L, 3L), "10.0.0.0", active = false),
      mk(base + 3, Seq(7L), "10.0.2.0", active = true)) // 1 ASN: no edges
    val got = RibViews.asAdjacency(df(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      (1L, 2L) -> ((2L, 2L, 2L)),
      (2L, 3L) -> ((2L, 1L, 1L))))
  }

  test("bogonAudit: special-purpose classes, clean fallback, withdrawn hidden") {
    def rt(ts: Long, rib: String, p: IpPfx, sess: Int = 0,
        active: Boolean = true) =
      RouteEvent(new java.sql.Timestamp(ts), rib, sess, 0L, active,
        Some(p), Some(Model.pfxStr(p)), None, None, None, None, None, None,
        Model.emptyAttrs, 0L)
    val rows = Seq(
      rt(base, "ipv4u", Model.v4("10.1.2.0", 24)),          // rfc1918-10
      rt(base, "ipv4u", Model.v4("10.1.2.0", 24), sess = 1), // 2nd route, same prefix
      rt(base, "ipv4u", Model.v4("8.8.8.0", 24)),            // clean
      rt(base, "ipv4u", Model.v4("192.168.7.0", 24)),        // rfc1918-192
      rt(base, "ipv4m", Model.v4("224.1.0.0", 16)),          // multicast
      rt(base, "ipv4u", Model.v4("127.0.0.0", 8), sess = 2,
        active = false),                                     // withdrawn: hidden
      rt(base, "ipv6u", Model.v6(0x2001000000000005L, 0L, 64)), // teredo
      rt(base, "ipv6u", Model.v6(0x2600L << 48, 0L, 48)))    // clean v6
    val got = RibViews.bogonAudit(df(rows), RibViews.bogonDim(spark))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("ipv4u", "v4-rfc1918-10") -> ((2L, 1L)),
      ("ipv4u", "clean") -> ((1L, 1L)),
      ("ipv4u", "v4-rfc1918-192") -> ((1L, 1L)),
      ("ipv4m", "v4-multicast") -> ((1L, 1L)),
      ("ipv6u", "v6-teredo") -> ((1L, 1L)),
      ("ipv6u", "clean") -> ((1L, 1L))))
  }

  test("bogonClassFor equals the Scala range model on random addresses") {
    val s = spark
    import s.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    // random v4 addresses biased into special ranges plus uniform noise,
    // and random v6 upper-64s around each range's base
    val v4Gen = Gen.oneOf(
      Gen.choose(0L, 4294967295L),
      Gen.oneOf(RibViews.standardBogonRanges.filter(_._2 == 4))
        .flatMap { case (_, _, lo, hi, _) => Gen.choose(lo, hi) })
    val v6Gen = Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(RibViews.standardBogonRanges.filter(_._2 == 6))
        .flatMap { case (_, _, lo, hi, _) => Gen.choose(lo, hi) })
    val rows = (0 until 60).map { i =>
      if (i % 2 == 0) (4, sample(v4Gen, 40L + i))
      else (6, sample(v6Gen, 40L + i))
    }
    def model(ver: Int, addr: Long): String =
      RibViews.standardBogonRanges
        .find { case (_, v, lo, hi, _) =>
          v == ver && addr >= lo && addr <= hi }
        .map(_._1).getOrElse("clean")
    val got = rows.toDF("ver", "addr")
      .select(RibViews.bogonClassFor(col("ver"), col("addr")).as("c"))
      .as[String].collect().toSeq
    rows.zip(got).foreach { case ((v, a), c) =>
      assert(c == model(v, a), s"ver $v addr $a")
    }
  }

  test("rpkiVerdictFor equals the RFC 6811 Scala model on random routes") {
    // the r17 ANSI-hazard discipline (the bogonClassFor precedent): the
    // scan-local literal-array kernel vs an independently-written Scala
    // model of covering/origin/length, over random (ip, plen, origin) ×
    // random ROA sets — including the edges the RIB fixture never
    // plants: plen 0, /32 host routes, rplen 0 catch-all ROAs, empty
    // covering sets, and multi-ROA conflicts where valid must win
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1711)
    def model(ip: Long, plen: Long, origin: Long,
        roas: Seq[(Long, Long, Long, Long)]): String = {
      val covering = roas.filter { case (rip, rplen, _, _) =>
        rplen <= plen &&
          (ip >> (32 - rplen).toInt) == (rip >> (32 - rplen).toInt) }
      if (covering.exists(r => r._4 == origin && plen <= r._3)) "valid"
      else if (covering.exists(r => r._4 == origin)) "invalid_length"
      else if (covering.nonEmpty) "invalid_origin"
      else "not_found"
    }
    for (trial <- 0 until 3) {
      // tight value spaces so every verdict class actually occurs
      val roas = (0 until 10).map { _ =>
        (rnd.nextInt(16).toLong << 28, rnd.nextInt(9).toLong * 4,
          8L + rnd.nextInt(25), 100L + rnd.nextInt(4))
      }
      val rows = (0 until 120).map { _ =>
        (rnd.nextInt(16).toLong << 28 | rnd.nextLong(1L << 28),
          rnd.nextInt(33).toLong, 100L + rnd.nextInt(4))
      }
      val got = rows.toDF("ip", "plen", "origin")
        .select(RibViews.rpkiVerdictFor(col("ip"), col("plen"),
          col("origin"), roas).as("v"))
        .as[String].collect().toSeq
      rows.zip(got).foreach { case ((ip, plen, o), v) =>
        assert(v == model(ip, plen, o, roas),
          s"trial $trial ip $ip plen $plen origin $o roas $roas")
      }
      assert(got.toSet.size >= 3, s"trial $trial verdict diversity: $got")
    }
  }

  test("bogonNexthops: attribute-side classes, clean and v6 nexthops") {
    def rt(rib: String, pfx: IpPfx, nh: IpPfx, sess: Int = 0) =
      RouteEvent(new java.sql.Timestamp(base), rib, sess, 0L, active = true,
        Some(pfx), Some(Model.pfxStr(pfx)), None, None, None, None, None,
        None, Model.emptyAttrs.copy(nexthop = Some(nh)), 0L)
    val rows = Seq(
      rt("ipv4u", Model.v4("8.8.4.0", 24), Model.v4("192.168.2.7", 32)),
      rt("ipv4u", Model.v4("8.8.5.0", 24), Model.v4("192.168.2.7", 32),
        sess = 1),                                     // same martian nh
      rt("ipv4u", Model.v4("8.8.6.0", 24), Model.v4("203.0.112.1", 32)),
      rt("ipv6u", Model.v6(0x2600L << 48, 0L, 48),
        Model.v6(0xfe80L << 48, 1L, 64)))              // v6 link-local nh
    val got = RibViews.bogonNexthops(df(rows), RibViews.bogonDim(spark))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("ipv4u", "v4-rfc1918-192") -> ((2L, 1L)),  // 2 routes, 1 distinct nh
      ("ipv4u", "clean") -> ((1L, 1L)),           // 203.0.112.x: NOT test-net-3
      ("ipv6u", "v6-link-local") -> ((1L, 1L))))
  }

  test("aggregateRoutes: sibling cascade, key isolation, no covered-elide") {
    val s = spark
    import s.implicits._
    val b = 167772160L // 10.0.0.0
    val routes = Seq(
      // four /26s, same key → cascade to one /24 (two rounds)
      ("ipv4u", b, 26L, 1L), ("ipv4u", b + 64L, 26L, 1L),
      ("ipv4u", b + 128L, 26L, 1L), ("ipv4u", b + 192L, 26L, 1L),
      // sibling /25s with DIFFERENT keys: must not merge
      ("ipv4u", b + 256L, 25L, 2L), ("ipv4u", b + 384L, 25L, 1L),
      // plain one-round pair
      ("ipv4u", b + 512L, 24L, 1L), ("ipv4u", b + 768L, 24L, 1L),
      // more-specific covered by the /24 the cascade produces: survives
      ("ipv4u", b + 32L, 27L, 1L))
      .toDF("rib", "ip", "plen", "attr_key")
    val got = RibViews.aggregateRoutes(routes).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (b, 24L, 1L),            // the cascaded /24
      (b + 32L, 27L, 1L),      // covered more-specific NOT elided
      (b + 256L, 25L, 2L), (b + 384L, 25L, 1L),
      (b + 512L, 23L, 1L)))    // the one-round merge
  }

  test("aggregateRoutes invariants on random route sets: space preserved, fixpoint complete") {
    val s = spark
    import s.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val base = 167772160L // 10.0.0.0; universe 10.0.0.0/16
    val routeGen = for {
      plen <- Gen.choose(24, 32)
      block <- Gen.choose(0, (1 << (plen - 16)) - 1)
      key <- Gen.choose(1L, 2L)
    } yield (base + block.toLong * (1L << (32 - plen)), plen.toLong, key)
    (0 until 5).foreach { trial =>
      val routes = sample(Gen.listOfN(60, routeGen), 1000L + trial)
      val in = routes.map { case (ip, pl, k) => ("ipv4u", ip, pl, k) }
        .toDF("rib", "ip", "plen", "attr_key")
      val out = RibViews.aggregateRoutes(in).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      // 1. covered address space per key is EXACTLY preserved
      def space(rs: Seq[(Long, Long, Long)], key: Long): Set[Long] =
        rs.filter(_._3 == key).flatMap { case (ip, pl, _) =>
          (0L until (1L << (32 - pl))).map(ip + _) }.toSet
      Seq(1L, 2L).foreach { k =>
        assert(space(routes, k) == space(out.toSeq, k), s"trial $trial key $k")
      }
      // 2. fixpoint completeness: no mergeable sibling pair remains
      val left = out.groupBy { case (ip, pl, k) =>
        (pl, k, ip - ((ip >> (32 - pl)) % 2) * (1L << (32 - pl))) }
        .filter { case (_, v) =>
          v.map { case (ip, pl, _) => (ip >> (32 - pl)) % 2 }.toSet.size == 2 }
      assert(left.isEmpty, s"trial $trial unmerged siblings: $left")
    }
  }

  test("updateBursts: gap splits, exact gap stays, flips in-burst only") {
    val s = spark
    import s.implicits._
    def t(ms: Long) = new java.sql.Timestamp(base + ms)
    val rows = Seq(
      // p1: T,F within 500ms (flip), F at exact gap (stays, no flip),
      // then T after 2500ms (> gap: new burst; boundary flip NOT counted)
      ("ipv4u", "10.0.0.0/24", t(0), 1L, true),
      ("ipv4u", "10.0.0.0/24", t(500), 2L, false),
      ("ipv4u", "10.0.0.0/24", t(1500), 3L, false),
      ("ipv4u", "10.0.0.0/24", t(4000), 4L, true),
      // p2: lone event
      ("ipv4u", "10.0.1.0/24", t(0), 5L, true))
      .toDF("rib", "prefix_str", "ts", "event_id", "active")
    val got = RibViews.updateBursts(rows, gapMs = 1000L).collect()
      .map(r => (r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == Map(
      ("10.0.0.0/24", 1L) -> ((base, 3L, 1L, 1500L)),
      ("10.0.0.0/24", 2L) -> ((base + 4000L, 1L, 0L, 0L)),
      ("10.0.1.0/24", 1L) -> ((base, 1L, 0L, 0L))))
  }

  test("updateBursts equals the fold model on random event sequences") {
    val s = spark
    import s.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val gap = 100L
    // random per-prefix event sequences: jittered inter-arrivals around
    // the gap (exact-gap ties included), random flags
    val seqGen = Gen.listOfN(12, Gen.zip(Gen.choose(1L, 200L), Gen.oneOf(true, false)))
    val rows = (0 until 8).flatMap { p =>
      val evs = sample(seqGen, 500L + p)
      evs.scanLeft((0L, true)) { case ((t, _), (d, a)) => (t + d, a) }.tail
        .zipWithIndex.map { case ((t, a), i) =>
          ("ipv4u", s"10.0.$p.0/24", new java.sql.Timestamp(base + t),
            (p * 100 + i).toLong, a) }
    }
    // independent fold model
    case class B(idx: Long, start: Long, last: Long, n: Long, flips: Long,
        lastA: Boolean)
    val model = rows.groupBy(_._2).flatMap { case (pfx, evs) =>
      val sorted = evs.sortBy(e => (e._3.getTime, e._4))
      val closed = scala.collection.mutable.Buffer.empty[(String, Long, Long, Long, Long, Long)]
      var cur: B = null
      sorted.foreach { e =>
        val t = e._3.getTime
        if (cur == null) cur = B(1, t, t, 1, 0, e._5)
        else if (t - cur.last > gap) {
          closed += ((pfx, cur.idx, cur.start, cur.n, cur.flips, cur.last - cur.start))
          cur = B(cur.idx + 1, t, t, 1, 0, e._5)
        } else cur = B(cur.idx, cur.start, t, cur.n + 1,
          cur.flips + (if (e._5 != cur.lastA) 1 else 0), e._5)
      }
      closed += ((pfx, cur.idx, cur.start, cur.n, cur.flips, cur.last - cur.start))
      closed
    }.toSet
    val got = RibViews.updateBursts(
      rows.toDF("rib", "prefix_str", "ts", "event_id", "active"), gapMs = gap)
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    assert(got == model)
  }

  test("aggregatableSiblings: both halves, same origin+nexthop, current only") {
    def rt(ts: Long, addr: String, plen: Int, origin: Long, nh: String,
        active: Boolean = true) = {
      val p = Model.v4(addr, plen)
      RouteEvent(new java.sql.Timestamp(ts), "ipv4u", 0, 0L, active,
        Some(p), Some(Model.pfxStr(p)), None, None, None, None, None, None,
        Model.emptyAttrs.copy(as_list = Seq(100L, origin),
          nexthop = Some(Model.v4(nh, 32))), 0L)
    }
    val rows = Seq(
      // aggregatable /24 pair
      rt(base, "10.0.0.0", 24, 65001L, "192.0.2.1"),
      rt(base + 1, "10.0.1.0", 24, 65001L, "192.0.2.1"),
      // sibling pair with MISMATCHED origins: not aggregatable
      rt(base + 2, "10.0.2.0", 24, 65001L, "192.0.2.1"),
      rt(base + 3, "10.0.3.0", 24, 65002L, "192.0.2.1"),
      // lone prefix
      rt(base + 4, "10.1.0.0", 24, 65001L, "192.0.2.1"),
      // sibling withdrawn in its newest record: current() excludes it
      rt(base + 5, "10.2.0.0", 24, 65001L, "192.0.2.1"),
      rt(base + 6, "10.2.0.0", 24, 65001L, "192.0.2.1", active = false),
      rt(base + 7, "10.2.1.0", 24, 65001L, "192.0.2.1"),
      // aggregatable /28 pair (sibling bit 16)
      rt(base + 8, "10.5.0.0", 28, 65003L, "192.0.2.9"),
      rt(base + 9, "10.5.0.16", 28, 65003L, "192.0.2.9"))
    val got = RibViews.aggregatableSiblings(df(rows)).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    def ip(a: Int, b: Int, c: Int, d: Int): Long =
      (a.toLong << 24) + (b << 16) + (c << 8) + d
    assert(got == Set(
      ("ipv4u", 24, ip(10, 0, 0, 0), 65001L, 2L, 2L),
      ("ipv4u", 28, ip(10, 5, 0, 0), 65003L, 2L, 2L)))
    // strict forwarding equivalence: adding the nexthop key keeps both
    // pairs (shared nexthop within each), and a nexthop mismatch splits one
    val strict = RibViews.aggregatableSiblings(df(rows),
      extraKeys = Seq("nh_ip" -> col("attrs.nexthop.ip_lo")))
    assert(strict.count() == 2)
    val mixedNh = rows.updated(9,
      rt(base + 9, "10.5.0.16", 28, 65003L, "192.0.2.10"))
    assert(RibViews.aggregatableSiblings(df(mixedNh),
      extraKeys = Seq("nh_ip" -> col("attrs.nexthop.ip_lo"))).count() == 1)
  }

  test("range-prune hint never changes scan results (O2 equivalence)") {
    val events = graft.queries.Tables(spark, "/root/testdata/sf0.001", "events")
    // materialized (as the production log is): composing the acceptance
    // tree directly over the inline derivation CASE trees exceeds Janino's
    // method limit, and SparkTestBase runs with codegen fallback DISABLED
    val d = graft.sources.RouteEventGen.fromEvents(events).localCheckpoint()
    Seq("10.4.0.0/14", "224.8.0.0/13", "2001:0:a::/48", "10.3.9.50",
      "rd:101:1000 10.4.0.0/14", "232.3.0.0/16", "ff05:0:a::/48",
      "172.17.0.0/16").foreach { f =>
      val withHint = RibViews.scan(d, f).count()
      val withoutHint = d.where(graft.filter.FilterCompiler.accept(f)).count()
      assert(withHint == withoutHint, s"prune hint changed results for '$f'")
    }
    // supernet path: candidate-network IN-list vs bare tri-state acceptance
    Seq("10.3.9.50", "10.0.9.77", "2001:0:a::/48", "rd:101:1000").foreach { f =>
      val withHint = RibViews.scanSuper(d, f).count()
      val bare = d.where(graft.filter.FilterCompiler.acceptSuper(f)).count()
      assert(withHint == bare, s"supernet hint changed results for '$f'")
    }
  }

  test("supernet top-k orders by specificity") {
    val rows = Seq(
      ("10.0.0.0", 8), ("10.0.0.0", 16), ("10.0.0.0", 24), ("11.0.0.0", 8))
      .zipWithIndex.map { case ((a, l), i) =>
        val p = Model.v4(a, l)
        RouteEvent(new java.sql.Timestamp(base + i), "ipv4u", 0, 0L, active = true,
          Some(p), Some(Model.pfxStr(p)), None, None, None, None, None, None,
          Model.emptyAttrs, 0L)
      }
    val topk = RibViews.supernetTopK(df(rows), "10.0.0.1", 2)
      .select("prefix_str").collect().map(_.getString(0)).toSeq
    assert(topk == Seq("10.0.0.0/24", "10.0.0.0/16"))
  }

  test("sessionize: gap splits, exact-gap stays, per-key indices, one window exec") {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val rows = Seq(
      (1L, 0L, 10L),      // k1 s1
      (2L, 1000L, 10L),   // +1000 = gap exactly -> SAME session
      (3L, 2001L, 10L),   // +1001 > gap -> new session
      (4L, 2001L, 10L),   // tie ts -> same session regardless of order
      (5L, 500L, 20L),    // k2 s1
      (6L, 5000L, 20L))   // k2 s2
      .toDF("event_id", "ms", "user_id")
      .withColumn("ts", expr("timestamp_millis(ms)"))
    val out = Temporal.sessionize(rows, "user_id", "ts",
        gapMs = 1000L, tieCol = "event_id")
      .select("event_id", "session").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 1L, 6L -> 2L))
    // the lag flag and its running sum share one exchange + one WindowExec
    val plan = Temporal.sessionize(rows, "user_id", "ts", 1000L, "event_id")
      .queryExecution.executedPlan.toString
    assert("Window ".r.findAllIn(plan).length +
      "WindowExec".r.findAllIn(plan).length <= 2, plan.take(3000))
    assert("Exchange".r.findAllIn(plan).length == 1, plan.take(3000))
  }

  test("maxRun equals the fold model on random integer arrays") {
    val s = spark
    import s.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    def model(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L
      else xs.tail.foldLeft((xs.head, 1L, 1L)) { case ((prev, run, best), x) =>
        val r = if (x == prev) run + 1 else 1L
        (x, r, math.max(best, r))
      }._3
    val arrays = (0 until 30).map(i =>
      (i.toLong, sample(Gen.listOfN(sample(Gen.choose(0, 12), 7L + i),
        Gen.choose(1L, 4L)), 100L + i))) :+ (99L, List.empty[Long])
    val got = arrays.toDF("id", "xs")
      .select(col("id"), RibViews.maxRun(col("xs")).as("run"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    arrays.foreach { case (id, xs) =>
      assert(got(id) == model(xs), s"id $id xs $xs")
    }
  }

  test("addrScope classifies every documented range") {
    val s = spark
    import s.implicits._
    def v4(a: Int, b: Int, c: Int, d: Int): (Byte, Long, Long, Int) =
      (4.toByte, 0L, (a.toLong << 24) + (b << 16) + (c << 8) + d, 32)
    def v6(hi: Long): (Byte, Long, Long, Int) = (6.toByte, hi, 0L, 64)
    val cases: Seq[((Byte, Long, Long, Int), String)] = Seq(
      v4(10, 1, 2, 3) -> "rfc1918", v4(172, 16, 0, 1) -> "rfc1918",
      v4(172, 31, 255, 255) -> "rfc1918", v4(172, 32, 0, 1) -> "global",
      v4(192, 168, 9, 9) -> "rfc1918", v4(192, 169, 0, 1) -> "global",
      v4(127, 0, 0, 1) -> "loopback", v4(100, 64, 0, 1) -> "cgn",
      v4(100, 127, 255, 255) -> "cgn", v4(100, 128, 0, 1) -> "global",
      v4(169, 254, 1, 1) -> "link_local", v4(224, 0, 0, 5) -> "multicast",
      v4(239, 255, 255, 255) -> "multicast", v4(240, 0, 0, 1) -> "reserved",
      v4(8, 8, 8, 8) -> "global",
      v6(0xff05000000000000L) -> "multicast",
      v6(0xfe80000000000000L) -> "link_local",
      v6(0xfebf000000000000L) -> "link_local",
      v6(0xfc00000000000000L) -> "ula", v6(0xfdffL << 48) -> "ula",
      v6(0x20010db800000000L) -> "doc",
      v6(0x2001000000000000L) -> "global")
    val df = cases.zipWithIndex.map { case (((v, hi, lo, len), want), i) =>
      (i.toLong, v, hi, lo, len, want)
    }.toDF("id", "version", "ip_hi", "ip_lo", "prefix_len", "want")
      .withColumn("prefix", org.apache.spark.sql.functions.struct(
        col("version"), col("ip_hi"), col("ip_lo"), col("prefix_len")))
    val got = df.select(col("want"),
      RibViews.addrScope(col("prefix")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0), r.toString))
    // null prefix -> null scope
    val nul = df.limit(1).select(RibViews.addrScope(
      org.apache.spark.sql.functions.lit(null).cast(
        "struct<version:tinyint,ip_hi:bigint,ip_lo:bigint,prefix_len:int>")))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  // --- AS-relationship inference + route-leak audit (hand fixtures) -----

  private def pathsDf(rows: Seq[(Long, Seq[Long])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "as_list")
      .select(col("event_id"),
        org.apache.spark.sql.functions.lit("ipv4u").as("rib"),
        org.apache.spark.sql.functions.struct(col("as_list")).as("attrs"))
  }

  test("collapseRuns squashes prepending runs, keeps re-visits") {
    val s = spark
    import s.implicits._
    val got = Seq(
      (1L, Seq(1L, 1L, 2L, 2L, 2L, 3L, 1L, 1L)),
      (2L, Seq(7L)),
      (3L, Seq.empty[Long]))
      .toDF("id", "xs")
      .select(col("id"), RibViews.collapseRuns(col("xs")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(1L, 2L, 3L, 1L)) // runs squashed, ABA kept
    assert(got(2L) == Seq(7L))
    assert(got(3L) == Seq.empty[Long])
  }

  test("asRelationships: Gao degree election, distinct-path votes, sibling") {
    // Star around AS 2 (deg 4: neighbors 1,3,4,5) plus an isolated 6-7
    // pair announced once in each direction. Node 2 is the unique max-
    // degree AS of every star path, so every star edge votes downhill
    // from it; 6-7 splits 1:1 -> sibling. The [1,1,2,3] prepended rows
    // must collapse and dedup into the SAME distinct path as [1,2,3] —
    // repeated announcements never add votes (Gao votes the path SET).
    val evs = Seq(
      10L -> Seq(1L, 2L, 3L),
      11L -> Seq(1L, 1L, 2L, 3L), // prepended duplicate of the same path
      12L -> Seq(1L, 2L, 3L),     // exact duplicate announcement
      13L -> Seq(4L, 2L, 5L),
      14L -> Seq(3L, 2L, 5L),
      15L -> Seq(6L, 7L),
      16L -> Seq(7L, 6L),
      17L -> Seq(8L))             // single-hop path: no edges, dropped
    val got = RibViews.asRelationships(pathsDf(evs))
      .orderBy(col("as_lo"), col("as_hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(got == Seq(
      (1L, 2L, 0L, 1L, "c2p"),    // 2 provides 1 (uphill into the top)
      (2L, 3L, 2L, 0L, "p2c"),    // two distinct paths vote 2->3 downhill
      (2L, 4L, 1L, 0L, "p2c"),
      (2L, 5L, 2L, 0L, "p2c"),
      (6L, 7L, 1L, 1L, "sibling")))
  }

  test("asRelationships rejects a degenerate sibling ratio") {
    intercept[IllegalArgumentException] {
      RibViews.asRelationships(pathsDf(Seq(1L -> Seq(1L, 2L))),
        siblingRatio = 1)
    }
  }

  test("routeLeaks: valley scan, sibling/unknown flat, unknown counted") {
    val s = spark
    import s.implicits._
    val rels = Seq(
      (1L, 2L, "p2c"),   // 1 provides 2
      (2L, 3L, "c2p"),   // 3 provides 2
      (1L, 3L, "c2p"),
      (1L, 4L, "p2c"),
      (4L, 5L, "sibling")).toDF("as_lo", "as_hi", "rel")
    val evs = Seq(
      // leak: down (1->2, provider->customer) then up (2->3 customer->provider)
      10L -> Seq(1L, 2L, 3L),
      // valley-free: down (3->1 via c2p), down (1->2) — no up after down
      11L -> Seq(3L, 1L, 2L),
      // down, then two UNKNOWN edges (flat, counted), then the offending up
      12L -> Seq(1L, 2L, 9L, 2L, 3L),
      // sibling edge after a down never offends
      13L -> Seq(1L, 4L, 5L),
      // prepending collapses BEFORE position arithmetic: same as event 10
      14L -> Seq(1L, 1L, 1L, 2L, 3L))
    val got = RibViews.routeLeaks(pathsDf(evs), rels = Some(rels))
      .orderBy(col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (10L, "ipv4u", 0L, 1L, 2L, 0L),
      (12L, "ipv4u", 0L, 3L, 2L, 2L),
      (14L, "ipv4u", 0L, 1L, 2L, 0L)))
  }

  test("asHegemony: interior-position share over the distinct path set") {
    val evs = Seq(
      10L -> Seq(1L, 2L, 3L),
      11L -> Seq(1L, 1L, 2L, 3L),       // collapses into path 10
      12L -> Seq(1L, 2L, 2L, 3L),       // also collapses into path 10
      13L -> Seq(4L, 2L, 5L),
      14L -> Seq(1L, 3L),               // 2-hop: no interior
      15L -> Seq(9L),                   // 1-hop: counts in the total only
      16L -> Seq(1L, 2L, 3L, 2L, 4L))   // 2 recurs interior: counted ONCE
    // distinct paths: [1,2,3], [4,2,5], [1,3], [9], [1,2,3,2,4] -> 5
    val got = RibViews.asHegemony(pathsDf(evs))
      .orderBy(col("asn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      (2L, 3L, 5L, 600L), // interior of paths 10, 13, 16
      (3L, 1L, 5L, 200L))) // interior of path 16 only
  }

  private def curEv(ts: Long, sess: Int, pfx: String, plen: Int,
      asList: Seq[Long], active: Boolean = true): RouteEvent =
    RouteEvent(new java.sql.Timestamp(ts), "ipv4u", sess, 0L, active,
      Some(Model.v4(pfx, plen)), Some(s"$pfx/$plen"), None, None,
      None, None, None, None,
      Model.emptyAttrs.copy(as_list = asList), asList.sum)

  test("moasPrefixes: >=2 current origins, withdrawn/stale excluded") {
    val rows = Seq(
      // ring (sess 0): origin flips 100 -> 200; only the newest counts
      curEv(base, 0, "10.0.0.0", 24, Seq(10L, 100L)),
      curEv(base + 1000, 0, "10.0.0.0", 24, Seq(10L, 200L)),
      // ring (sess 1): second CURRENT origin for the same prefix
      curEv(base, 1, "10.0.0.0", 24, Seq(20L, 100L)),
      // ring (sess 2): third origin but WITHDRAWN - must not count
      curEv(base, 2, "10.0.0.0", 24, Seq(30L, 300L)),
      curEv(base + 1000, 2, "10.0.0.0", 24, Seq(30L, 300L),
        active = false),
      // single-origin prefix: filtered by the >=2 cut
      curEv(base, 0, "10.1.0.0", 24, Seq(10L, 100L)),
      curEv(base, 1, "10.1.0.0", 24, Seq(20L, 100L)))
    val got = RibViews.moasPrefixes(df(rows)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(("ipv4u", "10.0.0.0/24", 2L, 2L, 100L, 200L)))
  }

  test("rpkiValidate: valid / invalid_length / invalid_origin / not_found") {
    val s = spark
    import s.implicits._
    // two overlapping ROAs for 10.0.0.0/16: origin 100 up to /24,
    // origin 200 up to /28
    val roas = Seq(
      (167772160L, 16L, 24L, 100L),
      (167772160L, 16L, 28L, 200L)).toDF(
      "roa_ip", "roa_plen", "roa_maxlen", "roa_origin")
    val rows = Seq(
      curEv(base, 0, "10.0.1.0", 24, Seq(9L, 100L)),  // valid (roa1)
      curEv(base, 1, "10.0.2.0", 28, Seq(9L, 100L)),  // too long for roa1
      curEv(base, 2, "10.0.2.0", 28, Seq(9L, 200L)),  // valid via roa2
      curEv(base, 3, "10.0.3.0", 24, Seq(9L, 300L)),  // wrong origin
      curEv(base, 0, "10.1.0.0", 24, Seq(9L, 100L)))  // outside both ROAs
    val got = RibViews.rpkiValidate(df(rows), roas)
      .orderBy(col("prefix_str"), col("session_id"))
      .collect().map(r => (r.getString(1), r.getLong(4), r.getString(5)))
      .toSeq
    assert(got == Seq(
      ("10.0.1.0/24", 100L, "valid"),
      ("10.0.2.0/28", 100L, "invalid_length"),
      ("10.0.2.0/28", 200L, "valid"),
      ("10.0.3.0/24", 300L, "invalid_origin"),
      ("10.1.0.0/24", 100L, "not_found")))
  }

  test("customerCones: transitive p2c closure, siblings never extend") {
    val s = spark
    import s.implicits._
    val rels = Seq(
      (1L, 2L, "p2c"),     // 1 -> 2
      (2L, 3L, "p2c"),     // 2 -> 3
      (3L, 4L, "c2p"),     // 4 -> 3
      (5L, 6L, "sibling")) // no cone contribution
      .toDF("as_lo", "as_hi", "rel")
    val got = RibViews.customerCones(rels)
      .orderBy(col("asn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(
      (1L, 3L, 1L), // {1,2,3}
      (2L, 2L, 1L), // {2,3}
      (3L, 1L, 0L), // stub: self only
      (4L, 2L, 1L), // {4,3}
      (5L, 1L, 0L),
      (6L, 1L, 0L)))
  }

  test("customerCones: a p2c cycle saturates instead of looping") {
    val s = spark
    import s.implicits._
    val rels = Seq((1L, 2L, "p2c"), (2L, 3L, "p2c"), (1L, 3L, "c2p"))
      .toDF("as_lo", "as_hi", "rel")
    // edges: 1->2, 2->3, 3->1 — a cycle; every cone saturates to all 3
    val got = RibViews.customerCones(rels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("prefixVisibility: per-count histogram over the whole-log denominator") {
    val rows = Seq(
      // prefix A current on sessions 0 and 1
      curEv(base, 0, "10.0.0.0", 24, Seq(1L, 2L)),
      curEv(base, 1, "10.0.0.0", 24, Seq(1L, 2L)),
      // prefix B current on session 0 only; session 2 WITHDDREW it
      curEv(base, 0, "10.1.0.0", 24, Seq(1L, 2L)),
      curEv(base, 2, "10.1.0.0", 24, Seq(1L, 2L)),
      curEv(base + 1000, 2, "10.1.0.0", 24, Seq(1L, 2L), active = false))
    // denominator: sessions 0, 1, 2 ever seen -> 3
    val got = RibViews.prefixVisibility(df(rows))
      .orderBy(col("n_sessions"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 333L),  // one prefix at 1/3 visibility
      (2L, 1L, 3L, 666L))) // one prefix at 2/3
  }

  test("relsDrift labels every adjacency status") {
    val s = spark
    import s.implicits._
    val frozen = Seq((1L, 2L, "p2c"), (2L, 3L, "c2p"), (3L, 4L, "sibling"))
      .toDF("as_lo", "as_hi", "rel")
    val fresh = Seq((1L, 2L, "p2c"), (2L, 3L, "p2c"), (4L, 5L, "c2p"))
      .toDF("as_lo", "as_hi", "rel")
    val got = RibViews.relsDrift(frozen, fresh)
      .orderBy(col("as_lo"), col("as_hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)), Option(r.getString(3)), r.getString(4)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, Some("p2c"), Some("p2c"), "stable"),
      (2L, 3L, Some("c2p"), Some("p2c"), "changed"),
      (3L, 4L, Some("sibling"), None, "gone"),
      (4L, 5L, None, Some("c2p"), "new")))
  }
}
