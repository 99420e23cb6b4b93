package graft.filter

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.SparkTestBase
import graft.model._

/** Filter-evaluation semantics ported from the reference unit tests
  * (reference: src/ribfilter.rs:1760-2430): scan counts over populated
  * tables and tri-state match verdicts, fixture routes verbatim. */
class FilterCompilerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private var n = 0
  private def ev(rib: String, prefix: IpPfx, rd: Option[Rd] = None,
      labels: Option[Seq[Int]] = None, attrs: Attrs = Model.emptyAttrs): RouteEvent = {
    n += 1
    RouteEvent(new java.sql.Timestamp(1700000000000L + n), rib, 0, 0L, active = true,
      Some(prefix), Some(Model.pfxStr(prefix)), rd, labels, None, None, None, None, attrs, 0L)
  }

  private def mvpnEv(key: MvpnKey, attrs: Attrs): RouteEvent = {
    n += 1
    RouteEvent(new java.sql.Timestamp(1700000000000L + n), "mvpn", 0, 0L, active = true,
      None, None, None, None, None, Some(key), None, None, attrs, 0L)
  }

  private def df(evs: Seq[RouteEvent]): DataFrame = {
    val s = spark
    import s.implicits._
    s.createDataset(evs).toDF()
  }

  private def count(d: DataFrame, filter: String): Long =
    d.where(FilterCompiler.accept(filter)).count()

  private def verdicts(d: DataFrame, filter: String): Seq[Option[Boolean]] = {
    val f = FilterParser.parse(filter)
    d.select(FilterCompiler.matchRoute(f)).collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
  }

  private def superVerdicts(d: DataFrame, filter: String): Seq[Option[Boolean]] = {
    val f = FilterParser.parse(filter)
    d.select(FilterCompiler.matchSuperRoute(f)).collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
  }

  private val Yes = Some(true)
  private val No = Some(false)
  private val Unknown = None

  // --- test_ribfilter_match_rd (ribfilter.rs:1760-1780)
  test("match rd with polarity and conjunction") {
    val r1 = df(Seq(ev("vpnv4u", Model.v4("10.0.0.1", 24), rd = Some(Rd(100, 1000)))))
    assert(verdicts(r1, "rd:100:1000") == Seq(Yes))
    val r2 = df(Seq(ev("vpnv4u", Model.v4("10.0.0.1", 24), rd = Some(Rd(10000, 1000)))))
    assert(verdicts(r2, "rd:100:1000") == Seq(No))
    assert(verdicts(r1, "rd:100:1000 10.0.0.0/8") == Seq(Yes))
  }

  // --- test_ribfilter_match_subnet1 (ribfilter.rs:1782-1824)
  test("subnet containment verdicts") {
    val d = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32)),
      ev("ipv4u", Model.v4("10.0.0.0", 8)),
      ev("ipv4u", Model.v4("11.0.0.1", 32)),
      ev("ipv4u", Model.v4("10.0.0.0", 7))))
    assert(verdicts(d, "10.0.0.0/8") == Seq(Yes, Yes, No, No))
    val d2 = df(Seq(ev("ipv4u", Model.v4("213.140.243.0", 25))))
    assert(verdicts(d2, "213.0.0.0/8") == Seq(Yes))
  }

  // --- test_ribfilter_match_supernet (ribfilter.rs:1826-1859)
  test("supernet verdicts") {
    val d = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32)),
      ev("ipv4u", Model.v4("10.0.0.0", 8)),
      ev("ipv4u", Model.v4("11.0.0.1", 32)),
      ev("ipv4u", Model.v4("10.0.0.0", 24))))
    assert(superVerdicts(d, "10.0.0.1") == Seq(Yes, Yes, No, Yes))
  }

  // --- test_ribfilter_iter1 (ribfilter.rs:1861-1892)
  test("ipv4u scan counts") {
    val d = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32)),
      ev("ipv4u", Model.v4("11.0.0.1", 32)),
      ev("ipv4u", Model.v4("10.0.0.0", 24))))
    assert(count(d, "10.0.0.0/25") == 1)
    assert(count(d, "10.0.0.0/16") == 2)
    assert(count(d, "11.0.0.0/16") == 1)
    assert(count(d, "12.0.0.0/16") == 0)
  }

  // --- test_ribfilter_num1 (ribfilter.rs:1894-1944)
  private def num1: DataFrame = df(Seq(
    ev("vpnv4u", Model.v4("10.0.0.1", 32), rd = Some(Rd(100, 1000))),
    ev("vpnv4u", Model.v4("11.0.0.1", 32), rd = Some(Rd(100, 1000))),
    ev("vpnv4u", Model.v4("10.0.0.0", 24), rd = Some(Rd(100, 1000))),
    ev("vpnv4u", Model.v4("10.0.0.1", 32), rd = Some(Rd(1001, 100)))))

  test("polymorphic num over WithRd keys") {
    val d = num1
    assert(count(d, "10.0.0.0/25") == 2)
    assert(count(d, "10.0.0.0/16") == 3)
    assert(count(d, "rd:100:1000") == 3)
    assert(count(d, "rd:100:1000 10.0.0.0/16") == 2)
    assert(count(d, "100") == 4)
    assert(count(d, "1001") == 1)
    assert(count(d, "1000") == 3)
  }

  // --- test_ribfilter_re1 (ribfilter.rs:1946-1979)
  test("regex filter over rd and prefix strings") {
    val d = num1
    assert(count(d, "re:10\\.0\\.0") == 3)
    assert(count(d, "rd:100:1000") == 3)
  }

  // --- test_ribfilter_extrt1 (ribfilter.rs:1981-2097) incl. the commented
  // assertion set, which follows from the same semantics
  test("route-target and prefix conjunction") {
    val rt200 = Model.emptyAttrs.copy(extcomms = Seq(ExtCommunity(0, 2, 200, 300)))
    val rt400 = Model.emptyAttrs.copy(extcomms = Seq(ExtCommunity(0, 2, 400, 500)))
    val d = df(Seq(
      ev("vpnv4u", Model.v4("10.0.0.1", 32), rd = Some(Rd(100, 1000)), attrs = rt200),
      ev("vpnv4u", Model.v4("11.0.0.1", 32), rd = Some(Rd(100, 1000)), attrs = rt200),
      ev("vpnv4u", Model.v4("10.0.0.0", 24), rd = Some(Rd(100, 1000)), attrs = rt200),
      ev("vpnv4u", Model.v4("10.0.0.1", 32), rd = Some(Rd(1001, 100)), attrs = rt200),
      ev("vpnv4u", Model.v4("10.0.0.2", 32), rd = Some(Rd(100, 1000)), attrs = rt400),
      ev("vpnv4u", Model.v4("11.0.0.2", 32), rd = Some(Rd(100, 1000)), attrs = rt400),
      ev("vpnv4u", Model.v4("10.0.1.0", 24), rd = Some(Rd(100, 1000)), attrs = rt400),
      ev("vpnv4u", Model.v4("10.0.0.2", 32), rd = Some(Rd(1001, 100)), attrs = rt400)))
    assert(count(d, "rt:400:500 10.0.0.0/24") == 2)
    assert(count(d, "re:10\\.0\\.0") == 5)
    assert(count(d, "rt:200:300") == 4)
    assert(count(d, "rt:201:300") == 0)
    assert(count(d, "rt:400") == 4)
    assert(count(d, "rt:500") == 4)
    assert(count(d, "rt:400:500") == 4)
  }

  // --- test_ribfilter_range1 (ribfilter.rs:2099-2155)
  test("range scan count") {
    val d = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32)),
      ev("ipv4u", Model.v4("11.0.0.1", 32)),
      ev("ipv4u", Model.v4("10.0.0.0", 24)),
      ev("ipv4u", Model.v4("10.0.0.2", 32)),
      ev("ipv4u", Model.v4("10.0.0.255", 32))))
    assert(count(d, "10.0.0.0/24") == 4)
  }

  // --- test_ribfilter_range3 (ribfilter.rs:2198-2309)
  test("labeled vpn keys") {
    def lv(label: Int, rdl: Long, p: IpPfx) =
      ev("vpnv4u", p, rd = Some(Rd(1, rdl)), labels = Some(Seq(label)))
    val d = df(Seq(
      lv(1, 1, Model.v4("10.0.0.255", 32)),
      lv(2, 1, Model.v4("10.0.0.1", 32)),
      lv(3, 3, Model.v4("10.0.0.1", 32)),
      lv(4, 4, Model.v4("11.0.0.1", 32)),
      lv(5, 5, Model.v4("10.0.0.2", 32)),
      lv(6, 6, Model.v4("10.0.0.0", 24)),
      lv(7, 7, Model.v4("10.0.0.0", 32)),
      lv(8, 4, Model.v4("12.0.0.1", 32))))
    assert(count(d, "10.0.0.0/24") == 6)
    assert(count(d, "rd:1:4") == 2)
    assert(count(d, "rd:1:1") == 2)
    assert(count(d, "10.0.0.1") == 2)
  }

  // --- test_ribfilter_4 (ribfilter.rs:2311-2370): tri-state Yes/Unknown/No
  test("tri-state verdicts with route-target") {
    val rt11 = Model.emptyAttrs.copy(extcomms = Seq(ExtCommunity(0, 2, 1, 1)))
    val rt12 = Model.emptyAttrs.copy(extcomms = Seq(ExtCommunity(0, 2, 1, 2)))
    def r(p: IpPfx, attrs: Attrs) =
      ev("vpnv4u", p, rd = Some(Rd(1, 1)), labels = Some(Seq(1)), attrs = attrs)
    val r1a1 = df(Seq(r(Model.v4("10.0.0.255", 32), rt11)))
    val r1a2 = df(Seq(r(Model.v4("10.0.0.255", 32), rt12)))
    val r2a1 = df(Seq(r(Model.v4("0.0.0.0", 0), rt11)))
    val r2a2 = df(Seq(r(Model.v4("0.0.0.0", 0), rt12)))
    val f = "10.0.0.0/24 rt:1:1"
    assert(verdicts(r1a1, f) == Seq(Yes))
    assert(verdicts(r1a2, f) == Seq(Unknown))
    assert(verdicts(r2a1, f) != Seq(Yes))
    assert(verdicts(r2a2, f) != Seq(Yes))
    assert(superVerdicts(r2a1, f) == Seq(Yes))
    assert(superVerdicts(r2a2, f) != Seq(Yes))
  }

  // --- test_ribfilter_mvpn_1 (ribfilter.rs:2372-2429)
  test("mvpn type-5 source/group matching") {
    val rt11 = Model.emptyAttrs.copy(extcomms = Seq(ExtCommunity(0, 2, 1, 1)))
    val rt12 = Model.emptyAttrs.copy(extcomms = Seq(ExtCommunity(0, 2, 1, 2)))
    def t5(rd: Rd, src: String, grp: String) = MvpnKey(5, rd,
      None, Some(Model.v4(src, 32)), Some(Model.v4(grp, 32)), None, None, None, None, None)
    val r1 = df(Seq(mvpnEv(t5(Rd(1, 1), "10.1.1.1", "224.1.1.1"), rt11)))
    val r2 = df(Seq(mvpnEv(t5(Rd(2, 1), "11.1.1.1", "225.1.1.1"), rt12)))
    assert(verdicts(r1, "10.1.1.0/24") == Seq(Yes))
    assert(verdicts(r2, "10.1.1.0/24") == Seq(No))
    assert(verdicts(r1, "11.1.1.0/24") == Seq(No))
    assert(verdicts(r2, "11.1.1.0/24") == Seq(Yes))
    assert(verdicts(r1, "224.1.1.0/24") == Seq(Yes))
    assert(verdicts(r2, "224.1.1.0/24") == Seq(No))
    assert(verdicts(r1, "225.1.1.0/24") == Seq(No))
    assert(verdicts(r2, "225.1.1.0/24") == Seq(Yes))
  }

  // Tri-state verdicts for every MVPN (1-7) and EVPN (1-5) dispatch arm
  // (reference impls: src/ribfilter.rs:320-453; the reference test corpus
  // only covers T5, so these pin the remaining arms directly)
  test("mvpn subtype dispatch verdicts (types 1-4, 6, 7)") {
    val a = Model.emptyAttrs
    def mk(mtype: Int, rd: Rd = Rd(300, 500), orig: Option[IpPfx] = None,
        src: Option[IpPfx] = None, grp: Option[IpPfx] = None,
        rp: Option[IpPfx] = None, srd: Option[Rd] = None,
        sorig: Option[IpPfx] = None, ssrc: Option[IpPfx] = None,
        sgrp: Option[IpPfx] = None) =
      df(Seq(mvpnEv(MvpnKey(mtype, rd, orig, src, grp, rp, srd, sorig, ssrc, sgrp), a)))
    val h = Some(Model.v4("10.2.3.4", 32))
    val h2 = Some(Model.v4("10.2.3.5", 32))
    val g = Some(Model.v4("224.1.1.1", 32))
    val rpH = Some(Model.v4("172.16.1.1", 32))
    // T1 intra-AS I-PMSI: rd first, then originator host
    val t1 = mk(1, orig = h)
    assert(verdicts(t1, "rd:300:500") == Seq(Yes))
    assert(verdicts(t1, "rd:9:9") == Seq(No))
    assert(verdicts(t1, "10.2.3.0/24") == Seq(Yes))
    assert(verdicts(t1, "10.9.0.0/16") == Seq(No))
    assert(verdicts(t1, "224.1.1.0/24") == Seq(Unknown)) // mc item vs unicast orig
    // T2 inter-AS I-PMSI: rd ONLY — address terms stay Unknown
    val t2 = mk(2)
    assert(verdicts(t2, "rd:300:500") == Seq(Yes))
    assert(verdicts(t2, "10.0.0.0/8") == Seq(Unknown))
    // T3 S-PMSI: originator/source/group majority
    val t3 = mk(3, orig = h, src = h2, grp = g)
    assert(verdicts(t3, "10.2.3.0/24") == Seq(Yes)) // orig+src Yes, group Unknown
    assert(verdicts(t3, "10.9.0.0/16") == Seq(No))
    assert(verdicts(t3, "224.1.1.0/24") == Seq(Yes)) // group Yes, hosts Unknown
    // T4 leaf A-D: the S-PMSI tuple decides; its OWN rd, not the route rd
    val t4 = mk(4, rd = Rd(999, 999), orig = h,
      srd = Some(Rd(600, 800)), sorig = h, ssrc = h2, sgrp = g)
    assert(verdicts(t4, "rd:600:800") == Seq(Yes))
    assert(verdicts(t4, "rd:999:999") == Seq(No)) // route rd is not consulted
    assert(verdicts(t4, "10.2.3.0/24") == Seq(Yes))
    assert(verdicts(t4, "224.1.1.0/24") == Seq(Yes))
    // T6/T7 shared/source tree join: rp/group majority
    Seq(6, 7).foreach { t =>
      val d = mk(t, grp = g, rp = rpH)
      assert(verdicts(d, "172.16.0.0/16") == Seq(Yes), s"t$t rp")
      assert(verdicts(d, "10.0.0.0/8") == Seq(No), s"t$t rp miss")
      assert(verdicts(d, "224.1.1.0/24") == Seq(Yes), s"t$t group")
    }
  }

  test("evpn subtype dispatch verdicts (types 1-5, absent-ip t2)") {
    def evpnEv(key: EvpnKey): RouteEvent = {
      n += 1
      RouteEvent(new java.sql.Timestamp(1700000000000L + n), "evpn", 0, 0L,
        active = true, None, None, None, None, None, None, Some(key), None,
        Model.emptyAttrs, 0L)
    }
    def mk(etype: Int, ip: Option[IpPfx] = None, gw: Option[IpPfx] = None) =
      df(Seq(evpnEv(EvpnKey(etype, Rd(400, 600), ip, gw))))
    val ip = Some(Model.v4("10.2.3.4", 32))
    // T1 ethernet A-D: rd only
    assert(verdicts(mk(1), "rd:400:600") == Seq(Yes))
    assert(verdicts(mk(1), "10.0.0.0/8") == Seq(Unknown))
    // T2 MAC/IP: rd first, then ip WHEN PRESENT
    assert(verdicts(mk(2, ip = ip), "10.2.3.0/24") == Seq(Yes))
    assert(verdicts(mk(2, ip = ip), "10.9.0.0/16") == Seq(No))
    assert(verdicts(mk(2), "10.2.3.0/24") == Seq(Unknown)) // absent ip
    // T3/T4 multicast-ethernet-tag / ethernet-segment: ip
    assert(verdicts(mk(3, ip = ip), "10.2.3.0/24") == Seq(Yes))
    assert(verdicts(mk(4, ip = ip), "10.2.3.0/24") == Seq(Yes))
    assert(verdicts(mk(4, ip = ip), "10.9.0.0/16") == Seq(No))
    // T5 IP-prefix: gateway ip
    assert(verdicts(mk(5, gw = ip), "10.2.3.0/24") == Seq(Yes))
    assert(verdicts(mk(5, gw = ip), "rd:400:600") == Seq(Yes))
    assert(verdicts(mk(5, gw = ip), "rd:9:9") == Seq(No))
  }

  // AS-path anchor semantics (reference: src/ribfilter.rs:1474-1507)
  test("as-path anchors") {
    def withPath(asns: Seq[Long]) = Model.emptyAttrs.copy(
      aspath = Seq(AsSeg(is_set = false, asns)), as_list = asns)
    val d = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32), attrs = withPath(Seq(100, 200, 300))),
      ev("ipv4u", Model.v4("10.0.0.2", 32), attrs = withPath(Seq(200, 300))),
      ev("ipv4u", Model.v4("10.0.0.3", 32), attrs = Model.emptyAttrs)))
    assert(count(d, "as:") == 1) // empty-path term
    assert(count(d, "as:^100") == 1)
    assert(count(d, "as:300$") == 2)
    assert(count(d, "as:200,300") == 2)
    assert(count(d, "as:^200,300$") == 1)
    assert(count(d, "as:100,300") == 0)
    assert(count(d, "as:^100,200,300$") == 1)
  }

  test("nexthop subnet") {
    val nh = Model.emptyAttrs.copy(nexthop = Some(Model.v4("192.168.1.7", 32)))
    val d = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32), attrs = nh),
      ev("ipv4u", Model.v4("10.0.0.2", 32), attrs = Model.emptyAttrs)))
    assert(count(d, "nh:192.168.1.0/24") == 1)
    assert(count(d, "nh:192.168.2.0/24") == 0)
  }

  test("community membership") {
    val c = Model.emptyAttrs.copy(comms = Seq(Community(100, 2345)))
    val d = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32), attrs = c),
      ev("ipv4u", Model.v4("10.0.0.2", 32), attrs = Model.emptyAttrs)))
    assert(count(d, "community:100:2345") == 1)
    assert(count(d, "community:100:2346") == 0)
  }

  // Quirk pinned on purpose: for a route-kind raw Yes with attr-Unknown the
  // polarity table returns Yes even under '-' (src/ribfilter.rs:1601-1605),
  // so '-rd:…'/'-<net>' never exclude a key-matching route; '-' only bites
  // via a raw No flip or an attr-resolved match.
  test("minus polarity truth table") {
    val d = num1
    assert(count(d, "-rd:1001:100") == 4)
    assert(count(d, "rd:100:1000 -11.0.0.0/8") == 3)
    val c = Model.emptyAttrs.copy(comms = Seq(Community(100, 2345)))
    val d2 = df(Seq(
      ev("ipv4u", Model.v4("10.0.0.1", 32), attrs = c),
      ev("ipv4u", Model.v4("10.0.0.2", 32), attrs = Model.emptyAttrs)))
    assert(count(d2, "-community:100:2345") == 1) // attr Yes flipped to No
  }

  // acceptFor(r, f) is the one-rib match of RibViews.scan and of the JSON
  // page's key-flag aggregate; both rely on it equalling the polymorphic
  // `matchRoute(f) <=> true` on rib r's rows
  test("property: acceptFor(rib, f) equals matchRoute(f) <=> true on every rib's rows") {
    val s = spark
    import s.implicits._
    // the generator derives every key and attribute from (event_id,
    // user_id); 4800 events with seeded user ids reach all 15 ribs
    val rnd = new scala.util.Random(7)
    val log = graft.sources.RouteEventGen.fromEvents((0L until 4800L).map(i =>
      (i, rnd.nextInt(1500).toLong, new java.sql.Timestamp(1700000000000L + i * 1000L)))
      .toDF("event_id", "user_id", "ts"))
    val filters = Seq(
      "10.0.0.0/8", "-10.0.0.0/8", "10.4.0.0/14", "10.4.1.7",
      "2001::/16", "-2001::/16", "2001:0:4:100::/56", "2001:0:4:100::1",
      "224.0.0.0/4", "ff05::/16", "24", "-28", "64",
      "re:^10\\.4", "re:^1[0-9]*:", "-re:100",
      "rd:100:1000", "-rd:300:501", "rd:130:1031 10.0.0.0/8",
      "as:174", "as:^65001", "as:100$", "-as:", "community:10:25",
      "-community:10:25", "nh:10.0.0.0/8", "nh:2001::/16",
      "rt:100:1000", "10.0.0.0/8 -community:10:25")
    val parsed = filters.map(FilterParser.parse)
    parsed.zip(filters).foreach { case (f, text) => assert(f.terms.nonEmpty, text) }
    var accepted, rejected = 0L
    FilterCompiler.ribValues.foreach { r =>
      val rows = log.where(col("rib") === r).select(parsed.flatMap(f =>
        Seq(FilterCompiler.acceptFor(r, f), FilterCompiler.matchRoute(f) <=> lit(true))): _*)
        .collect()
      assert(rows.nonEmpty, s"no $r rows in the fixture")
      rows.foreach(row => filters.indices.foreach { i =>
        val a = row.getBoolean(2 * i)
        assert(a == row.getBoolean(2 * i + 1), s"$r: ${filters(i)}")
        if (a) accepted += 1 else rejected += 1
      })
    }
    assert(accepted > 0 && rejected > 0, s"accepted $accepted, rejected $rejected")
  }

  // the generated code of graft.functions.Param reads its value from the
  // class's references; its eval serves the interpreted path. The rib ×
  // filter matrix, run once through whole-stage codegen and once with no
  // code generated at all, must accept the same rows
  test("property: interpreted evaluation accepts the rows generated code accepts") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // checkpointed, so the projections run in the plan, not folded while optimizing
    val gen = graft.sources.RouteEventGen.fromEvents((0L until 4800L).map(i =>
      (i, rnd.nextInt(1500).toLong, new java.sql.Timestamp(1700000000000L + i * 1000L)))
      .toDF("event_id", "user_id", "ts")).localCheckpoint()
    // type-1 route targets embed an IPv4 address (a: its top 16 bits, b:
    // its bottom 16 then the assigned number); the generator writes none
    def rt(ip: String, n: Long): Attrs = {
      val a = Model.v4(ip, 32).ip_lo
      Model.emptyAttrs.copy(extcomms = Seq(ExtCommunity(1, 2, a >> 16, ((a & 0xFFFF) << 16) | n)))
    }
    val hand = df(Seq(
      ev("ipv4u", Model.v4("10.4.1.0", 24), attrs = rt("10.4.1.7", 7)),
      ev("vpnv4u", Model.v4("10.4.2.0", 24), rd = Some(Rd(100, 1000)), attrs = rt("10.9.0.1", 100)),
      ev("ipv4u", Model.v4("10.9.0.0", 16),
        attrs = Model.emptyAttrs.copy(nexthop = Some(Model.v4("10.1.2.3", 32)))),
      ev("ipv4u", Model.v4("10.4.1.7", 32)),
      ev("ipv6u", Model.v6(0x2001000000040100L, 0L, 56)))).localCheckpoint()
    val filters = Seq(
      "10.4.0.0/14", "-10.4.0.0/14", "10.4.1.7", "10.4.1.0/24", "232.0.0.0/8", "2001:0:4:100::/56",
      "2001:0:4:100::1", "24", "-28", "64", "rd:100:1000", "rt:100:1000", "rt:302",
      "rt:10.4.1.7", "rt:10.9.0.1:100", "nh:192.168.0.0/16", "nh:10.1.0.0/16", "nh:2001::/16",
      "community:10:25", "-community:20:3", "as:101,200", "as:^104", "as:65001$")
    val parsed = filters.map(FilterParser.parse)
    parsed.zip(filters).foreach { case (f, text) => assert(f.terms.nonEmpty, text) }
    // every filter's route acceptance then its supernet acceptance, per row
    def verdicts(frame: DataFrame): Seq[String] = FilterCompiler.ribValues.flatMap { r =>
      frame.where(col("rib") === r).select(col("ts") +: col("prefix_str") +: parsed.flatMap(f =>
        Seq(FilterCompiler.acceptFor(r, f), FilterCompiler.acceptSuperFor(r, f))): _*)
        .collect().map(_.toSeq.mkString(","))
    }.sorted
    def codegenStages(frame: DataFrame): Int =
      frame.where(FilterCompiler.acceptFor("ipv4u", parsed.head)).queryExecution.executedPlan
        .collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }.length
    val generated = Seq(gen, hand).map(verdicts)
    assert(codegenStages(gen) > 0)
    val conf = Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val interpreted = try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(codegenStages(gen) == 0)
      Seq(gen, hand).map(verdicts)
    } finally conf.keys.foreach(spark.conf.unset)
    assert(generated == interpreted)
    // each kind of term accepts some row, so both paths evaluated a match
    val accepted = generated.flatten.map(_.split(",").drop(2)).transpose
      .map(_.count(_ == "true"))
    val byFilter = filters.zipWithIndex.map { case (f, i) =>
      f -> (accepted(2 * i), accepted(2 * i + 1)) }.toMap
    // the mdt group is a host address: 232.0.0.0/8 matches it alone
    Seq("10.4.0.0/14", "10.4.1.7", "232.0.0.0/8", "2001:0:4:100::/56", "24", "rd:100:1000", "rt:302",
      "rt:10.4.1.7", "rt:10.9.0.1:100", "nh:192.168.0.0/16", "nh:10.1.0.0/16",
      "community:10:25", "as:101,200").foreach(f => assert(byFilter(f)._1 > 0, s"$f: ${byFilter(f)}"))
    Seq("10.4.1.7", "2001:0:4:100::1").foreach(f =>
      assert(byFilter(f)._2 > 0, s"supernet $f: ${byFilter(f)}"))
  }
}
