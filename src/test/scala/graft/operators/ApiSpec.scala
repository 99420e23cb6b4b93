package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.model._

/** X8 URL-parameter parsing + `/api` routing (reference:
  * src/ribservice.rs:93-114 defaults/ignore rule, src/bgpsvc.rs:457-482
  * dispatch, src/main.rs:145-165 ping, src/bgpsvc.rs:164-173 FSM names). */
class ApiSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val base = 1700000000000L
  private def events = {
    val s = spark
    import s.implicits._
    val p = Model.v4("10.0.0.0", 24)
    s.createDataset((0 until 3).map(i =>
      RouteEvent(new java.sql.Timestamp(base + i), "ipv4u", i % 2, 0L,
        active = true, Some(p), Some(Model.pfxStr(p)), None, None, None, None,
        None, None, Model.emptyAttrs, i.toLong))).toDF()
  }

  test("params: reference defaults and overrides") {
    val d = Api.parseParams(Map.empty)
    assert(d == RibJson.RibParams(0, 1000, 10, onlyActive = false, None, None))
    val p = Api.parseParams(Api.parseQuery(
      "skip=5&limit=20&maxdepth=3&onlyactive=true&changed_after=100&changed_before=200"))
    assert(p == RibJson.RibParams(5, 20, 3, onlyActive = true, Some(100L), Some(200L)))
  }

  test("params: after=<route_id> switches to keyset continuation") {
    val p = Api.parseParams(Api.parseQuery("after=-123456789&limit=5"))
    assert(p.pageAfterId.contains(-123456789L) && p.limit == 5)
    assert(Api.parseParams(Api.parseQuery("after=notanumber")).pageAfterId.isEmpty)
  }

  test("keyset continuation pages the JSON page identically to skip/limit") {
    val s = spark
    import s.implicits._
    // 12 distinct /24 routes under 10.1.0.0/16, two entries each
    val evs = (0 until 12).flatMap { i =>
      val p = Model.v4(s"10.1.$i.0", 24)
      Seq(0L, 1000L).map(off =>
        RouteEvent(new java.sql.Timestamp(base + off), "ipv4u", i % 2, 0L,
          active = true, Some(p), Some(Model.pfxStr(p)), None, None, None,
          None, None, None, Model.emptyAttrs, i.toLong))
    }
    val d = s.createDataset(evs).toDF()
    val params = RibJson.RibParams(skip = 0, limit = 5, maxDepth = 10)
    def keysOf(items: Seq[RibJson.PageItem]): Seq[String] = items.map(_.itemKey)
    val (page1, found, length) = RibJson.jsonPage(d, "ipv4u", "10.1.0.0/16", params)
    assert(found == 12 && length == 12)
    assert(keysOf(page1) == (0 until 5).map(i => s"10.1.$i.0/24"))
    // page 2 via keyset (after = last route_id of page 1) ≡ page 2 via skip
    val afterId = page1.last.routeId
    val (pk2, _, _) = RibJson.jsonPage(d, "ipv4u", "10.1.0.0/16",
      params.copy(pageAfterId = Some(afterId)))
    val (ps2, _, _) = RibJson.jsonPage(d, "ipv4u", "10.1.0.0/16",
      params.copy(skip = 5))
    assert(keysOf(pk2) == (5 until 10).map(i => s"10.1.$i.0/24"))
    assert(keysOf(pk2) == keysOf(ps2))
    // walk page 3 the same way — the deep-pagination path terminates
    val afterId2 = pk2.last.routeId
    val (pk3, _, _) = RibJson.jsonPage(d, "ipv4u", "10.1.0.0/16",
      params.copy(pageAfterId = Some(afterId2)))
    assert(keysOf(pk3) == (10 until 12).map(i => s"10.1.$i.0/24"))

    // the same walk through the HTTP surface: next_after from the response
    // document feeds the after= param of the next call
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def itemKeys(resp: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      mapper.readTree(resp).get("items").fieldNames.asScala.toSeq
    }
    val r1 = Api.handle(d, "/api/json/ipv4u?filter=10.1.0.0%2F16&limit=5").get
    val tok1 = mapper.readTree(r1).get("next_after").asText
    assert(itemKeys(r1) == (0 until 5).map(i => s"10.1.$i.0/24"))
    val r2 = Api.handle(d,
      s"/api/json/ipv4u?filter=10.1.0.0%2F16&limit=5&after=$tok1").get
    assert(itemKeys(r2) == (5 until 10).map(i => s"10.1.$i.0/24"))
    val tok2 = mapper.readTree(r2).get("next_after").asText
    val r3 = Api.handle(d,
      s"/api/json/ipv4u?filter=10.1.0.0%2F16&limit=5&after=$tok2").get
    assert(itemKeys(r3) == (10 until 12).map(i => s"10.1.$i.0/24"))
    // short final page → no continuation token
    assert(mapper.readTree(r3).get("next_after").isNull)
  }

  test("keyset walk over tied NLRI keys (evpn, mvpn) visits every key once") {
    val s = spark
    import s.implicits._
    // evpn and mvpn keys have null prefix, rd and labels: every key ties on
    // the NLRI order tuple, and only route_id orders them. 7 matching keys
    // per rib, one more outside the filter.
    def host(i: Int) = Some(Model.v4(s"10.2.0.$i", 32))
    def route(rib: String, i: Int) = {
      val (mvpn, evpn) =
        if (rib == "evpn") (None, Some(EvpnKey(2, Rd(400, i), host(i), None)))
        else (Some(MvpnKey(1, Rd(300, i), host(i), None, None, None, None, None,
          None, None)), None)
      RouteEvent(new java.sql.Timestamp(base + i), rib, 0, 0L, active = true,
        None, None, None, None, None, mvpn, evpn, None, Model.emptyAttrs, i.toLong)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    for (rib <- Seq("evpn", "mvpn")) {
      val d = s.createDataset((1 to 7).map(route(rib, _)) :+ {
          val r = route(rib, 8)
          r.copy(evpn = r.evpn.map(_.copy(ip = Some(Model.v4("10.9.0.8", 32)))),
            mvpn = r.mvpn.map(_.copy(originator = Some(Model.v4("10.9.0.8", 32)))))
        }).toDF()
      def page(qs: String) =
        mapper.readTree(Api.handle(d, s"/api/json/$rib?filter=10.2.0.0%2F16&limit=3$qs").get)
      val walked = scala.collection.mutable.Buffer[String]()
      var doc = page("")
      assert(doc.get("found").asLong == 7, doc)
      var guard = 0
      while ({ walked ++= doc.get("items").fieldNames.asScala; !doc.get("next_after").isNull }) {
        guard += 1; assert(guard < 10, "runaway walk")
        doc = page("&after=" + doc.get("next_after").asText)
      }
      assert(walked.size == 7 && walked.distinct.size == 7, walked)
      assert(!walked.exists(_.contains("\"rdl\":8}")), walked) // key 8 does not match
      // skip pages over the tied keys list the same keys in the same order
      val skipped = (0 until 7 by 3).flatMap(k =>
        page(s"&skip=$k").get("items").fieldNames.asScala)
      assert(skipped == walked.toSeq, s"$rib: $skipped vs $walked")
    }
  }

  test("params: unparseable values are ignored, keeping defaults") {
    val p = Api.parseParams(Map(
      "skip" -> "abc", "limit" -> "", "onlyactive" -> "yes", "maxdepth" -> "7"))
    assert(p.skip == 0 && p.limit == 1000 && !p.onlyActive && p.maxDepth == 7)
  }

  test("params: a negative count keeps its default, one past Int.MaxValue clamps") {
    val neg = Api.parseParams(Map("skip" -> "-1", "limit" -> "-1", "maxdepth" -> "-2"))
    assert(neg.skip == 0 && neg.limit == 1000 && neg.maxDepth == 10)
    val big = Api.parseParams(Map("skip" -> "99999999999", "limit" -> "99999999999",
      "maxdepth" -> "4294967296"))
    assert(big.skip == Int.MaxValue && big.limit == Int.MaxValue && big.maxDepth == Int.MaxValue)
    // each answers a page (a 200), not a Spark analysis error (a 500)
    val d = events
    Seq("limit=-1" -> "\"skip\":0,\"limit\":1000,", "skip=-1" -> "\"skip\":0,\"limit\":1000,",
      "limit=99999999999" -> s"\"skip\":0,\"limit\":${Int.MaxValue},",
      "skip=1&limit=99999999999" -> s"\"skip\":1,\"limit\":${Int.MaxValue},",
      "maxdepth=-1" -> "\"maxdepth\":10,").foreach { case (q, echo) =>
      val body = Api.handle(d, s"/api/json/ipv4u?filter=10.0.0.0%2F8&$q")
      assert(body.exists(b => b.contains(echo) && b.contains("\"length\":1")), s"$q: $body")
      assert(body.exists(_.contains(if (q.startsWith("skip=1")) "\"items\":{}" else "\"found\":1")),
        s"$q: $body")
    }
  }

  test("unknown rib name dispatches to ipv4u") {
    assert(Api.ribName("vpnv6u") == "vpnv6u")
    assert(Api.ribName("nonsense") == "ipv4u")
  }

  test("session FSM state strings match the reference Debug names") {
    assert(Seq(Api.Idle, Api.Connect, Api.Active, Api.OpenSent,
      Api.OpenConfirm, Api.Established, Api.BMP).map(_.render) ==
      Seq("Idle", "Connect", "Active", "OpenSent", "OpenConfirm",
        "Established", "BMP"))
  }

  test("wire sessions document serializes the handshake registry") {
    import spark.implicits._
    val events = (0L until 16L).map(i =>
      (i, i, new java.sql.Timestamp(base + i * 1000))).toDF("event_id", "user_id", "ts")
    val reg = graft.sources.BgpSession.sessionRegistry(
      graft.sources.BgpWire.decodeBmpFrames(
        graft.sources.BgpSession.bmpStream(events)))
    val json = Api.wireSessionsJson(reg)
    // registered sessions are uid%4 ∈ {1, 2}; fields come from the decoded
    // OPENs (local_as through the AS_TRANS + 4-octet-cap path)
    assert(json ==
      """[{"session_id":1,"rd":"1:101","peer_as":65001,"local_as":70001,""" +
      """"hold_time":33,"router_id":33686017,"caps_matched":2},""" +
      """{"session_id":2,"rd":"2:102","peer_as":65002,"local_as":70002,""" +
      """"hold_time":36,"router_id":33686018,"caps_matched":2}]""")
  }

  test("router: ping, state, statistics, sessions, json; 404s") {
    val d = events
    assert(Api.handle(d, "/api/ping").contains("pong"))
    assert(Api.handle(d, "/api/state", Api.OpenConfirm).contains("OpenConfirm"))
    assert(Api.handle(d, "/api/statistics").exists(_.contains("\"ribs\":{\"ipv4u\":3}")))
    val sess = Api.handle(d, "/api/sessions").get
    assert(sess.contains("\"session_id\":0") && sess.contains("\"session_id\":1"))
    val json = Api.handle(d, "/api/json/ipv4u?filter=10.0.0.0%2F24&limit=5").get
    assert(json.contains("\"ribtype\":\"ipv4u\"") && json.contains("\"limit\":5"))
    assert(json.contains("\"found\":1"))
    assert(Api.handle(d, "/api").isEmpty)
    assert(Api.handle(d, "/other/ping").isEmpty)
    assert(Api.handle(d, "/api/nonsense").isEmpty)
  }

  test("router: /api/moas — conflicting-origin page") {
    val s = spark
    import s.implicits._
    def ev(sess: Int, o3: Int, origin: Long, h: Long) = {
      val p = Model.v4(s"10.0.$o3.0", 24)
      RouteEvent(new java.sql.Timestamp(base + h), "ipv4u", sess, 0L,
        active = true, Some(p), Some(Model.pfxStr(p)), None, None, None,
        None, None, None,
        Model.emptyAttrs.copy(as_list = Seq(7L, origin)), h)
    }
    // 10.0.1.0/24 announced with origins 100 AND 200 (two sessions) —
    // the conflict; 10.0.2.0/24 single-origin stays off the page
    val d = s.createDataset(Seq(
      ev(0, 1, 100L, 1L), ev(1, 1, 200L, 2L), ev(0, 2, 300L, 3L))).toDF()
    val doc = Api.handle(d, "/api/moas").get
    assert(doc.contains("\"summary\":[{\"rib\":\"ipv4u\",\"conflicts\":1}]"), doc)
    assert(doc.contains("\"prefix\":\"10.0.1.0/24\"") &&
      doc.contains("\"n_origins\":2") && doc.contains("\"n_routes\":2") &&
      doc.contains("\"min_origin\":100") &&
      doc.contains("\"max_origin\":200"), doc)
    assert(!doc.contains("10.0.2.0/24"), doc)
    // limit=0 keeps the summary, drops the item page
    assert(Api.handle(d, "/api/moas?limit=0").get.contains("\"items\":[]"))
  }

  test("router: /api/rpki — invalid page against a configured ROA table") {
    val s = spark
    import s.implicits._
    def ev(o3: Int, origin: Long, h: Long) = {
      val p = Model.v4(s"10.0.$o3.0", 24)
      RouteEvent(new java.sql.Timestamp(base + h), "ipv4u", 0, 0L,
        active = true, Some(p), Some(Model.pfxStr(p)), None, None, None,
        None, None, None,
        Model.emptyAttrs.copy(as_list = Seq(7L, origin)), h)
    }
    val d = s.createDataset(Seq(ev(1, 100L, 1L), ev(2, 200L, 2L))).toDF()
    // ROA 10.0.0.0/16 maxlen 24 origin 100: route 1 valid, route 2
    // announced by the wrong origin → invalid_origin, the item page
    val roas = Seq((167772160L, 16L, 24L, 100L))
      .toDF("roa_ip", "roa_plen", "roa_maxlen", "roa_origin")
    val doc = Api.handle(d, "/api/rpki", roas = Some(roas)).get
    assert(doc.contains("\"validity\":\"valid\",\"n_routes\":1"), doc)
    assert(doc.contains("\"validity\":\"invalid_origin\",\"n_routes\":1"), doc)
    assert(doc.contains("\"prefix\":\"10.0.2.0/24\"") &&
      doc.contains("\"origin\":200"), doc)
    assert(!doc.contains("\"prefix\":\"10.0.1.0/24\""), doc)
    // no ROA table configured: everything not_found, empty invalid page
    val bare = Api.handle(d, "/api/rpki").get
    assert(bare.contains("\"validity\":\"not_found\",\"n_routes\":2"), bare)
    assert(bare.contains("\"items\":[]"), bare)
  }

  test("router: /api/leaks — valley-free audit over the inferred rels") {
    val s = spark
    import s.implicits._
    def ev(path: Seq[Long], h: Long) =
      RouteEvent(new java.sql.Timestamp(base + h), "ipv4u", 0, 0L,
        active = true, None, None, None, None, None,
        None, None, None, Model.emptyAttrs.copy(as_list = path), h)
    // degree plants make AS1/AS2 providers of AS5 under the Gao
    // inference; path [1,5,2] then descends 1→5 (down) and re-exports
    // 5→2 (up after down) — the one leak, leaker AS5
    val paths = Seq(
      Seq(10L, 1L, 11L), Seq(12L, 1L, 13L), Seq(14L, 1L, 15L),
      Seq(20L, 2L, 21L), Seq(22L, 2L, 23L), Seq(24L, 2L, 25L)) ++
      (40L to 45L).map(x => Seq(x, 1L, 5L)) :+ Seq(30L, 1L, 5L)
    val votes2 = (32L to 37L).map(x => Seq(x, 2L, 5L))
    val all = (paths ++ votes2 :+ Seq(1L, 5L, 2L)).zipWithIndex
      .map { case (p, i) => ev(p, i + 1L) }
    val d = s.createDataset(all).toDF()
      .withColumn("event_id",
        org.apache.spark.sql.functions.col("attrs_hash"))
    val doc = Api.handle(d, "/api/leaks").get
    assert(doc.contains("\"summary\":[{\"rib\":\"ipv4u\",\"leaks\":1}]"), doc)
    assert(doc.contains("\"leaker_as\":5") && doc.contains("\"leak_pos\":1") &&
      doc.contains("\"first_down\":0") &&
      doc.contains("\"unknown_edges\":0"), doc)
  }

  test("security endpoints: keyset walk ≡ one offset page (moas/rpki/leaks)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    // shared walker: follow next_after until it goes null, concatenating
    // the raw item objects; must equal the single big-limit page
    val ItemsRe = """"items":\[(.*?)\],"next_after"""".r
    val NextRe = """"next_after":"([^"]*)"""".r
    def norm(items: Seq[String]): Seq[String] =
      items.map(_.stripPrefix("{").stripSuffix("}"))
    def walk(call: String => String, lim: Int): Seq[String] = {
      val out = scala.collection.mutable.Buffer[String]()
      var after: Option[String] = None
      var go = true
      var guard = 0
      while (go) {
        guard += 1; assert(guard < 20, "runaway walk")
        val doc = call(s"limit=$lim" + after.map(a =>
          "&after=" + java.net.URLEncoder.encode(a, "UTF-8")).getOrElse(""))
        val items = ItemsRe.findFirstMatchIn(doc).map(_.group(1)).get
        if (items.nonEmpty) out ++= norm(items.split("""\},\{""").toSeq)
        after = NextRe.findFirstMatchIn(doc).map(_.group(1))
        go = after.isDefined
      }
      out.toSeq
    }
    def onePage(call: String => String): Seq[String] = {
      val doc = call("limit=1000")
      assert(doc.contains("\"next_after\":null"), doc)
      val items = ItemsRe.findFirstMatchIn(doc).map(_.group(1)).get
      norm(items.split("""\},\{""").toSeq)
    }
    def check(call: String => String, nItems: Int): Unit = {
      val full = onePage(call)
      assert(full.length == nItems, full)
      assert(walk(call, 2) == full)
      // a garbage token degrades to the first page, never throws
      assert(norm(ItemsRe.findFirstMatchIn(call("limit=1000&after=%7Cgarbage%7C"))
        .map(_.group(1)).get.split("""\},\{""").toSeq) == full)
    }

    // moas: three conflicting prefixes
    def mev(sess: Int, o3: Int, origin: Long, h: Long) = {
      val p = Model.v4(s"10.0.$o3.0", 24)
      RouteEvent(new java.sql.Timestamp(base + h), "ipv4u", sess, 0L,
        active = true, Some(p), Some(Model.pfxStr(p)), None, None, None,
        None, None, None, Model.emptyAttrs.copy(as_list = Seq(7L, origin)), h)
    }
    val moasD = s.createDataset((1 to 3).flatMap(i => Seq(
      mev(0, i, 100L, i * 2L), mev(1, i, 200L, i * 2L + 1L)))).toDF()
    check(qs => Api.handle(moasD, s"/api/moas?$qs").get, 3)

    // rpki: three invalid-origin routes under one covering ROA
    val rpkiD = s.createDataset((1 to 3).map(i =>
      mev(0, i, 999L, i.toLong)) :+ mev(0, 4, 100L, 9L)).toDF()
    val roas = Seq((167772160L, 16L, 24L, 100L))
      .toDF("roa_ip", "roa_plen", "roa_maxlen", "roa_origin")
    check(qs => Api.handle(rpkiD, s"/api/rpki?$qs", roas = Some(roas)).get, 3)

    // leaks: the ApiSpec leak plant replayed at three event ids
    def lev(path: Seq[Long], h: Long) =
      RouteEvent(new java.sql.Timestamp(base + h), "ipv4u", 0, 0L,
        active = true, None, None, None, None, None,
        None, None, None, Model.emptyAttrs.copy(as_list = path), h)
    val paths = Seq(
      Seq(10L, 1L, 11L), Seq(12L, 1L, 13L), Seq(14L, 1L, 15L),
      Seq(20L, 2L, 21L), Seq(22L, 2L, 23L), Seq(24L, 2L, 25L)) ++
      (40L to 45L).map(x => Seq(x, 1L, 5L)) :+ Seq(30L, 1L, 5L)
    val votes2 = (32L to 37L).map(x => Seq(x, 2L, 5L))
    val leaks3 = Seq(Seq(1L, 5L, 2L), Seq(1L, 5L, 2L), Seq(1L, 5L, 2L))
    val all = (paths ++ votes2 ++ leaks3).zipWithIndex
      .map { case (p, i) => lev(p, i + 1L) }
    val leaksD: DataFrame = s.createDataset(all).toDF()
      .withColumn("event_id",
        org.apache.spark.sql.functions.col("attrs_hash"))
    check(qs => Api.handle(leaksD, s"/api/leaks?$qs").get, 3)
  }

  test("router: /api/bogons — route classes + martian next-hops") {
    val s = spark
    import s.implicits._
    def ev(dotted: String, nh: Option[IpPfx], h: Long) = {
      val p = Model.v4(dotted, 24)
      RouteEvent(new java.sql.Timestamp(base + h), "ipv4u", 0, 0L,
        active = true, Some(p), Some(Model.pfxStr(p)), None, None, None,
        None, None, None, Model.emptyAttrs.copy(nexthop = nh), h)
    }
    val d = s.createDataset(Seq(
      ev("10.1.0.0", Some(Model.v4("192.168.9.9", 32)), 1L),
      ev("8.8.8.0", None, 2L))).toDF()
    val doc = Api.handle(d, "/api/bogons").get
    assert(doc.contains(
      "{\"rib\":\"ipv4u\",\"class\":\"v4-rfc1918-10\",\"n_routes\":1,\"n_prefixes\":1}"),
      doc)
    assert(doc.contains("\"class\":\"clean\""), doc)
    assert(doc.contains(
      "\"nexthops\":[{\"rib\":\"ipv4u\",\"class\":\"v4-rfc1918-192\",\"n_routes\":1,\"n_nexthops\":1}]"),
      doc)
  }

  test("router: /api/diff delta document — classes, rib select, limit") {
    val s = spark
    import s.implicits._
    def rev(ts: Long, active: Boolean, h: Long, o3: Int, sess: Int) = {
      val p = Model.v4(s"10.0.$o3.0", 24)
      RouteEvent(new java.sql.Timestamp(ts), "ipv4u", sess, 0L, active,
        Some(p), Some(Model.pfxStr(p)), None, None, None, None,
        None, None, Model.emptyAttrs, h)
    }
    // at t1=base+5000 / t2=base+20000: ring .1 changed, ring .2 withdrawn,
    // ring .3 added
    val d = s.createDataset(Seq(
      rev(base + 1000, active = true, 1L, 1, 0),
      rev(base + 10000, active = true, 2L, 1, 0),
      rev(base + 2000, active = true, 3L, 2, 0),
      rev(base + 11000, active = false, 3L, 2, 0),
      rev(base + 12000, active = true, 4L, 3, 0))).toDF()
    val doc = Api.handle(d,
      s"/api/diff?t1=${base + 5000}&t2=${base + 20000}").get
    assert(doc.contains("\"summary\":[{\"rib\":\"ipv4u\",\"added\":1," +
      "\"withdrawn\":1,\"changed\":1}]"), doc)
    assert(doc.contains("{\"rib\":\"ipv4u\",\"key\":\"10.0.3.0/24\"," +
      "\"change\":\"added\"}"), doc)
    // limit=0 keeps the summary but drops items; rib select filters
    val lim = Api.handle(d,
      s"/api/diff?t1=${base + 5000}&t2=${base + 20000}&limit=0").get
    assert(lim.contains("\"items\":[]"), lim)
    // unknown rib dispatches to ipv4u (the json-route convention)
    val other = Api.handle(d,
      s"/api/diff?t1=${base + 5000}&t2=${base + 20000}&rib=nonsense").get
    assert(other.contains("\"changed\":1"), other)
    // user params degrade, never throw (review finding): reversed
    // instants swap, an over-int limit clamps — a throw here would make
    // GraftServer's catch-all drop the socket with no response
    val swapped = Api.handle(d,
      s"/api/diff?t1=${base + 20000}&t2=${base + 5000}").get
    assert(swapped == doc, swapped)
    val big = Api.handle(d,
      s"/api/diff?t1=${base + 5000}&t2=${base + 20000}&limit=2147483648").get
    assert(big.contains("\"summary\""), big)
  }
}
