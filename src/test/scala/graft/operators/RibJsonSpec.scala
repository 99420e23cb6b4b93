package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.filter.FilterParser
import graft.model._
import graft.sources.RouteEventGen

/** JSON contract goldens (FIXTURES.md §3): response shape, newest-first
  * maxdepth cap, onlyactive pruning, empty-subtree pruning, supernet
  * fallback ordering, found/length fields
  * (reference: src/bgpsvc.rs:493-707). */
class RibJsonSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val base = 1700000000000L

  private def ev(ts: Long, active: Boolean, hash: Long, sess: Int = 0,
      path: Long = 0L, pfx: IpPfx = Model.v4("10.0.0.0", 24)): RouteEvent =
    RouteEvent(new java.sql.Timestamp(ts), "ipv4u", sess, path, active,
      Some(pfx), Some(Model.pfxStr(pfx)), None, None, None, None, None, None,
      Model.emptyAttrs.copy(med = Some(hash)), hash)

  private def df(evs: Seq[RouteEvent]): DataFrame = {
    val s = spark
    import s.implicits._
    s.createDataset(evs).toDF()
  }

  test("items tree: nesting, newest-first, maxdepth cap") {
    val d = df(Seq(
      ev(base, active = true, 1L),
      ev(base + 1000, active = true, 2L),
      ev(base + 2000, active = true, 3L),
      ev(base + 500, active = true, 9L, sess = 1)))
    val (rows, found, length) = RibJson.jsonPage(d, "ipv4u", "10.0.0.0/24",
      RibJson.RibParams(maxDepth = 2))
    assert(found == 1 && length == 1)
    assert(rows.length == 1)
    assert(rows(0).itemKey == "10.0.0.0/24")
    val json = rows(0).itemsJson
    // sessions 0 and 1 present; session 0 capped to newest 2 entries
    assert(json.contains("\"" + (base + 2000) + "\""))
    assert(json.contains("\"" + (base + 1000) + "\""))
    assert(!json.contains("\"" + base + "\"")) // trimmed by maxdepth
    assert(json.contains("\"" + (base + 500) + "\"")) // session 1 untouched
    // newest-first within the history map
    assert(json.indexOf((base + 2000).toString) < json.indexOf((base + 1000).toString))
    // med survives as attr payload
    assert(json.contains("\"med\":3"))
  }

  test("onlyactive prunes entries and empty subtrees") {
    val d = df(Seq(
      ev(base, active = false, 1L),
      ev(base + 1000, active = false, 2L),
      ev(base + 500, active = true, 9L, sess = 1)))
    val (rows, found, _) = RibJson.jsonPage(d, "ipv4u", "10.0.0.0/24",
      RibJson.RibParams(onlyActive = true))
    assert(found == 1 && rows.length == 1)
    val json = rows(0).itemsJson
    assert(json.startsWith("{\"1\":{")) // session 0 entirely pruned
    assert(json.contains("\"" + (base + 500) + "\""))
  }

  test("empty page falls back to supernets, most-specific first") {
    val d = df(Seq(
      ev(base, active = true, 1L, pfx = Model.v4("10.0.0.0", 8)),
      ev(base, active = true, 2L, pfx = Model.v4("10.0.0.0", 16))))
    // host 10.0.0.77 not present → fallback lists containing supernets
    val (items, found, length) = RibJson.jsonPage(d, "ipv4u", "10.0.0.77",
      RibJson.RibParams())
    assert(found == 0 && length == 2)
    val keys = items.map(_.itemKey)
    assert(keys == Seq("10.0.0.0/16", "10.0.0.0/8") ||
      keys.toSet == Set("10.0.0.0/16", "10.0.0.0/8"))
  }

  test("structural golden: 20-route page under maxdepth/onlyactive/changed bounds") {
    // 20 routes 10.0.i.0/24; main ring (sess=i%2, path=i%3) holds 5 entries
    // (j=1 withdrawn); routes i%5==0 carry an extra ring (sess=3, path=0).
    // Params exercise every response knob at once: pagination 5/10,
    // maxdepth 3, onlyactive, and half-open change bounds that trim j=0.
    val evs = (0 until 20).flatMap { i =>
      val pfx = Model.v4(s"10.0.$i.0", 24)
      val main = (0 until 5).map { j =>
        ev(base + j * 1000, active = j != 1, hash = i * 10 + j,
          sess = i % 2, path = i % 3, pfx = pfx)
      }
      val extra = if (i % 5 == 0)
        Seq(ev(base + 2500, active = true, hash = 900 + i, sess = 3, path = 0L,
          pfx = pfx))
      else Nil
      main ++ extra
    }
    val p = RibJson.RibParams(skip = 5, limit = 10, maxDepth = 3,
      onlyActive = true,
      changedAfterMs = Some(base + 500), changedBeforeMs = Some(base + 4500))
    val (rows, found, length) = RibJson.jsonPage(df(evs), "ipv4u",
      "10.0.0.0/16", p)
    assert(found == 20 && length == 20)
    assert(rows.map(_.itemKey) ==
      (5 until 15).map(i => s"10.0.$i.0/24"))

    // independently-built expected tree: per ring, entries passing
    // (active ∧ base+500 < ts < base+4500), newest-first, capped at 3
    def expectedTree(i: Int): Map[String, Map[String, Seq[(Long, Boolean, Long)]]] = {
      val mainHist = (4 to 0 by -1)
        .filter(j => j != 1 && j * 1000 > 500 && j * 1000 < 4500)
        .map(j => (base + j * 1000, true, (i * 10 + j).toLong)).take(3)
      val main = Map(s"${i % 3}" -> mainHist)
      val extras: Map[String, Map[String, Seq[(Long, Boolean, Long)]]] =
        if (i % 5 == 0)
          Map("3" -> Map("0" -> Seq((base + 2500, true, (900 + i).toLong))))
        else Map.empty
      Map(s"${i % 2}" -> main) ++ extras
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    rows.zipWithIndex.foreach { case (row, idx) =>
      val i = idx + 5
      val want = expectedTree(i)
      val node = mapper.readTree(row.itemsJson)
      import scala.jdk.CollectionConverters._
      // session keys ascending
      assert(node.fieldNames.asScala.toSeq == want.keys.toSeq.sortBy(_.toLong),
        s"session keys for route $i")
      want.foreach { case (sess, paths) =>
        val sessNode = node.get(sess)
        assert(sessNode.fieldNames.asScala.toSeq ==
          paths.keys.toSeq.sortBy(_.toLong), s"path keys for route $i sess $sess")
        paths.foreach { case (path, hist) =>
          val pathNode = sessNode.get(path)
          // history keys are epoch millis, newest first
          assert(pathNode.fieldNames.asScala.toSeq == hist.map(_._1.toString),
            s"history order for route $i sess $sess path $path")
          hist.foreach { case (ts, active, med) =>
            val e = pathNode.get(ts.toString)
            assert(e.get("Active").asBoolean == active)
            assert(e.get("Attrs").get("med").asLong == med,
              s"med for route $i ts $ts")
          }
        }
      }
    }
  }

  test("history ties at one ts order by entry JSON, descending UTF-8 bytes") {
    // two entries of one ring at the same ts: the newest-first order breaks
    // the tie on the entry JSON in descending UTF-8 byte order. U+1F600
    // (UTF-8 F0…) sorts above U+E000 (EE…) by bytes but below it by UTF-16
    // code units, so the pick under maxdepth=1 pins the byte order.
    def tie(origin: String, hash: Long) = ev(base, active = true, hash).copy(
      attrs = Model.emptyAttrs.copy(origin = origin, med = Some(hash)))
    val emoji = new String(Character.toChars(0x1F600))
    val d = df(Seq(tie("\uE000", 1L), tie(emoji, 2L), ev(base - 1000, active = true, 3L)))
    val (all, _, _) = RibJson.jsonPage(d, "ipv4u", "10.0.0.0/24", RibJson.RibParams())
    val json = all.head.itemsJson
    val at = Seq("\"med\":2", "\"med\":1", "\"med\":3").map(json.indexOf(_))
    assert(at.forall(_ >= 0) && at == at.sorted, json)
    val (one, _, _) = RibJson.jsonPage(d, "ipv4u", "10.0.0.0/24",
      RibJson.RibParams(maxDepth = 1))
    assert(one.head.itemsJson.contains("\"med\":2") &&
      !one.head.itemsJson.contains("\"med\":1"), one.head.itemsJson)
  }

  test("maxdepth=0 renders the history uncapped") {
    // no entry is in depth at maxdepth=0, so the page is the supernet
    // fallback, which lists the route itself with every history entry
    val d = df((0 until 12).map(j => ev(base + j * 1000, active = true, j.toLong)))
    val (items, found, length) = RibJson.jsonPage(d, "ipv4u", "10.0.0.0/24",
      RibJson.RibParams(maxDepth = 0))
    assert(found == 0 && length == 1 && items.map(_.itemKey) == Seq("10.0.0.0/24"))
    val hist = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(items.head.itemsJson).get("0").get("0")
    assert(hist.size == 12, items.head.itemsJson)
  }

  test("supernet fallback leaves out a route whose entries all fail onlyactive") {
    val d = df(Seq(
      ev(base, active = true, 1L, pfx = Model.v4("10.0.0.0", 8)),
      ev(base, active = false, 2L, pfx = Model.v4("10.0.0.0", 16))))
    val (items, found, length) = RibJson.jsonPage(d, "ipv4u", "10.0.0.77",
      RibJson.RibParams(onlyActive = true))
    assert(found == 0 && length == 2)
    assert(items.map(_.itemKey) == Seq("10.0.0.0/8"))
    val resp = RibJson.response(d, "ipv4u", "10.0.0.77",
      RibJson.RibParams(onlyActive = true, limit = 1))
    assert(!resp.contains("10.0.0.0/16") && resp.endsWith("\"next_after\":null}"), resp)
  }

  test("full response document shape") {
    val d = df(Seq(ev(base, active = true, 1L)))
    val resp = RibJson.response(d, "ipv4u", "10.0.0.0/24",
      RibJson.RibParams(skip = 0, limit = 10, maxDepth = 3))
    assert(resp.startsWith("{\"ribtype\":\"ipv4u\",\"length\":1,\"skip\":0,"))
    assert(resp.contains("\"found\":1"))
    assert(resp.contains("\"items\":{\"10.0.0.0/24\":{"))
    assert(resp.contains("\"changed_after\":null"))
  }

  private lazy val re = RouteEventGen.routeEvents(spark, "/root/testdata/sf0.001")

  /** found/length by a plain aggregate over the key flags, independent of
    * the metrics the page's key pass observes. */
  private def counted(events: DataFrame, rib: String, filter: String,
      p: RibJson.RibParams): (Long, Long) = {
    val r = RibJson.keyFlags(events, rib, FilterParser.parse(filter), p)
      .agg(sum(col("__m")), count(lit(1))).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  test("property: found/length equal a count over the key flags across ribs and filters") {
    val Seq(lo, hi) = re.agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val third = (hi - lo) / 3
    val cases = Seq(
      ("ipv4u", "10.4.0.0/14", RibJson.RibParams(limit = 20, maxDepth = 5)),
      ("ipv4u", "", RibJson.RibParams(limit = 20, maxDepth = 1)),
      ("ipv4u", "community:10:25", RibJson.RibParams(limit = 20, onlyActive = true)),
      ("ipv4u", "10.0.0.0/8", RibJson.RibParams(limit = 20,
        changedAfterMs = Some(lo + third), changedBeforeMs = Some(hi - third))),
      ("ipv6u", "", RibJson.RibParams(limit = 20, onlyActive = true,
        changedAfterMs = Some(lo + third))),
      ("vpnv4u", "as:^101", RibJson.RibParams(limit = 20)),
      ("evpn", "", RibJson.RibParams(limit = 20, changedBeforeMs = Some(hi - third))),
      ("l2vpls", "", RibJson.RibParams(limit = 20, maxDepth = 2)),
      ("ipv4u", "10.3.9.50", RibJson.RibParams(limit = 20)))
    cases.foreach { case (rib, f, p) =>
      val (items, found, length) = RibJson.jsonPage(re, rib, f, p)
      assert((found, length) == counted(re, rib, f, p), s"$rib '$f' $p")
      assert(length > 0 && items.nonEmpty, s"$rib '$f' $p")
      // skip at or past found: an empty page, with the same counts
      if (found > 0) {
        val past = p.copy(skip = found.toInt)
        val (none, f2, l2) = RibJson.jsonPage(re, rib, f, past)
        assert(none.isEmpty && (f2, l2) == (found, length), s"$rib '$f' $past")
      }
    }
  }

  test("after= with an unknown or an unmatched route id gives the first page") {
    val p = RibJson.RibParams(limit = 5, maxDepth = 5)
    val f = "10.4.0.0/14"
    val first = RibJson.jsonPage(re, "ipv4u", f, p)
    assert(first._2 > 0 && first._1.length == 5)
    val unmatched = RibJson.keyFlags(re, "ipv4u", FilterParser.parse(f), p)
      .where(col("__m") === 0).select("route_id").head().getLong(0)
    for (aid <- Seq(unmatched, 42L)) {
      val page = RibJson.jsonPage(re, "ipv4u", f, p.copy(pageAfterId = Some(aid)))
      assert(page == first, s"after=$aid")
    }
    assert(first._2 -> first._3 == counted(re, "ipv4u", f, p))
  }

  test("an empty rib slice pages to 0/0 without throwing") {
    val p = RibJson.RibParams(limit = 20, pageAfterId = Some(7L))
    val empties = Seq(re.limit(0), re.where(col("rib") =!= "ipv4u"), df(Seq.empty[RouteEvent]))
    empties.foreach { e =>
      assert(RibJson.jsonPage(e, "ipv4u", "10.0.0.0/8", p) == ((Seq.empty, 0L, 0L)))
      assert(RibJson.jsonPage(e, "ipv4u", "", p.copy(pageAfterId = None)) ==
        ((Seq.empty, 0L, 0L)))
    }
  }

  test("limit=0 and a skip past a bounded input keep the real found/length") {
    // the optimizer prunes a zero limit, and an offset past a bounded
    // input, together with the counts observed below them
    val f = "10.4.0.0/14"
    val p = RibJson.RibParams(limit = 5, maxDepth = 5)
    val (first, found, length) = RibJson.jsonPage(re, "ipv4u", f, p)
    assert(found > 0 && first.length == 5 && (found, length) == counted(re, "ipv4u", f, p))
    for (q <- Seq(p.copy(limit = 0), p.copy(limit = 0, skip = 3),
        p.copy(limit = 0, pageAfterId = Some(first.last.routeId)))) {
      assert(RibJson.jsonPage(re, "ipv4u", f, q) == ((Seq.empty, found, length)), q)
      val body = RibJson.response(re, "ipv4u", f, q)
      assert(body.contains(s""""length":$length,""") && body.contains(s""""found":$found,""") &&
        body.contains(""""items":{},"next_after":null}"""), body)
    }
    val d = df(Seq(
      ev(base, active = true, 1L),
      ev(base, active = true, 2L, pfx = Model.v4("10.0.1.0", 24)),
      ev(base, active = true, 3L, pfx = Model.v4("10.0.2.0", 24)),
      ev(base, active = true, 4L, pfx = Model.v4("11.0.0.0", 24))))
    val dp = RibJson.RibParams(limit = 2)
    val (dFirst, dFound, dLength) = RibJson.jsonPage(d, "ipv4u", "10.0.0.0/16", dp)
    assert((dFound, dLength) == ((3L, 4L)) && (dFound, dLength) == counted(d, "ipv4u", "10.0.0.0/16", dp))
    assert(dFirst.map(_.itemKey) == Seq("10.0.0.0/24", "10.0.1.0/24"))
    for (q <- Seq(dp.copy(limit = 0), dp.copy(skip = 4), dp.copy(skip = 100, limit = 0),
        dp.copy(limit = 0, pageAfterId = Some(dFirst.head.routeId))))
      assert(RibJson.jsonPage(d, "ipv4u", "10.0.0.0/16", q) == ((Seq.empty, 3L, 4L)), q)
    // the rest of the matched keys after the first page fit the page
    // limit: the counts are those of the whole rib, once
    val rest = RibJson.jsonPage(d, "ipv4u", "10.0.0.0/16",
      dp.copy(limit = 10, pageAfterId = Some(dFirst.last.routeId)))
    assert(rest._1.map(_.itemKey) == Seq("10.0.2.0/24") && rest._2 == 3L && rest._3 == 4L)
  }

  test("a page planned without top-K counts once on either key pass") {
    // skip + limit at or past spark.sql.execution.topKSortFallbackThreshold,
    // or a bounded input whose keys fit the page, would plan the page as a
    // global sort, whose range-partition sampling job over an exchanged
    // key pass runs the observed counts a second time. The rib state,
    // which would answer these key-only pages, is off
    val f = "10.4.0.0/14"
    val p = RibJson.RibParams(limit = 5, maxDepth = 5)
    val first = RibJson.jsonPage(re, "ipv4u", f, p)._1
    val (found, length) = counted(re, "ipv4u", f, p)
    assert(found > 5 && first.length == 5)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    onSparkKeyPass {
      for ((q, items) <- Seq("limit=99999999999" -> found, "skip=1&limit=99999999999" -> (found - 1),
          s"after=${first.head.routeId}&limit=99999999999" -> (found - 1))) {
        val doc = mapper.readTree(
          Api.handle(re, s"/api/json/ipv4u?filter=10.4.0.0%2F14&maxdepth=5&$q").get)
        assert((doc.get("found").asLong, doc.get("length").asLong) == ((found, length)) &&
          doc.get("items").size == items, q)
      }
      // a bounded input whose keys fit the page: the optimizer drops the
      // page's limit and leaves a global sort
      val bounded = re.limit(re.count().toInt)
      val (items, bFound, bLength) = RibJson.jsonPage(bounded, "ipv4u", f, p.copy(limit = 1000))
      assert((bFound, bLength) == ((found, length)) && items.length == found)
    }
  }

  test("concurrent pages on one session answer as each page run alone") {
    // every page observes its own found/length: eight pages with distinct
    // filters and counts, run at once, give the bytes each gives alone
    val pages = Seq(
      ("ipv4u", "10.4.0.0/14"), ("ipv4u", "10.0.0.0/8"), ("ipv4u", "community:10:25"),
      ("ipv4u", "10.3.9.50"), ("ipv6u", ""), ("vpnv4u", "as:^101"), ("evpn", ""),
      ("l2vpls", ""))
    val p = RibJson.RibParams(limit = 10, maxDepth = 3)
    val alone = pages.map { case (rib, f) => RibJson.response(re, rib, f, p) }
    assert(alone.distinct.length == pages.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(pages.length)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = pages.map { case (rib, f) =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = { start.await(); RibJson.response(re, rib, f, p) }
        })
      }
      start.countDown()
      val together = futures.map(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
      pages.indices.foreach(i => assert(together(i) == alone(i), pages(i)))
    } finally pool.shutdownNow()
  }

  /** Runs `body` with the rib state off: every page takes the Spark key
    * pass. */
  private def onSparkKeyPass[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try body finally spark.conf.unset(key)
  }

  test("property: a key-only page answers the same bytes from the route-key index as from the key pass") {
    // per rib, filters drawn from its own keys: net, host, +/- terms, the
    // empty filter, rd: and a bare number, a net below a key (the supernet
    // fallback with items) and an address below no key (without); each
    // runs the base page and two of the skip/limit/after=/maxdepth variants
    val p = RibJson.RibParams(limit = 3, maxDepth = 5)
    def variants(pageIds: Seq[Long], unmatched: => Long): Seq[RibJson.RibParams] = Seq(
      p.copy(skip = 2), p.copy(limit = 0), p.copy(skip = 100000),
      p.copy(pageAfterId = pageIds.drop(1).headOption.orElse(Some(42L))),
      p.copy(pageAfterId = Some(42L)), p.copy(pageAfterId = Some(unmatched)),
      p.copy(maxDepth = 1))
    var n = 0
    var nonEmpty = 0
    for (rib <- Model.ribKinds) {
      val keys = re.where(col("rib") === rib)
        .select(col("prefix_str"), col("prefix.prefix_len"), col("rd.rdh"), col("rd.rdl"))
        .distinct().orderBy(col("prefix_str"), col("rdh"), col("rdl")).limit(2).collect()
      val nets = keys.filter(!_.isNullAt(0)).map(r => (r.getString(0), r.getInt(1))).toSeq
      val hosts = nets.map(_._1.takeWhile(_ != '/'))
      val below = nets.collect { case (n, plen) if plen + 2 <= (if (n.contains(':')) 128 else 32) =>
        n.takeWhile(_ != '/') + "/" + (plen + 2) }
      val rds = keys.filter(!_.isNullAt(2)).map(r => s"${r.getLong(2)}:${r.getLong(3)}").toSeq
      val outside = if (nets.exists(_._1.contains(':'))) "3fff::1" else "192.0.2.1"
      val filters = (Seq("", outside) ++ nets.headOption.map(_._1) ++ hosts.lastOption ++
        nets.headOption.zip(hosts.lastOption).map { case ((net, _), h) => s"+$net -$h" } ++
        below.headOption ++ rds.headOption.map("rd:" + _) ++
        rds.headOption.map(_.split(':')(1))).distinct
      for (f <- filters) {
        val base = RibJson.response(re, rib, f, p)
        val items = RibJson.jsonPage(re, rib, f, p)._1
        assert(onSparkKeyPass(RibJson.response(re, rib, f, p)) == base, s"$rib '$f' $p")
        lazy val unmatched = RibJson.keyFlags(re, rib, FilterParser.parse(f), p)
          .where(col("__m") === 0).select("route_id").head(1).headOption.map(_.getLong(0)).getOrElse(7L)
        val vs = variants(items.map(_.routeId), unmatched)
        for (q <- Seq(vs(n % vs.length), vs((n + 3) % vs.length))) {
          val body = RibJson.response(re, rib, f, q)
          assert(onSparkKeyPass(RibJson.response(re, rib, f, q)) == body, s"$rib '$f' $q")
        }
        if (items.nonEmpty) nonEmpty += 1
        n += 1
      }
    }
    assert(n >= 15 * 3 && nonEmpty >= 15, s"$n pages, $nonEmpty non-empty")
  }

  test("property: an attribute or response-filter page answers the same bytes from the entry state as from the key pass") {
    // per rib, attribute terms drawn from its oldest entry (as-path start
    // and end, community, next hop, route target, regex), a net beside a
    // '-' term, the same terms as the supernet fallback's (an address
    // below the entry's key, or below no key); each runs the base page and
    // two of the response-filter, maxdepth, skip/limit and after= variants
    val Seq(lo, hi) = re.agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val third = (hi - lo) / 3
    val p = RibJson.RibParams(limit = 3, maxDepth = 5)
    def variants(pageIds: Seq[Long], unmatched: => Long): Seq[RibJson.RibParams] = Seq(
      p.copy(onlyActive = true), p.copy(changedAfterMs = Some(lo + third)), p.copy(maxDepth = 0),
      p.copy(skip = 2), p.copy(changedBeforeMs = Some(hi - third), maxDepth = 1), p.copy(limit = 0),
      p.copy(pageAfterId = pageIds.drop(1).headOption.orElse(Some(42L))),
      p.copy(onlyActive = true, pageAfterId = Some(42L)), p.copy(pageAfterId = Some(unmatched)),
      p.copy(onlyActive = true, maxDepth = 1, changedAfterMs = Some(lo), changedBeforeMs = Some(hi)))
    var n = 0
    var nonEmpty = 0
    for (rib <- Model.ribKinds) {
      val e = re.where(col("rib") === rib).orderBy(col("event_id"))
        .select(col("prefix_str"), col("prefix.prefix_len"), col("attrs.as_list"), col("attrs.comms"),
          col("attrs.extcomms"), col("attr_strs")).head()
      val asns = Option(e.getSeq[Long](2)).getOrElse(Nil)
      val comm = Option(e.getSeq[org.apache.spark.sql.Row](3)).flatMap(_.headOption)
        .map(c => s"community:${c.getInt(0)}:${c.getInt(1)}")
      val rt = Option(e.getSeq[org.apache.spark.sql.Row](4)).flatMap(_.headOption)
        .map(c => s"rt:${c.getLong(2)}:${c.getLong(3)}")
      val strs = Option(e.getSeq[String](5)).getOrElse(Nil)
      val nh = strs.lift(1).filter(_.nonEmpty).map("nh:" + _)
      val rx = strs.lift(2).filter(_.nonEmpty).map(s => "re:^" + s.takeWhile(_ != ' '))
      val net = Option(e.getString(0))
      val below = net.filter(x => e.getInt(1) + 2 <= (if (x.contains(':')) 128 else 32))
        .map(x => x.takeWhile(_ != '/') + "/" + (e.getInt(1) + 2))
      val outside = if (net.exists(_.contains(':'))) "3fff::1" else "192.0.2.1"
      val attrTerms = asns.headOption.map(a => s"as:^$a") ++ asns.lastOption.map(a => s"as:$a$$") ++
        comm ++ nh ++ rt ++ rx
      val filters = (Seq("") ++ attrTerms ++ net.zip(comm).map { case (x, c) => s"+$x -$c" } ++
        below.zip(attrTerms.headOption).map { case (b, t) => s"$b $t" } ++
        comm.map(c => s"$outside $c")).distinct
      assert(attrTerms.size >= 4, s"$rib: $attrTerms")
      for (f <- filters) {
        val base = RibJson.response(re, rib, f, p)
        val items = RibJson.jsonPage(re, rib, f, p)._1
        assert(onSparkKeyPass(RibJson.response(re, rib, f, p)) == base, s"$rib '$f' $p")
        lazy val unmatched = RibJson.keyFlags(re, rib, FilterParser.parse(f), p)
          .where(col("__m") === 0).select("route_id").head(1).headOption.map(_.getLong(0)).getOrElse(7L)
        val vs = variants(items.map(_.routeId), unmatched)
        for (q <- Seq(vs(n % vs.length), vs((n + 3) % vs.length))) {
          val body = RibJson.response(re, rib, f, q)
          assert(onSparkKeyPass(RibJson.response(re, rib, f, q)) == body, s"$rib '$f' $q")
        }
        if (items.nonEmpty) nonEmpty += 1
        n += 1
      }
    }
    assert(n >= 15 * 6 && nonEmpty >= 15 * 3, s"$n pages, $nonEmpty non-empty")
  }

  /** `evs` written as a rib-partitioned Parquet log under `dir`. */
  private def writeLog(evs: Seq[RouteEvent], dir: java.nio.file.Path, mode: String): Unit =
    df(evs).write.mode(mode).partitionBy("rib").parquet(dir.toString)

  test("a file appended to a parquet log shows its key on the next page") {
    val dir = java.nio.file.Files.createTempDirectory("ribjson_log")
    try {
      writeLog(Seq(ev(base, active = true, 1L),
        ev(base, active = true, 2L, pfx = Model.v4("10.0.1.0", 24)),
        ev(base, active = true, 3L, pfx = Model.v4("11.0.0.0", 24))), dir, "overwrite")
      val p = RibJson.RibParams(limit = 10)
      val before = RibJson.jsonPage(spark.read.parquet(dir.toString), "ipv4u", "10.0.0.0/16", p)
      assert(before._1.map(_.itemKey) == Seq("10.0.0.0/24", "10.0.1.0/24") &&
        (before._2, before._3) == ((2L, 3L)))
      writeLog(Seq(ev(base + 1000, active = true, 4L, pfx = Model.v4("10.0.0.128", 25))), dir, "append")
      val log = spark.read.parquet(dir.toString)
      val after = RibJson.jsonPage(log, "ipv4u", "10.0.0.0/16", p)
      assert(after._1.map(_.itemKey) == Seq("10.0.0.0/24", "10.0.0.128/25", "10.0.1.0/24") &&
        (after._2, after._3) == ((3L, 4L)), after)
      assert(RibJson.response(log, "ipv4u", "10.0.0.0/16", p) ==
        onSparkKeyPass(RibJson.response(log, "ipv4u", "10.0.0.0/16", p)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Runs `filters`' ipv4u pages at once on a fresh Parquet log of the
    * ipv4u slice, asserts that each page's body equals the one it gives
    * alone on the key pass, and returns the number of the runs' SQL
    * executions with an aggregate (the key part's build is the only one),
    * and of those named `ribStateEntries` (the entry part's build). */
  private def onFreshLog(fs: Seq[String], p: RibJson.RibParams): (Int, Int) = {
    val dir = java.nio.file.Files.createTempDirectory("ribjson_fresh")
    try {
      re.where(col("rib") === "ipv4u").write.mode("overwrite").partitionBy("rib").parquet(dir.toString)
      val log = spark.read.parquet(dir.toString)
      val alone = onSparkKeyPass(fs.map(f => RibJson.response(log, "ipv4u", f, p)))
      assert(alone.distinct.length == fs.length, fs.zip(alone).groupBy(_._2).values.filter(_.size > 1)
        .map(_.map(_._1)))
      val (aggregates, entryBuilds) =
        (new java.util.concurrent.atomic.AtomicInteger(), new java.util.concurrent.atomic.AtomicInteger())
      val marker = spark.range(1).toDF()
      @volatile var markerSeen = false
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          if (qe eq marker.queryExecution) markerSeen = true
          else {
            if (qe.optimizedPlan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]))
              aggregates.incrementAndGet()
            if (f == "ribStateEntries") entryBuilds.incrementAndGet()
          }
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.length)
      spark.listenerManager.register(listener)
      try {
        val start = new java.util.concurrent.CountDownLatch(1)
        val futures = fs.map { f =>
          pool.submit(new java.util.concurrent.Callable[String] {
            def call(): String = { start.await(); RibJson.response(log, "ipv4u", f, p) }
          })
        }
        start.countDown()
        val together = futures.map(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
        fs.indices.foreach(i => assert(together(i) == alone(i), fs(i)))
        // the listener bus delivers in order: once a marker action's event
        // has arrived, every build's has
        marker.collect()
        val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
        while (!markerSeen && System.nanoTime < deadline) Thread.sleep(5)
        assert(markerSeen)
        (aggregates.get, entryBuilds.get)
      } finally {
        spark.listenerManager.unregister(listener)
        pool.shutdownNow()
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("eight pages at once on a fresh log version build one index and answer as each alone") {
    // seven nets of distinct keys, each the page of its own key and the
    // keys inside it, and a supernet page
    val nets = re.where(col("rib") === "ipv4u").select("prefix_str").distinct().orderBy("prefix_str")
      .collect().map(_.getString(0)).grouped(20).map(_.head).take(7).toSeq
    val (aggregates, entryBuilds) =
      onFreshLog(nets :+ "10.3.9.50", RibJson.RibParams(limit = 10, maxDepth = 3))
    // the key part's build is the only aggregate a key-only page runs, and
    // no key-only page builds the entry part
    assert(aggregates == 1 && entryBuilds == 0, s"$aggregates key builds, $entryBuilds entry builds")
  }

  test("eight attribute pages at once on a fresh log version build one entry state") {
    // attribute terms, alone and beside a net, response filters, and an
    // attribute term whose page is the supernet fallback
    val filters = Seq("community:10:25", "as:^101", "re:^100.20", "rt:200:301",
      "10.4.0.0/14 community:10:5", "-community:10:25", "10.3.9.50 as:^101", "")
    val (aggregates, entryBuilds) = onFreshLog(filters,
      RibJson.RibParams(limit = 10, maxDepth = 3, onlyActive = true))
    assert(aggregates == 1 && entryBuilds == 1, s"$aggregates key builds, $entryBuilds entry builds")
  }

  test("statistics json shape") {
    val d = df(Seq(ev(base, active = true, 1L), ev(base + 1, active = false, 2L)))
    val j = Statistics.statisticsJson(d)
    assert(j.contains("\"stores\":{"))
    assert(j.contains("\"ribs\":{\"ipv4u\":2}"))
    assert(j.contains("\"counters\":{\"updates\":1,\"withdraws\":1}"))
  }
}
