package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkTestBase
import graft.model._

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

  test("statistics json shape") {
    val d = df(Seq(ev(base, active = true, 1L), ev(base + 1, active = false, 2L)))
    val j = Statistics.statisticsJson(d)
    assert(j.contains("\"stores\":{"))
    assert(j.contains("\"ribs\":{\"ipv4u\":2}"))
    assert(j.contains("\"counters\":{\"updates\":1,\"withdraws\":1}"))
  }
}
