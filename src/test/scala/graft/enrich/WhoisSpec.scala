package graft.enrich

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** E1-E3 cache-table semantics: serve-from-cache within TTL, stale entries
  * are misses (the refresh queue), enrichment join shape
  * (reference: src/whoissvc.rs:302-329, 458-490). */
class WhoisSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val nowMs = 1700000000000L

  test("TTL cache: fresh hit, stale miss, absent miss") {
    val cache = Seq(
      ("whois", "AS100", "AS100-ORG-0", new java.sql.Timestamp(nowMs - 60 * 1000)),
      ("whois", "AS200", "AS200-ORG-0", new java.sql.Timestamp(nowMs - 3600 * 1000)),
      ("dns", "AS300", "ptr.example", new java.sql.Timestamp(nowMs - 60 * 1000)))
      .toDF("kind", "key", "value", "fetched_at")
    val rows = Seq("AS100", "AS200", "AS300").toDF("asn_key")
    val got = Whois.lookup(rows, cache, "whois", col("asn_key"),
      nowMs, ttlSeconds = 1800)
      .select("asn_key", "hit").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map(
      "AS100" -> true, // fresh
      "AS200" -> false, // stale (older than TTL) → refresh queue
      "AS300" -> false)) // only in the dns cache, not whois
  }

  // --- E4 response post-processing + referral chase (canned responses;
  // reference src/whoissvc.rs:395-519) ----------------------------------

  private val arinResponse =
    """% ARIN WHOIS data and services are subject to the Terms of Use
      |# another comment style
      |
      |OrgName:        Example Org
      |ASNumber:       65001
      |Ref:            https://rdap.example/entity/EX-1
      |ResourceLink:   whois.ripe.net
      |""".stripMargin

  private val ripeResponse =
    """% This is the RIPE Database query service.
      |as-block:       AS64512 - AS65534
      |org-name:       Example Org GmbH
      |""".stripMargin

  test("comment filtering drops % lines and empties") {
    val got = Whois.filteroutComments(arinResponse)
    assert(got.head.startsWith("# another"), "# lines survive the %-only filter")
    assert(got.exists(_.startsWith("OrgName")))
    assert(!got.exists(_.startsWith("%")))
    assert(!got.contains(""))
  }

  test("findstr with a type regex drops #-comments and lines before the match") {
    val got = Whois.findstr(arinResponse, Some("""^ASNumber""".r))
    // skip_while semantics: everything from the first matching line on
    assert(got.head.startsWith("ASNumber"))
    assert(got.exists(_.startsWith("Ref:")), "lines after the match are kept")
    assert(!got.exists(_.startsWith("OrgName")), "lines before the match drop")
    assert(!got.exists(l => l.startsWith("%") || l.startsWith("#")))
  }

  test("referral chase follows whois.* servers until the type regex matches") {
    var calls = List.empty[(String, Option[String])]
    val fetch = (target: String, server: Option[String]) => {
      calls = calls :+ (target -> server)
      server match {
        case None => arinResponse // default server refers to whois.ripe.net
        case Some("whois.ripe.net") => ripeResponse
        case Some(other) => s"unexpected $other"
      }
    }
    val got = Whois.chaseWhois("AS65001", Some("""^as-block""".r), fetch)
    assert(got.contains(ripeResponse))
    assert(calls == List("AS65001" -> None, "AS65001" -> Some("whois.ripe.net")))
  }

  test("referral chase terminates: spent referrals yield empty, depth yields None") {
    // every response refers to the OTHER server and never satisfies the check
    val ping = "see whois.b.example\n"
    val pong = "see whois.a.example\n"
    val fetch = (_: String, server: Option[String]) => server match {
      case None => ping
      case Some("whois.b.example") => pong
      case Some("whois.a.example") => ping
      case _ => ""
    }
    // both referrals get visited once, then the pending set is spent → ""
    assert(Whois.chaseWhois("AS1", Some("""^never-matches""".r), fetch)
      .contains(""))
    // with an unbounded referral supply the depth budget trips → None
    var n = 0
    val endless = (_: String, _: Option[String]) => {
      n += 1; s"see whois.s$n.example\n"
    }
    assert(Whois.chaseWhois("AS1", Some("""^never-matches""".r), endless,
      maxDepth = 4).isEmpty)
  }

  test("no checkitem returns the first response without chasing") {
    val got = Whois.chaseWhois("AS65001", None,
      (_, _) => arinResponse)
    assert(got.contains(arinResponse))
  }

  test("PTR query names for v4 and v6 literals") {
    assert(Whois.ptrQueryName("192.168.1.200")
      .contains("200.1.168.192.IN-ADDR.ARPA."))
    // 2001:db8::1 → nibble-reversed, ip6.arpa., lowercase hex
    val v6 = Whois.ptrQueryName("2001:db8::1")
    assert(v6.contains(
      "1.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.0.8.b.d.0.1.0.0.2.ip6.arpa."))
    assert(Whois.ptrQueryName("not-an-ip").isEmpty)
  }

  test("server map: shipped whois.json routes org/default/ip per the crate") {
    // the routes of the reference's whoisjsonconfig file (loaded at
    // config.rs:596-604, consumed by the whois-rust crate), kept as a test
    // resource: org → pir, "" default → ripe, "_"."ip" → arin with the
    // "n + $addr" ARIN query form
    val map = Whois.loadServerMap(WhoisSpec.shippedMap)
    assert(map.serverFor("example.org")
      .contains(Whois.WhoisServer("whois.pir.org", "$addr\r\n")))
    // unmapped TLD falls to the "" default
    assert(map.serverFor("example.com")
      .contains(Whois.WhoisServer("whois.ripe.net", "$addr\r\n")))
    // address literals (v4 and v6) route to the _.ip entry with its
    // custom query template
    val ip = map.serverFor("8.8.8.8")
    assert(ip.contains(Whois.WhoisServer("whois.arin.net", "n + $addr\r\n")))
    assert(map.serverFor("2001:db8::1") == ip)
    assert(ip.get.queryString("8.8.8.8") == "n + 8.8.8.8\r\n")
  }

  test("server map: longest suffix wins, case-insensitive, no-route None") {
    val map = Whois.parseServerMap(
      """{"uk": "whois.nic.uk",
        |  "co.uk": {"host": "whois.custom.uk", "query": "-d $addr\r\n"},
        |  "_": {"ip": {"host": "whois.arin.net"}}}""".stripMargin)
    assert(map.serverFor("Shop.Example.CO.UK")
      .contains(Whois.WhoisServer("whois.custom.uk", "-d $addr\r\n")))
    assert(map.serverFor("example.uk")
      .contains(Whois.WhoisServer("whois.nic.uk", "$addr\r\n")))
    // no default in this map: unmapped domain has no route
    assert(map.serverFor("example.org").isEmpty)
    // object entry without query gets the crate default template
    assert(map.serverFor("8.8.8.8")
      .contains(Whois.WhoisServer("whois.arin.net", "$addr\r\n")))
  }

  test("chaseWhoisWithMap feeds the elected server + template to fetch") {
    val map = Whois.loadServerMap(WhoisSpec.shippedMap)
    val seen = scala.collection.mutable.Buffer[(String, String)]()
    val got = Whois.chaseWhoisWithMap("8.8.8.8", None, map,
      (q, srv) => { seen += ((q, srv)); arinResponse })
    assert(got.contains(arinResponse))
    assert(seen.toSeq == Seq(("n + 8.8.8.8\r\n", "whois.arin.net")))
    // a target with no route never fetches
    val noRoute = Whois.WhoisServerMap(Map.empty, None, None)
    assert(Whois.chaseWhoisWithMap("example.org", None, noRoute,
      (_, _) => fail("must not fetch")).isEmpty)
  }

  test("chaseWhoisWithMap: referral hops get the crate default template") {
    // whois-rust builds referral servers via WhoIsServerValue::from_string
    // (no query), so the ARIN-specific "n + $addr" form is sent ONLY to
    // the initial elected server; the referred RIPE hop gets "$addr\r\n"
    val map = Whois.loadServerMap(WhoisSpec.shippedMap)
    val seen = scala.collection.mutable.Buffer[(String, String)]()
    val got = Whois.chaseWhoisWithMap("8.8.8.8", Some("route:".r), map,
      (q, srv) => {
        seen += ((q, srv))
        if (srv == "whois.arin.net")
          "ReferralServer: whois://whois.ripe.net\n"
        else "route: 8.8.8.0/24\n"
      })
    assert(got.contains("route: 8.8.8.0/24\n"))
    assert(seen.toSeq == Seq(
      ("n + 8.8.8.8\r\n", "whois.arin.net"),
      ("8.8.8.8\r\n", "whois.ripe.net")))
  }

  test("serverFor: only a real IP parse elects the ip entry") {
    // whois-rust gates on IpAddr::from_str — invalid quads and
    // host:port strings are NOT addresses and take the suffix walk
    val map = Whois.parseServerMap(
      """{"net": "whois.verisign-grs.com",
        |  "": "whois.ripe.net",
        |  "_": {"ip": {"host": "whois.arin.net"}}}""".stripMargin)
    def host(t: String) = map.serverFor(t).map(_.host)
    assert(host("8.8.8.8").contains("whois.arin.net"))
    assert(host("2001:db8::1").contains("whois.arin.net"))
    // invalid quad → default (suffix walk misses "999")
    assert(host("999.999.999.999").contains("whois.ripe.net"))
    // leading-zero octet is rejected by IpAddr::from_str
    assert(host("010.1.1.1").contains("whois.ripe.net"))
    // colon-bearing non-v6 (host:port) → suffix walk wins
    assert(host("example.net:43").contains("whois.ripe.net"))
    assert(host("a.example.net").contains("whois.verisign-grs.com"))
  }

  test("origin-AS enrichment derives the last ASN and a deterministic org") {
    val events = graft.queries.Tables(spark, "/root/testdata/sf0.001", "events")
    val enriched = Whois.enrichOriginAs(
      graft.sources.RouteEventGen.fromEvents(events))
    val row = enriched.where(col("event_id") === 1) // eid 1: odd → as_list ends 65001
      .select("origin_as", "whois_org").collect()(0)
    assert(row.getLong(0) == 65001L)
    assert(row.getString(1) == "AS65001-ORG-1")
  }
}

object WhoisSpec {
  /** Path of the test-resource `whois.json`: the routes of the reference's
    * shipped map that the specs assert (org, the "" default, `_`.`ip`). */
  def shippedMap: String =
    java.nio.file.Paths.get(getClass.getResource("/whois.json").toURI).toString
}
