package graft.server

import java.net.{HttpURLConnection, Socket, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Api, RibJson, Statistics}
import graft.sources.RouteEventGen
import graft.streaming.Feed

/** End-to-end transport drive: a real loopback socket against the embedded
  * server, every route compared to the engine document it must carry
  * (reference surface: src/main.rs:139-168). The WS test runs a REAL
  * Structured Streaming subscription per client — upgrade, Subscribe
  * command, event frames over the wire, close handshake. */
class ServerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val events = RouteEventGen.routeEvents(spark, sfDir)
  private lazy val logDir = RouteEventGen.routeEventsDir(spark, sfDir)

  private def withServer[A](routes: ServerRoutes)(f: Int => A): A = {
    val srv = new GraftServer(routes)
    try f(srv.boundPort) finally srv.close()
  }

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(10000); conn.setReadTimeout(60000)
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (in == null) "" else new String(in.readAllBytes(), UTF_8)
    (code, body)
  }

  test("HTTP routes carry the engine documents verbatim") {
    val routes = ServerRoutes(events = () => events)
    withServer(routes) { port =>
      assert(get(port, "/api/ping") == (200, "pong"))
      assert(get(port, "/api/state") == (200, "Established"))
      // the filtered rib page IS RibJson.response for the same params
      val path = "/api/json/ipv4u?filter=10.4.0.0%2F14&limit=5"
      val expected = RibJson.response(events, "ipv4u", "10.4.0.0/14",
        RibJson.RibParams(limit = 5))
      assert(get(port, path) == (200, expected))
      assert(expected.contains("\"items\""))
      assert(get(port, "/api/statistics") ==
        (200, Statistics.statisticsJson(events)))
      assert(get(port, "/api/sessions") == (200, Api.sessionsJson(events)))
      // unknown rib names dispatch to ipv4u (src/ribservice.rs:277)
      assert(get(port, "/api/json/nonsense?limit=5")._2 ==
        get(port, "/api/json/ipv4u?limit=5")._2)
      // reference 404s: unknown /api route, and a bare /api prefix
      assert(get(port, "/api/nope") == (404, "Not Found"))
      assert(get(port, "/nothing/here") == (404, "Not Found"))
      // the round-12 delta endpoint over the same socket: document equals
      // the Api renderer for the same instants
      val diffPath = "/api/diff?t1=1704844800000&t2=1705276800000&limit=3"
      assert(get(port, diffPath) ==
        (200, Api.diffJson(events, 1704844800000L, 1705276800000L, None, 3)))
      assert(get(port, diffPath)._2.contains("\"summary\""))
    }
  }

  test("security report routes carry the engine documents verbatim") {
    // round-17 endpoints over a real socket: each response IS the Api
    // renderer's document for the same inputs. The ROA table reaches
    // /api/rpki through the ServerRoutes supplier (the config seam).
    val roas = spark.range(0, 16).where(col("id") % 2 === 0)
      .select((lit(167772160L) + col("id") * 65536L).as("roa_ip"),
        lit(16L).as("roa_plen"), (lit(24L) + (col("id") % 3) * 4L).as("roa_maxlen"),
        (lit(200L) + col("id") % 7).as("roa_origin"))
    val routes = ServerRoutes(events = () => events, roas = () => Some(roas))
    withServer(routes) { port =>
      assert(get(port, "/api/moas") ==
        (200, Api.moasJson(events, 1000)))
      val rpki = get(port, "/api/rpki?limit=5")
      assert(rpki == (200, Api.rpkiJson(events, Some(roas), 5)))
      assert(rpki._2.contains("\"validity\""))
      assert(get(port, "/api/leaks") == (200, Api.leaksJson(events, 1000)))
      val bogons = get(port, "/api/bogons")
      assert(bogons == (200, Api.bogonsJson(events)))
      assert(bogons._2.contains("\"routes\"") &&
        bogons._2.contains("\"nexthops\""))
    }
  }

  test("whois route elects the initial server through the configured map") {
    import graft.enrich.Whois
    val seen = scala.collection.mutable.Buffer[(String, Option[String])]()
    val map = Whois.loadServerMap(graft.enrich.WhoisSpec.shippedMap)
    val routes = ServerRoutes(events = () => events,
      whoisFetch = (q, srv) => { seen += ((q, srv)); "NetRange: 8.0.0.0/8" },
      whoisServers = Some(map))
    withServer(routes) { port =>
      // an IP query routes to the map's _.ip entry, and the fetcher
      // sees the elected server + the entry's OWN query template
      val (code, body) = get(port, "/api/whois?query=8.8.8.8")
      assert(code == 200 && body.contains("NetRange"), body)
      assert(seen.toSeq == Seq(("n + 8.8.8.8\r\n", Some("whois.arin.net"))))
      // a domain walks the suffix map: org → pir
      seen.clear()
      get(port, "/api/whois?query=example.org")
      assert(seen.toSeq == Seq(("example.org\r\n", Some("whois.pir.org"))))
    }
    // a routeless map is whois-rust's MapError path: the reference
    // handler answers 500 with an Error body (whoissvc.rs:567-574) and
    // never fetches; 200 "Invalid WHOIS query" stays reserved for a
    // missing/empty query param
    val bare = Whois.WhoisServerMap(Map.empty, None, None)
    withServer(ServerRoutes(events = () => events,
        whoisFetch = (_, _) => fail("must not fetch"),
        whoisServers = Some(bare))) { port =>
      val (code, body) = get(port, "/api/whois?query=example.org")
      assert(code == 500 && body.startsWith("Error: "), s"$code $body")
      assert(get(port, "/api/whois") == (200, "Invalid WHOIS query"))
    }
  }

  test("non-GET methods 404 (src/main.rs:140-142)") {
    withServer(ServerRoutes(events = () => events)) { port =>
      val conn = new URL(s"http://127.0.0.1:$port/api/ping")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write("x".getBytes(UTF_8))
      assert(conn.getResponseCode == 404)
    }
  }

  test("a failing rib route answers 500 text/plain; a malformed head drops") {
    // raw socket: the whole reply up to EOF, so a dropped socket reads ""
    def exchange(port: Int, request: String): String = {
      val sock = new Socket("127.0.0.1", port)
      sock.setSoTimeout(30000)
      try {
        sock.getOutputStream.write(request.getBytes(UTF_8))
        sock.getOutputStream.flush()
        new String(sock.getInputStream.readAllBytes(), UTF_8)
      } finally sock.close()
    }
    val routes = ServerRoutes(
      events = () => throw new IllegalStateException("log unavailable"))
    withServer(routes) { port =>
      val reply = exchange(port,
        "GET /api/json/ipv4u?limit=5 HTTP/1.1\r\nHost: x\r\n\r\n")
      assert(reply.startsWith("HTTP/1.1 500 "), reply)
      assert(reply.contains("Content-type: text/plain\r\n"), reply)
      assert(reply.endsWith(
        "\r\n\r\nError: java.lang.IllegalStateException: log unavailable"),
        reply)
      // routes that never touch the log are unaffected
      assert(get(port, "/api/ping") == (200, "pong"))
      assert(exchange(port, "NOT-HTTP\r\n\r\n") == "")
    }
  }

  test("static files: / → index.html, nested paths, traversal stays inside") {
    val root = Files.createTempDirectory("graft_www")
    Files.writeString(root.resolve("index.html"), "<html>graft</html>")
    Files.createDirectories(root.resolve("js"))
    Files.writeString(root.resolve("js/app.js"), "let x=1")
    val routes = ServerRoutes(events = () => events, httpRoot = Some(root))
    withServer(routes) { port =>
      assert(get(port, "/") == (200, "<html>graft</html>"))
      assert(get(port, "/js/app.js") == (200, "let x=1"))
      assert(get(port, "/missing.css") == (404, "Not Found"))
      // path traversal cannot escape the root
      assert(get(port, "/%2e%2e/%2e%2e/etc/passwd")._1 == 404)
    }
  }

  test("whois + dns routes: kind regexes, findstr body, error shapes") {
    val fake: (String, Option[String]) => String = (q, srv) => srv match {
      case None =>
        "% comment line\nrefer: whois.example-two.net\nsome: noise\n"
      case Some("whois.example-two.net") =>
        "% RIPE\naut-num: " + q + "\nas-name: TEST\n# trailer\n"
      case Some(other) => s"nothing from $other"
    }
    val routes = ServerRoutes(events = () => events, whoisFetch = fake,
      dnsPtr = name => s"resolved($name)")
    withServer(routes) { port =>
      // kind "as" chases the referral until the aut-num line appears, then
      // findstr drops everything before the match and all comments
      assert(get(port, "/api/whois/as?query=AS65001") ==
        (200, "aut-num: AS65001\nas-name: TEST"))
      // raw has no check regex, so the chase stops at the first server and
      // the body keeps its comment lines verbatim
      assert(get(port, "/api/whois/raw?query=AS65001")._2.contains(
        "% comment line\nrefer: whois.example-two.net"))
      // no query param → the reference's literal invalid-query body, 200
      assert(get(port, "/api/whois/as") == (200, "Invalid WHOIS query"))
      // dns PTR route goes through the injected resolver
      assert(get(port, "/api/dns/10.4.0.1") == (200, "resolved(10.4.0.1)"))
      // injected failure → 500 Error: (src/whoissvc.rs:531-538)
      val failing = routes.copy(dnsPtr =
        _ => throw new RuntimeException("nxdomain"))
      withServer(failing) { p2 =>
        val (code, body) = get(p2, "/api/dns/10.9.9.9")
        assert(code == 500 && body.startsWith("Error: "))
      }
    }
  }

  test("/api/dns through the wire codec: only the UDP socket is stubbed") {
    import graft.enrich.DnsWire
    val servers = scala.collection.mutable.Buffer[String]()
    // the stub socket: decode the engine's real query packet, echo it as
    // a response with one PTR answer (owner name compressed to the
    // question) — everything around this hop is the in-engine codec
    val transport: (Array[Byte], String) => Array[Byte] = (pkt, srv) => {
      servers += srv
      val q = DnsWire.decode(pkt)
      assert(q.questions.head.qtype == DnsWire.TypePtr)
      val head = pkt.clone()
      head(2) = 0x81.toByte; head(3) = 0x80.toByte; head(7) = 1
      val rdata = DnsWire.encodeName("resolved.example.com.")
      head ++ Array(0xc0.toByte, 0x0c.toByte) ++
        Array[Byte](0, 12, 0, 1, 0, 0, 0, 60) ++
        Array(((rdata.length >> 8) & 0xff).toByte, (rdata.length & 0xff).toByte) ++
        rdata
    }
    val routes = ServerRoutes(events = () => events,
      dnsTransport = Some(transport), dnsServers = Seq("9.9.9.9", "8.8.8.8"))
    withServer(routes) { port =>
      assert(get(port, "/api/dns/192.168.1.200") ==
        (200, "resolved.example.com."))
      // '2' of "200.1.168..." = 50; 50 % 2 = 0 → first resolver
      assert(servers.toSeq == Seq("9.9.9.9"))
      // un-reversible target → the reference's Invalid IP error, 500
      val (code, body) = get(port, "/api/dns/not-an-ip")
      assert(code == 500 && body.startsWith("Error: "), s"$code $body")
    }
  }

  test("WS: upgrade handshake, Subscribe → streamed event frames, close") {
    import graft.filter.FilterCompiler
    val filter = "10.4.0.0/14"
    val expected = events
      .where(col("rib") === "ipv4u" && FilterCompiler.accept(filter))
      .select(Feed.eventFrame).collect().map(_.getString(0)).toSet
    assert(expected.nonEmpty)

    val routes = ServerRoutes(
      events = () => events,
      subscribe = (rib, f, push) => {
        val stream = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "8").parquet(logDir)
        val q = Feed.subscribeJson(stream, rib, f)(_.foreach(push)).start()
        () => q.stop()
      })
    withServer(routes) { port =>
      val sock = new Socket("127.0.0.1", port)
      sock.setSoTimeout(120000)
      try {
        val out = sock.getOutputStream
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        out.write(("GET /api/ws HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
          "Sec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
        out.flush()
        // 101 with the RFC-exact accept for the RFC-example nonce
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) head.append(in.read().toChar)
        assert(head.startsWith("HTTP/1.1 101 "))
        assert(head.toString.contains(
          "Sec-WebSocket-Accept: s3pPLMBiTxaQ9kYGzzhZRbK+xOo="))
        val mask = Array[Byte](0x11, 0x22, 0x33, 0x44)
        // a malformed command is tolerated (warn-and-keep, subscriber.rs:119)
        out.write(HttpWire.encodeClientFrame(HttpWire.OpText,
          "not json".getBytes(UTF_8), mask))
        // then the real Subscribe
        val cmd = s"""{"Subscribe":{"rib":"ipv4u","filter":"$filter"}}"""
        out.write(HttpWire.encodeClientFrame(HttpWire.OpText,
          cmd.getBytes(UTF_8), mask))
        out.flush()
        // the initial dump arrives as one text frame per matching event
        val got = scala.collection.mutable.Set[String]()
        while (got.size < expected.size) {
          val f = HttpWire.readServerFrame(in).getOrElse(
            fail("connection closed before all frames arrived"))
          if (f.opcode == HttpWire.OpText) got += f.text
        }
        assert(got.toSet == expected)
        // close handshake: client close → server echoes close
        out.write(HttpWire.encodeClientFrame(HttpWire.OpClose,
          Array[Byte](0x03, 0xe8.toByte), mask))
        out.flush()
        var closed = false
        while (!closed) {
          HttpWire.readServerFrame(in) match {
            case None => closed = true // already torn down
            case Some(f) if f.opcode == HttpWire.OpClose => closed = true
            case _ => // late data frames racing the close are fine
          }
        }
      } finally sock.close()
    }
  }

  test("WS: two clients share ONE dispatcher query, each gets its own set") {
    import graft.filter.FilterCompiler
    def wanted(rib: String, f: String): Set[String] = events
      .where(col("rib") === rib && FilterCompiler.accept(f))
      .select(Feed.eventFrame).collect().map(_.getString(0)).toSet
    val wantA = wanted("ipv4u", "10.4.0.0/14")
    val wantB = wanted("ipv6u", "")
    assert(wantA.nonEmpty && wantB.nonEmpty && wantA != wantB)

    // ONE dispatcher = ONE streaming query for every WS subscriber; the
    // query starts lazily on the first attach and is shared after that
    val disp = new Feed.FeedDispatcher
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var shared: org.apache.spark.sql.streaming.StreamingQuery = null
    val routes = ServerRoutes(
      events = () => events,
      subscribe = (rib, f, push) => {
        val h = disp.attach(rib, f)(push)
        // start the one shared query once BOTH clients are attached: a
        // dispatcher client sees events from its registration point, and
        // this test's log is static — production wiring starts the query
        // at boot and late clients pick up from the next batch
        disp.synchronized {
          if (shared == null && disp.clientCount == 2) {
            started.incrementAndGet()
            val stream = spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "8").parquet(logDir)
            shared = disp.writer(stream).start()
          }
        }
        h
      })
    withServer(routes) { port =>
      def openWs(rib: String, f: String): (Socket, java.io.BufferedInputStream) = {
        val sock = new Socket("127.0.0.1", port)
        sock.setSoTimeout(120000)
        val out = sock.getOutputStream
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        out.write(("GET /api/ws HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
          "Sec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
        out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) head.append(in.read().toChar)
        assert(head.startsWith("HTTP/1.1 101 "))
        val mask = Array[Byte](0x11, 0x22, 0x33, 0x44)
        out.write(HttpWire.encodeClientFrame(HttpWire.OpText,
          s"""{"Subscribe":{"rib":"$rib","filter":"$f"}}""".getBytes(UTF_8), mask))
        out.flush()
        (sock, in)
      }
      val (sockA, inA) = openWs("ipv4u", "10.4.0.0/14")
      val (sockB, inB) = openWs("ipv6u", "")
      try {
        def drain(in: java.io.BufferedInputStream, n: Int): Set[String] = {
          val got = scala.collection.mutable.Set[String]()
          while (got.size < n) {
            val fr = HttpWire.readServerFrame(in).getOrElse(
              fail("connection closed early"))
            if (fr.opcode == HttpWire.OpText) got += fr.text
          }
          got.toSet
        }
        // both clients get EXACTLY their own subscription's frame set,
        // pushed from the one shared query
        assert(drain(inA, wantA.size) == wantA)
        assert(drain(inB, wantB.size) == wantB)
        assert(started.get() == 1, "a second streaming query was started")
        assert(disp.clientCount == 2)
      } finally {
        sockA.close(); sockB.close()
        if (shared != null) shared.stop()
      }
    }
  }

  test("WS: ping is ponged; a non-upgrade GET /api/ws is 400") {
    withServer(ServerRoutes(events = () => events)) { port =>
      assert(get(port, "/api/ws")._1 == 400) // src/main.rs:112-115
      val sock = new Socket("127.0.0.1", port)
      sock.setSoTimeout(30000)
      try {
        val out = sock.getOutputStream
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        out.write(("GET /api/ws HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n" +
          "Connection: Upgrade\r\nSec-WebSocket-Key: AQIDBAUGBwgJCgsMDQ4PEA==\r\n\r\n")
          .getBytes(UTF_8)); out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) head.append(in.read().toChar)
        assert(head.startsWith("HTTP/1.1 101 "))
        out.write(HttpWire.encodeClientFrame(HttpWire.OpPing,
          "hb".getBytes(UTF_8), Array[Byte](1, 2, 3, 4))); out.flush()
        val pong = HttpWire.readServerFrame(in).get
        assert(pong.opcode == HttpWire.OpPong && pong.text == "hb")
      } finally sock.close()
    }
  }
}
