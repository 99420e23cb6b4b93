package graft.server

import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame

import graft.enrich.Whois
import graft.operators.Api
import graft.streaming.Feed

/** What sits behind each route — the engine half is already built
  * ([[Api.handle]], [[graft.operators.RibJson.response]],
  * [[Feed.subscribeJson]]); this wires transports to it.
  *
  * @param events     the route-event log the `/api` queries run over
  * @param state      session FSM state for `/api/state`
  * @param subscribe  called per accepted WS Subscribe command with
  *                   (rib, filter, frame sink); returns the handle that
  *                   stops the push when the client goes away. The
  *                   production binding is [[graft.Serve]]'s
  *                   `Feed.subscribeJson` streaming query.
  * @param whoisFetch injected whois lookup (target, server) → response
  *                   text, as in [[Whois.chaseWhois]] — zero-egress
  *                   sandbox, so live sockets stay out of the engine
  * @param dnsPtr     injected PTR resolution: reversed query name →
  *                   resolved text (the engine builds the name with
  *                   [[Whois.ptrQueryName]])
  * @param httpRoot   static-file root (reference `httproot`,
  *                   src/config.rs); None → every non-API path 404s
  */
case class ServerRoutes(
    events: () => DataFrame,
    state: () => Api.SessionState = () => Api.Established,
    subscribe: (String, String, String => Unit) => AutoCloseable =
      (_, _, _) => () => (),
    whoisFetch: (String, Option[String]) => String =
      (_, _) => throw new UnsupportedOperationException("no whois egress"),
    dnsPtr: String => String =
      _ => throw new UnsupportedOperationException("no dns egress"),
    /** UDP datagram exchange (query packet, server) → response packet.
      * When present, `/api/dns` runs through the in-engine wire codec
      * ([[graft.enrich.DnsWire]]: packet build, tid/question validation,
      * PTR rdata walk — whoissvc.rs:329-394) and ONLY this socket hop is
      * injected; absent → the legacy whole-resolution `dnsPtr` stub. */
    dnsTransport: Option[(Array[Byte], String) => Array[Byte]] = None,
    /** Resolver pool for [[DnsWire.electServer]] (the reference's
      * `whoisdnses` config list, src/config.rs). */
    dnsServers: Seq[String] = Nil,
    httpRoot: Option[Path] = None,
    roas: () => Option[DataFrame] = () => None,
    /** parsed whois.json routing map ([[Whois.loadServerMap]] over the
      * config's `whoisjsonconfig`): present → the initial whois server
      * is elected per-target through the map and the elected query
      * template reaches `whoisFetch`; absent → the fetcher's own
      * default server (the pre-r17 behavior). */
    whoisServers: Option[Whois.WhoisServerMap] = None)

/** The embedded HTTP + WebSocket server — the reference's primary user
  * surface (hyper service src/main.rs:139-168, WS upgrade 104-138) bound
  * to the engine over a JDK-only loopback listener.
  *
  * Route map (src/main.rs:139-168, verbatim order):
  *   - non-GET → 404
  *   - `/api/whois/...`, `/api/dns/...` → whois service (text/plain)
  *   - `/api/ping` → `pong`
  *   - `/api/ws` → RFC 6455 upgrade, then Subscribe commands drive
  *     event-frame pushes ([[Feed.parseClientCmd]] → `subscribe`)
  *   - `/api/<anything else>` → the rib service ([[Api.handle]]:
  *     statistics/sessions/state/json/<rib>, plus the engine-extension
  *     security reports moas/rpki/leaks/bogons), `text/json`
  *   - everything else → static file under `httpRoot`, `/` →
  *     `/index.html`, missing → 404
  *
  * Threading: one accept loop + a cached daemon pool, connection-per-
  * thread. This is the reference's own concurrency class for the admin
  * surface (a handful of humans and dashboards) — the data plane stays in
  * Spark; nothing here touches an executor.
  */
final class GraftServer(routes: ServerRoutes, host: String = "127.0.0.1",
    port: Int = 0) extends AutoCloseable {

  private val server = new ServerSocket()
  server.setReuseAddress(true)
  server.bind(new InetSocketAddress(host, port))

  /** The bound (possibly ephemeral) port. */
  def boundPort: Int = server.getLocalPort

  private val running = new AtomicBoolean(true)
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        pool.execute(() => serve(sock))
      } catch {
        case _: java.net.SocketException => // closed → exit loop
      }
    }
  }, "graft-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = {
    running.set(false)
    server.close()
    pool.shutdownNow()
  }

  // ------------------------------------------------------------ dispatch

  private def serve(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      readHead(in).flatMap(HttpWire.parseRequestHead) match {
        case None => // malformed head: drop, as hyper does
        case Some(req) =>
          val (p, _) = splitQuery(req.path)
          val parts = p.split('/')
          if (req.method != "GET")
            send(out, HttpWire.response(404, NotFound))
          else if (p.startsWith("/api/") && parts.length > 2) parts(2) match {
            case "whois" | "dns" => send(out, whoisRoute(req.path))
            case "ping" => send(out, HttpWire.response(200, "pong".getBytes(UTF_8)))
            case "ws" => wsRoute(req, in, out)
            case _ => send(out, ribRoute(req.path))
          }
          else send(out, fileRoute(p))
      }
    } catch {
      case _: Exception => // connection-scoped failure: drop the socket
    } finally {
      try sock.close() catch { case _: Exception => }
    }
  }

  private def send(out: java.io.OutputStream, bytes: Array[Byte]): Unit = {
    out.write(bytes); out.flush()
  }

  /** Read the request head (through the blank line), capped at 16 KiB. */
  private def readHead(in: InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    var last4 = 0
    while (buf.size < 16384) {
      val b = in.read()
      if (b < 0) return None
      buf.write(b)
      last4 = ((last4 << 8) | b) & 0xffffffff
      if (last4 == 0x0d0a0d0a)
        return Some(new String(buf.toByteArray, UTF_8))
    }
    None
  }
  private type InputStream = java.io.InputStream

  private def splitQuery(path: String): (String, String) =
    path.indexOf('?') match {
      case -1 => (path, "")
      case i => (path.substring(0, i), path.substring(i + 1))
    }

  private val NotFound = "Not Found".getBytes(UTF_8)

  // ------------------------------------------------------------- routes

  /** `/api/statistics|sessions|state|json/<rib>` plus the round-17
    * security reports (`moas|rpki|leaks|bogons`) → [[Api.handle]]. A
    * failure inside the route (the events supplier, a Spark job) answers
    * 500 with the `whoisRoute` error shape instead of dropping the socket. */
  private def ribRoute(path: String): Array[Byte] =
    try {
      Api.handle(routes.events(), path, routes.state(), routes.roas()) match {
        case Some(doc) =>
          HttpWire.response(200, doc.getBytes(UTF_8), Some("text/json"))
        case None => HttpWire.response(404, NotFound)
      }
    } catch {
      case e: Exception =>
        HttpWire.response(500, s"Error: $e".getBytes(UTF_8), Some("text/plain"))
    }

  /** `/api/whois/<kind>?query=..` and `/api/dns/<target>` — the routing,
    * object-type regexes, findstr fallback, and error shapes of
    * src/whoissvc.rs:520-595 over the injected fetchers. */
  private def whoisRoute(path: String): Array[Byte] = {
    val (p, qs) = splitQuery(path)
    val parts = p.split('/')
    val plain = Some("text/plain")
    if (parts.length > 3 && parts(2) == "dns") {
      return try {
        val resolved = routes.dnsTransport match {
          case Some(tr) =>
            // the codec path: reverse the target (whoissvc.rs:253-301),
            // then the full wire exchange with only the socket injected
            val name = graft.enrich.Whois.ptrQueryName(parts(3)).getOrElse(
              throw new graft.enrich.DnsWire.DnsError("Invalid IP"))
            graft.enrich.DnsWire.queryPtr(
              java.util.concurrent.ThreadLocalRandom.current().nextInt(0x10000),
              name, routes.dnsServers, tr)
          case None => routes.dnsPtr(parts(3))
        }
        HttpWire.response(200, resolved.getBytes(UTF_8), plain)
      } catch {
        case e: Exception =>
          HttpWire.response(500, s"Error: $e".getBytes(UTF_8), plain)
      }
    }
    if (parts(2) != "whois") return HttpWire.response(404, NotFound)
    val query = Api.parseQuery(qs).getOrElse("query", "")
    if (query.isEmpty)
      return HttpWire.response(200, "Invalid WHOIS query".getBytes(UTF_8))
    val kind = if (parts.length > 3) parts(3) else ""
    val checkitem = kind match {
      case "aut-num" | "as" => Some("(aut-num|ASNumber):".r)
      case "r" | "r4" | "route" => Some("route:".r)
      case "r6" | "route6" => Some("route6:".r)
      case _ => None
    }
    try {
      val chased = routes.whoisServers match {
        case Some(map) =>
          map.serverFor(query) match {
            case None =>
              // no route in the map: whois-rust's MapError propagates out
              // of query_whois and the reference handler answers 500 with
              // an Error body (whoissvc.rs:567-574); the 200
              // "Invalid WHOIS query" form is reserved for a missing or
              // empty query param.
              return HttpWire.response(500,
                s"Error: no whois route for target".getBytes(UTF_8), plain)
            case Some(_) =>
              Whois.chaseWhoisWithMap(query, checkitem, map,
                (q, srv) => routes.whoisFetch(q, Some(srv)))
          }
        case None => Whois.chaseWhois(query, checkitem, routes.whoisFetch)
      }
      chased match {
        case Some(raw) =>
          val body =
            if (parts.length > 3 && kind != "raw") {
              val v = Whois.findstr(raw, checkitem)
              if (v.nonEmpty) v.mkString("\n")
              else Whois.filteroutComments(raw).mkString("\n")
            } else raw
          HttpWire.response(200, body.getBytes(UTF_8), plain)
        case None =>
          HttpWire.response(500, "Error: Search failed".getBytes(UTF_8), plain)
      }
    } catch {
      case e: Exception =>
        HttpWire.response(500, s"Error: $e".getBytes(UTF_8), plain)
    }
  }

  /** Static file send (src/main.rs:59-66,160-167): resolved under
    * `httpRoot`, `/` → `/index.html`, traversal stays inside the root. */
  private def fileRoute(p: String): Array[Byte] = {
    routes.httpRoot match {
      case None => HttpWire.response(404, NotFound)
      case Some(root) =>
        val rel = if (p == "/") "index.html" else p.stripPrefix("/")
        val f = root.resolve(rel).normalize()
        if (f.startsWith(root.normalize()) && Files.isRegularFile(f))
          HttpWire.response(200, Files.readAllBytes(f))
        else HttpWire.response(404, NotFound)
    }
  }

  /** `/api/ws`: upgrade, then serve the subscription loop. One
    * subscription per connection (a new Subscribe replaces the old one —
    * the reference spawns one subscriber task per client and feeds it the
    * latest command, src/subscriber.rs:100-137). Frame pushes and command
    * reads interleave: pushes come from the subscription's thread through
    * the shared socket writer; the connection thread blocks on reads. */
  private def wsRoute(req: HttpWire.RequestHead, in: InputStream,
      out: java.io.OutputStream): Unit = {
    if (!req.isWsUpgrade) {
      send(out, HttpWire.response(400, Array.emptyByteArray)) // main.rs:114
      return
    }
    send(out, HttpWire.upgradeResponse(req.header("sec-websocket-key").get))
    val writeLock = new Object
    def sendFrame(bytes: Array[Byte]): Unit = writeLock.synchronized {
      out.write(bytes); out.flush()
    }
    var active: AutoCloseable = null
    try {
      var open = true
      while (open) {
        HttpWire.readFrame(in) match {
          case None => open = false
          case Some(f) => f.opcode match {
            case HttpWire.OpClose =>
              sendFrame(HttpWire.encodeClose()); open = false
            case HttpWire.OpPing =>
              sendFrame(HttpWire.encodeFrame(HttpWire.OpPong, f.payload))
            case HttpWire.OpText =>
              // malformed commands warn-and-keep (src/subscriber.rs:119-121)
              Feed.parseClientCmd(f.text).foreach { case (rib, filter) =>
                if (active != null) active.close()
                active = routes.subscribe(rib, filter,
                  s => sendFrame(HttpWire.encodeText(s)))
              }
            case _ => // binary/pong: ignored
          }
        }
      }
    } catch {
      case _: HttpWire.WsProtocolError =>
        try sendFrame(HttpWire.encodeClose(1002)) catch { case _: Exception => }
    } finally {
      if (active != null) try active.close() catch { case _: Exception => }
    }
  }
}
