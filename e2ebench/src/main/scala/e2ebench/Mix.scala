package e2ebench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One step of a mix: a single request, or (`pages` > 1) a keyset walk
  * over one filter whose continuation pages append the previous page's
  * `next_after`; they are timed as shape `after`. */
final case class Step(shape: String, path: String, pages: Int = 1)

/** Route keys the mix draws from, per rib, in log order. */
final case class Keys(ipv4u: IndexedSeq[String], ipv6u: IndexedSeq[String])

/** Seeded request generator. Each client walks a fixed cycle with one step
  * per shape, and a run measures whole cycles only, so every run sees the
  * same shape proportions; the seed picks the keys (Zipf-skewed over a
  * seeded permutation of the generated prefixes) and the parameters. */
final class Mix(workload: String, seed: Long, keys: Keys, spanMs: Long) {
  private val Limit = 20
  /** Pages per keyset walk: the first page and two continuations. */
  val WalkPages = 3

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def page(rib: String, filter: String, extra: String = "") =
    s"/api/json/$rib?filter=${enc(filter)}&limit=$Limit$extra"

  private final class Picker(xs: IndexedSeq[String], rng: SplittableRandom) {
    private val perm = {
      val a = xs.toArray
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    private val zipf = new Gen.Zipf(perm.length)
    def apply(r: SplittableRandom): String = perm(zipf.sample(r))
  }
  private val rng0 = new SplittableRandom(seed ^ 0x5eed5eedL)
  private val v4 = new Picker(keys.ipv4u, rng0)
  private val v6 = new Picker(keys.ipv6u, rng0)

  /** "10.X.Y.Z/L" → its octets. */
  private def octets(pfx: String): Array[String] = pfx.takeWhile(_ != '/').split('.')

  /** ipv4u keys per /16, for walks long enough to continue. */
  private val per16 = keys.ipv4u.groupBy(k => octets(k).take(2).mkString(".")).map {
    case (k, v) => k -> v.size }
  require(workload != "browse" || per16.values.exists(_ > WalkPages * Limit),
    "no /16 holds enough keys for a keyset walk")

  /** The browse shapes, one per kind of reference URL. */
  private def browse(shape: String, r: SplittableRandom): Step = shape match {
    case "subnet" =>
      val o = octets(v4(r)); Step(shape, page("ipv4u", s"${o(0)}.${o(1)}.0.0/16"))
    case "exact6" => Step(shape, page("ipv6u", v6(r)))
    case "aspath" =>
      val f = if (r.nextBoolean()) s"as:^${100 + r.nextInt(5)}"
        else s"as:${200 + r.nextInt(7)}$$"
      Step(shape, page("vpnv4u", f))
    case "community" => Step(shape, page("ipv4u", s"community:10:${r.nextInt(50)}"))
    case "regex" => Step(shape, page("ipv6u", s"re:^${100 + r.nextInt(5)}.20${r.nextInt(7)}"))
    case "skip" => Step(shape, page("ipv4u", "", s"&skip=${2000 + r.nextInt(6000)}"))
    case "walk" =>
      // a /16 with more keys than the walk's pages hold, so every page is full
      var o = octets(v4(r))
      while (per16.getOrElse(s"${o(0)}.${o(1)}", 0) <= WalkPages * Limit) o = octets(v4(r))
      Step(shape, page("ipv4u", s"${o(0)}.${o(1)}.0.0/16"), WalkPages)
    case "supernet" =>
      val o = octets(v4(r)); Step(shape, page("ipv4u", s"${o(0)}.${o(1)}.${o(2)}.255"))
  }

  private val browseCycle = Seq("subnet", "exact6", "walk", "aspath",
    "community", "skip", "regex", "supernet")

  private def report(shape: String, r: SplittableRandom): Step = shape match {
    case "statistics" | "sessions" | "bogons" => Step(shape, s"/api/$shape")
    case "moas" | "rpki" | "leaks" => Step(shape, s"/api/$shape?limit=$Limit")
    case "diff" =>
      val t1 = Gen.T0Ms + (r.nextDouble() * spanMs / 2).toLong
      val t2 = t1 + (r.nextDouble() * spanMs / 2).toLong
      Step(shape, s"/api/diff?t1=$t1&t2=$t2&limit=$Limit")
  }

  /** Nine reports and three pages (1 request in 4); the pages take the
    * walk-free browse shapes in turn. */
  private val dashCycle = Seq("statistics", "page", "sessions", "moas",
    "rpki", "page", "leaks", "bogons", "diff", "page", "statistics", "moas")
  private val pageShapes = browseCycle.filterNot(_ == "walk")

  /** Steps in one cycle: every shape once. */
  def cycleLength: Int = workload match {
    case "browse" => browseCycle.length
    case "dashboard" => dashCycle.length
    case _ => 1
  }

  /** Steps each of `clients` clients runs per round so that together they
    * cover one cycle. */
  def share(clients: Int): Int = (cycleLength + clients - 1) / clients

  /** Client `c`'s endless step stream: the cycle from offset
    * `c * share(clients)`, so that in every round of `share(clients)` steps
    * the clients together run each step of the cycle once (when `clients`
    * divides the cycle length; else a few twice). The live reader's
    * requests follow the writer instead (see `Run`). */
  def stream(c: Int, clients: Int): Iterator[Step] =
    if (workload == "live") Iterator.empty
    else {
      val r = new SplittableRandom(seed * 1000003L + c)
      val n = cycleLength
      var pages = 0
      Iterator.from(c * share(clients)).map { i =>
        if (workload == "browse") browse(browseCycle(i % n), r)
        else dashCycle(i % n) match {
          case "page" =>
            pages += 1; browse(pageShapes((c + pages) % pageShapes.length), r)
          case s => report(s, r)
        }
      }
    }

  /** Digest of the first `n` steps of clients `0 until clients`. */
  def digest(clients: Int, n: Int = 256): String = {
    val d = new Gen.Digest
    (0 until clients).foreach(c => stream(c, clients).take(n).foreach { s =>
      d.str(s.path); d.long(s.pages) })
    d.hex
  }
}
