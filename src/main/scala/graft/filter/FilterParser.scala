package graft.filter


/** Filter-language parser (reference: `FilterItem::parse`,
  * src/ribfilter.rs:945-1266, and `FilterTerm::parse`/`RouteFilter::parse`,
  * src/ribfilter.rs:1516-1546, 693-704).
  *
  * The grammar is a whitespace-separated conjunction of terms, each
  * optionally prefixed `+` (must match) or `-` (must NOT match). Terms that
  * fail to parse are dropped, exactly as in the reference.
  */
object FilterParser {
  private val ReNum = "^([0-9]+)$".r
  private val ReV4 = "^([0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+)(/([0-9]+))?$".r
  private val ReV6 = "^([0-9A-Fa-f:]+)(/([0-9]+))*$".r
  private val ReNhV4 = "^nh:([0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+)(/([0-9]+))?$".r
  private val ReNhV6 = "^nh:([0-9A-Fa-f:]+)(/([0-9]+))*$".r
  private val ReRd = "^rd:([0-9]+):([0-9]+)$".r
  private val ReRdIp = "^rd:([0-9]+)\\.([0-9]+)\\.([0-9]+)\\.([0-9]+):([0-9]+)$".r
  private val ReAs = "^as:(\\^*)([0-9,]+)?(\\$)?$".r
  private val ReC = "^c[^:]*:([0-9]+):([0-9]+)$".r
  private val ReRe = "^re:(.*)$".r
  private val ReRtN = "^(rt|target|ext-target):([0-9]+)$".r
  private val ReRtP = "^(rt|target|ext-target):([0-9]+):([0-9]+)$".r
  private val ReRtIp = "^(rt|target|ext-target):([0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+)$".r
  private val ReRtIpN = "^(rt|target|ext-target):([0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+):([0-9]+)$".r

  def parse(filter: String): RouteFilter =
    RouteFilter(filter.split(' ').toSeq.flatMap(parseTerm))

  def parseTerm(s: String): Option[FilterTerm] = {
    if (s.isEmpty) return None
    val (pol, body) = s.charAt(0) match {
      case '+' if s.length > 1 => (Polarity.Plus, s.substring(1))
      case '-' if s.length > 1 => (Polarity.Minus, s.substring(1))
      case _ => (Polarity.Auto, s)
    }
    parseItem(body).map(FilterTerm(_, pol))
  }

  /** u32-with-default parse mirroring Rust's `parse().unwrap_or(default)`. */
  private def numOr(s: String, default: Long): Long =
    try { val v = java.lang.Long.parseLong(s); if (v >= 0 && v <= 0xFFFFFFFFL) v else default }
    catch { case _: NumberFormatException => default }

  /** Prefix-length parse: Rust parses to u8 and falls back to the family
    * default on failure (src/ribfilter.rs:996-999). */
  private def plenOr(s: String, default: Int): Int =
    try { val v = Integer.parseInt(s); if (v >= 0 && v <= 255) v else default }
    catch { case _: NumberFormatException => default }

  def parseItem(s: String): Option[FilterItem] = s match {
    case ReNum(n) =>
      // bare number: u64 parse (src/ribfilter.rs:969-982)
      try Some(FilterItem.Num(java.lang.Long.parseUnsignedLong(n)))
      catch { case _: NumberFormatException => None }
    case ReV4(a, _, p) =>
      val addr = parseV4(a)
      addr.map { ad =>
        val plen = if (p == null) 32 else plenOr(p, 32)
        val net = V4Net(ad, plen)
        FilterItem.V4(net, isMulticastV4(ad))
      } // v4 octet out of range → None (Rust Ipv4Addr parse failure)
    case ReV6(a, _, p) =>
      // NOTE: parse failure returns None (term dropped), it does NOT fall
      // through to later alternatives — reference returns FilterItem::None
      // from inside this arm (src/ribfilter.rs:1019-1023).
      parseV6(a).map { case (hi, lo) =>
        val plen = if (p == null) 128 else plenOr(p, 128)
        FilterItem.V6(V6Net(hi, lo, plen), isMulticastV6(hi))
      }
    case ReNhV4(a, _, p) =>
      parseV4(a).map(ad => FilterItem.NhV4(V4Net(ad, if (p == null) 32 else plenOr(p, 32))))
    case ReNhV6(a, _, p) =>
      parseV6(a).map { case (hi, lo) =>
        FilterItem.NhV6(V6Net(hi, lo, if (p == null) 128 else plenOr(p, 128)))
      }
    case ReRd(h, l) => Some(FilterItem.RdEq(numOr(h, 0), numOr(l, 0)))
    case ReRdIp(o1, o2, o3, o4, n) =>
      // type-1 RD from A.B.C.D:n (src/ribfilter.rs:1109-1129)
      val vs = Seq(o1, o2, o3, o4, n).map(x =>
        try Some(java.lang.Long.parseLong(x)) catch { case _: NumberFormatException => None })
      if (vs.forall(_.isDefined)) {
        val v = vs.map(_.get)
        Some(FilterItem.RdEq(
          0x10000L | (v(0) << 8) | v(1),
          (v(2) << 24) | (v(3) << 16) | (v(4) & 0xFFFFL)))
      } else None
    case ReAs(anchorStart, asns, anchorEnd) =>
      val list: Seq[Long] =
        if (asns == null) Nil
        else asns.split(',').toSeq.flatMap(x =>
          try Some(java.lang.Long.parseLong(x)) catch { case _: NumberFormatException => None })
      if (list.isEmpty) Some(FilterItem.AsPath(AsPathMatch.Empty))
      else {
        val sb = anchorStart != null && anchorStart.contains('^')
        val se = anchorEnd != null && anchorEnd.contains('$')
        Some(FilterItem.AsPath(
          if (sb && se) AsPathMatch.FullMatch(list)
          else if (se) AsPathMatch.EndsWith(list)
          else if (sb) AsPathMatch.StartsWith(list)
          else AsPathMatch.Contains(list)))
      }
    case ReC(h, l) => Some(FilterItem.Comm(numOr(h, 0).toInt, numOr(l, 0).toInt))
    case ReRe(re) =>
      try { java.util.regex.Pattern.compile(re); Some(FilterItem.Regexp(re)) }
      catch { case _: java.util.regex.PatternSyntaxException => None }
    case ReRtN(_, n) =>
      try Some(FilterItem.ExtComm(ExtCommMatch.Num(java.lang.Long.parseLong(n))))
      catch { case _: NumberFormatException => None }
    case ReRtP(_, h, l) =>
      Some(FilterItem.ExtComm(ExtCommMatch.PairNum(numOr(h, 0), numOr(l, 0))))
    case ReRtIp(_, ip) =>
      parseV4(ip).map(ad => FilterItem.ExtComm(ExtCommMatch.IPv4(V4Net(ad, 32))))
    case ReRtIpN(_, ip, n) =>
      for {
        ad <- parseV4(ip)
        num <- (try Some(java.lang.Long.parseLong(n)) catch { case _: NumberFormatException => None })
      } yield FilterItem.ExtComm(ExtCommMatch.PairNumIP(V4Net(ad, 32), num))
    case _ => None
  }

  def isMulticastV4(addr: Long): Boolean =
    ((addr >> 24) & 0xFF) >= 224 && addr != 0xFFFFFFFFL

  def isMulticastV6(hi: Long): Boolean = ((hi >>> 56) & 0xFF) == 0xFF

  private def parseV4(s: String): Option[Long] = {
    val parts = s.split('.')
    if (parts.length != 4) return None
    var acc = 0L
    parts.foreach { p =>
      val v = try Integer.parseInt(p) catch { case _: NumberFormatException => return None }
      if (v < 0 || v > 255) return None
      acc = (acc << 8) | v
    }
    Some(acc)
  }

  /** Textual IPv6 parse (groups, `::` compression, optional trailing
    * dotted-quad) → (hi, lo). Mirrors Rust std Ipv6Addr FromStr acceptance
    * closely enough for the filter grammar (hex+colon input only here). */
  private[filter] def parseV6(s: String): Option[(Long, Long)] = {
    if (s.isEmpty) return None
    val dc = s.indexOf("::")
    if (dc >= 0 && s.indexOf("::", dc + 1) >= 0) return None
    def groups(part: String): Option[Seq[Int]] =
      if (part.isEmpty) Some(Nil)
      else {
        val gs = part.split(':')
        if (gs.exists(_.isEmpty)) return None
        val out = gs.map { g =>
          if (g.isEmpty || g.length > 4) return None
          try Integer.parseInt(g, 16) catch { case _: NumberFormatException => return None }
        }
        Some(out.toSeq)
      }
    val all: Option[Seq[Int]] =
      if (dc >= 0) {
        val (l, r) = (s.substring(0, dc), s.substring(dc + 2))
        for {
          lg <- groups(l); rg <- groups(r)
          if lg.length + rg.length <= 7
        } yield lg ++ Seq.fill(8 - lg.length - rg.length)(0) ++ rg
      } else groups(s).filter(_.length == 8)
    all.map { g =>
      val hi = g.take(4).foldLeft(0L)((a, v) => (a << 16) | (v & 0xFFFFL))
      val lo = g.drop(4).foldLeft(0L)((a, v) => (a << 16) | (v & 0xFFFFL))
      (hi, lo)
    }
  }
}
