package graft.filter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{IpFns, Param}

/** Compiles a parsed [[RouteFilter]] to Catalyst `Column` predicates over the
  * canonical route-event schema (FIXTURES.md §1).
  *
  * Tri-state semantics (reference: `FilterItemMatchResult`,
  * src/ribfilter.rs:36-110) map onto Spark's 3-valued BOOLEAN logic:
  * Yes = TRUE, No = FALSE, Unknown = NULL. The irregular polarity truth
  * tables of `FilterTerm::match_route`/`match_attr`/`match_super_route`
  * (src/ribfilter.rs:1547-1647) are encoded verbatim as CASE expressions —
  * do not "simplify" them. A row is accepted only when the conjunction
  * resolves Yes (src/ribfilter.rs:607-609), i.e. every term is TRUE.
  *
  * Everything here is built from codegen'd built-ins (`when`, bit ops,
  * `exists`, `slice`, `rlike`) so compiled filters stay inside
  * WholeStageCodegen. Request values (addresses, masks, prefix lengths,
  * numbers) enter as [[Param]]s, so one filter shape compiles one class
  * whatever its values; the Parquet-pushable hints (RibViews'
  * `rangePruneHintFor`, `superPruneHintFor`) stay constants.
  */
object FilterCompiler {
  import FilterItem._

  private def UNK: Column = lit(null).cast("boolean")
  /** soft(b): true → Yes, false → Unknown (src/ribfilter.rs:52-57). */
  private def soft(c: Column): Column = when(c, lit(true)).otherwise(UNK)

  /** Majority vote over tri-state values (src/ribfilter.rs:59-81).
    *
    * Each operand appears ONCE per score reference: contribution
    * `coalesce(m::int*2-1, 0)` maps Yes→+1 / No→-1 / Unknown→0 without the
    * two-branch CASE that would copy the operand tree twice. Column trees
    * have no sharing, so every avoided reference halves the compiled size —
    * this is what keeps the MVPN branch inside Janino's 64 KB method limit. */
  private def multi(ms: Seq[Column]): Column = {
    val score = ms.map(m => coalesce(m.cast("int") * 2 - 1, lit(0))).reduce(_ + _)
    when(score > 0, lit(true)).when(score < 0, lit(false)).otherwise(UNK)
  }

  def litPfx(version: Int, hi: Long, lo: Long, plen: Int): Column =
    struct(lit(version.toByte).as("version"), lit(hi).as("ip_hi"),
      lit(lo).as("ip_lo"), lit(plen).as("prefix_len"))

  def litPfx(n: V4Net): Column = litPfx(4, 0L, n.addr, n.plen)
  def litPfx(n: V6Net): Column = litPfx(6, n.hi, n.lo, n.plen)

  /** A request value as a [[Param]]: the generated code is the same for
    * every value, so a page compiles once per filter shape, not once per
    * prefix or number. Regex patterns stay literals (a non-literal pattern
    * would compile per row), as do the pushdown hints built elsewhere. */
  private def param(v: Any): Column = Param.column(v)

  // ---- parameterized prefix math ------------------------------------------
  // Masks and network addresses are still folded to Scala longs here, on
  // the driver, instead of generic column expressions — keeps compiled
  // predicate trees small (fast analysis + codegen) without touching
  // semantics — but enter the plan as parameters, not literals.

  private def v6Masks(plen: Int): (Long, Long) = {
    val hi = if (plen <= 0) 0L else if (plen >= 64) -1L else -1L << (64 - plen)
    val lo = if (plen <= 64) 0L else if (plen >= 128) -1L else -1L << (128 - plen)
    (hi, lo)
  }

  /** net ⊇ route for a literal v4 net (zettabgp `contains`). */
  private def containsLit(net: V4Net, pfx: Column): Column =
    pfx("prefix_len") >= param(net.plen) &&
      pfx("ip_lo").bitwiseAND(param(net.netMask)) === param(net.firstAddr)

  private def containsLit(net: V6Net, pfx: Column): Column = {
    val (mh, ml) = v6Masks(net.plen)
    pfx("prefix_len") >= param(net.plen) &&
      pfx("ip_hi").bitwiseAND(param(mh)) === param(net.hi & mh) &&
      pfx("ip_lo").bitwiseAND(param(ml)) === param(net.lo & ml)
  }

  /** route ⊇ literal net: the route's prefix length is a column, so shift
    * both sides by its host-bit count (v4 plen ∈ [0,32] keeps the shift
    * amount in range). */
  private def superContainsLit(pfx: Column, net: V4Net): Column = {
    val sh = (lit(32) - pfx("prefix_len")).cast("int")
    param(net.plen) >= pfx("prefix_len") &&
      call_function("shiftright", param(net.addr), sh) ===
        call_function("shiftright", pfx("ip_lo"), sh)
  }

  private def superContainsLit(pfx: Column, net: V6Net): Column = {
    val p = pfx("prefix_len")
    val shHi = (lit(64) - least(p, lit(64))).cast("int")
    val hiOk = when(p <= 0, lit(true)).otherwise(
      call_function("shiftright", param(net.hi), shHi) ===
        call_function("shiftright", pfx("ip_hi"), shHi))
    val shLo = (lit(128) - p).cast("int")
    val loOk = when(p <= 64, lit(true)).otherwise(
      call_function("shiftright", param(net.lo), shLo) ===
        call_function("shiftright", pfx("ip_lo"), shLo))
    param(net.plen) >= p && hiOk && loOk
  }

  /** literal net ∋ host address (zettabgp `in_subnet`). */
  private def inSubnetLit(net: V4Net, host: Column): Column =
    host("ip_lo").bitwiseAND(param(net.netMask)) === param(net.firstAddr)

  private def inSubnetLit(net: V6Net, host: Column): Column = {
    val (mh, ml) = v6Masks(net.plen)
    host("ip_hi").bitwiseAND(param(mh)) === param(net.hi & mh) &&
      host("ip_lo").bitwiseAND(param(ml)) === param(net.lo & ml)
  }

  // ---- per-field matchers -------------------------------------------------

  /** `FilterItem::match_rd` (src/ribfilter.rs:1418-1429). */
  private def matchRd(item: FilterItem, rd: Column): Column = item match {
    case RdEq(h, l) => rd("rdh") === param(h) && rd("rdl") === param(l)
    case Num(n) => soft(rd("rdh") === param(n) || rd("rdl") === param(n))
    case Regexp(re) => soft(IpFns.rdStr(rd).rlike(re))
    case _ => UNK
  }

  /** `match_ipv4`/`match_ipv6` over a prefix struct column
    * (src/ribfilter.rs:1368-1417). `display` is the pre-rendered key string
    * for the regex arm — the stored `prefix_str` column, not a re-derived
    * format_string tree: the rendering expression repeated across every rib
    * branch of the dispatch is what pushed round-1's regex filter out of
    * whole-stage codegen (VERDICT r1 item 3). */
  private def matchPrefix(item: FilterItem, pfx: Column, display: Column): Column = item match {
    case V4(net, mc) =>
      when(pfx("version") =!= 4, UNK)
        .when(IpFns.isMulticastV4(pfx("ip_lo")) === lit(mc), containsLit(net, pfx))
        .otherwise(UNK)
    case V6(net, mc) =>
      when(pfx("version") =!= 6, UNK)
        .when(IpFns.isMulticastV6(pfx("ip_hi")) === lit(mc), containsLit(net, pfx))
        .otherwise(UNK)
    case Num(n) =>
      // quirk: v4 prefixlen test is hard Yes/No, v6 is soft Yes/Unknown
      // (src/ribfilter.rs:1384-1386 vs 1409-1411)
      when(pfx("version") === 4, pfx("prefix_len") === param(n))
        .otherwise(soft(pfx("prefix_len") === param(n)))
    case Regexp(re) => soft(display.rlike(re))
    case _ => UNK
  }

  /** `match_super_ipv4`/`match_super_ipv6`: route contains the filter net
    * (src/ribfilter.rs:1350-1367). No multicast gate on the supernet path. */
  private def matchSuperPrefix(item: FilterItem, pfx: Column): Column = item match {
    case V4(net, false) =>
      when(pfx("version") =!= 4, UNK).otherwise(superContainsLit(pfx, net))
    case V6(net, false) =>
      when(pfx("version") =!= 6, UNK).otherwise(superContainsLit(pfx, net))
    case Num(n) => soft(pfx("prefix_len") === param(n))
    case _ => UNK
  }

  /** `match_sockaddr`/`match_addr_v4/v6`: host-address containment with
    * multicast segregation (src/ribfilter.rs:1266-1349). */
  private def matchHost(item: FilterItem, host: Column): Column = item match {
    case V4(net, mc) =>
      when(host.isNull || host("version") =!= 4, UNK)
        .when(IpFns.isMulticastV4(host("ip_lo")) === lit(mc), inSubnetLit(net, host))
        .otherwise(UNK)
    case V6(net, mc) =>
      when(host.isNull || host("version") =!= 6, UNK)
        .when(IpFns.isMulticastV6(host("ip_hi")) === lit(mc), inSubnetLit(net, host))
        .otherwise(UNK)
    case _ => UNK
  }

  /** rd-first-then-inner combinator used by WithRd / MVPN / EVPN keys
    * (src/ribfilter.rs:455-470 and per-type impls). `coalesce` IS the
    * rd-first rule — a resolved Yes/No from the RD wins, Unknown (null)
    * falls through to the inner key match — with one copy of each side. */
  private def rdFirst(item: FilterItem, rd: Column, inner: => Column): Column =
    coalesce(matchRd(item, rd), inner)

  /** `BgpAddrL2::match_item` (src/ribfilter.rs:306-319). */
  private def matchL2(item: FilterItem, rd: Column, l2: Column): Column = item match {
    case RdEq(_, _) => matchRd(item, rd)
    case Num(n) =>
      l2("site") === param(n) || (l2("offset") <= param(n) && l2("range") >= param(n))
    case Regexp(re) =>
      soft(concat_ws(" ", IpFns.rdStr(rd), l2("site"), l2("offset"), l2("range")).rlike(re))
    case _ => UNK
  }

  /** `BgpMVPN::match_item` dispatch over types 1..7
    * (src/ribfilter.rs:320-388). */
  private def matchMvpn(item: FilterItem, m: Column): Column = {
    val t = m("mtype")
    def h(c: Column) = matchHost(item, c)
    val spmsi = rdFirst(item, m("spmsi_rd"),
      multi(Seq(h(m("spmsi_originator")), h(m("spmsi_source")), h(m("spmsi_group")))))
    when(t === 1, rdFirst(item, m("rd"), h(m("originator"))))
      .when(t === 2, matchRd(item, m("rd")))
      .when(t === 3, rdFirst(item, m("rd"),
        multi(Seq(h(m("originator")), h(m("source")), h(m("group"))))))
      .when(t === 4, coalesce(spmsi, h(m("originator"))))
      .when(t === 5, rdFirst(item, m("rd"), multi(Seq(h(m("source")), h(m("group"))))))
      .when(t === 6 || t === 7, rdFirst(item, m("rd"), multi(Seq(h(m("rp")), h(m("group"))))))
      .otherwise(UNK)
  }

  /** `BgpEVPN::match_item` dispatch over types 1..5
    * (src/ribfilter.rs:389-453). */
  private def matchEvpn(item: FilterItem, e: Column): Column = {
    val t = e("etype")
    def h(c: Column) = matchHost(item, c)
    when(t === 1, matchRd(item, e("rd")))
      .when(t === 2, rdFirst(item, e("rd"),
        when(e("ip").isNotNull, h(e("ip"))).otherwise(UNK)))
      .when(t === 3 || t === 4, rdFirst(item, e("rd"), h(e("ip"))))
      .when(t === 5, rdFirst(item, e("rd"), h(e("gw_ip"))))
      .otherwise(UNK)
  }

  // ---- route-key dispatch -------------------------------------------------

  private val prefixOnlyRibs = Seq("ipv4u", "ipv4m", "ipv6u", "ipv4lu", "ipv6lu", "fs4u")
  private val vpnRibs = Seq("vpnv4u", "vpnv4m", "vpnv6u", "vpnv6m")
  private val mdtRibs = Seq("ipv4mdt", "ipv6mdt")

  /** All 15 table kinds of the reference registry (src/bgprib.rs:807-821). */
  val ribValues: Seq[String] =
    prefixOnlyRibs ++ vpnRibs ++ mdtRibs ++ Seq("l2vpls", "mvpn", "evpn")

  /** Address family of each table's prefix key — STATIC knowledge: the
    * reference registry types each SAFI table (BgpAddrV4/BgpAddrV6 wrappers,
    * src/bgprib.rs:807-821), so e.g. ipv6u can never hold a v4 key. Lets
    * the per-rib specialization fold the version gate at compile time; a
    * family-mismatched term folds to literal Unknown and Catalyst prunes
    * the whole union branch to an empty relation — zero scan, zero codegen. */
  private val ribKeyVersion: Map[String, Int] = Map(
    "ipv4u" -> 4, "ipv4m" -> 4, "ipv4lu" -> 4, "vpnv4u" -> 4, "vpnv4m" -> 4,
    "ipv4mdt" -> 4, "fs4u" -> 4,
    "ipv6u" -> 6, "ipv6lu" -> 6, "vpnv6u" -> 6, "vpnv6m" -> 6, "ipv6mdt" -> 6)

  /** [[matchPrefix]] with the key family statically known: mismatched
    * families fold to Unknown, matched families drop the runtime version
    * test (the multicast gate stays — it is data, not type). The v4/v6
    * prefix-length quirk of Num terms also resolves statically. */
  private def matchPrefixKnown(item: FilterItem, ver: Int, pfx: Column,
      display: Column): Column = item match {
    case V4(_, _) if ver != 4 => UNK
    case V6(_, _) if ver != 6 => UNK
    case V4(net, mc) =>
      when(IpFns.isMulticastV4(pfx("ip_lo")) === lit(mc), containsLit(net, pfx))
        .otherwise(UNK)
    case V6(net, mc) =>
      when(IpFns.isMulticastV6(pfx("ip_hi")) === lit(mc), containsLit(net, pfx))
        .otherwise(UNK)
    case Num(n) =>
      if (ver == 4) pfx("prefix_len") === param(n) else soft(pfx("prefix_len") === param(n))
    case Regexp(re) => soft(display.rlike(re))
    case _ => UNK
  }

  private def matchSuperPrefixKnown(item: FilterItem, ver: Int, pfx: Column): Column =
    item match {
      case V4(_, false) if ver != 4 => UNK
      case V6(_, false) if ver != 6 => UNK
      case V4(net, false) => superContainsLit(pfx, net)
      case V6(net, false) => superContainsLit(pfx, net)
      case Num(n) => soft(pfx("prefix_len") === param(n))
      case _ => UNK
    }

  /** Key-algebra match for ONE statically-known rib kind — the per-branch
    * building block. Specializing per rib keeps each compiled predicate
    * small enough for whole-stage codegen (the full 15-way tree in one
    * Filter blows Janino's 64 KB method limit and drops the scan stage to
    * interpreted eval — measured in round 2). */
  def matchItemFor(ribName: String, item: FilterItem): Column = {
    val pfx = col("prefix")
    val disp = col("prefix_str")
    def mp = matchPrefixKnown(item, ribKeyVersion(ribName), pfx, disp)
    ribName match {
      case "fs4u" => UNK // BgpFlowSpec uses the trait default (ribfilter.rs:453)
      case r if prefixOnlyRibs.contains(r) => mp
      case r if vpnRibs.contains(r) => rdFirst(item, col("rd"), mp)
      case "l2vpls" => matchL2(item, col("rd"), col("l2"))
      case "mvpn" => matchMvpn(item, col("mvpn"))
      case "evpn" => matchEvpn(item, col("evpn"))
      case r if mdtRibs.contains(r) =>
        rdFirst(item, col("rd"),
          multi(Seq(mp, matchHost(item, col("mdt_group")))))
      case _ => UNK
    }
  }

  def matchSuperItemFor(ribName: String, item: FilterItem): Column = {
    val pfx = col("prefix")
    def msp = matchSuperPrefixKnown(item, ribKeyVersion(ribName), pfx)
    ribName match {
      case "fs4u" => UNK
      case r if prefixOnlyRibs.contains(r) => msp
      case r if vpnRibs.contains(r) => rdFirst(item, col("rd"), msp)
      case r if mdtRibs.contains(r) => matchRd(item, col("rd"))
      case _ => UNK
    }
  }

  /** `FilterMatchRoute::match_item` over the unified schema: dispatch on the
    * `rib` discriminator to the right key algebra
    * (reference dispatch: the 15 typed tables, src/bgprib.rs:807-821).
    * The family groups here mix v4 and v6 tables, so this polymorphic form
    * MUST use the runtime version gate — the statically-folded
    * [[matchItemFor]] is only sound when the rib (hence key family) is
    * known. Used by RibViews.historyExists, whose frame may hold several
    * ribs; one-rib frames use [[acceptFor]]. */
  def matchItem(item: FilterItem): Column = {
    val rib = col("rib")
    val pfx = col("prefix")
    val disp = col("prefix_str")
    when(rib === "fs4u", UNK)
      .when(rib.isin(prefixOnlyRibs.filter(_ != "fs4u"): _*), matchPrefix(item, pfx, disp))
      .when(rib.isin(vpnRibs: _*), rdFirst(item, col("rd"), matchPrefix(item, pfx, disp)))
      .when(rib === "l2vpls", matchL2(item, col("rd"), col("l2")))
      .when(rib === "mvpn", matchMvpn(item, col("mvpn")))
      .when(rib === "evpn", matchEvpn(item, col("evpn")))
      .when(rib.isin(mdtRibs: _*),
        rdFirst(item, col("rd"),
          multi(Seq(matchPrefix(item, pfx, disp), matchHost(item, col("mdt_group"))))))
      .otherwise(UNK)
  }

  /** `match_super_item`: only prefix-shaped keys participate; exotic keys
    * fall back to the trait default Unknown (src/ribfilter.rs:199-217). */
  def matchSuperItem(item: FilterItem): Column = {
    val rib = col("rib")
    val pfx = col("prefix")
    when(rib === "fs4u", UNK)
      .when(rib.isin(prefixOnlyRibs.filter(_ != "fs4u"): _*), matchSuperPrefix(item, pfx))
      .when(rib.isin(vpnRibs: _*), rdFirst(item, col("rd"), matchSuperPrefix(item, pfx)))
      .when(rib.isin(mdtRibs: _*), matchRd(item, col("rd")))
      .otherwise(UNK)
  }

  // ---- attribute matching -------------------------------------------------

  /** Display strings of the 6 regex-matchable attrs (reference matches
    * Display of each, src/ribfilter.rs:1463-1470; nexthop renders as a bare
    * address). Materialized ONCE at ingest as the `attr_strs` column
    * (RouteEventGen) so the per-branch regex predicate is a single `exists`
    * over a stored array instead of six string-builder trees. */
  def attrStrings(attrs: Column): Column = array(
    attrs("origin"),
    when(attrs("nexthop").isNotNull, IpFns.addrStr(attrs("nexthop"))).otherwise(lit("")),
    concat_ws(" ", attrs("as_list")),
    concat_ws(" ", transform(attrs("comms"),
      c => concat(c("a").cast("string"), lit(":"), c("b").cast("string")))),
    concat_ws(" ", transform(attrs("lcomms"),
      c => concat_ws(":", c("a"), c("b"), c("c")))),
    concat_ws(" ", transform(attrs("extcomms"),
      c => concat_ws(":", c("ctype"), c("subtype"), c("a"), c("b")))))

  /** `FilterItem::match_attr` (src/ribfilter.rs:1430-1507). */
  def matchAttr(item: FilterItem, attrs: Column): Column = item match {
    case NhV4(net) =>
      val nh = attrs("nexthop")
      when(nh.isNull || nh("version") =!= 4, UNK)
        .otherwise(inSubnetLit(net, nh))
    case NhV6(net) =>
      val nh = attrs("nexthop")
      when(nh.isNull || nh("version") =!= 6, UNK)
        .otherwise(inSubnetLit(net, nh))
    case Comm(a, b) =>
      exists(attrs("comms"), c => c("a") === param(a) && c("b") === param(b))
    case ExtComm(m) =>
      // fold: any element Yes → Yes, else Unknown; empty list → Unknown.
      // Per-element results are soft, No never occurs (ribfilter.rs:504-540).
      val elemPred: Column => Column = m match {
        case ExtCommMatch.Num(n) => e =>
          e("a") === param(n) || e("b") === param(n) ||
            shiftright(e("b"), 16).bitwiseAND(lit(0xFFFFL)) === param(n)
        case ExtCommMatch.PairNum(a, b) => e => e("a") === param(a) && e("b") === param(b)
        case ExtCommMatch.IPv4(net) => e =>
          e("ctype") === 1 && ecIpInNet(e, net)
        case ExtCommMatch.PairNumIP(net, n) => e =>
          e("ctype") === 1 && e("b").bitwiseAND(lit(0xFFFFL)) === param(n) && ecIpInNet(e, net)
      }
      when(size(attrs("extcomms")) === 0, UNK)
        .otherwise(soft(exists(attrs("extcomms"), elemPred)))
    case Regexp(re) =>
      // stored-subject form: `attr_strs` is written at ingest (or by spec
      // fixtures via the RouteEvent field); any-of over the 6 display strings
      soft(exists(col("attr_strs"), s => coalesce(s, lit("")).rlike(re)))
    case AsPath(m) =>
      val asl = attrs("as_list")
      val n = size(asl)
      // one array parameter, not an array built per row
      def arr(xs: Seq[Long]) = param(xs.toArray)
      m match {
        case AsPathMatch.Empty => n === 0
        case AsPathMatch.FullMatch(xs) => asl === arr(xs)
        case AsPathMatch.Contains(xs) =>
          val mm = xs.length
          when(n < mm, lit(false)).otherwise(
            exists(sequence(lit(1), n - mm + 1), i => slice(asl, i, lit(mm)) === arr(xs)))
        case AsPathMatch.StartsWith(xs) =>
          val mm = xs.length
          when(n < mm, lit(false)).otherwise(slice(asl, lit(1), lit(mm)) === arr(xs))
        case AsPathMatch.EndsWith(xs) =>
          val mm = xs.length
          when(n < mm, lit(false)).otherwise(slice(asl, n - mm + 1, lit(mm)) === arr(xs))
      }
    case _ => UNK
  }

  /** Embedded IPv4 of a type-1 extended community, from the a/b halves
    * (src/ribfilter.rs:516-539). */
  private def ecIpInNet(e: Column, net: V4Net): Column = {
    val ip = shiftleft(e("a").bitwiseAND(lit(0xFFFFL)), 16)
      .bitwiseOR(shiftright(e("b"), 16).bitwiseAND(lit(0xFFFFL)))
    // a holds the top 16 bits of the address, b's top 16 the bottom bits
    ip.bitwiseAND(param(net.netMask)) === param(net.firstAddr)
  }

  // ---- term-level polarity tables ----------------------------------------

  /** The irregular polarity tables of `FilterTerm::match_route` /
    * `match_super_route` (src/ribfilter.rs:1569-1647), encoded verbatim as a
    * 9-cell literal lookup: index = routeCode*3 + attrCode (No=0, Yes=1,
    * Unknown=2), each side referenced exactly ONCE. Minus flips, Auto
    * passes through, and the route-Yes/attr-Unknown cell is always Yes.
    * (The naive nested CASE copies routeM twice and attrM four times —
    * at 15-rib dispatch-tree sizes that is the difference between a
    * codegen'd and an interpreted scan.) */
  private def combineTerm(routeM: Column, attrM: Column, pol: Polarity): Column = {
    val polNo = lit(pol == Polarity.Minus) // raw No → Yes only under '-'
    val polYes = lit(pol != Polarity.Minus) // raw Yes → No only under '-'
    val idx = (coalesce(routeM.cast("int"), lit(2)) * 3 +
      coalesce(attrM.cast("int"), lit(2)) + 1).cast("int")
    element_at(array(
      polNo, polNo, polNo, // route No: attr irrelevant
      polNo, polYes, lit(true), // route Yes: attr No/Yes/Unknown
      polNo, polYes, UNK // route Unknown
    ), idx)
  }

  /** `FilterTerm::match_attr` polarity (src/ribfilter.rs:1547-1568). */
  private def combineAttrTerm(attrM: Column, pol: Polarity): Column = {
    val polNo = lit(pol == Polarity.Minus)
    val polYes = lit(pol != Polarity.Minus)
    element_at(array(polNo, polYes, UNK),
      (coalesce(attrM.cast("int"), lit(2)) + 1).cast("int"))
  }

  // ---- filter-level conjunction ------------------------------------------

  def termRoute(t: FilterTerm): Column =
    combineTerm(matchItem(t.item), matchAttr(t.item, col("attrs")), t.polarity)

  def termSuperRoute(t: FilterTerm): Column =
    combineTerm(matchSuperItem(t.item), matchAttr(t.item, col("attrs")), t.polarity)

  /** Tri-state `RouteFilter::match_route` (src/ribfilter.rs:760-795):
    * any No → No; Yes iff every term Yes; else Unknown. */
  def matchRoute(f: RouteFilter): Column =
    if (f.isEmpty) lit(true)
    else {
      val ts = f.terms.map(termRoute)
      val anyNo = ts.map(t => t === false).reduce(_ || _)
      val allYes = ts.map(t => t === true).reduce(_ && _)
      when(anyNo, lit(false)).when(allYes, lit(true)).otherwise(UNK)
    }

  def matchSuperRoute(f: RouteFilter): Column =
    if (f.isEmpty) lit(true)
    else {
      val ts = f.terms.map(termSuperRoute)
      val anyNo = ts.map(t => t === false).reduce(_ || _)
      val allYes = ts.map(t => t === true).reduce(_ && _)
      when(anyNo, lit(false)).when(allYes, lit(true)).otherwise(UNK)
    }

  /** `RouteFilter::match_attr` event prefilter (src/ribfilter.rs:739-759):
    * first non-Unknown attr-kind term wins; no attr-kind terms → Yes. */
  def matchAttrOnly(f: RouteFilter): Column = {
    val attrTerms = f.terms.filter(t => ItemKind.of(t.item) == ItemKind.Attr)
    if (f.isEmpty || attrTerms.isEmpty) lit(true)
    else coalesce(attrTerms.map(t =>
      combineAttrTerm(matchAttr(t.item, col("attrs")), t.polarity)) :+ UNK: _*)
  }

  /** Row acceptance: only a resolved Yes survives (src/ribfilter.rs:607-609).
    * Equivalent to `matchRoute(f) == Yes` but with a single copy of each
    * term's expression tree (Unknown → rejected, so per-term
    * `coalesce(term, false)` AND-chains give the same acceptance). */
  def accept(f: RouteFilter): Column =
    if (f.isEmpty) lit(true)
    else f.terms.map(t => termRoute(t) <=> lit(true)).reduce(_ && _)

  def acceptSuper(f: RouteFilter): Column =
    if (f.isEmpty) lit(true)
    else f.terms.map(t => termSuperRoute(t) <=> lit(true)).reduce(_ && _)

  /** [[accept]] specialized to a statically-known rib kind: the key-match
    * side folds to that rib's algebra alone. Used by the per-rib-partition
    * union scan (RibViews.scan), where each branch's predicate must fit in
    * one whole-stage-codegen method, and by the one-rib JSON page match
    * (RibViews.entryMatchFlag). */
  def acceptFor(ribName: String, f: RouteFilter): Column =
    if (f.isEmpty) lit(true)
    else f.terms.map { t =>
      combineTerm(matchItemFor(ribName, t.item),
        matchAttr(t.item, col("attrs")), t.polarity) <=> lit(true)
    }.reduce(_ && _)

  def acceptSuperFor(ribName: String, f: RouteFilter): Column =
    if (f.isEmpty) lit(true)
    else f.terms.map { t =>
      combineTerm(matchSuperItemFor(ribName, t.item),
        matchAttr(t.item, col("attrs")), t.polarity) <=> lit(true)
    }.reduce(_ && _)

  def accept(filter: String): Column = accept(FilterParser.parse(filter))
  def acceptSuper(filter: String): Column = acceptSuper(FilterParser.parse(filter))
}
