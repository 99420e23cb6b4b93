package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** IP-prefix math as Catalyst column expressions (reference: the zettabgp
  * `contains` surface exercised at src/ribfilter.rs:1350-1417, and the
  * multicast classifiers at src/service.rs:30-41).
  *
  * Representation: 128-bit address space in two signed longs (`ip_hi`,
  * `ip_lo`); IPv4 occupies the low 32 bits of `ip_lo` with `ip_hi == 0`,
  * so a v4 /n has effective 128-bit prefix length n + 96. All helpers are
  * built from codegen'd built-ins (shifts, bit ops, comparisons) — no UDFs —
  * so they inline into WholeStageCodegen and remain usable in data-skipping
  * min/max pruning at scale.
  */
object IpFns {

  /** Effective 128-bit prefix length for a prefix struct column. */
  def plen128(pfx: Column): Column =
    when(pfx("version") === 4, pfx("prefix_len") + 96).otherwise(pfx("prefix_len"))

  /** Host-bits mask for the high long given effective plen `p` (column):
    * bits NOT covered by the prefix within ip_hi. */
  private def hostMaskHi(p: Column): Column = {
    val bits = lit(64) - least(p, lit(64)) // 0..64
    when(bits === 64, lit(-1L))
      .otherwise(call_function("shiftleft", lit(1L), bits.cast("int")) - 1)
  }

  private def hostMaskLo(p: Column): Column = {
    val covered = greatest(p - 64, lit(0)) // prefix bits inside ip_lo: 0..64
    val bits = lit(64) - least(covered, lit(64))
    when(bits === 64, lit(-1L))
      .otherwise(call_function("shiftleft", lit(1L), bits.cast("int")) - 1)
  }

  /** Network mask (hi long) for effective plen `p`. */
  def netMaskHi(p: Column): Column = bitwise_not(hostMaskHi(p))
  def netMaskLo(p: Column): Column = bitwise_not(hostMaskLo(p))

  /** True iff prefix `net` contains prefix `route` (both struct columns
    * `<version, ip_hi, ip_lo, prefix_len>`): same family, route at least as
    * specific, and route's address matches net's on net's prefix bits
    * (reference: zettabgp `BgpAddrV4::contains`, used src/ribfilter.rs:1368-1417). */
  def contains(net: Column, route: Column): Column = {
    val p = plen128(net)
    val mh = netMaskHi(p)
    val ml = netMaskLo(p)
    net("version") === route("version") &&
      route("prefix_len") >= net("prefix_len") &&
      (route("ip_hi").bitwiseAND(mh) === net("ip_hi").bitwiseAND(mh)) &&
      (route("ip_lo").bitwiseAND(ml) === net("ip_lo").bitwiseAND(ml))
  }

  /** IPv4 multicast: first octet >= 224 and not 255.255.255.255
    * (reference: src/service.rs:30-38). */
  def isMulticastV4(ipLo: Column): Column =
    (shiftright(ipLo, 24).bitwiseAND(lit(0xFFL)) >= 224) && (ipLo =!= lit(0xFFFFFFFFL))

  /** IPv6 multicast: first octet == 0xff (reference: src/service.rs:39-41). */
  def isMulticastV6(ipHi: Column): Column =
    shiftright(ipHi, 56).bitwiseAND(lit(0xFFL)) === lit(0xFFL)

  /** Offset-encode a long so SIGNED ordering equals UNSIGNED ordering of the
    * raw bits (flip the sign bit). Use for deterministic NLRI sort order
    * (reference walks BTreeMaps in unsigned key order, src/bgprib.rs:431). */
  def sortable(ipPart: Column): Column = ipPart.bitwiseXOR(lit(Long.MinValue))

  /** Route-key specificity for the supernet top-k ordering: prefixlen,
    * +64 per RD, +24 per MPLS label (reference: src/ribfilter.rs:469-494). */
  def keyLen(prefix: Column, rd: Column, labels: Column): Column =
    coalesce(prefix("prefix_len"), lit(0)) +
      when(rd.isNotNull, lit(64)).otherwise(lit(0)) +
      when(labels.isNotNull, coalesce(size(labels), lit(0)) * 24).otherwise(lit(0))

  /** Dotted-quad display of a v4 address held in the low 32 bits of a long.
    * concat-of-casts, not format_string — FormatString allocates a
    * java.util.Formatter per row, which dominates ingest-time rendering. */
  def v4Str(ipLo: Column): Column =
    concat(
      shiftright(ipLo, 24).bitwiseAND(lit(0xFFL)).cast("string"), lit("."),
      shiftright(ipLo, 16).bitwiseAND(lit(0xFFL)).cast("string"), lit("."),
      shiftright(ipLo, 8).bitwiseAND(lit(0xFFL)).cast("string"), lit("."),
      ipLo.bitwiseAND(lit(0xFFL)).cast("string"))

  /** Canonical display of a prefix struct column: v4 dotted/len, v6
    * RFC-5952-compressed (longest run of ≥2 zero groups → `::`, leftmost on
    * tie, lowercase, no leading zeros) — matches Rust `Ipv6Addr` Display
    * used by the reference for JSON keys and regex subjects
    * (src/bgpsvc.rs:635, src/ribfilter.rs:1463-1470; golden corpus
    * src/ribfilter.rs:1655-1758). Delegates to the native [[PfxDisplay]]
    * kernel: the composed-builtins form ([[addrStrComposed]]) unrolls the
    * 28 zero-run windows into ~1400 expression nodes and dominated the
    * ingest write. Evaluated at ingest (stored `prefix_str`), not in
    * per-query predicates. */
  def pfxStr(pfx: Column): Column = PfxDisplay.pfx(pfx)

  /** Bare address display (no /len) — the reference renders plain
    * `IpAddr` Display for host-valued attrs like nexthop
    * (src/ribfilter.rs:1463-1470). Native kernel; see [[pfxStr]]. */
  def addrStr(pfx: Column): Column = PfxDisplay.addr(pfx)

  /** The original composed-builtins rendering, kept as an independent
    * second implementation for the native-vs-composed equivalence spec
    * (IpFnsSpec cross-checks them over the fixture + golden corpus). */
  private[graft] def addrStrComposed(pfx: Column): Column = {
    def raw(i: Int): Column = {
      val src = if (i < 4) pfx("ip_hi") else pfx("ip_lo")
      shiftright(src, (3 - (i % 4)) * 16).bitwiseAND(lit(0xFFFFL))
    }
    def grp(i: Int): Column = lower(hex(raw(i)))
    def zero(s: Int, l: Int): Column =
      (s until s + l).map(raw(_) === 0L).reduce(_ && _)
    def render(s: Int, l: Int): Column = {
      val left = (0 until s).map(grp)
      val right = (s + l until 8).map(grp)
      concat(
        (if (left.isEmpty) Seq(lit("")) else Seq(concat_ws(":", left: _*))) ++
          Seq(lit("::")) ++
          (if (right.isEmpty) Seq(lit("")) else Seq(concat_ws(":", right: _*))): _*)
    }
    val windows = for { l <- 8 to 2 by -1; s <- 0 to 8 - l } yield (s, l)
    val full = concat_ws(":", (0 until 8).map(grp): _*)
    val v6 = windows.foldLeft(null.asInstanceOf[Column]) { case (acc, (s, l)) =>
      if (acc == null) when(zero(s, l), render(s, l))
      else acc.when(zero(s, l), render(s, l))
    }.otherwise(full)
    when(pfx("version") === 4, v4Str(pfx("ip_lo"))).otherwise(v6)
  }

  /** `rdh:rdl` display (reference: zettabgp BgpRD Display, exercised
    * src/ribfilter.rs:1418-1429). */
  def rdStr(rd: Column): Column =
    concat(rd("rdh").cast("string"), lit(":"), rd("rdl").cast("string"))
}
