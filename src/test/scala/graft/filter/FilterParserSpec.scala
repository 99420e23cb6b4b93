package graft.filter

import org.scalatest.funsuite.AnyFunSuite

/** Parser goldens ported from the reference unit tests
  * (reference: src/ribfilter.rs:1655-1758). */
class FilterParserSpec extends AnyFunSuite {
  import FilterItem._

  private def item(s: String): FilterItem = FilterParser.parseItem(s).get

  test("ipv4 host") {
    assert(item("10.6.7.8") == V4(V4Net(0x0A060708L, 32), multicast = false))
  }

  test("ipv4 net") {
    assert(item("10.6.7.0/24") == V4(V4Net(0x0A060700L, 24), multicast = false))
  }

  test("ipv6 host") {
    assert(item("2c0a:dead:beef:b00b::beef:b00b") ==
      V6(V6Net(0x2c0adeadbeefb00bL, 0x00000000beefb00bL, 128), multicast = false))
  }

  test("ipv6 net") {
    assert(item("2c0a:dead:beef:b00b::/64") ==
      V6(V6Net(0x2c0adeadbeefb00bL, 0L, 64), multicast = false))
  }

  test("nh ipv4") {
    assert(item("nh:10.6.7.0/24") == NhV4(V4Net(0x0A060700L, 24)))
  }

  test("nh ipv6") {
    assert(item("nh:2c0a:dead:beef:b00b::/64") == NhV6(V6Net(0x2c0adeadbeefb00bL, 0L, 64)))
  }

  test("rd") {
    assert(item("rd:100:1000") == RdEq(100, 1000))
  }

  test("as path forms") {
    assert(item("as:") == AsPath(AsPathMatch.Empty))
    assert(item("as:^") == AsPath(AsPathMatch.Empty))
    assert(item("as:^$") == AsPath(AsPathMatch.Empty))
    assert(item("as:$") == AsPath(AsPathMatch.Empty))
    assert(item("as:2345") == AsPath(AsPathMatch.Contains(Seq(2345L))))
    assert(item("as:100,2345") == AsPath(AsPathMatch.Contains(Seq(100L, 2345L))))
    assert(item("as:^2345") == AsPath(AsPathMatch.StartsWith(Seq(2345L))))
    assert(item("as:2345$") == AsPath(AsPathMatch.EndsWith(Seq(2345L))))
    assert(item("as:^100,2345$") == AsPath(AsPathMatch.FullMatch(Seq(100L, 2345L))))
  }

  test("community") {
    assert(item("community:100:2345") == Comm(100, 2345))
  }

  test("multicast auto-classification") {
    assert(item("224.1.1.0/24") == V4(V4Net(0xE0010100L, 24), multicast = true))
    assert(item("255.255.255.255") == V4(V4Net(0xFFFFFFFFL, 32), multicast = false))
  }

  test("rt forms") {
    assert(item("rt:200") == ExtComm(ExtCommMatch.Num(200)))
    assert(item("rt:200:300") == ExtComm(ExtCommMatch.PairNum(200, 300)))
    assert(item("target:200:300") == ExtComm(ExtCommMatch.PairNum(200, 300)))
    assert(item("ext-target:200:300") == ExtComm(ExtCommMatch.PairNum(200, 300)))
    assert(item("rt:1.2.3.4") == ExtComm(ExtCommMatch.IPv4(V4Net(0x01020304L, 32))))
    assert(item("rt:1.2.3.4:7") == ExtComm(ExtCommMatch.PairNumIP(V4Net(0x01020304L, 32), 7)))
  }

  test("rd type-1 from A.B.C.D:n") {
    // 0x10000 | (1<<8) | 2, (3<<24)|(4<<16)|7  (src/ribfilter.rs:1109-1129)
    assert(item("rd:1.2.3.4:7") == RdEq(0x10000L | (1L << 8) | 2L, (3L << 24) | (4L << 16) | 7L))
  }

  test("polarity prefixes") {
    assert(FilterParser.parseTerm("+rd:1:2").get.polarity == Polarity.Plus)
    assert(FilterParser.parseTerm("-rd:1:2").get.polarity == Polarity.Minus)
    assert(FilterParser.parseTerm("rd:1:2").get.polarity == Polarity.Auto)
  }

  test("unparseable terms are dropped") {
    assert(FilterParser.parse("rd:1:2 garbage! 10.0.0.0/8").terms.length == 2)
    // bare digits+colons hit the v6 regex arm and fail inside it (quirk)
    assert(FilterParser.parseItem("100:200").isEmpty)
  }

  test("num") {
    assert(item("12345") == Num(12345))
  }

  test("fuzz: any string parses, and every rib compiles the result") {
    // random strings, and random joins of grammar fragments, must never
    // make the parser throw (an unparseable term is dropped), and what it
    // returns must build a Column for each of the 15 ribs on both paths
    import org.scalacheck.{Arbitrary, Gen}
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val atom = Gen.oneOf(
      Gen.oneOf("/", ":", "::", ".", ",", "$", "^", "(", "[", "*", "\\"),
      Gen.numChar.map(_.toString),
      Gen.hexChar.map(_.toString),
      Gen.choose(0L, Long.MaxValue).map(_.toString),
      Gen.choose(0, 300).map(_.toString))
    val term = for {
      pol <- Gen.oneOf("", "", "+", "-")
      head <- Gen.oneOf("", "re:", "as:^", "as:", "rd:", "nh:", "rt:", "c:",
        "community:", "target:", "ext-target:")
      n <- Gen.choose(0, 8)
      body <- Gen.listOfN(n, atom)
    } yield pol + head + body.mkString
    val joined = Gen.choose(0, 5).flatMap(n =>
      Gen.listOfN(n, term).map(_.mkString(" ")))
    val input = Gen.frequency(
      6 -> joined,
      2 -> Gen.asciiPrintableStr,
      1 -> Arbitrary.arbitrary[String])
    var withTerms = 0
    (0 until 600).foreach { i =>
      val s = sample(input, 9000L + i)
      val built = scala.util.Try {
        val f = FilterParser.parse(s)
        if (!f.isEmpty) withTerms += 1
        FilterCompiler.ribValues.flatMap(rib =>
          Seq(FilterCompiler.acceptFor(rib, f),
            FilterCompiler.acceptSuperFor(rib, f)))
      }
      assert(built.toOption.exists(cs => cs.size == 30 && cs.forall(_ != null)),
        s"input <$s>: $built")
    }
    // not vacuous: a good share of the inputs keep at least one term
    assert(withTerms >= 100, s"$withTerms of 600 inputs kept a term")
  }
}
