package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal pure-JVM CBOR (RFC 8949) decoder — enough to read the
  * reference's snapshot files (ciborium output: definite and indefinite
  * lengths, all major types, tags passed through). Decoding is strict:
  * malformed items fail loudly rather than guessing.
  *
  * This is a generic codec, independent of the snapshot schema; the
  * snapshot-specific mapping lives in [[Snapshot]].
  */
object Cbor {

  sealed trait Value
  final case class CInt(v: Long) extends Value // majors 0/1 within Long range
  final case class CBig(v: BigInt) extends Value // uint64 > Long.MaxValue
  final case class CBytes(v: Array[Byte]) extends Value {
    // content equality — the case-class default compares array references
    override def equals(o: Any): Boolean = o match {
      case CBytes(w) => java.util.Arrays.equals(v, w)
      case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(v)
  }
  final case class CText(v: String) extends Value
  final case class CArr(v: Vector[Value]) extends Value
  /** Entries in encounter order — CBOR maps may carry non-text keys. */
  final case class CMap(v: Vector[(Value, Value)]) extends Value {
    def get(key: String): Option[Value] =
      v.collectFirst { case (CText(`key`), x) => x }
  }
  final case class CTag(tag: Long, v: Value) extends Value
  final case class CBool(v: Boolean) extends Value
  case object CNull extends Value
  case object CUndefined extends Value
  final case class CSimple(v: Int) extends Value
  final case class CFloat(v: Double) extends Value

  final class CborError(msg: String) extends RuntimeException(msg)

  /** Decode one complete item. None on clean EOF before the first byte —
    * the snapshot reader pulls 15 sequential documents this way. */
  def decode(in: InputStream): Option[Value] = {
    val b = in.read()
    if (b < 0) None else Some(item(b, in))
  }

  private def item(ib: Int, in: InputStream): Value = {
    val major = ib >> 5
    val ai = ib & 0x1f
    major match {
      case 0 => intArg(ai, in) match {
        case Left(l) => CInt(l)
        case Right(b) => CBig(b)
      }
      case 1 => intArg(ai, in) match {
        case Left(l) => CInt(-1L - l) // intArg Left is always >= 0
        case Right(b) => CBig(BigInt(-1) - b)
      }
      case 2 => CBytes(chunks(ai, in, major = 2))
      case 3 => CText(new String(chunks(ai, in, major = 3), UTF_8))
      case 4 =>
        if (ai == 31) {
          val items = Vector.newBuilder[Value]
          var b = in.read()
          while (b != 0xff) {
            if (b < 0) throw new CborError("EOF in indefinite array")
            items += item(b, in); b = in.read()
          }
          CArr(items.result())
        } else {
          val n = lenArg(ai, in)
          CArr(Vector.fill(n)(decode(in).getOrElse(
            throw new CborError("EOF inside array"))))
        }
      case 5 =>
        if (ai == 31) {
          val items = Vector.newBuilder[(Value, Value)]
          var b = in.read()
          while (b != 0xff) {
            if (b < 0) throw new CborError("EOF in indefinite map")
            val k = item(b, in)
            val v = decode(in).getOrElse(throw new CborError("EOF inside map"))
            items += (k -> v); b = in.read()
          }
          CMap(items.result())
        } else {
          val n = lenArg(ai, in)
          CMap(Vector.fill(n) {
            val k = decode(in).getOrElse(throw new CborError("EOF inside map"))
            val v = decode(in).getOrElse(throw new CborError("EOF inside map"))
            k -> v
          })
        }
      case 6 =>
        val tag = intArg(ai, in) match {
          case Left(l) => l
          case Right(_) => throw new CborError("tag beyond Long range")
        }
        CTag(tag, decode(in).getOrElse(throw new CborError("EOF after tag")))
      case 7 => ai match {
        case 20 => CBool(false)
        case 21 => CBool(true)
        case 22 => CNull
        case 23 => CUndefined
        case 24 =>
          val s = in.read()
          if (s < 0) throw new CborError("EOF in simple value")
          CSimple(s)
        case 25 => CFloat(halfToDouble(readN(in, 2).toInt))
        case 26 => CFloat(java.lang.Float.intBitsToFloat(readN(in, 4).toInt).toDouble)
        case 27 => CFloat(java.lang.Double.longBitsToDouble(readN(in, 8)))
        case 31 => throw new CborError("unexpected break code")
        case s if s < 20 => CSimple(s)
        case s => throw new CborError(s"reserved simple/float additional info $s")
      }
    }
  }

  /** Major 0/1 argument: Left(long) when it fits, Right for full uint64. */
  private def intArg(ai: Int, in: InputStream): Either[Long, BigInt] = ai match {
    case n if n < 24 => Left(n.toLong)
    case 24 => Left(readByte(in).toLong)
    case 25 => Left(readN(in, 2))
    case 26 => Left(readN(in, 4))
    case 27 =>
      val v = readN(in, 8)
      if (v >= 0) Left(v)
      else Right((BigInt(v >>> 1) << 1) + BigInt(v & 1L))
    case n => throw new CborError(s"invalid additional info $n for int")
  }

  private def lenArg(ai: Int, in: InputStream): Int = intArg(ai, in) match {
    case Left(l) if l >= 0 && l <= Int.MaxValue => l.toInt
    case other => throw new CborError(s"unreasonable length $other")
  }

  /** Byte/text payload: definite, or indefinite as definite chunks (§3.2.3). */
  private def chunks(ai: Int, in: InputStream, major: Int): Array[Byte] = {
    if (ai != 31) return readBytes(in, lenArg(ai, in))
    val out = new java.io.ByteArrayOutputStream()
    var b = in.read()
    while (b != 0xff) {
      if (b < 0) throw new CborError("EOF in indefinite string")
      if ((b >> 5) != major) throw new CborError("mixed-major chunk in indefinite string")
      out.write(readBytes(in, lenArg(b & 0x1f, in)))
      b = in.read()
    }
    out.toByteArray
  }

  private def readByte(in: InputStream): Int = {
    val b = in.read()
    if (b < 0) throw new CborError("EOF in argument")
    b
  }

  private def readN(in: InputStream, n: Int): Long =
    (0 until n).foldLeft(0L)((acc, _) => (acc << 8) | readByte(in))

  private def readBytes(in: InputStream, n: Int): Array[Byte] = {
    // progressive chunked read: a corrupted length claim (fuzz: one
    // flipped nibble can assert 2^31 bytes) must surface as the EOF
    // error, not as a giant up-front allocation on a short stream
    val chunk = math.min(n, 1 << 16)
    val out = new java.io.ByteArrayOutputStream(chunk)
    val buf = new Array[Byte](math.max(chunk, 1))
    var remaining = n
    while (remaining > 0) {
      val r = in.read(buf, 0, math.min(remaining, buf.length))
      if (r < 0) throw new CborError("EOF in payload")
      out.write(buf, 0, r); remaining -= r
    }
    out.toByteArray
  }

  /** IEEE 754 half-precision → double (RFC 8949 appendix D). */
  private def halfToDouble(h: Int): Double = {
    val exp = (h >> 10) & 0x1f
    val mant = h & 0x3ff
    val v =
      if (exp == 0) mant * math.pow(2, -24)
      else if (exp != 31) (mant + 1024) * math.pow(2, exp - 25)
      else if (mant == 0) Double.PositiveInfinity
      else Double.NaN
    if ((h & 0x8000) != 0) -v else v
  }

  // ------------------------------------------------------------- encoder
  // (fixture assembly + snapshot WRITING share it; kept symmetric with the
  // decoder so goldens can roundtrip)

  def encode(v: Value): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    enc(v, out)
    out.toByteArray
  }

  private def enc(v: Value, out: java.io.ByteArrayOutputStream): Unit = v match {
    case CInt(l) =>
      if (l >= 0) head(0, l, out) else head(1, -1L - l, out)
    case CBig(b) =>
      if (b >= 0 && b.bitLength <= 64) { // uint64 via the 8-byte argument
        out.write(0x1b)
        (56 to 0 by -8).foreach(s => out.write(((b >> s) & 0xff).toInt))
      } else throw new CborError(s"unencodable big int $b")
    case CBytes(b) => head(2, b.length.toLong, out); out.write(b, 0, b.length)
    case CText(s) =>
      val b = s.getBytes(UTF_8); head(3, b.length.toLong, out); out.write(b, 0, b.length)
    case CArr(items) =>
      head(4, items.length.toLong, out); items.foreach(enc(_, out))
    case CMap(entries) =>
      head(5, entries.length.toLong, out)
      entries.foreach { case (k, x) => enc(k, out); enc(x, out) }
    case CTag(t, x) => head(6, t, out); enc(x, out)
    case CBool(false) => out.write(0xf4)
    case CBool(true) => out.write(0xf5)
    case CNull => out.write(0xf6)
    case CUndefined => out.write(0xf7)
    case CSimple(s) if s < 20 => out.write(0xe0 | s)
    case CSimple(s) => out.write(0xf8); out.write(s)
    case CFloat(d) =>
      out.write(0xfb)
      val bits = java.lang.Double.doubleToLongBits(d)
      (56 to 0 by -8).foreach(s => out.write(((bits >> s) & 0xff).toInt))
  }

  private def head(major: Int, arg: Long, out: java.io.ByteArrayOutputStream): Unit = {
    require(arg >= 0, s"negative argument $arg")
    val m = major << 5
    if (arg < 24) out.write(m | arg.toInt)
    else if (arg < 256) { out.write(m | 24); out.write(arg.toInt) }
    else if (arg < 65536) {
      out.write(m | 25); out.write((arg >> 8).toInt); out.write(arg.toInt & 0xff)
    } else if (arg <= 0xffffffffL) {
      out.write(m | 26)
      (24 to 0 by -8).foreach(s => out.write(((arg >> s) & 0xff).toInt))
    } else {
      out.write(m | 27)
      (56 to 0 by -8).foreach(s => out.write(((arg >> s) & 0xff).toInt))
    }
  }
}
