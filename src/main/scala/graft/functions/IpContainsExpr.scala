package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.sql.GraftBridge

/** Native Catalyst expression for 128-bit prefix containment
  * `net ⊇ route` over two prefix structs `<version, ip_hi, ip_lo,
  * prefix_len>` (reference semantics: zettabgp `BgpAddrV4/V6::contains`,
  * exercised src/ribfilter.rs:1350-1417).
  *
  * The composed-builtins form ([[IpFns.contains]]) expands to ~120 expression
  * nodes when both sides are columns (mask derivation per row); this single
  * node evaluates the same math in a handful of JVM ops and generates one
  * straight-line code block under WholeStageCodegen (`doGenCode`), keeping
  * column-column containment joins (LPM, Q6) cheap at scale. SURVEY §7.4's
  * "custom Expression with codegen for ipContains" option.
  */
case class IpContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "ip_contains"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IpContains =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(netRaw: Any, routeRaw: Any): Any = {
    val net = netRaw.asInstanceOf[InternalRow]
    val route = routeRaw.asInstanceOf[InternalRow]
    IpContains.contains(
      net.getByte(0), net.getLong(1), net.getLong(2), net.getInt(3),
      route.getByte(0), route.getLong(1), route.getLong(2), route.getInt(3))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (net, route) => {
      val cls = IpContains.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |${ev.value} = $cls.contains(
         |  $net.getByte(0), $net.getLong(1), $net.getLong(2), $net.getInt(3),
         |  $route.getByte(0), $route.getLong(1), $route.getLong(2), $route.getInt(3));
       """.stripMargin
    })
}

object IpContains {
  /** The containment kernel shared by interpreted eval and codegen: same
    * mask math as IpFns (v4 in the low 32 bits of ip_lo, effective plen
    * = plen + 96). */
  def contains(nVer: Byte, nHi: Long, nLo: Long, nPlen: Int,
      rVer: Byte, rHi: Long, rLo: Long, rPlen: Int): Boolean = {
    if (nVer != rVer || rPlen < nPlen) return false
    val p = if (nVer == 4) nPlen + 96 else nPlen
    val hostHi = 64 - math.min(p, 64)
    val maskHi = if (hostHi >= 64) 0L else -1L << hostHi
    val covered = math.max(p - 64, 0)
    val hostLo = 64 - math.min(covered, 64)
    val maskLo = if (hostLo >= 64) 0L else -1L << hostLo
    ((rHi & maskHi) == (nHi & maskHi)) && ((rLo & maskLo) == (nLo & maskLo))
  }

  /** Column wrapper: drop-in for IpFns.contains on column-column inputs. */
  def apply(net: Column, route: Column): Column =
    GraftBridge.column(IpContains(GraftBridge.expression(net), GraftBridge.expression(route)))
}
