package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.GraftBridge

/** A request value as a plan leaf whose generated code does not depend on
  * the value: the "parameter literal" of plan-caching engines on Spark
  * (SnappyData's `ParamLiteral`).
  *
  * Whole-stage codegen inlines a primitive [[Literal]] into the generated
  * Java, so every new prefix, route id or timestamp of a page gives new
  * source text, misses `CodeGenerator`'s cache and compiles (and starts
  * cold in the JIT) again. A `Param` reads its value from the generated
  * class's `references` array once, into a field, so two pages that
  * differ only in their values share one compiled class.
  *
  * It is not foldable, so the optimizer keeps it as is: a value Spark
  * must see as a literal — a pushed-down scan predicate, a regex pattern,
  * a limit — stays a `Literal`. `value` is in Catalyst's internal form
  * (as a `Literal`'s), see [[Param.column]]. */
case class Param(value: Any, dataType: DataType) extends LeafExpression {

  override def foldable: Boolean = false
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param(${Literal(value, dataType)})"
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
      val field = ctx.addMutableState(javaType, "param", v => s"$v = $read;")
      ExprCode(FalseLiteral, JavaCode.global(field, dataType))
    }
}

object Param {
  /** A Scala value as a [[Param]] column, typed as `lit(v)` would be. */
  def column(v: Any): Column = {
    val l = Literal(v)
    GraftBridge.column(Param(l.value, l.dataType))
  }
}
