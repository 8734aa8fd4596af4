package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.DataType

/** A non-null constant that generated code reads from the plan's
  * references array instead of inlining it. Spark inlines primitive
  * literals into whole-stage code, so two queries that differ only in such
  * a value compile two code bodies; with this expression they share one.
  * Meant for a bound that changes on every call, such as a table's current
  * max time.
  *
  * Not foldable, so the optimizer never turns it back into a literal. The
  * price: no parquet pushdown and no chunk exclusion on it. Use it only
  * where the bound prunes nothing the scan has not already pruned.
  */
case class ReferencedConstant(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ReferencedConstant holds a non-null value")

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("constant", value, boxed)
    val v = if (javaType == boxed) ref else s"$ref.${javaType}Value()"
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(v, dataType))
  }
}
