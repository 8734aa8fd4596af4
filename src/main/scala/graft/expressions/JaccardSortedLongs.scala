package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Exact Jaccard similarity of two SORTED distinct long arrays
  * ([[ShingleHashes]] output) by a single merge walk — no hash-set build,
  * no boxing, O(|a|+|b|) with zero allocation. Replaces
  * `size(array_intersect)/size(array_union)` in the LSH verify hot path.
  *
  * Division mirrors Spark's non-ANSI divide: a 0/0 (two empty sets) is
  * NULL — unreachable from `ShingleHashes`, which emits ≥ 1 gram.
  */
case class JaccardSortedLongs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  // the 0/0 (two empty sets) result is NULL regardless of child
  // nullability — without this override the non-nullable codegen branch
  // would unbox compute()'s null and NPE
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted needs two array<bigint>, got ${l.sql} / ${r.sql}")
    }

  /** Public bridge for generated code (and the interpreted path). */
  def compute(av: ArrayData, bv: ArrayData): Any = JaccardSortedLongs.compute(av, bv)

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaccardExpr", this, classOf[JaccardSortedLongs].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("jacc")
      // compute() may return null (0/0): propagate like interpreted eval
      if (nullable)
        s"""
           |Object $tmp = $ref.compute($a, $b);
           |if ($tmp == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = ((java.lang.Double) $tmp).doubleValue();
           |}
         """.stripMargin
      else
        s"""
           |Object $tmp = $ref.compute($a, $b);
           |${ev.value} = ((java.lang.Double) $tmp).doubleValue();
         """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaccardSortedLongs {

  /** The merge walk, also called on arrays outside an expression tree
    * ([[graft.plans.SmallDedup]]).
    */
  def compute(av: ArrayData, bv: ArrayData): Any = {
    val na = av.numElements()
    val nb = bv.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = av.getLong(i)
      val y = bv.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) null else java.lang.Double.valueOf(inter.toDouble / union.toDouble)
  }
}
