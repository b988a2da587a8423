package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Sequential-fold dot product of two double-array columns — the
  * whole-stage-codegen replacement for the HOF formulation
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)` that
  * previously scored every similarity operator. Higher-order-function
  * lambdas are CodegenFallback (interpreted, one closure dispatch per
  * element, plus a materialized zip array per row); this expression emits
  * the tight fused loop straight into the generated code — no
  * intermediate array, no virtual calls. On the 100 TB path the dot
  * product is THE inner loop of brute-force/LSH/IVF scoring (corpus ×
  * queries evaluations), so it must be codegen, like any builtin.
  *
  * Semantics are bit-identical to the HOF form so DuckDB oracle hashes
  * are unchanged:
  *   - accumulation is left-to-right in index order (matches both the
  *     HOF fold and DuckDB's `list_dot_product`);
  *   - mismatched lengths → null (zip_with pads the short side with null,
  *     null poisons the sum);
  *   - any null element → null; both empty → 0.0; null array → null.
  *
  * Training-data-pipeline surface (SURVEY §2 extensions): similarity
  * search / semantic dedup scoring. Registered as SQL `graft_dot` via
  * [[GraftExtensions]] or [[DotProduct.register]].
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c1, c2) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $c1.numElements();
         |if ($n != $c2.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  int $i = 0;
         |  for (; $i < $n; $i++) {
         |    if ($c1.isNullAt($i) || $c2.isNullAt($i)) break;
         |    $acc += $c1.getDouble($i) * $c2.getDouble($i);
         |  }
         |  if ($i < $n) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Register `graft_dot(a, b)` in a session's function registry
    * (idempotent) — same pattern as [[RollingHashMin.register]]. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SessionFunctions.register(spark, "graft_dot")(
      exprs => DotProduct(exprs.head, exprs(1)))
}
