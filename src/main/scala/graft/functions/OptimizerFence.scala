package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.DataType

/** Identity expression DECLARED non-deterministic — an optimizer fence
  * around an expensive projected column (round-17; replaces the
  * round-16 `pushdownBarrier` object round trip in the stream gates).
  *
  * The problem it solves: `InferFiltersFromGenerate` plants
  * `size(col) > 0 AND isnotnull(col)` at an explode, and predicate
  * pushdown then SUBSTITUTES the column's defining expression while
  * pushing that filter below the spread repartition — so an expensive
  * aliased array (shingle hashing, minhash signatures) re-evaluates
  * per row on the unspread single-task side, twice. Wrapping the alias
  * in a non-deterministic no-op stops the substitution (the optimizer
  * may not duplicate, reorder or constant-fold past it — guide §4.4's
  * `asNondeterministic` trick, natively): the expensive projection
  * evaluates ONCE, after the spread, and the inferred filter runs on
  * the already-materialized column.
  *
  * Unlike the object round trip it replaces, this stays inside
  * whole-stage codegen (the generated code is a plain assignment) and
  * pays no serde. It is NOT registered as a SQL function for general
  * use — it exists for the gate builders, which compose it via
  * [[OptimizerFence.register]] + `expr("graft_fence(...)")`.
  *
  * Fence a PROJECTED column only: CheckAnalysis refuses a
  * non-deterministic expression written into a join condition or a
  * sort order, while a fenced column referenced there as a join or
  * sort key analyzes and returns the unfenced rows (OptimizerFenceSpec).
  *
  * Evaluation IS deterministic (identity); the flag is a declared lie
  * whose only effect is disabling expression-duplicating rewrites.
  * Safe here because the fenced column is itself a pure function of
  * the row — retries/speculation recompute identical values. */
case class OptimizerFence(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_fence"

  override protected def nullSafeEval(input: Any): Any = input

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OptimizerFence {
  /** Register `graft_fence(x)` in a session's function registry
    * (idempotent); mirrors [[NfcNormalize.register]]. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SessionFunctions.register(spark, "graft_fence")(
      exprs => OptimizerFence(exprs.head))
}
