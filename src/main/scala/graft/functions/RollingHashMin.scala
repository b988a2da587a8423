package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing-style document fingerprint: the MINIMUM of all `window`-char
  * polynomial rolling hashes of the text (Karp-Rabin windows, leading-
  * coefficient form `h_i = Σ_j c[i+j] · B^(w-1-j) mod M`, rolled in O(1)
  * per step). Null when the text is shorter than the window.
  *
  * This is the engine's one genuinely custom Catalyst `Expression` — a
  * per-character stateful loop that higher-order-function compositions
  * cannot express without materializing every window (O(n·w) memory and
  * interpreted lambdas). `doGenCode` emits the tight O(n) loop straight
  * into whole-stage codegen; `nullSafeEval` is the interpreted twin.
  *
  * Reference capability covered: document fingerprinting (SURVEY.md §2
  * extensions; the reference itself fingerprints nothing — this is part of
  * the training-data-pipeline surface). The DuckDB oracle computes the
  * identical hash termwise (see PipelineQueries.rollingFingerprintOracle).
  */
case class RollingHashMin(
    child: Expression,
    window: Int = RollingHashMin.DefaultWindow,
    base: Long = RollingHashMin.DefaultBase,
    mod: Long = RollingHashMin.DefaultMod
) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_fingerprint"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val r = RollingHashMin.minHash(s, window, base, mod)
    if (r < 0) null else java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val minV = ctx.freshName("minV")
      val i = ctx.freshName("i")
      val lead = ctx.freshName("lead")
      // lead = B^(w-1) mod M, precomputed once per partition.
      val leadVal = RollingHashMin.powMod(base, window - 1, mod)
      s"""
         |String $s = $c.toString();
         |int $n = $s.length();
         |if ($n < $window) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $lead = ${leadVal}L;
         |  long $h = 0L;
         |  for (int $i = 0; $i < $window; $i++) {
         |    $h = ($h * ${base}L + (long) $s.charAt($i)) % ${mod}L;
         |  }
         |  long $minV = $h;
         |  for (int $i = $window; $i < $n; $i++) {
         |    $h = ($h - ((long) $s.charAt($i - $window)) * $lead) % ${mod}L;
         |    if ($h < 0) $h += ${mod}L;
         |    $h = ($h * ${base}L + (long) $s.charAt($i)) % ${mod}L;
         |    if ($h < $minV) $minV = $h;
         |  }
         |  ${ev.value} = $minV;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashMin {
  val DefaultWindow = 8
  val DefaultBase = 31L
  val DefaultMod = 1000003L // prime; keeps every term < 2^31, sums < 2^34

  def powMod(b: Long, e: Int, m: Long): Long = {
    var r = 1L
    var i = 0
    while (i < e) { r = (r * b) % m; i += 1 }
    r
  }

  /** Interpreted twin of the codegen loop. Returns -1 when the string is
    * shorter than the window (expression surfaces that as null). */
  def minHash(s: String, window: Int, base: Long, mod: Long): Long = {
    val n = s.length
    if (n < window) return -1L
    val lead = powMod(base, window - 1, mod)
    var h = 0L
    var i = 0
    while (i < window) { h = (h * base + s.charAt(i)) % mod; i += 1 }
    var min = h
    i = window
    while (i < n) {
      h = (h - s.charAt(i - window) * lead) % mod
      if (h < 0) h += mod
      h = (h * base + s.charAt(i)) % mod
      if (h < min) min = h
      i += 1
    }
    min
  }
}
