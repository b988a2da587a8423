package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen Expression — the first
  * transform of any web-scale text pipeline (the same logical text
  * arrives as composed `é` from one crawler and decomposed `e`+U+0301
  * from another; every downstream hash-keyed operator — exact dedup,
  * shingles, BPE pre-tokens — silently treats them as distinct unless the
  * corpus is normalized first).
  *
  * Scale shape: stays inside whole-stage codegen with a zero-allocation
  * ASCII fast path — `numBytes == numChars` means every char is
  * single-byte ASCII, which is NFC by definition, and the input buffer is
  * returned as-is. Non-ASCII strings take `Normalizer.isNormalized` (a
  * scan, no allocation for already-NFC text — the overwhelmingly common
  * case) before paying for an actual normalize. Delegating to
  * `java.text.Normalizer` (ICU-equivalent tables shipped with the JDK)
  * instead of hand-rolling composition tables is deliberate: the Unicode
  * composition data is versioned, and the JDK keeps it current.
  *
  * DuckDB oracle twin: `nfc_normalize(text)` (utf8proc). Both implement
  * UAX #15 canonical composition, so results agree on any assigned
  * codepoint sequence. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    if (u.numBytes == u.numChars) u // pure ASCII: NFC by definition
    else {
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      s"""
         |if ($c.numBytes() == $c.numChars()) {
         |  ${ev.value} = $c;
         |} else {
         |  String $s = $c.toString();
         |  if (java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)) {
         |    ${ev.value} = $c;
         |  } else {
         |    ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |      java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
