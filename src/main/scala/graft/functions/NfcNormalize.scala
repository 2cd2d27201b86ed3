package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression — the
  * canonical-composition pass every text-dedup pipeline needs BEFORE
  * hashing: a decomposed "é" (e + U+0301) and a composed "é" (U+00E9)
  * are byte-different, so exact dedup, shingle hashing, and equality
  * joins silently treat identical text as distinct until normalized.
  * `java.text.Normalizer` (ICU-equivalent for canonical forms, ships in
  * the JDK) does the composition; the expression stays inside
  * whole-stage codegen as a single static call, no UDF serialization
  * and no Row boxing on the scan path.
  *
  * NFC (not NFKC) deliberately: canonical composition is lossless and
  * idempotent — compatibility folding (ligatures, fullwidth forms)
  * changes CONTENT and belongs to an explicit cleaning stage, not a
  * default normalization.
  *
  * Null in → null out. Registered as `graft_nfc` for SQL text;
  * `TextStats.nfcNormalize` builds it directly. Parity with a Normalizer
  * UDF is asserted in NfcSpec.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires a string argument, got $t")
  }

  override def dataType: DataType = child.dataType

  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "UTF8String.fromString(java.text.Normalizer.normalize(" +
        s"$c.toString(), java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}
