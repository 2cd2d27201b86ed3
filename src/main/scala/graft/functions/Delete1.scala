package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Symmetric-delete variant kernel (j16 edit-distance join). Static
  * forwarder object so generated code calls
  * `graft.functions.Delete1Kernel.eval(...)`.
  *
  * Contract = the higher-order chain Delete1Spec checks it against (the
  * variant set of [[graft.ops.EditDistanceJoin.ed1Pairs]]):
  * `array_union(array(s), transform(sequence(0, length(s) − 1),
  * i → concat(substr(s, 1, i), substr(s, i + 2, length(s)))))` — the
  * string itself followed by its single-codepoint deletion variants in
  * position order, duplicates dropped at first occurrence (array_union
  * semantics). The HOF form pays an interpreted lambda dispatch per
  * position plus TWO O(position) codepoint seeks per substr — quadratic
  * seek work before the (inherently quadratic) output bytes; the kernel
  * computes the codepoint byte-offset table once and emits each variant
  * as two byte-range copies. Bit-identity is property-tested in
  * Delete1Spec (multi-byte codepoints, duplicate variants, empty and
  * 1-char strings).
  */
object Delete1Kernel {
  def eval(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    if (nChars == 0)
      return new GenericArrayData(Array[AnyRef](text))
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(nChars) = bytes.length
    val out = new java.util.ArrayList[AnyRef](nChars + 1)
    val seen = new java.util.HashSet[UTF8String](nChars * 2)
    out.add(text)
    seen.add(text)
    var p = 0
    while (p < nChars) {
      val cut = offs(p + 1) - offs(p)
      val b = new Array[Byte](bytes.length - cut)
      System.arraycopy(bytes, 0, b, 0, offs(p))
      System.arraycopy(bytes, offs(p + 1), b, offs(p), bytes.length - offs(p + 1))
      val v = UTF8String.fromBytes(b)
      if (seen.add(v)) out.add(v)
      p += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `graft_del1(s)` — s plus its single-codepoint deletion variants,
  * first-occurrence deduped (see [[Delete1Kernel]]). Null → null. */
case class Delete1(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_del1 requires string, got $t")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_del1"

  override protected def nullSafeEval(a: Any): Any =
    Delete1Kernel.eval(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Delete1Kernel.eval($a);")

  override protected def withNewChildInternal(newChild: Expression): Delete1 =
    copy(child = newChild)
}
