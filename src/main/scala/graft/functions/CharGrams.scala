package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-gram kernel. Static-forwarder object (no companion class) so
  * generated code can call `graft.functions.CharGramKernel.eval(...)`.
  *
  * Contract = `transform(sequence(1, length(text) − (k−1)),
  * p → substr(text, p, k))`: one k-character gram per codepoint position,
  * in position order (the caller's posexplode index IS the 0-based
  * position). The HOF form pays an interpreted dispatch per position AND
  * an O(p) codepoint seek inside every substr — quadratic in text length;
  * this kernel computes the codepoint byte-offset table once and emits
  * each gram as a byte slice.
  */
object CharGramKernel {
  def eval(text: UTF8String, k: Int): ArrayData = {
    if (k < 1) throw new IllegalArgumentException(
      s"graft_chargrams: k must be >= 1, got $k")
    val nChars = text.numChars()
    val cnt = nChars - k + 1
    if (cnt <= 0) return new GenericArrayData(new Array[Any](0))
    val bytes = text.getBytes
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(nChars) = bytes.length
    val out = new Array[AnyRef](cnt)
    var s = 0
    while (s < cnt) {
      out(s) = UTF8String.fromBytes(bytes, offs(s), offs(s + k) - offs(s))
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_chargrams(text, k)` — every k-character gram of `text` in
  * position order: the native form of the gramPositions window transform
  * (d14/d14b span dedup, x23/x23b novelty, d16/d19 span decontamination).
  * Equality with the HOF form is property-tested in CharGramsSpec,
  * including multi-byte codepoints. Null text → null; texts shorter than
  * k produce an empty array (callers guard with length(text) >= k).
  */
case class CharGrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, IntegerType) =>
        TypeCheckResult.TypeCheckFailure("graft_chargrams requires a literal k")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_chargrams requires (string, int), got $l and $r")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_chargrams"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CharGramKernel.eval(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CharGramKernel.eval($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharGrams =
    copy(left = newLeft, right = newRight)
}

/** Fold31 kernel: h = (h·31 + codepoint) mod 2³¹ over the codepoints of a
  * string — the portable SimHash token hash
  * (the 31-fold of `transform(sequence(1, length(t)), i →
  * ascii(substr(t, i, 1)))`) without the per-character interpreted
  * dispatch and O(i) substr seeks. Folding over zero codepoints yields 0,
  * which is also what the HOF form produces for the empty token (its
  * descending sequence(1,0) emits two ascii('')=0 codes — 0 folds to 0
  * either way; pinned in CharGramsSpec's fold31 tests).
  */
object Fold31Kernel {
  def eval(text: UTF8String): Long = {
    val bytes = text.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val nb = UTF8String.numBytesForFirstByte(bytes(i))
      val cp = codePoint(bytes, i, nb)
      h = (h * 31 + cp) % 2147483648L
      i += nb
    }
    h
  }

  /** Unicode code point of the UTF-8 sequence at `off` (nb bytes) —
    * matching what `ascii(substr(t, i, 1))` evaluates to for that char. */
  private def codePoint(bytes: Array[Byte], off: Int, nb: Int): Long = {
    val b0 = bytes(off) & 0xff
    if (nb == 1) b0
    else {
      var cp = nb match {
        case 2 => b0 & 0x1f
        case 3 => b0 & 0x0f
        case _ => b0 & 0x07
      }
      var j = 1
      while (j < nb) { cp = (cp << 6) | (bytes(off + j) & 0x3f); j += 1 }
      cp
    }
  }
}

/** `graft_fold31(text)` — the portable 31-fold token hash (see
  * [[Fold31Kernel]]); bit-identity with the HOF chain is property-tested
  * in CharGramsSpec ("graft_fold31 matches the per-char ascii fold").
  * Null → null. */
case class Fold31(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_fold31 requires string, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_fold31"

  override protected def nullSafeEval(a: Any): Any =
    Fold31Kernel.eval(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Fold31Kernel.eval($a)")

  override protected def withNewChildInternal(newChild: Expression): Fold31 =
    copy(child = newChild)
}
