package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** All k-gram 31-fold hashes of a code-point array in ONE rolling pass —
  * the fold `h = (h·31 + code) mod 2³¹` over every k-window:
  * output[i] = (Σ_j codes[i+j]·31^(k-1-j)) mod 2³¹ for i in 0..n-k.
  *
  * The higher-order formulation (`transform(sequence(...), i =>
  * aggregate(slice(...)))`) is O(n·k) with a lambda dispatch per element
  * per window; this expression is O(n): the modular rolling identity
  * h' = ((h − c_out·31^(k-1)) · 31 + c_in) mod 2³¹ is EXACT (pure
  * modular arithmetic — unlike a 64-bit wraparound rolling hash, which
  * checked-overflow SQL engines refuse), so the values are bit-identical
  * to the fold the DuckDB oracles replay. Equality with the HOF form is
  * property-tested in `KGramFold31Spec`.
  *
  * Precondition: code points are NON-NEGATIVE, NON-NULL (ASCII/Unicode
  * values — what `TextStats.winnowPortable` feeds it). The fold uses
  * Java's `%` remainder like the HOF form does; for negative inputs the
  * two could disagree, so negative codes are out of contract, and a null
  * element fails LOUDLY (the HOF fold would null the whole window —
  * silently hashing garbage instead would be worse).
  *
  * Null semantics: null if either input is null. k must be a foldable
  * positive integer. Arrays shorter than k produce an EMPTY array (the
  * callers' "no full window" guard then yields their documented zero).
  */
case class KGramFold31(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckFailure("graft_kgram31 requires a literal k")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_kgram31 requires (array<bigint>, int), got $l and $r")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_kgram31"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val k = b.asInstanceOf[Int]
    val n = codes.numElements()
    var j = 0
    while (j < n) {
      if (codes.isNullAt(j)) throw new IllegalArgumentException(
        s"graft_kgram31: null code point at index $j")
      j += 1
    }
    val m = n - k + 1
    if (k < 1 || m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val M = 2147483648L
    var pow = 1L
    var p = 1
    while (p < k) { pow = pow * 31 % M; p += 1 }
    val out = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * 31 + codes.getLong(i)) % M; i += 1 }
    out(0) = h
    i = 1
    while (i < m) {
      h = (h - codes.getLong(i - 1) * pow % M + M) % M
      h = (h * 31 + codes.getLong(i + k - 1)) % M
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val pw = ctx.freshName("pw")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $a.numElements();
         |int $k = $b;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) throw new IllegalArgumentException(
         |    "graft_kgram31: null code point at index " + $i);
         |}
         |int $m = $n - $k + 1;
         |if ($k < 1 || $m <= 0) {
         |  ${ev.value} = new $gad(new long[0]);
         |} else {
         |  long[] $out = new long[$m];
         |  long $pw = 1L;
         |  for (int $i = 1; $i < $k; $i++) $pw = $pw * 31L % 2147483648L;
         |  long $h = 0L;
         |  for (int $i = 0; $i < $k; $i++) {
         |    $h = ($h * 31L + $a.getLong($i)) % 2147483648L;
         |  }
         |  $out[0] = $h;
         |  for (int $i = 1; $i < $m; $i++) {
         |    $h = ($h - $a.getLong($i - 1) * $pw % 2147483648L + 2147483648L)
         |        % 2147483648L;
         |    $h = ($h * 31L + $a.getLong($i + $k - 1)) % 2147483648L;
         |    $out[$i] = $h;
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): KGramFold31 =
    copy(left = newLeft, right = newRight)
}
