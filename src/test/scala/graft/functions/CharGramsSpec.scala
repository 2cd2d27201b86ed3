package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.util.Random

/** CharGrams / Fold31 / WordShinglesAll natives must exactly match the
  * higher-order chains they replace (gramPositions' substr windows, the
  * portable simhash token fold, d15's non-distinct word windows) —
  * including multi-byte codepoints and the empty-token edge cases.
  */
class CharGramsSpec extends SparkSpec {

  private def hofGrams(k: Int) = transform(
    sequence(lit(1), length(col("text")) - (k - 1)),
    p => col("text").substr(p, lit(k)))

  // the per-char 31-fold chain graft_fold31 replaces in simhashPortable
  private def hofFold = aggregate(
    transform(sequence(lit(1), length(col("text"))),
      i => ascii(col("text").substr(i, lit(1))).cast("long")),
    lit(0L), (a, c) => (a * 31 + c) % 2147483648L)

  private def hofAll(n: Int) = {
    val words = split(col("text"), " ")
    transform(sequence(lit(0), size(words) - n),
      i => array_join(slice(words, i + 1, lit(n)), " "))
  }

  private val texts = Seq(
    "abcdef", "aaaa", "ab", "abc",
    "héllo wörld", "déjà", "日本語のテキスト",
    "x y  z", " pad ", "a",
    "the quick brown fox jumps over the lazy dog")

  test("graft_chargrams matches the substr-window HOF form") {
    import spark.implicits._
    for (k <- Seq(1, 2, 3, 5)) {
      val rows = texts.toDF("text")
        .where(length(col("text")) >= k)
        .select(col("text"),
          call_function("graft_chargrams", col("text"), lit(k)).as("got"),
          hofGrams(k).as("want"))
        .collect()
      for (r <- rows)
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"k=$k text=${r.getString(0)}")
    }
  }

  test("graft_chargrams on random strings") {
    import spark.implicits._
    val rng = new Random(7)
    val alphabet = "ab é€c "
    val rnd = (0 until 200).map { _ =>
      (0 until rng.nextInt(40)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    val rows = rnd.toDF("text")
      .where(length(col("text")) >= 3)
      .select(call_function("graft_chargrams", col("text"), lit(3)).as("got"),
        hofGrams(3).as("want"))
      .collect()
    for (r <- rows) assert(r.getSeq[String](0) == r.getSeq[String](1))
  }

  test("graft_fold31 matches the per-char ascii fold, empty token included") {
    import spark.implicits._
    val toks = Seq("", "a", "abc", "héllo", "日本", "x y",
      "averyveryverylongtokenwithlotsofchars")
    val rows = toks.toDF("text")
      .select(col("text"),
        call_function("graft_fold31", col("text")).as("got"), hofFold.as("want"))
      .collect()
    for (r <- rows)
      assert(r.getLong(1) == r.getLong(2), s"text='${r.getString(0)}'")
  }

  test("graft_shingles_all matches the non-distinct window HOF form") {
    import spark.implicits._
    val ts = Seq("a b a b a", "x  y z", "one two three four", "a b c")
    for (n <- Seq(1, 2, 3)) {
      val rows = ts.toDF("text")
        .where(size(split(col("text"), " ")) >= n)
        .select(col("text"),
          call_function("graft_shingles_all", col("text"), lit(n)).as("got"),
          hofAll(n).as("want"))
        .collect()
      for (r <- rows)
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n text=${r.getString(0)}")
    }
  }
}
