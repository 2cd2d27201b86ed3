package graft.functions

import graft.SparkSpec
import graft.llm.TextStats
import org.apache.spark.sql.functions._

/** The graft_nfc native expression against its UDF reference: canonical
  * composition (decomposed e+U+0301 → composed U+00E9), idempotence,
  * null passthrough, bit-identical native/UDF parity, and the
  * codegen path actually engaging (plan shows the expression inside
  * WholeStageCodegen, not a BatchEvalPython/ScalaUDF node).
  */
class NfcSpec extends SparkSpec {

  import spark.implicits._

  private val decomposed = "café" // cafe + combining acute
  private val composed = "caf\u00e9"

  test("composes decomposed sequences; idempotent; null passthrough") {
    val got = Seq(Some(decomposed), Some(composed), None)
      .toDF("s")
      .select(TextStats.nfcNormalize(col("s")).as("n"))
      .as[Option[String]].collect().toList
    assert(got === List(Some(composed), Some(composed), None))
    // idempotent: normalizing the normalized form is the identity
    val twice = Seq(decomposed).toDF("s")
      .select(TextStats.nfcNormalize(TextStats.nfcNormalize(col("s"))))
      .as[String].head()
    assert(twice === composed)
  }

  test("native expression and UDF fallback are bit-identical") {
    val rows = Seq(decomposed, composed, "plain ascii", "",
      "mixed é and é and Å") // + decomposed Å
    val viaNative = rows.toDF("s")
      .select(call_function("graft_nfc", col("s"))).as[String].collect().toList
    val nfcUdf = udf((s: String) =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    val viaUdf = rows.toDF("s")
      .select(nfcUdf(col("s"))).as[String].collect().toList
    assert(viaNative === viaUdf)
  }

  test("the native path runs inside codegen, not as a UDF node") {
    // non-foldable input (range-derived), so the expression survives
    // constant folding into the physical Project
    val df = spark.range(5)
      .select(call_function("graft_nfc",
        concat(lit(decomposed + " "), col("id").cast("string"))).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"),
      s"graft_nfc must not plan as a UDF:\n$plan")
    // the "*(n)" stage prefix is the WholeStageCodegen marker in the
    // compact plan string
    assert(plan.contains("graft_nfc") && plan.contains("*(1) Project"),
      s"expected the native expression inside whole-stage codegen:\n$plan")
    assert(df.as[String].collect().forall(_.startsWith(composed)))
  }

  test("normalization is load-bearing for exact dedup") {
    // byte-different, render-identical strings collapse only after NFC
    val docs = Seq((1L, decomposed), (2L, composed)).toDF("doc_id", "text")
    val rawDistinct = docs.select(col("text")).distinct().count()
    val nfcDistinct = docs.select(TextStats.nfcNormalize(col("text")))
      .distinct().count()
    assert(rawDistinct === 2L && nfcDistinct === 1L)
  }
}
