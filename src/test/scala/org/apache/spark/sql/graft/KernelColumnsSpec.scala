package org.apache.spark.sql.graft

import _root_.graft.SparkSpec
import _root_.graft.functions.{BloomContains, CharGrams, Delete1, DotProduct, Fold31,
  KGramFold31, MinHashSig, NfcNormalize, WordShingles}
import _root_.graft.llm.{Dedup, Similarity, TextStats}
import _root_.graft.ops.EditDistanceJoin
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ColumnNodeToExpressionConverter
import org.apache.spark.sql.functions.col

/** Library helpers build their native kernels as expressions, not as
  * function-registry lookups: the UNANALYZED trees already hold the
  * kernel nodes, so they plan the same way on any session, with or
  * without `GraftExtensions`' SQL registrations. Lives in the bridge's
  * package for the converter Spark keeps `private[sql]`.
  */
class KernelColumnsSpec extends SparkSpec {

  /** The column's whole Catalyst tree, before analysis. */
  private def tree(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  private def has(e: Expression, kernel: Class[_]): Boolean =
    e.find(x => kernel.isInstance(x)).isDefined

  private def noGraftLookup(e: Expression): Boolean =
    e.find {
      case f: UnresolvedFunction => f.nameParts.last.startsWith("graft_")
      case _ => false
    }.isEmpty

  private def planHas(p: LogicalPlan, kernel: Class[_]): Boolean =
    p.find(_.expressions.exists(has(_, kernel))).isDefined

  test("Column helpers hold their kernel before any analysis") {
    for ((c, kernel) <- Seq(
      Similarity.dot(col("a"), col("b")) -> classOf[DotProduct],
      TextStats.nfcNormalize(col("c")) -> classOf[NfcNormalize],
      TextStats.winnowPortable(col("c"), 4, 5) -> classOf[KGramFold31])) {
      val e = tree(c)
      assert(!e.resolved, s"expected an unanalyzed tree: $e")
      assert(has(e, kernel), s"${kernel.getSimpleName} missing from $e")
      assert(noGraftLookup(e), s"registry lookup left in $e")
    }
  }

  test("DataFrame helpers plan their kernel before any analysis") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown dog"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "quick brown fox")).toDF("doc_id", "text")
    for ((df, kernel) <- Seq(
      Dedup.shingleSets(docs, 2) -> classOf[WordShingles],
      Dedup.minhashSignatures(docs, 2, 4) -> classOf[MinHashSig],
      Dedup.simhashPortable(docs) -> classOf[Fold31],
      Dedup.duplicateSpans(docs, 3, 2) -> classOf[CharGrams],
      Dedup.contaminationBloom(docs, bench, 2, 1L) -> classOf[BloomContains],
      EditDistanceJoin.ed1Pairs(docs, "doc_id", "text") -> classOf[Delete1])) {
      assert(planHas(df.queryExecution.logical, kernel),
        s"${kernel.getSimpleName} missing from\n${df.queryExecution.logical}")
    }
  }
}
