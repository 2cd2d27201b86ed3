package graft.plans

import graft.functions.{BloomContains, CharGrams, Delete1, DotProduct, Fold31, KGramFold31, MinHashSig, NfcNormalize, WordShingles, WordShinglesAll}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extensions, installed via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`, as [[graft.Sessions]]
  * does). They serve SQL text only: the function registrations let SQL
  * (and `DuckDialect`'s `nfc_normalize → graft_nfc` mapping) name the
  * native expressions, and the [[LevenshteinPrefilter]] optimizer rule
  * guards levenshtein thresholds. Library code never probes for them —
  * it builds each kernel expression directly through
  * `org.apache.spark.sql.graft.ColumnBridge`, so it runs the same way on
  * any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_kgram31"),
      new ExpressionInfo(classOf[KGramFold31].getName, "graft_kgram31"),
      (children: Seq[Expression]) => KGramFold31(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => BloomContains(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_chargrams"),
      new ExpressionInfo(classOf[CharGrams].getName, "graft_chargrams"),
      (children: Seq[Expression]) => CharGrams(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_fold31"),
      new ExpressionInfo(classOf[Fold31].getName, "graft_fold31"),
      (children: Seq[Expression]) => Fold31(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles_all"),
      new ExpressionInfo(classOf[WordShinglesAll].getName, "graft_shingles_all"),
      (children: Seq[Expression]) => WordShinglesAll(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSig(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => WordShingles(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_del1"),
      new ExpressionInfo(classOf[Delete1].getName, "graft_del1"),
      (children: Seq[Expression]) => Delete1(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    // free necessary-condition guard for levenshtein thresholds (see rule)
    ext.injectOptimizerRule(_ => new LevenshteinPrefilter)
  }
}
