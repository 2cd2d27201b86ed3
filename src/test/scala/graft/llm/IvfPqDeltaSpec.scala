package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental IVF-PQ maintenance: a delta appended with the frozen model
  * must serve the grown corpus at the recall of a full rebuild, the
  * delta-share retrain trigger must fire exactly when the share crosses
  * its threshold, and the maintain entry point must pick append vs
  * retrain accordingly.
  */
class IvfPqDeltaSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = graft.Tables.t(spark, dir, "embeddings")

  test("appended delta is fully served at rebuilt-index recall") {
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_delta_").toString
    val path = s"$tmp/idx"
    Similarity.saveIvfPq(Similarity.buildIvfPq(base, nlist = 16, m = 8, ksub = 16), path)

    val merged = Similarity.appendIvfPqDelta(spark, path, delta, emb)
    // every grown-corpus vector is in the index, coded m times
    assert(merged.codes.select("cid").distinct().count() === 500L)
    assert(merged.codes.count() === 500L * 8)

    val queries = emb.filter(col("vec_id") % 25 === 0) // both sides of the split
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
    def recall(idx: Similarity.IvfPqIndex) = Similarity.recallAtK(
      Similarity.ivfpqQuery(idx, queries, k = 5, nprobe = 8), exact)
    val mergedRecall = recall(merged)
    val rebuiltRecall = recall(Similarity.buildIvfPq(emb, nlist = 16, m = 8, ksub = 16))
    info(f"recall@5 merged=$mergedRecall%.3f rebuilt=$rebuiltRecall%.3f")
    // the CONTRACT is merged ≡ rebuilt (frozen-model encode serves the
    // delta as well as a retrain would); the absolute level is whatever
    // these params give on this corpus — only sanity-floored
    assert(mergedRecall >= 0.3, f"merged index recall $mergedRecall%.3f degenerate")
    assert(mergedRecall >= rebuiltRecall - 0.1,
      f"merged $mergedRecall%.3f lags rebuilt $rebuiltRecall%.3f by > 0.1")
  }

  test("delta-share trigger: fraction tracks appends, fires past threshold") {
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_frac_").toString
    val path = s"$tmp/idx"
    Similarity.saveIvfPq(Similarity.buildIvfPq(base, nlist = 16, m = 8, ksub = 16), path)
    assert(Similarity.ivfpqDeltaFraction(spark, path) === 0.0)
    assert(!Similarity.ivfpqRetrainDue(spark, path))
    Similarity.appendIvfPqDelta(spark, path, delta, emb)
    val frac = Similarity.ivfpqDeltaFraction(spark, path)
    assert(math.abs(frac - 0.25) < 1e-9, s"100/400 appended, fraction $frac")
    assert(Similarity.ivfpqRetrainDue(spark, path, maxDeltaFraction = 0.2))
    assert(!Similarity.ivfpqRetrainDue(spark, path, maxDeltaFraction = 0.3))
  }

  test("delta-only neighbors reach the same recall floor as base-resident ones") {
    // The 20% retrain trigger guards quantization drift of frozen-model
    // appends; this pins the bound it guards from the QUERY side: plant
    // 5 tight clones of each query vector in the DELTA — every true
    // neighbor delta-resident, none base-resident — and assert the
    // merged index recalls them, i.e. appended vectors are first-class
    // at query time, not placement-frozen stragglers.
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 400)
    val seedsById = base.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val rnd = new scala.util.Random(7)
    def jitter(v: Array[Float], eps: Float) =
      v.map(x => x + (rnd.nextFloat() - 0.5f) * 2 * eps)
    // queries: jittered copies of 10 base seeds, ids outside every corpus
    val queries = (0L until 10L).map(i => (20000L + i, jitter(seedsById(i), 0.05f)))
    // delta: 5 clones per QUERY, an order of magnitude tighter than the
    // query-to-seed gap, so the true top-5 is exactly the clone set
    val delta = queries.flatMap { case (qid, qv) =>
      (0 until 5).map(j => (30000L + (qid - 20000L) * 5 + j, jitter(qv, 0.002f)))
    }
    val queryDf = queries.toDF("vec_id", "embedding")
    val deltaDf = delta.toDF("vec_id", "embedding")
    val grown = base.select("vec_id", "embedding").unionByName(deltaDf)

    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_donly_").toString
    val path = s"$tmp/idx"
    Similarity.saveIvfPq(Similarity.buildIvfPq(base, nlist = 16, m = 8, ksub = 16), path)
    val merged = Similarity.appendIvfPqDelta(spark, path, deltaDf, grown)

    val exact = Similarity.bruteForceTopK(queryDf, grown, k = 5)
    // sanity: the construction worked — every true neighbor IS delta-resident
    assert(exact.filter(col("neighbor_id") < 30000L).count() === 0L,
      "planted clones should be the exact top-5 for every query")
    val r = Similarity.recallAtK(
      Similarity.ivfpqQuery(merged, queryDf, k = 5, nprobe = 8), exact)
    info(f"delta-only-neighbor recall@5 = $r%.3f")
    assert(r >= 0.9, f"delta-resident neighbors under-recalled: $r%.3f " +
      "(frozen-model append is starving fresh vectors)")
  }

  test("maintainIvfPq appends under the threshold, retrains past it") {
    // distinctive params → own (dir, params) directory, no collision with
    // the e7 entry's persisted index
    val (nlist, m, ksub, iters) = (8, 8, 8, 1)
    val path = Similarity.ivfpqIndexPath(dir, nlist, m, ksub, iters)
    val base = emb.filter(col("vec_id") < 400)
    val d1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
    val d2 = emb.filter(col("vec_id") >= 420)

    // no index yet → builds from scratch (share = ∞)
    val idx0 = Similarity.maintainIvfPq(spark, dir, delta = base,
      grownCorpus = base, nlist, m, ksub, iters, maxDeltaFraction = 0.5)
    assert(idx0.codes.select("cid").distinct().count() === 400L)
    assert(Similarity.ivfpqDeltaFraction(spark, path) === 0.0)

    // 20/400 = 5% < 50% → append path
    val grown1 = emb.filter(col("vec_id") < 420)
    val idx1 = Similarity.maintainIvfPq(spark, dir, delta = d1,
      grownCorpus = grown1, nlist, m, ksub, iters, maxDeltaFraction = 0.5)
    assert(idx1.codes.select("cid").distinct().count() === 420L)
    assert(math.abs(Similarity.ivfpqDeltaFraction(spark, path) - 0.05) < 1e-9)

    // (20 + 80)/400 = 25% > 10% → full retrain on the grown corpus,
    // share resets to zero
    val idx2 = Similarity.maintainIvfPq(spark, dir, delta = d2,
      grownCorpus = emb, nlist, m, ksub, iters, maxDeltaFraction = 0.1)
    assert(idx2.codes.select("cid").distinct().count() === 500L)
    assert(Similarity.ivfpqDeltaFraction(spark, path) === 0.0)
  }
}
