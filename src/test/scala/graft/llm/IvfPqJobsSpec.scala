package graft.llm

import graft.JobCensus.observe
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The job floor of the persisted IVF-PQ index's serving and upkeep
  * calls. Every table is read with its writer's schema, so loading an
  * index runs one job (the meta row), and an append loads the index once:
  * one read of the meta table per maintenance call.
  */
class IvfPqJobsSpec extends SparkSpec {

  private lazy val embPath = RandomVectors.write(spark)
  private def emb = spark.read.parquet(embPath)

  test("loading a persisted index runs one job, the meta row") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_jobs_").toString + "/idx"
    Similarity.saveIvfPq(Similarity.buildIvfPq(emb, nlist = 16, m = 8, ksub = 16), path)
    val corpus = emb // its schema is inferred here, outside the measured call
    var loaded: Similarity.IvfPqIndex = null
    val seen = observe(spark, path) { loaded = Similarity.loadIvfPq(spark, path, corpus) }
    info(s"loadIvfPq: ${seen.jobs} jobs, scans ${seen.scans}")
    assert(seen.jobs <= 1, s"loadIvfPq ran ${seen.jobs} jobs")
    assert(seen.scans === Seq("/meta"))
    assert(loaded.codes.select("cid").distinct().count() === 500L)
  }

  test("an under-threshold maintenance call loads the index once") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpq_jobs_m_").toString
    emb.filter(col("vec_id") < 420).write.parquet(s"$work/embeddings.parquet")
    val corpus = spark.read.parquet(s"$work/embeddings.parquet")
    val base = corpus.filter(col("vec_id") < 400)
    val delta = corpus.filter(col("vec_id") >= 400)
    val (nlist, m, ksub, iters) = (8, 8, 8, 1)
    val path = Similarity.ivfpqIndexPath(work, nlist, m, ksub, iters)
    Similarity.maintainIvfPq(spark, work, base, base, nlist, m, ksub, iters)
    var merged: Similarity.IvfPqIndex = null
    val seen = observe(spark, path) {
      merged = Similarity.maintainIvfPq(spark, work, delta, corpus,
        nlist, m, ksub, iters, maxDeltaFraction = 0.5)
    }
    info(s"maintainIvfPq (append): ${seen.jobs} jobs, scans ${seen.scans}")
    // the append path ran: 20/400 is appended, not retrained
    assert(math.abs(Similarity.ivfpqDeltaFraction(spark, path) - 0.05) < 1e-9)
    assert(merged.codes.select("cid").distinct().count() === 420L)
    assert(seen.scans.count(_ == "/meta") === 1,
      s"meta read ${seen.scans.count(_ == "/meta")} times: the index was loaded more than once")
    assert(seen.jobs <= 11, s"maintainIvfPq append ran ${seen.jobs} jobs")
  }

  test("a maintenance call on a fresh, tombstoned index reads the codes with their schema") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpq_jobs_t_").toString
    emb.write.parquet(s"$work/embeddings.parquet")
    val corpus = spark.read.parquet(s"$work/embeddings.parquet")
    val (nlist, m, ksub, iters) = (8, 8, 8, 1)
    val path = Similarity.ivfpqIndexPath(work, nlist, m, ksub, iters)
    Similarity.loadOrBuildIvfPq(spark, work, corpus, nlist, m, ksub, iters)
    import spark.implicits._
    Similarity.tombstoneIds(spark, path, Seq(7L).toDF("vec_id")) // 1/500: no compaction
    val empty = corpus.filter(lit(false))
    var served: Similarity.IvfPqIndex = null
    val seen = observe(spark, path) {
      served = Similarity.maintainIvfPq(spark, work, empty, corpus, nlist, m, ksub, iters)
    }
    info(s"maintainIvfPq (fresh, tombstoned): ${seen.jobs} jobs, scans ${seen.scans}")
    // served as it is: the log survives and the id is subtracted
    assert(Similarity.tombstoneCount(spark, path) === 1L)
    assert(served.codes.filter(col("cid") === 7L).isEmpty)
    // measured 8; 9 while the tombstone count read the codes schemaless
    // (one schema-inference job more)
    assert(seen.jobs <= 8, s"maintainIvfPq on a fresh, tombstoned index ran ${seen.jobs} jobs")
  }
}
