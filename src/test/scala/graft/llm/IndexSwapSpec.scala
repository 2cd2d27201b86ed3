package graft.llm

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The failure branch of the rename-aside swap ([[Similarity.swapIn]])
  * that publishes every persisted index: when the staged directory
  * cannot be renamed into place, the call throws, and the served index
  * stays at its path, answers exactly as before, and leaves no aside
  * directory behind. Run with each caller's layout: an IVF-PQ index
  * directory with its `path.old-*` aside (the load-or-build publish),
  * and an LSH index's `bands` table with its `bands_old_*` aside
  * ([[Dedup.compactLshIndex]]).
  */
class IndexSwapSpec extends SparkSpec {

  private def leftovers(parent: String): Seq[String] =
    new java.io.File(parent).listFiles().map(_.getName).toSeq
      .filter(n => n.contains(".old-") || n.startsWith("bands_old_"))

  /** Swap a staging directory that does not exist over `live`, with the
    * served directory moved aside to `aside` meanwhile, and check that
    * `answer` (a load and a probe of the index) is unchanged. */
  private def failedSwapKeepsServing[A](live: String, staging: String,
                                        aside: String)(answer: => A): Unit = {
    val before = answer
    val fs = new Path(live).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(staging)))
    intercept[java.io.IOException] {
      Similarity.swapIn(fs, new Path(staging), new Path(live), Some(new Path(aside)))
    }
    assert(new java.io.File(live).isDirectory, s"served index is gone from $live")
    assert(answer === before, "the served index answers differently after the failed swap")
    assert(leftovers(new java.io.File(live).getParent).isEmpty,
      "an aside directory was left behind")
  }

  test("a failed publish keeps the served IVF-PQ index in place") {
    val emb = spark.read.parquet(RandomVectors.write(spark))
    val tmp = java.nio.file.Files.createTempDirectory("graft_swap_ivfpq_").toString
    val path = s"$tmp/idx"
    Similarity.saveIvfPq(Similarity.buildIvfPq(emb, nlist = 16, m = 8, ksub = 16), path)
    val queries = emb.filter(col("vec_id") < 10)
    failedSwapKeepsServing(path, s"$path.staging-missing", s"$path.old-test") {
      val hits = Similarity.ivfpqQuery(Similarity.loadIvfPq(spark, path, emb),
          queries, k = 5, nprobe = 6)
        .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      assert(hits.nonEmpty)
      hits
    }
  }

  test("a failed compaction keeps the served LSH bands in place") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_swap_lsh_").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    Dedup.buildLshIndex(corpus, path, n = 3, numHashes = 64, bands = 32)
    val probes = Seq(
      (201L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (202L, "one two three four five six seven eight nine ten twelve")
    ).toDF("doc_id", "text")
    failedSwapKeepsServing(s"$path/bands", s"$path/bands_staging_missing",
        s"$path/bands_old_test") {
      val pairs = Dedup.incrementalDedupPairs(path, probes, corpus, threshold = 0.6)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(pairs === Set((201L, 1L), (202L, 2L)))
      pairs
    }
  }
}
