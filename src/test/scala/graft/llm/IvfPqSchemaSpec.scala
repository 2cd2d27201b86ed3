package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted index tables are read with the schema their writers fix, not
  * an inferred one. These specs pin the two ways that can go wrong: a
  * declared schema that drifts from what the writer puts on disk (a
  * renamed or retyped column would read as null or fail), and an index
  * written before `n_base` existed, whose meta reads `n_base` as null
  * under the declared schema.
  */
class IvfPqSchemaSpec extends SparkSpec {

  private lazy val embPath = RandomVectors.write(spark)
  private def emb = spark.read.parquet(embPath)

  test("declared schemas equal the inferred schemas of a freshly written index") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_schema_").toString + "/idx"
    Similarity.saveIvfPq(Similarity.buildIvfPq(emb, nlist = 16, m = 8, ksub = 16), path)
    Similarity.tombstoneIds(spark, path, emb.filter(col("vec_id") < 3))
    def inferred(table: String) = spark.read.parquet(table).schema
    val idType = emb.schema("vec_id").dataType
    val expected = Seq(
      "meta" -> Similarity.IvfPqSchema.meta,
      "centroids" -> Similarity.IvfPqSchema.centroids,
      "ucent" -> Similarity.IvfPqSchema.ucent,
      "codebook" -> Similarity.IvfPqSchema.codebook,
      "codes" -> Similarity.IvfPqSchema.codes(idType))
    for ((table, declared) <- expected)
      assert(declared === inferred(s"$path/$table"), s"$table: declared ≠ inferred")
    assert(TombstoneLog.Schema === inferred(s"$path.tombstones"), "tombstone log")

    // the LSH bands table, after a keyed batch append as well as the build
    val lsh = java.nio.file.Files.createTempDirectory("graft_lsh_schema_").toString
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    Dedup.buildLshIndex(docs, lsh, n = 3, numHashes = 16, bands = 4)
    Dedup.appendLshIndexBatch(
      Seq((3L, "completely unrelated words here")).toDF("doc_id", "text"),
      lsh, Dedup.lshBatchKey(0))
    assert(Dedup.lshBandsSchema("doc_id", docs.schema("doc_id").dataType) ===
      inferred(s"$lsh/bands"), "LSH bands")
  }

  test("a meta written before n_base reports no delta share and forces the retrain") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpq_prenbase_").toString
    emb.filter(col("vec_id") < 420).write.parquet(s"$work/embeddings.parquet")
    val corpus = spark.read.parquet(s"$work/embeddings.parquet")
    val base = corpus.filter(col("vec_id") < 400)
    val (nlist, m, ksub, iters) = (8, 8, 8, 1)
    val path = Similarity.ivfpqIndexPath(work, nlist, m, ksub, iters)
    Similarity.maintainIvfPq(spark, work, base, base, nlist, m, ksub, iters)
    def meta = spark.read.parquet(s"$path/meta")
    assert(meta.columns.contains("n_base"))

    // the meta of an index saved before n_base existed
    import spark.implicits._
    val sub = meta.select("sub").as[Int].head()
    Seq((m, sub)).toDF("m", "sub").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    assert(!meta.columns.contains("n_base"))
    assert(Similarity.ivfpqDeltaFraction(spark, path) === 0.0)
    assert(!Similarity.ivfpqRetrainDue(spark, path, maxDeltaFraction = 0.0))

    // 20/400 is under the threshold, but with no n_base the share is
    // unknown: maintenance retrains, and the retrain writes n_base again
    val grown = Similarity.maintainIvfPq(spark, work,
      corpus.filter(col("vec_id") >= 400), corpus, nlist, m, ksub, iters,
      maxDeltaFraction = 0.5)
    assert(meta.columns.contains("n_base"), "the append path ran, not the retrain")
    assert(meta.select("n_base").as[Long].head() === 420L)
    assert(grown.codes.select("cid").distinct().count() === 420L)
    assert(Similarity.ivfpqDeltaFraction(spark, path) === 0.0)
  }
}
