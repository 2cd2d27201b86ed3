package graft.llm

import org.apache.spark.sql.SparkSession

/** A seeded corpus for the persisted-index specs: 500 random
  * 32-dimensional embeddings, ids 0–499, in the `(vec_id, embedding)`
  * layout of the embeddings table.
  */
object RandomVectors {

  /** Write the corpus as a parquet table in a fresh temporary directory
    * and return its path. */
  def write(spark: SparkSession): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val path = java.nio.file.Files.createTempDirectory("graft_vectors_").toString + "/emb"
    (0L until 500L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding").write.parquet(path)
    path
  }
}
