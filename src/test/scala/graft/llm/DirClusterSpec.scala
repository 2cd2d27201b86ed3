package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dir-clustered dynamic-partition index writes: each write is
  * repartitioned by its target dir alone, so every dir gets exactly one
  * file BY CONSTRUCTION — at any spark.sql.shuffle.partitions — not via
  * AQE happening to coalesce a toy-scale shuffle (a (dir, high-card-key)
  * repartition only looks clustered for that reason). Asserted at 8 AND
  * 32 partitions, for the LSH band layout and the IVF list layout.
  */
class DirClusterSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def partFiles(root: String): Map[String, Int] = {
    val base = new java.io.File(root)
    base.listFiles().filter(_.isDirectory).flatMap { d0 =>
      // band layout nests ingest_batch=…/band_idx=…; IVF lists are flat
      val leaves =
        if (d0.listFiles().exists(_.isDirectory))
          d0.listFiles().filter(_.isDirectory).map(d1 => (s"${d0.getName}/${d1.getName}", d1))
        else Array((d0.getName, d0))
      leaves.map { case (name, d) =>
        name -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }
    }.toMap
  }

  private def withPartitions[A](n: Int)(body: => A): A = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  for (parts <- Seq(8, 32)) {
    test(s"LSH band write: exactly 1 file per band dir at $parts partitions") {
      withPartitions(parts) {
        val docs = graft.Tables.t(spark, dir, "documents").select("doc_id", "text")
        val tmp = java.nio.file.Files.createTempDirectory("graft_dircluster_").toString
        Dedup.buildLshIndex(docs, tmp, n = 3, numHashes = 64, bands = 32)
        val files = partFiles(s"$tmp/bands")
        assert(files.nonEmpty, "no band dirs written")
        assert(files.values.forall(_ == 1),
          s"band dirs exceed 1 file at $parts partitions: " +
            files.filter(_._2 > 1).take(5))
      }
    }

    test(s"IVF list write: exactly 1 file per list dir at $parts partitions") {
      withPartitions(parts) {
        val emb = graft.Tables.t(spark, dir, "embeddings")
        val tmp = java.nio.file.Files.createTempDirectory("graft_dircluster_").toString
        Similarity.saveIvf(Similarity.buildIvf(emb, nlist = 16), s"$tmp/idx")
        val files = partFiles(s"$tmp/idx/lists")
        assert(files.nonEmpty, "no list dirs written")
        assert(files.values.forall(_ == 1),
          s"list dirs exceed 1 file at $parts partitions: " +
            files.filter(_._2 > 1).take(5))
      }
    }
  }
}
