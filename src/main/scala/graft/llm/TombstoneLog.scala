package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ONE retraction-log kernel for every persisted index (LSH bands, IVF
  * lists, IVF-PQ codes): append-only parquet log of deleted ids,
  * subtracted from index tables by a broadcast anti-join before any
  * candidate can form. Extracted so the two index families cannot drift
  * — they previously carried near-verbatim copies, and both copies
  * shared the same latent bug this object fixes:
  *
  * Ids are stored STRING-NORMALIZED, never long-cast. The LSH index's
  * ID CONTRACT explicitly sanctions string-prefixed ids ("batchNo·10¹²
  * + local_id OR a string prefix"); `cast("long")` on such an id is
  * null, a null key never equi-joins, so the delete would count as
  * applied (the log row exists), match nothing, and then be CONSUMED by
  * the next compaction — a permanently lost retraction with no error
  * anywhere, on the takedown path the feature exists for. String
  * equality is exact for longs (canonical decimal form) and identity
  * for strings; rows whose id is null are dropped at write (null
  * deletes nothing).
  */
private[graft] object TombstoneLog {

  /** The log's one column, as [[append]] writes it. Reads declare it, so
    * no read runs a schema-inference job over the log first. */
  val Schema: StructType = StructType.fromDDL("tomb_id STRING")

  def append(path: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).cast("string").as("tomb_id"))
      .filter(col("tomb_id").isNotNull).distinct()
      .coalesce(1).write.mode("append").parquet(path)

  /** The distinct retracted ids, or None when no delete was ever issued
    * (one fs.exists — the common path stays job-free). */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.schema(Schema).parquet(path).distinct())
  }

  def count(spark: SparkSession, path: String): Long =
    read(spark, path).map(_.count()).getOrElse(0L)

  /** Subtract the log from an index-side table keyed by `idCol`.
    * Broadcast anti-join on string-normalized equality; left-side
    * filters (e.g. the probed-list partition filter) still push through
    * a left-anti join, so probe-side pruning survives deletion. */
  def subtract(df: DataFrame, spark: SparkSession, path: String,
               idCol: String): DataFrame =
    read(spark, path) match {
      case None => df
      case Some(tb) =>
        df.join(broadcast(tb),
          df(idCol).cast("string") === tb("tomb_id"), "left_anti")
    }

  def drop(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
