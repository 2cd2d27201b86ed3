package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic tables (see TESTDATA.md).
  * One parquet file per table under `$dir/`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Batch-inferred physical schema for `$dir/$name.parquet`
    * (TIMESTAMP(NANOS) files read as long under the
    * `spark.sql.legacy.parquet.nanosAsLong` setting [[Sessions.local]]
    * fixes). Stream readers MUST derive their schema from this probe
    * rather than hard-coding one: the driver regenerates the testdata
    * between rounds and has already flipped events.ts between
    * TIMESTAMP(NANOS) and timestamp[us] once — a hard-coded LongType
    * schema plus an unconditional div-1000 silently compressed every
    * streaming timestamp 1000×.
    */
  def physicalSchema(spark: SparkSession, dir: String, name: String): StructType =
    spark.read.parquet(s"$dir/$name.parquet").schema

  /** Normalize a `ts` column to TimestampType whatever its physical
    * encoding: raw nanos (long) are truncated to micros — the same ns→µs
    * truncation DuckDB applies — and rebuilt; timestamp[us] files arrive
    * as TIMESTAMP_NTZ and are cast in the UTC session zone (wall-clock
    * preserved; watermarks and stream-stream join conditions reject NTZ
    * event-time columns, so NTZ must not leak past the loader). Shared by
    * the batch loader and every streaming reader so the unit adaptation
    * cannot drift between the two paths.
    */
  def restoreTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    restoreTs(spark.read.parquet(s"$dir/$name.parquet"))
}
