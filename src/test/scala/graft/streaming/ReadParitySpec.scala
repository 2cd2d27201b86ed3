package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Batch/stream ingest-boundary parity: the streaming readers must see
  * EXACTLY the rows and timestamps the batch loader sees on the same dir.
  *
  * This is the twin discipline (d4b/x4b) applied to the read path. Round 3
  * shipped a silent 1000× timestamp compression because `readEvents`
  * hard-coded a nanos physical schema + unconditional div-1000 while the
  * regenerated events.parquet stored timestamp[us]; batch reads adapted,
  * stream reads didn't, and every absolute-time streaming query (t2, t6)
  * went red. These specs fail on any re-introduction of a physical-type
  * assumption that drifts from what the batch read actually sees.
  */
class ReadParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("events: streamed min/max/count of ts match the batch read exactly") {
    // min/max compare as raw values (works for TIMESTAMP and
    // TIMESTAMP_NTZ alike — whatever the current physical encoding maps
    // to); the span comes out as a day-time interval for the same reason.
    def probe(df: org.apache.spark.sql.DataFrame) =
      df.groupBy().agg(min("ts").as("mn"), max("ts").as("mx"),
        count(lit(1)).as("n"), (max(col("ts")) - min(col("ts"))).as("span"))
    val batch = probe(graft.Tables.t(spark, dir, "events")).head()
    val streamed = EventStream.runToMemory(
      probe(EventStream.readEvents(spark, dir)), "parity_events").head()
    assert(streamed.getAs[Any](0) === batch.getAs[Any](0),
      "stream min(ts) diverged from batch — physical ts unit drift")
    assert(streamed.getAs[Any](1) === batch.getAs[Any](1),
      "stream max(ts) diverged from batch — physical ts unit drift")
    assert(streamed.getLong(2) === batch.getLong(2), "row count diverged")
    // the unit bug compressed 720 h of events into 0.72 h; assert the
    // streamed span is the real one (> 1 day), not a collapsed echo
    val span = streamed.getAs[java.time.Duration](3)
    assert(span.toMillis > 86400000L, s"events span implausibly small: $span")
  }

  test("documents/embeddings: streamed row counts and key sums match batch") {
    for ((table, reader, key) <- Seq(
      ("documents",
        (d: String) => EventStream.readDocuments(spark, d), "doc_id"),
      ("embeddings",
        (d: String) => VectorIngest.readEmbeddings(spark, d), "vec_id"))) {
      val batch = graft.Tables.t(spark, dir, table)
        .agg(count(lit(1)).as("n"), sum(col(key)).as("s")).head()
      val streamed = EventStream.runToMemory(
        reader(dir).groupBy().agg(count(lit(1)).as("n"), sum(col(key)).as("s")),
        s"parity_$table").head()
      assert(streamed.getLong(0) === batch.getLong(0), s"$table count diverged")
      assert(streamed.getLong(1) === batch.getLong(1), s"$table id-sum diverged")
    }
  }
}
