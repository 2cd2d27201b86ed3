package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class IngestDedupSpec extends SparkSpec {

  import spark.implicits._

  test("candidate pairs emit across micro-batches from bucket state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again and again with many shared shingles in a row"
    val cands = IngestDedup.candidatePairs(docs, n = 3, numHashes = 64, bands = 32)
    val q = cands.toDF("id1", "id2").writeStream
      .format("memory").queryName("t12spec").outputMode("append").start()
    try {
      // batch 1: a lone document — nothing to pair with
      mem.addData((1L, base))
      q.processAllAvailable()
      assert(spark.table("t12spec").count() === 0, "no pair before the second doc")

      // batch 2: a near-dup arrives LATER — the pair must come from state
      mem.addData((2L, base + " tail"), (3L, "entirely different content " +
        "with nothing shared at all beyond plain words"))
      q.processAllAvailable()
      val pairs = spark.table("t12spec").select("id1", "id2")
        .distinct().as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)),
        s"cross-batch near-dup pair missing from $pairs")
      assert(pairs.count(p => p._1 == 3L || p._2 == 3L) <= 2,
        "unrelated doc should rarely bucket-collide")
    } finally q.stop()
  }

  test("pairs within one micro-batch are also emitted, exactly once per bucket") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val base = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val cands = IngestDedup.candidatePairs(docs, n = 3, numHashes = 64, bands = 32)
    val q = cands.toDF("id1", "id2").writeStream
      .format("memory").queryName("t12spec2").outputMode("append").start()
    try {
      mem.addData((10L, base), (11L, base), (12L, base))
      q.processAllAvailable()
      val pairs = spark.table("t12spec2").select("id1", "id2")
        .distinct().as[(Long, Long)].collect().toSet
      assert(pairs === Set((10L, 11L), (10L, 12L), (11L, 12L)),
        s"same-batch trio must yield all three pairs: $pairs")
      // re-arrival of a known id must not re-pair it with itself
      mem.addData((10L, base))
      q.processAllAvailable()
      val again = spark.table("t12spec2").select("id1", "id2")
        .distinct().as[(Long, Long)].collect().toSet
      assert(again === pairs, "replayed id must not create new pairs")
    } finally q.stop()
  }

  test("identical replicas replayed through bucket state stay key-bounded") {
    // R restriped copies of the sf0.001 corpus, one file per trigger, on
    // RocksDB. Every replica's docs land in epoch 0's (band, hash)
    // buckets, so state rows count buckets and must not scale with R.
    val replicas = 3
    val (bands, rowsPerBand) = (8, 2)
    val ss = EventStream.statefulSession(spark)
    val docs = graft.Tables.t(ss, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val nDocs = docs.count()
    val stride = docs.agg(max("doc_id")).head().getLong(0) + 1
    val work = java.nio.file.Files.createTempDirectory("graft_t12_replay_").toString
    val epochs = (0 until replicas).map { k =>
      val d = f"$work%s/docs/r$k%03d"
      docs.withColumn("doc_id", col("doc_id") + lit(k * stride))
        .coalesce(1).write.parquet(d)
      d
    }
    EventStream.stampMtimeOrder(epochs)
    val stream = ss.readStream
      .schema(ss.read.parquet(epochs.head).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/docs/r*")
    val q = IngestDedup.candidatePairs(stream, n = 5,
        numHashes = bands * rowsPerBand, bands = bands)
      .toDF("id1", "id2").writeStream
      .format("noop").outputMode("append")
      .option("checkpointLocation", s"$work/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val prog = q.recentProgress.toSeq
      .filter(p => p.stateOperators.nonEmpty && p.numInputRows > 0)
    assert(prog.size === replicas, s"one data batch per epoch: ${prog.size}")
    val rows = prog.last.stateOperators.head.numRowsTotal
    assert(rows > 0)
    assert(rows <= bands * nDocs,
      s"$rows state rows > ${bands * nDocs} buckets: state is not key-bounded")
    // ids only: resident ids = docs × replicas × bands. The bound is loose
    // (RocksDB reports its block-cache and memtable baseline too), but a
    // state carrying text (~300 B per sf0.001 doc per bucket) or shingle
    // sets would exceed it
    val bytesPerId = prog.last.stateOperators.head.memoryUsedBytes.toDouble /
      (nDocs * replicas * bands)
    assert(bytesPerId <= 256.0,
      f"$bytesPerId%.1f resident bytes per stored id: state carries more than ids")
  }
}
