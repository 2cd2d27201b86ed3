package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Cross-batch lifecycle of [[EventStream.sessionizeWithTimeout]] — the
  * t16 driver entry drains one micro-batch; this spec drives the state
  * machine across batches: a session must close (a) when a later batch
  * brings an event past the gap, and (b) when the watermark passes its
  * end + gap with NO further event — and an open session whose
  * end + gap the watermark has not passed must emit nothing.
  */
class SessionTimeoutSpec extends SparkSpec {

  test("sessions close by later-batch data and by watermark timeout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Timestamp)]
    val base = 1700000000000L // ms
    def ts(offMin: Long) = new Timestamp(base + offMin * 60000L)

    val out = EventStream.sessionizeWithTimeout(
      mem.toDS().toDF("user_id", "ts"), gapMinutes = 240, watermark = "1 hour")
    val q = out.toDF().writeStream
      .format("memory").queryName("t16spec").outputMode("append").start()
    try {
      // batch 1: user 1 session A (2 events, 1 min apart)
      mem.addData((1L, ts(0)), (1L, ts(1)))
      q.processAllAvailable()
      assert(spark.table("t16spec").count() === 0,
        "open session must not emit")

      // batch 2: user 1 again 10h later — session A is now known-closed
      mem.addData((1L, ts(600)))
      q.processAllAvailable()
      val afterData = spark.table("t16spec")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterData === Set((1L, base * 1000L, (base + 60000L) * 1000L, 2L)),
        s"session A should close via the data path: $afterData")

      // batch 3: user 99 far ahead pushes the watermark past session B's
      // end + gap (wm = 30h - 1h = 29h > 10h + 4h) — B times out; user
      // 99's own session stays open (wm never passes ITS end + gap)
      mem.addData((99L, ts(1800)))
      q.processAllAvailable()
      val afterTimeout = spark.table("t16spec")
        .as[(Long, Long, Long, Long)].collect().toSet
      val sessB = (1L, (base + 600 * 60000L) * 1000L,
        (base + 600 * 60000L) * 1000L, 1L)
      assert(afterTimeout === afterData + sessB,
        s"session B should close via timeout, nothing else: $afterTimeout")
      assert(!afterTimeout.exists(_._1 == 99L), "user 99's session is open")
    } finally q.stop()
  }

  test("out-of-order cross-batch event merges by min/max, never regresses the end") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Timestamp)]
    val base = 1700000000000L
    def ts(offMin: Long) = new Timestamp(base + offMin * 60000L)

    val out = EventStream.sessionizeWithTimeout(
      mem.toDS().toDF("user_id", "ts"), gapMinutes = 240, watermark = "1 hour")
    val q = out.toDF().writeStream
      .format("memory").queryName("t16spec_ooo").outputMode("append").start()
    try {
      // batch 1: event at t+60 -> watermark becomes t+0
      mem.addData((1L, ts(60)))
      q.processAllAvailable()
      // batch 2: OUT-OF-ORDER event at t+30 — inside the watermark delay,
      // so it must merge (min start, max end), not move the end backwards
      mem.addData((1L, ts(30)))
      q.processAllAvailable()
      // batch 3: t+286 — 3h46 after the TRUE end (t+60), within the 4h
      // gap: still ONE session. (A regressed end of t+30 would read this
      // as a 4h16 gap and split, emitting an end < start session.)
      mem.addData((1L, ts(286)))
      q.processAllAvailable()
      assert(spark.table("t16spec_ooo").count() === 0,
        "nothing closed yet — a split here means the end regressed")
      // push the watermark far past end + gap -> the single merged
      // session times out
      mem.addData((99L, ts(2000)))
      q.processAllAvailable()
      val got = spark.table("t16spec_ooo")
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = Set((1L, (base + 30 * 60000L) * 1000L,
        (base + 286 * 60000L) * 1000L, 3L))
      assert(got === want, s"expected one merged session: $got")
    } finally q.stop()
  }

  test("replayed epochs: timeout eviction keeps state O(users), closed epochs emit") {
    // R replays of the sf0.001 events table, one file per trigger, on
    // RocksDB. Each replay shifts event time by span + watermark delay +
    // 2·gap, so epoch k+1's watermark passes every epoch-k session end +
    // gap, and restripes user ids, so only timeout eviction removes epoch
    // k's state: state must stay O(users), never O(users × epochs).
    val replicas = 4
    val gapMinutes = 30
    val ss = EventStream.statefulSession(spark)
    val base = graft.Tables.t(ss, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val r = base.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      countDistinct(col("user_id")), max(col("user_id"))).head()
    val (minUs, maxUs, nUsers, userStride) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3) + 1)
    val shift = (maxUs - minUs) + 3600L * 1000000L + 2 * gapMinutes * 60L * 1000000L
    val work = java.nio.file.Files.createTempDirectory("graft_t16_replay_").toString
    val epochs = (0 until replicas).map { k =>
      val d = f"$work%s/events/r$k%03d"
      base.withColumn("ts", timestamp_micros(unix_micros(col("ts")) + lit(k * shift)))
        .withColumn("user_id", col("user_id") + lit(k * userStride))
        .coalesce(1).write.parquet(d)
      d
    }
    EventStream.stampMtimeOrder(epochs)
    val stream = graft.Tables.restoreTs(ss.readStream
      .schema(ss.read.parquet(epochs.head).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/events/r*"))
    val q = EventStream.sessionizeWithTimeout(stream, gapMinutes).toDF().writeStream
      .format("memory").queryName("t16replay").outputMode("append")
      .option("checkpointLocation", s"$work/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val stateRows = q.recentProgress.toSeq
      .filter(p => p.stateOperators.nonEmpty && p.numInputRows > 0)
      .map(_.stateOperators.head.numRowsTotal)
    assert(stateRows.size === replicas, s"one data batch per epoch: $stateRows")
    // even the peak holds at most the live epoch's users plus one
    // not-yet-evicted epoch
    assert(stateRows.max <= 3 * nUsers,
      s"state rows peaked at ${stateRows.max} for $nUsers users: eviction broke")
    assert(stateRows.last <= 2 * nUsers,
      s"final state ${stateRows.last} rows: timed-out sessions not removed")
    // every closed epoch emits every user's sessions (data or timeout
    // path); the final epoch's open sessions never emit
    val sessions = ss.table("t16replay").count()
    assert(sessions >= (replicas - 1) * nUsers,
      s"only $sessions sessions for ${replicas - 1} closed epochs of $nUsers users")
  }
}
