package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Locks the t17/t20 eviction boundaries with CRAFTED timestamps sitting
  * exactly ±1 ms around expiry — the sf gates exercise the boundary only
  * with whatever stamps the synthetic data happens to contain; this spec
  * makes the calibrated semantics (floored-ms watermark, strict `<`
  * eviction, min over the two FILTERED sides' maxima) fail loudly if the
  * engine or the join helpers ever drift.
  *
  * Construction: wm lands exactly on T (both sides carry a sentinel pair
  * at T + delay). A click expires iff click_ms + window < T; a purchase
  * (full-outer) expires iff purchase_ms < T. One event on each side of
  * each boundary.
  */
class OuterJoinBoundarySpec extends SparkSpec {

  import spark.implicits._

  private val delayMs = 3600000L // the helpers' 1-hour watermark
  private val windowMs = 600000L // 10-minute join window
  private val T = 1705752000000L // 2024-01-20 12:00:00 UTC — wm target

  /** (event_id, ms, user, type) rows → a tmp dir shaped like the
    * testdata (events.parquet), read back through the REAL stream reader.
    */
  private def eventsDir(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ojb_").toString
    rows.toDF("event_id", "ms", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_millis(ms)").as("ts"),
        col("user_id"), col("event_type"), lit(0.0).as("value"),
        lit("").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private val rows = Seq(
    // sentinels: one matching pair at T + delay on BOTH sides, so each
    // filtered side's max is T + delay and wm = T exactly
    (900L, T + delayMs, 999L, "click"),
    (901L, T + delayMs, 999L, "purchase"),
    // clicks with no purchase: expiry = c + window vs T
    (1L, T - windowMs - 1, 1L, "click"), // expiry T−1 < T  → null EMITTED
    (2L, T - windowMs, 1L, "click"),     // expiry T, not < T → withheld
    // purchases with no click (user 2): own time vs T
    (3L, T - 1, 2L, "purchase"),         // T−1 < T → null EMITTED
    (4L, T, 2L, "purchase"))             // T, not < T → withheld

  // one shared write: both tests only read the immutable crafted table
  private lazy val dir = eventsDir(rows)

  test("left-outer: click-null emission is strict ms-floored watermark eviction") {
    val ss = EventStream.statefulSession(spark)
    val out = EventStream.runToMemory(
      EventStream.clickPurchaseLeftJoin(EventStream.readEvents(ss, dir), 10),
      "ojb_left", mode = "append")
    val nullClicks = out.filter(col("p_id").isNull)
      .select("c_id").as[Long].collect().toSet
    assert(nullClicks === Set(1L),
      s"exactly the click 1 ms past expiry must emit null, got $nullClicks")
    val pairs = out.filter(col("p_id").isNotNull)
      .select("c_id", "p_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((900L, 901L)), s"sentinel pair only, got $pairs")
  }

  test("full-outer adds the purchase direction: own-time strict eviction") {
    val ss = EventStream.statefulSession(spark)
    val out = EventStream.runToMemory(
      EventStream.clickPurchaseFullJoin(EventStream.readEvents(ss, dir), 10),
      "ojb_full", mode = "append")
    val nullClicks = out.filter(col("c_id").isNotNull && col("p_id").isNull)
      .select("c_id").as[Long].collect().toSet
    val nullPurchases = out.filter(col("c_id").isNull && col("p_id").isNotNull)
      .select("p_id").as[Long].collect().toSet
    assert(nullClicks === Set(1L), s"click boundary drifted: $nullClicks")
    assert(nullPurchases === Set(3L), s"purchase boundary drifted: $nullPurchases")
    val pairs = out.filter(col("c_id").isNotNull && col("p_id").isNotNull)
      .select("c_id", "p_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((900L, 901L)), s"sentinel pair only, got $pairs")
  }

  test("replayed epochs: every row emits exactly once, nulls only after their epoch") {
    // R replays of the sf0.001 events table, one file per trigger, event
    // ids restriped so every row names its epoch. Each replay shifts event
    // time by span + delay + window + 1 min, so epoch k+1's watermark
    // passes every epoch-k click's expiry and purchase's own time: both
    // null directions evict between epochs, not once at drain. A one-day
    // window gives the sf0.001 users matched and unmatched rows.
    val replicas = 4
    val windowMinutes = 24 * 60
    val ss = EventStream.statefulSession(spark)
    val base = graft.Tables.t(ss, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val r = base.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      max(col("event_id"))).head()
    val (minUs, maxUs, idStride) = (r.getLong(0), r.getLong(1), r.getLong(2) + 1)
    val shift = (maxUs - minUs) +
      (delayMs + windowMinutes * 60000L + 60000L) * 1000L
    val work = java.nio.file.Files.createTempDirectory("graft_ojb_replay_").toString
    val epochs = (0 until replicas).map { k =>
      val d = f"$work%s/events/r$k%03d"
      base.withColumn("ts", timestamp_micros(unix_micros(col("ts")) + lit(k * shift)))
        .withColumn("event_id", col("event_id") + lit(k * idStride))
        .coalesce(1).write.parquet(d)
      d
    }
    EventStream.stampMtimeOrder(epochs)
    val stream = graft.Tables.restoreTs(ss.readStream
      .schema(ss.read.parquet(epochs.head).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/events/r*"))
    val joined = s"$work/joined"
    val q = EventStream.clickPurchaseFullJoin(stream, windowMinutes).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$work/chk")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        // the batch id rides along so "when did this row emit" is queryable
        b.withColumn("_batch", lit(id)).write.mode("append").parquet(joined)
        ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    val progress = q.recentProgress.toSeq
    // the batch that carried epoch k's rows
    val dataBatch = progress.filter(_.numInputRows > 0).map(_.batchId)
    assert(dataBatch.size === replicas, s"one data batch per epoch: $dataBatch")

    // batch join of one epoch = the per-epoch expectation (epochs are
    // time-disjoint, so the stream repeats it with restriped ids)
    val ep0 = ss.read.parquet(epochs.head)
    val bc = ep0.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
    val bp = ep0.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val bj = bc.join(bp, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      "full_outer").select("c_id", "p_id").as[(Option[Long], Option[Long])].collect()
    val m0 = bj.count { case (c, p) => c.isDefined && p.isDefined }
    val unmatched0 = Map(
      "c_id" -> bj.collect { case (Some(c), None) => c }.toSet,
      "p_id" -> bj.collect { case (None, Some(p)) => p }.toSet)
    assert(m0 > 0 && unmatched0.values.forall(_.nonEmpty),
      s"the epoch needs matched and unmatched rows: $m0 matched, $unmatched0")

    val out = ss.read.parquet(joined).select("c_id", "p_id", "_batch")
      .as[(Option[Long], Option[Long], Long)].collect().toSeq
    // matched pairs: exactly once, every epoch including the last (the
    // data path emits matches at once; no watermark needed)
    val matched = out.collect { case (Some(c), Some(p), _) => (c, p) }
    assert(matched.size === replicas * m0,
      s"${matched.size} matched rows, expected $replicas x $m0")
    assert(matched.distinct.size === matched.size, "a matched pair emitted twice")
    // unmatched rows: exactly once, never in or before their epoch's own
    // data batch (a premature null would be retractable, which append
    // mode forbids), and every epoch the watermark could close emitted in
    // full; only the final epoch's rows past the last watermark may stay
    for ((idCol, rows) <- Seq(
        "c_id" -> out.collect { case (Some(c), None, b) => (c, b) },
        "p_id" -> out.collect { case (None, Some(p), b) => (p, b) })) {
      val ids = rows.map(_._1)
      assert(ids.distinct.size === ids.size, s"an unmatched $idCol emitted twice")
      for ((id, batch) <- rows) {
        val k = (id / idStride).toInt
        assert(batch > dataBatch(k),
          s"epoch-$k unmatched $idCol $id emitted in batch $batch, its own data " +
            s"batch is ${dataBatch(k)}: premature null")
        assert(unmatched0(idCol).contains(id - k * idStride),
          s"unexpected unmatched $idCol $id in epoch $k")
      }
      for (k <- 0 until replicas - 1)
        assert(ids.filter(_ / idStride == k).toSet ===
          unmatched0(idCol).map(_ + k * idStride),
          s"closable epoch $k did not emit all its unmatched ${idCol}s")
    }
    // bounded state, from the engine's own metrics
    val perEpochJoinRows = bc.count() + bp.count()
    val peak = progress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal).max
    assert(peak <= 3 * perEpochJoinRows,
      s"join state peaked at $peak rows for $perEpochJoinRows join rows per epoch")
  }
}
