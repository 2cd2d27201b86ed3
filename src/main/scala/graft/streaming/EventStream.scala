package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table: windowed aggregation with
  * watermarks, and stateful sessionization via flatMapGroupsWithState.
  * The reference is batch-only with watermark-column incremental recrawl
  * (SURVEY.md §2.9); this is the streaming-native generalization.
  */
object EventStream {

  /** Session for stateful streaming queries: a clone (own SQLConf, shared
    * SparkContext — nothing concurrent on the parent ever observes these
    * settings) with shuffle partitions scoped to the state volume rather
    * than the scan parallelism, and the RocksDB state store provider —
    * the production backend whose state lives off-heap and spills to
    * disk, so an unbounded key space degrades to disk instead of OOMing
    * the executor (the default HDFS-backed store holds its retained
    * versions — maxBatchesToRetainInMemory, each a full copy of the state
    * map — entirely on heap with no spill path).
    */
  def statefulSession(parent: SparkSession, shufflePartitions: Int = 4): SparkSession = {
    val ss = parent.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss
  }

  /** [[statefulSession]] variant for queries holding TTL state (t24).
    * TTL forces `TimeMode.ProcessingTime`, and in that mode
    * `TransformWithStateExec.shouldRunAnotherBatch` answers `true`
    * unconditionally (eager eviction could always have work to do), so
    * with no-data micro-batches enabled the engine schedules empty
    * cleanup batches in a tight loop forever and `processAllAvailable`
    * never observes `noNewData` — measured at 2000+ empty batches over
    * 7 minutes before hanging was diagnosed. Disabling
    * `noDataMicroBatches` removes only the EAGER eviction pass: expired
    * state is still invisible to every read (`exists()`/`get()`/`keys()`
    * filter by stored expiration timestamp vs the batch timestamp), so
    * this changes when RocksDB space is physically reclaimed, not any
    * observable result.
    */
  def ttlSession(parent: SparkSession, shufflePartitions: Int = 4): SparkSession = {
    val ss = statefulSession(parent, shufflePartitions)
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ss
  }

  /** Streaming source over the events parquet. The file-stream source
    * wants a directory or glob, not a bare file path — a one-element glob
    * (`{events.parquet}`) keeps it pointed at the single table file.
    *
    * The schema comes from a batch probe of the same file
    * ([[graft.Tables.physicalSchema]]) and the ns→µs restoration applies
    * only when `ts` is physically int64 ([[graft.Tables.restoreTs]]) —
    * the stream read MUST see exactly what the batch read sees, whichever
    * physical timestamp encoding the current testdata uses.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.restoreTs(
      spark.readStream.schema(graft.Tables.physicalSchema(spark, dir, "events"))
        .option("basePath", dir)
        .parquet(s"$dir/{events.parquet}"))

  /** Streaming source over the documents parquet — the [[readEvents]]
    * shape for the text corpus (no timestamp column, so no ns/µs
    * restoration applies). Feeds the ingest-time decontamination entry
    * (t28).
    */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(graft.Tables.physicalSchema(spark, dir, "documents"))
      .option("basePath", dir)
      .parquet(s"$dir/{documents.parquet}")

  /** Stage a frame as ONE parquet file at `stage/name` (coalesce to a
    * single part in a scratch dir, copy it in, drop the scratch) — the
    * micro-batch staging primitive behind every maxFilesPerTrigger=1
    * replay test and the t38 ingest entry. One definition: the pattern
    * was drifting across three hand-rolled copies, and its mtime
    * discipline ([[stampMtimeOrder]] runs AFTER all copies) only works
    * if every writer stages the same way.
    */
  def stageOneFile(df: DataFrame, stage: String, name: String): Unit = {
    val tmp = graft.Scratch.dir("graft_stage1_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(stage, name))
    graft.Scratch.drop(tmp) // fully consumed by the copy above
  }

  /** Force a deterministic FileStreamSource processing order over
    * locally-written epoch directories: the source orders files by
    * modification time with unstable tie-breaking, and back-to-back
    * writes can land on ONE mtime (coarse-granularity filesystems) — a
    * tie replayed out of order runs a later epoch first, and its
    * watermark then drops the earlier epoch as late data. Stamps every
    * file under `dirs(i)` with a strictly increasing per-dir mtime; no
    * sleeps (the Thread.sleep(1100) workaround this replaces cost a
    * second per boundary).
    */
  def stampMtimeOrder(dirs: Seq[String]): Unit = {
    val t0 = System.currentTimeMillis() - dirs.size * 2000L
    dirs.zipWithIndex.foreach { case (d, i) =>
      val ft = java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          java.nio.file.Files.setLastModifiedTime(p, ft)
      } finally walk.close()
    }
  }

  /** Tumbling-window counts with a watermark: the canonical streaming agg.
    * Returns the streaming DataFrame; run it with [[runToMemory]].
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Drain a streaming DataFrame into an in-memory table and return the
    * batch result (Trigger-once semantics for tests/verification).
    * Aggregations drain in `complete` mode; joins/projections in `append`.
    */
  def runToMemory(streaming: DataFrame, name: String,
                  mode: String = "complete"): DataFrame = {
    val q = streaming.writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    streaming.sparkSession.table(name)
  }

  /** Late-data dropping (t30), with Spark 4's ACTUAL semantics pinned:
    * the aggregation's late-event filter runs against the watermark of
    * the PREVIOUS batch, so late rows arriving in the very next batch
    * after the watermark advanced are still ACCEPTED (they re-form
    * state and emit — the silent double-emission hazard), and only
    * rows a further batch behind drop. The replay stages three files,
    * one per trigger, mtime-ordered: the on-time bulk, a one-row
    * sentinel burning the lag batch, then everything below
    * min(ts)+15 d. By the late batch, BOTH filter watermarks sit a
    * 15-day gap above every late row — all of them drop, whatever the
    * boundary strictness — so the sink's per-window counts are exactly
    * the batch aggregation of the on-time rows. (The
    * `numRowsDroppedByWatermark` metric undercounts here — part of the
    * filtering happens in an uninstrumented pre-shuffle filter — which
    * is itself worth knowing; LateDataSpec pins the lag and the
    * conservation.) Returns the update-mode sink deduped to final
    * per-window counts, plus the metered drop count.
    */
  def lateDataDrop(parent: SparkSession, dir: String): (DataFrame, Long) = {
    val ss = statefulSession(parent)
    val ev = graft.Tables.t(parent, dir, "events")
    val cutUs = ev.agg(min(unix_micros(col("ts")))).first().getLong(0) +
      15L * 86400L * 1000000L
    val maxUs = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
    val stage = graft.Scratch.dir("graft_t30_")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      stageOneFile(df, stage, name)
    val us = unix_micros(col("ts"))
    writeOne(ev.filter(us >= cutUs && us < maxUs), "0_bulk.parquet")
    writeOne(ev.filter(us === maxUs), "1_sentinel.parquet")
    writeOne(ev.filter(us < cutUs), "2_late.parquet")
    stampMtimeOrder(Seq(s"$stage/0_bulk.parquet",
      s"$stage/1_sentinel.parquet", s"$stage/2_late.parquet"))
    val schema = parent.read.parquet(stage).schema
    val name = s"t30_late_${java.util.UUID.randomUUID().toString.take(8)}"
    val agg = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    q.processAllAvailable()
    val dropped = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    // update mode re-emits a window each batch it changes in — the final
    // count per window is the max (counts only grow)
    val finalCounts = ss.table(name)
      .groupBy(unix_micros(col("window.start")).as("h_start"))
      .agg(max(col("n")).as("n"))
    (finalCounts, dropped)
  }

  /** The state data source (t29): run a stateful streaming aggregation
    * with a checkpoint, then read the checkpoint's STATE STORE back as
    * a batch DataFrame (`format("statestore")`) — Spark 4's ops window
    * into running state, the tool that answers "what is this query
    * holding, per key, right now" at production scale without stopping
    * the stream or instrumenting the job. For a complete-mode keyed
    * count, the final state IS the per-key counts, so the snapshot is
    * exactly the batch replay — which is what makes this entry
    * hash-verifiable rather than a rows-only probe. Reads with the same
    * session config that wrote the state (RocksDB provider).
    * Returns (stateSnapshot, stateMetadata).
    */
  def stateStoreSnapshot(parent: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ss = statefulSession(parent)
    val ckpt = graft.Scratch.dir("graft_t29_ckpt_")
    val name = s"t29_state_${java.util.UUID.randomUUID().toString.take(8)}"
    val agg = readEvents(ss, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val snapshot = ss.read.format("statestore").load(ckpt)
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n"))
    val meta = ss.read.format("state-metadata").load(ckpt)
    (snapshot, meta)
  }

  /** Chained stateful operators in ONE streaming query (t25): a
    * 15-minute windowed count whose APPEND-mode output feeds a second,
    * hourly windowed aggregation downstream — Spark's multiple-stateful-
    * operator support, keyed by `window_time()` (the first window's
    * event-time representative), with the watermark propagating through
    * both state stores. This is the streaming form of a rollup
    * hierarchy: the fine level absorbs the raw event rate, the coarse
    * level sees only one row per finalized fine window — at corpus
    * scale that's the difference between the hourly state store holding
    * events and holding 4 rows per key. Emission near the stream tail
    * depends on append-mode finalization of BOTH levels, so callers
    * must cut to windows comfortably behind the final watermark (the
    * t25 entry and oracle both cut 2 h behind max ts).
    */
  def chainedWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_quarters"))

  /** Streaming observability (t27): `observe()` on a STREAM reports its
    * aggregates once per micro-batch through `StreamingQueryProgress
    * .observedMetrics` — there is no terminal `Observation.get` on an
    * unbounded query, so the pipeline's metrics consumer must fold the
    * per-batch rows itself. All three metrics here are exact integer
    * sums (counts + cents), which are associative, so the fold equals
    * the batch replay bit-for-bit no matter how the source slices
    * batches. The corpus is staged as `nFiles` parquet files and read
    * with `maxFilesPerTrigger=1` precisely so the fold REALLY crosses
    * batches (a single-batch drain would never exercise the
    * accumulation). The stream's "real work" is an append sink; metrics
    * ride the same pass — at production scale a second metrics scan
    * doubles the read bill, same rationale as the batch twin (s22).
    * Returns (n_rows, n_clicks, cents, n_batches_with_data).
    */
  def observedIngestMetrics(parent: SparkSession, dir: String,
                            nFiles: Int = 4): (Long, Long, Long, Long) = {
    val ss = statefulSession(parent)
    val stage = graft.Scratch.dir("graft_t27_")
    graft.Tables.t(parent, dir, "events")
      .repartition(nFiles).write.mode("overwrite").parquet(stage)
    val schema = parent.read.parquet(stage).schema
    val name = s"t27_obs_${java.util.UUID.randomUUID().toString.take(8)}"
    val work = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .filter(col("event_type") =!= "error")
      .observe(name,
        count(lit(1)).as("n_rows"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select("event_id", "event_type")
    val q = work.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable()
    val perBatch = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get(name)))
    q.stop()
    val folded = perBatch.foldLeft((0L, 0L, 0L)) { case ((r, c, v), m) =>
      // an empty micro-batch observes sum(...) as null; counts stay 0
      def nl(x: Any): Long = if (x == null) 0L else x.asInstanceOf[Long]
      (r + nl(m.get(0)), c + nl(m.get(1)), v + nl(m.get(2)))
    }
    require(perBatch.size >= 2,
      s"observed metrics arrived in ${perBatch.size} batch(es) — " +
        "the cross-batch fold was not exercised")
    (folded._1, folded._2, folded._3, perBatch.size.toLong)
  }

  /** Incremental materialized view via foreachBatch: an update-mode
    * streaming aggregation merged into a versioned parquet store with
    * [[graft.ops.Upsert]] on each micro-batch — the streaming analog of
    * the reference's crawl upsert loop (crawl.py:77, crawl.py:115).
    * Update mode emits only the keys whose aggregate changed in the
    * batch, each carrying its complete new value, so the key-wise merge
    * is idempotent and checkpoint replay after failure converges to the
    * same store. Every batch writes a NEW versioned directory and flips a
    * pointer — a reader of version v never races the v+1 write (the
    * snapshot pattern a lakehouse table format provides, without the
    * format). Returns the final materialized store.
    *
    * The aggregation is keyed, not windowed, so its state is
    * proportional to the key cardinality (bounded here); watermarked
    * eviction for time-keyed state is t2/t5's territory.
    */
  def materializedCounts(spark: SparkSession, dir: String,
                         storeRoot: String): DataFrame =
    materialize(
      readEvents(spark, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents")),
      Seq("user_id", "event_type"), storeRoot)

  /** The generic foreachBatch merge loop behind [[materializedCounts]]:
    * drain any update-mode streaming aggregation into a keyed parquet
    * store. Runs with Trigger.AvailableNow and returns the final store.
    */
  def materialize(agg: DataFrame, keys: Seq[String],
                  storeRoot: String): DataFrame = {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    val spark = agg.sparkSession
    val current = new AtomicReference[String](null)
    val ver = new AtomicInteger(0)
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$storeRoot/_chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val existing = Option(current.get()) match {
          case Some(p) => s.read.parquet(p)
          case None => s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        }
        val merged = graft.ops.Upsert(existing, batch.toDF(), keys)
        val next = s"$storeRoot/v${ver.incrementAndGet()}"
        merged.write.mode("overwrite").parquet(next)
        current.set(next)
        ()
      }
      .start()
    q.awaitTermination()
    require(current.get() != null,
      s"no micro-batch ran — stale checkpoint under $storeRoot?")
    spark.read.parquet(current.get())
  }

  /** ONE definition of the click→purchase attribution join body —
    * sides, watermark delay, and the [click, click + window] condition —
    * shared by the inner/left/full variants so a recalibration (e.g. the
    * 1-hour delay) can never desynchronize t6/t17/t20 and the boundary
    * spec's constants.
    */
  private def clickPurchaseJoined(events: DataFrame, windowMinutes: Int,
                                  joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
  }

  /** Watermarked stream-stream inner join: click→purchase attribution
    * within `windowMinutes`. Both sides carry event-time watermarks and the
    * join condition bounds purchase time to [click, click + window], so
    * state for either side is droppable once the other's watermark passes —
    * the join runs with bounded state at any stream length.
    */
  def clickPurchaseJoin(events: DataFrame, windowMinutes: Int): DataFrame =
    clickPurchaseJoined(events, windowMinutes, "inner")

  /** Watermarked stream-stream LEFT OUTER join — the mechanism the inner
    * join ([[clickPurchaseJoin]]) never exercises: an unmatched click
    * emits exactly one null-purchase row at the moment the WATERMARK
    * proves no purchase can still match it (right-side event time would
    * have to exceed click + window, which the watermark has passed) —
    * never earlier (a premature null would be retracted by a late
    * purchase, which append mode cannot do), never twice. Clicks whose
    * expiry the final watermark hasn't reached when the stream drains
    * stay unemitted — the same bounded-state contract as t16's session
    * timeouts, and the t17 oracle replays the boundary in integer
    * millisecond arithmetic.
    */
  def clickPurchaseLeftJoin(events: DataFrame, windowMinutes: Int): DataFrame =
    clickPurchaseJoined(events, windowMinutes, "left_outer")

  /** FULL OUTER watermarked stream-stream join — both null-emission
    * directions: an unmatched click emits once its match window is
    * watermark-closed (as in [[clickPurchaseLeftJoin]]), and an
    * unmatched purchase emits once no FUTURE click could still open a
    * window containing it — its own event time passing the watermark
    * (condition p ∈ [c, c+W] ⇔ c ∈ [p−W, p], so a future click above
    * the watermark can only match purchases still above it too).
    */
  def clickPurchaseFullJoin(events: DataFrame, windowMinutes: Int): DataFrame =
    clickPurchaseJoined(events, windowMinutes, "full_outer")

  final case class TimedSession(user_id: Long, session_start_us: Long,
                                session_end_us: Long, n_events: Long)
  final case class TimedSessState(startUs: Long, lastUs: Long, n: Long)

  /** Gap sessionization with EVENT-TIME TIMEOUTS — the state-eviction
    * mechanism t5/t11 don't exercise: a session closes either because a
    * later event of the same user arrives past the gap (emitted from the
    * data path the moment it is known-closed) or because the WATERMARK
    * passes its end + gap (emitted from the timeout path, state
    * removed). Sessions still open at the final watermark never emit —
    * exactly the bounded-state contract: state lives only until the
    * watermark proves no event can reopen it.
    *
    * Determinism contract for the oracle: timestamps are integer µs;
    * Spark tracks watermarks in FLOORED MILLISECONDS and fires a timeout
    * only when `timeoutTimestamp < watermark` STRICTLY, so the t16
    * oracle replays `(end_us // 1000) + gap_ms < (max_us // 1000) −
    * delay_ms` with integer division — no float, no boundary ambiguity.
    */
  def sessionizeWithTimeout(events: DataFrame, gapMinutes: Int,
                            watermark: String = "1 hour"): Dataset[TimedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[TimedSessState, TimedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, it, state: GroupState[TimedSessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(TimedSession(user, st.startUs, st.lastUs, st.n))
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[TimedSession]
            var st = state.getOption.orNull
            for (u <- it.map(_._3).toArray.sorted) {
              st =
                if (st == null) TimedSessState(u, u, 1L)
                else if (u - st.lastUs > gapUs) {
                  out += TimedSession(user, st.startUs, st.lastUs, st.n)
                  TimedSessState(u, u, 1L)
                } else
                  // min/max merge, not plain append: a cross-batch
                  // OUT-OF-ORDER event (allowed anywhere inside the
                  // watermark delay) may predate lastUs or even startUs —
                  // a naive lastUs=u would move the session end BACKWARDS
                  // and mis-time the timeout. Within the watermark
                  // contract (delay < gap) such an event always belongs
                  // to this session, matching the oracle's globally
                  // sorted islands.
                  TimedSessState(math.min(st.startUs, u),
                    math.max(st.lastUs, u), st.n + 1)
            }
            if (st != null) {
              state.update(st)
              // floor-ms, matching the engine's watermark clock
              state.setTimeoutTimestamp(st.lastUs / 1000 + gapMs)
            }
            out.iterator
          }
      }
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, n_sessions: Long,
                                  longest_session: Long)

  /** Per-key session state: O(1) per user regardless of stream length —
    * the last event time, current run length, and running session stats.
    */
  final case class SessState(lastTs: Long, curRun: Long,
                             nSessions: Long, longest: Long)

  /** Gap-based sessionization with flatMapGroupsWithState: events within
    * `gapMinutes` of each other belong to one session. State is a
    * four-field summary, NOT the event history, so it stays constant-size
    * per key on an unbounded stream. Each batch's events are sorted before
    * folding; across batches the fold assumes event-time order (pair the
    * source with a watermark — out-of-order arrivals older than the last
    * seen stamp would start a spurious session). Works identically in
    * batch mode (one sorted invocation per key), which is how the DuckDB
    * oracle checks it.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[SessState]) =>
          val incoming = it.map(_.ts.getTime).toArray.sorted
          var st = state.getOption.orNull
          for (t <- incoming) {
            st =
              if (st == null) SessState(t, 1L, 1L, 1L)
              else if (t - st.lastTs > gapMs)
                SessState(t, 1L, st.nSessions + 1, st.longest)
              else {
                val run = st.curRun + 1
                SessState(t, run, st.nSessions, math.max(st.longest, run))
              }
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            Iterator(SessionSummary(user, st.nSessions, st.longest))
          }
      }
  }
}
