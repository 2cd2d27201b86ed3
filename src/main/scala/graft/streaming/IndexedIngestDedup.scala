package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming corpus ingest against a PERSISTED LSH index (t38) — the
  * production loop d18 and t12 each hold half of: t12 re-bands every
  * micro-batch into keyed state (state grows with the corpus, the
  * standing corpus re-signs on every restart); d18 probes+appends a
  * standing parquet index but batch-side only. Here the stream drives
  * the index: each micro-batch (1) probes [[Dedup.incrementalDedupPairs]]
  * against everything indexed so far, (2) publishes its near-dup pairs,
  * (3) appends only its SURVIVORS (documents with no match) to the index
  * and the survivor text store, so later batches — and later RUNS — see
  * them. Per-batch cost tracks the batch; the standing corpus never
  * re-bands.
  *
  * Exactly-once under checkpoint replay, with NO transactional sink:
  * every side effect of batch i is keyed by [[Dedup.lshBatchKey]](i) and
  * written with overwrite semantics (pairs and survivors into their own
  * subdir, index buckets via dynamic partition overwrite of
  * `ingest_batch=batch_i`), and every READ of batch i excludes keys ≥ i
  * (the probe's `beforeBatch` filter, the survivor store's subdir
  * filter). A batch replayed after a crash therefore recomputes from
  * exactly the pre-batch state and rewrites exactly its own outputs —
  * no double-append, no self-match against its own crashed buckets.
  * IndexedIngestDedupSpec forces the replay (deletes the commit marker)
  * and asserts the end state is identical.
  *
  * ID CONTRACT (see [[Dedup.buildLshIndex]]): document ids must be
  * globally unique across the base corpus and every batch. The driver
  * tables' doc_id already is; an ingest feed with per-batch local ids
  * must prefix them (e.g. `batchId * 10^12 + local_id`) in the stream
  * BEFORE this loop.
  *
  * At 100 TB: the index and survivor store are band-/batch-partitioned
  * parquet on shared storage; the probe shuffles only the delta's bands
  * plus the candidate rows; the append is an O(delta) partitioned write.
  * The foreachBatch boundary is where a real deployment swaps the local
  * paths for object-store URIs — nothing else changes.
  */
object IndexedIngestDedup {

  /** Survivor texts from all batches strictly BEFORE `beforeKey` (or all
    * batches when None) — the verify-side text source for ids the index
    * accumulated. Listed via the Hadoop FS so the store can live on any
    * supported filesystem; empty store ⇒ empty frame of `schema`.
    */
  def survivorsBefore(spark: SparkSession, survivorsDir: String,
                      schema: StructType,
                      beforeKey: Option[String]): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(survivorsDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(path)) Array.empty[String]
      else fs.listStatus(path)
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => beforeKey.forall(k => p.getName < k))
        .map(_.toString)
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs.toIndexedSeq: _*)
  }

  /** Run the ingest loop to completion (AvailableNow) over a streaming
    * document frame. Publishes per-batch near-dup pairs under
    * `$pairsDir/<batchKey>` (id1 = arriving doc, id2 = standing doc,
    * jaccard) and survivor texts under `$survivorsDir/<batchKey>`; the
    * index at `idxPath` must already exist ([[Dedup.buildLshIndex]] over
    * the base corpus). `baseCorpus` is the batch view of the same base
    * corpus (verify-side text for base ids).
    */
  def ingestLoop(delta: DataFrame, idxPath: String, baseCorpus: DataFrame,
                 survivorsDir: String, pairsDir: String, checkpoint: String,
                 threshold: Double,
                 idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val docSchema = StructType(baseCorpus.select(idCol, textCol).schema.fields)
    val q = delta.select(idCol, textCol).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val key = Dedup.lshBatchKey(batchId)
          // Pin the batch: it feeds the probe, the anti-join, and the
          // survivor write — recomputing the source scan 3× is waste.
          val b = batch.toDF().localCheckpoint()
          val standing = baseCorpus.select(idCol, textCol).unionByName(
            survivorsBefore(s, survivorsDir, docSchema, Some(key)))
          val pairs = Dedup.incrementalDedupPairs(idxPath, b, standing,
            threshold, idCol, textCol, beforeBatch = Some(key))
          pairs.write.mode("overwrite").parquet(s"$pairsDir/$key")
          // Survivors from the PUBLISHED pairs (not a recompute) so the
          // appended set is exactly what downstream readers saw flagged;
          // read with the schema just written (no inference job).
          val flagged = s.read.schema(pairs.schema).parquet(s"$pairsDir/$key")
            .select(col("id1").as(idCol)).distinct()
          b.join(flagged, Seq(idCol), "left_anti")
            .select(idCol, textCol)
            .write.mode("overwrite").parquet(s"$survivorsDir/$key")
          Dedup.appendLshIndexBatch(
            s.read.schema(docSchema).parquet(s"$survivorsDir/$key"),
            idxPath, key, idCol, textCol)
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** All published pairs across batches, as (id1, id2, jaccard). */
  def allPairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(pairsDir)

  /** End-to-end staged run for the t38 entry: split `delta` into
    * `nBatches` single-file micro-batches by `batchOf` (staged flat,
    * name- AND mtime-ordered so the file source's processing order is
    * pinned — the t30 staging discipline), build the index over
    * `corpus`, drain the ingest loop, and return every published pair.
    * Fresh scratch root per call: bench reruns rebuild from zero rather
    * than replaying a stale checkpoint.
    */
  def runStaged(parent: SparkSession, corpus: DataFrame, delta: DataFrame,
                batchOf: org.apache.spark.sql.Column, nBatches: Int,
                threshold: Double, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val root = graft.Scratch.dir("graft_t38_")
    val stage = s"$root/stage"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
    for (i <- 0 until nBatches)
      EventStream.stageOneFile(
        delta.where(batchOf === i).select(idCol, textCol), stage, s"b$i.parquet")
    EventStream.stampMtimeOrder((0 until nBatches).map(i => s"$stage/b$i.parquet"))
    Dedup.buildLshIndex(corpus.select(idCol, textCol), s"$root/idx",
      n = 3, numHashes = 64, bands = 32, idCol, textCol)
    val schema = parent.read.parquet(stage).schema
    val stream = parent.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    ingestLoop(stream, s"$root/idx", corpus, s"$root/surv", s"$root/pairs",
      s"$root/chk", threshold, idCol, textCol)
    allPairs(parent, s"$root/pairs")
  }
}
