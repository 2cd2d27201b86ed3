package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Near-duplicate detection ON INGEST: the streaming form of MinHash-LSH
  * dedup — flag candidate pairs as documents arrive instead of re-running
  * a batch sweep over the whole corpus. The shape a training-data intake
  * pipeline wants: every incoming document is signed and banded
  * STATELESSLY (the per-row signature build — zero shuffle), then each
  * (band, hash) bucket keeps only the DOC IDS it has seen in keyed state;
  * a new arrival emits one candidate pair per stored id in its buckets.
  *
  * State discipline for 100 TB ingest: state holds ids only — never text,
  * never shingles — so a bucket's state is 8 bytes per resident doc, on
  * RocksDB (off-heap, disk-spilling) via [[EventStream.statefulSession]].
  * Exact-Jaccard verification happens DOWNSTREAM against the static
  * corpus store (the same candidates→semi-join→verify stage as batch
  * LSH, `Dedup.verifyJaccardPairs`), so the stream never carries document
  * bodies. A production deployment would add an event-time timeout to
  * retire cold buckets; the demo keeps NoTimeout (bounded corpus).
  */
object IngestDedup {

  /** Streaming candidate pairs (id1 < id2), possibly duplicated across
    * bands/micro-batches — dedup downstream (batch `distinct` after the
    * drain, or streaming dropDuplicates if the consumer is also a
    * stream). Emission is append-mode: a pair appears when its second
    * document arrives.
    */
  def candidatePairs(docs: DataFrame, n: Int, numHashes: Int,
                     bands: Int): Dataset[(Long, Long)] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = Dedup.minhashSignatures(docs, n, numHashes)
    val banded = Dedup.bandedHashes(sig, bands, numHashes / bands)
      .select(col("doc_id"), col("band_idx").cast("int").as("band_idx"),
        col("band_hash"))
      .as[(Long, Int, Long)]
    banded
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state: GroupState[Seq[Long]]) =>
          val seen = state.getOption.getOrElse(Seq.empty)
          val fresh = it.map(_._1).toSeq.distinct.filterNot(seen.toSet)
          val vsOld = for (a <- fresh; b <- seen)
            yield (math.min(a, b), math.max(a, b))
          val vsNew = for {
            i <- fresh.indices; j <- (i + 1) until fresh.size
          } yield (math.min(fresh(i), fresh(j)), math.max(fresh(i), fresh(j)))
          if (fresh.nonEmpty) state.update(seen ++ fresh)
          (vsOld ++ vsNew).iterator
      }
  }
}
