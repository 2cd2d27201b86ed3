package graft.pipebench

import java.nio.file.Paths

import graft.llm.{Components, Dedup, Similarity, TextStats}
import graft.streaming.{EventStream, IndexedIngestDedup, VectorIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest against standing persisted indexes. Set-up builds the
  * LSH index over the base corpus and the IVF-PQ index over the base
  * vectors, and stages the vector and delete micro-batch files. Each pass
  * quality-gates the arriving documents and stages them one file per
  * micro-batch, finds the near-duplicate pairs within the arrival with
  * MinHash LSH, drains the document ingest loop (probe, publish pairs,
  * append survivors), clusters the published pairs, drains the vector
  * maintenance stream and the delete stream, then probes the maintained
  * index.
  *
  * The check: the gate keeps exactly the documents the generator's copy
  * of the gate keeps, survivors are exactly the unflagged kept deltas,
  * every pair lands in one cluster, the tombstone count is exact, no
  * deleted id is served, and (at the end of the run) every pass's
  * published pairs and arrival pairs are subsets of the exact Jaccard
  * pairs with a recall floor.
  */
final class IndexIngest(spark: SparkSession, in: String, t: Trace) extends Workload {
  import IndexIngest._
  import Workload.save

  private val truth = Json.read(s"$in/truth.json")
  private def num(k: String) = truth(k).asInstanceOf[Number]
  private val threshold = num("threshold").doubleValue
  private val nBatches = num("n_batches").intValue
  private val gate = truth("gate").asInstanceOf[Map[String, Any]]
  private def g(k: String) = gate(k).asInstanceOf[Number]
  private val vecBatches = num("vec_batches").intValue
  private def idList(k: String) = truth(k).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Number].longValue)
  private val DocSchema = "doc_id LONG, text STRING"
  private val VecSchema = "vec_id LONG, embedding ARRAY<FLOAT>"

  private def indexPath(d: String) =
    Similarity.ivfpqIndexPath(s"$d/vcorpus", Nlist, M, Ksub, Iters)

  def setup(d: String): Unit = {
    val base = save(spark.read.schema(DocSchema).json(s"$in/base.jsonl"), s"$d/base")
    spark.read.schema(s"$DocSchema, batch INT").json(s"$in/delta.jsonl")
      .write.parquet(s"$d/arriving")
    t.span("llm.Dedup.buildLshIndex") {
      Dedup.buildLshIndex(base, s"$d/lsh", 3, NumHashes, Bands)
    }
    spark.read.schema(VecSchema).json(s"$in/vectors.jsonl")
      .write.parquet(s"$d/vcorpus/embeddings.parquet/base")
    t.span("llm.Similarity.loadOrBuildIvfPq") {
      Similarity.loadOrBuildIvfPq(spark, s"$d/vcorpus",
        VectorIngest.readCorpusStore(spark, s"$d/vcorpus"), Nlist, M, Ksub, Iters)
    }
    // one file per micro-batch, mtime-ordered so the file source replays
    // them in batch order
    def stage(kind: String, schema: String, files: Seq[(String, String)]): Unit = {
      java.nio.file.Files.createDirectories(Paths.get(s"$d/stage/$kind"))
      for ((src, name) <- files)
        EventStream.stageOneFile(spark.read.schema(schema).json(src), s"$d/stage/$kind", name)
      EventStream.stampMtimeOrder(files.map { case (_, name) => s"$d/stage/$kind/$name" })
    }
    stage("vec", VecSchema, (0 until vecBatches).map(b => (s"$in/vdelta/v$b.jsonl", s"v$b.parquet")))
    stage("del", "vec_id LONG", Seq((s"$in/deletes.jsonl", "d0.parquet")))
  }

  private def arrival(d: String): DataFrame =
    spark.read.schema(DocSchema).parquet(s"$d/stage/docs")

  private def stream(d: String, kind: String, schema: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(s"$d/stage/$kind")

  def pass(d: String): Unit = {
    val base = spark.read.parquet(s"$d/base")
    t.span("llm.TextStats.qualityGate") {
      val arriving = spark.read.parquet(s"$d/arriving")
      val q = TextStats.qualityGate(arriving, g("min_words").intValue, g("max_words").intValue,
        g("min_ttr").doubleValue, g("max_dup2").doubleValue)
      arriving.join(q.filter(col("keep")).select("doc_id"), "doc_id")
        .repartition(col("batch")).write.partitionBy("batch").parquet(s"$d/gated")
    }
    // one file per micro-batch, mtime-ordered so the file source reads
    // them in batch order
    val staged = (0 until nBatches).map { b =>
      val part = Workload.files(Paths.get(s"$d/gated/batch=$b"))
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      val dst = Paths.get(s"$d/stage/docs/b$b.parquet")
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(part, dst)
      dst.toString
    }
    EventStream.stampMtimeOrder(staged)
    t.span("llm.Dedup.minhashLshPairs") {
      Dedup.minhashLshPairs(arrival(d), 3, NumHashes, Bands, threshold)
        .write.parquet(s"$d/arrival_pairs")
    }
    t.span("streaming.IndexedIngestDedup.ingestLoop") {
      IndexedIngestDedup.ingestLoop(stream(d, "docs", DocSchema), s"$d/lsh", base,
        s"$d/surv", s"$d/pairs", s"$d/chk/ingest", threshold)
    }
    t.span("llm.Components.connectedComponents") {
      val (labels, rounds) = Components.connectedComponentsCounted(
        IndexedIngestDedup.allPairs(spark, s"$d/pairs").select("id1", "id2"))
      iterations = rounds
      save(labels, s"$d/clusters")
    }
    t.span("streaming.VectorIngest.maintainIndexStream") {
      VectorIngest.maintainIndexStream(stream(d, "vec", VecSchema), s"$d/vcorpus",
        s"$d/chk/vec", Nlist, M, Ksub, Iters, MaxDeltaFraction)
    }
    t.span("streaming.VectorIngest.deleteStream") {
      VectorIngest.deleteStream(stream(d, "del", "vec_id LONG"), indexPath(d), s"$d/chk/del")
    }
    val grown = VectorIngest.readCorpusStore(spark, s"$d/vcorpus")
    val index = t.span("llm.Similarity.loadIvfPq") {
      Similarity.loadIvfPq(spark, indexPath(d), grown)
    }
    t.span("llm.Similarity.ivfpqQuery") {
      save(Similarity.ivfpqQuery(index,
        grown.filter(col("vec_id").isin(idList("queries"): _*)), 5, nprobe = 8), s"$d/probe")
    }
  }

  private var iterations = 0
  private val kept = idList("kept_delta").toSet

  // each pass's published pairs and arrival pairs, compared with the
  // oracle at the end of the run, once the JIT has warmed up
  private val publishedBy = collection.mutable.ArrayBuffer.empty[(Int, Set[(Long, Long)], Set[(Long, Long)])]

  override def finish(): Map[Int, Seq[String]] = {
    val nBase = num("n_base").longValue
    // a delta near-duplicate of a base document is always found: the base
    // side is indexed before the first batch arrives
    val wanted = oracle.filter { case (a, b) => a < nBase && b >= nBase }
    val within = oracle.filter { case (a, _) => a >= nBase }
    def compare(what: String, found: Set[(Long, Long)], want: Set[(Long, Long)]): Seq[String] = {
      val f = Seq.newBuilder[String]
      if (!found.subsetOf(oracle))
        f += s"${(found -- oracle).size} $what pairs are not exact Jaccard pairs"
      val recall = if (want.isEmpty) 1.0 else (found & want).size.toDouble / want.size
      if (recall < 0.9) f += f"$what recall $recall%.3f below 0.9"
      f.result()
    }
    publishedBy.map { case (n, published, arrival) =>
      n -> (compare("published", published, wanted) ++ compare("arrival", arrival, within))
    }.toMap
  }

  // the exact pairs among base and gate-passing deltas: the oracle for
  // the published and arrival pairs, built once from the inputs
  private lazy val oracle: Set[(Long, Long)] = {
    val all = spark.read.schema(DocSchema).json(s"$in/base.jsonl")
      .unionByName(spark.read.schema(s"$DocSchema, batch INT").json(s"$in/delta.jsonl")
        .filter(col("doc_id").isin(kept.toSeq: _*)).select("doc_id", "text"))
    pairs(Dedup.jaccardPairs(all, 3, threshold))
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) => (a min b, a max b) }.toSet

  def check(n: Int, d: String, traced: Boolean, since: Long): (Seq[String], Map[String, Double]) = {
    val f = Seq.newBuilder[String]
    val nDelta = num("n_delta").longValue
    val gated = spark.read.parquet(s"$d/stage/docs").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    if (gated != kept)
      f += s"quality gate kept ${gated.size} deltas, truth ${kept.size} " +
        s"(${(gated -- kept).size} extra, ${(kept -- gated).size} missing)"
    val published = pairs(IndexedIngestDedup.allPairs(spark, s"$d/pairs"))
    val arrivalPairs = pairs(spark.read.parquet(s"$d/arrival_pairs"))
    publishedBy += ((n, published, arrivalPairs))
    val flagged = published.map(_._2)
    val survivors = IndexedIngestDedup.survivorsBefore(spark, s"$d/surv",
      org.apache.spark.sql.types.StructType.fromDDL(DocSchema), None)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    if (!flagged.subsetOf(kept) || survivors != kept -- flagged)
      f += s"survivors are not the unflagged kept deltas (${(survivors -- kept).size} not kept, " +
        s"${(survivors & flagged).size} flagged, ${(kept -- flagged -- survivors).size} missing)"
    val label = spark.read.parquet(s"$d/clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (label.keySet != published.flatMap(p => Seq(p._1, p._2)) ||
      published.exists(p => label(p._1) != label(p._2)))
      f += "clusters do not match the published pairs"
    val tombs = Similarity.tombstoneCount(spark, indexPath(d))
    if (tombs != num("n_tombstones").longValue)
      f += s"tombstone count $tombs != ${num("n_tombstones")}"
    val probe = spark.read.parquet(s"$d/probe")
    val served = probe.select("neighbor_id").collect().map(_.getLong(0)).toSet
    val doomed = idList("doomed").toSet
    if (served.exists(doomed)) f += s"${served.count(doomed)} deleted ids served"
    val perQuery = probe.groupBy("query_id").count().collect().map(_.getLong(1))
    if (perQuery.length != idList("queries").size || perQuery.exists(_ != 5))
      f += s"probe answered ${perQuery.length} queries, not all with 5 neighbours"
    val counters =
      if (!traced) Map.empty[String, Double]
      else {
        // the candidate pairs minhashLshPairs verified: ids sharing a band
        val candidates = Dedup.bucketPairs(Dedup.bandedHashes(
          Dedup.minhashSignatures(arrival(d), 3, NumHashes), Bands, NumHashes / Bands))
          .distinct().count().toDouble
        Map(
          "llm.Dedup.candidates" -> candidates,
          "llm.Dedup.verified_frac" -> (if (candidates == 0) 0.0 else arrivalPairs.size / candidates),
          "llm.TextStats.keep_frac" -> gated.size.toDouble / nDelta,
          "llm.Components.iterations" -> iterations.toDouble,
          "streaming.IndexedIngestDedup.survivor_frac" -> survivors.size.toDouble / kept.size,
          "streaming.IndexedIngestDedup.written_mb" ->
            Seq("surv", "pairs", "lsh/bands", "chk/ingest")
              .map(p => Workload.bytesSince(Paths.get(s"$d/$p"), since)).sum / 1e6)
      }
    (f.result(), counters)
  }
}

object IndexIngest {
  private val NumHashes = 64
  private val Bands = 32
  private val Nlist = 16
  private val M = 4
  private val Ksub = 16
  private val Iters = 1
  private val MaxDeltaFraction = 0.3
}
