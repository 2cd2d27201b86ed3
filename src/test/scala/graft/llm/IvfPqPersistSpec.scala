package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted IVF-PQ index (e7): on-disk round-trip fidelity, the
  * partition-pruned probe scan, and the completeness marker. The index
  * must be cold-loadable — queries against the loaded index must equal
  * queries against the freshly-trained in-memory one, with the codes scan
  * reading only the probed list partitions.
  */
class IvfPqPersistSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = graft.Tables.t(spark, dir, "embeddings")

  test("persisted index round-trips: loaded-query ≡ fresh-query, pruned scan") {
    val fresh = Similarity.buildIvfPq(emb, nlist = 16, m = 8, ksub = 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_").toString
    val path = s"$tmp/idx"
    assert(!Similarity.indexComplete(spark, path), "no marker before save")
    Similarity.saveIvfPq(fresh, path)
    assert(Similarity.indexComplete(spark, path), "marker present after save")

    val loaded = Similarity.loadIvfPq(spark, path, emb)
    assert(loaded.m === fresh.m && loaded.sub === fresh.sub)

    val queries = emb.filter(col("vec_id") < 10)
    def run(idx: Similarity.IvfPqIndex) =
      Similarity.ivfpqQuery(idx, queries, k = 5, nprobe = 6)
        .select("query_id", "neighbor_id", "rank")
    val a = run(fresh).collect().map(_.toSeq).toSet
    val b = run(loaded).collect().map(_.toSeq).toSet
    assert(a === b, "loaded-index results diverge from fresh-index results")

    // the probe scan must PRUNE: the loaded codes table is partitioned by
    // _cl, and ivfpqQuery filters to the probed labels before anything
    // else touches it — the physical scan carries a partition filter on
    // _cl (reads nprobe/nlist of the index, not all of it)
    // AQE wraps the executed plan, so inspect the formatted explain: the
    // only _cl-partitioned relation is codes, so a non-empty _cl
    // PartitionFilters line IS the codes scan pruning
    val explain = run(loaded).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*_cl".r.findFirstIn(explain).isDefined,
      s"codes scan has no _cl partition filter — probe reads the whole index")
  }

  test("persisted IVF: loaded-query ≡ in-memory ivfTopK, pruned list scan") {
    val queries = emb.filter(col("vec_id") < 10)
    val mem = Similarity.ivfTopK(queries, emb, k = 5, nlist = 16, nprobe = 6)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_spec_").toString
    Similarity.saveIvf(Similarity.buildIvf(emb, nlist = 16), s"$tmp/idx")
    val loaded = Similarity.loadIvf(spark, s"$tmp/idx")
    val q = Similarity.ivfQuery(loaded, emb, queries, k = 5, nprobe = 6)
      .select("query_id", "neighbor_id", "rank")
    assert(q.collect().map(_.toSeq).toSet === mem,
      "persisted-IVF results diverge from the in-memory composite")
    val explain = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*_cl".r.findFirstIn(explain).isDefined,
      "lists scan has no _cl partition filter — probe reads the whole index")
  }

  test("persisted PQ: loaded-query ≡ in-memory pqTopK") {
    val queries = emb.filter(col("vec_id") < 10)
    val mem = Similarity.pqTopK(queries, emb, k = 5, m = 8, ksub = 16)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_spec_").toString
    Similarity.savePq(Similarity.buildPq(emb, m = 8, ksub = 16), s"$tmp/idx")
    val loaded = Similarity.loadPq(spark, s"$tmp/idx")
    assert(loaded.m === 8)
    val got = Similarity.pqQuery(loaded, emb, queries, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    assert(got === mem,
      "persisted-PQ results diverge from the in-memory composite")
  }

  test("loadOrBuild serves the persisted index on the second call") {
    // loadOrBuild computes its own deterministic path (one dir per
    // (source, kind, params)): build once through the public API, then
    // assert the stamped index exists and a second call round-trips
    // identical results by reading the same on-disk artifact.
    val prev = Similarity.ivfpqIndexPath(dir, 16, 8, 16, 2)
    val idx1 = Similarity.loadOrBuildIvfPq(spark, dir, emb, nlist = 16, m = 8, ksub = 16)
    assert(Similarity.indexComplete(spark, prev), s"index not persisted at $prev")
    val idx2 = Similarity.loadOrBuildIvfPq(spark, dir, emb, nlist = 16, m = 8, ksub = 16)
    val queries = emb.filter(col("vec_id") < 10)
    def run(idx: Similarity.IvfPqIndex) =
      Similarity.ivfpqQuery(idx, queries, k = 5, nprobe = 6)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(_.toSeq).toSet
    assert(run(idx1) === run(idx2))
  }

  test("a different corpus from the same dir rebuilds instead of serving stale") {
    // the stamp folds in the corpus plan's semantic hash: a FILTERED
    // corpus over the same embeddings file must not be served the
    // full-corpus index (the r4 footgun), and vice versa
    val full = Similarity.loadOrBuildIvf(spark, dir, emb, nlist = 8)
    val fullAssigned = full.lists.count()
    val half = emb.filter(col("vec_id") % 2 === 0)
    val halfIdx = Similarity.loadOrBuildIvf(spark, dir, half, nlist = 8)
    val halfAssigned = halfIdx.lists.count()
    assert(halfAssigned < fullAssigned,
      s"filtered corpus served the full-corpus index ($halfAssigned rows)")
    // and flipping back rebuilds again rather than serving the half index
    val full2 = Similarity.loadOrBuildIvf(spark, dir, emb, nlist = 8)
    assert(full2.lists.count() === fullAssigned)
  }
}
