package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession: local master sized by
  * `cores`, shuffle partitions matched to it (not the 200 default — at
  * local scale an oversized shuffle fan-out just burns task overhead),
  * UTC, UI off, and the Graft extensions (SQL names for the native
  * expressions) installed.
  */
object Sessions {
  def local(cores: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // Shuffle-writer fidelity (r13): with R ≤ 200 reduce partitions the
      // default picks BypassMergeSortShuffleWriter, where EVERY map task
      // opens R partition files and then NIO-concatenates them — O(M×R)
      // file creates per exchange. At local[32] that is 32×32 = 1,024
      // file ops per exchange (vs 64 at local[8]) and was measured as the
      // dominant cost of every multi-exchange entry (r13 jstack profile:
      // DiskBlockObjectWriter.initialize + writePartitionedData dominate
      // t38's task time). Production clusters run R > 200, so the bypass
      // path NEVER engages at scale — forcing the sort/serialized writer
      // (one spill file + index per map task, any R) makes local runs
      // take the same code path the 100 TB deployment takes, at O(M)
      // file ops. Value is writer-path selection, not a partition-count
      // tune: correct at every core count and every scale.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Codegen-cache sizing (r13): the index/ingest lifecycle entries run
      // 70–120 jobs each, totalling several hundred distinct whole-stage-
      // codegen units per invocation. The default cache (100 entries, LRU,
      // keyed on generated source) cannot hold one invocation's worth, so
      // every rerun of the same query re-runs janino + C2 JIT for every
      // unit — an r13 jstack profile showed a C2 compiler thread with
      // 10.8 s of CPU inside one 31 s t18 run. The cache key is the
      // generated source (expression ids are erased), so identical plans
      // at ANY data scale share entries; sizing it to hold the working
      // set is a driver-memory/metaspace trade, not a data-size tune.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet reads as long instead of failing the
      // read; Tables.restoreTs turns it back into a timestamp
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-" +
          ProcessHandle.current().pid())
      .withExtensions(new GraftExtensions)
      .getOrCreate()
}
