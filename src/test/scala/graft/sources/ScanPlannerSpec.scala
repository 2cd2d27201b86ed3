package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The s27 composition contract: each index prunes exactly the files it
  * can PROVE empty for its predicate leg, the conjunction keeps the
  * intersection, a pruned scan loses no qualifying row, and the planner
  * degrades to keep-everything when an index has nothing to say.
  */
class ScanPlannerSpec extends SparkSpec {

  import spark.implicits._

  /** 4 files: k clustered ([i*100, i*100+99]); b disjoint per file
    * (i*1000000 + j) with blooms — so the range leg prunes on k and the
    * point leg prunes on b, independently and verifiably.
    */
  private def layout(): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sp_").toString
    (0 until 4).foreach { i =>
      (0 until 100).map(j => (i * 100L + j, i * 1000000L + j, s"v$i-$j"))
        .toDF("k", "b", "v")
        .coalesce(1).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#b", "true")
        .parquet(s"$dir/part$i")
    }
    (0 until 4).flatMap { i =>
      new java.io.File(s"$dir/part$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
  }

  test("range and point legs prune independently; the plan keeps the intersection") {
    val files = layout()
    // range k ∈ [150, 250] → files 1 and 2 can intersect
    val rangeKept = ScanPlanner.plan(spark, files, ranges = Seq(("k", 150.0, 250.0))).keptFiles
    assert(rangeKept.toSet === Set(files(1), files(2)), s"range kept $rangeKept")
    // point b = 2000005 → lives in file 2 only (blooms prove the rest out)
    val pointKept = ScanPlanner.planPoint(spark, files, "b", Seq(2000005L))
    assert(pointKept.contains(files(2)), "the key's home file must survive")
    assert(!pointKept.contains(files(0)) && !pointKept.contains(files(3)),
      s"disjoint-b files must bloom-prune: $pointKept")

    val plan = ScanPlanner.plan(spark, files,
      ranges = Seq(("k", 150.0, 250.0)), point = Some(("b", Seq(2000005L))))
    assert(plan.keptFiles === Seq(files(2)), s"intersection: ${plan.keptFiles}")
    assert(plan.prunedFiles === 3)

    // completeness: the pruned scan + predicate equals the full scan + predicate
    val pred = col("k").between(150, 250) && col("b") === 2000005L
    val pruned = ScanPlanner.scan(spark, plan, files).filter(pred)
      .select("k", "b", "v").collect().map(_.toSeq).toSet
    val full = spark.read.parquet(files: _*).filter(pred)
      .select("k", "b", "v").collect().map(_.toSeq).toSet
    assert(pruned === full)
    assert(pruned.size === 1)
  }

  test("files-read: the planned scan reads fewer files than the table holds") {
    val files = layout()
    val plan = ScanPlanner.plan(spark, files, ranges = Seq(("k", 0.0, 99.0)))
    assert(plan.keptFiles === Seq(files(0)))
    val scanned = ScanPlanner.scan(spark, plan, files)
    scanned.collect()
    assert(scanned.inputFiles.length === 1 && files.length === 4,
      s"scan must read exactly the planned files: ${scanned.inputFiles.toSeq}")
  }

  test("a range column with no harvestable stats cannot prune (keep everything)") {
    val files = layout()
    // v is BINARY — the zone map keeps INT64/DOUBLE only, so the planner
    // has no evidence and must keep every file
    val kept = ScanPlanner.plan(spark, files, ranges = Seq(("v", 0.0, 1.0))).keptFiles
    assert(kept === files, "no stats ⇒ no pruning, never an empty plan")
  }

  test("an all-absent point key can plan to an empty scan that still resolves") {
    val files = layout()
    val plan = ScanPlanner.plan(spark, files, point = Some(("b", Seq(777777777L))))
    // blooms may false-positive a file in, but most must prove out
    assert(plan.keptFiles.size <= 1, s"absent key kept ${plan.keptFiles}")
    val scanned = ScanPlanner.scan(spark, plan, files)
      .filter(col("b") === 777777777L)
    assert(scanned.isEmpty)
    assert(scanned.columns.toSeq === Seq("k", "b", "v"),
      "an empty plan must still resolve the schema")
  }

  test("z-ordered layout prunes multi-dimension ranges where a 1-D sort cannot (the s14 composition)") {
    // 64×64 uniform grid over (a, b); 16 files each way. The z-ordered
    // layout gives every file a tight [min,max] in BOTH dimensions
    // (aligned 16×16 blocks); the a-sorted layout clusters a perfectly
    // and scatters b across every file. Predicate: b ∈ [8, 15], a free.
    val grid = spark.range(4096)
      .select((col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"),
        col("id").as("v"))
    val zdir = java.nio.file.Files.createTempDirectory("graft_sp_z_").toString
    graft.ops.ZOrder.layout(grid, Seq(col("a"), col("b")), bits = 6,
      numPartitions = 16).drop("_z")
      .write.mode("overwrite").parquet(zdir)
    val sdir = java.nio.file.Files.createTempDirectory("graft_sp_s_").toString
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(sdir)
    def files(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val (zf, sf) = (files(zdir), files(sdir))
    assert(zf.size === 16 && sf.size === 16)

    val zPlan = ScanPlanner.plan(spark, zf, ranges = Seq(("b", 8.0, 15.0)))
    val sPlan = ScanPlanner.plan(spark, sf, ranges = Seq(("b", 8.0, 15.0)))
    // z-order: only the b-block row survives; 1-D a-sort: b is scattered,
    // nothing prunes
    assert(zPlan.keptFiles.size === 4, s"z kept ${zPlan.keptFiles.size}")
    assert(sPlan.keptFiles.size === 16, s"a-sorted kept ${sPlan.keptFiles.size}")

    // BOTH dims constrained: multiplicative pruning on z (one block)
    val zBoth = ScanPlanner.plan(spark, zf,
      ranges = Seq(("a", 8.0, 15.0), ("b", 8.0, 15.0)))
    assert(zBoth.keptFiles.size === 1, s"z both-dims kept ${zBoth.keptFiles.size}")
    // completeness on the tightest plan
    val pred = col("a").between(8, 15) && col("b").between(8, 15)
    val got = ScanPlanner.scan(spark, zBoth, zf).filter(pred)
      .agg(count(lit(1)), sum("v")).collect().head
    val want = spark.read.parquet(zf: _*).filter(pred)
      .agg(count(lit(1)), sum("v")).collect().head
    assert(got === want)
    assert(got.getLong(0) === 64L)
  }

  test("a file whose footer carries NO stats for the column survives (lossless denominator)") {
    // the zone map emits rows only where stats EXIST, so "no intersecting
    // row" alone cannot prove a file out — the n_row_groups denominator
    // must keep any file with stats-less groups. Stats-suppressed writes
    // need writer support; self-skip if this parquet version ignores it.
    val dir = java.nio.file.Files.createTempDirectory("graft_sp_ns_").toString
    (0 until 100).map(i => (i.toLong, i)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.column.statistics.enabled#k", "false")
      .parquet(s"$dir/nostats")
    (100 until 200).map(i => (i.toLong, i)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    val files = Seq("nostats", "stats").flatMap { d =>
      new java.io.File(s"$dir/$d").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
    val zm = FooterStats.zoneMap(spark, files)
    val noStatsName = new org.apache.hadoop.fs.Path(files(0)).getName
    assume(zm.filter(col("column_name") === "k" && col("file") === noStatsName)
      .isEmpty, "writer ignored the statistics-suppression option")
    // predicate k ∈ [150, 199]: provably outside the no-stats file's data,
    // but nothing in its FOOTER proves that — it must survive; the
    // stats-carrying file intersects and survives too
    val kept = ScanPlanner.plan(spark, files, ranges = Seq(("k", 150.0, 199.0))).keptFiles
    assert(kept === files,
      s"a stats-less file must never prune (cannot prove absence): $kept")
    // and the inverse range prunes ONLY the provable file
    val kept2 = ScanPlanner.plan(spark, files, ranges = Seq(("k", 500.0, 600.0))).keptFiles
    assert(kept2 === Seq(files(0)),
      s"only the stats-carrying file is provably out: $kept2")
  }

  test("a file not carrying the point column prunes (IN cannot match null)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sp2_").toString
    Seq((1L, 10L)).toDF("k", "b").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#b", "true").parquet(s"$dir/with")
    Seq((2L, "x")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/without")
    val files = Seq("with", "without").flatMap { d =>
      new java.io.File(s"$dir/$d").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
    val kept = ScanPlanner.planPoint(spark, files, "b", Seq(10L))
    assert(kept === Seq(files(0)), s"kept $kept")
  }
}
