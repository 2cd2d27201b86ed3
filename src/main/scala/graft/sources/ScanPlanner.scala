package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The file list a predicate allows, plus what each index contributed —
  * `keptFiles` preserves the caller's path order (deterministic plans).
  */
final case class ScanPlan(keptFiles: Seq[String], totalFiles: Int) {
  def prunedFiles: Int = totalFiles - keptFiles.size
}

/** Footer-stats-driven scan planning (s27) — the composition the three
  * index pieces exist for: given a conjunctive predicate
  * `rangeCol ∈ [lo, hi] AND pointCol IN (keys)`, consult the zone map
  * (s24 — range intersection per row group) and the bloom filters
  * (s25 — point membership per row group) from FOOTER reads alone, emit
  * the file list that can possibly contain matches, and scan only it.
  * Laid out z-ordered / range-clustered (s14), the zone map turns a
  * range predicate into near-perfect file pruning; blooms catch the
  * unclustered point keys min/max can never exclude.
  *
  * Pruning is an OPTIMIZATION, never a filter: a file is dropped only
  * when the indexes PROVE no row can match — a file with no harvestable
  * stats for the range column survives (can't prove absence), a chunk
  * with no bloom answers cannot-rule-out, and the caller re-applies the
  * full predicate on the scan. The one intentional sharpening: a file
  * that does not carry the point column AT ALL is dropped, because a
  * missing column reads as null and null never satisfies IN.
  *
  * The plan is a driver-side manifest — one string per surviving file —
  * which is exactly what a scan is: Spark's own FileSourceScanExec holds
  * the selected file list on the driver. The index CONSULTATION is
  * distributed (footer reads fan over the cluster in [[FooterStats]]);
  * only the per-file verdicts come back.
  */
object ScanPlanner {

  /** Files surviving `column ∈ [lo, hi]` by zone-map intersection. A
    * file prunes only when the verdict is a PROOF: every one of its row
    * groups carries stats for the column (the n_row_groups denominator)
    * and none intersects — a group with no harvestable stats can't be
    * ruled out, so its file survives. */
  private def rangeKeptFrom(zm: DataFrame, groups: DataFrame,
                            paths: Seq[String], column: String,
                            lo: Double, hi: Double): Seq[String] = {
    val stats = zm.filter(col("column_name") === column)
      .groupBy("file")
      .agg(count(lit(1)).as("n_stats"),
        count(when(col("max_val") >= lo && col("min_val") <= hi, 1)).as("n_hit"))
    val verdicts = groups.join(stats, Seq("file"), "left")
      .select(col("file"),
        (coalesce(col("n_stats"), lit(0L)) < col("n_row_groups") ||
          coalesce(col("n_hit"), lit(0L)) > 0).as("kept"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    paths.filter(p => verdicts.getOrElse(name(p), true))
  }

  /** Files surviving `column IN (keys)` by bloom probe: a file is kept
    * iff ANY key might be present in ANY of its row groups. */
  def planPoint(spark: SparkSession, paths: Seq[String], column: String,
                keys: Seq[Long]): Seq[String] =
    keptByProbe(paths, FooterStats.bloomProbeByFile(spark, paths, column, keys))

  /** String-keyed twin of [[planPoint]] — `column IN (string keys)` via
    * [[FooterStats.bloomProbeByFileString]] (writer-matched UTF-8 byte
    * hashing on BINARY string columns; everything else degrades to
    * cannot-rule-out, so pruning stays lossless). */
  def planPointString(spark: SparkSession, paths: Seq[String],
                      column: String, keys: Seq[String]): Seq[String] =
    keptByProbe(paths,
      FooterStats.bloomProbeByFileString(spark, paths, column, keys))

  private def keptByProbe(paths: Seq[String], probe: DataFrame): Seq[String] = {
    val kept = probe.filter(col("might_contain"))
      .select("file").distinct()
      .collect().map(_.getString(0)).toSet
    paths.filter(kept.contains)
  }

  /** Compose: the conjunction keeps the INTERSECTION of each index's
    * survivors. Any leg may be absent; `ranges` takes any number of
    * range predicates — on a z-ordered layout ([[graft.ops.ZOrder]])
    * each interleaved dimension's zone maps are tight simultaneously,
    * so multi-dimension conjunctions prune multiplicatively where a 1-D
    * sort prunes on its sort key alone (asserted in ScanPlannerSpec). */
  def plan(spark: SparkSession, paths: Seq[String],
           point: Option[(String, Seq[Long])] = None,
           ranges: Seq[(String, Double, Double)] = Nil,
           pointString: Option[(String, Seq[String])] = None): ScanPlan = {
    require(paths.nonEmpty, "plan needs at least one parquet path")
    // ONE footer sweep feeds every range leg (zone map + group counts,
    // localCheckpoint'd so legs don't re-read a million footers), and
    // the bloom probe runs only over the files the ranges already kept
    // — per-plan index I/O is two footer passes + blooms on survivors,
    // independent of how many predicates compose.
    val rangeKept =
      if (ranges.isEmpty) paths
      else {
        requireUnambiguousNames(paths)
        val zm = FooterStats.zoneMap(spark, paths).localCheckpoint()
        val groups = FooterStats.fileRowGroupCounts(spark, paths)
          .localCheckpoint()
        ranges.foldLeft(paths) { case (kept, (c, lo, hi)) =>
          if (kept.isEmpty) kept else rangeKeptFrom(zm, groups, kept, c, lo, hi)
        }
      }
    val keptInt = point.fold(rangeKept) { case (c, keys) =>
      if (rangeKept.isEmpty) rangeKept
      else planPoint(spark, rangeKept, c, keys)
    }
    val kept = pointString.fold(keptInt) { case (c, keys) =>
      if (keptInt.isEmpty) keptInt
      else planPointString(spark, keptInt, c, keys)
    }
    ScanPlan(kept, paths.size)
  }

  /** Read exactly the planned files (schema from the survivors; an empty
    * plan resolves the MERGED schema across all original paths with zero
    * rows kept, so downstream projections still resolve even under
    * schema evolution — a first-file-only schema could miss columns
    * later files added). */
  def scan(spark: SparkSession, plan: ScanPlan,
           allPaths: Seq[String]): DataFrame =
    if (plan.keptFiles.nonEmpty) spark.read.parquet(plan.keptFiles: _*)
    else spark.read.option("mergeSchema", "true")
      .parquet(allPaths: _*).limit(0)

  private def name(p: String): String =
    new org.apache.hadoop.fs.Path(p).getName

  /** Zone-map rows identify files by NAME ([[ZoneMapRow.file]]); the plan
    * must hand back full paths, so names must be unambiguous within one
    * planning call (they are for any Spark-written layout — part files
    * carry a job UUID). */
  private def requireUnambiguousNames(paths: Seq[String]): Unit =
    require(paths.map(name).distinct.size == paths.size,
      "duplicate file names across paths — zone-map identity is ambiguous")
}
