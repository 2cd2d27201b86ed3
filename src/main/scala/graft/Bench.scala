package graft

/** Timing main: best-of-3 wall time for every `SparkEntry` query, plus the
  * full-corpus export where its reference corpus is present. The full
  * per-entry JSON line goes to stdout and `bench_last.json`; a capped
  * compact line comes last. A failing entry fails the run: both lines
  * carry `"value": null` and the process exits with status 1.
  */
object Bench {

  /** One entry's outcome: best-of-3 (min, max) seconds or the failure
    * (`ExceptionClass: message`), with GC time and load average. */
  private final case class Entry(name: String, time: Either[String, (Double, Double)],
                                 gcMs: Long, load: Double)

  /** The reference's published vote CSVs, melted by `export_writeall`. */
  private val ExportCorpus = "/root/reference/vote_data"

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
    // best estimate of engine cost, and a noisy-neighbor spike would
    // otherwise be charged to whichever query it landed on. Flag a
    // regression only when this run's min exceeds the previous run's max.
    // optional comma-separated name filter for fast local iteration (no
    // filter → full run); "export_writeall" selects the export entry
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Per-entry JVM GC time and the 1-minute load average sit next to the
    // timings so an inflated run self-diagnoses: high load or outsized
    // gc_ms with a normal spread means the host, not a plan regression.
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
    def timed(name: String)(f: => Unit): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { f; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        val failure = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[bench] $name failed: $failure")
        Left(failure)
      }
    }
    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        def once() = timed(name)(fn(spark, sfDir).count())
        val gc0 = gcMs()
        // stops at the first failure, whose time-to-throw is never reported
        val time = for (a <- once(); b <- once(); c <- once())
          yield (Seq(a, b, c).min, Seq(a, b, c).max)
        Entry(name, time, gcMs() - gc0, loadAvg())
      }
    // Full-corpus export as a named entry (single run — IO-bound, and the
    // golden-byte spec covers correctness): meltAll over the reference's
    // published CSVs → the complete writeAllDistributed dump. Where that
    // corpus is absent the entry is skipped with its reason, not failed.
    val wantExport = only.forall(_.contains("export_writeall"))
    val haveCorpus = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(ExportCorpus))
    val skipped =
      if (wantExport && !haveCorpus)
        Seq("export_writeall" -> s"reference corpus $ExportCorpus is absent")
      else Nil
    val results =
      if (!wantExport || !haveCorpus) queryResults
      else {
        val gc0 = gcMs()
        val time = timed("export_writeall") {
          val long = votes.VoteMatrix.meltAll(spark, ExportCorpus)
          votes.Export.writeAllDistributed(spark, long,
            Scratch.dir("graft_bench_export_"))
        }
        queryResults :+ Entry("export_writeall", time.map(s => (s, s)),
          gcMs() - gc0, loadAvg())
      }
    def jsonMap(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")
    val qs = jsonMap(results.map(e => e.name -> e.time.fold(_ => "null", _._1.toString)))
    val spread = jsonMap(results.map(e =>
      e.name -> e.time.fold(_ => "null", { case (lo, hi) => s"[$lo,$hi]" })))
    val gcJson = jsonMap(results.map(e => e.name -> e.gcMs.toString))
    val loadJson = jsonMap(results.map(e => e.name -> e.load.toString))
    val failures = results.collect { case Entry(k, Left(msg), _, _) => k -> msg }
    val failJson = jsonMap(failures.map { case (k, msg) => k -> jsonStr(msg) })
    val skipJson = jsonMap(skipped.map { case (k, why) => k -> jsonStr(why) })
    // a failed entry has no time, so no total can be reported for the run
    val total =
      if (failures.nonEmpty) None
      else Some(results.map(_.time.fold(_ => 0.0, _._1)).sum)
    val json = s"""{"metric":"total","value":${total.fold("null")(_.toString)},"unit":"sec","queries":$qs,"spread":$spread,"gc_ms":$gcJson,"load":$loadJson,"load_start":$loadStart,"failures":$failJson,"skipped":$skipJson,"sf":${jsonStr(sfDir)}}"""
    println(json)
    // A stdout capture with a tail cap can truncate the per-query map;
    // persist the full line so the per-entry comparison survives however
    // stdout is handled. Path overridable for other checkouts.
    val benchOut = sys.env.getOrElse("GRAFT_BENCH_JSON",
      s"${System.getProperty("user.dir")}/bench_last.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchOut), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    spark.stop()
    // A reader that keeps only a ~2000-char stdout tail (which also holds
    // sbt's trailing "[success] Total time: ..." line) cannot parse the
    // full line above. Emit a second, machine-first line LAST (after
    // spark.stop(), which logs to stderr only) via a pure formatter
    // hard-capped at MaxCompactLen chars (unit-tested in BenchLineSpec):
    // headline metric + capped failures + the 5 slowest entries with
    // rounded gc/load telemetry, full data pointer at bench_last.json.
    // Dropping the other entries is deliberate — the regression rule needs
    // the slow tail, and the full map survives in the written file.
    val slowest = results
      .collect { case Entry(k, Right((v, _)), gc, ld) => (k, v, gc, ld) }
      .sortBy(-_._2)
    println(compactLine(total, results.size, failures.map(_._1), loadStart, slowest, sfDir))
    if (failures.nonEmpty) sys.exit(1)
  }

  /** `s` as a JSON string literal. */
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  /** Hard ceiling for the machine-first stdout line. A ~2000-char stdout
    * tail must also hold sbt's trailing "[success] Total time: ..." line
    * (~70 chars) plus the "[info] " prefix; 1500 leaves comfortable
    * margin. */
  val MaxCompactLen = 1500

  /** Pure formatter for the final compact bench line, the one line a
    * reader of a capped stdout tail can always parse. `total` is None when
    * an entry failed and is written as `"value":null`. Keeps at most 5
    * slowest entries and at most 8 failure names (with a total count),
    * rounds doubles to fixed decimals, and drops entries from the end
    * until the line fits MaxCompactLen — so the invariant holds for any
    * entry-name lengths, not just today's. */
  def compactLine(total: Option[Double], nQueries: Int, failures: Seq[String],
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
      s"""{"metric":"total","value":${total.fold("null")(sec)},"unit":"sec","n_queries":$nQueries,$failJson,"load_start":${ld(loadStart)},"slowest":$slow,"full":"bench_last.json","sf":"$sfDir"}"""
    }
    var keep = slowestAll.take(5)
    while (keep.nonEmpty && line(keep).length > MaxCompactLen) keep = keep.init
    val out = line(keep)
    require(out.length <= MaxCompactLen,
      s"compact bench line is ${out.length} chars > $MaxCompactLen")
    out
  }
}
