package graft.pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in a fresh JVM: bring up the session, set the
  * workload up twice, then run passes back to back — one cold
  * pass, then measured passes for `--seconds` seconds — checking each
  * pass's outputs. Writes every raw number to `--out`;
  * `run.py` turns them into the reported metrics.
  *
  * With `--trace 1` the measured passes alternate untraced and traced,
  * so the run reports its own tracing overhead.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds S
  *             --cores N --trace 0|1 --out FILE
  */
object Main {
  // set-up repetitions per run; set-up time is their median
  val SetupReps = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local(a("cores"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val trace = new Trace(spark)
    val in = a("inputs")
    val w: Workload = a("workload") match {
      case "votes_pipeline" => new VotesPipeline(spark, in, a("work"), trace)
      case "index_ingest" => new IndexIngest(spark, in, trace)
    }
    val passDir = Paths.get(a("work"), "pass")
    val snapshot = Paths.get(a("work"), "setup")

    val traced = a("trace") == "1"
    // set-up is repeated, each time from an empty directory; a traced run
    // traces it too (as passes -1, -2, ...), so index builds show per layer
    val setupS = (1 to SetupReps).map { k =>
      delete(passDir)
      Files.createDirectories(passDir)
      if (traced) trace.begin(-k)
      val t0 = System.nanoTime()
      trace.span("setup") { w.setup(passDir.toString) }
      val s = (System.nanoTime() - t0) / 1e9
      if (traced) trace.end()
      s
    }
    copy(passDir, snapshot)

    // a traced run measures at least three passes, untraced, traced,
    // untraced: a steady warm-up trend cancels out of the comparison of
    // the traced pass with the two around it
    val passes = Passes.run(a("seconds").toDouble, if (traced) 3 else 1) { (n, phase, k) =>
      delete(passDir)
      copy(snapshot, passDir)
      val tracing = traced && phase == "measure" && k % 2 == 1
      Passes.Op(
        begin = () => if (tracing) trace.begin(n),
        body = () => trace.span("pass") { w.pass(passDir.toString) },
        end = () => if (tracing) trace.end() else true,
        check = since => w.check(n, passDir.toString, tracing, since),
        written = since => Workload.bytesSince(passDir, since),
        traced = tracing)
    }

    val late = w.finish()
    val records = passes.map(r => late.get(r.n).filter(_.nonEmpty) match {
      case Some(e) => r.copy(ok = false, wallS = None, errors = r.errors ++ e, writtenBytes = 0L)
      case None => r
    })

    // full GCs with pauses between them: blocks of collected checkpoints
    // and broadcasts are dropped by the context cleaner only after the GC
    // that finds them, so the first reading still holds some; the
    // smallest reading is the live heap
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    val result = Map(
      "session_s" -> sessionS, "setup_work_s" -> setupS,
      "live_heap_mb" -> heapMb, "passes" -> records.map(_.toMap),
      "trace" -> (if (traced) trace.dump() else Map.empty))
    Files.write(Paths.get(a("out")), Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Copy a tree keeping modification times: the indexes stamp their
    * source files by path, length and mtime, and the streams replay
    * their staged files in mtime order. */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}

/** The closed loop: passes back to back on one thread. */
object Passes {
  final case class Op(begin: () => Unit, body: () => Unit, end: () => Boolean,
                      check: Long => (Seq[String], Map[String, Double]),
                      written: Long => Long, traced: Boolean)

  final case class Record(n: Int, phase: String, traced: Boolean, ok: Boolean,
                          wallS: Option[Double], errors: Seq[String],
                          counters: Map[String, Double], gcS: Double, jitS: Double,
                          writtenBytes: Long, drained: Boolean, checkS: Double) {
    def toMap: Map[String, Any] = Map("n" -> n, "phase" -> phase, "traced" -> traced,
      "ok" -> ok, "wall_s" -> wallS.orNull, "errors" -> errors, "counters" -> counters,
      "gc_s" -> gcS, "jit_s" -> jitS, "written_bytes" -> writtenBytes,
      "drained" -> drained, "check_s" -> checkS)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Run one pass. A pass that throws or fails its check is a failed
    * operation: it is recorded with its errors and without a time. */
  def one(n: Int, phase: String, op: Op): Record = {
    op.begin()
    val since = System.currentTimeMillis()
    val (gc0, jit0) = (gcMs(), jitMs())
    val t0 = System.nanoTime()
    val thrown =
      try { op.body(); None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val (gc, jit) = ((gcMs() - gc0) / 1e3, (jitMs() - jit0) / 1e3)
    val drained = op.end()
    val c0 = System.nanoTime()
    val (errors, counters) = thrown match {
      case Some(e) => (Seq(e), Map.empty[String, Double])
      case None =>
        try op.check(since)
        catch { case NonFatal(e) => (Seq(s"check failed: ${e.getClass.getName}: ${e.getMessage}"), Map.empty[String, Double]) }
    }
    val ok = errors.isEmpty
    Record(n, phase, op.traced, ok, if (ok) Some(wall) else None, errors, counters,
      gc, jit, if (ok) op.written(since) else 0L, drained, (System.nanoTime() - c0) / 1e9)
  }

  /** One cold pass, then measured passes until `measureS` seconds have
    * gone by (at least `measured`), timed from the first measured pass's
    * start, checks included. `mk` gets the pass number, the phase and the
    * pass's index within its phase. */
  def run(measureS: Double, measured: Int)(mk: (Int, String, Int) => Op): Seq[Record] = {
    val out = Seq.newBuilder[Record]
    var n = 0
    def phase(name: String, seconds: Double, atLeast: Int): Unit = {
      val t0 = System.nanoTime()
      var k = 0
      while (k < atLeast || (System.nanoTime() - t0) / 1e9 < seconds) {
        out += one(n, name, mk(n, name, k))
        n += 1
        k += 1
      }
    }
    phase("cold", 0, 1)
    phase("measure", measureS, measured)
    out.result()
  }
}
