package graft.pipebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the program, and the Spark
  * events that happen inside them.
  *
  * A span is opened by the calling thread around one public call. Its id
  * rides on the thread's local properties, so every job the call submits
  * (from this thread or from a streaming query it starts, whose thread
  * inherits the properties) carries it. Tasks join their job's span
  * through the stage ids; streaming progress joins through the query id
  * the query's jobs carry. Everything stays in memory and is written
  * once, at the end of the run; `metrics.py` turns it into per-layer
  * numbers.
  *
  * When `on` is false, `span` only runs its body: untraced passes pay no
  * listener and record nothing.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var pass = -1
  private var nextId = 1
  private var on = false

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val querySpan = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  @volatile private var sentinelJob = -1
  @volatile private var sentinelDone = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(SentinelKey) != null)) sentinelJob = e.jobId
      else {
        val query = props.flatMap(p => Option(p.getProperty(QueryIdKey)))
        val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
          .orElse(query.flatMap(q => Option(querySpan.get(q))))
          .getOrElse(0)
        query.foreach(q => if (span != 0) querySpan.putIfAbsent(q, span))
        e.stageIds.foreach(s => stageSpan.put(s, span))
        jobs.add(Map("span" -> span, "job" -> e.jobId, "time" -> e.time,
          "query" -> query.orNull))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == sentinelJob) sentinelDone = true

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks.add(Map(
        "span" -> Option(stageSpan.get(e.stageId)).getOrElse(0),
        "launch" -> info.launchTime, "finish" -> info.finishTime,
        "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
        "gc_ms" -> m.map(_.jvmGCTime).getOrElse(0L),
        "shuffle_write" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "shuffle_read" -> m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        "spill" -> m.map(_.diskBytesSpilled).getOrElse(0L),
        "ok" -> info.successful))
    }

    // streaming progress reaches every SparkListener through the listener
    // bus; a registered StreamingQueryListener measured 70% slower passes
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryProgressEvent =>
        val p = q.progress
        progress.add(Map(
          "query" -> p.id.toString, "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "duration_ms" -> p.batchDuration, "rows" -> p.numInputRows,
          "phases" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      case _ => ()
    }
  }

  /** Trace the passes between `begin` and `end`; `end` waits until the
    * listener bus has delivered every event of the pass. */
  def begin(passNo: Int): Unit = {
    pass = passNo
    on = true
    sc.addSparkListener(listener)
  }

  def end(): Boolean = {
    // one tagged job: the listener queue delivers in order, so once its
    // end arrives every earlier job, task and progress event has too
    sentinelDone = false
    sc.setLocalProperty(SentinelKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(listener)
    on = false
    sentinelDone
  }

  /** Run `body` inside a span named `<layer>.<call>`. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val s = Span(id, parent, name, pass, now())
      spans += s
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.end = now()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Everything recorded, as plain maps for the result file. */
  def dump(): Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "pass" -> s.pass, "start" -> s.start, "end" -> s.end)).toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, pass: Int,
                        start: Double, var end: Double = 0.0)

  val SpanKey = "pipebench.span"
  private val SentinelKey = "pipebench.sentinel"
  // the local property a streaming query's own thread sets on its jobs
  private val QueryIdKey = "sql.streaming.queryId"

  // epoch milliseconds with sub-millisecond resolution, on the same base
  // as the task launch/finish times the listener reports
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}
