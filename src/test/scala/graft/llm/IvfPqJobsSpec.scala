package graft.llm

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The job floor of the persisted IVF-PQ index's serving and upkeep
  * calls. Every table is read with its writer's schema, so loading an
  * index runs one job (the meta row), and an append loads the index once:
  * one read of the meta table per maintenance call.
  */
class IvfPqJobsSpec extends SparkSpec {

  private lazy val embPath = RandomVectors.write(spark)
  private def emb = spark.read.parquet(embPath)

  private final case class Seen(jobs: Int, scans: Seq[String])

  /** What `body` submitted: its Spark jobs, and the tables under `root`
    * its SQL executions scan. Both listeners hear events in submission
    * order, so everything between a begin and an end marker action
    * belongs to `body`.
    */
  private def observe(root: String)(body: => Unit): Seen = {
    val Begin = "ivfpq-jobs-spec-begin"
    val End = "ivfpq-jobs-spec-end"
    val jobs = new ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val scans = new ConcurrentLinkedQueue[Seq[String]]()
    val qeListener = new QueryExecutionListener {
      private def roots(qe: QueryExecution): Seq[String] =
        qe.analyzed.collect { case l: LogicalRelation => l.relation }.flatMap {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        } ++ qe.analyzed.output.map(_.name).filter(n => n == Begin || n == End)
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = scans.add(roots(qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = scans.add(roots(qe))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).select(lit(1).as(name)).collect()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      marker(Begin)
      body
      marker(End)
      eventually(timeout(30.seconds)) {
        assert(jobs.contains(End) && scans.asScala.exists(_.contains(End)))
      }
      def between[A](xs: Seq[A])(is: (A, String) => Boolean): Seq[A] =
        xs.slice(xs.lastIndexWhere(is(_, Begin)) + 1, xs.indexWhere(is(_, End)))
      Seen(
        between(jobs.asScala.toSeq)(_ == _).size,
        between(scans.asScala.toSeq)(_ contains _).flatten
          .filter(_.contains(root)).map(_.stripPrefix("file:").stripPrefix(root)))
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  test("loading a persisted index runs one job, the meta row") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_jobs_").toString + "/idx"
    Similarity.saveIvfPq(Similarity.buildIvfPq(emb, nlist = 16, m = 8, ksub = 16), path)
    val corpus = emb // its schema is inferred here, outside the measured call
    var loaded: Similarity.IvfPqIndex = null
    val seen = observe(path) { loaded = Similarity.loadIvfPq(spark, path, corpus) }
    info(s"loadIvfPq: ${seen.jobs} jobs, scans ${seen.scans}")
    assert(seen.jobs <= 1, s"loadIvfPq ran ${seen.jobs} jobs")
    assert(seen.scans === Seq("/meta"))
    assert(loaded.codes.select("cid").distinct().count() === 500L)
  }

  test("an under-threshold maintenance call loads the index once") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpq_jobs_m_").toString
    emb.filter(col("vec_id") < 420).write.parquet(s"$work/embeddings.parquet")
    val corpus = spark.read.parquet(s"$work/embeddings.parquet")
    val base = corpus.filter(col("vec_id") < 400)
    val delta = corpus.filter(col("vec_id") >= 400)
    val (nlist, m, ksub, iters) = (8, 8, 8, 1)
    val path = Similarity.ivfpqIndexPath(work, nlist, m, ksub, iters)
    Similarity.maintainIvfPq(spark, work, base, base, nlist, m, ksub, iters)
    var merged: Similarity.IvfPqIndex = null
    val seen = observe(path) {
      merged = Similarity.maintainIvfPq(spark, work, delta, corpus,
        nlist, m, ksub, iters, maxDeltaFraction = 0.5)
    }
    info(s"maintainIvfPq (append): ${seen.jobs} jobs, scans ${seen.scans}")
    // the append path ran: 20/400 is appended, not retrained
    assert(math.abs(Similarity.ivfpqDeltaFraction(spark, path) - 0.05) < 1e-9)
    assert(merged.codes.select("cid").distinct().count() === 420L)
    assert(seen.scans.count(_ == "/meta") === 1,
      s"meta read ${seen.scans.count(_ == "/meta")} times: the index was loaded more than once")
    assert(seen.jobs <= 11, s"maintainIvfPq append ran ${seen.jobs} jobs")
  }
}
