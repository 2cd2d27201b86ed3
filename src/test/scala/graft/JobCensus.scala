package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Counts what a block of code submits to Spark, for specs that pin a
  * call's job floor.
  */
object JobCensus {

  /** @param jobs  the Spark jobs submitted
    * @param scans the tables under the observed root that the SQL
    *              executions scanned, relative to that root
    */
  final case class Seen(jobs: Int, scans: Seq[String])

  /** What `body` submitted: its Spark jobs, and the tables under `root`
    * its SQL executions scan. Both listeners hear events in submission
    * order, so everything between a begin and an end marker action
    * belongs to `body`.
    */
  def observe(spark: SparkSession, root: String = "")(body: => Unit): Seen = {
    val Begin = "job-census-begin"
    val End = "job-census-end"
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
}
