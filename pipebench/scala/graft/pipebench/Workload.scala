package graft.pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** One benchmark workload. [[Main]] calls `setup` once per set-up
  * repetition, then `pass` back to back (closed loop, one thread), each
  * pass followed by an untimed `check` of what it wrote.
  *
  * `setup` builds its state under the pass directory; [[Main]]
  * snapshots that directory and restores it before every pass, so each
  * pass starts from the same state.
  */
trait Workload {
  def setup(dir: String): Unit
  def pass(dir: String): Unit
  /** Output-check failures (empty when the pass is correct) and, on
    * traced passes, the layer counters measured from the outputs. Files
    * modified before `since` (epoch millis) were restored from set-up,
    * not written by the pass. */
  def check(n: Int, dir: String, traced: Boolean, since: Long): (Seq[String], Map[String, Double])
  /** Checks a workload defers to the end of the run: failures by pass
    * number. */
  def finish(): Map[Int, Seq[String]] = Map.empty
}

object Workload {
  /** Materialize `df` as parquet at `path` and read it back: every call
    * the benchmark times ends in a real write. */
  def save(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).map(Files.size).sum

  /** Bytes of the files under `root` modified at or after `since`. */
  def bytesSince(root: Path, since: Long): Long =
    files(root).filter(p => Files.getLastModifiedTime(p).toMillis >= since)
      .map(Files.size).sum
}
