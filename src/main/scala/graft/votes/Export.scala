package graft.votes

import graft.ops.Completeness
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dump.py pipeline (reference: dump.py:10-101) as one Spark job:
  * completeness-gate sessions, order rolls with the conditional per-day
  * sort key, build the per-(year, chamber) roster, and emit the full
  * (roll × roster) long matrix ready for [[VoteMatrix.toCsvBytes]].
  *
  * Scale: every join is either broadcast (dims: sessions/days/service/
  * members are ≤ thousands of rows per the data model) or keyed on roll/
  * member ids; the only per-group bounded materialization is the export
  * matrix itself, which is the output's own size.
  */
object Export {

  /** Produce the long export DataFrame for all complete (year, chamber)
    * groups. Input schemas follow [[Schemas]].
    */
  def exportLong(sessions: DataFrame, sessionDays: DataFrame, rollCalls: DataFrame,
                 votes: DataFrame, members: DataFrame, service: DataFrame): DataFrame = {

    // -- day-level completeness: drop a (year, chamber) if ANY of its days
    //    is uncrawled (dump.py:26-31); sessions with no days drop naturally.
    val days = sessionDays.as("d")
      .join(sessions.as("s"), col("d.session_id") === col("s.id"))
      .select(col("d.id").as("day_id"), col("d.date").as("day_date"),
        col("s.year"), col("s.chamber"), col("d.last_crawl").as("day_crawl"))
    val completeDays = Completeness.gate(days, Seq("year", "chamber"),
      col("day_crawl").isNotNull)

    // -- rolls joined to their day; W2 conditional sort key (dump.py:48-60):
    //    within a day, if any roll lacks a stamp, order all by id and
    //    substitute the day date for missing stamps; else order by stamp.
    val rolls = rollCalls.as("r")
      .join(completeDays.as("cd"), col("r.day_id") === col("cd.day_id"))
      .select(col("r.id").as("roll_id"), col("r.name").as("roll_name"),
        col("r.number").as("roll_number"), col("r.stamp"),
        col("cd.day_id"), col("cd.day_date"), col("cd.year"), col("cd.chamber"))
    val wDay = Window.partitionBy("day_id")
    val ordered = rolls
      .withColumn("_any_missing", max(col("stamp").isNull.cast("int")).over(wDay) === 1)
      .withColumn("stamp_raw",
        when(col("stamp").isNull, col("day_date").cast("string"))
          .otherwise(date_format(col("stamp"), "yyyy-MM-dd HH:mm:ss")))
      .withColumn("_k2",
        when(col("_any_missing"), col("roll_id"))
          .otherwise(unix_micros(col("stamp"))))
    // day_id keeps each day's rolls a CONTIGUOUS block (dump.py emits day
    // by day; two session-days can share a calendar date) and stops the
    // sort from comparing roll ids against unix_micros across days
    val wGroup = Window.partitionBy("year", "chamber")
      .orderBy("day_date", "day_id", "_k2", "roll_id")
    val orderedRolls = ordered
      .withColumn("row_idx", (row_number().over(wGroup) - 1).cast("int"))
      .select("roll_id", "roll_name", "roll_number", "stamp_raw",
        "year", "chamber", "row_idx")

    // -- roster: service for the (year, chamber) ordered by district
    //    (dump.py:72-78); member_id breaks district ties deterministically
    //    (SQLite's tie order is rowid insertion order, which tracks id).
    val display = concat_ws(" ",
      col("m.first"), col("m.middle"), col("m.last"), col("m.suffix"))
    // SQLite ORDER BY puts NULLs FIRST (dump.py:72's district ordering) —
    // a NULL-district member leads the column order, not trails it
    val wRoster = Window.partitionBy("year", "chamber")
      .orderBy(col("district").asc_nulls_first, col("member_id"))
    val roster = service.as("sv")
      .join(members.as("m"), col("sv.member_id") === col("m.id"))
      .select(col("sv.year"), col("sv.chamber"), col("sv.member_id"),
        col("sv.district"), col("sv.party"), display.as("member_name"))
      .withColumn("member_idx", (row_number().over(wRoster) - 1).cast("int"))

    // -- full matrix: every (roll × roster member) cell, vote letter or blank
    val cells = orderedRolls.as("or")
      .join(roster.as("ro"), Seq("year", "chamber"))
    val votesClean = votes.filter(col("member_id").isNotNull)
      .select(col("roll_id").as("v_roll_id"), col("member_id").as("v_member_id"),
        col("vote"))
    cells
      .join(votesClean,
        col("roll_id") === col("v_roll_id") && col("member_id") === col("v_member_id"),
        "left")
      .select(col("year"), col("chamber"), col("row_idx"), col("roll_name"),
        col("roll_number"), col("stamp_raw"), col("member_idx"),
        col("member_name"),
        col("district").cast("string").as("district"), col("party"),
        VoteCode.toLetterCol(col("vote")).as("letter"))
  }

  /** Column order [[csvBytesLocal]] expects — the [[VoteMatrix.longSchema]]
    * fields minus the (year, chamber) grouping key.
    */
  private val matrixCols = Seq("row_idx", "roll_name", "roll_number",
    "stamp_raw", "member_idx", "member_name", "district", "party", "letter")

  /** Assemble one (year, chamber) matrix's CSV bytes from its long rows —
    * the pure-Scala twin of [[VoteMatrix.toCsvBytes]] (byte-identical per
    * group, asserted in ExportSpec), built to run INSIDE an executor task. Rows
    * must follow [[matrixCols]] order; one group is bounded by the matrix
    * itself (~1.6k rolls × ~210 legislators), so in-memory assembly is the
    * output's own size.
    */
  private[votes] def csvBytesLocal(rows: Iterator[org.apache.spark.sql.Row]): Array[Byte] = {
    val buf = rows.toArray
    def s(r: org.apache.spark.sql.Row, i: Int): String =
      Option(r.getString(i)).getOrElse("")
    val roster = buf.map(r => (r.getInt(4), s(r, 5), s(r, 6), s(r, 7)))
      .distinct.sortBy(_._1)
    val idxs = roster.map(_._1)
    val cells = new scala.collection.mutable.HashMap[(Int, Int), String]()
    for (r <- buf) cells.getOrElseUpdate((r.getInt(0), r.getInt(4)), s(r, 8))
    val rolls = buf.map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .distinct.sortBy(_._1)
    val sb = new StringBuilder
    sb ++= VoteMatrix.formatCsvRow("Name" +: "Number" +: "Date" +: roster.map(_._2).toSeq)
    if (roster.exists(_._3.nonEmpty))
      sb ++= VoteMatrix.formatCsvRow("District" +: "" +: "" +: roster.map(_._3).toSeq)
    if (roster.exists(_._4.nonEmpty))
      sb ++= VoteMatrix.formatCsvRow("Party" +: "" +: "" +: roster.map(_._4).toSeq)
    for ((rowIdx, name, number, stamp) <- rolls)
      sb ++= VoteMatrix.formatCsvRow(
        name +: number.toString +: stamp +: idxs.map(i => cells.getOrElse((rowIdx, i), "")))
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Write every (year, chamber) group under `root` in the vote_data
    * layout (dump.py:40-66) — the distributed full-corpus export: ONE
    * shuffle keyed by (year, chamber), each group's CSV assembled AND
    * written inside its executor task via the Hadoop FileSystem API
    * (file://, hdfs://, s3a:// — whatever `root` resolves to). No bytes
    * ever pass through the driver: a toLocalIterator + driver write loop
    * would serialize every finished matrix through one machine, capping
    * export throughput at the driver NIC at corpus scale; here the only
    * driver work is scheduling. The
    * driver's Hadoop configuration ships via one serializable carrier
    * (graft.sources.SerializableHadoopConf) so task-side FileSystem
    * resolution honours session-level fs settings.
    */
  def writeAllDistributed(spark: SparkSession, long: DataFrame, root: String): Unit = {
    import spark.implicits._
    val ds = long.select(
      (Seq("year", "chamber") ++ matrixCols).map(col): _*)
    val confB = spark.sparkContext.broadcast(
      new graft.sources.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration))
    ds.groupByKey(r => (r.getInt(0), r.getInt(1)))
      .mapGroups { (key, it) =>
        // group rows carry (year, chamber) in front; strip to matrixCols order
        val bytes = csvBytesLocal(it.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq.drop(2))))
        (key._1, key._2, bytes)
      }
      .foreachPartition { (it: Iterator[(Int, Int, Array[Byte])]) =>
        if (it.hasNext) {
          val conf = confB.value.value
          it.foreach { case (y, c, bytes) =>
            val path = new org.apache.hadoop.fs.Path(
              s"$root/$y/${Chamber.title(c)}.csv")
            val fs = path.getFileSystem(conf)
            // write-then-rename, never create(final, overwrite): a task
            // attempt that dies mid-write (or a speculative twin racing
            // this one) must not leave a torn CSV at the final path —
            // same publish discipline as the index writer. The tmp name
            // is attempt-unique; rename is a metadata op on real
            // filesystems, and losers of a rename race just clean up.
            val tmp = new org.apache.hadoop.fs.Path(
              s"$root/$y/.${Chamber.title(c)}.csv.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
            val out = fs.create(tmp, true) // mkdirs implied by create
            try out.write(bytes) finally out.close()
            fs.delete(path, false)
            if (!fs.rename(tmp, path)) {
              // A rename loser may find a racing twin's file — whose
              // bytes are the same deterministic group output — but a
              // bare exists() can't tell that fresh CSV from a STALE one
              // left by a previous run over the same root (a transient
              // rename failure would then silently keep outdated data),
              // and for fixed-width CSVs a stale file can plausibly
              // match on LENGTH alone. Accept only a byte-identical
              // file; otherwise retry the delete+rename once and fail
              // the task if it still loses (Spark re-runs the task).
              // The probe itself must not fail the task: a racing twin
              // mid-publish (or a transient FS error) can make exists/
              // open/read throw, and an escaping exception here would
              // bypass the one-shot delete+rename retry below. Any
              // failure to read identical bytes — including a failure to
              // read at all — means "not published", and the retry runs.
              val twinPublished = try {
                fs.exists(path) &&
                  fs.getFileStatus(path).getLen == bytes.length.toLong && {
                    val in = fs.open(path)
                    try {
                      val got = new Array[Byte](bytes.length)
                      in.readFully(0, got)
                      java.util.Arrays.equals(got, bytes)
                    } finally in.close()
                  }
              } catch { case scala.util.control.NonFatal(_) => false }
              if (twinPublished) fs.delete(tmp, false)
              else {
                fs.delete(path, false)
                val renamed = fs.rename(tmp, path)
                if (!renamed) fs.delete(tmp, false)
                if (!renamed)
                  throw new java.io.IOException(s"could not publish $path")
              }
            }
          }
        }
      }
  }

}
