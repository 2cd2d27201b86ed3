package graft.votes

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The wide vote-matrix CSV artifact: reader (melt to long) and writer
  * (re-pivot, byte-identical to the reference's `csv.writer` output —
  * dump.py:80-101, README.md:11-28).
  *
  * Scale design: the wide matrix is an EXPORT artifact, bounded per
  * (year, chamber) at ~1.6k rolls × ~210 legislators; canonical data is the
  * long format this reader produces, which is what scales. Header-block
  * parsing and final row formatting are driver-side by construction (3
  * header lines, group-bounded row sets); the melt itself is a distributed
  * DataFrame from the moment rows exist.
  */
object VoteMatrix {

  // ---- RFC4180 (python csv dialect: QUOTE_MINIMAL, CRLF) ----------------

  /** Parse CSV text into records, handling quoted fields containing
    * commas/quotes/newlines.
    */
  def parseCsv(text: String): Vector[Vector[String]] = {
    val recs = Vector.newBuilder[Vector[String]]
    var fields = Vector.newBuilder[String]
    val f = new StringBuilder
    var inQ = false
    var i = 0
    var sawAny = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { f += '"'; i += 1 }
          else inQ = false
        } else f += c
      } else c match {
        case '"' => inQ = true; sawAny = true
        case ',' => fields += f.toString; f.clear(); sawAny = true
        case '\r' => // swallow; \n terminates
        case '\n' =>
          fields += f.toString; f.clear()
          recs += fields.result(); fields = Vector.newBuilder[String]
          sawAny = false
        case other => f += other; sawAny = true
      }
      i += 1
    }
    if (sawAny || f.nonEmpty) { fields += f.toString; recs += fields.result() }
    recs.result()
  }

  /** python csv.writer QUOTE_MINIMAL + CRLF formatting. */
  def formatCsvRow(fields: Seq[String]): String =
    fields.map { v =>
      if (v.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    }.mkString("", ",", "\r\n")

  // ---- long-format schema ----------------------------------------------

  val longSchema: StructType = StructType(Seq(
    StructField("year", IntegerType, nullable = false),
    StructField("chamber", IntegerType, nullable = false),
    StructField("row_idx", IntegerType, nullable = false),
    StructField("roll_name", StringType, nullable = false),
    StructField("roll_number", IntegerType, nullable = false),
    StructField("stamp_raw", StringType, nullable = false),
    StructField("member_idx", IntegerType, nullable = false),
    StructField("member_name", StringType, nullable = false),
    StructField("district", StringType),
    StructField("party", StringType),
    StructField("letter", StringType)))

  /** Melt one wide CSV into the canonical long format. The 3-line header
    * block (Name / conditional District / conditional Party —
    * README.md:11-21) is parsed first; data rows become one row per
    * (roll, member) with the original file row order kept in `row_idx`
    * (the reference's roll order is crawl-id-derived and not
    * reconstructible from the data — SURVEY.md §7 risk 5).
    */
  /** Pure melt core: one wide CSV's text → long rows. Serializable-free
    * and Spark-free so it runs identically on the driver (single-file
    * [[melt]]) and inside executor tasks ([[meltAll]]'s per-file parse).
    */
  private def meltRows(text: String, path: String, year: Int,
                       chamber: Int): Seq[Row] = {
    val recs = parseCsv(text)
    val header = recs.head
    require(header.take(3) == Vector("Name", "Number", "Date"), s"bad header in $path")
    val members = header.drop(3)
    val nm = members.length

    var body = recs.tail
    val districts: Vector[String] =
      if (body.nonEmpty && body.head.headOption.contains("District")) {
        val d = body.head.drop(3); body = body.tail; d
      } else Vector.fill(nm)("")
    val parties: Vector[String] =
      if (body.nonEmpty && body.head.headOption.contains("Party")) {
        val p = body.head.drop(3); body = body.tail; p
      } else Vector.fill(nm)("")

    for {
      (rec, idx) <- body.zipWithIndex
      m <- 0 until nm
    } yield Row(year, chamber, idx, rec(0), rec(1).toInt, rec(2), m, members(m),
      if (m < districts.length && districts(m).nonEmpty) districts(m) else null,
      if (m < parties.length && parties(m).nonEmpty) parties(m) else null,
      if (rec(3 + m).nonEmpty) rec(3 + m) else null)
  }

  def melt(spark: SparkSession, path: String, year: Int, chamber: Int): DataFrame = {
    val text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    spark.createDataFrame(
      spark.sparkContext.parallelize(meltRows(text, path, year, chamber)), longSchema)
  }

  /** Read every CSV under a vote_data-layout root into one long DataFrame.
    * The per-file parse runs in EXECUTOR TASKS (one per file), not a
    * driver loop: a 38-iteration driver melt would single-thread ~2M long
    * rows through one core and ship them out via parallelize — the
    * read-side mirror of the export write bottleneck. Listing and
    * byte access go through the Hadoop FileSystem of the root's scheme,
    * so hdfs:// and s3a:// corpora work like file://.
    */
  def meltAll(spark: SparkSession, root: String): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(rootPath).toSeq.map(_.getPath)
      .sortBy(_.getName)
      .flatMap { yearDir =>
        val y = yearDir.getName
        if (y.forall(_.isDigit))
          fs.listStatus(yearDir).toSeq.map(_.getPath).sortBy(_.getName).collect {
            case f if f.getName.endsWith(".csv") =>
              (f.toString, y.toInt,
                Chamber.fromLetter(f.getName.stripSuffix(".csv")))
          }
        else Seq.empty
      }
    // one serializable conf carrier, rebuilt once per task deserialization
    // (not once per partition from a property map)
    val confB = spark.sparkContext.broadcast(
      new graft.sources.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration))
    val rows = spark.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { case (f, y, c) =>
        val p = new org.apache.hadoop.fs.Path(f)
        val in = p.getFileSystem(confB.value.value).open(p)
        val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
        meltRows(text, f, y, c)
      }
    spark.createDataFrame(rows, longSchema)
  }

  /** Re-pivot one (year, chamber) long DataFrame back into the wide CSV
    * byte format (dump.py:80-101): 'Name,Number,Date' + member columns,
    * District/Party rows only when any value is present (dump.py:85-88),
    * '' for missing votes, CRLF + minimal quoting.
    */
  def toCsvBytes(long: DataFrame): Array[Byte] = {
    val roster = long
      .select("member_idx", "member_name", "district", "party")
      .distinct()
      .orderBy("member_idx")
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.getString(2)).getOrElse(""), Option(r.getString(3)).getOrElse("")))

    val idxs = roster.map(_._1)
    val wide = long
      .groupBy("row_idx", "roll_name", "roll_number", "stamp_raw")
      .pivot("member_idx", idxs.map(_.toString).toSeq)
      .agg(first(col("letter")))
      .orderBy("row_idx")

    val sb = new StringBuilder
    sb ++= formatCsvRow("Name" +: "Number" +: "Date" +: roster.map(_._2).toSeq)
    if (roster.exists(_._3.nonEmpty))
      sb ++= formatCsvRow("District" +: "" +: "" +: roster.map(_._3).toSeq)
    if (roster.exists(_._4.nonEmpty))
      sb ++= formatCsvRow("Party" +: "" +: "" +: roster.map(_._4).toSeq)

    for (r <- wide.collect()) {
      val cells = idxs.indices.map(i => Option(r.getString(4 + i)).getOrElse(""))
      sb ++= formatCsvRow(r.getString(1) +: r.getInt(2).toString +: r.getString(3) +: cells)
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}
