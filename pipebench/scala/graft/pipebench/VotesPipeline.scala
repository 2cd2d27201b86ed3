package graft.pipebench

import java.nio.file.{Files, Path, Paths}

import graft.sources.{LandingZone, MemberPages}
import graft.votes._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's workflow as one job: crawl landing zone → typed model →
  * curation edits → fuzzy name match → duplicate merge → wide per-year
  * CSV export.
  *
  * Edits run before matching: a year edit changes the roster a group is
  * matched against, and MatchNames writes member ids back only for groups
  * that resolve completely, so curation has to land first (the reference's
  * curator re-runs matching after editing). Every step ends in a real
  * parquet or CSV write, so each span holds its own work.
  *
  * The check: the exported CSV bytes equal the export of
  * [[Export.exportLong]] over the generator's ground-truth model, whose
  * Senate matrices equal [[VoteMatrix.toCsvBytes]].
  */
final class VotesPipeline(spark: SparkSession, in: String, work: String, t: Trace)
    extends Workload {
  import VotesPipeline._
  import Workload.save

  private val land = s"$in/landing"

  def setup(dir: String): Unit = ()

  def pass(d: String): Unit = {
    val rollRows = t.span("sources.LandingZone.rollCalls") {
      save(LandingZone.rollCalls(spark, s"$land/days"), s"$d/src/roll_rows")
    }
    val voteRows = t.span("sources.LandingZone.rollVotes") {
      save(LandingZone.rollVotes(spark, s"$land/rolls"), s"$d/src/vote_rows")
    }
    val listRows = t.span("sources.MemberPages.memberList") {
      save(MemberPages.memberList(spark, s"$land/members"), s"$d/src/member_rows")
    }
    val bioRows = t.span("sources.MemberPages.bioService") {
      save(MemberPages.bioService(spark, s"$land/bios"), s"$d/src/bio_rows")
    }
    val m = t.span("glue.model") { model(d, rollRows, voteRows, listRows, bioRows) }

    val edits = t.span("votes.ApplyEdits.parseYaml") {
      ApplyEdits.parseYaml(s"$land/edits.yaml")
    }
    val votes1 = t.span("votes.ApplyEdits.applyVoteRenames") {
      save(ApplyEdits.applyVoteRenames(m.votes,
        m.rollCalls.select(col("id").as("roll_id"), col("stamp")), edits.voteRenames),
        s"$d/edit/votes")
    }
    val service1 = t.span("votes.ApplyEdits.applyYearEdits") {
      save(ApplyEdits.applyYearEdits(m.service, m.members, edits.yearEdits),
        s"$d/edit/service")
    }
    val members1 = t.span("votes.ApplyEdits.applyMemberRenames") {
      save(ApplyEdits.applyMemberRenames(m.members, edits.memberRenames),
        s"$d/edit/members")
    }

    val rollYc = m.rollCalls.select(col("id").as("roll_id"),
      col("session_year").as("year"), col("chamber"))
    val matched = t.span("votes.MatchNames.run") {
      val voterNames = votes1.join(rollYc, "roll_id")
        .select("year", "chamber", "name").distinct()
      val roster = service1.join(members1, service1("member_id") === members1("id"))
        .select(col("year"), col("chamber"), col("member_id"), col("first"),
          col("middle"), col("last"), col("suffix"))
      val r = MatchNames.run(spark, voterNames, roster)
      MatchNames.Result(save(r.matches, s"$d/match/matches"),
        save(r.missingNames, s"$d/match/missing"),
        save(r.unmatchedMembers, s"$d/match/unmatched"))
    }
    val votes2 = t.span("votes.MatchNames.applyMatches") {
      save(MatchNames.applyMatches(votes1, rollYc, matched), s"$d/match/votes")
    }

    val pairs = t.span("votes.FindDuplicates.candidatePairs") {
      save(FindDuplicates.candidatePairs(members1, service1), s"$d/dup/pairs")
    }
    val merges = t.span("votes.FindDuplicates.mergeGroups") {
      FindDuplicates.mergeGroups(pairs)
    }
    val applied = t.span("votes.FindDuplicates.applyMerges") {
      val a = FindDuplicates.applyMerges(members1, service1, merges)
      FindDuplicates.Applied(save(a.members, s"$d/dup/members"),
        save(a.service, s"$d/dup/service"))
    }
    // applyMerges repoints service rows; votes follow the same mapping
    val votes3 = t.span("glue.repoint") {
      import spark.implicits._
      val mapping = merges.flatMap(g => g.absorbed.map(a => (a, g.survivor)))
        .toDF("_old", "_new")
      save(votes2.join(broadcast(mapping), col("member_id") === col("_old"), "left")
        .withColumn("member_id", coalesce(col("_new"), col("member_id")))
        .drop("_old", "_new"), s"$d/dup/votes")
    }

    t.span("votes.Export.writeAllDistributed") {
      Export.writeAllDistributed(spark, Export.exportLong(m.sessions, m.sessionDays,
        m.rollCalls, votes3, applied.members, applied.service), s"$d/export")
    }
  }

  private final case class Model(sessions: DataFrame, sessionDays: DataFrame,
                                 rollCalls: DataFrame, votes: DataFrame,
                                 members: DataFrame, service: DataFrame)

  /** Parsed page rows → the typed tables of [[Schemas]]. Roll ids follow
    * the landing zone's page naming (year, chamber, roll number). */
  private def model(d: String, rollRows: DataFrame, voteRows: DataFrame,
                    listRows: DataFrame, bioRows: DataFrame): Model = {
    val sessions = save(readSessions(spark, s"$land/sessions.jsonl"), s"$d/model/sessions")
    val sessionDays = save(readSessionDays(spark, s"$land/session_days.jsonl"),
      s"$d/model/session_days")
    val rollCalls = save(rollRows
      .withColumn("id", rollId(col("session_year"), col("chamber"), col("number")))
      .join(voteRows.select(col("roll_id"), col("stamp")).distinct(),
        col("id") === col("roll_id"), "left")
      .select(col("id"), col("day_id"), col("session_year"), col("session_index"),
        col("chamber"), col("number"), col("name"), col("stamp")),
      s"$d/model/roll_calls")
    val votes = save(voteRows
      .join(rollCalls.select(col("id").as("roll_id"), col("day_id")), "roll_id")
      .join(sessionDays.select(col("id").as("day_id"), col("session_id")), "day_id")
      .select(col("session_id"), col("roll_id"), col("name"), col("vote"),
        lit(null).cast("long").as("member_id")),
      s"$d/model/votes")
    val dob = bioRows.select(col("chamber"), col("archive_id").as("current_id"), col("dob"))
      .distinct()
    def idIn(c: Int) = when(col("chamber") === c, col("current_id").cast("long"))
    val members = save(listRows
      .select("chamber", "current_id", "first", "middle", "last", "suffix").distinct()
      .join(dob, Seq("chamber", "current_id"), "left")
      .select(col("current_id").cast("long").as("id"),
        lit(null).cast("long").as("house_archive_id"),
        idIn(Chamber.HOUSE).as("house_current_id"),
        lit(null).cast("long").as("senate_archive_id"),
        idIn(Chamber.SENATE).as("senate_current_id"),
        col("first"), col("middle"), col("last"), col("suffix"), col("dob")),
      s"$d/model/members")
    val service = save(listRows.select(col("current_id").cast("long").as("member_id"),
      col("year"), col("chamber"), col("district"), col("party")), s"$d/model/service")
    Model(sessions, sessionDays, rollCalls, votes, members, service)
  }

  // The ground-truth export, built once at the end of the run with the
  // distributed writer. VoteMatrix.toCsvBytes, the independent pivot
  // formatter, must agree with it on the Senate matrices; on the
  // 200-column House matrices its wide pivot costs ~8 s a run.
  private lazy val expected: Map[(Int, Int), Array[Byte]] = {
    val tr = s"$in/truth"
    val root = Paths.get(work, "expected")
    val long = Export.exportLong(readSessions(spark, s"$tr/sessions.jsonl"),
      readSessionDays(spark, s"$tr/session_days.jsonl"),
      spark.read.schema(RollCallSchema).json(s"$tr/roll_calls.jsonl")
        .withColumn("stamp", col("stamp").cast("timestamp")),
      spark.read.schema("roll_id LONG, member_id LONG, vote INT")
        .option("header", "true").csv(s"$tr/votes.csv"),
      spark.read.schema("id LONG, first STRING, middle STRING, last STRING, suffix STRING")
        .json(s"$tr/members.jsonl"),
      spark.read.schema("member_id LONG, year INT, chamber INT, district INT, party STRING")
        .json(s"$tr/service.jsonl"))
    Export.writeAllDistributed(spark, long, root.toString)
    val out = Workload.files(root).filter(_.getFileName.toString.endsWith(".csv")).map { p =>
      val year = p.getParent.getFileName.toString.toInt
      val chamber = if (p.getFileName.toString.startsWith("House")) Chamber.HOUSE else Chamber.SENATE
      (year, chamber) -> Files.readAllBytes(p)
    }.toMap
    for (((y, c), bytes) <- out if c == Chamber.SENATE)
      require(java.util.Arrays.equals(bytes, VoteMatrix.toCsvBytes(
        long.filter(col("year") === y && col("chamber") === c))),
        s"distributed export of the truth differs from VoteMatrix.toCsvBytes for $y Senate")
    out
  }

  // each pass's export, kept for the comparison at the end of the run
  private val kept = collection.mutable.ArrayBuffer.empty[(Int, Path)]

  /** The exports are compared with the truth at the end of the run:
    * building the expected bytes is a few Spark jobs, cheaper once the
    * JIT has warmed up than inside the cold pass's check. */
  def check(n: Int, d: String, traced: Boolean, since: Long): (Seq[String], Map[String, Double]) = {
    val exportRoot = Paths.get(s"$d/export")
    val copy = Paths.get(work, s"exports/$n")
    Main.copy(exportRoot, copy)
    kept += n -> copy
    val counters =
      if (!traced) Map.empty[String, Double]
      else {
        def rows(path: String) = spark.read.parquet(s"$d/$path").count().toDouble
        val matches = spark.read.parquet(s"$d/match/matches")
        val substring = matches.filter(col("method") === "substring").count()
        val probed = rows("match/matches") + rows("match/missing")
        val changed =
          spark.read.parquet(s"$d/model/votes").exceptAll(spark.read.parquet(s"$d/edit/votes")).count() +
            spark.read.parquet(s"$d/model/service").exceptAll(spark.read.parquet(s"$d/edit/service")).count() +
            spark.read.parquet(s"$d/edit/service").exceptAll(spark.read.parquet(s"$d/model/service")).count() +
            spark.read.parquet(s"$d/model/members").exceptAll(spark.read.parquet(s"$d/edit/members")).count()
        val candidates = rows("dup/pairs")
        val absorbed = rows("edit/members") - rows("dup/members")
        Map(
          "sources.LandingZone.votes_parsed" -> rows("src/vote_rows"),
          "votes.MatchNames.match_rate" -> rows("match/matches") / probed,
          // pass 2 pulls the pass-1 residue of both sides to the Spark driver:
          // every substring match consumed one name and one member
          "votes.MatchNames.residue_rows" ->
            (2 * substring + rows("match/missing") + rows("match/unmatched")),
          "votes.FindDuplicates.candidates" -> candidates,
          "votes.FindDuplicates.merge_rate" ->
            (if (candidates == 0) 0.0 else absorbed / candidates),
          "votes.ApplyEdits.rows_changed" -> changed.toDouble,
          "votes.Export.bytes_out" -> Workload.bytes(exportRoot).toDouble)
      }
    (Nil, counters)
  }

  override def finish(): Map[Int, Seq[String]] =
    scala.util.Try(expected).failed.toOption match {
      case Some(e) => kept.map(_._1 -> Seq(s"ground-truth export: ${e.getMessage}")).toMap
      case None => compare()
    }

  private def compare(): Map[Int, Seq[String]] =
    kept.map { case (n, root) =>
      val failures = Seq.newBuilder[String]
      val found = Workload.files(root).filter(_.getFileName.toString.endsWith(".csv"))
        .map(p => root.relativize(p).toString).toSet
      val want = expected.keySet.map { case (y, c) => s"$y/${Chamber.title(c)}.csv" }
      if (found != want) failures += s"export files ${found.toSeq.sorted} != ${want.toSeq.sorted}"
      for (((y, c), bytes) <- expected) {
        val p = root.resolve(s"$y/${Chamber.title(c)}.csv")
        if (Files.exists(p) && !java.util.Arrays.equals(Files.readAllBytes(p), bytes))
          failures += s"$y/${Chamber.title(c)}.csv differs from the ground-truth export " +
            s"(${Files.size(p)} vs ${bytes.length} bytes)"
      }
      n -> failures.result()
    }.toMap
}

object VotesPipeline {
  private def rollId(year: org.apache.spark.sql.Column, chamber: org.apache.spark.sql.Column,
             number: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    year.cast("long") * 100000L + chamber.cast("long") * 10000L + number.cast("long")

  private val RollCallSchema = "id LONG, day_id LONG, session_year INT, " +
    "session_index INT, chamber INT, number INT, name STRING, stamp STRING"

  def readSessions(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("id LONG, chamber INT, year INT, session_index INT, " +
      "name STRING, last_crawl STRING").json(path)
      .withColumn("last_crawl", col("last_crawl").cast("timestamp"))

  def readSessionDays(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("id LONG, session_id LONG, date STRING, last_crawl STRING").json(path)
      .withColumn("date", col("date").cast("date"))
      .withColumn("last_crawl", col("last_crawl").cast("timestamp"))
}
