package graft.votes

import java.sql.{Date, Timestamp}
import graft.SparkSpec
import org.apache.spark.sql.Row

/** End-to-end dump-pipeline test on synthetic 7-table data exercising the
  * W2 conditional sort key, completeness gating, roster ordering, and the
  * letter codec (reference: dump.py).
  */
class ExportSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def d(s: String) = Date.valueOf(s)

  private lazy val sessions = Seq(
    (1L, Chamber.HOUSE, 2023, 0, "2023 House", ts("2023-12-31 00:00:00")),
    (2L, Chamber.SENATE, 2023, 0, "2023 Senate", ts("2023-12-31 00:00:00"))
  ).toDF("id", "chamber", "year", "session_index", "name", "last_crawl")

  // day 20 is uncrawled → Senate 2023 must be withheld entirely (P6)
  private lazy val sessionDays = Seq(
    (10L, 1L, d("2023-01-03"), Option(ts("2023-12-01 00:00:00"))),
    (11L, 1L, d("2023-01-04"), Option(ts("2023-12-01 00:00:00"))),
    (20L, 2L, d("2023-01-03"), None)
  ).toDF("id", "session_id", "date", "last_crawl")

  // day 10: all stamps present → order by stamp (note id order ≠ stamp order)
  // day 11: one stamp missing → order by id, missing stamp becomes day date
  private lazy val rollCalls = Seq(
    (100L, 10L, 2023, 0, Chamber.HOUSE, 1, "ROLL A", Option(ts("2023-01-03 14:00:00"))),
    (101L, 10L, 2023, 0, Chamber.HOUSE, 2, "ROLL B", Option(ts("2023-01-03 12:00:00"))),
    (102L, 11L, 2023, 0, Chamber.HOUSE, 3, "ROLL C", Option(ts("2023-01-04 09:00:00"))),
    (103L, 11L, 2023, 0, Chamber.HOUSE, 4, "ROLL D", None),
    (200L, 20L, 2023, 0, Chamber.SENATE, 1, "SENATE ROLL", Option(ts("2023-01-03 10:00:00")))
  ).toDF("id", "day_id", "session_year", "session_index", "chamber", "number", "name", "stamp")

  private lazy val members = Seq(
    (1L, "Ann", null, "Alpha", null),
    (2L, "Bob", "Q.", "Beta", null),
    (3L, "Cid", null, "Gamma", "Jr.")
  ).toDF("id", "first", "middle", "last", "suffix")

  // district order 2,1,7 → roster must come out Beta(1), Alpha(2), Gamma(7)
  private lazy val service = Seq(
    (1L, 2023, Chamber.HOUSE, 2, "Democrat"),
    (2L, 2023, Chamber.HOUSE, 1, "Republican"),
    (3L, 2023, Chamber.HOUSE, 7, "Democrat"),
    (1L, 2023, Chamber.SENATE, 1, "Democrat")
  ).toDF("member_id", "year", "chamber", "district", "party")

  private lazy val votes = Seq(
    (1L, 100L, "ALPHA", VoteCode.YEA, Option(1L)),
    (1L, 100L, "BETA", VoteCode.NAY, Option(2L)),
    (1L, 101L, "GAMMA", VoteCode.LEAVE, Option(3L)),
    (1L, 103L, "ALPHA", VoteCode.NO_VOTE, Option(1L)),
    (1L, 103L, "NOBODY", VoteCode.YEA, None) // unresolved → ignored
  ).toDF("session_id", "roll_id", "name", "vote", "member_id")

  private lazy val long = Export.exportLong(
    sessions, sessionDays, rollCalls, votes, members, service)

  test("incomplete (year, chamber) groups are withheld") {
    assert(long.filter($"chamber" === Chamber.SENATE).count() == 0)
  }

  test("W2 ordering: stamp order when complete, id order + date fill when not") {
    val rows = long.select("row_idx", "roll_name", "stamp_raw")
      .distinct().orderBy("row_idx").collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("ROLL B", "ROLL A", "ROLL C", "ROLL D"))
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("2023-01-03 12:00:00", "2023-01-03 14:00:00",
        "2023-01-04 09:00:00", "2023-01-04"))
  }

  test("roster ordered by district with display names") {
    val roster = long.select("member_idx", "member_name", "district", "party")
      .distinct().orderBy("member_idx").collect()
    assert(roster.map(_.getString(1)).toSeq ==
      Seq("Bob Q. Beta", "Ann Alpha", "Cid Gamma Jr."))
    assert(roster.map(_.getString(2)).toSeq == Seq("1", "2", "7"))
  }

  test("cells carry letters; missing votes blank; full matrix emitted") {
    assert(long.count() == 4 * 3) // 4 rolls × 3 roster members
    val cells = long.filter($"roll_name" === "ROLL A")
      .select("member_name", "letter").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cells == Map("Ann Alpha" -> "Y", "Bob Q. Beta" -> "N", "Cid Gamma Jr." -> null))
  }

  test("exportLong reproduces published files from a reconstructed 7-table model") {
    // Reverse-engineer the relational model from melted CSVs, run the FULL
    // dump pipeline (completeness gate → W2 ordering → roster → matrix),
    // and byte-compare. Exercises exportLong itself, not just melt∘pivot.
    // Inputs: every fixture, plus four published files where mounted.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val published = Seq((2023, Chamber.HOUSE), (2023, Chamber.SENATE),
      (2007, Chamber.HOUSE), (2019, Chamber.SENATE))
      .flatMap { case (y, c) => VoteFixtures.published(y, c) }
    for (m <- VoteFixtures.matrices ++ published) {
      val (year, chamber, file) = (m.year, m.chamber, m.path)
      val melted = VoteMatrix.melt(spark, file, year, chamber)

      val rollsBase = melted
        .select("row_idx", "roll_name", "roll_number", "stamp_raw").distinct()
        .withColumn("day_date", to_date(substring($"stamp_raw", 1, 10)))
        .withColumn("stamp",
          when(length($"stamp_raw") > 10, to_timestamp($"stamp_raw")))
      val dayIds = rollsBase.select("day_date").distinct()
        .withColumn("day_id", dense_rank().over(Window.orderBy("day_date")).cast("long"))
      val rollCalls2 = rollsBase.join(dayIds, "day_date")
        .select($"row_idx".cast("long").as("id"), $"day_id",
          lit(year).as("session_year"), lit(0).as("session_index"),
          lit(chamber).as("chamber"), $"roll_number".as("number"),
          $"roll_name".as("name"), $"stamp")
      val sessions2 = Seq((1L, chamber, year, 0, "s", ts("2025-01-01 00:00:00")))
        .toDF("id", "chamber", "year", "session_index", "name", "last_crawl")
      val sessionDays2 = dayIds
        .select($"day_id".as("id"), lit(1L).as("session_id"),
          $"day_date".as("date"), lit(ts("2025-01-01 00:00:00")).as("last_crawl"))

      val rosterRows = melted
        .select("member_idx", "member_name", "district", "party").distinct()
        .collect().sortBy(_.getInt(0))
      val members2 = rosterRows.map { r =>
        val nm = Name.parse(r.getString(1))
        def n(s: String) = if (s.isEmpty) null else s
        (r.getInt(0).toLong, n(nm.first), n(nm.middle), n(nm.last), n(nm.suffix))
      }.toSeq.toDF("id", "first", "middle", "last", "suffix")
      val service2 = rosterRows.map { r =>
        (r.getInt(0).toLong, year, chamber,
          Option(r.getString(2)).map(_.toInt), r.getString(3))
      }.toSeq.toDF("member_id", "year", "chamber", "district", "party")

      val votes2 = melted.filter($"letter".isNotNull)
        .select(lit(1L).as("session_id"), $"row_idx".cast("long").as("roll_id"),
          $"member_name".as("name"),
          VoteCode.fromLetterCol($"letter").as("vote"),
          $"member_idx".cast("long").as("member_id"))

      val out = Export.exportLong(sessions2, sessionDays2, rollCalls2,
        votes2, members2, service2)
      val bytes = VoteMatrix.toCsvBytes(out)
      val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
      assert(java.util.Arrays.equals(bytes, orig),
        s"$file: exportLong output diverges (${bytes.length} vs ${orig.length} bytes)")
    }
  }

  test("writeAllDistributed emits byte-identical files to the per-group pivot path") {
    // the distributed single-shuffle export and the Spark-pivot formatter
    // (VoteMatrix.toCsvBytes of the file's (year, chamber) group) must
    // agree byte-for-byte; also pin both against the input files via the
    // melt roundtrip (pivot∘melt = id): every fixture, plus two published
    // files where mounted
    val inputs = VoteFixtures.matrices ++
      VoteFixtures.published(2023, Chamber.HOUSE) ++
      VoteFixtures.published(2019, Chamber.SENATE)
    val melted = inputs.map(m => VoteMatrix.melt(spark, m.path, m.year, m.chamber))
      .reduce(_ unionByName _)
    val d1 = java.nio.file.Files.createTempDirectory("graft_wad_").toString
    Export.writeAllDistributed(spark, melted, d1)
    for (m <- inputs; rel = m.rel) {
      val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d1, rel))
      val b = VoteMatrix.toCsvBytes(
        melted.filter($"year" === m.year && $"chamber" === m.chamber))
      val g = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(m.path))
      assert(java.util.Arrays.equals(a, b), s"$rel: distributed ≠ pivot path")
      assert(java.util.Arrays.equals(a, g), s"${m.path}: distributed ≠ input bytes")
    }
  }

  test("export bytes include conditional District/Party rows") {
    val csv = new String(VoteMatrix.toCsvBytes(long))
    val lines = csv.split("\r\n")
    assert(lines(0) == "Name,Number,Date,Bob Q. Beta,Ann Alpha,Cid Gamma Jr.")
    assert(lines(1) == "District,,,1,2,7")
    assert(lines(2) == "Party,,,Republican,Democrat,Democrat")
    assert(lines(3) == "ROLL B,2,2023-01-03 12:00:00,,,E")
    // ROLL D's X vote is by Ann Alpha = second roster column
    assert(lines(6) == "ROLL D,4,2023-01-04,,X,")
  }
}
