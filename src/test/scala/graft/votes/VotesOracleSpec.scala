package graft.votes

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Each votes stage that applies driver-held decisions as literal
  * expressions returns the rows, column names and types of its join
  * formulation ([[JoinFormulations]]), on the edge cases of [[VoteFrames]].
  */
class VotesOracleSpec extends SparkSpec {

  import spark.implicits._

  private lazy val f = new VoteFrames(spark)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(c => (c.name, c.dataType)) == want.schema.map(c => (c.name, c.dataType)),
      s"$what: columns")
    assert(rows(got) == rows(want), s"$what: rows")
  }

  test("applyVoteRenames equals its join formulation") {
    val renames = f.voteRenames +: Seq(
      ApplyEdits.parseYaml(VoteFixtures.editsYaml.toString).voteRenames,
      f.voteRenames.filter(_.start.isEmpty), f.voteRenames.filter(_.start.isDefined))
    for ((rs, i) <- renames.zipWithIndex)
      assertSame(ApplyEdits.applyVoteRenames(f.votes, f.rollStamps, rs),
        JoinFormulations.applyVoteRenames(f.votes, f.rollStamps, rs), s"renames $i")

    // the cases are exercised: a stamp on either bound of the window is
    // outside it, a ranged rename wins over a simple one, a null name stays
    val got = ApplyEdits.applyVoteRenames(f.votes, f.rollStamps, f.voteRenames)
      .filter($"name".isNull || !$"name".isin("PLAIN", "NEW"))
      .select("roll_id", "name").as[(Long, String)].collect().toSet
    assert(got == Set(100L, 101L, 102L, 103L, 104L, 105L).flatMap(r => Set(
      (r, if (r == 100L) "KELLER M." else "KELLER"),
      (r, if (r == 100L) "BOTH R." else "BOTH S."),
      (r, null: String))))
  }

  test("applyYearEdits equals its join formulation") {
    val yaml = ApplyEdits.parseYaml(VoteFixtures.editsYaml.toString).yearEdits
    for ((es, i) <- Seq(f.yearEdits, yaml, f.yearEdits.filter(_.remove),
        f.yearEdits.filterNot(_.remove), f.yearEdits ++ f.yearEdits.take(1)).zipWithIndex)
      assertSame(ApplyEdits.applyYearEdits(f.service, f.members, es),
        JoinFormulations.applyYearEdits(f.service, f.members, es), s"edits $i")

    // the cases are exercised: the unique and the two-word removals land,
    // the ambiguous one does not; Beta is added once from its 2020 row
    val got = ApplyEdits.applyYearEdits(f.service, f.members, f.yearEdits)
    assert(got.count() == f.service.count() - 1)
    val key = $"member_id" === 8L && $"year" === 2021 || $"member_id" === 1L && $"year" === 2020
    assert(got.filter(key).isEmpty)
    assert(got.filter($"member_id" === 3L && $"year" === 2020).count() == 2)
    assert(rows(got.filter($"member_id" === 9L)) ==
      Seq("[9,2020,1,8,Republican]", "[9,2021,1,8,Republican]"))
  }

  test("candidatePairs equals its join formulation") {
    val got = FindDuplicates.candidatePairs(f.members, f.service)
    assertSame(got, JoinFormulations.candidatePairs(f.members, f.service), "pairs")
    // the pair hit by both blocks is a dob pair; the pair sharing two
    // service blocks is one row; the chain is three pairs
    assert(got.select("id1", "id2", "kind").as[(Long, Long, String)].collect().toSet ==
      Set((1L, 2L, "dob"), (4L, 5L, "dob"), (6L, 7L, "service"),
        (11L, 12L, "dob"), (11L, 13L, "dob"), (12L, 13L, "dob")))
  }

  test("applyMerges equals its join formulation") {
    val merges = FindDuplicates.mergeGroups(
      JoinFormulations.candidatePairs(f.members, f.service))
    assert(merges.exists(m => m.survivor == 11L && m.absorbed.toSet == Set(12L, 13L)))
    val got = FindDuplicates.applyMerges(f.members, f.service, merges)
    val want = JoinFormulations.applyMerges(f.members, f.service, merges)
    assertSame(got.members, want.members, "members")
    assertSame(got.service, want.service, "service")
    // the chain's survivor inherits an archive id from each absorbed member
    assert(rows(got.members.filter($"id" === 11L)
      .select("house_archive_id", "house_current_id", "senate_archive_id")) ==
      Seq("[110,120,130]"))
  }

  test("MatchNames.run equals the anti-join formulas over the inner-join pass 1") {
    val r = MatchNames.run(spark, f.voterNames, f.roster)
    val want = JoinFormulations.result(f.voterNames, f.roster,
      r.matches.filter($"method" === "substring"))
    assertSame(MatchNames.pass1(f.voterNames, f.roster),
      JoinFormulations.pass1(f.voterNames, f.roster), "pass 1")
    assertSame(r.matches, want.matches, "matches")
    assertSame(r.missingNames, want.missingNames, "missingNames")
    assertSame(r.unmatchedMembers, want.unmatchedMembers, "unmatchedMembers")

    // the null voter name is residue, and pass 2 still resolves BIZZ
    assert(r.missingNames.filter($"name".isNull).count() == 1)
    assert(rows(r.matches.select("name", "member_id", "method")) ==
      Seq("[A. BROWN,6,fuzzy]", "[BIZZ,3,substring]", "[HARKINS,1,fuzzy]"))
  }

  test("applyMatches equals its join formulation") {
    val votes = (for {
      roll <- Seq(100L, 101L)
      name <- Seq("HARKINS", "MERSKI", "BIZZ", "SMITH", null)
    } yield (1L, roll, name, VoteCode.YEA, Option.empty[Long]))
      .toDF("session_id", "roll_id", "name", "vote", "member_id")
    // an incomplete 2023 House (SMITH stays ambiguous), then a complete one
    val complete = f.roster.filter($"member_id" <= 2L)
    val names = Seq("HARKINS", "MERSKI").map(n => (2023, Chamber.HOUSE, n))
      .toDF("year", "chamber", "name")
    for ((r, what) <- Seq(MatchNames.run(spark, f.voterNames, f.roster) -> "incomplete",
        MatchNames.run(spark, names, complete) -> "complete")) {
      val got = MatchNames.applyMatches(votes, f.rollYearChamber, r)
      assertSame(got, JoinFormulations.applyMatches(votes, f.rollYearChamber, r), what)
      assert(got.filter($"member_id".isNotNull).isEmpty == (what == "incomplete"), what)
    }
  }
}
