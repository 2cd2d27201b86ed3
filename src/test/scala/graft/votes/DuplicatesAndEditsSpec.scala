package graft.votes

import java.sql.{Date, Timestamp}
import graft.SparkSpec

class DuplicatesAndEditsSpec extends SparkSpec {

  import spark.implicits._

  // ---- FindDuplicates --------------------------------------------------

  private lazy val members = Seq(
    (1L, Option(10L), None: Option[Long], None: Option[Long], None: Option[Long],
      "Mike", null, "Jones", null, Option(Date.valueOf("1960-01-01"))),
    (2L, None: Option[Long], Option(20L), None: Option[Long], None: Option[Long],
      "Michael", "T.", "Jones", null, Option(Date.valueOf("1960-01-01"))),
    (3L, Option(30L), None: Option[Long], None: Option[Long], None: Option[Long],
      "Jane", null, "Jones", null, None),
    // same dob, different chamber-years, suffix-lenient dob block
    (4L, None: Option[Long], None: Option[Long], Option(40L), None: Option[Long],
      "Sam", null, "Oak", "Jr.", Option(Date.valueOf("1970-05-05"))),
    (5L, None: Option[Long], None: Option[Long], None: Option[Long], Option(50L),
      "Sam", null, "Oak", null, Option(Date.valueOf("1970-05-05")))
  ).toDF("id", "house_archive_id", "house_current_id", "senate_archive_id",
    "senate_current_id", "first", "middle", "last", "suffix", "dob")

  private lazy val service = Seq(
    (1L, 2020, Chamber.HOUSE, 5, "Democrat"),
    (2L, 2020, Chamber.HOUSE, 5, "Democrat"),
    (3L, 2020, Chamber.HOUSE, 9, "Republican"),
    (4L, 2019, Chamber.SENATE, 3, "Democrat"),
    (5L, 2021, Chamber.SENATE, 3, "Democrat")
  ).toDF("member_id", "year", "chamber", "district", "party")

  test("candidate pairs come from both blocks, name-gated") {
    val pairs = FindDuplicates.candidatePairs(members, service)
      .select("id1", "id2", "kind").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // Mike/Michael Jones hit BOTH blocks (same service block AND same dob);
    // the dob kind wins deterministically (reference overwrite order)
    assert(pairs.contains((1L, 2L, "dob")))
    assert(pairs.contains((4L, 5L, "dob")))     // same dob, suffix-lenient
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // Jane ≠ Mike/Michael
  }

  test("pair hit by both blocks resolves to dob deterministically; service-only stays") {
    // 6/7: service block only (dob differs) → kind=service
    // 8/9: overlapping service AND same dob → dob must win every run
    val m2 = Seq(
      (6L, Option(60L), None: Option[Long], None: Option[Long], None: Option[Long],
        "Bob", null, "Stone", null, Option(Date.valueOf("1955-03-03"))),
      (7L, None: Option[Long], Option(70L), None: Option[Long], None: Option[Long],
        "Robert", null, "Stone", null, None: Option[Date]),
      (8L, Option(80L), None: Option[Long], None: Option[Long], None: Option[Long],
        "Tim", null, "Reed", null, Option(Date.valueOf("1966-06-06"))),
      (9L, None: Option[Long], Option(90L), None: Option[Long], None: Option[Long],
        "Timothy", null, "Reed", null, Option(Date.valueOf("1966-06-06")))
    ).toDF("id", "house_archive_id", "house_current_id", "senate_archive_id",
      "senate_current_id", "first", "middle", "last", "suffix", "dob")
    val s2 = Seq(
      (6L, 2020, Chamber.HOUSE, 2, "Democrat"),
      (7L, 2020, Chamber.HOUSE, 2, "Democrat"),
      (8L, 2020, Chamber.HOUSE, 4, "Democrat"),
      (9L, 2020, Chamber.HOUSE, 4, "Democrat")
    ).toDF("member_id", "year", "chamber", "district", "party")
    val got = FindDuplicates.candidatePairs(m2, s2)
      .select("id1", "id2", "kind").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got((6L, 7L)) == "service")
    assert(got((8L, 9L)) == "dob")
    assert(got.size == 2, "one row per pair after deterministic dedup")
  }

  test("merge keeps survivor with merged name, inherited ids, deduped service") {
    val pairs = FindDuplicates.candidatePairs(members, service)
    val merges = FindDuplicates.mergeGroups(pairs)
    val applied = FindDuplicates.applyMerges(members, service, merges)

    val ids = applied.members.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L))

    val m1 = applied.members.filter($"id" === 1L).collect().head
    assert(m1.getAs[String]("first") == "Michael") // nickname resolves to canonical
    assert(m1.getAs[Long]("house_archive_id") == 10L)
    assert(m1.getAs[Long]("house_current_id") == 20L) // inherited from absorbed

    val svc1 = applied.service.filter($"member_id" === 1L).collect()
    assert(svc1.length == 1) // identical (2020, HOUSE, 5, Democrat) rows deduped
    val svc4 = applied.service.filter($"member_id" === 4L).count()
    assert(svc4 == 2) // different years survive
  }

  test("transitive duplicate chains merge into one component, no orphans") {
    // a<b<c all pairwise duplicates → pairs (a,b),(a,c),(b,c); the merge
    // must converge everything onto a, leave no service row pointing at a
    // deleted member, and not duplicate service rows
    val chain = Seq(
      (11L, Option(10L), None: Option[Long], None: Option[Long], None: Option[Long],
        "Pat", null, "Chain", null, Option(Date.valueOf("1950-02-02"))),
      (12L, None: Option[Long], Option(20L), None: Option[Long], None: Option[Long],
        "Pat", null, "Chain", null, Option(Date.valueOf("1950-02-02"))),
      (13L, None: Option[Long], None: Option[Long], Option(30L), None: Option[Long],
        "Pat", null, "Chain", null, Option(Date.valueOf("1950-02-02")))
    ).toDF("id", "house_archive_id", "house_current_id", "senate_archive_id",
      "senate_current_id", "first", "middle", "last", "suffix", "dob")
    val chainSvc = Seq(
      (11L, 2018, Chamber.HOUSE, 1, "Democrat"),
      (12L, 2019, Chamber.HOUSE, 1, "Democrat"),
      (13L, 2020, Chamber.HOUSE, 1, "Democrat")
    ).toDF("member_id", "year", "chamber", "district", "party")

    val pairs = FindDuplicates.candidatePairs(chain, chainSvc)
    assert(pairs.count() === 3) // all three pairs found via the dob block
    val merges = FindDuplicates.mergeGroups(pairs)
    assert(merges.map(m => (m.survivor, m.absorbed.toSet)).toSet ===
      Set((11L, Set(12L, 13L))))

    val applied = FindDuplicates.applyMerges(chain, chainSvc, merges)
    val memberIds = applied.members.select("id").collect().map(_.getLong(0)).toSet
    assert(memberIds === Set(11L))
    val svcOwners = applied.service.select("member_id").collect().map(_.getLong(0))
    assert(svcOwners.toSet === Set(11L), "no service may point at a deleted member")
    assert(svcOwners.length === 3, "distinct years must survive exactly once")
  }

  test("year-edit intent: add-intent never removes, remove-intent never adds") {
    val svc = Seq(
      (1L, 2020, Chamber.HOUSE, 5, "Democrat"),
      (1L, 2021, Chamber.HOUSE, 5, "Democrat"),
      (2L, 2020, Chamber.HOUSE, 9, "Republican")
    ).toDF("member_id", "year", "chamber", "district", "party")
    val mem = Seq((1L, "Ann", "Alpha"), (2L, "Bob", "Beta"))
      .toDF("id", "first", "last")

    // add-intent for Alpha 2021 (unique existing match): reference takes
    // NO action (apply_edits.py:34 runs only when nothing matches) — the
    // row must survive. remove-intent for Beta 2021 (no match): no action,
    // and in particular NO neighbor-year add.
    val edits = Seq(
      ApplyEdits.YearEdit(2021, Chamber.HOUSE, None, "Alpha", remove = false),
      ApplyEdits.YearEdit(2021, Chamber.HOUSE, None, "Beta", remove = true))
    val out = ApplyEdits.applyYearEdits(svc, mem, edits)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(3))).toSet
    assert(out.contains((1L, 2021, 5)), "add-intent must not remove")
    assert(!out.contains((2L, 2021, 9)), "remove-intent must not add")
    assert(out.size === 3)
  }

  // ---- ApplyEdits ------------------------------------------------------

  /** the in-repo excerpt, plus the reference's edits.yaml where mounted */
  private val editsFiles = (VoteFixtures.editsYaml +:
    Seq(VoteFixtures.publishedEdits).filter(java.nio.file.Files.isRegularFile(_)))
    .map(_.toString)

  test("parseYaml reads the reference edits.yaml") {
    for (file <- editsFiles) withClue(s"$file: ") {
      val e = ApplyEdits.parseYaml(file)
      assert(e.yearEdits.nonEmpty)
      assert(e.yearEdits.exists(y => y.last == "Sabatina" && y.year == 2022 &&
        y.chamber == Chamber.SENATE))
      assert(e.yearEdits.exists(y => y.first.contains("Daniel") && y.last == "McNeill"))
      // intent comes from the YAML value: 2015 Senate Smith/Stack are
      // add-intent (value `true`); null-valued keys are removals
      assert(e.yearEdits.exists(y => y.last == "Smith" && y.year == 2015 && !y.remove))
      assert(e.yearEdits.exists(y => y.last == "Sabatina" && y.remove))
      assert(e.voteRenames.nonEmpty)
    }
  }

  test("ranged renames parsed from the REAL yaml apply to in-window votes") {
    // SnakeYAML parses bare dates as java.util.Date; a regression here
    // turns every ranged rename into a silent no-op
    for (file <- editsFiles) withClue(s"$file: ") {
      val e = ApplyEdits.parseYaml(file)
      val keller = e.voteRenames.find(r => r.before == "KELLER" && r.start.isDefined).get
      assert(keller.start.get == "2019-09-16 00:00:00", s"got: ${keller.start.get}")

      val votes = Seq(
        (1L, 100L, "KELLER", VoteCode.YEA, None: Option[Long]),
        (1L, 101L, "KELLER", VoteCode.NAY, None: Option[Long])
      ).toDF("session_id", "roll_id", "name", "vote", "member_id")
      val rolls = Seq(
        (100L, Timestamp.valueOf("2019-10-01 12:00:00")),   // inside window
        (101L, Timestamp.valueOf("2019-01-01 12:00:00"))    // before window
      ).toDF("roll_id", "stamp")
      val out = ApplyEdits.applyVoteRenames(votes, rolls, Seq(keller))
        .select("roll_id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out(100L) == "KELLER, M. K.", "in-window vote must be renamed")
      assert(out(101L) == "KELLER", "out-of-window vote must keep its name")
    }
  }

  test("year edit removes unique match and adds from neighbor year") {
    val svc = Seq(
      (1L, 2020, Chamber.HOUSE, 5, "Democrat"),
      (1L, 2021, Chamber.HOUSE, 5, "Democrat"),
      (2L, 2020, Chamber.HOUSE, 9, "Republican")
    ).toDF("member_id", "year", "chamber", "district", "party")
    val mem = Seq((1L, "Ann", "Alpha"), (2L, "Bob", "Beta"))
      .toDF("id", "first", "last")
      .withColumnRenamed("first", "first").withColumnRenamed("last", "last")

    // remove Alpha 2021 (null-value edit); add Beta 2021 from its 2020
    // neighbor row (non-null edit value — apply_edits.py:26 vs :34)
    val edits = Seq(
      ApplyEdits.YearEdit(2021, Chamber.HOUSE, None, "Alpha", remove = true),
      ApplyEdits.YearEdit(2021, Chamber.HOUSE, None, "Beta", remove = false))
    val out = ApplyEdits.applyYearEdits(svc, mem, edits)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(3))).toSet
    assert(!out.contains((1L, 2021, 5)))
    assert(out.contains((2L, 2021, 9)))
  }

  test("vote renames: simple everywhere, ranged only inside the stamp window") {
    val votes = Seq(
      (1L, 100L, "OLD", VoteCode.YEA, None: Option[Long]),
      (1L, 101L, "OLD", VoteCode.NAY, None: Option[Long]),
      (1L, 100L, "KELLER", VoteCode.YEA, None: Option[Long]),
      (1L, 101L, "KELLER", VoteCode.NAY, None: Option[Long])
    ).toDF("session_id", "roll_id", "name", "vote", "member_id")
    val rolls = Seq(
      (100L, Timestamp.valueOf("2019-03-01 12:00:00")),
      (101L, Timestamp.valueOf("2019-09-01 12:00:00"))
    ).toDF("roll_id", "stamp")

    val renames = Seq(
      ApplyEdits.VoteRename("OLD", "NEW", None, None),
      ApplyEdits.VoteRename("KELLER", "KELLER M.",
        Some("2019-01-01"), Some("2019-06-01")))
    val out = ApplyEdits.applyVoteRenames(votes, rolls, renames)
      .select("roll_id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((100L, "NEW"), (101L, "NEW"),
      (100L, "KELLER M."), (101L, "KELLER")))
  }

  test("member renames update only matching rows/fields") {
    val mem = Seq((1L, "Ann", "Alpha"), (2L, "Bob", "Beta")).toDF("id", "first", "last")
    val out = ApplyEdits.applyMemberRenames(mem,
      Seq(ApplyEdits.MemberRename(Map("id" -> 1L), Map("last" -> "Gamma"))))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out == Set((1L, "Gamma"), (2L, "Beta")))
  }
}
