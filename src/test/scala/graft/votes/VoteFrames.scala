package graft.votes

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small votes-model frames for the oracle and job-floor specs, with the
  * edge cases the rewrites of the edit, merge and match stages must
  * keep: a null voter name, roll stamps equal to a ranged rename's window
  * bounds, two-word year-edit keys, a 3-member merge chain and a pair hit
  * by both duplicate blocks.
  */
final class VoteFrames(spark: SparkSession) {
  import spark.implicits._

  private def d(s: String) = Option(Date.valueOf(s))
  private val none = Option.empty[Long]

  /** 1/2: same service block AND same dob (hit by both blocks); 4/5: dob
    * only; 6/7: service blocks only, shared in two years; 11/12/13: a
    * 3-member chain; 15: no last name.
    */
  lazy val members: DataFrame = Seq(
    (1L, Option(10L), none, none, none, "Mike", null, "Jones", null, d("1960-01-01")),
    (2L, none, Option(20L), none, none, "Michael", "T.", "Jones", null, d("1960-01-01")),
    (3L, Option(30L), none, none, none, "Jane", null, "Jones", null, None),
    (4L, none, none, Option(40L), none, "Sam", null, "Oak", "Jr.", d("1970-05-05")),
    (5L, none, none, none, Option(50L), "Sam", null, "Oak", null, d("1970-05-05")),
    (6L, Option(60L), none, none, none, "Bob", null, "Stone", null, d("1955-03-03")),
    (7L, none, Option(70L), none, none, "Robert", null, "Stone", null, None),
    (8L, none, Option(80L), none, none, "Ann", null, "Alpha", null, None),
    (9L, none, Option(90L), none, none, "Bob", null, "Beta", null, None),
    (11L, Option(110L), none, none, none, "Pat", null, "Chain", null, d("1950-02-02")),
    (12L, none, Option(120L), none, none, "Pat", null, "Chain", null, d("1950-02-02")),
    (13L, none, none, Option(130L), none, "Pat", null, "Chain", null, d("1950-02-02")),
    (15L, none, Option(150L), none, none, "Cher", null, null, null, None)
  ).toDF("id", "house_archive_id", "house_current_id", "senate_archive_id",
    "senate_current_id", "first", "middle", "last", "suffix", "dob")

  /** includes a duplicated row of a member no merge touches and a row
    * with no member */
  lazy val service: DataFrame = Seq(
    (Option(1L), 2020, Chamber.HOUSE, 5, "Democrat"),
    (Option(2L), 2020, Chamber.HOUSE, 5, "Democrat"),
    (Option(3L), 2020, Chamber.HOUSE, 9, "Republican"),
    (Option(3L), 2020, Chamber.HOUSE, 9, "Republican"),
    (Option(4L), 2019, Chamber.SENATE, 3, "Democrat"),
    (Option(5L), 2021, Chamber.SENATE, 3, "Democrat"),
    (Option(6L), 2020, Chamber.HOUSE, 2, "Democrat"),
    (Option(7L), 2020, Chamber.HOUSE, 2, "Democrat"),
    (Option(6L), 2021, Chamber.HOUSE, 2, "Democrat"),
    (Option(7L), 2021, Chamber.HOUSE, 2, "Democrat"),
    (Option(8L), 2020, Chamber.HOUSE, 7, "Democrat"),
    (Option(8L), 2021, Chamber.HOUSE, 7, "Democrat"),
    (Option(9L), 2020, Chamber.HOUSE, 8, "Republican"),
    (Option(11L), 2018, Chamber.HOUSE, 1, "Democrat"),
    (Option(12L), 2019, Chamber.HOUSE, 1, "Democrat"),
    (Option(13L), 2020, Chamber.SENATE, 1, "Democrat"),
    (Option(15L), 2020, Chamber.HOUSE, 11, "Republican"),
    (none, 2021, Chamber.HOUSE, 4, "Republican")
  ).toDF("member_id", "year", "chamber", "district", "party")

  /** unique removal, two-word removal, ambiguous removal, removal of
    * nobody, add from a neighbour year (keyed once by last name and once
    * by a two-word key that matches no last name), add where a match
    * exists, add with no neighbour */
  val yearEdits: Seq[ApplyEdits.YearEdit] = Seq(
    ApplyEdits.YearEdit(2021, Chamber.HOUSE, None, "Alpha", remove = true),
    ApplyEdits.YearEdit(2020, Chamber.HOUSE, Some("Mike"), "Jones", remove = true),
    ApplyEdits.YearEdit(2020, Chamber.HOUSE, None, "Jones", remove = true),
    ApplyEdits.YearEdit(2021, Chamber.HOUSE, None, "Nobody", remove = true),
    ApplyEdits.YearEdit(2021, Chamber.HOUSE, None, "Beta", remove = false),
    ApplyEdits.YearEdit(2021, Chamber.HOUSE, Some("Bob"), "Beta", remove = false),
    ApplyEdits.YearEdit(2020, Chamber.HOUSE, None, "Alpha", remove = false),
    ApplyEdits.YearEdit(2024, Chamber.HOUSE, None, "Beta", remove = false))

  /** every name on every roll; roll 105 has no stamp row */
  lazy val votes: DataFrame = (for {
    roll <- Seq(100L, 101L, 102L, 103L, 104L, 105L)
    name <- Seq("OLD", "KELLER", "BOTH", "PLAIN", null)
  } yield (1L, roll, name, VoteCode.YEA, none))
    .toDF("session_id", "roll_id", "name", "vote", "member_id")

  /** inside the window, outside it, on each bound, and no stamp */
  lazy val rollStamps: DataFrame = Seq(
    (100L, Option(Timestamp.valueOf("2019-03-01 12:00:00"))),
    (101L, Option(Timestamp.valueOf("2019-09-01 12:00:00"))),
    (102L, Option(Timestamp.valueOf("2019-01-01 00:00:00"))),
    (103L, Option(Timestamp.valueOf("2019-06-01 00:00:00"))),
    (104L, Option.empty[Timestamp])
  ).toDF("roll_id", "stamp")

  val voteRenames: Seq[ApplyEdits.VoteRename] = Seq(
    ApplyEdits.VoteRename("OLD", "NEW", None, None),
    ApplyEdits.VoteRename("KELLER", "KELLER M.", Some("2019-01-01"), Some("2019-06-01")),
    ApplyEdits.VoteRename("BOTH", "BOTH S.", None, None),
    ApplyEdits.VoteRename("BOTH", "BOTH R.", Some("2019-01-01"), Some("2019-06-01")))

  /** the 2023 House roster of MatchNamesSpec plus two Senate members */
  lazy val roster: DataFrame = Seq(
    (2023, Chamber.HOUSE, 1L, "Patrick", Option("J."), "Harkins", Option.empty[String]),
    (2023, Chamber.HOUSE, 2L, "Robert", Option("E."), "Merski", None),
    (2023, Chamber.HOUSE, 3L, "Ryan", Option("A."), "Bizzarro", None),
    (2023, Chamber.HOUSE, 4L, "Michael", None, "Smith", None),
    (2023, Chamber.HOUSE, 5L, "Jane", None, "Smith", None),
    (2023, Chamber.HOUSE, 6L, "Amen", None, "Brown", None),
    (2023, Chamber.HOUSE, 7L, "Marla", None, "Brown", None),
    (2023, Chamber.HOUSE, 8L, "Carrie", Option("A. Lewis"), "DelRosso", None),
    (2023, Chamber.SENATE, 20L, "Jay", None, "Costa", Option("Jr.")),
    (2023, Chamber.SENATE, 21L, "Lisa", Option("M."), "Boscola", None)
  ).toDF("year", "chamber", "member_id", "first", "middle", "last", "suffix")

  /** a fuzzy match, a substring match, an ambiguous bare name, a null
    * name, and a 2021 group with names but no roster */
  lazy val voterNames: DataFrame = Seq(
    (2023, Chamber.HOUSE, "HARKINS"), (2023, Chamber.HOUSE, "BIZZ"),
    (2023, Chamber.HOUSE, "SMITH"), (2023, Chamber.HOUSE, "A. BROWN"),
    (2023, Chamber.HOUSE, null), (2021, Chamber.HOUSE, "HARKINS"),
    (2021, Chamber.HOUSE, "NOSUCH")
  ).toDF("year", "chamber", "name")

  /** the rolls of [[votes]], placed in the 2023 House */
  lazy val rollYearChamber: DataFrame =
    Seq(100L, 101L, 102L, 103L, 104L, 105L).map(r => (r, 2023, Chamber.HOUSE))
      .toDF("roll_id", "year", "chamber")
}
