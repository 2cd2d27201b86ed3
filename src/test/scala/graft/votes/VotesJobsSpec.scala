package graft.votes

import java.nio.file.Files

import graft.JobCensus.observe
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

/** The job floor of the votes stages that apply driver-held decisions.
  * Edits, merge mappings and merged names go into the plan as literal
  * expressions, never as local frames (each distinct local frame in a
  * broadcast join is one more job), and each stage's frames are computed
  * once. Inputs are parquet tables read with their schema, as a pipeline
  * stage reads its predecessor's output; each call is measured together
  * with one write of every frame it returns (the `noop` sink, one job per
  * frame). Each bound reads "≤ N, measured N, parent M", the parent being
  * the join formulation each call replaced.
  */
class VotesJobsSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val f = new VoteFrames(spark)
  private lazy val dir = Files.createTempDirectory("graft_votes_jobs_").toString

  /** `df` written to parquet and read back with its schema */
  private def stored(name: String, df: DataFrame): DataFrame = {
    df.write.parquet(s"$dir/$name")
    spark.read.schema(df.schema).parquet(s"$dir/$name")
  }
  private lazy val members = stored("members", f.members)
  private lazy val service = stored("service", f.service)
  // the null voter name is VotesOracleSpec's case; a pass 2 that fails
  // on it would leave nothing to count
  private lazy val voterNames =
    stored("voter_names", f.voterNames.filter(col("name").isNotNull))
  private lazy val roster = stored("roster", f.roster)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Seq(members, service, voterNames, roster) // written outside the measured calls
  }

  private def written(dfs: DataFrame*): Unit =
    dfs.foreach(_.write.format("noop").mode("overwrite").save())

  private def jobs(what: String)(body: => Unit): Int = {
    val n = observe(spark)(body).jobs
    info(s"$what: $n jobs")
    n
  }

  test("applyVoteRenames: the renames are literals, the roll stamps one join") {
    val votes = stored("votes", f.votes)
    val stamps = stored("stamps", f.rollStamps)
    val n = jobs("applyVoteRenames") {
      written(ApplyEdits.applyVoteRenames(votes, stamps, f.voteRenames))
    }
    assert(n <= 2, s"applyVoteRenames ran $n jobs") // measured 2, parent 4
  }

  test("applyYearEdits: one action for the named rows, one write") {
    val n = jobs("applyYearEdits") {
      written(ApplyEdits.applyYearEdits(service, members, f.yearEdits))
    }
    assert(n <= 3, s"applyYearEdits ran $n jobs") // measured 3, parent 12
  }

  test("candidatePairs: one action pulls the members and their blocks") {
    val n = jobs("candidatePairs") {
      written(FindDuplicates.candidatePairs(members, service))
    }
    assert(n <= 2, s"candidatePairs ran $n jobs") // measured 2, parent 7
  }

  test("applyMerges: mapping and names are literals, one dedup shuffle") {
    val merges = FindDuplicates.mergeGroups(FindDuplicates.candidatePairs(members, service))
    assert(merges.nonEmpty)
    val n = jobs("applyMerges") {
      val a = FindDuplicates.applyMerges(members, service, merges)
      written(a.members, a.service)
    }
    assert(n <= 4, s"applyMerges ran $n jobs") // measured 4, parent 9
  }

  test("MatchNames.run: pass 1 and both residues from one checkpoint") {
    val n = jobs("MatchNames.run") {
      val r = MatchNames.run(spark, voterNames, roster)
      written(r.matches, r.missingNames, r.unmatchedMembers)
    }
    assert(n <= 6, s"MatchNames.run ran $n jobs") // measured 6, parent 15-16
  }

  test("applyMatches: the incomplete groups gate an anti-join without a dedup") {
    val r = MatchNames.run(spark, voterNames, roster)
    val result = MatchNames.Result(stored("matches", r.matches),
      stored("missing", r.missingNames), stored("unmatched", r.unmatchedMembers))
    val votes = stored("match_votes", f.votes)
    val rollYc = stored("roll_yc", f.rollYearChamber)
    val n = jobs("applyMatches") {
      written(MatchNames.applyMatches(votes, rollYc, result))
    }
    assert(n <= 4, s"applyMatches ran $n jobs") // measured 4, parent 5
  }
}
