package graft.votes

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** ER pipeline tests: blocked fuzzy pass + substring fixed point
  * (reference: match_names.py).
  */
class MatchNamesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  /** The pass-1 blocking join: a physical join keyed on `_block`. */
  private def blockJoins(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "_block")) => j
  }

  private lazy val roster = Seq(
    (2023, Chamber.HOUSE, 1L, "Patrick", "J.", "Harkins", null),
    (2023, Chamber.HOUSE, 2L, "Robert", "E.", "Merski", null),
    (2023, Chamber.HOUSE, 3L, "Ryan", "A.", "Bizzarro", null),
    (2023, Chamber.HOUSE, 4L, "Michael", null, "Smith", null),
    (2023, Chamber.HOUSE, 5L, "Jane", null, "Smith", null),
    (2023, Chamber.HOUSE, 6L, "Amen", null, "Brown", null),
    (2023, Chamber.HOUSE, 7L, "Marla", null, "Brown", null),
    (2023, Chamber.HOUSE, 8L, "Carrie", "A. Lewis", "DelRosso", null)
  ).toDF("year", "chamber", "member_id", "first", "middle", "last", "suffix")

  private def namesDf(names: String*) =
    names.map(n => (2023, Chamber.HOUSE, n))
      .toDF("year", "chamber", "name")

  test("ambiguity report lists candidates per unresolved name, per reference roles") {
    // SMITH is ambiguous (two Smith members, bare last can't resolve);
    // DELROSSO never appears as a vote name → unmatched_member;
    // NOSUCH matches nobody → unmatched_name. HARKINS resolves and must
    // not appear at all.
    val r = MatchNames.run(spark,
      namesDf("HARKINS", "SMITH", "NOSUCH"),
      roster.filter($"member_id".isin(1L, 4L, 5L, 8L)))
    val rows = MatchNames.ambiguityReport(r).collect()
      .map(x => (x.getString(2), x.getString(3), Option(x.get(4)),
        Option(x.getAs[String]("member_name"))))

    val ambiguous = rows.filter(_._2 == "ambiguous")
    assert(ambiguous.map(_._3.get).toSet == Set(4L, 5L))
    assert(ambiguous.map(_._4.get).toSet == Set("Michael Smith", "Jane Smith"))
    assert(rows.filter(_._2 == "unmatched_member").map(t => (t._1, t._4.get)).toSeq ==
      Seq(("DELROSSO", "Carrie A. Lewis DelRosso")))
    assert(rows.filter(_._2 == "unmatched_name").map(_._1).toSeq == Seq("NOSUCH"))
    assert(!rows.exists(_._1 == "HARKINS"))
  }

  test("pass-2 residue over maxResidue fails loudly instead of OOMing the driver") {
    // three unmatchable probes → residue 3 > cap 2; the guard must trip
    // before the driver-side fixed point starts
    val e = intercept[IllegalArgumentException] {
      MatchNames.run(spark, namesDf("ZZZXA", "ZZZXB", "ZZZXC"), roster,
        maxResidue = 2)
    }
    assert(e.getMessage.contains("residue exceeds"))
  }

  test("bare last name matches when unique in block") {
    val r = MatchNames.run(spark, namesDf("HARKINS", "MERSKI"), roster)
    val m = r.matches.collect().map(x => x.getString(2) -> x.getLong(3)).toMap
    assert(m == Map("HARKINS" -> 1L, "MERSKI" -> 2L))
    assert(r.missingNames.count() == 0)
  }

  test("bare ambiguous last name does not match") {
    val r = MatchNames.run(spark, namesDf("SMITH"), roster)
    assert(r.matches.filter($"method" === "fuzzy").count() == 0)
  }

  test("duplicate roster rows with identical name tuples still match") {
    // the reference's member_lookup collapses identical name tuples into
    // one dict key (match_names.py:106), so a pre-merge duplicate member
    // record must not trip the uniqueness gate
    val dupRoster = Seq(
      (2023, Chamber.HOUSE, 1L, "Patrick", "J.", "Harkins", null),
      (2023, Chamber.HOUSE, 9L, "Patrick", "J.", "Harkins", null)
    ).toDF("year", "chamber", "member_id", "first", "middle", "last", "suffix")
    val r = MatchNames.run(spark, namesDf("HARKINS"), dupRoster)
    val m = r.matches.filter($"method" === "fuzzy").collect()
    assert(m.length == 1, "one distinct name tuple must match")
    assert(m.head.getLong(3) == 1L)
  }

  test("first-name qualified ambiguous last matches; nickname resolves") {
    val r = MatchNames.run(spark, namesDf("MIKE SMITH", "JANE SMITH", "A. BROWN"), roster)
    val m = r.matches.collect().map(x => x.getString(2) -> x.getLong(3)).toMap
    assert(m("MIKE SMITH") == 4L)
    assert(m("JANE SMITH") == 5L)
    assert(m("A. BROWN") == 6L)
  }

  test("substring pass resolves what fuzzy cannot, with uniqueness gate") {
    // "BIZZ" is not parseable to a last name match but is a substring of
    // exactly one unmatched member's last
    val r = MatchNames.run(spark, namesDf("HARKINS", "BIZZ"), roster)
    val m = r.matches.collect().map(x => (x.getString(2), x.getLong(3), x.getString(4)))
    assert(m.contains(("BIZZ", 3L, "substring")))
  }

  test("applyMatches fills member ids only for fully-resolved groups") {
    val votes = Seq(
      (1L, 100L, "HARKINS", VoteCode.YEA, None: Option[Long]),
      (1L, 100L, "MERSKI", VoteCode.NAY, None: Option[Long])
    ).toDF("session_id", "roll_id", "name", "vote", "member_id")
    val rollYc = Seq((100L, 2023, Chamber.HOUSE)).toDF("roll_id", "year", "chamber")

    // full roster unmatched → group NOT fully resolved → no fill
    val r1 = MatchNames.run(spark, namesDf("HARKINS", "MERSKI"), roster)
    val v1 = MatchNames.applyMatches(votes, rollYc, r1)
    assert(v1.filter($"member_id".isNotNull).count() == 0)

    // restrict roster to the two matched members → fully resolved → fill
    val smallRoster = roster.filter($"member_id" <= 2L)
    val r2 = MatchNames.run(spark, namesDf("HARKINS", "MERSKI"), smallRoster)
    val v2 = MatchNames.applyMatches(votes, rollYc, r2)
    assert(v2.filter($"member_id".isNotNull).count() == 2)
  }

  test("ER join plan stays blocked (no cartesian product)") {
    val plan = MatchNames.pass1(namesDf("HARKINS", "MERSKI", "MIKE SMITH"), roster)
      .queryExecution.executedPlan
    assert(blockJoins(plan).nonEmpty, s"pass 1 has no join keyed on _block:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"),
      s"ER join degraded to cartesian product:\n$plan")
  }

  test("roster-side residue over maxResidue fails loudly too") {
    // HARKINS resolves, so the voter-name residue is empty, but seven
    // roster members stay unmatched: over cap 2 on the roster side only
    val e = intercept[IllegalArgumentException] {
      MatchNames.run(spark, namesDf("HARKINS"), roster, maxResidue = 2)
    }
    assert(e.getMessage.contains("unmatched roster residue exceeds 2 rows"))
  }

  test("Result frames equal the anti-join formulas over pass 1") {
    // BIZZ resolves by substring; SMITH stays ambiguous; 2021 House has
    // voter names but no roster; 2023 Senate has roster members but no
    // voter names
    val names = Seq(
      (2023, Chamber.HOUSE, "HARKINS"), (2023, Chamber.HOUSE, "BIZZ"),
      (2023, Chamber.HOUSE, "SMITH"), (2021, Chamber.HOUSE, "HARKINS"),
      (2021, Chamber.HOUSE, "NOSUCH")
    ).toDF("year", "chamber", "name")
    val senate = Seq(
      (2023, Chamber.SENATE, 20L, "Jay", None: Option[String], "Costa", Some("Jr.")),
      (2023, Chamber.SENATE, 21L, "Lisa", Some("M."), "Boscola", None: Option[String])
    ).toDF("year", "chamber", "member_id", "first", "middle", "last", "suffix")
    val members = roster.withColumn("suffix", col("suffix").cast("string"))
      .unionByName(senate)

    val r = MatchNames.run(spark, names, members)

    // the reference: pass 1 unmaterialized, the residues and Result frames
    // as anti-joins against it, pass 2's rows taken from the run
    val fuzzy = MatchNames.pass1(names, members)
    val missing1 = names.join(fuzzy, Seq("year", "chamber", "name"), "left_anti")
    val unmatched1 = members.join(fuzzy.select("year", "chamber", "member_id"),
      Seq("year", "chamber", "member_id"), "left_anti")
    val matches = fuzzy.unionByName(r.matches.filter($"method" === "substring"))
    val want = Seq(
      "matches" -> matches,
      "missingNames" -> missing1.join(matches, Seq("year", "chamber", "name"), "left_anti"),
      "unmatchedMembers" -> unmatched1.join(matches.select("year", "chamber", "member_id"),
        Seq("year", "chamber", "member_id"), "left_anti"))
    val got = Seq(r.matches, r.missingNames, r.unmatchedMembers)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (((what, w), g) <- want.zip(got)) {
      assert(g.schema.map(f => (f.name, f.dataType)) == w.schema.map(f => (f.name, f.dataType)),
        what)
      assert(rows(g) == rows(w), what)
    }

    // every case above is exercised
    assert(rows(r.matches.select("name", "member_id", "method")) ==
      Seq("[BIZZ,3,substring]", "[HARKINS,1,fuzzy]"))
    assert(rows(r.missingNames) == Seq("[2021,1,HARKINS]", "[2021,1,NOSUCH]", "[2023,1,SMITH]"))
    assert(r.unmatchedMembers.filter($"chamber" === Chamber.SENATE).count() == 2)
  }

  test("pass 1 runs once per run, however the Result is read") {
    val executions = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executions.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val r = MatchNames.run(spark, namesDf("HARKINS", "BIZZ", "SMITH"), roster)
      Seq(r.matches, r.missingNames, r.unmatchedMembers).foreach(_.collect())
      // executions are reported in order on the listener bus: once the
      // marker's has arrived, so have those of every earlier action
      spark.range(1).select(lit(1).as("_marker")).collect()
      eventually(timeout(30.seconds)) {
        assert(executions.asScala.exists(_.analyzed.output.exists(_.name == "_marker")))
      }
      val runs = executions.asScala.count(qe => blockJoins(qe.executedPlan).nonEmpty)
      assert(runs == 1, s"pass 1 ran $runs times")
    } finally spark.listenerManager.unregister(listener)
  }
}
