package graft.votes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The join formulations of the votes stages that now apply driver-held
  * decisions as literal expressions: edits, merge mappings and merged
  * names as broadcast-joined local frames, pass 1 as an inner blocked
  * join, its residues as anti-joins. [[VotesOracleSpec]] holds each
  * rewritten stage to the rows, column names and types of its formulation
  * here.
  */
object JoinFormulations {

  // ---- ApplyEdits --------------------------------------------------------

  def applyVoteRenames(votes: DataFrame, rollStamps: DataFrame,
                       renames: Seq[ApplyEdits.VoteRename]): DataFrame = {
    val spark = votes.sparkSession
    import spark.implicits._
    if (renames.isEmpty) return votes

    val simple = renames.filter(_.start.isEmpty)
      .map(r => (r.before, r.after)).toDF("_before", "_after_simple")
    val ranged = renames.filter(_.start.isDefined)
      .map(r => (r.before, r.after, r.start.get, r.stop.get))
      .toDF("_before_r", "_after_ranged", "_start", "_stop")

    votes
      .join(broadcast(simple), votes("name") === col("_before"), "left")
      .join(rollStamps.select(col("roll_id").as("_rs_roll"), col("stamp").as("_stamp")),
        votes("roll_id") === col("_rs_roll"), "left")
      .join(broadcast(ranged),
        votes("name") === col("_before_r") &&
          col("_stamp") > col("_start").cast("timestamp") &&
          col("_stamp") < col("_stop").cast("timestamp"), "left")
      .withColumn("name", coalesce(col("_after_ranged"), col("_after_simple"), col("name")))
      .drop("_before", "_after_simple", "_before_r", "_after_ranged",
        "_start", "_stop", "_rs_roll", "_stamp")
  }

  def applyYearEdits(service: DataFrame, members: DataFrame,
                     edits: Seq[ApplyEdits.YearEdit]): DataFrame = {
    val spark = service.sparkSession
    import spark.implicits._
    if (edits.isEmpty) return service

    def toDf(es: Seq[ApplyEdits.YearEdit]) = broadcast(es
      .map(e => (e.year, e.chamber, e.first.getOrElse(""), e.last,
        e.first.map(f => s"$f ${e.last}").getOrElse(e.last)))
      .toDF("e_year", "e_chamber", "e_first", "e_last", "e_raw"))
    val removeEdits = toDf(edits.filter(_.remove))
    val addEdits = toDf(edits.filterNot(_.remove))

    val sm = service.as("sv")
      .join(members.as("m"), col("sv.member_id") === col("m.id"), "left")

    def exactMatches(editDf: DataFrame) = sm.join(editDf,
        col("m.last") === col("e_last") && col("sv.chamber") === col("e_chamber") &&
          col("sv.year") === col("e_year") &&
          (col("e_first") === "" || col("m.first") === col("e_first")))
      .groupBy("e_year", "e_chamber", "e_first", "e_last")
      .agg(count(lit(1)).as("_n"), min(col("m.id")).as("_mid"))

    val removals = exactMatches(removeEdits).filter(col("_n") === 1)
      .select(col("e_year").as("r_year"), col("e_chamber").as("r_chamber"),
        col("_mid").as("r_mid"))
    val afterRemove = service.join(broadcast(removals),
      col("year") === col("r_year") && col("chamber") === col("r_chamber") &&
        col("member_id") === col("r_mid"), "left_anti")

    val toAdd = addEdits.join(exactMatches(addEdits),
        Seq("e_year", "e_chamber", "e_first", "e_last"), "left_anti")
    val neighbor = sm.join(toAdd,
        col("m.last") === col("e_raw") && col("sv.chamber") === col("e_chamber") &&
          (col("sv.year") === col("e_year") - 1 || col("sv.year") === col("e_year") + 1))
      .groupBy("e_year", "e_chamber", "e_last")
      .agg(count(lit(1)).as("_n"), min(col("m.id")).as("member_id"),
        min(col("sv.district")).as("district"), min(col("sv.party")).as("party"))
      .filter(col("_n") === 1)
      .select(col("member_id"), col("e_year").as("year"),
        col("e_chamber").as("chamber"), col("district"), col("party"))

    afterRemove.unionByName(neighbor.select(afterRemove.columns.map(col): _*))
  }

  // ---- FindDuplicates ----------------------------------------------------

  private val idFields = Seq("house_archive_id", "house_current_id",
    "senate_archive_id", "senate_current_id")

  private def named(df: DataFrame, p: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))

  private def sameNameHit(p1: String, p2: String, requireSuffix: Boolean): Column =
    NameUdfs.isSameName(
      col(p1 + "first"), col(p1 + "middle"), col(p1 + "last"), col(p1 + "suffix"),
      col(p2 + "first"), col(p2 + "middle"), col(p2 + "last"), col(p2 + "suffix"),
      lit(requireSuffix))

  private def mergable(p1: String, p2: String): Column =
    idFields.map(f => col(p1 + f).isNull || col(p2 + f).isNull).reduce(_ && _)

  def candidatePairs(members: DataFrame, service: DataFrame): DataFrame = {
    val m1 = named(members, "a_")
    val m2 = named(members, "b_")

    val svc = service.select(col("member_id"), col("year"), col("chamber"))
    val blocked = svc.as("s1")
      .join(members.select(col("id"), lower(col("last")).as("_last")).as("l1"),
        col("s1.member_id") === col("l1.id"))
      .select(col("year"), col("chamber"), col("_last"), col("id"))
    val svcPairs = blocked.as("x")
      .join(blocked.as("y"), Seq("year", "chamber", "_last"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
      .join(m1, "a_id").join(m2, "b_id")
      .withColumn("_merged", sameNameHit("a_", "b_", requireSuffix = true))
      .withColumn("kind", lit("service"))

    val dobPairs = m1.filter(col("a_dob").isNotNull).as("x")
      .join(m2.filter(col("b_dob").isNotNull).as("y"),
        col("a_dob") === col("b_dob") && col("a_id") < col("b_id"))
      .withColumn("_merged", sameNameHit("a_", "b_", requireSuffix = false))
      .withColumn("kind", lit("dob"))

    svcPairs.unionByName(dobPairs)
      .filter(col("_merged").isNotNull && mergable("a_", "b_"))
      .select(col("a_id").as("id1"), col("b_id").as("id2"), col("kind"),
        col("_merged._1").as("m_first"), col("_merged._2").as("m_middle"),
        col("_merged._3").as("m_last"), col("_merged._4").as("m_suffix"))
      .withColumn("_rn", row_number().over(Window.partitionBy("id1", "id2")
        .orderBy(when(col("kind") === "dob", 0).otherwise(1))))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  def applyMerges(members: DataFrame, service: DataFrame,
                  merges: Seq[FindDuplicates.Merge]): FindDuplicates.Applied = {
    if (merges.isEmpty) return FindDuplicates.Applied(members, service)
    val spark = members.sparkSession
    import spark.implicits._

    val mapping = merges.flatMap(m => m.absorbed.map(a => (a, m.survivor)))
      .toDF("old_id", "new_id")
    val nameUpd = merges.map(m => (m.survivor,
      m.mergedName.first, m.mergedName.middle, m.mergedName.last, m.mergedName.suffix))
      .toDF("_uid", "_first", "_middle", "_last", "_suffix")

    val absorbedIds = members.join(mapping, col("id") === col("old_id"))
      .groupBy("new_id")
      .agg(
        idFields.map(f => max(col(f)).as("_abs_" + f)).head,
        idFields.map(f => max(col(f)).as("_abs_" + f)).tail: _*)

    val survivors = members
      .join(mapping, col("id") === col("old_id"), "left_anti")
      .join(nameUpd, col("id") === col("_uid"), "left")
      .join(absorbedIds, col("id") === col("new_id"), "left")
    val renamed = idFields.foldLeft(
      survivors
        .withColumn("first", when(col("_uid").isNotNull && col("_first") =!= "",
          col("_first")).otherwise(col("first")))
        .withColumn("middle", when(col("_uid").isNotNull && col("_middle") =!= "",
          col("_middle")).otherwise(col("middle")))
        .withColumn("last", when(col("_uid").isNotNull && col("_last") =!= "",
          col("_last")).otherwise(col("last")))
        .withColumn("suffix", when(col("_uid").isNotNull && col("_suffix") =!= "",
          col("_suffix")).otherwise(col("suffix")))
    )((d, f) => d.withColumn(f, coalesce(col(f), col("_abs_" + f))))
      .select(members.columns.map(col): _*)

    val newService = service
      .join(mapping, col("member_id") === col("old_id"), "left")
      .withColumn("member_id", coalesce(col("new_id"), col("member_id")))
      .drop("old_id", "new_id")
      .dropDuplicates("member_id", "chamber", "year", "district", "party")

    FindDuplicates.Applied(renamed, newService)
  }

  // ---- MatchNames --------------------------------------------------------

  private val parseProbe = udf { (name: String) =>
    val t = Names.pythonTitle(if (name == null) "" else name)
    val nm = if (!t.contains(' ')) Name(last = t) else Name.parse(t)
    (nm.first, nm.middle, nm.last, nm.suffix)
  }

  /** pass 1 as an inner blocked join with a distinct-count uniqueness gate */
  def pass1(voterNames: DataFrame, roster: DataFrame): DataFrame = {
    val probes = voterNames
      .withColumn("_p", parseProbe(col("name")))
      .withColumn("_block", lower(col("_p._3")))
    val wBlock = Window.partitionBy("year", "chamber", "_block")
    val nameTuple = struct(col("first"), col("middle"), col("last"), col("suffix"))
    val rosterB = roster
      .withColumn("_block", lower(coalesce(col("last"), lit(""))))
      .withColumn("_ntuple", nameTuple)
      .withColumn("_n_last", size(collect_set(col("_ntuple")).over(wBlock)))
    val normFirst = when(length(col("_p._1")) === 2 &&
      substring(col("_p._1"), 2, 1) === ".", substring(col("_p._1"), 1, 1))
      .otherwise(col("_p._1"))
    val joined = probes.join(rosterB, Seq("year", "chamber", "_block"))
      .withColumn("_norm_first", normFirst)
      .withColumn("_hit_single", NameUdfs.isSameName(
        col("_p._1"), col("_p._2"), col("_p._3"), col("_p._4"),
        col("first"), col("middle"), col("last"), col("suffix"),
        lit(false)).isNotNull)
      .withColumn("_hit_multi", col("_p._1") =!= "" && NameUdfs.isSameName(
        col("_norm_first"), col("_p._2"), col("_p._3"), col("_p._4"),
        col("first"), col("middle"), col("last"), col("suffix"),
        lit(false)).isNotNull)
      .withColumn("_hit",
        when(col("_n_last") === 1, col("_hit_single")).otherwise(col("_hit_multi")))
    joined
      .groupBy("year", "chamber", "name")
      .agg(min(when(col("_hit"), col("member_id"))).as("member_id"),
        countDistinct(when(col("_hit"), col("_ntuple"))).as("_n_hits"))
      .filter(col("_n_hits") === 1)
      .select(col("year"), col("chamber"), col("name"), col("member_id"),
        lit("fuzzy").as("method"))
  }

  /** The Result of [[MatchNames.run]] as anti-joins over pass 1, with pass
    * 2's rows taken from `substring` (the substring-method matches of a run).
    */
  def result(voterNames: DataFrame, roster: DataFrame,
             substring: DataFrame): MatchNames.Result = {
    val fuzzy = pass1(voterNames, roster)
    val missing1 = voterNames.join(fuzzy, Seq("year", "chamber", "name"), "left_anti")
    val unmatched1 = roster.join(fuzzy.select("year", "chamber", "member_id"),
      Seq("year", "chamber", "member_id"), "left_anti")
    val matches = fuzzy.unionByName(substring)
    MatchNames.Result(matches,
      missing1.join(matches, Seq("year", "chamber", "name"), "left_anti"),
      unmatched1.join(matches.select("year", "chamber", "member_id"),
        Seq("year", "chamber", "member_id"), "left_anti"))
  }

  def applyMatches(votes: DataFrame, rollYearChamber: DataFrame,
                   r: MatchNames.Result): DataFrame = {
    val incompleteGroups = r.missingNames.select("year", "chamber")
      .union(r.unmatchedMembers.select("year", "chamber")).distinct()
    val gated = r.matches.join(incompleteGroups, Seq("year", "chamber"), "left_anti")
      .select(col("year"), col("chamber"), col("name"),
        col("member_id").as("_new_member_id"))
    votes.join(rollYearChamber, Seq("roll_id"), "left")
      .join(gated, Seq("year", "chamber", "name"), "left")
      .withColumn("member_id", coalesce(col("member_id"), col("_new_member_id")))
      .drop("_new_member_id", "year", "chamber")
  }
}
