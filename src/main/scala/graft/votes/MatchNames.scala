package graft.votes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Entity resolution: link free-text voter names on roll calls to canonical
  * member records (reference: match_names.py:13-47 pass 1,
  * match_names.py:139-156 pass 2).
  *
  * Pass 1 is a blocked fuzzy join — equi-join on `lower(last)` within
  * (year, chamber) with the `is_same_name` kernel as a post-join predicate
  * and a uniqueness gate. The blocking key bounds the pairwise expansion,
  * so the join scales linearly in roster size; the plan must never degrade
  * to a cartesian product (SURVEY.md §4).
  *
  * Pass 2 is the reference's inherently iterative substring fixed point,
  * run on the driver over the (small) per-group residue of pass 1, exactly
  * matching the reference's scale assumptions (SURVEY.md §7 risk 3).
  */
object MatchNames {

  /** probe parse used by get_match (match_names.py:14-18): bare token →
    * last-only probe; otherwise HumanName(title-cased).
    */
  private val parseProbe = udf { (name: String) =>
    val t = Names.pythonTitle(if (name == null) "" else name)
    val nm = if (!t.contains(' ')) Name(last = t) else Name.parse(t)
    (nm.first, nm.middle, nm.last, nm.suffix)
  }

  final case class Result(matches: DataFrame, missingNames: DataFrame,
                          unmatchedMembers: DataFrame)

  /** Hard cap on pass-2 residue rows pulled to the driver; see [[run]]. */
  val DefaultMaxResidue = 100000

  /** Pass 1, the blocked fuzzy join (match_names.py:13-47), unmaterialized:
    * (year, chamber, name, member_id, method) for every voter name that
    * resolves to exactly one distinct roster name tuple of its block.
    */
  private[votes] def pass1(voterNames: DataFrame, roster: DataFrame): DataFrame = {
    val probes = voterNames
      .withColumn("_p", parseProbe(col("name")))
      .withColumn("_block", lower(col("_p._3")))

    // the reference's member_lookup is keyed last → {name TUPLE → member}
    // (match_names.py:106), so block cardinality and the uniqueness gate
    // count DISTINCT name tuples, not roster rows — duplicate member
    // records with identical names must not block a match
    val wBlock = Window.partitionBy("year", "chamber", "_block")
    val nameTuple = struct(col("first"), col("middle"), col("last"), col("suffix"))
    val rosterB = roster
      .withColumn("_block", lower(coalesce(col("last"), lit(""))))
      .withColumn("_ntuple", nameTuple)
      .withColumn("_n_last", size(collect_set(col("_ntuple")).over(wBlock)))

    // normalized probe first: "J." → "J" (match_names.py:36-37), applied
    // only on the multi-candidate branch of get_match
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

  /** Runs pass 1 once (one eager local checkpoint), pulls both residues to
    * the driver in one action, runs pass 2 there, and builds the residue
    * frames from the rows the driver holds, so no consumer of the
    * [[Result]] re-runs the fuzzy join.
    *
    * @param voterNames distinct voter names: (year, chamber, name)
    * @param roster     members serving: (year, chamber, member_id, first,
    *                   middle, last, suffix) — nulls allowed in name parts
    * @param maxResidue cap on the unmatched rows of each side that pass 2
    *                   may pull to the driver
    * @return matches (year, chamber, name, member_id, method), plus the
    *         unmatched residue on both sides
    */
  def run(spark: SparkSession, voterNames: DataFrame, roster: DataFrame,
          maxResidue: Int = DefaultMaxResidue): Result = {
    val fuzzyMatches = pass1(voterNames, roster).localCheckpoint(true)

    // ---- residue after pass 1
    val missing1 = voterNames.join(fuzzyMatches, Seq("year", "chamber", "name"), "left_anti")
    val unmatched1 = roster.join(
      fuzzyMatches.select(col("year"), col("chamber"), col("member_id")),
      Seq("year", "chamber", "member_id"), "left_anti")

    // ---- pass 2: substring fixed point on the driver (match_names.py:139-156).
    // The residue is per-group tiny under the reference's data model, but a
    // degraded pass 1 (e.g. a broken blocking key matching nothing) would
    // make the pull unbounded — capping each side at cap+1 rows bounds
    // driver memory and the require fails loudly with a diagnosis instead
    // of OOMing. Both sides come back in one action, each as a struct
    // column that is null on the other side's rows.
    val residue = missing1.select(struct(missing1.columns.toSeq.map(col): _*).as("_v"))
      .limit(maxResidue + 1)
      .unionByName(unmatched1.select(struct(unmatched1.columns.toSeq.map(col) :+
        upper(coalesce(col("last"), lit(""))).as("_last_u"): _*).as("_r"))
        .limit(maxResidue + 1), allowMissingColumns = true)
      .collect()
    val missingRows = residue.filterNot(_.isNullAt(0)).map(_.getStruct(0))
    require(missingRows.length <= maxResidue,
      s"MatchNames pass 2: unmatched voter-name residue exceeds $maxResidue rows — " +
        "pass 1 has degraded (check the blocking key / roster join); refusing " +
        "the driver-side fixed point")
    val unmatchedRows = residue.filterNot(_.isNullAt(1)).map(_.getStruct(1))
    require(unmatchedRows.length <= maxResidue,
      s"MatchNames pass 2: unmatched roster residue exceeds $maxResidue rows — " +
        "pass 1 has degraded (check the blocking key / roster join); refusing " +
        "the driver-side fixed point")

    val extra = Vector.newBuilder[Row]
    val groups = (missingRows.map(r => (r.getInt(0), r.getInt(1))) ++
      unmatchedRows.map(r => (r.getInt(0), r.getInt(1)))).distinct
    val missingByGroup = missingRows.toIndexedSeq.groupBy(r => (r.getInt(0), r.getInt(1)))
    val unmatchedByGroup = unmatchedRows.toIndexedSeq.groupBy(r => (r.getInt(0), r.getInt(1)))
    for ((y, c) <- groups) {
      val missingNames = collection.mutable.LinkedHashSet[String](
        missingByGroup.getOrElse((y, c), IndexedSeq.empty).map(_.getString(2)): _*)
      val unmatchedByLast = collection.mutable.LinkedHashMap[String, List[Long]]()
      for (r <- unmatchedByGroup.getOrElse((y, c), IndexedSeq.empty)) {
        val lastU = r.getString(r.length - 1)
        unmatchedByLast(lastU) = unmatchedByLast.getOrElse(lastU, Nil) :+ r.getLong(2)
      }

      var changed = true
      while (changed) {
        changed = false
        for (name <- missingNames.toList) {
          val hits = unmatchedByLast.toList.collect {
            case (lastU, ids) if lastU.contains(name) => (lastU, ids)
          }
          val ids = hits.flatMap(_._2)
          if (ids.length == 1) {
            extra += Row(y, c, name, ids.head, "substring")
            missingNames -= name
            // reference removes the WHOLE last-name bucket (match_names.py:155)
            unmatchedByLast -= hits.head._1
            changed = true
          }
        }
      }
    }

    val extraRows = extra.result()
    val extraSchema = StructType(Seq(
      StructField("year", IntegerType), StructField("chamber", IntegerType),
      StructField("name", StringType), StructField("member_id", LongType),
      StructField("method", StringType)))
    // the residue minus what pass 2 matched, with the columns and types of
    // the anti-joins that produced it
    val matchedNames = extraRows.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    val matchedIds = extraRows.map(r => (r.getInt(0), r.getInt(1), r.getLong(3))).toSet
    def local(rows: Seq[Row], schema: StructType) = spark.createDataFrame(rows.asJava, schema)
    Result(
      fuzzyMatches.unionByName(local(extraRows, extraSchema)),
      local(missingRows.toSeq.filterNot(r =>
        matchedNames((r.getInt(0), r.getInt(1), r.getString(2)))), missing1.schema),
      local(unmatchedRows.toSeq
        .filterNot(r => matchedIds((r.getInt(0), r.getInt(1), r.getLong(2))))
        .map(r => Row.fromSeq(r.toSeq.dropRight(1))), unmatched1.schema))
  }

  /** Per-group resolution stats with the reference's integer-floor percent
    * display (match_names.py:158-166, F17).
    */
  def stats(r: Result): DataFrame = {
    val m = r.matches.groupBy("year", "chamber").agg(count(lit(1)).as("n_matched"))
    val miss = r.missingNames.groupBy("year", "chamber").agg(count(lit(1)).as("n_missing"))
    val um = r.unmatchedMembers.groupBy("year", "chamber").agg(count(lit(1)).as("n_unmatched"))
    m.join(miss, Seq("year", "chamber"), "full")
      .join(um, Seq("year", "chamber"), "full")
      .na.fill(0)
      .withColumn("pct_matched",
        floor(lit(100) * col("n_matched") / (col("n_matched") + col("n_missing"))))
  }

  /** The curator-facing diagnostic listing (match_names.py:192-221): for
    * every group with unresolved residue, one row per finding —
    *
    *  - `ambiguous`: a vote name that EQUALS an unmatched member's
    *    upper(last) yet stayed unresolved; one row per candidate member
    *    (the listing a curator acts on, match_names.py:195-200);
    *  - `unmatched_member`: an unmatched member whose upper(last) no
    *    missing vote name claims (match_names.py:202-205);
    *  - `unmatched_name`: a missing vote name matching no member's last
    *    (match_names.py:216-217).
    *
    * `member_name` is the dict_to_name display ("First Middle Last
    * Suffix"); null for `unmatched_name` rows.
    */
  def ambiguityReport(r: Result): DataFrame = {
    val display = concat_ws(" ",
      Seq("first", "middle", "last", "suffix").map(c => coalesce(col(c), lit(""))): _*)
    // both frames share the Result's lineage — alias before the self-ish
    // joins so attribute references stay unambiguous
    val um = r.unmatchedMembers
      .select(col("year"), col("chamber"), col("member_id"),
        upper(coalesce(col("last"), lit(""))).as("_name"),
        trim(regexp_replace(display, " +", " ")).as("member_name"))
      .as("um")
    val missing = r.missingNames.select("year", "chamber", "name").as("ms")
    val onName = col("ms.year") === col("um.year") &&
      col("ms.chamber") === col("um.chamber") && col("ms.name") === col("um._name")

    val ambiguous = missing.join(um, onName)
      .select(col("ms.year").as("year"), col("ms.chamber").as("chamber"),
        col("ms.name").as("name"), lit("ambiguous").as("status"),
        col("um.member_id").as("member_id"), col("um.member_name").as("member_name"))
    val unmatchedMember = um.join(missing, onName, "left_anti")
      .select(col("year"), col("chamber"), col("_name").as("name"),
        lit("unmatched_member").as("status"), col("member_id"), col("member_name"))
    val unmatchedName = missing.join(um, onName, "left_anti")
      .select(col("year"), col("chamber"), col("name"),
        lit("unmatched_name").as("status"),
        lit(null).cast("long").as("member_id"),
        lit(null).cast("string").as("member_name"))

    ambiguous.unionByName(unmatchedMember).unionByName(unmatchedName)
      .orderBy("year", "chamber", "name", "member_id")
  }

  /** Write-back (S9, match_names.py:168-188): fill votes.member_id from the
    * matches, but only for (year, chamber) groups that resolved completely
    * (zero missing names AND zero unmatched members).
    */
  def applyMatches(votes: DataFrame, rollYearChamber: DataFrame, r: Result): DataFrame = {
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
