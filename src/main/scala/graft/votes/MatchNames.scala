package graft.votes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

  /** Pass 1, the blocked fuzzy join (match_names.py:13-47), unmaterialized
    * and before its uniqueness gate: every voter name (year, chamber,
    * name), with the smallest member_id among its hits and `_n_hits`, the
    * number of distinct roster name tuples of its block that it hits.
    */
  private def scored(voterNames: DataFrame, roster: DataFrame): DataFrame = {
    val probes = voterNames
      .withColumn("_p", parseProbe(col("name")))
      .withColumn("_block", lower(col("_p._3")))

    // the reference's member_lookup is keyed last → {name TUPLE → member}
    // (match_names.py:106), so block cardinality and the uniqueness gate
    // count DISTINCT name tuples, not roster rows — duplicate member
    // records with identical names must not block a match
    val rosterB = roster
      .withColumn("_block", lower(coalesce(col("last"), lit(""))))
      .withColumn("_ntuple", struct(col("first"), col("middle"), col("last"), col("suffix")))

    // normalized probe first: "J." → "J" (match_names.py:36-37), applied
    // only on the multi-candidate branch of get_match
    val normFirst = when(length(col("_p._1")) === 2 &&
      substring(col("_p._1"), 2, 1) === ".", substring(col("_p._1"), 1, 1))
      .otherwise(col("_p._1"))

    // a left join keeps the voter names no roster row shares a block with;
    // their one row has no name tuple and never hits. Each voter name meets
    // every roster row of its block, so one aggregation counts the block's
    // distinct name tuples and the hits of both branches of get_match. The
    // roster is dimension-sized: broadcast it, since a size estimate of a
    // joined roster (the product of its inputs) would plan a shuffle join
    val joined = probes.join(broadcast(rosterB), Seq("year", "chamber", "_block"), "left")
      .withColumn("_norm_first", normFirst)
      .withColumn("_single", when(NameUdfs.isSameName(
        col("_p._1"), col("_p._2"), col("_p._3"), col("_p._4"),
        col("first"), col("middle"), col("last"), col("suffix"),
        lit(false)).isNotNull, col("_ntuple")))
      .withColumn("_multi", when(col("_p._1") =!= "" && NameUdfs.isSameName(
        col("_norm_first"), col("_p._2"), col("_p._3"), col("_p._4"),
        col("first"), col("middle"), col("last"), col("suffix"),
        lit(false)).isNotNull, col("_ntuple")))

    // size(collect_set) counts distinct tuples in one aggregation, where
    // countDistinct would plan a second shuffle
    val single = size(collect_set(col("_ntuple"))) === 1
    joined
      .groupBy("year", "chamber", "name")
      .agg(single.as("_one"),
        min(when(col("_single").isNotNull, col("member_id"))).as("_single_id"),
        size(collect_set(col("_single"))).as("_n_single"),
        min(when(col("_multi").isNotNull, col("member_id"))).as("_multi_id"),
        size(collect_set(col("_multi"))).as("_n_multi"))
      .select(col("year"), col("chamber"), col("name"),
        when(col("_one"), col("_single_id")).otherwise(col("_multi_id")).as("member_id"),
        when(col("_one"), col("_n_single")).otherwise(col("_n_multi")).as("_n_hits"))
  }

  /** Pass 1's matches: (year, chamber, name, member_id, method) for every
    * voter name that resolves to exactly one distinct roster name tuple of
    * its block.
    */
  private[votes] def pass1(voterNames: DataFrame, roster: DataFrame): DataFrame =
    scored(voterNames, roster).filter(col("_n_hits") === 1)
      .select(col("year"), col("chamber"), col("name"), col("member_id"),
        lit("fuzzy").as("method"))

  /** Runs pass 1 once: one local checkpoint, a single partition,
    * holds every scored voter name and every roster row. The matches are
    * read from it, and both residues come back from it in one action that
    * anti-joins the roster rows against the matches inside that partition,
    * so no consumer of the [[Result]] re-runs the fuzzy join or re-plans the
    * inputs, and no broadcast is needed. Pass 2 runs on the driver, and the
    * residue frames are local frames built from the rows the driver holds.
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
    val voters = scored(voterNames, roster)
    // roster rows keyed first, in the column order of an anti-join USING
    // (year, chamber, member_id), plus the upper-cased last name pass 2 uses
    val keys = Seq("year", "chamber", "member_id")
    val rosterCols = (keys ++ roster.columns.filterNot(keys.contains)).map(col) :+
      upper(coalesce(col("last"), lit(""))).as("_last_u")
    // one partition: the residue pull below anti-joins the roster rows
    // against the matches inside it. The checkpoint is lazy: that pull is
    // the job that computes and stores it.
    val state = voters.select(struct(voters.columns.map(col): _*).as("_v"))
      .unionByName(roster.select(struct(rosterCols: _*).as("_r")), allowMissingColumns = true)
      .coalesce(1)
      .localCheckpoint(eager = false)

    val fuzzyMatches = state.filter(col("_v._n_hits") === 1)
      .select(col("_v.year").as("year"), col("_v.chamber").as("chamber"),
        col("_v.name").as("name"), col("_v.member_id").as("member_id"),
        lit("fuzzy").as("method"))

    // ---- pass 2: substring fixed point on the driver (match_names.py:139-156).
    // The residues are anti-joins against the matches: voter names on
    // (year, chamber, name), roster rows on (year, chamber, member_id), a
    // null key never matching. The residue is per-group tiny under the
    // reference's data model, but a degraded pass 1 (e.g. a broken blocking
    // key matching nothing) would make the pull unbounded — keeping at most
    // maxResidue+1 rows of each side bounds driver memory and the require
    // fails loudly with a diagnosis instead of OOMing.
    val cap = maxResidue + 1
    val residue = state.rdd.mapPartitions { rows =>
      val (vs, rs) = rows.partition(!_.isNullAt(0))
      val voterRows = vs.map(_.getStruct(0)).toVector
      def key(r: Row, i: Int) =
        if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(i)) None
        else Some((r.get(0), r.get(1), r.get(i)))
      def unique(v: Row) = v.getInt(4) == 1
      val claimed = voterRows.filter(unique).flatMap(key(_, 3)).toSet
      val missing = voterRows.filterNot(v => unique(v) && key(v, 2).isDefined)
      val unmatched = rs.map(_.getStruct(1)).filterNot(r => key(r, 2).exists(claimed))
      missing.iterator.take(cap).map(Left(_)) ++ unmatched.take(cap).map(Right(_))
    }.collect()
    val missingRows = residue.collect { case Left(r) => r }
    require(missingRows.length <= maxResidue,
      s"MatchNames pass 2: unmatched voter-name residue exceeds $maxResidue rows — " +
        "pass 1 has degraded (check the blocking key / roster join); refusing " +
        "the driver-side fixed point")
    val unmatchedRows = residue.collect { case Right(r) => r }
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
            case (lastU, ids) if name != null && lastU.contains(name) => (lastU, ids)
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
    def fields(side: String) = state.schema(side).dataType.asInstanceOf[StructType]
    Result(
      fuzzyMatches.unionByName(local(extraRows, extraSchema)),
      local(missingRows.toSeq
        .filterNot(r => matchedNames((r.getInt(0), r.getInt(1), r.getString(2))))
        .map(r => Row(r.get(0), r.get(1), r.get(2))), StructType(fields("_v").take(3))),
      local(unmatchedRows.toSeq
        .filterNot(r => matchedIds((r.getInt(0), r.getInt(1), r.getLong(2))))
        .map(r => Row.fromSeq(r.toSeq.dropRight(1))), StructType(fields("_r").dropRight(1))))
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
    * (zero missing names AND zero unmatched members). The incomplete groups
    * only gate an anti-join, so they need no dedup shuffle.
    */
  def applyMatches(votes: DataFrame, rollYearChamber: DataFrame, r: Result): DataFrame = {
    val incompleteGroups = r.missingNames.select("year", "chamber")
      .union(r.unmatchedMembers.select("year", "chamber"))
    val gated = r.matches.join(incompleteGroups, Seq("year", "chamber"), "left_anti")
      .select(col("year"), col("chamber"), col("name"),
        col("member_id").as("_new_member_id"))
    votes.join(rollYearChamber, Seq("roll_id"), "left")
      .join(gated, Seq("year", "chamber", "name"), "left")
      .withColumn("member_id", coalesce(col("member_id"), col("_new_member_id")))
      .drop("_new_member_id", "year", "chamber")
  }
}
