package graft.votes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-member detection and merge (reference: find_duplicates.py).
  * Candidates come from two blocked self-joins — same (year, chamber,
  * lower(last)) service block and same non-null dob — gated by the
  * `is_same_name` kernel and the no-conflicting-archive-ids rule
  * (find_duplicates.py:11-15). Blocking bounds the pairwise expansion;
  * the merge-group construction runs on the driver over the (tiny)
  * candidate pair set, like the reference.
  */
object FindDuplicates {

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

  /** Candidate merge pairs: (id1 < id2, merged name struct, block kind). */
  def candidatePairs(members: DataFrame, service: DataFrame): DataFrame = {
    val m1 = named(members, "a_")
    val m2 = named(members, "b_")

    // block 1: overlapping service year+chamber, same lower(last)
    // (find_duplicates.py:47-59); require_suffix=true
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

    // block 2: identical non-null dob (find_duplicates.py:60-66);
    // require_suffix=false
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
      // a pair hit by BOTH blocks must resolve deterministically: the dob
      // block's merged name wins (the reference computes service pairs
      // first and lets dob pairs overwrite, find_duplicates.py:60-66)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id1", "id2")
          .orderBy(when(col("kind") === "dob", 0).otherwise(1))))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  final case class Merge(survivor: Long, absorbed: Seq[Long],
                         mergedName: Name)

  /** Driver-side merge-group construction over the (tiny) candidate pair
    * set. The reference keys groups on the smaller id of each pair
    * (find_duplicates.py:28-31), which for a transitive chain a<b<c
    * produces OVERLAPPING groups {a:[b,c], b:[c]} — its sequential apply
    * loop then deletes b and re-inserts it via the `db.update` upsert
    * (find_duplicates.py:110). That is a latent reference bug on chains;
    * here (conscious fix, SURVEY.md §7 quirk policy) groups are the
    * connected components via union-find, survivor = smallest id, so each
    * member belongs to exactly one group and the apply stage's flat
    * old→new mapping is well-defined.
    */
  def mergeGroups(pairs: DataFrame): Seq[Merge] = {
    // a handful of rows: sorting them here saves the sampling and sort jobs
    // of a distributed orderBy
    val rows = pairs.collect().sortBy(r => (r.getLong(0), r.getLong(1)))
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    val names = collection.mutable.Map[Long, Name]()
    val seen = collection.mutable.LinkedHashSet[Long]()
    for (r <- rows) {
      val (id1, id2) = (r.getLong(0), r.getLong(1))
      seen += id1; seen += id2
      val (ra, rb) = (find(id1), find(id2))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      names(id1) = Name(
        Option(r.getString(3)).getOrElse(""), Option(r.getString(4)).getOrElse(""),
        Option(r.getString(5)).getOrElse(""), Option(r.getString(6)).getOrElse(""))
    }
    val comp = collection.mutable.LinkedHashMap[Long, Vector[Long]]()
    for (id <- seen.toVector.sorted) {
      val root = find(id)
      if (id != root) comp(root) = comp.getOrElse(root, Vector.empty) :+ id
      else comp.getOrElseUpdate(root, Vector.empty)
    }
    // the root is the component minimum, so it is id1 of at least one pair
    // and always has a merged name recorded
    comp.collect { case (s, abs) if abs.nonEmpty => Merge(s, abs, names(s)) }.toSeq
  }

  final case class Applied(members: DataFrame, service: DataFrame)

  /** Apply merges (find_duplicates.py:68-110): the survivor takes the
    * merged name and any archive ids from absorbed rows; absorbed members
    * are deleted; absorbed service rows are repointed to the survivor
    * unless an identical (chamber, year, district, party) row already
    * exists, then deduplicated.
    */
  def applyMerges(members: DataFrame, service: DataFrame, merges: Seq[Merge]): Applied = {
    if (merges.isEmpty) return Applied(members, service)
    val spark = members.sparkSession
    import spark.implicits._

    val mapping = merges.flatMap(m => m.absorbed.map(a => (a, m.survivor)))
      .toDF("old_id", "new_id")
    val nameUpd = merges.map(m => (m.survivor,
      m.mergedName.first, m.mergedName.middle, m.mergedName.last, m.mergedName.suffix))
      .toDF("_uid", "_first", "_middle", "_last", "_suffix")

    // ids absorbed into each survivor, for archive-id inheritance
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

    Applied(renamed, newService)
  }
}
