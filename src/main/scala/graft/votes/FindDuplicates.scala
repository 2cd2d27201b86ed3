package graft.votes

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Duplicate-member detection and merge (reference: find_duplicates.py).
  * Candidates come from two blocks — same (year, chamber, lower(last))
  * service block and same non-null dob — gated by the `is_same_name`
  * kernel and the no-conflicting-archive-ids rule (find_duplicates.py:11-15).
  * Blocking bounds the pairwise expansion.
  *
  * What runs where: [[candidatePairs]] pulls the members and their
  * service rows (dimension-sized) in one action and pairs them on the
  * driver, block by block, like the reference; [[mergeGroups]] pulls the
  * (tiny) candidate pair set and builds the merge groups on the driver;
  * [[applyMerges]] applies those driver-held merges as literal
  * expressions, with one small action for the absorbed rows' archive ids
  * and one shuffle for the service dedup.
  */
object FindDuplicates {

  private val idFields = Seq("house_archive_id", "house_current_id",
    "senate_archive_id", "senate_current_id")

  /** Candidate merge pairs: (id1 < id2, merged name struct, block kind).
    * Members and their service rows are dimension-sized, so one action
    * pulls them and the pairs are formed on the driver within each block,
    * like the reference; the result is a local frame.
    */
  def candidatePairs(members: DataFrame, service: DataFrame): DataFrame = {
    val person = (Seq("id", "first", "middle", "last", "suffix") ++ idFields :+ "dob").map(col)
    val rows = members.select(struct(person: _*).as("_m"))
      .unionByName(service.select(struct(col("member_id"), col("year"), col("chamber")).as("_s")),
        allowMissingColumns = true)
      .collect()
    // the join keys of the reference's queries: a null never matches
    val people = rows.filterNot(_.isNullAt(0)).map(_.getStruct(0)).filterNot(_.isNullAt(0))
    val byId = people.groupBy(_.getLong(0))

    // block 1: overlapping service year+chamber, same lower(last)
    // (find_duplicates.py:47-59); block 2: identical non-null dob
    // (find_duplicates.py:60-66)
    val svcBlocks: Seq[((String, Any), Row)] = rows.toSeq.filterNot(_.isNullAt(1))
      .map(_.getStruct(1)).filterNot(s => s.isNullAt(0) || s.isNullAt(1) || s.isNullAt(2))
      .flatMap(s => byId.getOrElse(s.getLong(0), Array.empty[Row]).filterNot(_.isNullAt(3))
        .map(m => ("service", (s.get(1), s.get(2), m.getString(3).toLowerCase)) -> m))
    val dobBlocks: Seq[((String, Any), Row)] =
      people.toSeq.filterNot(_.isNullAt(9)).map(m => ("dob", m.get(9)) -> m)
    val pairs: Seq[((Long, Long, String), (Row, Row))] = for {
      ((kind, _), block) <- (svcBlocks ++ dobBlocks).groupBy(_._1).toSeq
      x <- block.map(_._2)
      y <- block.map(_._2) if x.getLong(0) < y.getLong(0)
    } yield (x.getLong(0), y.getLong(0), kind) -> (x, y)

    // gated by the name kernel (require_suffix only in the service block)
    // and by no conflicting archive ids (find_duplicates.py:11-15)
    def part(r: Row, i: Int) = if (r.isNullAt(i)) null else r.getString(i)
    val hits = pairs.toMap.toSeq.flatMap { case ((id1, id2, kind), (x, y)) =>
      val merged = NameUdfs.mergedName(part(x, 1), part(x, 2), part(x, 3), part(x, 4),
        part(y, 1), part(y, 2), part(y, 3), part(y, 4), requireSuffix = kind == "service")
      val mergable = (5 to 8).forall(i => x.isNullAt(i) || y.isNullAt(i))
      if (merged == null || !mergable) None
      else Some(Row(id1, id2, kind, merged._1, merged._2, merged._3, merged._4))
    }
    // one row per pair: a pair hit by BOTH blocks must resolve
    // deterministically: the dob block's merged name wins (the reference
    // computes service pairs first and lets dob pairs overwrite,
    // find_duplicates.py:60-66)
    val best = hits.groupBy(r => (r.getLong(0), r.getLong(1))).values
      .map(rs => rs.find(_.getString(2) == "dob").getOrElse(rs.head)).toSeq
    val schema = StructType(Seq(StructField("id1", members.schema("id").dataType),
      StructField("id2", members.schema("id").dataType)) ++
      Seq("kind", "m_first", "m_middle", "m_last", "m_suffix").map(StructField(_, StringType)))
    members.sparkSession.createDataFrame(best.asJava, schema)
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
    *
    * The merges are driver-held, so the old → new id mapping and the
    * merged names go into the plan as literal maps. The absorbed rows'
    * archive ids come back in one small action (a handful of rows) and go
    * in the same way; the service dedup is the one shuffle left.
    */
  def applyMerges(members: DataFrame, service: DataFrame, merges: Seq[Merge]): Applied = {
    if (merges.isEmpty) return Applied(members, service)

    val newId = typedLit(merges.flatMap(m => m.absorbed.map(_ -> m.survivor)).toMap)
    val absorbed = element_at(newId, col("id")).isNotNull

    // the merged name's non-empty parts replace the survivor's
    val names = Seq[(String, Name => String)]("first" -> (_.first),
      "middle" -> (_.middle), "last" -> (_.last), "suffix" -> (_.suffix))
    val renamed = names.foldLeft(members.filter(!absorbed)) { case (d, (c, part)) =>
      val byId = merges.map(m => m.survivor -> part(m.mergedName))
        .filter(p => p._2 != null && p._2.nonEmpty).toMap
      if (byId.isEmpty) d
      else d.withColumn(c, coalesce(element_at(typedLit(byId), col("id")), col(c)))
    }

    // archive-id inheritance: a survivor's missing id is the largest of
    // that field over its absorbed rows, which one small action pulls
    val absorbedRows = members.filter(absorbed)
      .select(element_at(newId, col("id")) +: idFields.map(f => col(f).cast(LongType)): _*)
      .collect().toSeq
    val survivors = idFields.zipWithIndex.foldLeft(renamed) { case (d, (f, i)) =>
      val byId = absorbedRows.filterNot(_.isNullAt(i + 1)).groupBy(_.getLong(0))
        .map { case (survivor, rs) => survivor -> rs.map(_.getLong(i + 1)).max }
      if (byId.isEmpty) d
      else d.withColumn(f, coalesce(col(f),
        element_at(typedLit(byId), col("id")).cast(members.schema(f).dataType)))
    }

    val newService = service
      .withColumn("member_id", coalesce(element_at(newId, col("member_id")), col("member_id")))
      .dropDuplicates("member_id", "chamber", "year", "district", "party")

    Applied(survivors, newService)
  }
}
