package graft.votes

import java.io.FileInputStream
import java.{util => ju}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** Manual-curation edits (reference: apply_edits.py + edits.yaml):
  * three edit kinds parsed from YAML — per-year service add/remove with
  * neighbor-year fill (J5), voter-name renames (simple and
  * roll-stamp-time-ranged, J2), and id/field-keyed member renames.
  *
  * The edits are driver-held rows, and each is applied as literal column
  * expressions, never as a join against a local frame of edits: every
  * distinct local frame in a broadcast join is one more Spark job. Vote
  * renames and member renames are single projections of their table
  * (plus the roll-stamp join for ranged renames); year edits pull the few
  * (service ⋈ members) rows the edits name in one action, decide on the
  * driver, and filter the service by the result.
  */
object ApplyEdits {

  /** One per-year service edit. The YAML value carries the intent
    * (apply_edits.py:26 dispatches on it): null value → removal
    * (apply_edits.py:26-32), non-null (e.g. `true`) → add-from-neighbor-
    * year (apply_edits.py:34-50). Ignoring the value would run BOTH paths
    * on every edit and invert curated intent.
    */
  final case class YearEdit(year: Int, chamber: Int, first: Option[String],
                            last: String, remove: Boolean)
  /** rename a voter name, optionally only within (start, stop) roll stamps */
  final case class VoteRename(before: String, after: String,
                              start: Option[String], stop: Option[String])
  /** member rename: equality filter → field updates */
  final case class MemberRename(from: Map[String, Any], to: Map[String, Any])

  final case class Edits(yearEdits: Seq[YearEdit], voteRenames: Seq[VoteRename],
                         memberRenames: Seq[MemberRename])

  /** SnakeYAML parses bare YAML dates (`start: 2019-09-16`) as
    * java.util.Date, whose toString ("Mon Sep 16 ...") a Spark timestamp
    * cast turns into NULL — which would silently void every ranged rename.
    * Render them back to ISO form (UTC midnight, same window semantics as
    * the reference's lexicographic string compare in apply_edits.py:66).
    */
  private def yamlTime(v: Any): String = v match {
    case d: ju.Date =>
      val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      f.setTimeZone(ju.TimeZone.getTimeZone("UTC"))
      f.format(d)
    case other => other.toString
  }

  /** Parse the reference's edits.yaml structure (apply_edits.py:9-21). */
  def parseYaml(path: String): Edits = {
    val in = new FileInputStream(path)
    val root = try new Yaml().load[ju.Map[Any, Any]](in).asScala
      finally in.close()
    val yearEdits = Vector.newBuilder[YearEdit]
    val voteRenames = Vector.newBuilder[VoteRename]
    val memberRenames = Vector.newBuilder[MemberRename]

    for ((k, v) <- root) k match {
      case year: Integer =>
        val chambers = v.asInstanceOf[ju.Map[String, Any]].asScala
        for ((chamberS, names) <- chambers) {
          val chamber = Chamber.fromLetter(chamberS)
          val nameMap = Option(names.asInstanceOf[ju.Map[String, Any]])
            .map(_.asScala).getOrElse(Map.empty)
          for ((nameKey, editValue) <- nameMap) {
            val (first, last) =
              if (nameKey.contains(" ")) {
                val Array(f, l) = nameKey.split(" ", 2)
                (Some(f), l)
              } else (None, nameKey)
            yearEdits += YearEdit(year, chamber, first, last,
              remove = editValue == null)
          }
        }
      case "Votes" =>
        for ((before, spec) <- v.asInstanceOf[ju.Map[String, Any]].asScala) spec match {
          case after: String => voteRenames += VoteRename(before, after, None, None)
          case m: ju.Map[_, _] =>
            val mm = m.asInstanceOf[ju.Map[String, Any]].asScala
            // the reference reads v["start"] and v["stop"] unconditionally
            // (apply_edits.py:66) — a ranged rename without both is a
            // malformed edit; fail at parse like the reference would
            require(mm.contains("start") && mm.contains("stop"),
              s"ranged rename for '$before' needs both start and stop")
            voteRenames += VoteRename(before, mm("name").toString,
              mm.get("start").map(yamlTime), mm.get("stop").map(yamlTime))
        }
      case "Rename" =>
        for (d <- v.asInstanceOf[ju.List[ju.Map[String, Any]]].asScala) {
          val dd = d.asScala
          memberRenames += MemberRename(
            dd("from").asInstanceOf[ju.Map[String, Any]].asScala.toMap,
            dd("to").asInstanceOf[ju.Map[String, Any]].asScala.toMap)
        }
      case _ => // unknown top-level key: ignore
    }
    Edits(yearEdits.result(), voteRenames.result(), memberRenames.result())
  }

  /** Apply voter-name renames (apply_edits.py:57-77). Simple renames apply
    * everywhere; time-ranged renames only where the vote's roll stamp is
    * strictly inside (start, stop), and win over a simple rename of the
    * same name. The renames are the YAML's `Votes` map, one per voter name:
    * they go into the plan as a literal map and a `when` chain, so the only
    * join left is the roll-stamp lookup, made when a ranged rename needs it.
    */
  def applyVoteRenames(votes: DataFrame, rollStamps: DataFrame,
                       renames: Seq[VoteRename]): DataFrame = {
    if (renames.isEmpty) return votes
    val (simple, ranged) = renames.partition(_.start.isEmpty)

    val name = votes("name")
    // a null key is no map key, and matches no name in any case
    val simpleMap = simple.filter(_.before != null).map(r => r.before -> r.after).toMap
    val simpleAfter =
      if (simpleMap.isEmpty) lit(null).cast("string")
      else element_at(typedLit(simpleMap), name)
    if (ranged.isEmpty) return votes.withColumn("name", coalesce(simpleAfter, name))

    val stamp = col("_stamp")
    val rangedAfter = ranged.foldRight(lit(null).cast("string")) { (r, otherwise) =>
      when(name === r.before && stamp > lit(r.start.get).cast("timestamp") &&
        stamp < lit(r.stop.get).cast("timestamp"), r.after).otherwise(otherwise)
    }
    votes
      .join(rollStamps.select(col("roll_id").as("_rs_roll"), col("stamp").as("_stamp")),
        votes("roll_id") === col("_rs_roll"), "left")
      .withColumn("name", coalesce(rangedAfter, simpleAfter, name))
      .drop("_rs_roll", "_stamp")
  }

  /** Apply per-year service edits (apply_edits.py:11-56).
    * Remove: when exactly one (service ⋈ members) row matches (last
    * [+first], chamber, year) → drop it. Add: when none matches but
    * exactly one neighbor-year (year ± 1) row exists for (last, chamber)
    * → copy it into the target year.
    *
    * The edits are a handful of driver-held rows, so the decisions are
    * made on the driver: one action pulls the (service ⋈ members) rows
    * whose last name an edit names, the counting happens here, and the
    * result is the service filtered by a literal predicate plus the added
    * rows as a local frame — no join against the edits in the plan.
    */
  def applyYearEdits(service: DataFrame, members: DataFrame,
                     edits: Seq[YearEdit]): DataFrame = {
    if (edits.isEmpty) return service

    // the unsplit YAML key: the reference's neighbor-year query filters
    // last == <raw key> (apply_edits.py:37), so a two-word key like
    // "John Smith" matches nothing there — reproduce that, don't "fix" it
    // into a split-name match the reference never makes
    def raw(e: YearEdit) = e.first.map(f => s"$f ${e.last}").getOrElse(e.last)
    val sm = service.as("sv")
      .join(members.as("m"), col("sv.member_id") === col("m.id"))
      .filter(col("m.last").isin(edits.flatMap(e => Seq(e.last, raw(e))).distinct: _*))
      .select(col("sv.year"), col("sv.chamber"), col("m.id"), col("m.first"),
        col("m.last"), col("sv.district"), col("sv.party"))
    val rows = sm.collect().toSeq
    def year(r: Row) = if (r.isNullAt(0)) None else Some(r.getInt(0))
    def chamber(r: Row) = if (r.isNullAt(1)) None else Some(r.getInt(1))
    def last(r: Row, l: String) = l != null && l == r.getString(4)

    // edits with the same (year, chamber, first, last) key count together,
    // an empty first matching any first; intent comes from the YAML value
    // (apply_edits.py:26): null → remove, non-null → add, and each path
    // sees only its own edits
    def key(e: YearEdit) = (e.year, e.chamber, e.first.getOrElse(""), e.last)
    def exact(e: YearEdit) = rows.filter(r => last(r, e.last) &&
      chamber(r).contains(e.chamber) && year(r).contains(e.year) &&
      (e.first.forall(_.isEmpty) || e.first.contains(r.getString(3))))
    val (removeEdits, addEdits) = edits.partition(_.remove)

    // removals: exactly one match → delete that service row
    val removals = removeEdits.groupBy(key).values.toSeq.flatMap { es =>
      val hits = exact(es.head)
      if (es.size * hits.size == 1) hits.map(r => (es.head.year, es.head.chamber, r.get(2)))
      else Nil
    }
    val removed = removals.map { case (y, c, id) =>
      col("year") === y && col("chamber") === c && col("member_id") === lit(id)
    }.foldLeft(lit(false))(_ || _)
    val afterRemove = service.filter(!coalesce(removed, lit(false)))

    // additions: add-intent edits with zero matches → pull from year ± 1
    // when unambiguous
    val toAdd = addEdits.groupBy(key).values.toSeq.filter(es => exact(es.head).isEmpty).flatten
    val added = toAdd.groupBy(e => (e.year, e.chamber, e.last)).toSeq.flatMap {
      case ((y, c, _), es) =>
        val hits = es.flatMap(e => rows.filter(r => last(r, raw(e)) &&
          chamber(r).contains(c) && (year(r).contains(y - 1) || year(r).contains(y + 1))))
        if (hits.size == 1) hits.map(r => Row(r.get(2), y, c, r.get(5), r.get(6))) else Nil
    }
    val addedSchema = StructType(Seq(
      StructField("member_id", sm.schema("id").dataType), StructField("year", IntegerType),
      StructField("chamber", IntegerType), sm.schema("district"), sm.schema("party")))
    afterRemove.unionByName(service.sparkSession.createDataFrame(added.asJava, addedSchema)
      .select(afterRemove.columns.map(col): _*))
  }

  /** Apply member renames (apply_edits.py:78-96). */
  def applyMemberRenames(members: DataFrame, renames: Seq[MemberRename]): DataFrame = {
    renames.foldLeft(members) { (df, r) =>
      val cond: Column = r.from.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
      r.to.foldLeft(df)((d, kv) =>
        d.withColumn(kv._1, when(cond, lit(kv._2)).otherwise(col(kv._1))))
    }
  }
}
