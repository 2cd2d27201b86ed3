package graft.votes

import java.io.FileInputStream
import java.{util => ju}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** Manual-curation edits (reference: apply_edits.py + edits.yaml):
  * three edit kinds parsed from YAML and applied as broadcast-joined
  * corrections — per-year service add/remove with neighbor-year fill (J5),
  * voter-name renames (simple and roll-stamp-time-ranged, J2), and
  * id/field-keyed member renames.
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
    * strictly inside (start, stop).
    */
  def applyVoteRenames(votes: DataFrame, rollStamps: DataFrame,
                       renames: Seq[VoteRename]): DataFrame = {
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

  /** Apply per-year service edits (apply_edits.py:11-56).
    * Remove: when exactly one (service ⋈ members) row matches (last
    * [+first], chamber, year) → drop it. Add: when none matches but
    * exactly one neighbor-year (year ± 1) row exists for (last, chamber)
    * → copy it into the target year.
    */
  def applyYearEdits(service: DataFrame, members: DataFrame,
                     edits: Seq[YearEdit]): DataFrame = {
    val spark = service.sparkSession
    import spark.implicits._
    if (edits.isEmpty) return service

    // e_first uses a '' sentinel (not NULL): the add-path anti join below
    // compares on it, and NULL keys never match in joins. e_raw is the
    // unsplit YAML key: the reference's neighbor-year query filters
    // last == <raw key> (apply_edits.py:37), so a two-word key like
    // "John Smith" matches nothing there — reproduce that, don't "fix" it
    // into a split-name match the reference never makes.
    def toDf(es: Seq[YearEdit]) = broadcast(es
      .map(e => (e.year, e.chamber, e.first.getOrElse(""), e.last,
        e.first.map(f => s"$f ${e.last}").getOrElse(e.last)))
      .toDF("e_year", "e_chamber", "e_first", "e_last", "e_raw"))
    // intent comes from the YAML value (apply_edits.py:26): null → remove,
    // non-null → add. Each path sees only its own edits.
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

    // removals: exactly one match → delete that service row
    val removals = exactMatches(removeEdits).filter(col("_n") === 1)
      .select(col("e_year").as("r_year"), col("e_chamber").as("r_chamber"),
        col("_mid").as("r_mid"))
    val afterRemove = service.join(broadcast(removals),
      col("year") === col("r_year") && col("chamber") === col("r_chamber") &&
        col("member_id") === col("r_mid"), "left_anti")

    // additions: add-intent edits with zero matches → pull from year ± 1
    // when unambiguous
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

  /** Apply member renames (apply_edits.py:78-96). */
  def applyMemberRenames(members: DataFrame, renames: Seq[MemberRename]): DataFrame = {
    renames.foldLeft(members) { (df, r) =>
      val cond: Column = r.from.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
      r.to.foldLeft(df)((d, kv) =>
        d.withColumn(kv._1, when(cond, lit(kv._2)).otherwise(col(kv._1))))
    }
  }
}
