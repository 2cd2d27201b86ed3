package graft.votes

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Chamber enum: HOUSE=1, SENATE=2 (reference: pa_legislature.py:7-23). */
object Chamber {
  val HOUSE = 1
  val SENATE = 2
  /** None for anything else (page parsers skip the row; the strict
    * [[fromLetter]] mirrors the reference's fatal codec).
    */
  def fromLetterOption(s: String): Option[Int] =
    if (s == null) None
    else if (s.toUpperCase.startsWith("H")) Some(HOUSE)
    else if (s.toUpperCase.startsWith("S")) Some(SENATE)
    else None
  def fromLetter(s: String): Int =
    if (s.toUpperCase.startsWith("H")) HOUSE
    else if (s.toUpperCase.startsWith("S")) SENATE
    else throw new IllegalArgumentException(s"bad chamber: $s")
  def name(v: Int): String = v match {
    case HOUSE => "HOUSE"
    case SENATE => "SENATE"
  }
  /** "House" / "Senate" — chamber.name.title() in the reference (dump.py:66). */
  def title(v: Int): String = v match {
    case HOUSE => "House"
    case SENATE => "Senate"
  }
  /** column codecs (F1) */
  def fromLetterCol(c: Column): Column =
    when(upper(substring(c, 1, 1)) === "H", HOUSE)
      .when(upper(substring(c, 1, 1)) === "S", SENATE)
}

/** Vote enum: YEA=1 NAY=2 NO_VOTE=3 LEAVE=4 with bidirectional Y/N/X/E
  * letter codec; blank = no record (reference: pa_legislature.py:26-41,
  * README.md:22-27).
  */
object VoteCode {
  val YEA = 1; val NAY = 2; val NO_VOTE = 3; val LEAVE = 4
  private val toLetterMap = Map(YEA -> "Y", NAY -> "N", NO_VOTE -> "X", LEAVE -> "E")
  private val fromLetterMap = toLetterMap.map(_.swap)
  def toLetter(v: Int): String = toLetterMap(v)
  def fromLetter(s: String): Int = fromLetterMap(s)
  /** None for an unknown letter (the reference's Vote.from_letter raises;
    * page parsers skip the row instead of killing a distributed job).
    */
  def fromLetterOption(s: String): Option[Int] = fromLetterMap.get(s)
  /** column codecs (F2); blank/NULL ↔ NULL */
  def fromLetterCol(c: Column): Column =
    when(c === "Y", YEA).when(c === "N", NAY)
      .when(c === "X", NO_VOTE).when(c === "E", LEAVE)
  def toLetterCol(c: Column): Column =
    when(c === YEA, "Y").when(c === NAY, "N")
      .when(c === NO_VOTE, "X").when(c === LEAVE, "E")
}

/** StructTypes for the seven reference tables
  * (reference: pa_legislature.yaml:1-71). Long-format canonical storage;
  * the wide matrix exists only at export (SURVEY.md §1.4).
  */
object Schemas {
  val sessions: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("chamber", IntegerType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("session_index", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("last_crawl", TimestampType)))

  val sessionDays: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("session_id", LongType, nullable = false),
    StructField("date", DateType),
    StructField("last_crawl", TimestampType)))

  val rollCalls: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("day_id", LongType, nullable = false),
    StructField("session_year", IntegerType),
    StructField("session_index", IntegerType),
    StructField("chamber", IntegerType),
    StructField("number", IntegerType),
    StructField("name", StringType),
    StructField("stamp", TimestampType),
    StructField("last_crawl", TimestampType)))

  val votes: StructType = StructType(Seq(
    StructField("session_id", LongType),  // denormalized (pa_legislature.yaml:25)
    StructField("roll_id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("vote", IntegerType),
    StructField("member_id", LongType)))

  val members: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("house_archive_id", LongType),
    StructField("house_current_id", LongType),
    StructField("senate_archive_id", LongType),
    StructField("senate_current_id", LongType),
    StructField("first", StringType),
    StructField("middle", StringType),
    StructField("last", StringType),
    StructField("suffix", StringType),
    StructField("dob", DateType),
    StructField("last_crawl", TimestampType)))

  val memberCrawl: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("last_crawl", TimestampType)))

  val service: StructType = StructType(Seq(
    StructField("member_id", LongType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("chamber", IntegerType, nullable = false),
    StructField("district", IntegerType),
    StructField("party", StringType)))
}
