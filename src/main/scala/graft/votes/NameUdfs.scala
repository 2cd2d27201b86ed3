package graft.votes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Spark UDF wrappers for the pure name kernel (SURVEY.md §2.10). These are
  * plain Scala UDFs — the kernel is branchy string logic with no codegen
  * win to be had from a Catalyst Expression; the ER joins stay bounded by
  * their blocking keys, so UDF overhead is per-candidate, not per-row².
  *
  * Null convention: storage NULL ↔ kernel empty-string (names.py empty-
  * string semantics).
  */
object NameUdfs {

  private def n(s: String): String = if (s == null) "" else s
  private def orNull(s: String): String = if (s == null || s.isEmpty) null else s

  private def toName(first: String, middle: String, last: String, suffix: String): Name =
    Name(n(first), n(middle), n(last), n(suffix))

  /** (first, middle, last, suffix) ×2 + requireSuffix → merged name or null */
  def mergedName(f1: String, m1: String, l1: String, s1: String,
                 f2: String, m2: String, l2: String, s2: String,
                 requireSuffix: Boolean): (String, String, String, String) =
    Names.isSameName(toName(f1, m1, l1, s1), toName(f2, m2, l2, s2), requireSuffix)
      .map(nm => (orNull(nm.first), orNull(nm.middle), orNull(nm.last), orNull(nm.suffix)))
      .orNull

  /** [[mergedName]] as a column: a merged name struct or NULL */
  val isSameName: UserDefinedFunction = udf(mergedName _)

  /** raw display string → (first, middle, last, suffix) struct */
  val parseName: UserDefinedFunction = udf { (raw: String) =>
    val nm = Names.parseName(n(raw))
    (orNull(nm.first), orNull(nm.middle), orNull(nm.last), orNull(nm.suffix))
  }

  val advancedDecap: UserDefinedFunction = udf((s: String) => Names.advancedDecapitalization(n(s)))

  val assertNamesEqual: UserDefinedFunction = udf {
    (f1: String, m1: String, l1: String, s1: String,
     f2: String, m2: String, l2: String, s2: String) =>
      Names.assertNamesEqual(toName(f1, m1, l1, s1), toName(f2, m2, l2, s2))
  }

  /** Register all kernel UDFs for SQL use. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("is_same_name", isSameName)
    spark.udf.register("parse_name", parseName)
    spark.udf.register("advanced_decap", advancedDecap)
    spark.udf.register("assert_names_equal", assertNamesEqual)
  }
}
