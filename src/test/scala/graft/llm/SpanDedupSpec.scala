package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-corpus coverage for [[Dedup.duplicateSpans]]: exact span
  * boundaries for a known copied region, island separation past the k
  * gap, within-doc repeats of a cross-doc gram, and the short-doc guard
  * (sequence(1, n<1) would descend, not produce an empty array).
  */
class SpanDedupSpec extends SparkSpec {

  import spark.implicits._

  private val k = 10

  private def spans(rows: (Long, String)*): Map[Long, Set[(Long, Long, Long)]] =
    Dedup.duplicateSpans(rows.toSeq.toDF("doc_id", "text"), k = k, minDocs = 2)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, xs) =>
        id -> xs.map(x => (x._2, x._3, x._4)).toSet
      }

  test("copied region surfaces with character-exact boundaries in BOTH docs") {
    // 30-char shared region, distinct elsewhere; region at pos 11 in doc 1
    // (1-based) and pos 1 in doc 2
    val shared = "SHARED-REGION-COPIED-TEXT-XYZ!" // 30 chars
    val out = spans(
      1L -> ("aaaaaaaaaa" + shared + "bbbbbbbbbbbbbbbb"),
      2L -> (shared + "cccccccccccccccccccc"))
    // L=30, k=10 → 21 flagged grams chaining into one span of length 30
    assert(out(1L) === Set((11L, 40L, 21L)), s"doc 1 spans: ${out(1L)}")
    assert(out(2L) === Set((1L, 30L, 21L)), s"doc 2 spans: ${out(2L)}")
  }

  test("two shared regions past the k-gap split into separate islands") {
    val r1 = "FIRST-DUP!" // 10 chars, exactly one gram each
    val r2 = "SECND-DUP!"
    // gap between flagged positions must exceed k to split
    val out = spans(
      1L -> (r1 + "x" * 15 + r2),           // positions 1 and 26: 25 > k
      2L -> (r2 + "y" * 20 + r1))
    assert(out(1L) === Set((1L, 10L, 1L), (26L, 35L, 1L)), s"doc 1: ${out(1L)}")
    assert(out(2L) === Set((1L, 10L, 1L), (31L, 40L, 1L)), s"doc 2: ${out(2L)}")
  }

  test("within-doc repeats of a cross-doc gram flag every occurrence") {
    val r = "REPEATED!!" // 10 chars
    val out = spans(
      1L -> (r + "z" * 15 + r), // twice in doc 1
      2L -> (r + "w" * 20))
    assert(out(1L) === Set((1L, 10L, 1L), (26L, 35L, 1L)), s"doc 1: ${out(1L)}")
    assert(out(2L) === Set((1L, 10L, 1L)), s"doc 2: ${out(2L)}")
  }

  test("boilerplate gram in EVERY doc stays skew-safe: one exact span per doc") {
    // the d2-style failure mode (one hot shingle → quadratic posting-list
    // pairs) is structurally impossible here: no pair generation exists —
    // a universal gram only raises one map-side-combinable count and
    // flags positions. 200 docs share a 4k-char header; each must get
    // exactly the header span, boundaries exact, unique tails unflagged.
    val header = ("BOILERPLATE-HEADER-" * 250).take(4000)
    val rows = (1L to 200L).map(i => i -> (header + s"#$i"))
    val out = spans(rows: _*)
    assert(out.size === 200)
    // ONE island per doc covering the whole header (boundary grams that
    // mix header chars with shared suffix prefixes may extend the end by
    // up to the suffix length — chained, never split)
    assert(out.values.forall(s => s.size == 1 && {
      val (start, end, _) = s.head
      start == 1L && end >= 4000L && end <= 4004L
    }), s"every doc must carry exactly one header-covering span, got ${out.take(3)}")
  }

  private def novelty(f: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame)(
      rows: (Long, String)*): Map[Long, (Long, Long)] =
    f(rows.toSeq.toDF("doc_id", "text"), k)
      .as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap

  test("gram novelty: first containing doc owns ALL occurrences of its grams") {
    val r = "REPEATED!!" // 10 chars = k → one gram per occurrence
    val out = novelty((d, kk) => Dedup.gramNovelty(d, kk))(
      1L -> (r + "z" * 15 + r),  // doc 1: grams at 1..., repeats of r
      2L -> (r + "w" * 20))      // doc 2: r's gram is NOT novel (doc 1 first)
    // doc 1: length 35 → 26 grams, every gram first appears in doc 1 →
    // all novel (the within-doc repeat of r counts as novel mass too)
    assert(out(1L) === ((26L, 26L)), s"doc 1: ${out(1L)}")
    // doc 2: length 30 → 21 grams; the single gram equal to r is owned by
    // doc 1; the 20 others (mixing r chars with w's, and pure w runs) are new
    assert(out(2L) === ((21L, 20L)), s"doc 2: ${out(2L)}")
  }

  test("hashed novelty twin is bit-identical to the text form") {
    val header = ("BOILERPLATE-HEADER-" * 20).take(300)
    val rows: Seq[(Long, String)] = (1L to 50L).map(i =>
      i -> (header + s"unique-tail-$i-" + ("pad" * (i % 7).toInt)))
    val a = novelty((d, kk) => Dedup.gramNovelty(d, kk))(rows: _*)
    val b = novelty((d, kk) => Dedup.gramNoveltyHashed(d, kk))(rows: _*)
    assert(a === b)
    assert(a.nonEmpty && a(1L)._2 > a(2L)._2) // doc 1 owns the header mass
  }

  test("hashed twin equals the exact spans row for row; replica span sets are identical") {
    // Every replica (0 included) of each sf0.001 doc gets an equal-length
    // marker " \u0001X": a shared " \u0001" prefix and a final char unique
    // to the replica. \u0001 never occurs in document text, so a gram
    // holding it only matches other marker-crossing grams. Grams ending
    // inside the shared prefix are byte-equal across all replicas of a
    // doc (flagged everywhere); grams holding the unique char live in one
    // replica only, flagged by the same base-doc tail count in each. So
    // the flagged positions are replica-invariant by construction.
    val replicas = 3
    val base = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    assert(base.where(col("text").contains("\u0001")).isEmpty,
      "document text contains \\u0001: marker uniqueness is void")
    val stride = base.agg(max("doc_id")).head.getLong(0) + 1
    val corpus = (0 until replicas).map { r =>
      base.select((col("doc_id") + r * stride).as("doc_id"),
        concat(col("text"), lit(s" \u0001${('A' + r).toChar}")).as("text"))
    }.reduce(_ unionByName _)
    val hashed = Dedup.duplicateSpansHashed(corpus, k = 20, minDocs = 2)
      .localCheckpoint(true)
    val exact = Dedup.duplicateSpans(corpus, k = 20, minDocs = 2)
    assert(hashed.exceptAll(exact).isEmpty && exact.exceptAll(hashed).isEmpty,
      "hashed twin diverged from the exact spans")
    // one (count, xor fingerprint) per replica, ids shifted back; span
    // rows are distinct per doc, so xor cancellation cannot hide a change
    val perReplica = hashed
      .groupBy((col("doc_id") / stride).cast("long").as("replica"))
      .agg(count(lit(1)).as("n"),
        expr(s"bit_xor(xxhash64(doc_id % ${stride}L, span_start, span_end, n_grams))")
          .as("fp"))
      .collect()
    assert(perReplica.length === replicas,
      s"${perReplica.length} replicas produced spans, expected $replicas")
    val fps = perReplica.map(r => (r.getLong(1), r.getLong(2))).distinct
    assert(fps.length === 1, s"replica span sets diverged: ${fps.toSeq}")
  }

  test("docs shorter than k neither crash nor emit") {
    val out = spans(
      1L -> "short", 2L -> "short", // identical but < k: no grams at all
      3L -> ("LONGENOUGH" + "a" * 5), 4L -> ("LONGENOUGH" + "b" * 5))
    assert(!out.contains(1L) && !out.contains(2L))
    assert(out(3L) === Set((1L, 10L, 1L)) && out(4L) === Set((1L, 10L, 1L)))
  }
}
