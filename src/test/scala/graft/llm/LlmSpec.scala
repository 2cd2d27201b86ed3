package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Validates the approximate/sketch operators against their exact
  * counterparts on the driver's sf0.001 tables — the checks the DuckDB
  * oracle can't express (LSH and SRP are not SQL).
  */
class LlmSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.t(spark, dir, "documents")
  private lazy val emb = Tables.t(spark, dir, "embeddings")

  test("exact dedup finds every duplicate group on a doubled corpus") {
    val d = docs.select("doc_id", "text")
    val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
    val groups = Dedup.exact(doubled)
    assert(groups.count() === d.count())        // one group per original doc
    assert(groups.filter(col("n_dups") < 2).count() === 0)
    // survivor is the original (minimum) id
    assert(groups.filter(col("keep_id") >= 1000000).count() === 0)
  }

  test("blocked exact top-k (e14) is bit-identical to the Catalyst form (e1)") {
    val q = emb.filter(col("vec_id") < 10)
    val a = Similarity.bruteForceTopK(q, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val b = Similarity.bruteForceTopKBlocked(q, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(a.length === 50)
    // UNROUNDED doubles must agree — integer dots are order-free and the
    // kernel's heap replays the window's exact tie order
    assert(a.toSeq === b.toSeq)
  }

  test("e1/e14 twin contract survives zero-norm and null corpus vectors") {
    import spark.implicits._
    // r8 advice: a zero-norm vector's NaN cosine sorts FIRST in Spark's
    // window (NaN above every double) but LAST-ish in the JVM heap — a
    // silent e1/e14 split. Both paths now share the cleanVectors drop, so
    // degenerate rows appear in NEITHER result.
    val poisoned = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq(
        (900001L, Array.fill(8)(0.0f)),              // zero norm
        (900002L, null.asInstanceOf[Array[Float]])   // null vector
      ).toDF("vec_id", "embedding"))
    val q = emb.filter(col("vec_id") < 10)
    val a = Similarity.bruteForceTopK(q, poisoned, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val b = Similarity.bruteForceTopKBlocked(q, poisoned, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(a.toSeq === b.toSeq)
    assert(!a.exists(_._2 >= 900000L), "degenerate rows must never rank")
    // dimension mismatch fails LOUDLY in the blocked kernel instead of
    // silently truncating the dot
    val shortVec = Seq((900003L, Array.fill(3)(0.5f))).toDF("vec_id", "embedding")
    val mixed = emb.select(col("vec_id"), col("embedding")).unionByName(shortVec)
    val err = intercept[org.apache.spark.SparkException] {
      Similarity.bruteForceTopKBlocked(q, mixed, k = 5).collect()
    }
    assert(err.getMessage != null)
    // r9 advice: the e1 Catalyst path must fail the SAME way — zip_with
    // over mismatched arrays otherwise silently null-pads the dot and the
    // twins diverge on exactly the malformed corpora that matter
    val err1 = intercept[Exception] {
      Similarity.bruteForceTopK(q, mixed, k = 5).collect()
    }
    assert(err1.getMessage != null &&
      err1.toString.toLowerCase.contains("dim"),
      s"e1 must raise a loud dimension error, got: $err1")
    // r10 advice: the SELF-ID edge — when the query set's only id also
    // labels the mismatched corpus vector, the pair join (qid != cid)
    // never evaluates the pair guard. The corpus pre-check must throw
    // anyway, keeping e1 ≡ e14 on this narrowest malformed corpus.
    import spark.implicits._
    val qLone = Seq((900003L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val errSelf = intercept[Exception] {
      Similarity.bruteForceTopK(qLone, mixed, k = 5).collect()
    }
    assert(errSelf.toString.toLowerCase.contains("dim"),
      s"e1 must flag a mismatched corpus vector even behind the self-id edge: $errSelf")
    intercept[org.apache.spark.SparkException] {
      Similarity.bruteForceTopKBlocked(qLone, mixed, k = 5).collect()
    }
  }

  test("d16 finds an embedded benchmark quote with exact boundaries where doc-level ops miss") {
    import spark.implicits._
    // A 40-word benchmark quote inside a 2,000-word training doc:
    //  - d12 fuzzy decontamination needs doc-level Jaccard >= 0.6; here
    //    J ~ 40/2000 = 0.02 — structurally invisible.
    //  - d6 exact decontamination at a gross-contamination threshold
    //    (minOverlap = 50 shared shingles) misses the ~38 quote shingles,
    //    and even a flag would carry no boundaries to cut.
    //  - d16 reports the exact character span of the quote.
    val quoteWords = (1 to 40).map(i => s"benchword$i")
    val quote = quoteWords.mkString(" ")
    val fillerA = (1 to 1000).map(i => s"alpha$i").mkString(" ")
    val fillerB = (1 to 960).map(i => s"omega$i").mkString(" ")
    val trainText = s"$fillerA $quote $fillerB"
    val train = Seq((7L, trainText)).toDF("doc_id", "text")
    val bench = Seq((3L, s"benchmark preamble text here $quote and a closing sentence"))
      .toDF("doc_id", "text")

    val spans = Dedup.contaminationSpans(train, bench, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.length === 1, s"expected exactly the quote span: ${spans.toSeq}")
    val (docId, benchId, start, end) = spans.head
    assert(docId === 7L && benchId === 3L)
    val expStart = fillerA.length + 2 // 1-based, after "fillerA "
    // the span covers the quote; boundaries may extend into the single
    // joining spaces (a gram straddling "...} benchword1" starts 19 chars
    // earlier), but never into a full filler word
    assert(start >= expStart - 19 && start <= expStart,
      s"start=$start expected near $expStart")
    val expEnd = expStart + quote.length - 1
    assert(end >= expEnd && end <= expEnd + 19, s"end=$end expected near $expEnd")
    assert(trainText.substring((start - 1).toInt, end.toInt).contains(quote))

    // doc-level exact at the gross threshold: misses
    val d6 = Dedup.contamination(train, bench, n = 3, minOverlap = 50)
      .filter(col("contaminated")).count()
    assert(d6 === 0L, "doc-level exact decontamination at minOverlap=50 must miss")
    // doc-level fuzzy at tau=0.6: misses
    val d12 = Dedup.fuzzyContamination(train, bench, n = 3,
      numHashes = 64, bands = 32, threshold = 0.6).count()
    assert(d12 === 0L, "doc-level fuzzy decontamination must miss a 2% quote")
  }

  test("d19 merge handles contained, overlapping and adjacent spans") {
    import spark.implicits._
    // [1,100] ⊃ [5,10]: lag(span_end) alone would break after [5,10]
    // and wrongly restart at [50,120] — the running max must not.
    // [11,20] after [1,10] is touch-adjacent (gap 0): must fuse.
    val spans = Seq(
      (1L, 1L, 100L), (1L, 5L, 10L), (1L, 50L, 120L), (1L, 150L, 160L),
      (2L, 1L, 10L), (2L, 11L, 20L), (2L, 22L, 30L))
      .toDF("doc_id", "span_start", "span_end")
    val merged = Dedup.mergeSpans(spans)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged === Set((1L, 1L, 120L), (1L, 150L, 160L),
      (2L, 1L, 20L), (2L, 22L, 30L)), s"merged: $merged")
  }

  test("d19 cut reaches zero residual on quote-shaped contamination") {
    import spark.implicits._
    val quote = (1 to 40).map(i => s"benchword$i").mkString(" ")
    val fillerA = (1 to 200).map(i => s"alpha$i").mkString(" ")
    val fillerB = (1 to 180).map(i => s"omega$i").mkString(" ")
    val train = Seq(
      (7L, s"$fillerA $quote $fillerB"),   // quote mid-doc
      (8L, s"$quote $fillerB"),            // quote at position 1 (empty head segment)
      (9L, s"$fillerA $quote"),            // quote at the end (empty tail segment)
      (10L, fillerA)                       // clean — must pass through untouched
    ).toDF("doc_id", "text")
    val bench = Seq((3L, s"benchmark preamble text here $quote and a closing sentence"))
      .toDF("doc_id", "text")

    val cleaned = Dedup.removeSpans(train,
      Dedup.contaminationSpans(train, bench, k = 20))
    val rows = cleaned.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // bookkeeping: exactly one span cut from each planted doc, none from 10
    assert(rows(7L)._1 === 1L && rows(8L)._1 === 1L && rows(9L)._1 === 1L)
    assert(rows(10L) === ((0L, 0L, fillerA)))
    // the quote is gone, the filler words survive, length accounting holds
    for (id <- Seq(7L, 8L, 9L)) {
      val (_, nChars, text) = rows(id)
      assert(!text.contains("benchword"), s"doc $id still contaminated: $text")
      assert(nChars >= quote.length, s"doc $id cut only $nChars chars")
    }
    assert(rows(7L)._3.startsWith("alpha1 ") && rows(7L)._3.contains("omega180"))
    // the fixpoint property: re-flagging the cleaned corpus finds NOTHING
    assert(Dedup.contaminationSpans(
      cleaned.select("doc_id", "text"), bench, k = 20).isEmpty,
      "zero-residual: cleaned corpus must not flag again")
    // scale posture: with bench-bounded cut lists the corpus-side join
    // must be map-side (broadcast), never a corpus shuffle
    val bcast = Dedup.removeSpans(train,
      Dedup.contaminationSpans(train, bench, k = 20), broadcastSpans = true)
    bcast.collect()
    val plan = bcast.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"broadcastSpans must make the cut-list join map-side:\n${plan.take(1200)}")
  }

  test("d19 fixpoint: a cut that mints a new benchmark gram converges, one pass does not") {
    import spark.implicits._
    // Removing the b2 quote butts the two halves of b1 together — the
    // cleaned doc IS a benchmark gram that did not exist before the cut.
    val b1 = "ABCDEFGHIJKLMNOPQRST"
    val b2 = "0123456789qrstuvwxyz"
    val bench = Seq((1L, b1), (2L, b2)).toDF("doc_id", "text")
    val train = Seq((7L, "ABCDEFGHIJ" + b2 + "KLMNOPQRST")).toDF("doc_id", "text")

    val onePass = Dedup.removeSpans(train,
      Dedup.contaminationSpans(train, bench, k = 20))
    assert(onePass.collect().head.getString(3) === b1,
      "one pass must mint exactly the b1 gram (the adversarial stitch)")
    assert(!Dedup.contaminationSpans(
      onePass.select("doc_id", "text"), bench, k = 20).isEmpty,
      "one pass must NOT be a fixpoint here")

    val fixed = Dedup.decontaminateText(train, bench, k = 20)
    assert(fixed.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((7L, "")), "fixpoint must cut to empty")
    assert(Dedup.contaminationSpans(fixed, bench, k = 20).isEmpty)
  }

  test("d18 index lifecycle: build, probe, O(delta) append — later batches see earlier ones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d18_idx_").toString
    val mk = (id: Long, body: String) => (id, body)
    val corpus = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      mk(2L, "one two three four five six seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    Dedup.buildLshIndex(corpus, dir, n = 3, numHashes = 64, bands = 32)
    // batch 1: a near-dup of corpus doc 1 — found against the standing index
    val batch1 = Seq(
      mk(101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      mk(102L, "completely unrelated words that match nothing in the corpus")
    ).toDF("doc_id", "text")
    val hits1 = Dedup.incrementalDedupPairs(dir, batch1, corpus, threshold = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits1 === Set((101L, 1L)), s"batch 1 vs corpus: $hits1")
    // append batch 1, then batch 2 must see BOTH the corpus and batch 1
    Dedup.appendLshIndex(batch1, dir)
    val batch2 = Seq(
      mk(201L, "one two three four five six seven eight nine ten twelve"),
      mk(202L, "completely unrelated words that match nothing in the corpus")
    ).toDF("doc_id", "text")
    val standing = corpus.unionByName(batch1)
    val hits2 = Dedup.incrementalDedupPairs(dir, batch2, standing, threshold = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 201 near-dups corpus doc 2; 202 is an EXACT dup of the appended 102
    assert(hits2 === Set((201L, 2L), (202L, 102L)), s"batch 2 vs standing: $hits2")
  }

  /** Lower-case, strip punctuation, squeeze spaces: the shingle input. */
  private def normalized(d: org.apache.spark.sql.DataFrame) =
    d.select(col("doc_id"), trim(regexp_replace(regexp_replace(
      lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")).as("text"))

  test("d18 churn: pairs found batch by batch equal a from-scratch build") {
    // R−1 append batches land one by one on ONE index built from the base
    // corpus. Each batch is probed against everything indexed so far plus
    // its own within-batch pairs; the accumulated pairs must equal a d3
    // build on the final corpus exactly. Both paths share the signatures
    // and banding, so any drift (a stale meta read, a banding mismatch on
    // append, a lost bucket) breaks multiset equality.
    val replicas = 3
    val (n, hashes, bands, tau) = (3, 64, 32, 0.6)
    val base = normalized(docs).localCheckpoint(true)
    val nBase = base.count()
    val stride = base.agg(max("doc_id")).head.getLong(0) + 1
    val idx = java.nio.file.Files.createTempDirectory("graft_d18_churn_").toString
    Dedup.buildLshIndex(base, idx, n, hashes, bands)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(least(col("id1"), col("id2")), greatest(col("id1"), col("id2")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // base-internal pairs: indexed before churn began
    var accumulated = pairs(Dedup.minhashLshPairs(base, n, hashes, bands, tau))
    var standing = base
    for (k <- 1 until replicas) {
      val batch = base.select((col("doc_id") + k * stride).as("doc_id"),
          concat(col("text"), lit(s" churn$k")).as("text"))
        .localCheckpoint(true)
      accumulated ++= pairs(Dedup.incrementalDedupPairs(idx, batch, standing, tau))
      accumulated ++= pairs(Dedup.minhashLshPairs(batch, n, hashes, bands, tau))
      Dedup.appendLshIndexBatch(batch, idx, Dedup.lshBatchKey(k))
      standing = standing.unionByName(batch).localCheckpoint(true)
    }
    val rebuilt = pairs(Dedup.minhashLshPairs(standing, n, hashes, bands, tau))
    assert(accumulated.sorted === rebuilt.sorted,
      s"churned index diverged from rebuild: ${accumulated.size} vs ${rebuilt.size} pairs")
    // every base doc should pair with most of its churn variants
    assert(accumulated.size >= nBase * (replicas - 1) / 2,
      s"too few pairs (${accumulated.size}) for $nBase docs x $replicas variants")
  }

  test("d20 LSH delete + compact: tombstoned docs stop matching; compaction is probe-invariant") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d20_idx_").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    Dedup.buildLshIndex(corpus, dir, n = 3, numHashes = 64, bands = 32)
    Dedup.appendLshIndex(Seq(
      (101L, "completely unrelated words that match nothing in the corpus")
    ).toDF("doc_id", "text"), dir)
    val standing = corpus.unionByName(Seq(
      (101L, "completely unrelated words that match nothing in the corpus")
    ).toDF("doc_id", "text"))
    val probes = Seq(
      (201L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // ~doc 1
      (202L, "one two three four five six seven eight nine ten twelve"),   // ~doc 2
      (203L, "completely unrelated words that match nothing in the corpus") // =101
    ).toDF("doc_id", "text")
    def probe(): Set[(Long, Long)] =
      Dedup.incrementalDedupPairs(dir, probes, standing, threshold = 0.6)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(probe() === Set((201L, 1L), (202L, 2L), (203L, 101L)))

    // delete doc 1: its near-dup must stop matching IMMEDIATELY (logical)
    Dedup.tombstoneLshIds(spark, dir, Seq(1L).toDF("doc_id"))
    assert(Dedup.lshTombstoneCount(spark, dir) === 1L)
    val afterDelete = probe()
    assert(afterDelete === Set((202L, 2L), (203L, 101L)),
      s"deleted doc still matches: $afterDelete")

    // compact: log consumed, batches folded into base, doc 1 physically
    // gone, probe results bit-identical to the logical view
    Dedup.compactLshIndex(spark, dir)
    assert(Dedup.lshTombstoneCount(spark, dir) === 0L)
    val bands = spark.read.parquet(s"$dir/bands")
    assert(bands.select("ingest_batch").distinct().as[String].collect().toSeq
      === Seq("base"), "compaction must fold every batch into base")
    assert(bands.filter(col("doc_id") === 1L).isEmpty,
      "compaction must physically drop tombstoned buckets")
    assert(probe() === afterDelete, "compaction must be probe-invariant")
  }

  test("d20 tombstones honor the string-id contract (no silent long-cast no-op)") {
    import spark.implicits._
    // buildLshIndex's ID CONTRACT sanctions string-prefixed ids; a
    // long-cast tombstone log would null them, the anti-join would match
    // nothing, and the delete would silently no-op while counting as
    // applied — the exact failure the string-normalized log prevents.
    val dir = java.nio.file.Files.createTempDirectory("graft_d20_str_").toString
    val corpus = Seq(
      ("b1_1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("b1_2", "one two three four five six seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    Dedup.buildLshIndex(corpus, dir, n = 3, numHashes = 64, bands = 32)
    val probes = Seq(
      ("c9_1", "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      ("c9_2", "one two three four five six seven eight nine ten twelve")
    ).toDF("doc_id", "text")
    def hits(): Set[(String, String)] =
      Dedup.incrementalDedupPairs(dir, probes, corpus, threshold = 0.6)
        .select("id1", "id2").as[(String, String)].collect().toSet
    assert(hits() === Set(("c9_1", "b1_1"), ("c9_2", "b1_2")))
    Dedup.tombstoneLshIds(spark, dir, Seq("b1_1").toDF("doc_id"))
    assert(Dedup.lshTombstoneCount(spark, dir) === 1L)
    assert(hits() === Set(("c9_2", "b1_2")),
      "string-id tombstone must actually delete, not null out in a long cast")
    Dedup.compactLshIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/bands")
      .filter(col("doc_id") === "b1_1").isEmpty,
      "compaction must physically drop the string-id buckets")
    assert(hits() === Set(("c9_2", "b1_2")))
  }

  test("d16's flag join is a broadcast (the corpus-never-shuffles claim, plan-asserted)") {
    import spark.implicits._
    val train = (1L to 50L)
      .map(i => (i, s"training document number $i with some shared words " * 3))
      .toDF("doc_id", "text")
    val bench = Seq((1L, "benchmark text that is long enough to gram")).toDF("doc_id", "text")
    val flags = Dedup.contaminationFlags(train, bench, k = 20)
    flags.collect()
    val plan = flags.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench gram set must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the training corpus must not shuffle on the flag join:\n${plan.take(1500)}")
  }

  test("weighted Jaccard separates repetition that set-Jaccard cannot see") {
    import spark.implicits._
    // doc 1: one block; doc 2: the SAME block 9× — the distinct shingle
    // sets differ only by doc 2's two copy-boundary shingles (set-J =
    // 7/9 ≈ 0.78, comfortably a set-near-dup), while the multiset ratio
    // collapses (inter 7 vs uni 79: each in-block shingle occurs 9×)
    val block = "alpha beta gamma delta epsilon zeta eta theta iota"
    val d = Seq(
      (1L, block),
      (2L, Seq.fill(9)(block).mkString(" ")),
      (3L, block + " kappa"), // near-dup of 1 in BOTH measures
      (4L, "totally different words with no shared phrases at all")
    ).toDF("doc_id", "text")
    val set = Dedup.jaccardPairs(d, n = 3, threshold = 0.7)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set.contains((1L, 2L)), s"set-Jaccard must see (1,2) as identical: $set")
    val weighted = Dedup.weightedJaccardPairs(d, n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // the 9× repetition drops below the J >= 1/2 gate entirely
    assert(!weighted.contains((1L, 2L)),
      s"weighted Jaccard must reject the 9x repetition: $weighted")
    // the genuine near-dup survives with exact integer evidence:
    // doc1 has 7 shingles, doc3 has 8, sharing all 7 → inter=7, uni=8
    assert(weighted((1L, 3L)) === (7L, 8L), s"got ${weighted.get((1L, 3L))}")
    assert(!weighted.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("MinHash-LSH pairs are a subset of exact Jaccard pairs with high recall") {
    val exact = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, n = 3, numHashes = 64, bands = 16,
        threshold = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain near-dups")
    assert(lsh.subsetOf(exact), "verification must kill false candidates")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall below 0.95 (${lsh.size}/${exact.size})")
  }

  test("verify stage survives an output-sized candidate set with no forced broadcast") {
    // Adversarial volume: every pair of 100 docs is a candidate (4,950
    // pairs; the candidate ID set IS the corpus). With broadcast disabled
    // — the stand-in for "candidate set too big for the driver at 100 TB"
    // — the verifier must degrade to a shuffle join, not force a
    // broadcast (a re-added broadcast() hint overrides the threshold and
    // would reintroduce a BroadcastExchange here, failing this assert).
    val d = docs.select("doc_id", "text").limit(100).cache()
    val ids = d.select("doc_id")
    val allPairs = ids.toDF("id1").crossJoin(ids.toDF("id2"))
      .filter(col("id1") < col("id2"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val verified = Dedup.verifyJaccardPairs(d, allPairs, n = 3, threshold = 0.6)
      val got = verified.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = verified.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"verify must not force a broadcast of the candidate set:\n${plan.take(1500)}")
      // Correctness unchanged under the shuffle strategy: all-pairs
      // candidates + exact verification == the exact Jaccard operator.
      val exact = Dedup.jaccardPairs(d, n = 3, threshold = 0.6)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty && got === exact)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      d.unpersist()
    }
  }

  test("SimHash finds all exact duplicates at hamming distance 0") {
    val d = docs.select("doc_id", "text").limit(50)
    val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
    val pairs = Dedup.simhashPairs(doubled, maxDist = 3)
    val zero = pairs.filter(col("hamming") === 0 &&
      col("id2") === col("id1") + 1000000).count()
    assert(zero === 50)
  }

  test("portable 31-bit SimHash finds all exact duplicates at hamming 0") {
    val d = docs.select("doc_id", "text").limit(50)
    val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
    val pairs = Dedup.simhashPairsPortable(doubled, maxDist = 3)
    val zero = pairs.filter(col("hamming") === 0 &&
      col("id2") === col("id1") + 1000000).count()
    assert(zero === 50) // uneven 7/7/7/10-bit pigeonhole chunks still exact
  }

  test("SRP-LSH ANN recall against exact brute-force top-k") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id")
    val approx = Similarity.lshTopK(queries, emb, k = 5, planes = 16, bands = 8)
    val recall = Similarity.recallAtK(approx, exact)
    assert(recall >= 0.8, s"SRP recall $recall below 0.8 (measured 0.94)")
  }

  test("IVF ANN recall against exact brute-force top-k") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id")
    val approx = Similarity.ivfTopK(queries, emb, k = 5, nlist = 16, nprobe = 6)
    val recall = Similarity.recallAtK(approx, exact)
    assert(recall >= 0.8, s"IVF recall $recall below 0.8 (measured 0.96)")
  }

  test("PQ ANN recall against exact brute-force top-k") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id")
    val approx = Similarity.pqTopK(queries, emb, k = 5, m = 8, ksub = 16)
    assert(approx.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    val recall = Similarity.recallAtK(approx, exact)
    assert(recall >= 0.5, s"PQ recall $recall below 0.5")
  }

  test("IVF-PQ ANN recall against exact brute-force top-k") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id")
    val approx = Similarity.ivfpqTopK(queries, emb, k = 5,
      nlist = 16, nprobe = 6, m = 8, ksub = 16)
    // floor 0.60 under measured 0.68 (r4: tightened from 0.55): Lloyd
    // means are float sums whose order can shift with partitioning, so
    // near-tie shortlist boundaries may wobble a hit or two — but at 50
    // exact pairs (10 queries × k=5) a 4-hit wobble is already generous;
    // below 0.60 would indicate a real regression, not tie noise (same
    // margin construction as IVF's 0.8-under-0.96)
    val recall = Similarity.recallAtK(approx, exact)
    assert(recall >= 0.60, s"IVF-PQ recall $recall below 0.60 (measured 0.68)")
  }

  test("IVF-PQ excludes null and zero-norm vectors and keeps k neighbors") {
    val dim = emb.selectExpr("size(embedding)").head.getInt(0)
    val bad = spark.range(1).select(
        lit(-1L).as("vec_id"), lit(null).cast("array<float>").as("embedding"))
      .unionByName(spark.range(1).select(
        lit(-2L).as("vec_id"), array_repeat(lit(0.0f), dim).as("embedding")))
    val corpus = emb.select("vec_id", "embedding").unionByName(bad)
    val queries = corpus.filter(col("vec_id") < 10)
    val res = Similarity.ivfpqTopK(queries, corpus, k = 5,
      nlist = 16, nprobe = 6, m = 8, ksub = 16).localCheckpoint(true)
    assert(res.filter(col("query_id") < 0).count() === 0)
    assert(res.filter(col("neighbor_id") < 0).count() === 0)
    assert(res.filter(isnan(col("cosine"))).count() === 0)
    // distinct-count guard: a bare forall over groups passes vacuously if
    // a query drops out of the result entirely
    assert(res.select("query_id").distinct().count() === 10)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) === 5))
  }

  test("BM25 returns exactly the docs containing a query term, scores positive") {
    val terms = Seq("hash", "join")
    val scored = Ranking.bm25(docs, terms).localCheckpoint(true)
    val expected = docs.filter(
      arrays_overlap(split(col("text"), " "), typedLit(terms))).count()
    assert(scored.count() === expected)
    assert(scored.filter(col("score_micro") <= 0).count() === 0,
      "Robertson plus-one idf keeps every weight positive")
    assert(scored.filter(col("terms_matched") > terms.size).count() === 0)
  }

  test("BM25 ranks higher term frequency above lower at equal doc length") {
    import spark.implicits._
    val d = Seq(
      (1L, "hash hash hash scan"),
      (2L, "hash scan scan scan"),
      (3L, "scan scan scan scan")).toDF("doc_id", "text")
    val r = Ranking.bm25(d, Seq("hash")).orderBy(col("score_micro").desc)
      .select("doc_id").as[Long].collect()
    assert(r.toSeq === Seq(1L, 2L), "tf3 doc above tf1 doc; no-match doc absent")
  }

  test("SemDeDup drops planted semantic duplicates and keeps survivors clean") {
    import spark.implicits._
    // Plant near-identical copies (one component nudged by 2 milli-units,
    // cosine ≈ 0.9999) at HIGHER ids — the regime SemDeDup targets. The
    // natural corpus has no pairs above cosine 0.6, so at threshold 0.9
    // the exact duplicate set is exactly original↔copy.
    val base = emb.filter(col("embedding").isNotNull).select("vec_id", "embedding")
    val planted = base.withColumn("vec_id", col("vec_id") + 1000000)
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.002f)).otherwise(x)))
    val corpus = base.unionByName(planted)
    val survivors = Similarity.semDedup(corpus, threshold = 0.9).localCheckpoint(true)
    val kept = survivors.select(col("vec_id")).as[Long].collect().toSet
    // originals always survive (a planted copy never has the lower id)
    val nBase = base.count()
    assert(base.select(col("vec_id")).as[Long].collect().forall(kept.contains))
    // coverage: a jittered copy lands in its source's cluster unless the
    // assignment is a near-tie — allow a small miss margin
    val copyCoverage = 1.0 - kept.count(_ >= 1000000).toDouble / nBase
    assert(copyCoverage >= 0.95,
      s"SemDeDup copy coverage $copyCoverage below 0.95 (${kept.count(_ >= 1000000)} copies survived)")
    // precision is structural: no surviving in-cluster pair may remain
    // above the threshold (greedy-by-id would have dropped the higher id)
    val sv = survivors.join(corpus, "vec_id")
    val a = sv.select(col("cluster"), col("vec_id").as("id1"),
      Similarity.quantized(col("embedding")).as("_v1"))
    val b = sv.select(col("cluster"), col("vec_id").as("id2"),
      Similarity.quantized(col("embedding")).as("_v2"))
    val residual = a.join(b, "cluster").filter(col("id1") < col("id2"))
      .filter(Similarity.cosine(col("_v1"), col("_v2")) >= 0.9)
    assert(residual.count() === 0, "survivors must be pairwise below threshold in-cluster")
  }

  test("quality gate: per-rule flags fire on the right degenerate docs") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq.fill(30)("w").zipWithIndex.map(p => p._1 + p._2).mkString(" ")), // clean: 30 distinct words
      (2L, "too short"),                                  // fails min-words (and <3 shingles → r_rep true)
      (3L, ("a " * 30).trim),                             // repetitive: ttr + dup-2-gram fail
      (4L, (1 to 6000).map(i => s"t$i").mkString(" "))    // fails max-words only
    ).toDF("doc_id", "text")
    val g = TextStats.qualityGate(d).orderBy("doc_id").localCheckpoint(true)
    val rows = g.select("r_min_words", "r_max_words", "r_ttr", "r_rep", "keep")
      .as[(Boolean, Boolean, Boolean, Boolean, Boolean)].collect().toSeq
    assert(rows(0) === ((true, true, true, true, true)))
    assert(rows(1) === ((false, true, true, true, false)))
    assert(rows(2) === ((true, true, false, false, false)))
    assert(rows(3) === ((true, false, true, true, false)))
    // keep is exactly the conjunction, always
    assert(g.filter(col("keep") =!=
      (col("r_min_words") && col("r_max_words") && col("r_ttr") && col("r_rep")))
      .count() === 0)
  }

  test("unigram log-perplexity scores rare-vocabulary docs higher") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a"),        // all common tokens
      (2L, "a a a zzz"),      // one rare token
      (3L, "a a a a a a a a") // more common tokens
    ).toDF("doc_id", "text")
    val r = TextStats.unigramLogPpl(d).orderBy("doc_id").localCheckpoint(true)
    val mean = r.select("mean_nll_micro").as[Long].collect()
    assert(mean(1) > mean(0), "the rare token must raise mean NLL")
    assert(mean(2) === mean(0), "docs of only the common token share its NLL")
    // exact integer contract: nll_micro = Σ count × micro-nats
    val Seq(n1, n2) = r.filter(col("doc_id") <= 2).select("nll_micro").as[Long].collect().toSeq
    val total = 16.0
    def m(c: Long): Long = math.round(-math.log(c / total) * 1e6)
    assert(n1 === 4 * m(15))
    assert(n2 === 3 * m(15) + m(1))
  }

  test("hybrid RRF fuses leg ranks exactly on a hand-computed corpus") {
    import spark.implicits._
    // lex leg (term "hash"): d1 tf=3 -> rank 1, d2 tf=1 -> rank 2, d3 absent
    // sem leg (query = d2's vector): d2 cos 1 -> rank 1, d3 -> rank 2, d1 -> rank 3
    val d = Seq(
      (1L, "hash hash hash scan"),
      (2L, "hash scan scan scan"),
      (3L, "scan scan scan scan")).toDF("doc_id", "text")
    val e = Seq(
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val out = Ranking.hybridRrf(d, e, Seq("hash"), queryVecId = 2L, k = 3)
      .orderBy("rank")
      .select("doc_id", "rrf_nano").as[(Long, Long)].collect()
    def rrf(ranks: Seq[Int]): Long =
      math.round(ranks.map(r => 1.0 / (60 + r)).sum * 1e9)
    // d2 = 1/62 + 1/61, d1 = 1/61 + 1/63, d3 = 1/62 only
    assert(out.map(_._1).toSeq === Seq(2L, 1L, 3L))
    assert(out(0)._2 === rrf(Seq(2, 1)))
    assert(out(1)._2 === rrf(Seq(1, 3)))
    assert(out(2)._2 === rrf(Seq(2)))
  }

  test("hybrid RRF rejects missing/degenerate query vectors, ignores zero-norm rows") {
    import spark.implicits._
    val d = Seq((1L, "hash"), (2L, "hash hash"), (3L, "scan")).toDF("doc_id", "text")
    val e = Seq((1L, Array(0.0f, 1.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ranking.hybridRrf(d, e, Seq("hash"), queryVecId = 99L, k = 3)
    }
    intercept[IllegalArgumentException] {
      Ranking.hybridRrf(d, e, Seq("hash"), queryVecId = 3L, k = 3) // zero-norm
    }
    val out = Ranking.hybridRrf(d, e, Seq("hash"), queryVecId = 2L, k = 3)
      .localCheckpoint(true)
    // doc 3's zero-norm vector must not seize a NaN rank; it has no lex
    // match either, so it is absent entirely
    assert(out.filter(col("doc_id") === 3L).count() === 0)
    assert(out.count() === 2)
  }

  test("PQ excludes null and zero-norm vectors without poisoning codebooks") {
    val dim = emb.selectExpr("size(embedding)").head.getInt(0)
    // negative ids: the degenerate vectors sit at the LOWEST ids, inside
    // the deterministic lowest-id codebook-init window — without the
    // up-front norm filter they would seed (and shrink/poison) codebooks
    val bad = spark.range(1).select(
        lit(-1L).as("vec_id"), lit(null).cast("array<float>").as("embedding"))
      .unionByName(spark.range(1).select(
        lit(-2L).as("vec_id"), array_repeat(lit(0.0f), dim).as("embedding")))
    val corpus = emb.select("vec_id", "embedding").unionByName(bad)
    val queries = corpus.filter(col("vec_id") < 10)
    val res = Similarity.pqTopK(queries, corpus, k = 5, m = 8, ksub = 16)
      .localCheckpoint(true)
    assert(res.filter(col("query_id") < 0).count() === 0,
      "null/zero-norm queries must be dropped")
    assert(res.filter(col("neighbor_id") < 0).count() === 0,
      "null/zero-norm corpus vectors must never be neighbors")
    assert(res.filter(isnan(col("cosine"))).count() === 0,
      "a NaN cosine means a codeword was poisoned")
    assert(res.select("query_id").distinct().count() === 10,
      "all real queries must survive (vacuous-forall guard)")
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) === 5))
  }

  test("int8 quantization bounds per-component error by half a step") {
    val q = Similarity.int8Quantize(emb)
    val bad = q.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("maxerr", array_max(zip_with(
        transform(col("embedding"), x => x.cast("double")), col("q"),
        (x, qi) => abs(x - qi * col("amax") / 127))))
      .filter(col("maxerr") > col("amax") / 254 * 1.0000001)
    assert(bad.count() === 0, "reconstruction error must stay within half a step")
    // codes stay in int8 range
    assert(q.filter(array_max(transform(col("q"), abs(_))) > 127).count() === 0)
  }

  test("ANN ranks are dense and cosine is within [-1, 1]") {
    val topk = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 3)
    assert(topk.count() === 15)
    assert(topk.filter(col("cosine") > 1.0 || col("cosine") < -1.0).count() === 0)
    val ranks = topk.groupBy("query_id")
      .agg(sort_array(collect_list("rank")).as("rs"))
      .filter(array_join(col("rs"), ",") =!= "1,2,3")
    assert(ranks.count() === 0)
  }

  test("language ID picks the right language on marker-bearing text") {
    // The synthetic corpus's text is language-independent word soup (its
    // lang column is a label, not a property of the text), so semantic
    // accuracy is asserted on controlled inputs instead.
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat and the dog ran to the house in the rain"),
      ("de", "der hund und die katze ist nicht mit der maus von zu haus"),
      ("fr", "le chat et la souris est pour les amis dans une maison des champs"),
      ("es", "el gato no es por las casas para una madre con los perros del sur"),
      ("und", "qwerty zxcvb asdfgh")).toDF("expected", "text")
    val wrong = samples
      .withColumn("pred", TextStats.langId(col("text")))
      .filter(col("pred") =!= col("expected"))
    assert(wrong.count() === 0)
  }

  test("winnowing fingerprint is deterministic and edit-sensitive") {
    val fp = docs.select(col("doc_id"),
      TextStats.winnowFingerprint(col("text"), lit(8), lit(16)).as("fp"))
    val fp2 = docs.select(col("doc_id"),
      TextStats.winnowFingerprint(col("text"), lit(8), lit(16)).as("fp"))
    assert(fp.exceptAll(fp2).count() === 0)
    // Near-duplicate documents are SUPPOSED to collide (that is the point
    // of winnowing) — this corpus has ~dozens of near-dup pairs. Only
    // gross degeneracy (most docs hashing together) would be a bug.
    val nTexts = docs.select("text").distinct().count()
    val nFps = fp.select("fp").distinct().count()
    assert(nFps >= nTexts * 9 / 10, s"fingerprint degenerated: $nFps of $nTexts")
  }

  test("portable winnow guards short inputs and stays non-degenerate") {
    import spark.implicits._
    // shorter than k, exactly one window shy, null — all fingerprint 0
    val edge = Seq((1L, Option("short")), (2L, Option("x" * 22)),
        (3L, Option.empty[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextStats.winnowPortable(col("text"), 8, 16).as("fp"))
      .as[(Long, Long)].collect().toMap
    // len 22 → 15 k-gram hashes < window 16 → no full window → 0
    assert(edge === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    val fp = docs.select(
      TextStats.winnowPortable(col("text"), 8, 16).as("fp"))
    val nTexts = docs.select("text").distinct().count()
    val nFps = fp.select("fp").distinct().count()
    assert(nFps >= nTexts * 9 / 10, s"portable fingerprint degenerated: $nFps of $nTexts")
  }

  test("quality metrics are exact integer/ratio arithmetic") {
    val q = TextStats.quality(docs)
    val bad = q.filter(col("n_words") <= 0 || col("ttr") > 1.0 ||
      col("stopword_ratio") > 1.0 || col("n_distinct_words") > col("n_words"))
    assert(bad.count() === 0)
  }

  test("repetition signals on known degenerate and clean texts") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a"),             // fully repeated
      (2L, "one two three four"),  // fully distinct
      (3L, "x y x y x y"),         // repeated 2-gram pattern
      (4L, "ab")                   // < 3 words → dropped
    ).toDF("doc_id", "text")
    val r = TextStats.repetition(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(4L))
    assert(r(1L).getAs[Double]("dup_word_frac") === 0.75)      // 1 - 1/4
    assert(r(1L).getAs[Double]("dup_2gram_frac") === round6(1 - 1.0 / 3))
    assert(r(1L).getAs[Double]("top_word_frac") === 1.0)
    assert(r(2L).getAs[Double]("dup_word_frac") === 0.0)
    assert(r(2L).getAs[Double]("dup_2gram_frac") === 0.0)
    assert(r(2L).getAs[Double]("top_word_frac") === 0.25)
    assert(r(3L).getAs[Double]("dup_2gram_frac") === 0.6)      // 2 distinct of 5
    assert(r(3L).getAs[Double]("dup_3gram_frac") === 0.5)      // 2 distinct of 4
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("PII scrub redacts emails, phones, IPs and counts them") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org or call 555-123-4567"),
      (2L, "server 192.168.0.1 and 10.0.0.255 no mail"),
      (3L, "clean text only")
    ).toDF("doc_id", "text")
    val r = TextStats.piiScrub(d).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[String]("clean_text") ==
      "mail me at <EMAIL> or call <PHONE>")
    assert(r(1L).getAs[Int]("n_emails") == 1)
    assert(r(1L).getAs[Int]("n_phones") == 1)
    assert(r(2L).getAs[String]("clean_text") == "server <IP> and <IP> no mail")
    assert(r(2L).getAs[Int]("n_ips") == 2)
    assert(r(3L).getAs[String]("clean_text") == "clean text only")
  }

  test("stratified sampling is deterministic, exact-k, and partitioning-independent") {
    val base = docs.select(col("doc_id"), col("source"))
    val s1 = Sampling.stratified(base, "source", k = 10)
    val s2 = Sampling.stratified(base.repartition(7), "source", k = 10)
    val m1 = s1.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(m1 == s2.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    val counts = s1.groupBy("source").count().collect()
    assert(counts.forall(_.getLong(1) <= 10))
    // rate sampling is a strict subset relation as rate grows
    val a = Sampling.hashSample(base, 0.2).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(base, 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(b))
    assert(a.nonEmpty && b.size > a.size)
  }

  test("mixture sampling: sqrt temperature upsamples rare domains, quotas capped") {
    import spark.implicits._
    // 400 docs in a, 100 in b, 4 in c: proportional sampling would give
    // c ~0.8% of the budget; sqrt weights give it sqrt(4)/(20+10+2) ≈ 6%.
    val d = ((1L to 400L).map((_, "a")) ++ (1001L to 1100L).map((_, "b")) ++
      (2001L to 2004L).map((_, "c"))).toDF("doc_id", "source")
    val got = Sampling.mixtureSample(d, "source", budget = 64).localCheckpoint(true)
    val quotas = got.groupBy("source").agg(
        count(lit(1)).as("n"), first("quota").as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // wdq = floor(sqrt(n)*1e6): a 20e6, b 10e6, c 2e6; S = 32e6
    assert(quotas("a") === ((40L, 40L)), "64*20/32 = 40")
    assert(quotas("b") === ((20L, 20L)), "64*10/32 = 20")
    assert(quotas("c") === ((4L, 4L)), "64*2/32 = 4 = |c|, cap binds")
    // deterministic and partitioning-independent, like stratified
    val again = Sampling.mixtureSample(d.repartition(7), "source", budget = 64)
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet ==
      again.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("mixture sampling treats a null stratum as a stratum (null-safe quota join)") {
    import spark.implicits._
    val d = ((1L to 100L).map(i => (i, Some("a"))) ++
      (1001L to 1100L).map(i => (i, None: Option[String])))
      .toDF("doc_id", "source")
    val got = Sampling.mixtureSample(d, "source", budget = 50).localCheckpoint(true)
    // equal strata -> equal quotas; an equi-join would count the null
    // stratum into the normalizer and then emit only a's 25
    assert(got.count() === 50)
    assert(got.filter(col("source").isNull).count() === 25)
  }

  test("token budget keeps hash-order prefix incl. the straddling doc, per stratum") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 40L), (2L, "a", 40L), (3L, "a", 40L), (4L, "a", 40L),
      (10L, "b", 500L))
      .toDF("doc_id", "source", "toks")
    val kept = Sampling.tokenBudget(d, "source", "toks", budget = 100)
      .collect().map(r => r.getLong(0)).toSet
    // stratum a: hash order of ids 1..4; cumulative 40/80/120 → first THREE
    // kept (third straddles), fourth dropped. stratum b: single 500-token
    // doc straddles an empty budget → kept (soft budget).
    val order = Seq(1L, 2L, 3L, 4L).sortBy(i => (1103515245L * i + 12345L) % 2147483648L)
    assert(kept == Set(order(0), order(1), order(2), 10L))
  }

  test("sequence packing chops each source's token stream without gaps") {
    val L = 128L
    val packed = Sampling.packSequences(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks")),
      "source", "toks", seqLen = L)
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    for ((_, rows) <- packed.groupBy(_._1)) {
      var pos = 0L
      for ((_, toks, startSeq, endSeq, offset) <- rows.sortBy(r => (r._3, r._5, r._2))) {
        // each doc starts exactly where the stream stands: no gaps, no overlap
        assert(startSeq * L + offset === pos)
        assert(endSeq === (pos + toks - 1) / L)
        pos += toks
      }
    }
  }

  test("sequence packing drops non-positive token counts, layout unchanged otherwise") {
    import spark.implicits._
    val rows = Seq((1L, "s", 100L), (2L, "s", 0L), (3L, "s", -5L), (4L, "s", 60L),
        (5L, "t", 30L)).toDF("doc_id", "source", "toks")
    val got = Sampling.packSequences(rows, "source", "toks", seqLen = 64)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val clean = Sampling.packSequences(rows.filter(col("toks") > 0),
        "source", "toks", seqLen = 64)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(!got.exists(t => t._1 == 2L || t._1 == 3L), "zero/negative-token docs dropped")
    assert(got === clean, "dropped rows must not perturb later documents' spans")
    // no inverted spans anywhere
    assert(got.forall(t => t._3 >= t._2), s"inverted span in $got")
  }

  test("frame sampling emits only full windows; resize shrinks payload and meta") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocs(Seq(
      (1L, "a" * 100, "en", "s"),   // frames at 0,32,64 fit; 96+16 > 100
      (2L, "b" * 10, "en", "s")     // shorter than one frame → none
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length($"text")))
    val frames = Multimodal.sampleFrames(media, frameSize = 16, stride = 32,
      maxFrames = 4).collect()
    assert(frames.map(f => (f.media_id, f.frame_idx, f.offset)).toSet ==
      Set((1L, 0, 0L), (1L, 1, 32L), (1L, 2, 64L)))
    assert(frames.forall(_.frame_sum == 16L * 'a'.toInt))

    val resized = Multimodal.resizeStub(media, factor = 4)
      .select("media_id", "data", "meta.n_bytes").collect()
      .map(r => r.getLong(0) -> (r.getAs[Array[Byte]](1).length, r.getLong(2))).toMap
    assert(resized(1L) == ((25, 25L)))
    assert(resized(2L) == ((2, 2L)))
  }

  test("replicated corpus collapses through LSH pairs and components within bounds") {
    // Replica k of doc d is d's text plus one marker word: a near-dup,
    // never an exact dup. Every replica group should collapse toward one
    // survivor. The upper bound (with LSH recall slack) catches
    // under-merging; the lower bound catches a degenerate bucketing that
    // collapses distinct documents (base docs may near-dup each other, so
    // half is safe slack).
    val replicas = 3
    val base = docs.select("doc_id", "text")
    val nBase = base.count()
    val stride = base.agg(max("doc_id")).head.getLong(0) + 1
    val corpus = (0 until replicas).map { k =>
      if (k == 0) base
      else base.select((col("doc_id") + k * stride).as("doc_id"),
        concat(col("text"), lit(s" replica$k")).as("text"))
    }.reduce(_ unionByName _)
    val pairs = Dedup.minhashLshPairs(normalized(corpus), n = 3, numHashes = 64,
      bands = 16, threshold = 0.5).select("id1", "id2")
    val removed = Components.connectedComponents(pairs)
      .where(col("id") =!= col("component")).select(col("id").as("doc_id"))
    val survivors = corpus.join(removed, Seq("doc_id"), "left_anti").count()
    val most = (nBase * (1 + 0.1 * (replicas - 1))).toLong
    assert(survivors <= most, s"under-merged: $survivors survivors > $most")
    assert(survivors >= nBase / 2,
      s"over-merged: $survivors survivors < ${nBase / 2} of $nBase distinct docs")
  }

  test("chunk dedup drops cross-doc repeats, keeps order, empties all-dup docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d u1 u2"),   // chunk "a b" and "c d" shared, tail unique
      (2L, "a b c d v1 v2"),
      (3L, "w1 w2 w3")         // fully unique, odd word count (partial chunk)
    ).toDF("doc_id", "text")
    val r = Dedup.chunkDedup(d, chunkWords = 2, minDocs = 2)
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == (("u1 u2", 2L)))            // order kept, 2 chunks removed
    assert(r(2L) == (("v1 v2", 2L)))
    assert(r(3L) == (("w1 w2 w3", 0L)))         // partial tail chunk survives
    // a doc that is ALL repeats reassembles to the empty string, not null
    val all = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val e = Dedup.chunkDedup(all, chunkWords = 2, minDocs = 2)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(e(1L) == "" && e(2L) == "")
    // within-doc repetition alone (one doc) does not count as cross-doc
    val self = Seq((1L, "a b a b"), (2L, "c d")).toDF("doc_id", "text")
    val s2 = Dedup.chunkDedup(self, chunkWords = 2, minDocs = 2)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(s2(1L) == "a b a b")
  }

  test("dedup selection keeps exactly one survivor per near-dup cluster") {
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6).select("id1", "id2")
    val labels = Components.connectedComponents(pairs)
    val clustered = labels.count()                       // docs in any cluster
    val clusters = labels.filter(col("id") === col("component")).count()
    val total = docs.count()
    // kept = untouched docs + one representative per cluster
    val kept = total - clustered + clusters
    val sel = graft.SparkEntry.queries("d9_dedup_select")(spark, dir)
    assert(sel.count() === kept)
    assert(sel.filter(col("cluster_rep")).count() === clusters)
  }

  test("contamination flags planted benchmark overlap and nothing else") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon other words here"), // 3 shared 3-grams
      (2L, "totally different words with no overlap at all"),
      (3L, "alpha beta gamma tail")                            // 1 shared 3-gram
    ).toDF("doc_id", "text")
    val r = Dedup.contamination(train, bench, n = 3, minOverlap = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) == ((3L, true)))
    assert(r(3L) == ((1L, false)))
    assert(!r.contains(2L))
  }

  test("fuzzy decontamination catches planted near-dup leakage exact overlap misses") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the riverbank " +
      "while autumn leaves drift slowly down onto the quiet water below"
    val bench = Seq((1000L, base)).toDF("doc_id", "text")
    val train = Seq(
      (1L, base.replace("autumn", "spring")),      // near-dup paraphrase
      (2L, base),                                  // verbatim leak
      (3L, "completely unrelated content about matrix factorization and gpus " +
        "with plenty of distinct words to shingle on for this test document")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyContamination(train, bench, n = 3, numHashes = 64,
        bands = 32, threshold = 0.6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1000L), (2L, 1000L)))
  }

  test("fuzzy decontamination keeps colliding ids and differing schemas apart") {
    import spark.implicits._
    val leak = "the quick brown fox jumps over the lazy dog near the riverbank " +
      "while autumn leaves drift slowly down onto the quiet water below"
    // benchmark doc_id=1 collides with corpus doc_id=1 (a DIFFERENT,
    // unrelated document); corpus has an extra column the benchmark lacks
    val bench = Seq((1L, leak)).toDF("doc_id", "text")
    val train = Seq(
      (1L, "unrelated corpus document that happens to reuse the benchmark id " +
        "and talks about sparse attention kernels and optimizer state sharding", "web"),
      (2L, leak, "web"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.fuzzyContamination(train, bench, n = 3, numHashes = 64,
        bands = 32, threshold = 0.6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 1L)),
      "corpus 1 must not inherit benchmark 1's shingles via the id collision")
  }

  test("bloom-prefiltered decontamination is bit-identical to the exact join") {
    val bench = docs.where(col("doc_id") % 25 === 0)
    val train = docs.where(col("doc_id") % 25 =!= 0)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    val exact = toMap(Dedup.contamination(train, bench, n = 3, minOverlap = 2))
    // fpp high enough that false positives certainly occur at this scale —
    // the confirm join must still remove every one of them
    val bloom = toMap(Dedup.contaminationBloom(train, bench, n = 3,
      minOverlap = 2, fpp = 0.2))
    assert(exact.nonEmpty, "split should produce real overlap")
    assert(bloom === exact)
  }

  test("prefix-filter containment equals the exact quadratic operator") {
    import spark.implicits._
    val d = docs.select("doc_id", "text")
    // plant snippet docs: first 30 words of 20 docs → containment 1.0
    // against their source at Jaccard far below any τ
    val snip = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 20000).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 30), " ").as("text"))
    val corpus = d.unionByName(snip)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id1"), col("id2"), round(col("containment"), 9))
        .as[(Long, Long, Double)].collect().toSet
    val exact = toSet(Dedup.containmentPairs(corpus, n = 3, threshold = 0.9))
    val prefix = toSet(Dedup.containmentPairsPrefix(corpus, n = 3, threshold = 0.9))
    assert(exact.nonEmpty, "planted snippets must produce containment pairs")
    assert(prefix === exact,
      "prefix filtering is pigeonhole-exact: identical pair set required")
  }

  test("prefix-filter candidates stay bounded under a 30%-shared boilerplate shingle") {
    import spark.implicits._
    // 300 docs of unique words; 90 (30%) share one boilerplate sentence.
    // The exact inverted index expands the hot posting list to
    // 90*89/2 = 4005 pairs; the DF-ascending prefix order keeps the
    // boilerplate shingles out of every prefix (each doc has 10+ rarer
    // unique shingles), so the prefix path generates ZERO candidates here.
    val boiler = "terms of service apply to all pages on this site"
    val rows = (0 until 300).map { i =>
      val unique = (0 until 12).map(j => s"w${i}_$j").mkString(" ")
      val text = if (i % 10 < 3) s"$unique $boiler" else unique
      (i.toLong, text)
    }
    val corpus = rows.toDF("doc_id", "text")
    val nCands =
      Dedup.containmentCandidatesPrefix(corpus, n = 3, threshold = 0.9).count()
    assert(nCands === 0,
      s"boilerplate-only overlap must not reach the candidate set: $nCands")
    // and the full operator still finds nothing (no pair reaches τ=0.9)
    assert(Dedup.containmentPairsPrefix(corpus, n = 3, threshold = 0.9).count() === 0)
  }

  test("chunked posting-list expansion emits every pair exactly once") {
    import spark.implicits._
    // one hot posting list (97 ids — not a multiple of the chunk width) +
    // one small list; chunked path must match the in-place expansion
    val postings = Seq(
      (1L to 97L).toArray.sorted,
      Array(200L, 201L, 202L)
    ).toDF("_ids")
    def pairs(maxChunk: Int) =
      Dedup.postingPairs(postings, maxChunk)
        .as[(Long, Long)].collect().toSeq
    val inPlace = pairs(maxChunk = 1000)
    val chunked = pairs(maxChunk = 8)
    assert(inPlace.size === 97 * 96 / 2 + 3)
    assert(chunked.sorted === inPlace.sorted, "same multiset of pairs")
    assert(chunked.distinct.size === chunked.size, "no pair emitted twice")
    assert(chunked.forall { case (a, b) => a < b })
  }

  test("LSH bucket expansion matches the self-join shape pair-for-pair") {
    import spark.implicits._
    // mixed corpus: two duplicate families + unique docs. bucketPairs
    // (posting lists → postingPairs) must produce EXACTLY the candidate
    // set the former banded self-join produced — the hot-bucket guard is
    // a task-shape change, never a semantic one.
    val rows = (0 until 40).map { i =>
      val text =
        if (i < 15) "the quick brown fox jumps over the lazy dog again"
        else if (i < 25) "pack my box with five dozen liquor jugs tonight"
        else (0 until 10).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, text)
    }
    val corpus = rows.toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(corpus, n = 3, numHashes = 64)
    val banded = Dedup.bandedHashes(sig, bands = 16, rows = 4)
    val viaPostings = Dedup.bucketPairs(banded).distinct()
      .as[(Long, Long)].collect().toSet
    val viaJoin = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(viaJoin.nonEmpty, "duplicate families must collide in buckets")
    assert(viaPostings === viaJoin,
      "posting-list bucket expansion diverged from the self-join shape")
  }

  test("planted hot bucket: 600 template copies expand through the chunked path, exact pairs") {
    import spark.implicits._
    // A boilerplate-heavy corpus — 600 byte-identical copies of one
    // template — collides ALL copies into the same bucket in EVERY band:
    // the worst hot-bucket shape. Every bucket's posting list (600 ids)
    // exceeds HotListChunk=512, so every expansion takes the shuffled
    // block-pair path; the operator must still emit exactly C(600,2)
    // pairs at jaccard 1.0 and nothing else.
    val template = "terms of service apply to all pages on this site always"
    val corpus = ((0 until 600).map(i => (i.toLong, template)) ++
      (600 until 605).map(i =>
        (i.toLong, (0 until 10).map(j => s"u${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(corpus, n = 3, numHashes = 32,
      bands = 8, threshold = 0.9)
    val n = pairs.count()
    assert(n === 600L * 599 / 2, s"expected C(600,2) template pairs, got $n")
    assert(pairs.filter(col("jaccard") < 1.0).count() === 0)
    assert(pairs.filter(col("id1") >= 600 || col("id2") >= 600).count() === 0,
      "unique docs must not pair")
  }

  test("hot-bucket probe: >512 delta docs against a standing index, exact cross pairs") {
    import spark.implicits._
    // Probe-side chunk guard: a delta whose bucket list exceeds
    // HotListChunk splits into blocks before the index join; candidates
    // must still be EXACTLY delta × indexed-family. 530 identical delta
    // docs (2 chunks) probing 40 indexed copies of the same template →
    // 530·40 pairs, all jaccard 1.0.
    val dir = java.nio.file.Files.createTempDirectory("graft_hotprobe_").toString
    val template = "all your base are belong to us now and forever more"
    val corpus = ((0 until 40).map(i => (i.toLong, template)) ++
      Seq((98L, "completely unrelated words that match nothing in the corpus")))
      .toDF("doc_id", "text")
    Dedup.buildLshIndex(corpus, dir, n = 3, numHashes = 32, bands = 8)
    val delta = (1000 until 1530).map(i => (i.toLong, template))
      .toDF("doc_id", "text")
    val hits = Dedup.incrementalDedupPairs(dir, delta, corpus, threshold = 0.9)
    assert(hits.count() === 530L * 40)
    assert(hits.filter(col("jaccard") < 1.0).count() === 0)
    assert(hits.filter(col("id2") === 98).count() === 0, "unrelated doc must not pair")
  }
}
