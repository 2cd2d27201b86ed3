package graft.ops

import graft.functions.Delete1
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{unwrap, wrap}

/** Edit-distance (Levenshtein ≤ 1) similarity self-join without a
  * cartesian product — the string-metric ER join the reference's fuzzy
  * name matcher approximates with blocking + per-pair scoring
  * (`match_names.py:97-130`), here with a GUARANTEED-complete candidate
  * scheme.
  *
  * Candidate generation is the symmetric-delete (FastSS / SymSpell)
  * construction: every string s emits itself plus its |s| single-char
  * deletion variants; two strings with ed(a,b) ≤ 1 ALWAYS share a
  * variant (substitution ⇒ a common deletion at the edited position;
  * insert/delete ⇒ the shorter string IS a deletion of the longer;
  * equality ⇒ the strings themselves), so recall is 1.0 by
  * construction, not probabilistically. A shared variant only bounds
  * ed ≤ 2 from above (delete different positions of "ab"/"ba" and meet
  * at "a"), so a banded-Levenshtein verify prunes the false positives —
  * `levenshtein(s1, s2, 1)`, the threshold overload, runs the O(k·n)
  * diagonal band instead of the full O(n²) table and codegens like any
  * built-in.
  *
  * Scale shape (100 TB): each row fans out to |s|+1 variant rows — for
  * ER-length strings (names, titles, SKUs) a ~20–40× map-side expansion
  * of a narrow (variant, id, string) projection, then ONE shuffle on the
  * variant. Bucket sizes are structurally bounded: a variant v is
  * reachable only from strings obtained by inserting one character into
  * v (≤ (|v|+1)·|Σ| strings, and in real corpora far fewer), so no
  * posting-list chunk guard is needed (contrast d2's shingle lists,
  * which are corpus-frequency-sized). Larger k is NOT offered: k-fold
  * deletion neighborhoods grow combinatorially (C(n,k)·fanout) and the
  * right scale path for k ≥ 2 is q-gram blocking + the same banded
  * verify (see `PhraseIndexJoin` for the indexed-substring machinery).
  */
object EditDistanceJoin {

  /** All (id1, id2, s1, s2) pairs with id1 < id2 and ed(s1, s2) ≤ 1. */
  def ed1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val base = df.select(col(idCol).as("_id"), col(strCol).as("_s"))
    // self + one-char deletions: the kernel slices byte ranges off a
    // one-pass offset table, where the higher-order form pays a lambda
    // dispatch and two O(position) codepoint seeks per position
    // (bit-identity in Delete1Spec)
    val variants = base.select(col("_id"), col("_s"),
      explode(wrap(Delete1(unwrap(col("_s"))))).as("_v"))
    val a = variants.select(col("_v"), col("_id").as("id1"), col("_s").as("s1"))
    val b = variants.select(col("_v"), col("_id").as("id2"), col("_s").as("s2"))
    a.join(b, "_v")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "s1", "s2")
      .distinct() // dedupe BEFORE the verify: one band computation per pair
      .filter(levenshtein(col("s1"), col("s2"), 1) >= 0)
  }

  /** Levenshtein ≤ 2 similarity self-join — the k the symmetric-delete
    * scheme can't reach (k-fold deletion neighborhoods explode
    * combinatorially; see [[ed1Pairs]]). This is the PassJoin
    * partition-filter re-derived for Spark: each INDEXED string splits
    * into k+1 = 3 segments; by pigeonhole, 2 edits leave at least one
    * segment untouched, and its copy appears in the other string at a
    * position shifted by at most ±2 (the net indels before it). So the
    * PROBE side enumerates, for every candidate indexed length
    * Lc ∈ [L−2, L+2] and segment slot i, the substrings of segment-i
    * length at positions within ±2 of segment-i's start — ≤ 75 probes
    * per string — and an equi-join on (gram, slot, Lc) yields a
    * candidate set with recall 1.0 BY CONSTRUCTION. A banded
    * `levenshtein(s1, s2, 2)` prunes false positives.
    *
    * Skew guard (the d2 posting-list lesson): on corpora with shared
    * boilerplate prefixes (`Customer#…`), one segment key can carry a
    * corpus-sized posting list, and a naive join would expand that
    * bucket's cross product in ONE task. Candidates are instead built
    * from per-key bipartite (probe-ids × index-ids) lists; lists whose
    * cross product exceeds maxChunk² are cut into maxChunk-wide blocks
    * whose block pairs round-robin SHUFFLE before expanding — per-task
    * work is capped at maxChunk² regardless of key heat. Candidate
    * volume is lower-bounded by the true pair count (dense-duplicate
    * corpora are inherently pair-dense); the guard bounds the per-task
    * maximum, not the total.
    *
    * Strings shorter than k+1 = 3 chars cannot be segmented; pairs with
    * one tiny side are still found through the probe of the longer
    * string. Tiny×tiny pairs are ALL true results (ed ≤ max length ≤ 2)
    * — output-quadratic by definition — so that leg groups by form
    * (alphabet-bounded) and expands id lists through the same chunked
    * machinery, bounding per-task work even under an empty-string
    * flood.
    */
  def ed2Pairs(df: DataFrame, idCol: String, strCol: String,
               maxChunk: Int = 512): DataFrame = {
    val base = df.select(col(idCol).as("_id"), col(strCol).as("_s"))
      .withColumn("_len", length(col("_s")))

    // segment geometry for a string of length L, slot i ∈ {0,1,2}:
    // first (L mod 3) segments get the extra char
    def segLen(l: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (l / 3).cast("int") + when(i < l % 3, 1).otherwise(0)
    def segStart(l: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      lit(1) + i * (l / 3).cast("int") + least(i, l % 3)

    val idx = base.filter(col("_len") >= 3)
      .select(col("_id"), col("_s"), col("_len"),
        explode(sequence(lit(0), lit(2))).as("_i"))
      .select(struct(
        col("_s").substr(segStart(col("_len"), col("_i")),
          segLen(col("_len"), col("_i"))).as("g"),
        col("_i").as("i"), col("_len").as("l")).as("_key"), col("_id"))

    val prb = base
      .select(col("_id"), col("_s"), col("_len"),
        explode(sequence(col("_len") - 2, col("_len") + 2)).as("_lc"))
      .filter(col("_lc") >= 3)
      .select(col("_id"), col("_s"), col("_len"), col("_lc"),
        explode(sequence(lit(0), lit(2))).as("_i"))
      .withColumn("_sl", segLen(col("_lc"), col("_i")))
      .withColumn("_st", segStart(col("_lc"), col("_i")))
      .select(col("_id"), col("_s"), col("_len"), col("_lc"), col("_i"),
        col("_sl"), explode(sequence(col("_st") - 2, col("_st") + 2)).as("_pos"))
      .filter(col("_pos") >= 1 && col("_pos") + col("_sl") - 1 <= col("_len"))
      .select(struct(col("_s").substr(col("_pos"), col("_sl")).as("g"),
        col("_i").as("i"), col("_lc").as("l")).as("_key"), col("_id"))

    val candidates = bipartitePairs(
      prb.select(col("_key"), col("_id").as("_pid"),
          lit(null).cast(base.schema("_id").dataType).as("_iid"))
        .unionByName(idx.select(col("_key"),
          lit(null).cast(base.schema("_id").dataType).as("_pid"),
          col("_id").as("_iid"))),
      maxChunk)
      .filter(col("id1") =!= col("id2"))
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"))
      .distinct()

    // tiny×tiny leg: both sides < 3 chars are unsegmentable — and since
    // ed(a,b) ≤ max(|a|,|b|) ≤ 2 ALWAYS holds there, every tiny pair is
    // a true result: the output itself is quadratic in tiny rows, so no
    // candidate scheme can shrink it — what CAN be bounded is per-task
    // work. Tiny strings group by FORM (≤ |Σ|²+|Σ|+1 distinct values);
    // same-form id lists expand through d2's chunked postingPairs,
    // cross-form list pairs through [[bipartiteExpand]] — one
    // boilerplate empty-string flood spreads over tasks instead of
    // pinning one.
    val tforms = base.filter(col("_len") < 3)
      .groupBy(col("_s"))
      .agg(sort_array(collect_set(col("_id"))).as("_ids"))
    val sameForm = graft.llm.Dedup.postingPairs(
      tforms.select(col("_ids")), maxChunk)
    val crossForm = bipartiteExpand(
      tforms.select(col("_s").as("_sa"), col("_ids").as("_as"))
        .join(tforms.select(col("_s").as("_sb"), col("_ids").as("_bs")),
          col("_sa") < col("_sb")),
      maxChunk)
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"))

    val named = candidates
      .unionByName(sameForm).unionByName(crossForm)
      .join(base.select(col("_id").as("id1"), col("_s").as("s1")), "id1")
      .join(base.select(col("_id").as("id2"), col("_s").as("s2")), "id2")

    named.select("id1", "id2", "s1", "s2")
      .filter(levenshtein(col("s1"), col("s2"), 2) >= 0)
  }

  /** All cross (probe-id, index-id) pairs per key from a bipartite
    * posting table `(_key, _pid nullable, _iid nullable)` — the
    * two-sided analog of the d2 posting-list expansion, with the same
    * hot-key chunk guard: keys whose |probe|×|index| cross product
    * exceeds maxChunk² split both lists into maxChunk-wide blocks and
    * round-robin shuffle the (blockA, blockB) rows before expanding, so
    * one boilerplate segment cannot pin a straggler task. Exact: every
    * cross pair appears exactly once (block decomposition partitions
    * the cross product).
    */
  private[graft] def bipartitePairs(postings: DataFrame,
                                    maxChunk: Int): DataFrame =
    bipartiteExpand(
      postings.groupBy("_key")
        .agg(collect_set(col("_pid")).as("_as"), collect_set(col("_iid")).as("_bs"))
        .filter(size(col("_as")) > 0 && size(col("_bs")) > 0),
      maxChunk)

  /** The post-grouping half of [[bipartitePairs]]: expand every `_as` ×
    * `_bs` cross product from a grouped frame. Row-size honesty: the
    * grouped row holds the WHOLE per-key lists (the same property d2's
    * posting lists accept) — the maxChunk cap bounds per-task pair
    * EXPANSION, not the list row itself; a key hot enough for its id
    * list to break executor memory is a stop-word-class key and belongs
    * to upstream filtering, exactly as with d2's shingle postings.
    */
  private[graft] def bipartiteExpand(grouped: DataFrame,
                                     maxChunk: Int): DataFrame = {
    val crossSmall = flatten(transform(col("_as"), x =>
      transform(col("_bs"), y => struct(x.as("id1"), y.as("id2")))))
    val small = grouped
      .filter(size(col("_as")).cast("long") * size(col("_bs")) <=
        maxChunk.toLong * maxChunk)
      .select(explode(crossSmall).as("_p"))
      .select(col("_p.id1"), col("_p.id2"))
    def blocks(c: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), ceil(size(c) / lit(maxChunk.toDouble)).cast("int") - 1),
        i => slice(c, i * maxChunk + 1, lit(maxChunk)))
    val shufflePar = grouped.sparkSession.sessionState.conf.numShufflePartitions
    val big = grouped
      .filter(size(col("_as")).cast("long") * size(col("_bs")) >
        maxChunk.toLong * maxChunk)
      .select(explode(blocks(col("_as"))).as("_ba"), col("_bs"))
      .select(col("_ba"), explode(blocks(col("_bs"))).as("_bb"))
      .repartition(shufflePar) // round-robin: block pairs spread over tasks
      .select(explode(flatten(transform(col("_ba"), x =>
        transform(col("_bb"), y => struct(x.as("id1"), y.as("id2")))))).as("_p"))
      .select(col("_p.id1"), col("_p.id2"))
    small.unionByName(big)
  }
}
