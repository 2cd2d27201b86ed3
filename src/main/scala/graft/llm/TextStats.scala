package graft.llm

import graft.functions.{KGramFold31, NfcNormalize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{unwrap, wrap}

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, and document fingerprinting. Everything in the
  * scan path uses native/higher-order expressions (codegen-friendly); the
  * winnowing fingerprint is the one scalar UDF, applied per-document.
  */
object TextStats {

  /** Whitespace tokens. */
  def words(textCol: Column): Column = split(textCol, " ")

  /** Segmentation-boundary separator for [[bpeTrain]] — U+001F (unit
    * separator), a control char that never appears in natural text;
    * words carrying it are dropped on BOTH engines so symbol boundaries
    * are unambiguous.
    */
  val BpeSep = "\u001f"
  private val BpeSep2 = BpeSep + BpeSep

  /** Iterative BPE merge training (x16b) — the loop x16 only counts the
    * first round of: `rounds` iterations of (weighted pair count → argmax
    * merge selection → corpus-wide re-segmentation), returning the merge
    * table `(round, l_sym, r_sym, cnt)`. The fixed-round contract of the
    * g1/g4b discipline: the caller picks `rounds`, the DuckDB oracle
    * replays exactly that many unrolled rounds, and every round's state
    * is `localCheckpoint`ed so round r's lineage is one job, not r
    * replays of the whole history.
    *
    * Scale shape: after the first aggregation everything runs over the
    * DISTINCT-WORD vocabulary with occurrence weights (the classic BPE
    * optimization) — corpus size stops mattering after one scan; each
    * round is a vocab-bounded explode + one map-side-combinable groupBy
    * + a 1-row driver collect (the argmax IS the loop decision, the
    * g4b-style bounded driver read, not a data collect).
    *
    * Greedy-merge exactness: a word's segmentation is one string with
    * DOUBLE-separator boundaries (`␟␟c1␟␟c2␟␟`). Merging pair (l, r) is
    * ONE literal `replace(seg, ␟l␟␟r␟ → ␟lr␟)`: the pattern spends only
    * the INNER separator of each boundary, so (a) a symbol merely
    * ending in `l` / starting with `r` can't false-match (the outer
    * separator is still required), and (b) abutting occurrences
    * (`[l,r,l,r]`) each keep an unconsumed separator for the next match
    * — `replace`'s leftmost-non-overlapping scan IS the BPE greedy
    * left-to-right merge, bit-identically on Spark and DuckDB (both
    * pinned in BpeSpec: `bbb + (b,b) → [bb, b]`, `abab → [abab]` after
    * two rounds).
    */
  def bpeTrain(docs: DataFrame, rounds: Int,
               textCol: String = "text"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = docs.sparkSession
    val wc = docs.select(explode(words(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains(BpeSep))
      .groupBy("w").agg(count(lit(1)).as("n"))
    var segs = wc.select(col("n"),
      concat(lit(BpeSep2),
        array_join(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
          BpeSep2),
        lit(BpeSep2)).as("seg"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = segs
        .select(col("n"), expr(
          s"slice(split(seg, '$BpeSep2'), 2, size(split(seg, '$BpeSep2')) - 2)")
          .as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(ss) - 1), " +
            "i -> struct(element_at(ss, i) AS l_sym, element_at(ss, i + 1) AS r_sym))"))
          .as("p"))
        .groupBy("p.l_sym", "p.r_sym").agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("l_sym"), col("r_sym"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"BPE round $r: vocabulary fully merged, no pairs remain")
      val (l, rr, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((r, l, rr, cnt))
      segs = segs.withColumn("seg",
        replace(col("seg"), lit(BpeSep + l + BpeSep2 + rr + BpeSep),
          lit(BpeSep + l + rr + BpeSep)))
        .localCheckpoint(true)
    }
    import spark.implicits._
    merges.result().toDF("round", "l_sym", "r_sym", "cnt")
  }

  /** Apply a learned merge table to the corpus — the ENCODE half of the
    * tokenizer (x16c): every word occurrence is segmented to chars and
    * the merges applied in learned order, each as one literal `replace`
    * over the same double-separator encoding [[bpeTrain]] uses. One
    * greedy pass per merge is EXACT canonical BPE encoding: a merged
    * symbol `lr` equals neither `l` nor `r`, so a pass never creates a
    * new occurrence of its own pattern, and a later merge's symbol
    * cannot equal an earlier pattern's side (that side existed before
    * the later merge was learnable). Pure scan path — explode, chained
    * scalar replaces, one map-side-combinable groupBy; the merge table
    * rides into the plan as literals, never a join.
    *
    * Returns (idCol, n_tokens_bpe, n_tokens_char): post-merge token
    * count vs the character-token baseline — the compression the merge
    * table buys, per document.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val seg0 = concat(lit(BpeSep2),
      array_join(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        BpeSep2),
      lit(BpeSep2))
    val applied = merges.foldLeft(seg0) { case (acc, (l, r)) =>
      replace(acc, lit(BpeSep + l + BpeSep2 + r + BpeSep),
        lit(BpeSep + l + r + BpeSep))
    }
    docs.select(col(idCol), explode(words(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1 && !col("w").contains(BpeSep))
      .select(col(idCol),
        (size(split(applied, BpeSep2)) - 2).cast("long").as("_nt"),
        length(col("w")).cast("long").as("_nc"))
      .groupBy(idCol)
      .agg(sum("_nt").as("n_tokens_bpe"), sum("_nc").as("n_tokens_char"))
  }

  /** Unicode NFC normalization of a string column (x25) — the
    * canonical-composition pass that must run BEFORE any hashing/dedup:
    * decomposed and composed forms of the same text are byte-different.
    * Runs as the native codegen [[graft.functions.NfcNormalize]]
    * (java.text.Normalizer inside whole-stage codegen; parity with a
    * Normalizer UDF asserted in NfcSpec).
    */
  def nfcNormalize(c: Column): Column = wrap(NfcNormalize(unwrap(c)))

  /** Stopword-marker profiles per language. Tiny on purpose: language ID
    * here is the classic top-stopword n-gram heuristic, and the marker
    * lists are the model. Extend per corpus.
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "une", "des"),
    "es" -> Seq("el", "los", "las", "es", "no", "por", "para", "una", "con", "del"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "ta", "men", "zai", "you", "he"))

  /** Count of tokens that appear in a marker list (native higher-order
    * filter — no UDF, no join).
    */
  def markerHits(ws: Column, lang: String): Column =
    size(filter(ws, w => markers(lang).map(m => w === m).reduce(_ || _)))

  /** Language-ID: argmax of marker-hit counts, 'und' when nothing hits.
    * Deterministic tie-break: lexicographic language order.
    */
  def langId(textCol: Column): Column = {
    val ws = words(lower(textCol))
    val scored = markers.keys.toSeq.sorted.map(l => struct(markerHits(ws, l).as("hits"), lit(l).as("lang")))
    val best = scored.reduce((a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** Quality features per document: all exact integer/string arithmetic,
    * so results are engine-portable.
    */
  def quality(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    docs.select(
      col(idCol),
      length(t).as("n_chars"),
      size(ws).as("n_words"),
      ((length(t) - (size(ws) - 1)) / size(ws)).as("avg_word_len"),
      size(array_distinct(ws)).as("n_distinct_words"),
      (size(array_distinct(ws)) / size(ws).cast("double")).as("ttr"),
      markerHits(words(lower(t)), "en").as("n_stopwords"),
      (markerHits(words(lower(t)), "en") / size(ws).cast("double")).as("stopword_ratio"))
  }

  /** Whitespace token count plus a BPE-ish subword estimate: runs of
    * letters, digits, or single other chars (the classic GPT-style
    * pre-tokenizer shape, simplified to an engine-portable regex).
    */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      size(words(col(textCol))).as("ws_tokens"),
      size(expr(s"regexp_extract_all($textCol, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)"))
        .as("bpe_ish_tokens"))

  /** Self-trained unigram document-frequency score: the mean, over a
    * document's token occurrences, of the fraction of corpus documents
    * containing that token. High = built from corpus-common vocabulary;
    * low = rare/garbage tokens. The zeroth-order analog of a
    * perplexity-based quality filter, trained on the corpus itself — no
    * external model. Exact integer sums with a single final division keep
    * the double bit-identical across partitionings and engines.
    *
    * Scale: one token-keyed shuffle to build the document-frequency
    * (vocabulary) table, one token-keyed join back — vocabulary is
    * Zipf-small next to the corpus, so AQE broadcasts it when it fits —
    * then one groupBy doc. The corpus size joins as a broadcast single
    * row, never a driver-side collect.
    */
  def dfScore(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(words(col(textCol))).as("tok"))
    val dfTab = tok.groupBy("tok").agg(count_distinct(col(idCol)).as("df"))
    val nDocs = broadcast(docs.agg(count(lit(1)).as("_n")))
    tok.join(dfTab, "tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("df").as("_sumdf"))
      .crossJoin(nDocs)
      .select(col(idCol), col("n_tokens"),
        (col("_sumdf").cast("double") / (col("n_tokens") * col("_n")))
          .as("df_score"))
  }

  /** Self-trained unigram log-perplexity — the first-order upgrade of
    * [[dfScore]]: each token costs −ln p(t) nats under the corpus's own
    * unigram distribution (p = corpus count / total tokens), and a
    * document's negative log-likelihood is the sum over its tokens. High
    * mean NLL = built from rare/garbage vocabulary — the C4/Gopher-style
    * perplexity filter with the corpus itself as the language model.
    *
    * Cross-engine exactness (oracle hash-matches): −ln p is quantized to
    * integer MICRO-NATS once per DISTINCT token, then each document sums
    * count × micro-nats in integer arithmetic — no float accumulation
    * order; the mean is one final correctly-rounded division. (`ln` is
    * the one non-correctly-rounded op; it runs once per vocabulary entry,
    * pinned by the quantization before touching any per-document value —
    * same pattern as [[Ranking.bm25]].)
    *
    * Scale: one (doc, token)-keyed map-side-combinable shuffle for term
    * frequencies; the vocabulary table (Zipf-small) aggregates from it
    * and joins back broadcast; corpus total is a 1-row broadcast.
    */
  def unigramLogPpl(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(words(col(textCol))).as("_tok"))
      .groupBy(col(idCol), col("_tok"))
      .agg(count(lit(1)).as("_c"))
    val total = broadcast(tf.agg(sum(col("_c")).cast("double").as("_total")))
    val lp = tf.groupBy("_tok").agg(sum(col("_c")).cast("double").as("_vc"))
      .crossJoin(total)
      .withColumn("_nllm",
        round(-log(col("_vc") / col("_total")) * 1e6).cast("long"))
      .select("_tok", "_nllm")
    // no broadcast hint: the vocabulary is unbounded at web scale (AQE
    // broadcasts it when it actually fits — the dfScore pattern)
    tf.join(lp, "_tok")
      .groupBy(col(idCol))
      .agg(sum(col("_c")).as("n_tokens"),
        sum(col("_c") * col("_nllm")).as("nll_micro"))
      .withColumn("mean_nll_micro",
        round(col("nll_micro") * 1.0 / col("n_tokens")).cast("long"))
  }

  /** Self-trained BIGRAM log-perplexity — the second-order upgrade of
    * [[unigramLogPpl]] (a KenLM-style quality filter with the corpus as
    * its own LM): each adjacent word pair costs −ln p(cur | prev) nats,
    * where p(cur | prev) = c(prev,cur) / c(prev · *) over the whole
    * corpus. Word salad scores high even when every individual word is
    * common — the failure mode a unigram filter cannot see.
    *
    * Same cross-engine exactness contract as the unigram form: −ln p is
    * micro-nat-quantized once per DISTINCT bigram, documents sum
    * count × micro-nats in integer arithmetic, one final division.
    * Documents with fewer than two words have no bigrams and are
    * excluded (the oracle applies the same filter).
    *
    * Scale: the bigram explode is scan-path (scalar transform over the
    * word array — no self-join on positions); one (doc,bigram) map-side-
    * combinable shuffle; the LM table is Zipf-small and joins back under
    * AQE's sizing, the [[unigramLogPpl]] pattern.
    */
  def bigramLogPpl(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val bg = docs
      .withColumn("_ws", words(col(textCol)))
      .filter(size(col("_ws")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_ws) - 2), " +
          "i -> struct(_ws[i] AS prev, _ws[i + 1] AS cur))")).as("_bg"))
      .select(col(idCol), col("_bg.prev").as("_prev"), col("_bg.cur").as("_cur"))
    val tf = bg.groupBy(col(idCol), col("_prev"), col("_cur"))
      .agg(count(lit(1)).as("_c"))
    val c2 = tf.groupBy("_prev", "_cur").agg(sum(col("_c")).as("_c2"))
    val c1 = tf.groupBy("_prev").agg(sum(col("_c")).as("_c1"))
    val lm = c2.join(c1, "_prev")
      .withColumn("_nllm",
        round(-log(col("_c2") * 1.0 / col("_c1")) * 1e6).cast("long"))
      .select("_prev", "_cur", "_nllm")
    tf.join(lm, Seq("_prev", "_cur"))
      .groupBy(col(idCol))
      .agg(sum(col("_c")).as("n_bigrams"),
        sum(col("_c") * col("_nllm")).as("nll_micro"))
      .withColumn("mean_nll_micro",
        round(col("nll_micro") * 1.0 / col("n_bigrams")).cast("long"))
  }

  /** Gopher-style repetition signals, entirely as scalar array
    * expressions — no explode, no shuffle, whole-stage-codegen friendly:
    *
    *  - `dup_word_frac`:  1 − |distinct words| / |words|
    *  - `dup_2gram_frac`, `dup_3gram_frac`: duplicate n-gram fraction via
    *    the same windowed-transform shingling as [[Dedup.shingleSets]]
    *  - `top_word_frac`: share of the single most frequent word (computed
    *    per-row over the distinct-word array — O(u·n) per doc, bounded by
    *    document length, still cheaper than an explode+groupBy shuffle at
    *    corpus scale)
    *
    * Ratios are exact integer divisions rounded to 6 digits for
    * engine-portability.
    */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val ws = words(col(textCol))
    def ngrams(n: Int): Column =
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " "))
    def dupFrac(arr: Column): Column =
      round(lit(1.0) - size(array_distinct(arr)) / size(arr).cast("double"), 6)
    val topCount = array_max(transform(array_distinct(ws),
      w => size(filter(ws, x => x === w))))
    docs.where(size(ws) >= 3).select(
      col(idCol),
      size(ws).as("n_words"),
      dupFrac(ws).as("dup_word_frac"),
      dupFrac(ngrams(2)).as("dup_2gram_frac"),
      dupFrac(ngrams(3)).as("dup_3gram_frac"),
      round(topCount / size(ws).cast("double"), 6).as("top_word_frac"))
  }

  /** Gopher/C4-style composite quality GATE: the per-rule booleans and
    * their conjunction, so a pipeline can both filter (`keep`) and audit
    * which rule fired per document. Entirely scalar scan-path
    * expressions — no shuffle, whole-stage-codegen. Rules: word-count
    * band, type-token-ratio floor, duplicate-2-gram ceiling (defined 0
    * below 3 words, which cannot shingle; the CASE also keeps Spark's
    * descending `sequence(0, −1)` from firing on 1-word docs).
    * Thresholds are corpus-tunable; the comparisons are exact on both
    * engines because the underlying ratios are correctly-rounded
    * divisions of exact integers.
    */
  def qualityGate(docs: DataFrame, minWords: Int = 20, maxWords: Int = 5000,
                  minTtr: Double = 0.35, maxDup2: Double = 0.05,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = words(col(textCol))
    val nw = size(ws)
    val ttr = size(array_distinct(ws)) / nw.cast("double")
    val g2 = transform(sequence(lit(0), nw - 2),
      i => array_join(slice(ws, i + 1, lit(2)), " "))
    val dup2 = when(nw < 3, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g2)) / size(g2).cast("double"))
    docs.select(
      col(idCol),
      (nw >= minWords).as("r_min_words"),
      (nw <= maxWords).as("r_max_words"),
      (ttr >= minTtr).as("r_ttr"),
      (dup2 <= maxDup2).as("r_rep"))
      .withColumn("keep",
        col("r_min_words") && col("r_max_words") && col("r_ttr") && col("r_rep"))
  }

  /** PII scrubbing for training corpora: redact emails, North-American
    * phone numbers and IPv4 addresses with typed placeholder tokens, and
    * count redactions per document. Pure regexp expressions in the scan
    * path (codegen; RE2/Java-compatible patterns so an external oracle can
    * reproduce them exactly).
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiScrub(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      regexp_replace(regexp_replace(regexp_replace(t,
        emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipv4Re, "<IP>")
        .as("clean_text"),
      size(regexp_extract_all(t, lit(emailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(phoneRe), lit(0))).as("n_phones"),
      size(regexp_extract_all(t, lit(ipv4Re), lit(0))).as("n_ips"))
  }

  /** Engine-portable winnow fingerprint as NATIVE higher-order
    * expressions — no UDF, stays inside whole-stage codegen, and every
    * step is pure `mod 2³¹` integer arithmetic a SQL engine can replay
    * exactly (the x4b oracle recomputes the whole thing in DuckDB):
    * k-gram hashes by direct 31-fold (no rolling subtraction — the
    * rolling form needs 64-bit wraparound, which checked-overflow SQL
    * engines refuse), min per full `window`, XOR-combined. Returns 0 for
    * texts shorter than k or with no full window, matching
    * [[winnowFingerprint]]'s guards. Stage the steps with withColumn at
    * the call site if the per-row tree is hot — column reuse here
    * duplicates subtrees.
    */
  def winnowPortable(text: Column, k: Int, window: Int): Column = {
    require(k >= 1 && window >= 1, s"k=$k window=$window must be positive")
    // split(text, "") emits a trailing "" under limit -1 — drop empties
    val cs = transform(
      filter(split(text, ""), c => c =!= lit("")),
      c => ascii(c).cast("long"))
    // native O(n) rolling pass over every k-gram; bit-identical to the
    // O(n·k) per-window fold KGramFold31Spec checks it against
    val hs = wrap(KGramFold31(unwrap(cs), unwrap(lit(k))))
    val numWin = (size(hs) / window).cast("long")
    val mins = transform(sequence(lit(0L), numWin - 1),
      w => array_min(slice(hs, (w * window + 1).cast("int"), lit(window))))
    val acc = aggregate(mins, lit(0L), (a, b) => a.bitwiseXOR(b))
    when(text.isNull || length(text) < k || numWin < 1, lit(0L)).otherwise(acc)
  }

  /** URL provenance extraction + per-domain rollup (x24): pull every
    * URL out of the text with one regexp pass, resolve each to its host
    * via Spark's native `parse_url` (codegen'd, port- and
    * userinfo-aware — a hand regexp would re-derive RFC 3986 corner
    * cases), drop blocklisted domains with a broadcast anti-join, and
    * aggregate documents/urls per domain. This is the first pass of a
    * C4/RefinedWeb-style provenance filter: at corpus scale the domain
    * histogram is what the blocklist is CURATED from, so the rollup and
    * the filter have to ride the same scan. Scale shape: one projection
    * + explode (no shuffle until the final groupBy on `domain`, whose
    * cardinality is domains — tiny), blocklist broadcast.
    */
  def urlDomains(docs: DataFrame, blocklist: Seq[String],
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val urlRe = "https?://[A-Za-z0-9._~:/?#\\[\\]@!$&'()*+,;=%-]+"
    val urls = docs
      .select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(urlRe), lit(0)))
          .as("url"))
      .select(col(idCol), parse_url(col("url"), lit("HOST")).as("domain"))
    val blocked = blocklist.toDF("domain")
    urls
      .join(broadcast(blocked), Seq("domain"), "left_anti")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col(idCol)).as("n_docs"))
  }

  /** Winnowing document fingerprint: minimum of rolling polynomial k-gram
    * hashes per window — robust to small edits; UDF by design (stateful
    * rolling loop), one call per document.
    */
  val winnowFingerprint: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, k: Int, window: Int) =>
      if (text == null || text.length < k) 0L
      else {
        val B = 1000000007L
        val hashes = new Array[Long](text.length - k + 1)
        var h = 0L
        var pow = 1L
        for (i <- 0 until k) { h = h * B + text.charAt(i); if (i > 0) pow *= B }
        hashes(0) = h
        for (i <- k until text.length) {
          h = (h - text.charAt(i - k) * pow) * B + text.charAt(i)
          hashes(i - k + 1) = h
        }
        // winnow: min per window, xor-combined (order-free digest)
        var acc = 0L
        var i = 0
        while (i + window <= hashes.length) {
          var m = Long.MaxValue
          var j = i
          while (j < i + window) { if (hashes(j) < m) m = hashes(j); j += 1 }
          acc ^= m
          i += window
        }
        acc
      }
    }
}
