package graft.queries

import java.util.concurrent.atomic.AtomicInteger
import graft.Tables.t
import graft.llm.{Components, Dedup, Multimodal, Ranking, Sampling, Similarity, TextStats}
import graft.streaming.{EventStream, IndexedIngestDedup, IngestDedup, TransformWithStateOps, VectorIngest}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (dedup, similarity search,
  * multimodal, text analysis) and Structured Streaming, as verifiable
  * queries. Hash-based sketches (MinHash/SimHash/SRP/fingerprint) have no
  * DuckDB-expressible oracle → rows-only checks + dedicated specs that
  * validate them against the exact operators.
  */
object PipelineOps {

  private val streamSeq = new AtomicInteger(0)

  /** ONE containment oracle for d13 AND d13b — the prefix-filter
    * candidate generator is pigeonhole-exact, so both entries share the
    * same contract string (a recalibration cannot reach one and miss
    * the other).
    */
  private val containmentOracleSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents
        |              UNION ALL
        |              SELECT doc_id + 20000,
        |                array_to_string(list_slice(string_split(text, ' '), 1, 30), ' ')
        |              FROM documents WHERE doc_id < 20),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2, c * 1.0 / least(n1.n, n2.n) AS containment
        |FROM p JOIN n n1 ON n1.doc_id = id1 JOIN n n2 ON n2.doc_id = id2
        |WHERE c * 1.0 / least(n1.n, n2.n) >= 0.9""".stripMargin

  /** ONE exact-cosine-top-k oracle for e1 AND its blocked scale twin
    * e14 — both entries must produce identical rows by construction, so
    * they share the contract string verbatim (the d14/d14b discipline).
    */
  private val annTopkOracleSql: String =
    """WITH q AS (SELECT vec_id AS qid,
      |            list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid,
      |       list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv
      |      FROM embeddings),
      |sc AS (SELECT qid, cid,
      |        list_dot_product(qv, cv) /
      |        sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
      |       FROM q, c WHERE qid <> cid),
      |r AS (SELECT qid AS query_id, cid AS neighbor_id,
      |       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank,
      |       cos FROM sc)
      |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
      |FROM r WHERE rank <= 5""".stripMargin

  /** Scratch parquet path for m4b's persisted fingerprints — fixed per
    * process (overwrite mode) and embedded in the oracle SQL below, so
    * the DuckDB replay reads exactly the bytes the entry paired through.
    */
  private val m4bFpDir = Extras.scratchDir("graft_m4b_fp")

  /** m4b oracle: replay [[graft.llm.Dedup.hammingPairs]]'s pigeonhole
    * chunk equi-join + bit_count filter over the PERSISTED dHash
    * fingerprints. The chunk table is generated from the same
    * (bits, maxDist) arithmetic as the Scala (11 chunks over 64 bits:
    * ten 5-bit, one 14-bit remainder); both engines mask after the
    * arithmetic shift, so sign extension cancels identically.
    */
  private val m4bOracle: String = {
    val (bits, maxDist) = (64, 10)
    val chunks = maxDist + 1
    val bitsPer = bits / chunks
    val rows = (0 until chunks).map { c =>
      val width = if (c == chunks - 1) bits - c * bitsPer else bitsPer
      s"($c, ${c * bitsPer}, ${(1L << width) - 1})"
    }.mkString(", ")
    s"""WITH fp AS (SELECT media_id, simhash
       |            FROM read_parquet('$m4bFpDir/*.parquet')),
       |ch AS (SELECT media_id, simhash, chunk_idx,
       |        (simhash >> sh) & mask AS chunk_val
       |       FROM fp, (VALUES $rows) c(chunk_idx, sh, mask))
       |SELECT DISTINCT a.media_id AS id1, b.media_id AS id2,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM ch a JOIN ch b ON a.chunk_idx = b.chunk_idx
       |      AND a.chunk_val = b.chunk_val AND a.media_id < b.media_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist""".stripMargin
  }

  /** Fan a small scan out to the cluster's parallelism. A table that
    * arrives as a handful of parquet splits (one, for the local test files)
    * would otherwise serialize every downstream per-row computation —
    * shingling, hashing, fingerprinting — into as many tasks. The split
    * count comes from the FILES (cheap listing), not `df.rdd` — asking the
    * RDD would force a full physical plan per call.
    */
  private[queries] def fanOut(s: org.apache.spark.sql.SparkSession,
                     df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val splits = df.inputFiles.length
    // < 2×par, not < par: Spark packs small files into fewer partitions
    // than files (openCostInBytes), so `files == cores` can still plan as
    // 1-2 tasks. Beyond 2×par the scan has real parallelism without help.
    if (splits > 0 && splits < 2 * par) df.repartition(par) else df
  }

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    fanOut(s, t(s, dir, "documents"))

  /** Shared by x23 (gram text on the wire — the oracle-defining form)
    * and x23b (two-xxhash64 keys — the scale form): identical output
    * short of a 128-bit collision, the same sharing contract as
    * [[spanOracleSql]].
    */
  private val noveltyOracleSql: String =
    """WITH pos AS (SELECT doc_id, substr(text, u.p, 20) AS gram
      |             FROM documents, unnest(generate_series(1, length(text) - 19)) AS u(p)),
      |fo AS (SELECT gram, min(doc_id) AS first_doc FROM pos GROUP BY 1)
      |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |       CAST(count(CASE WHEN fo.first_doc = p.doc_id THEN 1 END) AS BIGINT) AS n_novel
      |FROM pos p JOIN fo ON p.gram = fo.gram GROUP BY 1""".stripMargin

  /** Exact repeated-substring spans at k = 20 — shared by d14 (gram-text
    * shuffle) and d14b (double-hash shuffle): the hashed path's output is
    * identical short of a 128-bit collision, so both run under the SAME
    * oracle.
    */
  private val spanOracleSql: String =
    """WITH pos AS (
      |  SELECT doc_id, u.p AS p, substr(text, u.p, 20) AS gram
      |  FROM documents, unnest(generate_series(1, length(text) - 19)) AS u(p)
      |),
      |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |f AS (SELECT doc_id, p FROM pos WHERE gram IN (SELECT gram FROM dup)),
      |b AS (SELECT doc_id, p,
      |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 20
      |             THEN 0 ELSE 1 END AS brk
      |      FROM f),
      |s AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
      |                                       ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM b)
      |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
      |       CAST(max(p) + 19 AS BIGINT) AS span_end,
      |       CAST(count(*) AS BIGINT) AS n_grams
      |FROM s GROUP BY doc_id, sid""".stripMargin

  /** Span-level cross-corpus decontamination at k = 20 with planted
    * quotes — shared by d16 (batch) and t35 (flag-at-ingest streaming
    * twin): the streaming path flags the same positions statelessly and
    * condenses after the drain, so both run under the SAME oracle.
    */
  private val spanDecontOracleSql: String =
    """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |train AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, repeat('u', 40) || substr(text, 11, 60) || repeat('v', 40)
      |  FROM bench WHERE doc_id < 1000),
      |bg AS (SELECT DISTINCT doc_id AS bench_id, substr(text, u.p, 20) AS gram
      |       FROM bench, unnest(generate_series(1, length(text) - 19)) AS u(p)),
      |tg AS (SELECT doc_id, u.p AS p, substr(text, u.p, 20) AS gram
      |       FROM train, unnest(generate_series(1, length(text) - 19)) AS u(p)),
      |f AS (SELECT t.doc_id, bg.bench_id, t.p FROM tg t JOIN bg ON t.gram = bg.gram),
      |b AS (SELECT doc_id, bench_id, p,
      |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id, bench_id ORDER BY p) <= 20
      |             THEN 0 ELSE 1 END AS brk
      |      FROM f),
      |s AS (SELECT doc_id, bench_id, p,
      |        sum(brk) OVER (PARTITION BY doc_id, bench_id ORDER BY p
      |                       ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM b)
      |SELECT doc_id, bench_id, CAST(min(p) AS BIGINT) AS span_start,
      |       CAST(max(p) + 19 AS BIGINT) AS span_end,
      |       CAST(count(*) AS BIGINT) AS n_grams
      |FROM s GROUP BY doc_id, bench_id, sid""".stripMargin

  /** d19's character-exact truth: replay d16's planted corpus, then cut.
    * The oracle condenses the UNION of flagged positions per doc, while
    * the engine merges d16's per-(doc,bench) spans — provably identical:
    * both reduce to merging the per-position intervals [p, p+k-1] under
    * the same touch-or-overlap rule (q ≤ p+k), and interval merge is
    * order-independent, so pre-merging within each bench doc cannot
    * change the maximal unions. The stitch is the same fold both sides:
    * kept segments between merged spans, concatenated in order.
    */
  private val spanRemovalOracleSql: String =
    """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |train AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, repeat('u', 40) || substr(text, 11, 60) || repeat('v', 40)
      |  FROM bench WHERE doc_id < 1000),
      |bg AS (SELECT DISTINCT substr(text, u.p, 20) AS gram
      |       FROM bench, unnest(generate_series(1, length(text) - 19)) AS u(p)),
      |tg AS (SELECT doc_id, u.p AS p, substr(text, u.p, 20) AS gram
      |       FROM train, unnest(generate_series(1, length(text) - 19)) AS u(p)),
      |f AS (SELECT DISTINCT t.doc_id, t.p FROM tg t JOIN bg ON t.gram = bg.gram),
      |b AS (SELECT doc_id, p,
      |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 20
      |             THEN 0 ELSE 1 END AS brk
      |      FROM f),
      |s AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
      |                                       ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM b),
      |m AS (SELECT doc_id, min(p) AS ms, max(p) + 19 AS me FROM s GROUP BY doc_id, sid),
      |seg AS (
      |  SELECT doc_id, coalesce(lag(me) OVER (PARTITION BY doc_id ORDER BY ms), 0) + 1 AS ks,
      |         ms - 1 AS ke
      |  FROM m
      |  UNION ALL
      |  SELECT doc_id, max(me) + 1 AS ks, NULL AS ke FROM m GROUP BY doc_id),
      |st AS (SELECT g.doc_id,
      |        string_agg(CASE WHEN g.ke IS NULL THEN substr(t.text, CAST(g.ks AS INT))
      |                        ELSE substr(t.text, CAST(g.ks AS INT), CAST(g.ke - g.ks + 1 AS INT))
      |                   END, '' ORDER BY g.ks) AS text
      |       FROM seg g JOIN train t ON t.doc_id = g.doc_id GROUP BY g.doc_id),
      |cut AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut,
      |               CAST(sum(me - ms + 1) AS BIGINT) AS n_chars_cut
      |        FROM m GROUP BY doc_id)
      |SELECT t.doc_id,
      |       CAST(coalesce(c.n_spans_cut, 0) AS BIGINT) AS n_spans_cut,
      |       CAST(coalesce(c.n_chars_cut, 0) AS BIGINT) AS n_chars_cut,
      |       coalesce(st.text, t.text) AS text
      |FROM train t
      |LEFT JOIN st ON st.doc_id = t.doc_id
      |LEFT JOIN cut c ON c.doc_id = t.doc_id""".stripMargin

  /** Closed-form video-container truth — shared by m9 (batch sniff) and
    * t36 (sniff-at-ingest streaming twin): the muxers derive every field
    * from the id, so both paths run under the SAME oracle.
    */
  private val videoSniffOracleSql: String =
    """SELECT doc_id AS media_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS fmt,
      |       CAST(160 + doc_id % 1280 AS INT) AS width,
      |       CAST(120 + doc_id % 720 AS INT) AS height,
      |       CAST(1000 + doc_id % 100000 AS BIGINT) AS duration_ms,
      |       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks
      |FROM documents""".stripMargin

  /** Exact 3-gram Jaccard pairs at τ = 0.6, id columns only — the oracle
    * for every route that provably converges to the exact pair set: batch
    * MinHash-LSH (d3, rows=2 banding → miss probability ≈ 6e-7 at τ) and
    * the streaming-ingest dedup (t12, same banding + same verify stage).
    */
  private val exactJaccardIdPairsSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
      |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT id1, id2 FROM p
      |JOIN n n1 ON n1.doc_id = id1 JOIN n n2 ON n2.doc_id = id2
      |WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6""".stripMargin

  /** 31-bit SimHash majority-vote assembly as portable SQL — the same
    * per-bit ±1 vote `Dedup.assembleSimhash` builds with Column ops, so
    * the d4b oracle replays fingerprint assembly bit-for-bit.
    */
  private val simhashVoteSql: String = (0 until 31).map { i =>
    s"(CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
      s"THEN cast(${1L << i} AS BIGINT) ELSE cast(0 AS BIGINT) END)"
  }.mkString(" + ")

  private val langIdOracle: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")
    val m = TextStats.markers
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |s AS (SELECT doc_id,
       |  len(list_filter(ws, x -> x IN ${inList(m("de"))})) AS s_de,
       |  len(list_filter(ws, x -> x IN ${inList(m("en"))})) AS s_en,
       |  len(list_filter(ws, x -> x IN ${inList(m("es"))})) AS s_es,
       |  len(list_filter(ws, x -> x IN ${inList(m("fr"))})) AS s_fr,
       |  len(list_filter(ws, x -> x IN ${inList(m("zh"))})) AS s_zh
       |  FROM w),
       |b1 AS (SELECT *, CASE WHEN s_en > s_de THEN s_en ELSE s_de END AS b,
       |                 CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END AS l FROM s),
       |b2 AS (SELECT doc_id, s_fr, s_zh,
       |       CASE WHEN s_es > b THEN s_es ELSE b END AS b,
       |       CASE WHEN s_es > b THEN 'es' ELSE l END AS l FROM b1),
       |b3 AS (SELECT doc_id, s_zh,
       |       CASE WHEN s_fr > b THEN s_fr ELSE b END AS b,
       |       CASE WHEN s_fr > b THEN 'fr' ELSE l END AS l FROM b2),
       |b4 AS (SELECT doc_id,
       |       CASE WHEN s_zh > b THEN s_zh ELSE b END AS b,
       |       CASE WHEN s_zh > b THEN 'zh' ELSE l END AS l FROM b3)
       |SELECT doc_id, CASE WHEN b > 0 THEN l ELSE 'und' END AS pred_lang FROM b4""".stripMargin
  }

  /** Unrolled-round DuckDB oracle for x16b ([[TextStats.bpeTrain]]):
    * round r = pair counts over round r−1's segmentations (weighted by
    * word occurrence count) → 1-row argmax CTE → one literal `replace`
    * re-segmentation — the same double-separator greedy-merge encoding
    * as the Spark side (`chr(31)` = U+001F), so every round's merge and
    * count replay bit-for-bit.
    */
  private def bpeOracleSql(rounds: Int): String = {
    val tail = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INTEGER) AS round, l_sym, r_sym, cnt FROM m$r"
    }.mkString("\nUNION ALL ")
    s"${bpeCtes(rounds)}\n$tail"
  }

  /** x16c oracle: the same training CTE chain, then the corpus is
    * ENCODED — every word occurrence segmented to chars and the learned
    * merges applied as nested replace()s in round order (one greedy pass
    * per merge suffices: a merged symbol `lr` can equal neither `l` nor
    * `r`, so a pass never creates new occurrences of its own pattern,
    * and a later merge's symbol cannot equal an earlier pattern's side —
    * that side existed before the later merge was learnable). Identical
    * words segment identically, so the doc×word GROUP BY carries an
    * occurrence count instead of replaying per occurrence.
    */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val sep2 = "chr(31) || chr(31)"
    val applied = (1 to rounds).foldLeft("seg") { (acc, r) =>
      s"""replace($acc,
         |  chr(31) || t$r.l_sym || chr(31) || chr(31) || t$r.r_sym || chr(31),
         |  chr(31) || t$r.l_sym || t$r.r_sym || chr(31))""".stripMargin
    }
    val mergeFrom = (1 to rounds).map(r => s"m$r AS t$r").mkString(", ")
    // composed by plain concatenation: running stripMargin over the
    // already-stripped bpeCtes text would eat one pipe of every
    // line-leading `||` continuation (the double-stripMargin trap)
    val encodeTail =
      s"""enc0 AS (SELECT d.doc_id, u.t AS w FROM documents d,
         |          unnest(string_split(d.text, ' ')) AS u(t)
         |          WHERE length(u.t) >= 1
         |            AND u.t NOT LIKE '%' || chr(31) || '%'),
         |encw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
         |         FROM enc0 GROUP BY 1, 2),
         |encseg AS MATERIALIZED (SELECT doc_id, w, k,
         |          $sep2 || string_agg(substring(w, u.i, 1), $sep2 ORDER BY u.i)
         |                || $sep2 AS seg
         |         FROM encw, unnest(generate_series(1, length(w))) AS u(i)
         |         GROUP BY doc_id, w, k),
         |encm AS (SELECT doc_id, w, k, $applied AS seg
         |         FROM encseg, $mergeFrom)
         |SELECT doc_id,
         |  CAST(sum(k * (len(string_split(seg, $sep2)) - 2)) AS BIGINT)
         |    AS n_tokens_bpe,
         |  CAST(sum(k * length(w)) AS BIGINT) AS n_tokens_char
         |FROM encm GROUP BY doc_id""".stripMargin
    s"${bpeCtes(rounds)},\n$encodeTail"
  }

  private def bpeCtes(rounds: Int): String = {
    val sep2 = "chr(31) || chr(31)"
    // AS MATERIALIZED on every round state: each round references the
    // previous one TWICE (pair counting + re-segmentation), so the
    // materialization is load-bearing — inlining would replay 2^rounds
    // copies of the lineage. Also the DialectParitySpec skip signal: the
    // honest Spark form of an iterative computation is the checkpointed
    // driver loop the entry already is (the g4b rationale verbatim).
    val head =
      s"""WITH w0 AS (SELECT u.t AS w FROM documents,
         |            unnest(string_split(text, ' ')) AS u(t)
         |            WHERE length(u.t) >= 2
         |              AND u.t NOT LIKE '%' || chr(31) || '%'),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM w0 GROUP BY w),
         |s0 AS MATERIALIZED (SELECT w, n,
         |        $sep2 || string_agg(substring(w, u.i, 1), $sep2 ORDER BY u.i)
         |              || $sep2 AS seg
         |       FROM wc, unnest(generate_series(1, length(w))) AS u(i)
         |       GROUP BY w, n)""".stripMargin
    val roundsCte = (1 to rounds).map { r =>
      val prev = s"s${r - 1}"
      s"""q$r AS (SELECT n, string_split(seg, chr(31) || chr(31)) AS ss FROM $prev),
         |p$r AS (SELECT ss[u.i] AS l_sym, ss[u.i + 1] AS r_sym,
         |         CAST(sum(n) AS BIGINT) AS cnt
         |        FROM q$r, unnest(generate_series(2, len(ss) - 2)) AS u(i)
         |        GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT l_sym, r_sym, cnt FROM p$r
         |        ORDER BY cnt DESC, l_sym, r_sym LIMIT 1),
         |s$r AS MATERIALIZED (SELECT w, n,
         |         replace(seg,
         |           chr(31) || l_sym || chr(31) || chr(31) || r_sym || chr(31),
         |           chr(31) || l_sym || r_sym || chr(31)) AS seg
         |        FROM $prev, m$r)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$roundsCte"
  }

  /** d10/t28 shared oracle: exact shingle-overlap counts of every train
    * doc vs the benchmark subset — the Bloom is a pure reduction (exact
    * confirm join behind it), so batch and streaming forms share it.
    */
  private val bloomDecontOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
      |b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 40 = 0),
      |t AS (SELECT doc_id, s FROM sh WHERE doc_id % 40 <> 0)
      |SELECT doc_id, count(*) AS n_overlap, count(*) >= 3 AS contaminated
      |FROM t JOIN b USING (s) GROUP BY doc_id""".stripMargin

  /** d7/d7b shared oracle: DuckDB recursive CTE over the SAME jaccard
    * pair graph — component = min reachable id, members CSV-serialized.
    */
  private val componentsOracleSql: String =
    """WITH RECURSIVE
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
      |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |e AS (SELECT id1, id2 FROM p JOIN n n1 ON n1.doc_id = id1
      |      JOIN n n2 ON n2.doc_id = id2
      |      WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6),
      |sym AS (SELECT id1 AS src, id2 AS dst FROM e
      |        UNION SELECT id2, id1 FROM e),
      |reach(id, lbl) AS (
      |  SELECT src, src FROM sym
      |  UNION
      |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id),
      |cc AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
      |SELECT component AS survivor,
      |       array_to_string(list_sort(list(id)), ',') AS members,
      |       count(*) AS n_members
      |FROM cc GROUP BY component""".stripMargin

  val entries: Map[String, Q] = Map(

    // ---- D1: exact dedup (hash-groupBy); input doubled so real duplicate
    //      groups exist to find
    "d1_dedup_exact" -> Q(
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_dups,
        |       array_to_string(list_sort(list(doc_id)), ',') AS ids
        |FROM d GROUP BY text""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exact(doubled)
        .select(col("keep_id"), col("n_dups"),
          array_join(col("ids"), ",").as("ids"))
    },

    // ---- D2: n-gram Jaccard near-dup pairs (exact, the LSH verifier) ---
    "d2_jaccard_pairs" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2, round(c * 1.0 / (n1.n + n2.n - c), 6) AS jaccard
        |FROM p JOIN n n1 ON n1.doc_id = id1 JOIN n n2 ON n2.doc_id = id2
        |WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },

    // ---- D15: WEIGHTED (multiset) Jaccard near-dup pairs — d2 over
    //      n-gram OCCURRENCE COUNTS: Σmin/Σmax separates "same phrases,
    //      same proportions" from "same set, different repetition" (a
    //      page repeating one boilerplate block 50× has set-Jaccard 1.0
    //      with its 1× original; its weighted Jaccard collapses). Σmax
    //      is never materialized (= |A|+|B|−Σmin); output is the
    //      all-integer (inter, uni) with 2·inter ≥ uni as the J ≥ ½
    //      threshold, so the hash check carries no float. Same
    //      chunk-guarded posting machinery as d2, carried by packing
    //      (id, cnt) into one BIGINT. --------------------------------
    "d15_weighted_jaccard" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, len(ws) - 2)) AS u(i)
        |       WHERE len(ws) >= 3),
        |c AS (SELECT doc_id, s, CAST(count(*) AS BIGINT) AS cnt
        |      FROM sh GROUP BY 1, 2),
        |t AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS inter
        |      FROM c a JOIN c b ON a.s = b.s AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2, inter,
        |       CAST(t1.tot + t2.tot - inter AS BIGINT) AS uni
        |FROM p JOIN t t1 ON t1.doc_id = id1 JOIN t t2 ON t2.doc_id = id2
        |WHERE inter * 2 >= t1.tot + t2.tot - inter""".stripMargin) { (s, dir) =>
      Dedup.weightedJaccardPairs(docs(s, dir), n = 3)
    },

    // ---- D7: connected components over the near-dup pair graph — the
    //      pairs→clusters step (distributed min-label propagation; oracle
    //      = DuckDB recursive CTE over the SAME jaccard pair graph) ------
    "d7_dedup_components" -> Q(componentsOracleSql) { (s, dir) =>
      // members serialized to a CSV string: the driver's comparator sorts
      // raw pandas values and cannot order array cells (r2 harness error);
      // the element order is already deterministic (sort_array/list_sort).
      Components.dedupClusters(
        Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.6)
          .select("id1", "id2"))
        .select(col("survivor"),
          array_join(transform(col("members"), _.cast("string")), ",").as("members"),
          col("n_members"))
    },

    // ---- D7b: the HIGH-DIAMETER scale path for the same pairs→clusters
    //      step — alternating large-star/small-star (Kiveris et al.):
    //      O(log n) alternations regardless of graph shape where d7's
    //      min-label propagation is O(diameter); both steps are a
    //      map-side-combinable groupBy(min) + one equi-join, no per-node
    //      neighbor collection (hub neighborhoods never materialize in
    //      one task). Shares d7's oracle VERBATIM — identical clusters
    //      by construction, the twin discipline. -----------------------
    "d7b_components_bigstar" -> Q(componentsOracleSql) { (s, dir) =>
      Components.dedupClustersBigStar(
        Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.6)
          .select("id1", "id2"))
        .select(col("survivor"),
          array_join(transform(col("members"), _.cast("string")), ",").as("members"),
          col("n_members"))
    },

    // ---- D6: benchmark decontamination — shared-shingle counts of every
    //      training doc vs a (broadcast) benchmark subset ----------------
    "d6_contamination" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
        |t AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
        |SELECT doc_id, count(*) AS n_overlap, count(*) >= 5 AS contaminated
        |FROM t JOIN b USING (s) GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val all = docs(s, dir)
      Dedup.contamination(
        all.where(col("doc_id") % 50 =!= 0),
        all.where(col("doc_id") % 50 === 0),
        n = 3, minOverlap = 5)
    },

    // ---- D10: bloom-prefiltered decontamination — same answer as the
    //      exact join (the confirm join removes bloom false positives),
    //      but only might-match shingles reach the shuffle. The scale path
    //      for d6 once the benchmark side outgrows a broadcast. Different
    //      split/threshold than d6 so the two entries verify independently.
    "d10_bloom_decontaminate" -> Q(bloomDecontOracleSql) { (s, dir) =>
      // fan out the train side only, AFTER its filter — fanning the bench
      // side would shuffle the whole text column to feed a 2.5% slice
      val raw = t(s, dir, "documents")
      Dedup.contaminationBloom(
        fanOut(s, raw.where(col("doc_id") % 40 =!= 0)),
        raw.where(col("doc_id") % 40 === 0),
        n = 3, minOverlap = 3)
    },

    // ---- D12: FUZZY decontamination — near-dup (not just exact-shingle)
    //      corpus×benchmark matches: cross-corpus MinHash-LSH candidates
    //      (benchmark bands broadcast — the corpus never shuffles), exact
    //      Jaccard verify. Same d3 banding ⇒ same ≈6e-7 candidate-miss at
    //      τ=0.6; oracle is the exact cross-corpus Jaccard join. --------
    "d12_fuzzy_decontaminate" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p AS (SELECT t.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |      FROM sh t JOIN sh b ON t.s = b.s
        |      WHERE t.doc_id % 25 <> 0 AND b.doc_id % 25 = 0
        |      GROUP BY 1, 2)
        |SELECT id1, id2,
        |  CAST(round((c * 1.0 / (n1.n + n2.n - c)) * 1000000.0) AS BIGINT) AS j_micro
        |FROM p JOIN n n1 ON n1.doc_id = id1 JOIN n n2 ON n2.doc_id = id2
        |WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6""".stripMargin) { (s, dir) =>
      val all = docs(s, dir)
      Dedup.fuzzyContamination(
        all.where(col("doc_id") % 25 =!= 0),
        all.where(col("doc_id") % 25 === 0),
        n = 3, numHashes = 64, bands = 32, threshold = 0.6)
        .select(col("id1"), col("id2"),
          round(col("jaccard") * 1e6).cast("long").as("j_micro"))
    },

    // ---- D18: INCREMENTAL dedup against a PERSISTED LSH index — the
    //      production ingest posture d3's corpus×corpus shape can't
    //      give: the standing corpus is banded ONCE into a parquet
    //      index (partitioned by band, parameters stored alongside, the
    //      e-family index discipline) and each arriving batch probes
    //      it — per-batch cost tracks the batch, the corpus never
    //      re-bands. Delta bands join the persisted buckets, exact
    //      Jaccard verifies candidates only; same 64/32 banding as
    //      d3/d12 ⇒ same ≈6e-7 candidate-miss at τ=0.6, so the entry
    //      runs under the exact cross-set Jaccard oracle. --------------
    "d18_incremental_dedup" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p AS (SELECT t.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |      FROM sh t JOIN sh b ON t.s = b.s
        |      WHERE t.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |      GROUP BY 1, 2)
        |SELECT id1, id2,
        |  CAST(round((c * 1.0 / (n1.n + n2.n - c)) * 1000000.0) AS BIGINT) AS j_micro
        |FROM p JOIN n n1 ON n1.doc_id = id1 JOIN n n2 ON n2.doc_id = id2
        |WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6""".stripMargin) { (s, dir) =>
      val all = docs(s, dir)
      val corpus = all.where(col("doc_id") % 10 =!= 0)
      val delta = all.where(col("doc_id") % 10 === 0)
      val idxPath = Extras.scratchDir("graft_d18_idx")
      Dedup.buildLshIndex(corpus, idxPath, n = 3, numHashes = 64, bands = 32)
      Dedup.incrementalDedupPairs(idxPath, delta, corpus, threshold = 0.6)
        .select(col("id1"), col("id2"),
          round(col("jaccard") * 1e6).cast("long").as("j_micro"))
    },

    // ---- D20: the LSH index DELETION lifecycle — d18 builds/probes/
    //      appends, t38 streams against it, but nothing could ever
    //      REMOVE a document (takedown, right-to-erasure) until now:
    //      tombstone the ids (metadata append, probe subtracts before
    //      any candidate forms), then COMPACT (rewrite live buckets as
    //      a fresh base, drop the log — also the small-file collapse a
    //      churned index needs). The entry deletes every 7th corpus doc,
    //      compacts, and probes: pairs against deleted docs must be
    //      GONE, everything else identical — the oracle is d18's exact
    //      cross-set Jaccard with the deleted slice excluded. Probe
    //      invariance across compaction is pinned in LlmSpec. ----------
    "d20_lsh_delete_compact" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p AS (SELECT t.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |      FROM sh t JOIN sh b ON t.s = b.s
        |      WHERE t.doc_id % 10 = 0 AND b.doc_id % 10 <> 0 AND b.doc_id % 7 <> 0
        |      GROUP BY 1, 2)
        |SELECT id1, id2,
        |  CAST(round((c * 1.0 / (n1.n + n2.n - c)) * 1000000.0) AS BIGINT) AS j_micro
        |FROM p JOIN n n1 ON n1.doc_id = id1 JOIN n n2 ON n2.doc_id = id2
        |WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6""".stripMargin) { (s, dir) =>
      val all = docs(s, dir)
      val corpus = all.where(col("doc_id") % 10 =!= 0)
      val delta = all.where(col("doc_id") % 10 === 0)
      val idxPath = Extras.scratchDir("graft_d20_idx")
      Dedup.buildLshIndex(corpus, idxPath, n = 3, numHashes = 64, bands = 32)
      Dedup.tombstoneLshIds(s, idxPath,
        corpus.where(col("doc_id") % 7 === 0).select("doc_id"))
      Dedup.compactLshIndex(s, idxPath)
      Dedup.incrementalDedupPairs(idxPath, delta,
          corpus.where(col("doc_id") % 7 =!= 0), threshold = 0.6)
        .select(col("id1"), col("id2"),
          round(col("jaccard") * 1e6).cast("long").as("j_micro"))
    },

    // ---- D13: containment (asymmetric) near-dup pairs — c = |A∩B| /
    //      min(|A|,|B|): the measure that catches SUBSET duplicates
    //      Jaccard structurally misses (a snippet quoted inside a longer
    //      page). Snippet docs are synthesized (first 30 words of 20
    //      docs, re-keyed +20000 — containment 1.0, Jaccard far below any
    //      τ) so the entry demonstrably finds what d2 can't; the oracle
    //      replays the same union. Shares d2's inverted-index pair
    //      generation — only the normalization differs. ------------------
    "d13_containment_pairs" -> Q(containmentOracleSql) { (s, dir) =>
      val d = docs(s, dir)
      val snip = d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 20000).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 30), " ").as("text"))
      Dedup.containmentPairs(
        d.select("doc_id", "text").unionByName(snip), n = 3, threshold = 0.9)
    },

    // ---- D13b: containment at SCALE — prefix-filter candidates (rarest-
    //      first global shingle order, pigeonhole-exact: the smaller doc's
    //      (1−t)·m+1 prefix must hit the larger doc's postings) + exact
    //      verify over candidates only. Same oracle as d13 because the
    //      candidate generator has ZERO miss probability — the d2→d3
    //      discipline for the asymmetric measure, minus the recall
    //      caveat. Hot boilerplate shingles sort last in the DF-ascending
    //      order and stay out of prefixes, so the quadratic posting-list
    //      blowup of the exact inverted index cannot happen (skew probe in
    //      LlmSpec). ------------------------------------------------------
    "d13b_containment_prefix" -> Q(containmentOracleSql) { (s, dir) =>
      val d = docs(s, dir)
      val snip = d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 20000).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 30), " ").as("text"))
      Dedup.containmentPairsPrefix(
        d.select("doc_id", "text").unionByName(snip), n = 3, threshold = 0.9)
    },

    // ---- D14: EXACT repeated-substring spans — character-level dedup
    //      (the suffix-array substring dedup of Lee et al. 2022,
    //      re-derived shuffle-native): every position's 20-char gram,
    //      grams in ≥2 distinct docs flag their positions, flagged
    //      positions within k condense into maximal spans (the A11
    //      islands kernel per doc). Character-exact boundaries — the
    //      "WHERE inside the doc is the copied text" answer d8's chunk
    //      dropping can't give. -----------------------------------------
    "d14_span_dedup" -> Q(spanOracleSql) { (s, dir) =>
      Dedup.duplicateSpans(docs(s, dir), k = 20, minDocs = 2)
    },

    // ---- D14b: the hashed-shuffle scale twin — the gram join keys are
    //      two independent xxhash64s (16 bytes, constant in k) instead
    //      of gram text; a false flag needs a 128-bit collision among
    //      distinct grams, so the result is IDENTICAL and the entry
    //      shares d14's oracle verbatim (the d1 exact-dedup discipline,
    //      now for the position-flagging shuffle). ---------------------
    "d14b_span_hashed" -> Q(spanOracleSql) { (s, dir) =>
      Dedup.duplicateSpansHashed(docs(s, dir), k = 20, minDocs = 2)
    },

    // ---- D16: span-level CROSS-CORPUS decontamination — the matrix
    //      cell d6/d10 (doc-level exact), d12 (doc-level fuzzy) and d14
    //      (within-corpus spans) all miss: a benchmark QUOTE embedded in
    //      an otherwise-clean training doc, with exact boundaries for
    //      surgical removal. Benchmark gram-hash pairs BROADCAST (the
    //      d10/d12 shape — the corpus never shuffles; the wire carries
    //      16-byte hash pairs, the d14b discipline), flagged positions
    //      condense per (train doc, bench doc). Planted quotes (60 chars
    //      of bench text framed by neutral filler, re-keyed +100000)
    //      make the catch demonstrable; the oracle replays plant +
    //      exact text matching character-for-character. ----------------
    "d16_span_decontaminate" -> Q(spanDecontOracleSql) { (s, dir) =>
      val all = docs(s, dir)
      val bench = all.where(col("doc_id") % 50 === 0)
      val planted = bench.where(col("doc_id") < 1000)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("u" * 40), substring(col("text"), 11, 60),
            lit("v" * 40)).as("text"))
      val train = all.where(col("doc_id") % 50 =!= 0)
        .select("doc_id", "text").unionByName(planted)
      Dedup.contaminationSpans(train, bench, k = 20)
    },

    // ---- D19: APPLY the cut lists — d16 answers WHERE the benchmark
    //      quotes sit; nothing so far removes them. Per-(doc,bench)
    //      spans merge into disjoint maximal intervals (running-max
    //      islands — lag alone breaks on contained spans), then a native
    //      aggregate fold stitches each doc's kept segments: no UDF, no
    //      text explode, the corpus shuffles only on the doc-keyed join
    //      of the tiny span lists. Cleaned text is deterministic ⇒ full
    //      character-exact oracle (union-condense ≡ per-bench-merge, see
    //      spanRemovalOracleSql). The zero-residual fixpoint property —
    //      re-flagging the cleaned corpus finds nothing — is pinned in
    //      LlmSpec, with decontaminateText iterating the pathological
    //      stitch-mints-a-new-gram case to convergence. ----------------
    "d19_span_removal" -> Q(spanRemovalOracleSql) { (s, dir) =>
      val all = docs(s, dir)
      val bench = all.where(col("doc_id") % 50 === 0)
      val planted = bench.where(col("doc_id") < 1000)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("u" * 40), substring(col("text"), 11, 60),
            lit("v" * 40)).as("text"))
      val train = all.where(col("doc_id") % 50 =!= 0)
        .select("doc_id", "text").unionByName(planted)
      Dedup.removeSpans(train, Dedup.contaminationSpans(train, bench, k = 20),
        broadcastSpans = true) // bench-bounded cut lists ⇒ map-side corpus join
    },

    // ---- T35 (streaming): span decontamination AT INGEST — d16's flag
    //      stage is stateless (gram explode + broadcast join, no window,
    //      no aggregation), so it runs verbatim on the document STREAM;
    //      only the tiny flagged-position set reaches the sink, and the
    //      per-(train,bench) condense runs on the drained output. This
    //      is the quote-detection posture a live ingestion pipeline
    //      wants: the full corpus never lands unflagged, and the
    //      expensive part (every gram of every doc) stays map-side in
    //      the stream. Same planted corpus (built from the stream
    //      itself, t33's two-arms-of-one-source union) ⇒ shares d16's
    //      oracle verbatim. -----------------------------------------------
    "t35_stream_span_decontaminate" -> Q(spanDecontOracleSql) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val bench = t(ss, dir, "documents").where(col("doc_id") % 50 === 0)
      val docsStream = EventStream.readDocuments(ss, dir)
      val trainStream = docsStream.where(col("doc_id") % 50 =!= 0)
        .select("doc_id", "text")
        .unionByName(docsStream
          .where(col("doc_id") % 50 === 0 && col("doc_id") < 1000)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("u" * 40), substring(col("text"), 11, 60),
              lit("v" * 40)).as("text")))
      val flagged = Dedup.contaminationFlags(trainStream, bench, k = 20)
      val drained = EventStream.runToMemory(flagged,
        s"t35_spans_${streamSeq.incrementAndGet()}", mode = "append")
      Dedup.condenseContaminationFlags(drained, k = 20)
    },

    // ---- X23: per-doc gram NOVELTY (memorization proxy): how much of a
    //      doc's 20-gram mass appears for the FIRST time, by doc-id
    //      (ingestion) order — near-0 docs are recombinations of earlier
    //      text and drop before any pairwise dedup. d14's shuffle shape:
    //      one gram agg + one join, no pairs. --------------------------
    "x23_novelty" -> Q(noveltyOracleSql) { (s, dir) =>
      Dedup.gramNovelty(docs(s, dir), k = 20)
    },

    // ---- X23b: the hashed-shuffle scale twin — BOTH novelty shuffles
    //      (first-doc agg + join-back) key on two independent xxhash64s
    //      (16 bytes, constant in k) instead of 20-char gram text; the
    //      min-doc-id comparison is all the downstream ever reads, so
    //      the result is identical short of a 128-bit collision and the
    //      entry shares x23's oracle verbatim (the d14/d14b pattern).
    "x23b_novelty_hashed" -> Q(noveltyOracleSql) { (s, dir) =>
      Dedup.gramNoveltyHashed(docs(s, dir), k = 20)
    },

    // ---- X18: dedup-rate report — pipeline observability over the
    //      d-suite: which SOURCE is feeding the corpus duplicates (the
    //      dashboard a curation team actually watches). Near-dup doc set
    //      from the same exact-Jaccard pairs as d2/d3, one left join +
    //      per-source rollup; counts, not rates, so output stays
    //      integer-exact. -------------------------------------------------
    "x18_dedup_rate_report" -> Q(
      "WITH pairs AS (" + exactJaccardIdPairsSql + """),
        |dup AS (SELECT DISTINCT doc_id FROM (
        |        SELECT id1 AS doc_id FROM pairs
        |        UNION SELECT id2 AS doc_id FROM pairs))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(dup.doc_id) AS BIGINT) AS n_dup_docs
        |FROM documents d LEFT JOIN dup USING (doc_id) GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = Dedup.jaccardPairs(d, n = 3, threshold = 0.6)
      // one reference to the pair subtree: explode both endpoints from the
      // same row instead of a two-branch union, which physically replayed
      // the whole pair-generation pipeline once per branch
      val dup = pairs
        .select(explode(array(col("id1"), col("id2"))).as("doc_id"))
        .distinct()
      d.join(dup.withColumn("_dup", lit(1)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(col("_dup")).as("n_dup_docs"))
    },

    // ---- D8: chunk-level (paragraph) dedup — drop every 8-word chunk
    //      that repeats across >= 2 documents, reassemble the survivors.
    //      The sub-document pass document-level dedup can't do. ----------
    "d8_chunk_dedup" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, i - 1 AS idx,
        |        array_to_string(list_slice(ws, (i - 1) * 8 + 1, least(i * 8, len(ws))), ' ') AS chunk
        |      FROM w, unnest(generate_series(1, greatest(cast(ceil(len(ws) / 8.0) AS BIGINT), 1))) AS u(i)),
        |f AS (SELECT chunk FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT c.*, c.chunk IN (SELECT chunk FROM f) AS dup FROM c)
        |SELECT doc_id,
        |       coalesce(string_agg(CASE WHEN NOT dup THEN chunk END, ' ' ORDER BY idx), '') AS clean_text,
        |       count(CASE WHEN dup THEN 1 END) AS n_removed
        |FROM m GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.chunkDedup(docs(s, dir), chunkWords = 8, minDocs = 2)
    },

    // ---- D9: end-to-end dedup selection — near-dup pairs → connected
    //      components → keep one survivor (min id) per cluster, emit the
    //      surviving corpus. The step that actually SHRINKS the dataset.
    //      Pairs here come from the EXACT jaccard op so the recursive-CTE
    //      oracle sees the same graph; at corpus scale the drop-in pair
    //      source is minhashLshPairs (d3), which LlmSpec shows reproduces
    //      the exact pair set with high recall. ---------------------------
    "d9_dedup_select" -> Q(
      """WITH RECURSIVE
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |e AS (SELECT id1, id2 FROM p JOIN n n1 ON n1.doc_id = id1
        |      JOIN n n2 ON n2.doc_id = id2
        |      WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6),
        |sym AS (SELECT id1 AS src, id2 AS dst FROM e
        |        UNION SELECT id2, id1 FROM e),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id),
        |cc AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        |SELECT d.doc_id, d.source, d.n_chars,
        |       d.doc_id IN (SELECT component FROM cc) AS cluster_rep
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE id <> component)""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val labels = Components.connectedComponents(
        Dedup.jaccardPairs(d, n = 3, threshold = 0.6).select("id1", "id2"))
      val removed = labels.where(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      val reps = labels.where(col("id") === col("component"))
        .select(col("id").as("doc_id"), lit(true).as("_rep"))
      d.select("doc_id", "source", "n_chars")
        .join(removed, Seq("doc_id"), "left_anti")
        .join(reps, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_chars"),
          coalesce(col("_rep"), lit(false)).as("cluster_rep"))
    },

    // ---- D3: MinHash-LSH near-dup (scale path; validated vs D2 in specs)
    // Oracle = the exact-Jaccard pair set (same SQL as d2): LSH output is
    // candidates ∩ {exact jaccard ≥ τ} — the verify stage recomputes TRUE
    // jaccard, so the only way d3 ≠ d2 is a candidate MISS. Banding is
    // chosen to make that provably negligible: rows = 64/32 = 2 per band,
    // P(miss | jaccard = 0.6) = (1 − 0.6²)³² = 0.64³² ≈ 6e-7 (and falling
    // fast above τ). Production would trade looser recall for fewer
    // candidates via fewer bands — the library function stays
    // parameterized; this entry pins the oracle-equivalent config.
    "d3_minhash_lsh" -> Q(exactJaccardIdPairsSql) { (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), n = 3, numHashes = 64,
        bands = 32, threshold = 0.6)
        .select("id1", "id2")
    },

    // ---- D4: SimHash near-dup pairs ------------------------------------
    //      The production 64-bit xxhash64 fingerprint: rows-only (Spark's
    //      token hash is not replayable in SQL); the ALGORITHM is
    //      hash-checked end-to-end via the portable twin d4b below.
    "d4_simhash_pairs" -> Q.rowsOnly { (s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxDist = 7)
    },

    // ---- D4b: the same SimHash pipeline on the engine-portable 31-bit
    //      token hash (h = (h·31 + c) mod 2³¹ over code points) — the
    //      oracle replays the ENTIRE pipeline independently in SQL
    //      (list_reduce char fold → per-bit majority → all-pairs
    //      bit_count(xor)), so fingerprint assembly AND the pigeonhole
    //      pairing are both verified, not just row counts.
    //      VERIFICATION TWIN, not a production path: 31 bits saturate on
    //      a shared-template corpus (2.1M pairs at sf0.1 — the pair set
    //      is the check's payload, not a dedup recommendation); real
    //      dedup runs d4's 64-bit xxhash64 space. ----------------------
    "d4b_simhash_portable" -> Q(
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |            FROM documents),
         |h AS (SELECT doc_id,
         |       list_reduce(list_prepend(cast(0 AS BIGINT),
         |         list_transform(range(1, length(t) + 1),
         |                        i -> cast(ascii(substr(t, i, 1)) AS BIGINT))),
         |         (a, c) -> (a * 31 + c) % 2147483648) AS h
         |      FROM tok),
         |f AS (SELECT doc_id, $simhashVoteSql AS fp FROM h GROUP BY doc_id)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |       cast(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin) { (s, dir) =>
      Dedup.simhashPairsPortable(docs(s, dir), maxDist = 3)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
    },

    // ---- D5: embedding-cosine near-dup pairs (exact; the synthetic
    //      vectors are near-orthogonal, so τ=0.4 marks the "suspiciously
    //      close" tail rather than true dups) ---------------------------
    "d5_embedding_neardup" -> Q(
      """WITH v AS (SELECT vec_id,
        |            list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS qv
        |           FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |       round(list_dot_product(a.qv, b.qv) /
        |             sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)),
        |             6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.qv, b.qv) /
        |      sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) >= 0.4""".stripMargin) { (s, dir) =>
      Similarity.cosineNearDupPairs(fanOut(s, t(s, dir, "embeddings")), 0.4)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
    },

    // ---- E1: brute-force cosine top-k (exact ANN baseline) -------------
    // ---- E12: exact MIPS (max inner product) top-k via the norm-
    //      augmentation reduction — the entry ranks by cosine over
    //      AUGMENTED vectors (one extra sqrt(M²−|x|²) dim), the oracle
    //      ranks by the raw integer dot: hash equality is the proof the
    //      reduction preserves ranks on real data (Similarity.mipsTopK
    //      scaladoc has the monotonicity argument). -------------------
    "e12_mips_topk" -> Q(
      """WITH q AS (SELECT vec_id AS qid,
        |            list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |qz AS (SELECT qid, qv FROM q WHERE list_dot_product(qv, qv) > 0),
        |c AS (SELECT vec_id AS cid,
        |       list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv
        |      FROM embeddings),
        |sc AS (SELECT qid, cid,
        |        CAST(list_dot_product(qv, cv) AS BIGINT) AS dot
        |       FROM qz, c WHERE qid <> cid),
        |r AS (SELECT qid AS query_id, cid AS neighbor_id,
        |       row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rank,
        |       dot FROM sc)
        |SELECT query_id, neighbor_id, rank, dot
        |FROM r WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.mipsTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .select("query_id", "neighbor_id", "rank", "dot")
    },

    "e1_ann_topk" -> Q(annTopkOracleSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    },

    // ---- E14: blocked exact top-k — e1's SCALE TWIN through the
    //      mapPartitions tier: the query block ships once as primitive
    //      arrays, each corpus partition runs a tight JVM scoring loop
    //      with per-query bounded heaps, and only queries × k survivors
    //      per partition reach the rank shuffle (e1 shuffles every
    //      scored row). Bit-identical by construction (exact integer
    //      dots are order-free, heap eviction matches the window's tie
    //      order) — SAME oracle as e1, verbatim. --------------------
    "e14_knn_blocked" -> Q(annTopkOracleSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopKBlocked(emb.filter(col("vec_id") < 10), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    },

    // ---- E9: FILTERED vector search — top-k under a metadata predicate
    //      (the "filtered ANN" shape retrieval stacks need): the filter
    //      prunes the corpus BEFORE scoring, so cost tracks the surviving
    //      fraction, and exactness makes it hash-oracle-checkable unlike
    //      the approximate e2/e3/e5 paths. -------------------------------
    "e9_filtered_ann" -> Q(
      """WITH q AS (SELECT vec_id AS qid,
        |            list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid,
        |       list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv
        |      FROM embeddings WHERE label % 2 = 0),
        |sc AS (SELECT qid, cid,
        |        list_dot_product(qv, cv) /
        |        sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
        |       FROM q, c WHERE qid <> cid),
        |r AS (SELECT qid AS query_id, cid AS neighbor_id,
        |       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank,
        |       cos FROM sc)
        |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10),
          emb.filter(col("label") % 2 === 0), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    },

    // ---- E11: k-NN label classification — retrieval-based labeling for
    //      curation (propagate labels to unlabeled shards, build eval
    //      slices): exact top-10 by cosine, then a deterministic majority
    //      vote (votes DESC, label ASC) as ONE map-side-combinable
    //      max(struct) argmax — no second window over the vote table. ----
    "e11_knn_classify" -> Q(
      """WITH q AS (SELECT vec_id AS qid,
        |            list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS qv
        |           FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS cid, label,
        |       list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv
        |      FROM embeddings WHERE vec_id >= 50),
        |sc AS (SELECT qid, cid, label,
        |        list_dot_product(qv, cv) /
        |        sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
        |       FROM q, c),
        |r AS (SELECT qid, label,
        |       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |      FROM sc),
        |v AS (SELECT qid AS query_id, label, count(*) AS votes
        |      FROM r WHERE rank <= 10 GROUP BY 1, 2),
        |b AS (SELECT query_id, label, votes,
        |       row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
        |      FROM v)
        |SELECT query_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes
        |FROM b WHERE rn = 1""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      val c = emb.filter(col("vec_id") >= 50)
      Similarity.bruteForceTopK(q, c, k = 10)
        .join(c.select(col("vec_id").as("neighbor_id"), col("label")),
          "neighbor_id")
        .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
        .groupBy("query_id")
        // struct max: votes first, then -label — ties break to the
        // SMALLEST label, matching the oracle's (votes DESC, label) sort
        .agg(max(struct(col("votes"), (-col("label")).as("_neg"),
          col("label").as("_lab"))).as("b"))
        .select(col("query_id"), col("b._lab").as("predicted_label"),
          col("b.votes").as("votes"))
    },

    // ---- E10: MMR diversity re-rank — between retrieval and prompt/
    //      batch assembly (near-identical passages waste context): exact
    //      top-20 per query, then greedy λ=0.7/μ=0.3 selection of 5. The
    //      oracle replays ALL FIVE greedy steps as unrolled SQL over the
    //      same integer-quantized vectors — exact dots ⇒ identical
    //      doubles ⇒ identical argmax at every step. λ and μ are
    //      independent literals on both sides (1−0.7 ≠ 0.3 in binary64).
    "e10_mmr_rerank" -> Q(
      """WITH q AS (SELECT qid, qv FROM (
        |           SELECT vec_id AS qid,
        |             list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS qv
        |           FROM embeddings WHERE vec_id < 10)
        |           WHERE list_dot_product(qv, qv) > 0),
        |c AS (SELECT cid, cv FROM (
        |      SELECT vec_id AS cid,
        |        list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv
        |      FROM embeddings)
        |      WHERE list_dot_product(cv, cv) > 0),
        |sc AS (SELECT qid, cid, cv,
        |        list_dot_product(qv, cv) /
        |        sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS rel
        |       FROM q, c WHERE qid <> cid),
        |cand AS (SELECT qid, cid, cv, rel FROM (
        |         SELECT qid, cid, cv, rel,
        |           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) rk
        |         FROM sc) WHERE rk <= 20),
        |ps AS (SELECT a.qid, a.cid AS id1, b.cid AS id2,
        |        list_dot_product(a.cv, b.cv) /
        |        sqrt(list_dot_product(a.cv, a.cv) * list_dot_product(b.cv, b.cv)) AS sim
        |       FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid),
        |p1 AS (SELECT qid, cid, 0.7 * rel AS score FROM (
        |        SELECT qid, cid, rel,
        |          row_number() OVER (PARTITION BY qid
        |            ORDER BY 0.7 * rel DESC, cid) rn
        |        FROM cand) WHERE rn = 1),
        |sel1 AS (SELECT qid, cid FROM p1),
        |p2 AS (SELECT qid, cid, score FROM (
        |        SELECT c.qid, c.cid, 0.7 * c.rel - 0.3 * max(p.sim) AS score,
        |          row_number() OVER (PARTITION BY c.qid
        |            ORDER BY 0.7 * c.rel - 0.3 * max(p.sim) DESC, c.cid) rn
        |        FROM cand c
        |        JOIN ps p ON p.qid = c.qid AND p.id1 = c.cid
        |        JOIN sel1 s ON s.qid = p.qid AND s.cid = p.id2
        |        ANTI JOIN sel1 x ON x.qid = c.qid AND x.cid = c.cid
        |        GROUP BY c.qid, c.cid, c.rel) WHERE rn = 1),
        |sel2 AS (SELECT qid, cid FROM sel1 UNION ALL SELECT qid, cid FROM p2),
        |p3 AS (SELECT qid, cid, score FROM (
        |        SELECT c.qid, c.cid, 0.7 * c.rel - 0.3 * max(p.sim) AS score,
        |          row_number() OVER (PARTITION BY c.qid
        |            ORDER BY 0.7 * c.rel - 0.3 * max(p.sim) DESC, c.cid) rn
        |        FROM cand c
        |        JOIN ps p ON p.qid = c.qid AND p.id1 = c.cid
        |        JOIN sel2 s ON s.qid = p.qid AND s.cid = p.id2
        |        ANTI JOIN sel2 x ON x.qid = c.qid AND x.cid = c.cid
        |        GROUP BY c.qid, c.cid, c.rel) WHERE rn = 1),
        |sel3 AS (SELECT qid, cid FROM sel2 UNION ALL SELECT qid, cid FROM p3),
        |p4 AS (SELECT qid, cid, score FROM (
        |        SELECT c.qid, c.cid, 0.7 * c.rel - 0.3 * max(p.sim) AS score,
        |          row_number() OVER (PARTITION BY c.qid
        |            ORDER BY 0.7 * c.rel - 0.3 * max(p.sim) DESC, c.cid) rn
        |        FROM cand c
        |        JOIN ps p ON p.qid = c.qid AND p.id1 = c.cid
        |        JOIN sel3 s ON s.qid = p.qid AND s.cid = p.id2
        |        ANTI JOIN sel3 x ON x.qid = c.qid AND x.cid = c.cid
        |        GROUP BY c.qid, c.cid, c.rel) WHERE rn = 1),
        |sel4 AS (SELECT qid, cid FROM sel3 UNION ALL SELECT qid, cid FROM p4),
        |p5 AS (SELECT qid, cid, score FROM (
        |        SELECT c.qid, c.cid, 0.7 * c.rel - 0.3 * max(p.sim) AS score,
        |          row_number() OVER (PARTITION BY c.qid
        |            ORDER BY 0.7 * c.rel - 0.3 * max(p.sim) DESC, c.cid) rn
        |        FROM cand c
        |        JOIN ps p ON p.qid = c.qid AND p.id1 = c.cid
        |        JOIN sel4 s ON s.qid = p.qid AND s.cid = p.id2
        |        ANTI JOIN sel4 x ON x.qid = c.qid AND x.cid = c.cid
        |        GROUP BY c.qid, c.cid, c.rel) WHERE rn = 1)
        |SELECT qid AS query_id, CAST(1 AS INTEGER) AS sel_rank,
        |  cid AS neighbor_id,
        |  CAST(round(score * 1000000.0) AS BIGINT) AS score_micro FROM p1
        |UNION ALL SELECT qid, CAST(2 AS INTEGER), cid,
        |  CAST(round(score * 1000000.0) AS BIGINT) FROM p2
        |UNION ALL SELECT qid, CAST(3 AS INTEGER), cid,
        |  CAST(round(score * 1000000.0) AS BIGINT) FROM p3
        |UNION ALL SELECT qid, CAST(4 AS INTEGER), cid,
        |  CAST(round(score * 1000000.0) AS BIGINT) FROM p4
        |UNION ALL SELECT qid, CAST(5 AS INTEGER), cid,
        |  CAST(round(score * 1000000.0) AS BIGINT) FROM p5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.mmrRerank(emb.filter(col("vec_id") < 10), emb,
        k = 20, select = 5)
    },

    // ---- E2: LSH-bucketed ANN (scale path; recall vs E1 in specs) ------
    "e2_ann_lsh" -> Q.rowsOnly { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        planes = 16, bands = 8)
        .select("query_id", "neighbor_id", "rank")
    },

    // ---- E3: IVF ANN (coarse quantizer + nprobe; recall vs E1 in specs)
    // r4: serves the PERSISTED inverted file (assignments partitioned by
    // list label — the probe reads only its nprobe list partitions;
    // vectors stay in the base table), same contract as e7
    "e3_ann_ivf" -> Q.rowsOnly { (s, dir) =>
      val emb = fanOut(s, t(s, dir, "embeddings"))
      val idx = Similarity.loadOrBuildIvf(s, dir, emb, nlist = 16)
      Similarity.ivfQuery(idx, emb, emb.filter(col("vec_id") < 10), k = 5,
        nprobe = 6)
        .select("query_id", "neighbor_id", "rank")
    },

    // ---- E13: INDEXED MIPS — e12's norm-augmentation routed through the
    //      persisted IVF machinery (the e3-vs-e1 pattern applied to the
    //      inner-product objective). Augmented corpus vectors all sit on
    //      the radius-M sphere, so the cosine coarse quantizer clusters
    //      by dot direction; candidates come from the nprobe nearest
    //      lists of the PERSISTED augmented-space index (own path sig —
    //      not interchangeable with e3's), final ranking is the exact
    //      integer dot with e12's (dot desc, id) tie-break. Approximate
    //      list choice => rows-only; recall floor vs the exact e12
    //      baseline in MipsSpec. ---------------------------------------
    "e13_mips_ivf" -> Q.rowsOnly { (s, dir) =>
      val emb = fanOut(s, t(s, dir, "embeddings"))
      val idx = Similarity.loadOrBuildMipsIvf(s, dir, emb, nlist = 16)
      Similarity.mipsIvfQuery(idx, emb, emb.filter(col("vec_id") < 10),
        k = 5, nprobe = 6)
        .select("query_id", "neighbor_id", "rank", "dot")
    },

    // ---- E5: product-quantization ANN (codebooks + ADC + exact refine;
    //      recall vs E1 in specs). The compressed-index leg: the scan side
    //      of a query batch reads m small codes per vector, not floats. --
    // r4: serves the PERSISTED codebook + codes (no list dimension — a PQ
    // query scans every code row by design; the win is bytes-per-row)
    "e5_ann_pq" -> Q.rowsOnly { (s, dir) =>
      val emb = fanOut(s, t(s, dir, "embeddings"))
      val idx = Similarity.loadOrBuildPq(s, dir, emb, m = 8, ksub = 16)
      Similarity.pqQuery(idx, emb, emb.filter(col("vec_id") < 10), k = 5)
        .select("query_id", "neighbor_id", "rank")
    },

    // ---- D11: SemDeDup semantic dedup — IVF-clustered embedding corpus,
    //      within-cluster greedy ε-ball representative selection. Cluster
    //      labels are Lloyd-float-dependent → rows-only; precision is
    //      exact by construction (the verify cosine is exact) and
    //      planted-duplicate coverage is asserted in LlmSpec. ------------
    "d11_semdedup" -> Q.rowsOnly { (s, dir) =>
      Similarity.semDedup(fanOut(s, t(s, dir, "embeddings")), 0.4)
        .select("vec_id", "cluster")
    },

    // ---- E7: IVF-PQ composite ANN — coarse list pruning × residual PQ
    //      codes × exact refine; the production-index shape (one list
    //      label + m small codes per vector; a query touches
    //      ≈ nprobe/nlist of the corpus and reads codes, not floats).
    //      Recall vs E1 in specs, same contract as e2/e3/e5. -------------
    // index persisted on disk per (dir, params, source fingerprint) —
    // trained once, then COLD-LOADABLE: the query path always runs
    // against the on-disk index (codes partitioned by list label, so the
    // probe reads ≈ nprobe/nlist of it), never against in-process
    // training lineage. This replaces the r3 process-memory memo — a
    // production index must survive the process, the way the reference
    // persists all derived state (pa_legislature.yaml:1-50, SQLite).
    "e7_ann_ivfpq" -> Q.rowsOnly { (s, dir) =>
      val emb = fanOut(s, t(s, dir, "embeddings"))
      val idx = Similarity.loadOrBuildIvfPq(s, dir, emb,
        nlist = 16, m = 8, ksub = 16)
      Similarity.ivfpqQuery(idx, emb.filter(col("vec_id") < 10), k = 5,
        nprobe = 6)
        .select("query_id", "neighbor_id", "rank")
    },

    // ---- E8: hybrid lexical+vector retrieval, reciprocal-rank fusion —
    //      BM25 leg + exact-cosine leg, each top-100, fused by
    //      Σ 1/(60+rank). Oracle is exact: integer ranks off total
    //      orders, fixed-order correctly-rounded RRF arithmetic. --------
    "e8_hybrid_rrf" -> Q(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT count(*)::DOUBLE AS n, avg(len(ws))::DOUBLE AS avgdl FROM d),
        |tok AS (SELECT doc_id, len(ws)::DOUBLE AS dl, u.t AS tok
        |        FROM d, unnest(ws) AS u(t)
        |        WHERE u.t IN ('hash', 'join', 'window', 'merge')),
        |tf AS (SELECT doc_id, tok, dl, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2, 3),
        |dft AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |idf AS (SELECT tok, round(ln(1 + (s.n - df + 0.5) / (df + 0.5)) * 1000000.0) AS idfm,
        |         s.avgdl AS avgdl FROM dft, s),
        |w AS (SELECT tf.doc_id,
        |       cast(round(idf.idfm / 1000000.0 * (tf.tf * (1.2 + 1)) /
        |         (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / idf.avgdl))
        |         * 1000000.0) AS BIGINT) AS wm
        |      FROM tf JOIN idf USING (tok)),
        |bm AS (SELECT doc_id, cast(sum(wm) AS BIGINT) AS score_micro
        |       FROM w GROUP BY doc_id),
        |lex AS (SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rl
        |        FROM bm QUALIFY rl <= 100),
        |q AS (SELECT list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS qv
        |      FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv
        |      FROM embeddings WHERE embedding IS NOT NULL),
        |sc AS (SELECT vec_id AS doc_id,
        |        list_dot_product(cv, qv) /
        |        sqrt(list_dot_product(cv, cv) * list_dot_product(qv, qv)) AS cos
        |       FROM c, q),
        |sem AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rs
        |        FROM sc QUALIFY rs <= 100),
        |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
        |       coalesce(1.0::DOUBLE / (60 + rl), 0.0::DOUBLE) +
        |       coalesce(1.0::DOUBLE / (60 + rs), 0.0::DOUBLE) AS rrf
        |      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank, rrf
        |      FROM f QUALIFY rank <= 20)
        |SELECT doc_id, rank, cast(round(rrf * 1000000000.0) AS BIGINT) AS rrf_nano
        |FROM r""".stripMargin) { (s, dir) =>
      Ranking.hybridRrf(docs(s, dir), fanOut(s, t(s, dir, "embeddings")),
        Seq("hash", "join", "window", "merge"), queryVecId = 0L, k = 20)
    },

    // ---- E6: symmetric int8 embedding quantization — the 4× storage /
    //      bandwidth compression an embedding corpus ships in. Exact:
    //      scale and codes derive from identical IEEE double ops on both
    //      engines; array serialized for the driver comparator, scale
    //      checked in exact micro-units. -----------------------------------
    "e6_quantize_int8" -> Q(
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT vec_id, e,
        |       list_max(list_transform(e, x -> abs(x))) AS amax FROM v)
        |SELECT vec_id, cast(round(amax * 1000000) AS BIGINT) AS amax_micro,
        |       array_to_string(list_transform(e, x ->
        |         CASE WHEN amax = 0 THEN cast(0 AS BIGINT)
        |              ELSE cast(round(x * 127 / amax) AS BIGINT) END), ',') AS q
        |FROM a""".stripMargin) { (s, dir) =>
      Similarity.int8Quantize(fanOut(s, t(s, dir, "embeddings")))
        .select(col("vec_id"),
          round(col("amax") * 1000000).cast("long").as("amax_micro"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q"))
    },

    // ---- E4: per-label centroid aggregation — the class-prototype /
    //      IVF-training primitive. Quantize to integers first so the
    //      elementwise mean is sum_int/count — exact under any partition
    //      or accumulation order (a float sum would be order-dependent).
    //      Distributed shape: posexplode to (label, pos, q) — dim×rows,
    //      map-side combinable — one shuffle on (label, pos), reassemble
    //      per label. The checked centroid is serialized as a CSV of
    //      micro-unit longs (round(mean_milli × 1e6)): the driver's
    //      comparator cannot sort array cells, and both engines derive
    //      the long from the SAME exact-integer sum/count via identical
    //      IEEE double ops, so the strings match deterministically. ------
    "e4_label_centroids" -> Q(
      """WITH v AS (SELECT label,
        |            list_transform(embedding, x -> cast(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |u AS (SELECT label, i - 1 AS pos, qv[i] AS q
        |      FROM v, unnest(generate_series(1, len(qv))) AS t(i)),
        |c AS (SELECT label, pos,
        |             cast(round(cast(sum(q) AS BIGINT) * 1.0 / count(*) * 1000000) AS BIGINT) AS mq,
        |             count(*) AS n
        |      FROM u GROUP BY 1, 2)
        |SELECT label, array_to_string(list(mq ORDER BY pos), ',') AS centroid,
        |       min(n) AS n_vecs
        |FROM c GROUP BY label""".stripMargin) { (s, dir) =>
      fanOut(s, t(s, dir, "embeddings"))
        .select(col("label"), posexplode(transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long"))))
        .toDF("label", "pos", "q")
        .groupBy("label", "pos")
        .agg(round(sum("q").cast("double") / count(lit(1)) * 1000000).cast("long").as("mq"),
          count(lit(1)).as("n"))
        .groupBy("label")
        .agg(
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("mq")))),
            x => x.getField("mq").cast("string")), ",").as("centroid"),
          min("n").as("n_vecs"))
    },

    // ---- X1: language ID (stopword-marker heuristic) -------------------
    "x1_langid" -> Q(langIdOracle) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextStats.langId(col("text")).as("pred_lang"))
    },

    // ---- X2: quality scoring -------------------------------------------
    "x2_quality" -> Q(
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
        |            string_split(lower(text), ' ') AS wl FROM documents)
        |SELECT doc_id, strlen(text) AS n_chars, len(ws) AS n_words,
        |       (strlen(text) - (len(ws) - 1)) / len(ws) AS avg_word_len,
        |       len(list_distinct(ws)) AS n_distinct_words,
        |       len(list_distinct(ws)) / len(ws)::DOUBLE AS ttr,
        |       len(list_filter(wl, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) AS n_stopwords,
        |       len(list_filter(wl, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) / len(ws)::DOUBLE AS stopword_ratio
        |FROM w""".stripMargin) { (s, dir) =>
      TextStats.quality(docs(s, dir))
    },

    // ---- X3: token counting (whitespace + BPE-ish regex) ---------------
    "x3_token_counts" -> Q(
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS bpe_ish_tokens
        |FROM documents""".stripMargin) { (s, dir) =>
      TextStats.tokenCounts(docs(s, dir))
    },

    // ---- X16: BPE pair statistics — the core counting step of BPE/
    //      WordPiece tokenizer training: adjacent-symbol pair frequencies
    //      across the corpus (word-internal, char-level), top-50 merge
    //      candidates. Pure scan-path explode + map-side-combinable
    //      groupBy; the top-50 is TakeOrderedAndProject (per-partition
    //      partial top-k), never a global sort. Full (cnt, l, r) ordering
    //      makes the cut line deterministic on both engines. -------------
    "x16_bpe_pair_counts" -> Q(
      """WITH w AS (SELECT u.t AS w
        |           FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |           WHERE length(u.t) >= 2),
        |p AS (SELECT substring(w, i, 1) AS l_sym, substring(w, i + 1, 1) AS r_sym
        |      FROM w, unnest(generate_series(1, length(w) - 1)) AS u2(i))
        |SELECT l_sym, r_sym, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, l_sym, r_sym LIMIT 50""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(explode(TextStats.words(col("text"))).as("w"))
        // length >= 2 also guards the descending-sequence trap:
        // sequence(1, 0) counts DOWN, it is not empty
        .filter(length(col("w")) >= 2)
        .select(explode(expr("transform(sequence(1, length(w) - 1), " +
          "i -> struct(substring(w, i, 1) AS l_sym, substring(w, i + 1, 1) AS r_sym))"))
          .as("p"))
        .select("p.*")
        .groupBy("l_sym", "r_sym").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_sym"), col("r_sym"))
        .limit(50)
    },

    // ---- X16b: ITERATIVE BPE merge training — the loop x16 only counts
    //      the first round of: 5 rounds of (weighted pair count → argmax
    //      merge → corpus-wide greedy re-segmentation), fixed-round
    //      contract with the oracle replaying all 5 unrolled rounds (the
    //      g1/g4b discipline). Greedy left-to-right merging is ONE
    //      literal replace() over a double-separator segmentation string
    //      on BOTH engines — leftmost-non-overlapping replace IS the BPE
    //      merge scan (TextStats.bpeTrain scaladoc has the boundary
    //      argument; BpeSpec pins the overlap and abutting-chain cases).
    //      All integer counts + string symbols, total (cnt, l, r) argmax
    //      order => hash-exact. --------------------------------------
    "x16b_bpe_train" -> Q(bpeOracleSql(5)) { (s, dir) =>
      TextStats.bpeTrain(docs(s, dir), rounds = 5)
    },

    // ---- X16c: BPE ENCODE — the apply half of the tokenizer: train the
    //      5-round merge table (x16b), then segment every word occurrence
    //      and apply the merges in learned order as chained literal
    //      replaces (one greedy pass per merge IS canonical BPE encoding
    //      — argument in TextStats.bpeEncode scaladoc). Output: per-doc
    //      post-merge token count vs the char baseline. The oracle
    //      replays training AND encoding in one statement; integer
    //      counts => hash-exact. ---------------------------------------
    "x16c_bpe_encode" -> Q(bpeEncodeOracleSql(5)) { (s, dir) =>
      val merges = TextStats.bpeTrain(docs(s, dir), rounds = 5)
        .orderBy("round").select("l_sym", "r_sym").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextStats.bpeEncode(docs(s, dir), merges)
    },

    // ---- X17: self-trained BIGRAM log-perplexity — the second-order
    //      upgrade of x13 (KenLM-style quality filter): token cost is
    //      −ln p(cur | prev) under the corpus's own bigram LM, so word
    //      salad scores high even when every word is individually common.
    //      Same exactness contract: micro-nat quantization once per
    //      DISTINCT bigram, integer per-doc sums, one final division;
    //      the bigram explode is a scalar transform over the word array
    //      (scan-path — no positional self-join). -----------------------
    "x17_bigram_logppl" -> Q(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
        |      FROM d, unnest(generate_series(1, len(ws) - 1)) AS u(i)
        |      WHERE len(ws) >= 2),
        |c2 AS (SELECT prev, cur, count(*) AS c2 FROM g GROUP BY 1, 2),
        |c1 AS (SELECT prev, count(*) AS c1 FROM g GROUP BY 1),
        |lm AS (SELECT prev, cur,
        |        CAST(round(-ln(c2 * 1.0 / c1) * 1000000.0) AS BIGINT) AS nllm
        |       FROM c2 JOIN c1 USING (prev)),
        |db AS (SELECT doc_id, prev, cur, count(*) AS c FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(sum(c * nllm) AS BIGINT) AS nll_micro,
        |  CAST(round(sum(c * nllm) * 1.0 / sum(c)) AS BIGINT) AS mean_nll_micro
        |FROM db JOIN lm USING (prev, cur)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextStats.bigramLogPpl(docs(s, dir))
    },

    // ---- X12: BM25 keyword relevance — the lexical retrieval leg of a
    //      curation pipeline (topic selection, hard negatives, eval
    //      slices). Oracle is EXACT: idf and per-term weights are
    //      micro-quantized on both engines and the document score is an
    //      integer sum, so no float accumulation order exists; the one
    //      non-correctly-rounded op (ln) is evaluated once per TERM and
    //      pinned by the quantization. ------------------------------------
    "x12_bm25" -> Q(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT count(*)::DOUBLE AS n, avg(len(ws))::DOUBLE AS avgdl FROM d),
        |tok AS (SELECT doc_id, len(ws)::DOUBLE AS dl, u.t AS tok
        |        FROM d, unnest(ws) AS u(t)
        |        WHERE u.t IN ('hash', 'join', 'window', 'merge')),
        |tf AS (SELECT doc_id, tok, dl, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2, 3),
        |dft AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |idf AS (SELECT tok, round(ln(1 + (s.n - df + 0.5) / (df + 0.5)) * 1000000.0) AS idfm,
        |         s.avgdl AS avgdl FROM dft, s),
        |w AS (SELECT tf.doc_id,
        |       cast(round(idf.idfm / 1000000.0 * (tf.tf * (1.2 + 1)) /
        |         (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / idf.avgdl))
        |         * 1000000.0) AS BIGINT) AS wm
        |      FROM tf JOIN idf USING (tok))
        |SELECT doc_id, count(*) AS terms_matched,
        |       cast(sum(wm) AS BIGINT) AS score_micro
        |FROM w GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Ranking.bm25(docs(s, dir), Seq("hash", "join", "window", "merge"))
    },

    // ---- X22: per-doc keyword extraction — top-3 terms by ratio-IDF
    //      (tf/df): "frequent here, rare elsewhere", x12's notion per
    //      document instead of per query. Deliberately LOG-FREE: IEEE
    //      division is correctly-rounded and identical across engines,
    //      while ln() is libm-dependent (x12's micro-rounding papers over
    //      that; here the sort key is bit-deterministic by construction).
    //      Ties broken by term, so the rank is a total order. -----------
    "x22_keywords" -> Q(
      """WITH tok AS (SELECT doc_id, u.t AS term
        |             FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |                   FROM documents), unnest(ws) AS u(t)
        |             WHERE u.t <> ''),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
        |       row_number() OVER (PARTITION BY tf.doc_id
        |         ORDER BY CAST(tf.tf AS DOUBLE) / dfx.df DESC, tf.term) AS rnk
        |      FROM tf JOIN dfx USING (term))
        |SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
      tf.join(dfx, "term")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "rnk")
    },

    // ---- X9: self-trained unigram document-frequency quality score —
    //      the zeroth-order, no-external-model analog of a perplexity
    //      filter (mean doc-frequency of the doc's token occurrences) ----
    "x9_df_quality" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, u.t AS tok FROM w, unnest(ws) AS u(t)),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |nd AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, count(*) AS n_tokens,
        |       cast(sum(df) AS BIGINT) * 1.0 / (count(*) * (SELECT n FROM nd)) AS df_score
        |FROM tok JOIN df USING (tok)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextStats.dfScore(docs(s, dir))
    },

    // ---- X13: self-trained unigram log-perplexity — the first-order
    //      upgrade of x9 (token cost −ln p under the corpus's own unigram
    //      LM). Oracle exact: per-vocab-entry micro-nat quantization +
    //      integer per-doc sums, one final division (the BM25 pattern). --
    "x13_unigram_logppl" -> Q(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, u.t AS tok FROM d, unnest(ws) AS u(t)),
        |tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |v AS (SELECT tok, cast(sum(c) AS BIGINT)::DOUBLE AS vc FROM tf GROUP BY 1),
        |tot AS (SELECT cast(sum(c) AS BIGINT)::DOUBLE AS total FROM tf),
        |lp AS (SELECT tok, cast(round(-ln(vc / total) * 1000000.0) AS BIGINT) AS nllm
        |       FROM v, tot)
        |SELECT doc_id, cast(sum(c) AS BIGINT) AS n_tokens,
        |       cast(sum(c * nllm) AS BIGINT) AS nll_micro,
        |       cast(round(cast(sum(c * nllm) AS BIGINT) * 1.0 /
        |                  cast(sum(c) AS BIGINT)) AS BIGINT) AS mean_nll_micro
        |FROM tf JOIN lp USING (tok)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextStats.unigramLogPpl(docs(s, dir))
    },

    // ---- T13 (streaming): vector-index ingest — arriving embeddings
    //      route to their batch-trained IVF inverted list via a STATELESS
    //      per-row literal-centroid argmax (no state store, append mode —
    //      the t12 explode→per-row rewrite applied to ANN). Rows-only
    //      (Lloyd-float centroids); streamed ≡ batch-relational
    //      assignment asserted in VectorIngestSpec. ----------------------
    "t13_stream_vector_ingest" -> Q.rowsOnly { (s, dir) =>
      val centroids = Similarity.trainCentroidLiterals(fanOut(s, t(s, dir, "embeddings")))
      val streamed = VectorIngest.assignStream(VectorIngest.readEmbeddings(s, dir), centroids)
      EventStream.runToMemory(streamed,
        s"t13_ingest_${streamSeq.incrementAndGet()}", mode = "append")
    },

    // ---- T18 (streaming): INDEX MAINTENANCE under ingest — each
    //      micro-batch of embeddings is written to the corpus store
    //      (idempotent, batch-keyed) and merged into the persisted
    //      IVF-PQ index via maintainIvfPq: the first batch full-builds,
    //      later batches frozen-model-append until the delta share trips
    //      the staged retrain. No SQL oracle can replay Lloyd training →
    //      rows-only; the append/retrain decision sequence, recall
    //      parity with a from-scratch rebuild, and replay idempotence
    //      are spec-verified (VectorIngestSpec, IvfPqDeltaSpec). Output:
    //      per-list code counts of the final maintained index.
    "t18_stream_index_maintain" -> Q.rowsOnly { (s, dir) =>
      val work = graft.Scratch.dir("graft_t18_")
      val corpusDir = s"$work/corpus"
      val emb = t(s, dir, "embeddings")
      emb.filter(col("vec_id") < 300)
        .write.parquet(s"$corpusDir/embeddings.parquet/base")
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
        .coalesce(1).write.parquet(s"$work/in/d0")
      emb.filter(col("vec_id") >= 400)
        .coalesce(1).write.parquet(s"$work/in/d1")
      // deterministic batch order: an mtime tie would let d1 full-build
      // first and shift which batch appends (and the per-list counts)
      EventStream.stampMtimeOrder(Seq(s"$work/in/d0", s"$work/in/d1"))
      val stream = s.readStream
        .schema(s.read.parquet(s"$work/in/d0").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$work/in/d*")
      VectorIngest.maintainIndexStream(stream, corpusDir, s"$work/chk",
        nlist = 16, m = 8, ksub = 16, maxDeltaFraction = 0.3)
      val grown = VectorIngest.readCorpusStore(s, corpusDir)
      val idx = Similarity.loadIvfPq(s,
        Similarity.ivfpqIndexPath(corpusDir, 16, 8, 16, 2), grown)
      idx.codes.groupBy(col("_cl").cast("long").as("list"))
        .agg(count(lit(1)).as("n_codes"))
    },

    // ---- T39 (streaming): right-to-erasure DELETE feed — the
    //      lifecycle cell t18 (streaming ingest) and the batch
    //      tombstone paths leave open: retraction requests ARRIVE as a
    //      stream, each micro-batch appends to the persisted index's
    //      tombstone log, and every later probe subtracts them before a
    //      candidate can form. Replay safety is value-idempotence (the
    //      log is a SET — duplicate appends collapse at read), the
    //      complementary discipline to t38's batch-keyed overwrites;
    //      both pinned in specs. Rows-only (IVF-PQ probe ranks are
    //      approximate); deleted-never-surface + live-corpus recall
    //      floor + crash-replay in IvfTombstoneSpec. Output: the served
    //      index's top-5 per probe query, deleted ids absent. ----------
    "t39_stream_vector_delete" -> Q.rowsOnly { (s, dir) =>
      val work = graft.Scratch.dir("graft_t39_")
      val emb = t(s, dir, "embeddings")
      val path = s"$work/idx"
      Similarity.saveIvfPq(
        Similarity.buildIvfPq(emb, nlist = 16, m = 8, ksub = 16), path)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/in"))
      EventStream.stageOneFile(
        emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 250)
          .select("vec_id"), s"$work/in", "d0.parquet")
      EventStream.stageOneFile(
        emb.filter(col("vec_id") % 10 === 0 && col("vec_id") >= 250)
          .select("vec_id"), s"$work/in", "d1.parquet")
      EventStream.stampMtimeOrder(
        Seq(s"$work/in/d0.parquet", s"$work/in/d1.parquet"))
      val requests = s.readStream
        .schema(s.read.parquet(s"$work/in").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      VectorIngest.deleteStream(requests, path, s"$work/chk")
      Similarity.ivfpqQuery(
        Similarity.loadIvfPq(s, path, emb),
        emb.filter(col("vec_id") % 25 === 0), k = 5, nprobe = 8)
    },

    // ---- X14: composite quality GATE — per-rule booleans + conjunction
    //      (word band, TTR floor, dup-2-gram ceiling), so a pipeline can
    //      filter AND audit which rule fired. Pure scalar scan-path
    //      expressions; comparisons exact on both engines (ratios are
    //      correctly-rounded divisions of exact integers). ----------------
    "x14_quality_gate" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |r AS (SELECT doc_id, len(ws) AS nw,
        |       len(list_distinct(ws)) / len(ws)::DOUBLE AS ttr,
        |       CASE WHEN len(ws) < 3 THEN 0.0
        |            ELSE 1.0 - len(list_distinct(list_transform(generate_series(0, len(ws) - 2),
        |                   i -> array_to_string(list_slice(ws, i + 1, i + 2), ' ')))) /
        |                 (len(ws) - 1)::DOUBLE END AS dup2
        |      FROM w)
        |SELECT doc_id, nw >= 20 AS r_min_words, nw <= 5000 AS r_max_words,
        |       ttr >= 0.35 AS r_ttr, dup2 <= 0.05 AS r_rep,
        |       (nw >= 20 AND nw <= 5000 AND ttr >= 0.35 AND dup2 <= 0.05) AS keep
        |FROM r""".stripMargin) { (s, dir) =>
      TextStats.qualityGate(docs(s, dir))
    },

    // ---- X15: temperature domain-mixture sampling — per-source quota
    //      ∝ sqrt(n_d) (α=0.5 upsamples rare domains), capped at size,
    //      filled in the shared deterministic hash order. Integer-exact
    //      after the count: micro-unit weight quantization (sqrt and ×
    //      are correctly rounded on both engines), integer normalizer,
    //      integer div. -----------------------------------------------
    "x15_mixture_sample" -> Q(
      """WITH n AS (SELECT source, count(*) AS nd FROM documents GROUP BY 1),
        |w AS (SELECT source, nd,
        |       CAST(floor(sqrt(nd::DOUBLE) * 1000000) AS BIGINT) AS wdq FROM n),
        |q AS (SELECT source,
        |       least(nd, (wdq * 120) // CAST((SELECT sum(wdq) FROM w) AS BIGINT)) AS quota
        |      FROM w),
        |h AS (SELECT doc_id, source,
        |       ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hh
        |      FROM documents),
        |r AS (SELECT doc_id, source,
        |       row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
        |      FROM h)
        |SELECT r.doc_id, r.source, q.quota FROM r JOIN q USING (source)
        |WHERE rn <= quota""".stripMargin) { (s, dir) =>
      Sampling.mixtureSample(docs(s, dir).select("doc_id", "source"),
        "source", budget = 120)
    },

    // ---- X10: text normalization — the canonical pre-dedup stage
    //      (lowercase, strip punctuation/digits, collapse whitespace) so
    //      near-dup hashing keys on content, not formatting. Pure scalar
    //      scan-path expressions; Dedup.exact then keys on the normalized
    //      column (its engine-internal xxhash64 has no DuckDB analog, so
    //      the oracle checks the normalized TEXT, the portable part). ----
    "x10_normalize" -> Q(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
        |       ' +', ' ', 'g')) AS norm,
        |  strlen(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
        |       ' +', ' ', 'g'))) AS n_chars_norm
        |FROM documents""".stripMargin) { (s, dir) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z ]", ""), " +", " "))
      docs(s, dir).select(col("doc_id"), norm.as("norm"),
        length(norm).as("n_chars_norm"))
    },

    // ---- X25: Unicode NFC normalization — the canonical-composition
    //      pass that must run BEFORE hashing/dedup (x10 lowercases and
    //      collapses whitespace; it cannot merge a decomposed e+U+0301
    //      with a composed U+00E9, which hash differently while
    //      rendering identically). The corpus is ASCII, so the entry
    //      CONSTRUCTS the decomposed form in-query (every 'e' gains a
    //      combining acute) and normalizes it back — the oracle builds
    //      the identical string and replays through DuckDB's
    //      nfc_normalize; per-doc code-point lengths before/after prove
    //      every pair composed (n_decomp − n_nfc = #e). Runs the native
    //      codegen graft_nfc Expression (UDF parity in NfcSpec).
    //      NOTE: DuckDB length() = code
    //      points (strlen is BYTES — wrong here). --------------------
    "x25_nfc_normalize" -> Q(
      """WITH d AS (SELECT doc_id,
        |            regexp_replace(text, 'e', 'e' || chr(769), 'g') AS dec
        |           FROM documents)
        |SELECT doc_id, CAST(length(dec) AS BIGINT) AS n_decomp,
        |       CAST(length(nfc_normalize(dec)) AS BIGINT) AS n_nfc
        |FROM d""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          regexp_replace(col("text"), "e", "e\u0301").as("dec"))
        .select(col("doc_id"),
          length(col("dec")).cast("long").as("n_decomp"),
          length(TextStats.nfcNormalize(col("dec"))).cast("long").as("n_nfc"))
    },

    // ---- X5: Gopher-style repetition signals — scalar array math only,
    //      no explode/shuffle; the per-doc filters any quality pipeline
    //      applies before training (dup-ngram and top-word fractions) ----
    "x5_repetition" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws,
        |  list_transform(generate_series(0, len(ws) - 2),
        |                 i -> array_to_string(list_slice(ws, i + 1, i + 2), ' ')) AS g2,
        |  list_transform(generate_series(0, len(ws) - 3),
        |                 i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')) AS g3
        |  FROM w WHERE len(ws) >= 3)
        |SELECT doc_id, len(ws) AS n_words,
        |  round(1.0 - len(list_distinct(ws)) / len(ws)::DOUBLE, 6) AS dup_word_frac,
        |  round(1.0 - len(list_distinct(g2)) / len(g2)::DOUBLE, 6) AS dup_2gram_frac,
        |  round(1.0 - len(list_distinct(g3)) / len(g3)::DOUBLE, 6) AS dup_3gram_frac,
        |  round(list_max(list_transform(list_distinct(ws),
        |        w -> len(list_filter(ws, x -> x = w)))) / len(ws)::DOUBLE, 6) AS top_word_frac
        |FROM g""".stripMargin) { (s, dir) =>
      TextStats.repetition(docs(s, dir))
    },

    // ---- X6: PII scrubbing — deterministic synthetic PII is injected
    //      into each doc (the corpus has none), then redacted + counted.
    //      Both engines build and scrub the identical string. -------------
    "x6_pii_scrub" -> Q(
      """WITH d AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or 555-867-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |  ' from 10.0.' || doc_id % 256 || '.1' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
        |    AS clean_text,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phones,
        |  len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips
        |FROM d""".stripMargin) { (s, dir) =>
      val injected = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".1")).as("text"))
      TextStats.piiScrub(injected)
    },

    // ---- X24: URL provenance extraction + per-domain rollup — the
    //      C4/RefinedWeb domain-filter pass. The corpus has no URLs
    //      (probed), so each doc gains two deterministic ones (an https
    //      path URL and an http host:port query URL); both engines build
    //      the identical string, extract with the same regex, resolve
    //      hosts (Spark: native parse_url; DuckDB: anchored regexp —
    //      both stop before :port), drop the blocklisted domain, and
    //      roll up urls + distinct docs per domain. ---------------------
    "x24_url_domains" -> Q(
      """WITH d AS (SELECT doc_id,
        |  text || ' see https://' ||
        |  list_extract(['news.example.com','blog.example.org','docs.example.net',
        |                'www.spam.example','cdn.example.io'],
        |               CAST(doc_id % 5 + 1 AS INT)) ||
        |  '/p/' || doc_id || ' and http://' ||
        |  list_extract(['mirror.example.com','api.example.org','files.example.net'],
        |               CAST(doc_id % 3 + 1 AS INT)) ||
        |  ':8080/q?id=' || doc_id AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |        regexp_extract(x, '^https?://([^/:?#]+)', 1) AS domain
        |      FROM (SELECT doc_id,
        |              unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.:/?=_-]+')) AS x
        |            FROM d))
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM u WHERE domain NOT IN ('www.spam.example')
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val five = array(Seq("news.example.com", "blog.example.org",
        "docs.example.net", "www.spam.example", "cdn.example.io").map(lit): _*)
      val three = array(Seq("mirror.example.com", "api.example.org",
        "files.example.net").map(lit): _*)
      val injected = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" see https://"),
          element_at(five, (col("doc_id") % 5 + 1).cast("int")),
          lit("/p/"), col("doc_id").cast("string"),
          lit(" and http://"),
          element_at(three, (col("doc_id") % 3 + 1).cast("int")),
          lit(":8080/q?id="), col("doc_id").cast("string")).as("text"))
      TextStats.urlDomains(injected, Seq("www.spam.example"))
    },

    // ---- X26: weighted sampling without replacement — inclusion
    //      probability proportional to word count (token-budget-
    //      proportional mixing). A-ES in its exact integer form: the
    //      u^(1/w) rank key is distributed as the max of w uniforms, so
    //      each doc keeps the max of w integer hashes — no pow/ln (libm
    //      rounding differs across engines), every key replayable
    //      bit-for-bit. Top-k runs as orderBy+limit, never a global
    //      window. -----------------------------------------------------
    // ---- X27: corpus vocabulary profile — the four numbers a
    //      tokenizer-training / quality pass reads first: total token
    //      occurrences, vocabulary size, hapax count (singletons — the
    //      long-tail mass that dominates BPE merge candidates), and the
    //      top term frequency. One explode + one two-level agg; the
    //      second level is four scalars. ------------------------------
    "x27_vocab_profile" -> Q(
      """WITH tok AS (SELECT u.t AS term
        |             FROM (SELECT string_split(lower(text), ' ') AS ws
        |                   FROM documents), unnest(ws) AS u(t)
        |             WHERE u.t <> ''),
        |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1)
        |SELECT CAST(sum(f) AS BIGINT) AS total_tokens,
        |       CAST(count(*) AS BIGINT) AS vocab_size,
        |       CAST(count(CASE WHEN f = 1 THEN 1 END) AS BIGINT) AS n_hapax,
        |       CAST(max(f) AS BIGINT) AS top_freq
        |FROM tf""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("f"))
        .agg(sum(col("f")).as("total_tokens"),
          count(lit(1)).as("vocab_size"),
          count(when(col("f") === 1, 1)).as("n_hapax"),
          max(col("f")).as("top_freq"))
    },

    "x26_weighted_sample" -> Q(
      """WITH w AS (SELECT doc_id,
        |            len(string_split(text, ' ')) AS n_words FROM documents),
        |k AS (SELECT doc_id, n_words,
        |       list_max(list_transform(generate_series(1, n_words),
        |         i -> (((doc_id * 1000003 + i) % 2147483648) * 1103515245
        |               + 12345) % 2147483648)) AS sample_key
        |      FROM w),
        |r AS (SELECT doc_id, n_words, sample_key,
        |       row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rnk
        |      FROM k)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |       CAST(sample_key AS BIGINT) AS sample_key,
        |       CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 50""".stripMargin) { (s, dir) =>
      Sampling.weightedSampleAes(docs(s, dir), k = 50)
    },

    // ---- X7: deterministic stratified sampling (data mixing): exactly
    //      min(k, |stratum|) docs per source, membership a pure function
    //      of doc_id — reproducible across runs/engines/partitionings ----
    // ---- X19: deterministic train/val/test split — assignment must be a
    //      pure function of the STABLE document id (never of position or
    //      arrival order), so re-running over a grown corpus keeps every
    //      old document's split: Knuth multiplicative hash taking the
    //      HIGH bits — bucket = (id·K mod 2³¹)·100 div 2³¹ — because the
    //      low bits of id·K are a fixed permutation of id's low digits
    //      and would give stride subpopulations a grossly skewed split.
    //      90/5/5; scan-path scalar — no shuffle, portable to any engine.
    "x19_hash_split" -> Q(
      """SELECT doc_id, b AS bucket,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ((doc_id * 2654435761) % 2147483648) * 100 // 2147483648 AS b
        |      FROM documents)""".stripMargin) { (s, dir) =>
      val b = expr(
        "((doc_id * 2654435761L) % 2147483648L) * 100 div 2147483648L")
      t(s, dir, "documents").select(col("doc_id"), b.as("bucket"),
        when(b < 90, lit("train")).when(b < 95, lit("val"))
          .otherwise(lit("test")).as("split"))
    },

    // ---- X20: consecutive-repeat collapse — in-document cleanup of the
    //      stutter artifacts crawlers produce ("buy buy buy now now"):
    //      keep a word iff it differs from its predecessor. Pure scalar
    //      lambda in the scan path (x5 MEASURES repetition; this REMOVES
    //      the consecutive form), no shuffle. -----------------------------
    "x20_collapse_repeats" -> Q(
      """SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(cw) AS BIGINT) AS n_after,
        |  array_to_string(cw, ' ') AS clean_text
        |FROM (SELECT doc_id, ws,
        |        list_filter(ws, (x, i) -> i = 1 OR x <> ws[i-1]) AS cw
        |      FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |            FROM documents))""".stripMargin,
      // ansi twin: the filter lambda's index is 1-based in DuckDB and
      // 0-based in Spark — an index-BASE gap inside an arbitrary lambda
      // that no mechanical rewrite can see (note ws[i-1] here is Spark's
      // native 0-based access, which IS "the previous element")
      ansi = """SELECT doc_id,
        |  CAST(size(ws) AS BIGINT) AS n_words,
        |  CAST(size(cw) AS BIGINT) AS n_after,
        |  array_join(cw, ' ') AS clean_text
        |FROM (SELECT doc_id, ws,
        |        filter(ws, (x, i) -> i = 0 OR x <> ws[i-1]) AS cw
        |      FROM (SELECT doc_id, split(text, ' ') AS ws
        |            FROM documents))""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .withColumn("_ws", split(col("text"), " "))
        // Spark filter-lambda index is 0-based (DuckDB's is 1-based) —
        // both predicates read "first element, or differs from previous"
        .withColumn("_cw", expr("filter(_ws, (x, i) -> i = 0 OR x != _ws[i-1])"))
        .select(col("doc_id"), size(col("_ws")).cast("long").as("n_words"),
          size(col("_cw")).cast("long").as("n_after"),
          array_join(col("_cw"), " ").as("clean_text"))
    },

    // ---- X21: overlapping context-window chunking — the standard
    //      retrieval/embedding preparation (windows of 64 tokens, stride
    //      48 ⇒ 16-token overlap so no boundary sentence is lost): one
    //      scan-path explode over the stride sequence, slices clamp at
    //      the document end identically on both engines. ------------------
    "x21_overlap_chunks" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
        |       list_slice(ws, s, s + 63) AS cws
        |      FROM w, unnest(generate_series(1, len(ws), 48)) AS u(s)
        |      WHERE s = 1 OR s + 15 < len(ws))
        |SELECT doc_id, chunk_idx, CAST(len(cws) AS BIGINT) AS n_tokens,
        |  array_to_string(cws, ' ') AS chunk
        |FROM c""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .withColumn("_ws", split(col("text"), " "))
        .select(col("doc_id"), col("_ws"),
          explode(expr("sequence(1, size(_ws), 48)")).as("_s"))
        // suppress a trailing window that adds no new tokens: once the
        // PREVIOUS window already clamped to the document end (start+15
        // ≥ len, overlap 16), this chunk is a strict subset of it —
        // downstream retrieval would index duplicate content
        .filter(col("_s") === 1 || col("_s") + 15 < size(col("_ws")))
        .select(col("doc_id"),
          expr("CAST((_s - 1) div 48 AS BIGINT)").as("chunk_idx"),
          expr("slice(_ws, _s, 64)").as("_cws"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("_cws")).cast("long").as("n_tokens"),
          array_join(col("_cws"), " ").as("chunk"))
    },

    "x7_stratified_sample" -> Q(
      """WITH h AS (SELECT doc_id, source,
        |  ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hh FROM documents),
        |r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 20""".stripMargin) { (s, dir) =>
      Sampling.stratified(
        docs(s, dir).select("doc_id", "source"), "source", k = 20)
    },

    // ---- X8: per-source token-budget mixing — deterministic hash-order
    //      walk, keep docs while the running word total is under budget --
    "x8_token_budget" -> Q(
      """WITH h AS (SELECT doc_id, source, len(string_split(text, ' ')) AS toks,
        |  ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hh FROM documents),
        |c AS (SELECT doc_id, source, toks,
        |  sum(toks) OVER (PARTITION BY source ORDER BY hh, doc_id
        |                  ROWS UNBOUNDED PRECEDING) AS cum FROM h)
        |SELECT doc_id, source, toks FROM c WHERE cum - toks < 2000""".stripMargin) { (s, dir) =>
      Sampling.tokenBudget(
        docs(s, dir).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks")),
        "source", "toks", budget = 2000)
    },

    // ---- X11: training-sequence packing — concat-and-chop the token
    //      stream into fixed 512-token sequences per source (documents
    //      straddle boundaries; no padding). The layout step between
    //      corpus assembly (x7/x8) and the trainer. ----------------------
    "x11_sequence_pack" -> Q(
      """WITH h AS (SELECT doc_id, source, len(string_split(text, ' ')) AS toks,
        |  ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hh FROM documents),
        |c AS (SELECT doc_id, source, toks,
        |  sum(toks) OVER (PARTITION BY source ORDER BY hh, doc_id
        |                  ROWS UNBOUNDED PRECEDING) AS cum FROM h WHERE toks > 0)
        |SELECT doc_id, source, toks,
        |       cast((cum - toks) // 512 AS BIGINT) AS start_seq,
        |       cast((cum - 1) // 512 AS BIGINT) AS end_seq,
        |       cast((cum - toks) % 512 AS BIGINT) AS "offset"
        |FROM c""".stripMargin) { (s, dir) =>
      Sampling.packSequences(
        docs(s, dir).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks")),
        "source", "toks", seqLen = 512)
    },

    // ---- X4: winnowing document fingerprint (rolling hash) -------------
    //      The stateful rolling-hash UDF: rows-only by design (64-bit
    //      wraparound is not replayable in checked-overflow SQL); the
    //      ALGORITHM is hash-checked via the portable twin x4b below.
    "x4_fingerprint" -> Q.rowsOnly { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextStats.winnowFingerprint(col("text"), lit(8), lit(16)).as("fingerprint"))
    },

    // ---- X4b: the same winnow on mod-2³¹ arithmetic, NATIVE higher-
    //      order expressions (no UDF, whole-stage codegen) — the oracle
    //      recomputes every stage independently in SQL: char fold k-gram
    //      hashes, per-window minima, XOR digest. --------------------------
    "x4b_fingerprint_portable" -> Q(
      """WITH c AS (SELECT doc_id,
        |            list_transform(range(1, length(text) + 1),
        |                           i -> cast(ascii(substr(text, i, 1)) AS BIGINT)) AS cs
        |           FROM documents),
        |h AS (SELECT doc_id, CASE WHEN len(cs) >= 8
        |        THEN list_transform(range(1, len(cs) - 8 + 2),
        |               i -> list_reduce(list_prepend(cast(0 AS BIGINT), cs[i:i+7]),
        |                                (a, x) -> (a * 31 + x) % 2147483648))
        |        ELSE []::BIGINT[] END AS hs FROM c),
        |w AS (SELECT doc_id, list_transform(range(0, len(hs) // 16),
        |        w -> list_min(hs[w*16+1 : w*16+16])) AS mins FROM h)
        |SELECT doc_id,
        |       list_reduce(list_prepend(cast(0 AS BIGINT), mins),
        |                   (a, b) -> xor(a, b)) AS fingerprint
        |FROM w""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.winnowPortable(col("text"), 8, 16).as("fingerprint"))
    },

    // ---- M1: multimodal binary pipeline (stubbed decode, real plumbing)
    "m1_multimodal_features" -> Q(
      """SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes,
        |       ascii(substr(text, 1, 1)) AS first_byte,
        |       ascii(substr(text, strlen(text), 1)) AS last_byte,
        |       list_sum(list_transform(generate_series(1, least(strlen(text), 32)),
        |                i -> ascii(substr(text, i, 1))))::BIGINT AS byte_sum32
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocs(docs(s, dir)), targetPartitions = 8)
        .toDF()
    },

    // ---- M2: multimodal frame sampling (video path) — stride windows
    //      over the payload, exploded distributed inside the batch stage -
    //      The oracle reads CHARS (substr/ascii) while the engine reads
    //      BYTES, so both sides restrict to ASCII docs (strlen = length ⟺
    //      no multi-byte chars) — exact for any future corpus, total on
    //      this one. No fanOut here: sampleFrames repartitions itself, and
    //      stacking a second shuffle would move every payload byte twice.
    "m2_frame_sample" -> Q(
      """SELECT doc_id AS media_id, i AS frame_idx, i * 32 AS "offset",
        |       list_sum(list_transform(generate_series(i * 32 + 1, i * 32 + 16),
        |                p -> ascii(substr(text, p, 1))))::BIGINT AS frame_sum
        |FROM documents, unnest(generate_series(0, 3)) AS u(i)
        |WHERE i * 32 + 16 <= strlen(text) AND strlen(text) = length(text)""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.mediaFromDocs(
          t(s, dir, "documents")
            .where(octet_length(col("text")) === length(col("text")))),
        frameSize = 16, stride = 32, maxFrames = 4, targetPartitions = 8)
        .toDF()
    },

    // ---- M3: media content-hash dedup — the multimodal counterpart of
    //      d1: content addressing by md5 over the opaque payload BYTES
    //      (the standard first pass for image/audio dedup — byte-exact
    //      copies collapse regardless of filename/id), survivor = min id.
    //      The corpus has no byte-identical media, so duplicates are
    //      synthesized by re-keying the first 50 docs (+10000) — the
    //      oracle replays the same union, and md5 over the varchar's
    //      utf-8 bytes equals md5 over the binary payload built from the
    //      same text. Only 16-byte digests shuffle, never payloads. ------
    "m3_media_hash_dedup" -> Q(
      """WITH m AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50)
        |SELECT md5(text) AS content_md5, min(doc_id) AS survivor_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val media = Multimodal.mediaFromDocs(d).unionByName(
        Multimodal.mediaFromDocs(
          d.filter(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + 10000)))
      media
        .select(md5(col("data")).as("content_md5"), col("media_id"))
        .groupBy("content_md5")
        .agg(min(col("media_id")).as("survivor_id"),
          count(lit(1)).as("n_copies"))
    },

    // ---- M4: perceptual image dedup over REAL decoded pixels ----------
    //      end-to-end distributed: render one PNG per document on the
    //      executors (testdata ships no images; pattern = doc_id div 10,
    //      brightness shift = doc_id mod 10 → groups of 10 perceptual
    //      twins), ImageIO-decode → dHash 9×8 luma grid → pigeonhole
    //      chunk equi-join. Only 8-byte fingerprints ever shuffle. NO
    //      SQL oracle can decode PNGs → no_oracle; the kernel's
    //      invariances (brightness cancels exactly, rescale survives,
    //      patterns separate) are spec-verified in MultimodalImageSpec,
    //      and the group structure here makes the expected pairing
    //      self-evident: every pair inside a div-10 group, none across.
    "m4_perceptual_dedup" -> Q.rowsOnly { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          id -> Multimodal.syntheticPatternPng(id / 10, (id % 10).toInt)
        })
        .toDF("media_id", "data")
      Multimodal.perceptualDupPairs(media, maxDist = 10)
        .groupBy((col("id1") / 10).cast("long").as("pattern_group"))
        .agg(count(lit(1)).as("n_pairs"),
          max(col("hamming")).as("max_hamming"))
    },

    // ---- M4b: HASH-CHECKED pairing stage of m4 -------------------------
    //      The decode can't be oracled (no SQL engine reads PNGs), but
    //      everything after the fingerprint can: the entry persists the
    //      executor-rendered corpus' dHashes to parquet, then pairs
    //      THROUGH the persisted bytes, and the oracle replays the
    //      pigeonhole chunk equi-join + bit_count filter over the very
    //      same parquet — so m4's candidate generation and Hamming
    //      filter are now hash-green, with only the pixel→fingerprint
    //      kernel left to MultimodalImageSpec's invariance checks. ------
    "m4b_perceptual_pairing" -> Q(m4bOracle) { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          id -> Multimodal.syntheticPatternPng(id / 10, (id % 10).toInt)
        })
        .toDF("media_id", "data")
      Multimodal.imageDHashes(media)
        .write.mode("overwrite").parquet(m4bFpDir)
      Multimodal.pairsFromFingerprints(s.read.parquet(m4bFpDir), maxDist = 10)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
    },

    // ---- M5: REAL audio decode (javax.sound.sampled) -------------------
    //      The audio leg of m1 with the stub replaced: an executor-
    //      rendered WAV tone corpus (frequency/amplitude deterministic
    //      functions of doc_id) decoded bytes→samples in the batched
    //      mapPartitions stage; integer sample units (peak, milli-RMS
    //      from an exact Long sum of squares) keep every row
    //      reproducible. No SQL engine parses WAV ⇒ rows-only, with the
    //      decode kernel pinned against ground truth (exact sample
    //      counts, RMS of a known sine = amp/√2, corrupt-payload drop,
    //      resample-preserves-RMS) in MultimodalAudioSpec. -------------
    "m5_audio_features" -> Q.rowsOnly { (s, dir) =>
      Multimodal.extractAudioFeatures(
        Multimodal.audioFromDocs(docs(s, dir)), targetPartitions = 8)
        .toDF()
    },

    // ---- M6: container-header dimension sniffing — format + width +
    //      height from the first bytes of REAL PNG/JPEG payloads with
    //      NO pixel decode (the triage pass that budgets decode cost and
    //      applies aspect/size filters before any codec runs). The
    //      payloads come out of real ImageIO encoders at dimensions that
    //      are a closed form of the id, so the generate→encode→sniff
    //      roundtrip is oracle-checkable; the sniffer itself is pinned
    //      against ImageIO decode + corrupt/truncated payloads in
    //      MultimodalHeaderSpec. -----------------------------------------
    "m6_header_sniff" -> Q(
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |       CAST(16 + doc_id % 64 AS INT) AS width,
        |       CAST(16 + doc_id % 48 AS INT) AS height
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticImageBytes(id))))
        .toDF("media_id", "data")
      Multimodal.imageHeaders(media, targetPartitions = 8).toDF()
    },

    // ---- M7: WAV container-header sniff — m6's audio leg: channels /
    //      rate / bit depth / sample count from the RIFF chunk walk
    //      alone (sample count DERIVED: data bytes ÷ frame size), no
    //      javax.sound codec. Payloads come from the real m5 tone
    //      encoder at closed-form sample counts, so the
    //      generate→encode→sniff roundtrip is oracle-checkable. --------
    "m7_wav_header_sniff" -> Q(
      """SELECT doc_id AS media_id, 1 AS n_channels, 8000 AS sample_rate,
        |       16 AS bits, CAST(1000 + doc_id % 3000 AS BIGINT) AS n_samples
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id,
          Multimodal.syntheticToneWav(440.0, (1000 + id % 3000).toInt, 8000, 0.5))))
        .toDF("media_id", "data")
      Multimodal.wavHeaders(media, targetPartitions = 8).toDF()
    },

    // ---- M9: video-container header sniff — the triage leg a training
    //      pipeline with a `media` column hits FIRST: duration + track
    //      dims + track count from the MP4/ISO-BMFF box walk
    //      (moov/mvhd/tkhd, compact AND version-1/largesize layouts) or
    //      the MKV/EBML element walk (Info/TimestampScale+Duration,
    //      Tracks/TrackEntry/Video) — first bytes only, no codec, no
    //      sample tables, the m6/m7 discipline. Payloads are real
    //      box/EBML layouts muxed at closed-form fields of the id (even
    //      ids MP4, odd MKV; every 3rd id carries a second audio track;
    //      every 5th MP4 uses 64-bit v1 boxes), so generate→mux→sniff is
    //      oracle-checkable; truncation/corruption drops are pinned in
    //      MultimodalHeaderSpec. ------------------------------------------
    "m9_video_header_sniff" -> Q(videoSniffOracleSql) { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id,
          if (id % 2 == 0) Multimodal.syntheticMp4Bytes(id)
          else Multimodal.syntheticMkvBytes(id))))
        .toDF("media_id", "data")
      Multimodal.videoHeaders(media, targetPartitions = 8).toDF()
    },

    // ---- T36 (streaming): media triage AT INGEST — m9's container
    //      sniff is a stateless per-record kernel, so it runs verbatim
    //      on a streaming media column: the binary corpus is muxed
    //      inside the stream (mapPartitions, no staging write) and each
    //      micro-batch emits its headers. The posture a 100 TB media
    //      crawl wants: duration/dims/track-count land as queryable
    //      rows the moment a file arrives, decode budgeting runs BEFORE
    //      any codec is scheduled. Shares m9's oracle verbatim. ---------
    "t36_stream_media_sniff" -> Q(videoSniffOracleSql) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      import ss.implicits._
      val mediaStream = EventStream.readDocuments(ss, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id,
          if (id % 2 == 0) Multimodal.syntheticMp4Bytes(id)
          else Multimodal.syntheticMkvBytes(id))))
        .toDF("media_id", "data")
      val sniffed = Multimodal.videoHeaders(mediaStream).toDF()
      EventStream.runToMemory(sniffed,
        s"t36_sniff_${streamSeq.incrementAndGet()}", mode = "append")
    },

    // ---- M11: frame-sample PLANNING from container headers — the step
    //      between triage (m9) and decode (m2): budget which frames to
    //      decode from header metadata ALONE (duration → time-uniform
    //      timestamps, dims → per-frame byte estimate), so the decode
    //      stage is scheduled against a known cost before any codec
    //      touches payload bytes. Frame count `least(8, 1 + dur/1 s)`
    //      and timestamps `i·dur div n` are integer closed forms of the
    //      sniffed fields, which the oracle replays from the id —
    //      proving sniff→plan end-to-end exact. ------------------------
    "m11_frame_plan" -> Q(
      """WITH h AS (SELECT doc_id AS media_id,
        |  160 + doc_id % 1280 AS w, 120 + doc_id % 720 AS ht,
        |  1000 + doc_id % 100000 AS dur FROM documents),
        |n AS (SELECT *, least(8, 1 + dur // 1000) AS nf FROM h)
        |SELECT media_id, CAST(u.i AS INT) AS frame_idx,
        |  CAST((u.i * dur) // nf AS BIGINT) AS ts_ms,
        |  CAST(w * ht * 3 AS BIGINT) AS est_bytes
        |FROM n, unnest(generate_series(0, nf - 1)) AS u(i)""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id,
          if (id % 2 == 0) Multimodal.syntheticMp4Bytes(id)
          else Multimodal.syntheticMkvBytes(id))))
        .toDF("media_id", "data")
      Multimodal.videoHeaders(media, targetPartitions = 8).toDF()
        .select(col("media_id"), col("width"), col("height"), col("duration_ms"),
          least(lit(8L), lit(1L) + expr("duration_ms div 1000")).as("nf"))
        .select(col("media_id"), col("width"), col("height"),
          col("duration_ms"), col("nf"),
          explode(sequence(lit(0L), col("nf") - 1)).as("i"))
        .select(col("media_id"), col("i").cast("int").as("frame_idx"),
          expr("(i * duration_ms) div nf").as("ts_ms"),
          (col("width").cast("long") * col("height") * 3L).as("est_bytes"))
    },

    // ---- M10: audio spectral bands — windowed Goertzel energy at 4
    //      band frequencies over the m5 decode leg: the tone/music/
    //      silence triage peak/RMS can't support. The corpus muxes tones
    //      EXACTLY on analysis bins (sr 8000, window 400 → 20 Hz bins;
    //      bands 400/800/1600/2400 Hz = bins 20/40/80/120; 2000 samples
    //      = 20–120 whole cycles per window), so a tone leaks nothing
    //      into the other measured bins and the ‰ energy split is
    //      closed-form: 1000 in the tone's band, 0 elsewhere, all-zero
    //      with dominant −1 for the silent rows — which is what lets a
    //      DSP feature extractor run under an exact SQL oracle.
    //      Off-bin tones, multi-channel mixing and corrupt-drop are
    //      pinned in MultimodalAudioSpec. -------------------------------
    "m10_audio_spectral" -> Q(
      """SELECT doc_id AS media_id, 8000 AS sample_rate, 5 AS n_windows,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1 ELSE doc_id % 4 END AS INT) AS dominant_band,
        |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 4 = 0 THEN 1000 ELSE 0 END AS BIGINT) AS b0_milli,
        |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 4 = 1 THEN 1000 ELSE 0 END AS BIGINT) AS b1_milli,
        |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 4 = 2 THEN 1000 ELSE 0 END AS BIGINT) AS b2_milli,
        |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 4 = 3 THEN 1000 ELSE 0 END AS BIGINT) AS b3_milli
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bands = Array(400.0, 800.0, 1600.0, 2400.0)
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val amp = if (id % 7 == 0) 0.0 else 0.5
          (id, Multimodal.syntheticToneWav(
            bands((id % 4).toInt), nSamples = 2000, sampleRate = 8000, amp))
        }).toDF("media_id", "data")
      Multimodal.audioSpectralFeatures(media, bands, window = 400,
          targetPartitions = 8)
        .toDF()
        .select(col("media_id"), col("sample_rate"), col("n_windows"),
          col("dominant_band"),
          col("band_milli")(0).as("b0_milli"),
          col("band_milli")(1).as("b1_milli"),
          col("band_milli")(2).as("b2_milli"),
          col("band_milli")(3).as("b3_milli"))
    },

    // ---- T2 (streaming): tumbling-window counts with watermark ---------
    "t2_stream_window" -> Q(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, count(*) AS n,
        |       sum(cast(round(value * 100) AS bigint)) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val streaming = EventStream.hourlyCounts(EventStream.readEvents(s, dir))
      EventStream.runToMemory(streaming, s"t2_stream_${streamSeq.incrementAndGet()}")
    },

    // ---- T6 (streaming): watermarked stream-stream interval join -------
    "t6_stream_join" -> Q(
      """SELECT c.user_id, count(*) AS n_pairs
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // A stream-stream join materializes ~4 state stores per shuffle
      // partition per microbatch; scope the partition count to the state
      // volume (tiny here) rather than the session's scan parallelism.
      // The override lives on a cloned session (own SQLConf, shared
      // SparkContext) so nothing concurrent on `s` ever observes it.
      val ss = EventStream.statefulSession(s)
      val joined = EventStream.clickPurchaseJoin(EventStream.readEvents(ss, dir), 10)
      val drained = EventStream.runToMemory(joined,
        s"t6_stream_${streamSeq.incrementAndGet()}", mode = "append")
      drained.groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
    },

    // ---- T7 (streaming): watermarked exactly-once dedup ----------------
    //      dropDuplicates on a stream keeps state per key until the
    //      watermark passes — the streaming form of D1 for event streams
    "t7_stream_dedup" -> Q(
      """WITH d AS (SELECT DISTINCT event_id, user_id, event_type FROM
        |           (SELECT event_id, user_id, event_type FROM events
        |            UNION ALL SELECT event_id, user_id, event_type FROM events))
        |SELECT user_id, count(*) AS n_unique FROM d GROUP BY user_id""".stripMargin) { (s, dir) =>
      // cloned session scopes the state-store partition override (see t6)
      val ss = EventStream.statefulSession(s)
      val ev = EventStream.readEvents(ss, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      // self-union the stream so there are real duplicates to drop.
      // dropDuplicatesWithinWatermark evicts per-id state once the
      // watermark passes; plain dropDuplicates(id) without the event-
      // time column would keep one state entry per id FOREVER.
      val doubled = ev.unionByName(ev)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val drained = EventStream.runToMemory(doubled,
        s"t7_stream_${streamSeq.incrementAndGet()}", mode = "append")
      drained.groupBy("user_id").agg(count(lit(1)).as("n_unique"))
    },

    // ---- T8 (streaming ingest pipeline): quality-gate → watermarked
    //      content dedup → per-source counts. The llm quality signals are
    //      scalar expressions, so they run unchanged on a stream; the
    //      doubled input makes the dedup state do real work (batch oracle:
    //      doubling + exact dedup = the original set). ------------------
    "t8_stream_quality" -> Q(
      """SELECT source, count(DISTINCT text) AS n_docs FROM documents
        |WHERE len(string_split(text, ' ')) >= 20
        |  AND 1.0 - len(list_distinct(string_split(text, ' ')))
        |        / len(string_split(text, ' '))::DOUBLE <= 0.8
        |GROUP BY source""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val stream = EventStream.readDocuments(ss, dir)
      val ws = split(col("text"), " ")
      // ts spread bounded to 30 min — UNDER the 1-hour watermark — so the
      // (source, text) duplicates stay within the dedup window no matter
      // how the file source batches (a full-corpus ts spread only works
      // while everything drains in one micro-batch)
      val one = stream
        .withColumn("ts",
          to_timestamp(from_unixtime(lit(1700000000L) + col("doc_id") % 1800)))
        .where(size(ws) >= 20 &&
          (lit(1.0) - size(array_distinct(ws)) / size(ws).cast("double")) <= 0.8)
      // dedup on (source, text), not text alone: the corpus plants dup
      // texts ACROSS sources, and text-only dedup would attribute the
      // surviving row to whichever source arrived first (nondeterministic)
      val doubled = one.unionByName(one)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("source", "text")
      val drained = EventStream.runToMemory(doubled,
        s"t8_stream_${streamSeq.incrementAndGet()}", mode = "append")
      drained.groupBy("source").agg(count(lit(1)).as("n_docs"))
    },

    // ---- T9 (streaming sink pattern): incremental materialized view —
    //      update-mode agg merged into a versioned parquet store via
    //      foreachBatch + Upsert; the streaming form of the reference's
    //      crawl-upsert loop. Oracle: the batch aggregation the store
    //      must converge to. ----------------------------------------------
    "t9_stream_materialize" -> Q(
      """SELECT user_id, event_type, count(*) AS n,
        |       cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      // fresh store+checkpoint per call: a reused checkpoint would make
      // AvailableNow see no new files and run zero batches
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_t9_store")
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
      EventStream.materializedCounts(ss, dir, root.toString)
    },

    // ---- T10 (streaming): stream-static join — the enrichment shape
    //      (stream facts against a batch dimension). No watermark needed:
    //      the static side is fully available every micro-batch, so no
    //      join state accumulates — unlike the stream-stream t6. ----------
    "t10_stream_static_join" -> Q(
      """SELECT c_mktsegment AS segment, count(*) AS n_events,
        |       cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val static = graft.Tables.t(ss, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = EventStream.readEvents(ss, dir)
        .join(static, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      EventStream.runToMemory(joined, s"t10_stream_${streamSeq.incrementAndGet()}")
    },

    // ---- T11: native session windows (batch form) — the declarative
    //      twin of t5's flatMapGroupsWithState: groupBy(session_window)
    //      merges events closer than the gap. Sessions split at diff >=
    //      gap ([ts, ts+gap) windows), hence the >= oracle where t5's
    //      hand-rolled state uses >. -------------------------------------
    "t11_session_window" -> Q(
      // r8 recalibration: the split is STRICT (ts - prev > gap) — a
      // crafted probe (DynamicSessionSpec) measured that an event landing
      // exactly at prev + gap MERGES (adjacent [start, end) sessions
      // join). The corpus never samples the exact µs boundary, so the
      // old >= form was green but wrong on any data that does.
      """WITH e AS (SELECT user_id, ts,
        |            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |           FROM events),
        |m AS (SELECT user_id, ts,
        |       CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |            THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id,
        |       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |c AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, max(n) AS longest_session
        |FROM c GROUP BY user_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("n").as("longest_session"))
    },

    // ---- T11b: DYNAMIC-GAP session windows — the per-event-gap form of
    //      t11 (a purchase keeps its session alive 60 min, everything
    //      else 15): an event merges into the running session iff it
    //      starts AT OR before the RUNNING MAX of previous events'
    //      (ts + own gap) — MEASURED in DynamicSessionSpec: adjacent
    //      sessions (event exactly at the running end) MERGE, one µs
    //      past splits, so the oracle split is STRICT (ts > prev_end).
    //      The oracle replays it as an islands condense over a
    //      running-max window; same-timestamp peers always co-session
    //      (their intervals share a start), so the ROWS frame's peer
    //      order cannot change any count. ---------------------------
    "t11b_session_dynamic_gap" -> Q(
      """WITH e AS (SELECT user_id, ts,
        |            max(ts + CASE WHEN event_type = 'purchase'
        |                          THEN INTERVAL 60 MINUTE
        |                          ELSE INTERVAL 15 MINUTE END)
        |              OVER (PARTITION BY user_id ORDER BY ts
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              AS prev_end
        |           FROM events),
        |m AS (SELECT user_id, ts,
        |       CASE WHEN prev_end IS NULL OR ts > prev_end
        |            THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id,
        |       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |c AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, max(n) AS longest_session
        |FROM c GROUP BY user_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"),
          when(col("event_type") === "purchase", "60 minutes")
            .otherwise("15 minutes")))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("n").as("longest_session"))
    },

    // ---- T26 (stateful streaming): native session_window ON A STREAM —
    //      the streaming form of t11 (same 30-min static gap, SAME
    //      recalibrated oracle): watermarked events group into merging
    //      session state (MergingSessionsExec), drained in COMPLETE mode
    //      — the load-bearing calibration: UPDATE is REJECTED for
    //      session-window streaming aggregations (measured:
    //      STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION — merged
    //      sessions can't be keyed as updates), and APPEND emits only
    //      watermark-CLOSED sessions (none, on a single batch). -------
    "t26_stream_session_window" -> Q(
      """WITH e AS (SELECT user_id, ts,
        |            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |           FROM events),
        |m AS (SELECT user_id, ts,
        |       CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |            THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id,
        |       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |c AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, max(n) AS longest_session
        |FROM c GROUP BY user_id""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val sessions = EventStream.readEvents(ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
      EventStream.runToMemory(sessions.drop("session_window"),
        s"t26_sessions_${streamSeq.incrementAndGet()}", mode = "complete")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("n").as("longest_session"))
    },

    // ---- T28 (stateful streaming): benchmark decontamination ON INGEST -
    //      d10's Bloom-prefiltered exact decontamination with the TRAIN
    //      side arriving as a stream — the production shape: quarantine
    //      contaminated documents BEFORE they land in the corpus. The
    //      benchmark side stays batch (Bloom built once on the driver,
    //      probe ships as a codegen binary literal); the stream runs the
    //      probe filter + exact confirm join STATELESS (stream-static),
    //      and the only stateful operator is the per-doc overlap count,
    //      drained complete. Same pipeline code (Dedup.contaminationBloom
    //      is source-agnostic), same oracle as d10 verbatim. -----------
    "t28_stream_decontaminate" -> Q(bloomDecontOracleSql) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val raw = t(ss, dir, "documents")
      val trainStream = EventStream.readDocuments(ss, dir)
        .where(col("doc_id") % 40 =!= 0)
      val out = Dedup.contaminationBloom(trainStream,
        raw.where(col("doc_id") % 40 === 0), n = 3, minOverlap = 3)
      EventStream.runToMemory(out,
        s"t28_decont_${streamSeq.incrementAndGet()}", mode = "complete")
    },

    // ---- T37 (streaming): OHLC bars on the event stream — w16's
    //      downsampling as a watermarked tumbling-window aggregation:
    //      open/close stay min/max over the packed (us, event_id,
    //      cents) struct, so the bar is deterministic under ANY
    //      micro-batch slicing and the streaming state per bar is one
    //      struct + three longs. Drained COMPLETE here (all bars
    //      retained; in complete mode the watermark does NOT evict, so
    //      the withWatermark call is inert for this entry) — the
    //      production posture where eviction actually bounds state is
    //      append mode, exercised by t37b below; shares w16's oracle
    //      verbatim. ------------------------------------------------
    "t37_stream_ohlc_bars" -> Q(Extras.ohlcOracleSql) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val ev = EventStream.readEvents(ss, dir)
        .select(col("event_type"), col("ts"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        .withWatermark("ts", "1 hour")
      val bars = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(min(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("open"),
          max(col("cents")).as("high"),
          min(col("cents")).as("low"),
          max(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("close"),
          count(lit(1)).as("n_ticks"))
        .select(col("event_type"),
          expr("unix_micros(window.start) div 3600000000").as("h"),
          col("open"), col("high"), col("low"), col("close"), col("n_ticks"))
      EventStream.runToMemory(bars,
        s"t37_ohlc_${streamSeq.incrementAndGet()}", mode = "complete")
    },

    // ---- T37B (streaming): OHLC bars drained in APPEND mode — the
    //      production posture t37 deliberately isn't: append emits each
    //      bar exactly ONCE when the watermark closes its window, and
    //      the watermark then EVICTS the bar's state, so the state store
    //      holds only the open tail (bounded by delay × bar rate) no
    //      matter how long the stream runs — the claim that was
    //      miswritten on t37 in r9 holds HERE. Tail bars depend on
    //      append-mode finalization, so both sides keep only bars whose
    //      window END sits >= 2h behind max ts (the t25 cut: inside it
    //      every bar is watermark-closed, so boundary strictness cannot
    //      differ). Same packed-struct min/max kernel, so the bar values
    //      are w16's verbatim on the surviving rows. -------------------
    "t37b_stream_ohlc_append" -> Q(
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id,
        |            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |mx AS (SELECT max(us) AS m FROM e),
        |w AS (SELECT *, (us // 3600000000) AS h,
        |        row_number() OVER (PARTITION BY event_type, us // 3600000000
        |                           ORDER BY us, event_id) AS rn_a,
        |        row_number() OVER (PARTITION BY event_type, us // 3600000000
        |                           ORDER BY us DESC, event_id DESC) AS rn_d
        |      FROM e),
        |b AS (SELECT event_type, CAST(h AS BIGINT) AS h,
        |        CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
        |        CAST(max(cents) AS BIGINT) AS high,
        |        CAST(min(cents) AS BIGINT) AS low,
        |        CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
        |        CAST(count(*) AS BIGINT) AS n_ticks
        |      FROM w GROUP BY 1, 2)
        |SELECT event_type, h, open, high, low, close, n_ticks
        |FROM b, mx WHERE (h + 1) * 3600000000 <= mx.m - 7200000000""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val ev = EventStream.readEvents(ss, dir)
        .select(col("event_type"), col("ts"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        .withWatermark("ts", "1 hour")
      val bars = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(min(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("open"),
          max(col("cents")).as("high"),
          min(col("cents")).as("low"),
          max(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("close"),
          count(lit(1)).as("n_ticks"))
        .select(col("event_type"),
          expr("unix_micros(window.start) div 3600000000").as("h"),
          col("open"), col("high"), col("low"), col("close"), col("n_ticks"))
      val drained = EventStream.runToMemory(bars,
        s"t37b_ohlc_${streamSeq.incrementAndGet()}", mode = "append")
      val mxUs = t(s, dir, "events")
        .agg(max(unix_micros(col("ts")))).first().getLong(0)
      drained.filter((col("h") + 1) * 3600000000L <= mxUs - 7200000000L)
    },

    // ---- T30 (streaming ops): late-data DROPPING, Spark 4 semantics
    //      pinned — the late-event filter runs against the PREVIOUS
    //      batch's watermark, so a one-row sentinel batch burns the lag
    //      before the late file arrives; by then both filter
    //      watermarks sit a 15-day gap above every late row and ALL of
    //      them drop, whatever the boundary strictness. The sink's
    //      final per-window counts are therefore exactly the batch
    //      aggregation of the on-time (ts >= min+15d) rows — which is
    //      the oracle. The filter-lag acceptance hazard and metric
    //      undercount are pinned in LateDataSpec. ---------------------
    "t30_stream_late_drop" -> Q(
      """WITH b AS (SELECT min(ts) + INTERVAL 15 DAY AS cut FROM events),
        |e AS (SELECT epoch_us(ts) AS us FROM events, b WHERE ts >= b.cut)
        |SELECT (us // 3600000000) * 3600000000 AS h_start,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1""".stripMargin) { (s, dir) =>
      EventStream.lateDataDrop(s, dir)._1
    },

    // ---- T33 (streaming): MULTI-SOURCE union topology — two
    //      independent file streams (the corpus split even/odd) union
    //      into one stateful aggregation, each side provenance-tagged.
    //      The shape every consolidation pipeline runs (N landing zones
    //      → one state); per-tag counts prove neither source was
    //      dropped or double-read. ------------------------------------
    "t33_stream_union_sources" -> Q(
      """SELECT event_type,
        |  CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_even,
        |  CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_odd,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val ev = t(s, dir, "events")
      def stageHalf(even: Boolean): String = {
        val out = graft.Scratch.dir(s"graft_t33_${if (even) "e" else "o"}_")
        ev.filter((col("event_id") % 2 === 0) === even)
          .write.mode("overwrite").parquet(out)
        out
      }
      val (d0, d1) = (stageHalf(even = true), stageHalf(even = false))
      val schema = s.read.parquet(d0).schema
      def src(d: String, tag: String) =
        ss.readStream.schema(schema).parquet(d)
          .withColumn("src_tag", lit(tag))
      val agg = src(d0, "even").unionByName(src(d1, "odd"))
        .groupBy("event_type")
        .agg(count(when(col("src_tag") === "even", 1)).as("n_even"),
          count(when(col("src_tag") === "odd", 1)).as("n_odd"),
          count(lit(1)).as("n"))
      EventStream.runToMemory(agg,
        s"t33_union_${streamSeq.incrementAndGet()}", mode = "complete")
    },

    // ---- T31 (streaming): Trigger.AvailableNow — the production
    //      periodic-drain trigger: process everything available, then
    //      TERMINATE on your own (every other streaming entry drains via
    //      processAllAvailable on a live query; AvailableNow is what a
    //      cron-scheduled incremental job actually runs — it respects
    //      source rate limits across multiple batches and shuts the
    //      query down when caught up). Self-termination is asserted
    //      (awaitTermination with a bound, never stop()). ---------------
    "t31_trigger_available_now" -> Q(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val name = s"t31_avnow_${streamSeq.incrementAndGet()}"
      val agg = EventStream.readEvents(ss, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000),
        "AvailableNow query did not self-terminate within 5 minutes")
      ss.table(name)
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("cents"))
    },

    // ---- T29 (streaming ops): read a checkpoint's STATE STORE as a
    //      batch DataFrame — Spark 4's state data source, the window
    //      into "what is this query holding per key" that at production
    //      scale replaces stopping the stream or instrumenting the job.
    //      For a complete-mode keyed count the final state IS the
    //      per-key counts, so the snapshot hash-checks against the
    //      batch replay; the metadata leg (operator name, store name,
    //      partition count) is asserted in StateReaderSpec. ------------
    "t29_state_store_reader" -> Q(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      EventStream.stateStoreSnapshot(s, dir)._1
    },

    // ---- T25 (streaming, CHAINED stateful operators): a 15-minute
    //      windowed count feeding an hourly window-of-windows rollup in
    //      ONE streaming query (window_time() keys the second level;
    //      one watermark drives both state stores) — no drain between
    //      the levels. Tail windows depend on append-mode finalization
    //      of both levels, so BOTH sides keep only hourly windows
    //      ending >= 2h before max ts — inside the cut every fine
    //      window emitted and every hourly window finalized, so
    //      emission strictness at the boundary cannot differ. ---------
    "t25_stream_chained_windows" -> Q(
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        |mx AS (SELECT max(us) AS m FROM e),
        |q AS (SELECT (us // 900000000) * 900000000 AS q_start, event_type,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2),
        |h AS (SELECT (q_start // 3600000000) * 3600000000 AS h_start, event_type,
        |             CAST(sum(n) AS BIGINT) AS n_events,
        |             CAST(count(*) AS BIGINT) AS n_quarters
        |      FROM q GROUP BY 1, 2)
        |SELECT h_start, event_type, n_events, n_quarters
        |FROM h, mx WHERE h_start + 3600000000 <= mx.m - 7200000000""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val rolled = EventStream.chainedWindowCounts(
        EventStream.readEvents(ss, dir))
      val drained = EventStream.runToMemory(rolled,
        s"t25_chained_${streamSeq.incrementAndGet()}", mode = "append")
      val mxUs = t(s, dir, "events")
        .agg(max(unix_micros(col("ts")))).first().getLong(0)
      drained
        .select(unix_micros(col("window.start")).as("h_start"),
          col("event_type"), col("n_events"),
          col("n_quarters").cast("long").as("n_quarters"))
        .filter(col("h_start") + 3600000000L <= mxUs - 7200000000L)
    },

    // ---- T27 (streaming observability): observe() metrics on a STREAM -
    //      the s22 single-pass-metrics discipline where the pass is a
    //      streaming ingest: per-micro-batch observed rows are folded by
    //      the consumer (no terminal Observation.get exists on an
    //      unbounded query). All metrics are exact integer sums, so the
    //      fold is associative and equals the batch replay regardless of
    //      how the source slices batches; the corpus is staged as 4
    //      files read one-per-trigger so the fold provably crosses
    //      batches (the helper REQUIRES >= 2). ------------------------
    "t27_stream_observed_metrics" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_clicks,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(4 AS BIGINT) AS n_batches
        |FROM events WHERE event_type <> 'error'""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (nRows, nClicks, cents, nBatches) =
        EventStream.observedIngestMetrics(s, dir, nFiles = 4)
      Seq((nRows, nClicks, cents, nBatches))
        .toDF("n_rows", "n_clicks", "cents", "n_batches")
    },

    // ---- M8: vision token budgeting — the ViT preprocessing arithmetic
    //      a multimodal training manifest needs: each image contributes
    //      ceil(w/P)·ceil(h/P) patch tokens (P = 14), and images lay out
    //      into fixed-token-budget batches per source shard with the
    //      x11 running-total discipline (batch = (cum − n) div budget:
    //      one window per shard, never a global single-partition sort).
    //      Dimensions are m6's closed forms, so the whole layout is
    //      engine-replayable. -------------------------------------------
    "m8_patch_token_budget" -> Q(
      """WITH d AS (SELECT doc_id, source,
        |            CAST(ceil((16 + doc_id % 64) / 14.0) *
        |                 ceil((16 + doc_id % 48) / 14.0) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |       sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM d)
        |SELECT doc_id, source, n_tokens,
        |       CAST((cum - n_tokens) // 64 AS BIGINT) AS batch_id
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir).select(col("doc_id"), col("source"),
        (ceil((lit(16) + col("doc_id") % 64) / 14.0) *
          ceil((lit(16) + col("doc_id") % 48) / 14.0)).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("(cum - n_tokens) div 64").as("batch_id"))
    },

    // ---- T12 (stateful streaming): near-dup detection ON INGEST --------
    //      MinHash-LSH as a stream: per-row signatures + banding run
    //      stateless on arriving documents; each (band, hash) bucket
    //      keeps only doc IDS in keyed state and emits candidate pairs
    //      as the second document arrives; exact-Jaccard verify runs
    //      downstream against the static corpus (state never holds
    //      text). Same banding + same verify as d3 ⇒ the same exact
    //      oracle. ------------------------------------------------------
    "t12_stream_ingest_dedup" -> Q(exactJaccardIdPairsSql) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val cands = IngestDedup.candidatePairs(
        EventStream.readDocuments(ss, dir), n = 3, numHashes = 64, bands = 32)
      val drained = EventStream.runToMemory(cands.toDF("id1", "id2"),
          s"t12_stream_${streamSeq.incrementAndGet()}", mode = "append")
        .distinct()
      Dedup.verifyJaccardPairs(docs(s, dir), drained, n = 3, threshold = 0.6)
        .select("id1", "id2")
    },

    // ---- T38: streaming ingest against the PERSISTED LSH index — the
    //      production corpus-intake loop t12 and d18 each hold half of.
    //      The delta arrives in three mtime-ordered micro-batches; each
    //      batch probes the standing index (base corpus + every earlier
    //      batch's SURVIVORS), publishes its near-dup pairs, and appends
    //      only its survivors — so a batch-1 doc duplicating a batch-0
    //      survivor IS caught, and one duplicating a batch-0 near-dup is
    //      NOT (the dup never entered the index). Every side effect is
    //      batch-keyed + overwrite ⇒ replay-idempotent (the exactly-once
    //      restart case lives in IndexedIngestDedupSpec). The oracle
    //      replays the batch semantics exactly: exact cross-pair Jaccard,
    //      unrolled per batch, survivor sets chaining through. ----------
    "t38_stream_indexed_dedup" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |      FROM sh a JOIN sh b ON a.s = b.s
        |      WHERE a.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT id1, id2, c * 1.0 / (n1.n + n2.n - c) AS jac
        |      FROM p JOIN n n1 ON n1.doc_id = id1 JOIN n n2 ON n2.doc_id = id2
        |      WHERE c * 1.0 / (n1.n + n2.n - c) >= 0.6),
        |p0 AS (SELECT id1, id2, jac FROM j
        |       WHERE (id1 // 10) % 3 = 0 AND id2 % 10 <> 0),
        |s0 AS (SELECT doc_id FROM documents
        |       WHERE doc_id % 10 = 0 AND (doc_id // 10) % 3 = 0
        |         AND doc_id NOT IN (SELECT id1 FROM p0)),
        |p1 AS (SELECT id1, id2, jac FROM j
        |       WHERE (id1 // 10) % 3 = 1
        |         AND (id2 % 10 <> 0 OR id2 IN (SELECT doc_id FROM s0))),
        |s1 AS (SELECT doc_id FROM documents
        |       WHERE doc_id % 10 = 0 AND (doc_id // 10) % 3 = 1
        |         AND doc_id NOT IN (SELECT id1 FROM p1)),
        |p2 AS (SELECT id1, id2, jac FROM j
        |       WHERE (id1 // 10) % 3 = 2
        |         AND (id2 % 10 <> 0 OR id2 IN (SELECT doc_id FROM s0)
        |              OR id2 IN (SELECT doc_id FROM s1)))
        |SELECT id1, id2, CAST(round(jac * 1000000.0) AS BIGINT) AS j_micro
        |FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1
        |      UNION ALL SELECT * FROM p2)""".stripMargin) { (s, dir) =>
      val all = docs(s, dir).select("doc_id", "text")
      IndexedIngestDedup.runStaged(s,
          corpus = all.where(col("doc_id") % 10 =!= 0),
          delta = all.where(col("doc_id") % 10 === 0),
          batchOf = expr("(doc_id div 10) % 3"), nBatches = 3,
          threshold = 0.6)
        .select(col("id1"), col("id2"),
          round(col("jaccard") * 1e6).cast("long").as("j_micro"))
    },

    // ---- T14: NATIVE streaming dedup — dropDuplicatesWithinWatermark
    //      (t12 is the custom-state near-dup path; this is the built-in
    //      exact-key dedup with watermark-bounded state). The stream is
    //      unioned with itself so every event arrives twice; per-type
    //      counts after dedup equal distinct-id counts iff the state
    //      actually deduplicates. ---------------------------------------
    "t14_stream_native_dedup" -> Q(
      """SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val ev = EventStream.readEvents(ss, dir)
      val deduped = ev.unionByName(ev)
        .withWatermark("ts", "35 days")
        .dropDuplicatesWithinWatermark("event_id")
      EventStream.runToMemory(deduped.select("event_id", "event_type"),
          s"t14_dedup_${streamSeq.incrementAndGet()}", mode = "append")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    },

    // ---- T15: STREAMING heavy hitters — the a19 Misra–Gries sketch
    //      maintained in streaming state: the typed Aggregator runs
    //      inside a streaming global aggregation (its buffer lives in
    //      the state store across micro-batches — the mergeable-
    //      summaries guarantee is exactly what makes that sound), then
    //      the exact confirm pass runs batch-side against the static
    //      table. Same oracle as a19: stream + confirm must land on the
    //      identical published counts. -----------------------------------
    "t15_stream_heavy_hitters" -> Q(HeavyHitters.oracleSql) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val sketch = EventStream.runToMemory(
        EventStream.readEvents(ss, dir)
          .select(HeavyHitters.itemCol.as("item"))
          .agg(HeavyHitters.mgSketch(col("item")).as("cands"),
            count(lit(1)).as("n_total")),
        s"t15_hh_${streamSeq.incrementAndGet()}", mode = "complete")
      HeavyHitters.confirm(
        t(ss, dir, "events").select(HeavyHitters.itemCol.as("item")), sketch)
    },

    // ---- T16 (stateful streaming, EVENT-TIME TIMEOUTS): sessions close
    //      either via a later event past the gap (emitted from the data
    //      path) or via the watermark passing end + gap (emitted from
    //      the timeout path, state evicted) — the state-lifecycle
    //      mechanism t5/t7/t11 don't exercise. Sessions still open at
    //      the final watermark never emit, and the oracle replays that
    //      boundary EXACTLY: Spark's watermark clock is floored
    //      milliseconds and timeouts fire on STRICT <, so the SQL uses
    //      (end_us // 1000) + gap_ms < (max_us // 1000) - delay_ms. ------
    "t16_stream_session_timeout" -> Q(
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT user_id, us,
        |       CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |                 > 14400000000 THEN 1 ELSE 0 END AS brk
        |      FROM ev),
        |s AS (SELECT user_id, us,
        |       sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                      ROWS UNBOUNDED PRECEDING) AS sid FROM b),
        |g AS (SELECT user_id, sid,
        |       CAST(min(us) AS BIGINT) AS session_start_us,
        |       CAST(max(us) AS BIGINT) AS session_end_us,
        |       CAST(count(*) AS BIGINT) AS n_events
        |      FROM s GROUP BY 1, 2),
        |wm AS (SELECT (max(us) // 1000) - 3600000 AS w FROM ev),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1)
        |SELECT g.user_id, session_start_us, session_end_us, n_events
        |FROM g JOIN mx ON mx.user_id = g.user_id, wm
        |WHERE g.sid < mx.last_sid
        |   OR (session_end_us // 1000) + 14400000 < wm.w""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val out = EventStream.sessionizeWithTimeout(
        EventStream.readEvents(ss, dir), gapMinutes = 240)
      EventStream.runToMemory(out.toDF(),
        s"t16_sess_${streamSeq.incrementAndGet()}", mode = "append")
    },

    // ---- T17 (stateful streaming): LEFT OUTER stream-stream join ------
    //      the null-emission-on-watermark mechanism t6's inner join never
    //      exercises: an unmatched click emits its single null-purchase
    //      row only when the watermark proves no purchase can still
    //      arrive (append mode cannot retract a premature null); clicks
    //      whose expiry the final watermark hasn't passed never emit.
    //      The oracle replays the eviction boundary in the same floored-
    //      millisecond integer arithmetic as t16, with one join-specific
    //      twist (calibrated against the engine at sf0.01): each side's
    //      watermark node sees its own FILTERED stream, so the query
    //      watermark is min(max click ts, max purchase ts) − delay, and a
    //      click expires at (c_us // 1000) + window_ms < that, strict.
    "t17_stream_outer_join" -> Q(
      """WITH c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, event_id AS p_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT c.user_id, c.c_id, p.p_id FROM c JOIN p
        |      ON c.user_id = p.p_user
        |     AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 600000000),
        |wm AS (SELECT CASE WHEN mc IS NULL OR mp IS NULL THEN NULL
        |               ELSE least(mc, mp) // 1000 - 3600000 END AS w
        |       FROM (SELECT (SELECT max(c_us) FROM c) AS mc,
        |                    (SELECT max(p_us) FROM p) AS mp)),
        |x AS (SELECT c.user_id, c.c_id FROM c, wm
        |      WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.c_id = c.c_id)
        |        AND (c.c_us // 1000) + 600000 < wm.w),
        |u AS (SELECT user_id, CAST(1 AS BIGINT) AS pair, CAST(0 AS BIGINT) AS expired FROM m
        |      UNION ALL
        |      SELECT user_id, 0, 1 FROM x)
        |SELECT user_id, CAST(sum(pair) AS BIGINT) AS n_pairs,
        |       CAST(sum(expired) AS BIGINT) AS n_expired
        |FROM u GROUP BY 1""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val joined = EventStream.clickPurchaseLeftJoin(
        EventStream.readEvents(ss, dir), 10)
      val drained = EventStream.runToMemory(joined,
        s"t17_outer_${streamSeq.incrementAndGet()}", mode = "append")
      drained.groupBy("user_id")
        .agg(count(col("p_id")).as("n_pairs"),
          count(when(col("p_id").isNull, 1)).as("n_expired"))
    },

    // ---- T19 (streaming): stream-static SCD2 temporal join ------------
    //      an event stream resolving a slowly-changing dimension AS OF
    //      each event's time — the range-predicate upgrade of t10's
    //      equi stream-static join, and the streaming form of j15's
    //      batch temporal dim join. Stream-static joins are STATELESS
    //      (each micro-batch row probes the static side; no watermark,
    //      no state store), so the dim broadcast is the entire cost —
    //      exactly how a 100 TB ingest resolves reference data. The dim
    //      is deterministic from the data: every user changes tier at a
    //      fixed cutover inside the event range, so both validity
    //      windows get real traffic.
    "t19_stream_scd2_join" -> Q(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |dim AS (SELECT user_id, 'T' || CAST(user_id % 3 AS VARCHAR) AS tier,
        |         TIMESTAMP '2023-01-01' AS vf, TIMESTAMP '2024-01-15' AS vt FROM u
        |        UNION ALL
        |        SELECT user_id, 'U' || CAST(user_id % 2 AS VARCHAR),
        |         TIMESTAMP '2024-01-15', TIMESTAMP '2025-01-01' FROM u)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        | AND e.ts >= d.vf AND e.ts < d.vt
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val users = t(s, dir, "events").select("user_id").distinct()
      def side(tag: String, mod: Int, from: String, to: String) =
        users.select(col("user_id"),
          concat(lit(tag), (col("user_id") % mod).cast("string")).as("tier"),
          lit(from).cast("timestamp").as("vf"), lit(to).cast("timestamp").as("vt"))
      val dim = side("T", 3, "2023-01-01", "2024-01-15")
        .unionByName(side("U", 2, "2024-01-15", "2025-01-01"))
      val ev = EventStream.readEvents(s, dir)
      // the SAME op as j15's batch temporal join (one boundary-semantics
      // definition for both entries), on a streaming fact side
      val joined = graft.ops.TemporalJoin.pointInTime(
          ev, "user_id", "ts", broadcast(dim), "user_id", "vf", "vt")
        .select(col("user_id"), col("tier"))
      val drained = EventStream.runToMemory(joined,
        s"t19_scd2_${streamSeq.incrementAndGet()}", mode = "append")
      drained.groupBy("tier")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },

    // ---- T20 (stateful streaming): FULL OUTER stream-stream join ------
    //      both null-emission directions of t17: unmatched CLICKS expire
    //      when their match window closes under the watermark
    //      ((c // 1000) + window_ms < wm, the t17 boundary); unmatched
    //      PURCHASES expire when their own event time passes it — a
    //      future click above the watermark can only open windows for
    //      purchases above it too ((p // 1000) < wm, strict, calibrated
    //      at sf0.01). wm is the min over the two FILTERED sides' maxima
    //      minus the delay (the t17 lesson). The user grouping keys on
    //      whichever side is present (full-outer rows carry exactly one
    //      id when unmatched).
    "t20_stream_full_outer_join" -> Q(
      """WITH c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, event_id AS p_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT c.user_id, c.c_id, p.p_id FROM c JOIN p
        |      ON c.user_id = p.p_user
        |     AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 600000000),
        |wm AS (SELECT CASE WHEN mc IS NULL OR mp IS NULL THEN NULL
        |               ELSE least(mc, mp) // 1000 - 3600000 END AS w
        |       FROM (SELECT (SELECT max(c_us) FROM c) AS mc,
        |                    (SELECT max(p_us) FROM p) AS mp)),
        |xc AS (SELECT c.user_id, c.c_id FROM c, wm
        |       WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.c_id = c.c_id)
        |         AND (c.c_us // 1000) + 600000 < wm.w),
        |xp AS (SELECT p.p_user AS user_id, p.p_id FROM p, wm
        |       WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.p_id)
        |         AND (p.p_us // 1000) < wm.w),
        |u AS (SELECT user_id, CAST(1 AS BIGINT) AS pair,
        |             CAST(0 AS BIGINT) AS ec, CAST(0 AS BIGINT) AS ep FROM m
        |      UNION ALL SELECT user_id, 0, 1, 0 FROM xc
        |      UNION ALL SELECT user_id, 0, 0, 1 FROM xp)
        |SELECT user_id, CAST(sum(pair) AS BIGINT) AS n_pairs,
        |       CAST(sum(ec) AS BIGINT) AS n_expired_clicks,
        |       CAST(sum(ep) AS BIGINT) AS n_expired_purchases
        |FROM u GROUP BY 1""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val joined = EventStream.clickPurchaseFullJoin(
        EventStream.readEvents(ss, dir), 10)
      val drained = EventStream.runToMemory(joined,
        s"t20_full_${streamSeq.incrementAndGet()}", mode = "append")
      drained
        .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
          col("c_id"), col("p_id"))
        .groupBy("user_id")
        .agg(count(when(col("c_id").isNotNull && col("p_id").isNotNull, 1))
            .as("n_pairs"),
          count(when(col("p_id").isNull, 1)).as("n_expired_clicks"),
          count(when(col("c_id").isNull, 1)).as("n_expired_purchases"))
    },

    // ---- T21 (stateful streaming, Spark 4 transformWithState): --------
    //      the successor API to flatMapGroupsWithState with COMPOSABLE
    //      state — multiple named state variables per key (ValueState
    //      running aggregate + MapState per-type counter), explicit
    //      event-time timers, TTL, RocksDB-only. Per-user milestone
    //      rows emit from the data path (every 25th event: running
    //      count/cents/distinct-types); a per-user event-time timer at
    //      lastSeen + 4h emits one `final` row and clears both state
    //      vars — users the final watermark never REACHES emit no final.
    //      Timer firing is NON-strict (`timer <= watermark`, measured by
    //      TwsBoundarySpec with ±1 ms crafted events — NOT the strict <
    //      of flatMapGroupsWithState timeouts, t16); the oracle replays
    //      that boundary in floored-ms integer arithmetic. One-final-
    //      per-user alignment REQUIRES readEvents' single-file source
    //      (one batch): under multi-batch delivery a mid-stream quiet
    //      gap splits a user into per-session finals (pinned by
    //      TwsBoundarySpec's multi-batch test).
    "t21_transform_with_state" -> Q(
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |m AS (SELECT user_id, us, event_id, c,
        |       CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |                                    ORDER BY us, event_id) = 1
        |            THEN 1 ELSE 0 END AS isnew
        |      FROM ev),
        |o AS (SELECT user_id, us, c,
        |       row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
        |       sum(c) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum,
        |       sum(isnew) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS nty
        |      FROM m),
        |wm AS (SELECT (max(us) // 1000) - 3600000 AS w FROM ev),
        |fin AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(c) AS BIGINT) AS cents,
        |               CAST(count(DISTINCT event_type) AS BIGINT) AS nty,
        |               max(us) AS last_us
        |        FROM ev GROUP BY 1)
        |SELECT user_id, 'milestone' AS kind, CAST(rn AS BIGINT) AS n,
        |       CAST(cum AS BIGINT) AS cents, CAST(nty AS BIGINT) AS n_types
        |FROM o WHERE rn % 25 = 0
        |UNION ALL
        |SELECT f.user_id, 'final', f.n, f.cents, f.nty
        |FROM fin f, wm WHERE (f.last_us // 1000) + 14400000 <= wm.w""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val out = TransformWithStateOps.milestoneSummary(
        EventStream.readEvents(ss, dir), gapMinutes = 240, milestoneEvery = 25)
      EventStream.runToMemory(out.toDF(),
        s"t21_tws_${streamSeq.incrementAndGet()}", mode = "append")
    },

    // ---- T22 (stateful streaming, transformWithState ListState): ------
    //      CONSECUTIVE-triple pattern matching on the stream — the
    //      per-key sliding type buffer lives in ListState (the state
    //      type t21 doesn't touch), and a match row emits the moment the
    //      closing purchase arrives. Stricter than w12's subsequence
    //      funnel: view→click→purchase with NOTHING between. No timers,
    //      no watermark — state is O(pattern) per key, eviction-free by
    //      construction; the oracle is two lag() windows. ---------------
    "t22_stream_liststate" -> Q(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
        |o AS (SELECT user_id, event_type, us, event_id,
        |       lag(event_type, 2) OVER w AS t2, lag(event_type, 1) OVER w AS t1
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, event_id AS purchase_id
        |FROM o WHERE t2 = 'view' AND t1 = 'click'
        |  AND event_type = 'purchase'""".stripMargin) { (s, dir) =>
      val ss = EventStream.statefulSession(s)
      val out = TransformWithStateOps.consecutiveMatches(
        EventStream.readEvents(ss, dir), List("view", "click", "purchase"))
      EventStream.runToMemory(out.toDF(),
        s"t22_tws_${streamSeq.incrementAndGet()}", mode = "append")
    },

    // ---- T23 (stateful streaming, transformWithState INITIAL STATE): --
    //      the API's fourth surface (StatefulProcessorWithInitialState):
    //      t22's pattern buffer is SEEDED from batch history (events
    //      before Jan 16) and the stream carries only the rest — a
    //      view→click in the warehouse completed by a live purchase
    //      matches from the very first micro-batch, which is only
    //      possible if handleInitialState installed the per-user
    //      trailing-types buffer. Oracle: the same two-lag window over
    //      ALL events, keeping matches whose closing purchase is on the
    //      stream side of the cutoff. -----------------------------------
    "t23_stream_initial_state" -> Q(
      """WITH e AS (SELECT user_id, event_type, ts, epoch_us(ts) AS us, event_id
        |           FROM events),
        |o AS (SELECT user_id, event_type, ts, us, event_id,
        |       lag(event_type, 2) OVER w AS t2, lag(event_type, 1) OVER w AS t1
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, event_id AS purchase_id
        |FROM o WHERE t2 = 'view' AND t1 = 'click' AND event_type = 'purchase'
        |  AND ts >= TIMESTAMP '2024-01-16 00:00:00'""".stripMargin) { (s, dir) =>
      val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
      val ss = EventStream.statefulSession(s)
      val history = t(ss, dir, "events").filter(col("ts") < cutoff)
      val stream = EventStream.readEvents(ss, dir).filter(col("ts") >= cutoff)
      val out = TransformWithStateOps.consecutiveMatchesWithHistory(
        stream, history, List("view", "click", "purchase"))
      EventStream.runToMemory(out.toDF(),
        s"t23_tws_${streamSeq.incrementAndGet()}", mode = "append")
    },

    // ---- T24 (stateful streaming, transformWithState TTL): ------------
    //      the API's state-expiry surface — BOTH state variables (a
    //      ValueState running counter + a MapState distinct-type map)
    //      carry a real TTLConfig instead of TTLConfig.NONE, the bounded-
    //      state mechanism that keeps an abandoned key from holding
    //      RocksDB space forever. TTL forces TimeMode.ProcessingTime, so
    //      expiry is wall-clock: the entry runs with a 1-hour TTL over
    //      the single-file source (one batch, nothing can expire →
    //      deterministic whole-corpus totals per user), and the actual
    //      expire-and-restart behavior is pinned by TwsTtlSpec's
    //      sleep-past-TTL MemoryStream test — the t13 split: production
    //      path under the oracle, timing-dependent semantics in a spec.
    "t24_ttl_counter" -> Q(
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ss = EventStream.ttlSession(s)
      val out = TransformWithStateOps.ttlCounter(
        EventStream.readEvents(ss, dir), java.time.Duration.ofHours(1))
      EventStream.runToMemory(out.toDF(),
        s"t24_tws_${streamSeq.incrementAndGet()}", mode = "append")
    },

    // ---- T5 (stateful streaming): gap sessionization -------------------
    "t5_sessionize" -> Q(
      """WITH e AS (SELECT user_id, ts,
        |            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |           FROM events),
        |m AS (SELECT user_id, ts,
        |       CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |            THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, ts,
        |       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |c AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, max(n) AS longest_session
        |FROM c GROUP BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val events = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStream.Event]
      EventStream.sessionize(events, gapMinutes = 30).toDF()
    }
  )
}
