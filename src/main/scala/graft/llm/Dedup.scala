package graft.llm

import graft.functions.{BloomContains, CharGrams, Fold31, MinHashSig, WordShingles,
  WordShinglesAll}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{unwrap, wrap}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType,
  StructField, StructType}

/** Document deduplication for large-scale training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design notes (100 TB):
  * - Exact dedup is a hash-groupBy: one shuffle on a 64-bit content hash,
  *   never on the text itself.
  * - All-pairs Jaccard is quadratic and exists only as the verifier /
  *   small-scale oracle; the scale path is MinHash-LSH, where cost is
  *   bounded by (docs × bands) and bucket collision counts.
  * - Hash families are explicit (xxhash64, and the i-th MinHash rehash
  *   xxhash64(h, i)), so results are deterministic across runs,
  *   partitionings and engines — no RNG state.
  */
object Dedup {

  /** Exact duplicates by full text content. Returns one row per distinct
    * text: the surviving (minimum) id, the group size, and member ids.
    *
    * Two-phase, shuffle-light: phase 1 groups on TWO independent 64-bit
    * content hashes, so the wide shuffle carries 16 bytes + id per doc,
    * never the text. Phase 2 re-groups ONLY the multi-doc buckets by the
    * text itself — exact semantics even under (astronomically rare)
    * 128-bit collisions, and the text-bearing shuffle is bounded by the
    * duplicate fraction, not the corpus.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col(idCol), col(textCol),
      xxhash64(col(textCol)).as("_h1"),
      xxhash64(col(textCol), lit(1)).as("_h2"))
    val groups = hashed.select(col(idCol), col("_h1"), col("_h2"))
      .groupBy("_h1", "_h2")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"),
        sort_array(collect_list(col(idCol))).as("ids"))
    val singles = groups.filter(col("n_dups") === 1)
      .select("keep_id", "n_dups", "ids")
    val dupKeys = groups.filter(col("n_dups") > 1).select("_h1", "_h2")
    val verified = hashed.join(dupKeys, Seq("_h1", "_h2"), "left_semi")
      .groupBy(col("_h1"), col("_h2"), col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"),
        sort_array(collect_list(col(idCol))).as("ids"))
      .select("keep_id", "n_dups", "ids")
    singles.unionByName(verified)
  }

  /** (doc_id, distinct-shingle ARRAY): the per-document shingle set as one
    * scalar column. `array_distinct` dedupes map-side — a global
    * `(id, shingle)` DISTINCT would shuffle the whole shingled corpus to
    * reach the same set (shingles never cross documents), which was the
    * dominant cost of the exact Jaccard at bench scale.
    */
  def shingleSets(docs: DataFrame, n: Int, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    // One-pass native kernel (the higher-order form pays a lambda
    // dispatch + slice + array_join allocation PER WINDOW — measured as
    // the dominant task time of the whole dedup family at sf0.1);
    // equality with that form is property-tested in WordShinglesSpec.
    val shingleExpr = wrap(WordShingles(unwrap(col(textCol)), unwrap(lit(n))))
    docs.where(size(words) >= n)
      .select(col(idCol), shingleExpr.as("shingle_set"))
  }

  /** (doc_id, shingle) pairs: distinct word n-grams per document,
    * expressed with native array functions (no UDF in the scan path).
    * Documents with fewer than n words produce NO shingles (only full
    * windows count) — same outcome as the DuckDB oracle, whose
    * out-of-range concatenation yields a NULL shingle that never joins.
    * No shuffle: per-document dedup IS global (id, shingle) dedup.
    */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    shingleSets(docs, n, idCol, textCol)
      .select(col(idCol), explode(col("shingle_set")).as("shingle"))

  /** All-pairs n-gram Jaccard over an equi-join on shared shingles.
    * Exact but quadratic in bucket size — the verifier for LSH and the
    * small-scale oracle path. Jaccard is computed from integer counts, so
    * it is bit-deterministic.
    */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    pairOverlaps(docs, n, idCol, textCol)
      .withColumn("jaccard",
        col("_common") / (col("_n1") + col("_n2") - col("_common")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")

  /** Containment (asymmetric) near-dup pairs: c = |A∩B| / min(|A|,|B|) —
    * the measure that catches SUBSET duplicates Jaccard structurally
    * misses (a snippet quoted inside a much longer page has tiny Jaccard
    * but containment ≈ 1). Same inverted-index pair generation as
    * [[jaccardPairs]]; only the normalization differs.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    pairOverlaps(docs, n, idCol, textCol)
      .withColumn("containment",
        col("_common") / least(col("_n1"), col("_n2")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment")

  /** WEIGHTED (multiset) Jaccard near-dup pairs (d15):
    * Σ min(aᵢ,bᵢ) / Σ max(aᵢ,bᵢ) over n-gram OCCURRENCE COUNTS — the
    * measure that separates "same phrases, same proportions" from "same
    * phrase set, wildly different repetition" (a page that repeats one
    * boilerplate block 50× shares [[jaccardPairs]]'s full shingle SET
    * with its 1× original, set-Jaccard 1.0, while its weighted Jaccard
    * collapses). Σmax is never materialized: Σmax = |A| + |B| − Σmin
    * (multiset identity), so the pair pass only sums minima over shared
    * shingles. All-integer output — (inter, uni) plus the threshold as
    * `2·inter ≥ uni` (J ≥ ½) — so the oracle hash-checks with no float.
    *
    * Scale shape: the SAME inverted-index + chunk-guarded
    * [[postingPairs]] machinery as the set form, carried unchanged by
    * packing (id, cnt) into one BIGINT (id·2²⁰ + cnt): a packed posting
    * list sorts identically to its id list (counts occupy the low bits
    * and each id appears once per list), so hot-shingle chunking,
    * ordering, and pair conventions all transfer. Exactness needs
    * per-(doc, shingle) counts < 2²⁰ — counts are bounded by document
    * word length, so this holds for anything short of a million-word
    * single document (the clamp keeps packing order sane even then).
    */
  def weightedJaccardPairs(docs: DataFrame, n: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    // native window kernel (non-distinct variant of the graft_shingles
    // byte-slice kernel; WordShinglesSpec pins equality)
    val gramsExpr = wrap(WordShinglesAll(unwrap(col(textCol)), unwrap(lit(n))))
    val grams = docs.where(size(words) >= n)
      .select(col(idCol), explode(gramsExpr).as("shingle"))
    // reused by totals AND postings — cut once
    val cnts = grams.groupBy(col(idCol), col("shingle"))
      .agg(count(lit(1)).as("_cnt"))
      .localCheckpoint(false)
    val totals = cnts.groupBy(idCol).agg(sum(col("_cnt")).as("_tot"))
    val packed = cnts.select(col("shingle"),
      (col(idCol) * 1048576L + least(col("_cnt"), lit(1048575L))).as("_pid"))
    val postings = packed.groupBy("shingle")
      .agg(sort_array(collect_list(col("_pid"))).as("_ids"))
      .filter(size(col("_ids")) > 1)
      .localCheckpoint(false)
    postingPairs(postings)
      .select(expr("id1 div 1048576").as("_i1"), (col("id1") % 1048576L).as("_c1"),
        expr("id2 div 1048576").as("_i2"), (col("id2") % 1048576L).as("_c2"))
      .groupBy(col("_i1").as("id1"), col("_i2").as("id2"))
      .agg(sum(least(col("_c1"), col("_c2"))).as("inter"))
      .join(totals.select(col(idCol).as("id1"), col("_tot").as("_t1")), "id1")
      .join(totals.select(col(idCol).as("id2"), col("_tot").as("_t2")), "id2")
      .select(col("id1"), col("id2"), col("inter"),
        (col("_t1") + col("_t2") - col("inter")).as("uni"))
      .filter(col("inter") * 2 >= col("uni"))
  }

  /** Posting lists longer than this expand through the chunked, shuffled
    * path in [[postingPairs]]: per-task pair expansion is capped at
    * HotListChunk² regardless of how hot a shingle is, so one boilerplate
    * shingle shared by a large slice of the corpus cannot pin a straggler
    * task. 512 → ≤ 512² = ~262k cross-block pairs per block-pair row
    * (~131k for the diagonal within-block rows).
    */
  private[graft] val HotListChunk = 512

  /** All ordered (id1 < id2) pairs from per-shingle posting lists
    * (`_ids`, each sorted). Small lists (≤ maxChunk) expand in place —
    * singleton shingles cost nothing, short lists stay in one codegen
    * stage. Lists LONGER than maxChunk are cut into `maxChunk`-wide
    * blocks, the (block_i, block_j ≥ i) block pairs are exploded into
    * bounded rows (≤ 2·maxChunk ids each) and round-robin SHUFFLED across
    * the cluster, and the pair expansion runs post-shuffle: total work for
    * a hot list is unchanged (the pairs exist), but it is spread over
    * (L/maxChunk)²/2 tasks instead of one. Exactness: every (shingle,
    * pair) is emitted exactly once — within-block pairs from the diagonal
    * blocks, cross pairs from i < j blocks, and block order preserves the
    * sorted-id pair convention (id1 earlier in sort order).
    */
  private[graft] def postingPairs(postings: DataFrame,
                                  maxChunk: Int = HotListChunk): DataFrame = {
    val ids = col("_ids")
    val pairArr = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y =>
        struct(x.as("id1"), y.as("id2")))))
    val small = postings.filter(size(ids) <= maxChunk)
      .select(explode(pairArr).as("_p"))
      .select(col("_p.id1"), col("_p.id2"))
    val nChunks = ceil(size(ids) / lit(maxChunk.toDouble)).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      c => slice(ids, c * maxChunk + 1, lit(maxChunk)))
    val blockPairs = flatten(transform(chunks, (a, i) =>
      transform(slice(chunks, i + 1, size(chunks)), (b, o) =>
        struct(a.as("_a"), b.as("_b"), (o === 0).as("_same")))))
    val shufflePar = postings.sparkSession.sessionState.conf.numShufflePartitions
    val withinA = flatten(transform(col("_a"), (x, i) =>
      transform(slice(col("_a"), i + 2, size(col("_a"))), y =>
        struct(x.as("id1"), y.as("id2")))))
    val crossAB = flatten(transform(col("_a"), x =>
      transform(col("_b"), y => struct(x.as("id1"), y.as("id2")))))
    val big = postings.filter(size(ids) > maxChunk)
      .select(explode(blockPairs).as("_bp"))
      .select(col("_bp._a").as("_a"), col("_bp._b").as("_b"),
        col("_bp._same").as("_same"))
      .repartition(shufflePar) // round-robin: block pairs spread over tasks
      .select(explode(when(col("_same"), withinA).otherwise(crossAB)).as("_p"))
      .select(col("_p.id1"), col("_p.id2"))
    small.unionByName(big)
  }

  /** Shared exact-overlap skeleton: (id1 < id2, |A∩B|, |A|, |B|) for every
    * document pair sharing at least one shingle.
    *
    * The per-doc set size |A| travels INSIDE the posting lists as a struct
    * field next to the id instead of being joined on afterwards. The join
    * form cost (r12 measurement): the shingling kernel ran a second and
    * third time to rebuild the tiny (id, n) table for each join side, and —
    * the 100 TB shape — the PAIR table was re-shuffled twice (once per
    * counts equi-join) right after its own aggregation shuffle. Carrying
    * the 8-byte size with the id makes the pair aggregation the only
    * pair-table shuffle and the shingling a single pass; posting elements
    * grow 8→16 bytes, which the singleton-shingle filter keeps cheap.
    * Ordering is unchanged: _n is a function of _id, so struct sort order
    * == id sort order and the (id1 < id2) pair convention is preserved.
    */
  private def pairOverlaps(docs: DataFrame, n: Int,
                           idCol: String, textCol: String): DataFrame = {
    val sets = shingleSets(docs, n, idCol, textCol)
    val sh = sets.select(col(idCol),
      size(col("shingle_set")).cast("long").as("_n"),
      explode(col("shingle_set")).as("shingle"))
    // Inverted-index pair generation: group (id, n) per shingle and expand
    // the ordered pairs from each posting list. One aggregation instead of
    // a shingle self-join — singleton shingles (the vast majority on web
    // corpora) produce no pairs at zero cost, and hot posting lists take
    // the chunked path in [[postingPairs]], so per-task work is bounded
    // even under join-key skew.
    // lazy localCheckpoint: postingPairs reads this frame in BOTH its
    // small-list and big-list branches — without the cut each branch
    // re-runs the collect_list aggregation (the shuffle is reused, the
    // final hash-agg building and sorting every posting list is not)
    val postings = sh.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col(idCol).as("_id"), col("_n"))))
        .as("_ids"))
      .filter(size(col("_ids")) > 1)
      .localCheckpoint(false)
    postingPairs(postings)
      .groupBy(col("id1._id").as("id1"), col("id1._n").as("_n1"),
        col("id2._id").as("id2"), col("id2._n").as("_n2"))
      .agg(count(lit(1)).as("_common"))
      .select("id1", "id2", "_common", "_n1", "_n2")
  }

  /** Benchmark decontamination: per training document, the number of
    * distinct word n-grams it shares with ANY benchmark document, plus a
    * contamination flag at `minOverlap`. Eval sets are tiny next to a
    * training corpus, so the benchmark shingle set broadcasts and the scan
    * over the corpus stays shuffle-free until the final per-doc count
    * (map-side combinable).
    */
  def contamination(docs: DataFrame, bench: DataFrame, n: Int,
                    minOverlap: Long, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val ds = shingles(docs, n, idCol, textCol)
    val bs = broadcast(
      shingles(bench, n, idCol, textCol).select("shingle").distinct())
    ds.join(bs, "shingle")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** Bloom-prefiltered decontamination — identical results to
    * [[contamination]], different scale shape. [[contamination]] broadcasts
    * the benchmark shingle STRINGS and probes them with a join; once the
    * benchmark side grows past broadcast size (dozens of eval suites), the
    * confirm join becomes a shuffle whose corpus side is EVERY shingle in
    * the training set. The fix is semi-join reduction: build a Bloom filter
    * over the benchmark shingle hashes on the driver (a few bits per
    * shingle at 1% fpp — orders of magnitude smaller than the strings),
    * probe it map-side over the corpus scan, and let only might-match
    * shingles reach the shuffle. The exact confirm join on the shingle
    * string then removes Bloom false positives (and xxhash64 collisions),
    * so the output is bit-identical to the exact operator: the shuffle
    * payload drops from |corpus shingles| to |overlap| + fpp·|corpus|.
    */
  def contaminationBloom(docs: DataFrame, bench: DataFrame, n: Int,
                         minOverlap: Long, fpp: Double = 0.01,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Eager localCheckpoint: the benchmark shingle set feeds three
    // consumers (count, bloom build, confirm join) — without it each would
    // re-shingle the benchmark corpus. Bounded by the eval-set size, and
    // unlike persist() the blocks are GC-released with the plan instead of
    // pinning cache for the session lifetime.
    val benchSh = shingles(bench, n, idCol, textCol)
      .select("shingle").distinct().localCheckpoint(true)
    // eval sets are bounded, so the count + driver-side build are cheap
    val nBench = math.max(benchSh.count(), 1L)
    val bloom = benchSh.stat.bloomFilter(xxhash64(col("shingle")), nBench, fpp)
    // Probe with the native codegen expression (no UDF node: the filter
    // ships as a binary literal — the same shape Spark uses for runtime
    // bloom pushdown — and is deserialized once per executor). It tests
    // a 64-bit hash, never the string.
    val baos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(baos)
    val probe = wrap(BloomContains(unwrap(lit(baos.toByteArray)),
      unwrap(xxhash64(col("shingle")))))
    val survivors = shingles(docs, n, idCol, textCol).where(probe)
    survivors.join(benchSh, "shingle")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** FUZZY benchmark decontamination — near-duplicate matches between the
    * training corpus and an eval benchmark, where exact shingle overlap
    * ([[contamination]]) misses paraphrased or lightly-edited leakage:
    * MinHash-LSH candidates ACROSS the two corpora, then exact-Jaccard
    * verification. The two id spaces are independent: ids are tagged with
    * their side internally (the verifier unions both sides, and an
    * untagged shared id would merge two documents' shingle sets), and
    * only (idCol, textCol) are read, so the sides' schemas may differ.
    *
    * Scale shape: the corpus side runs the same per-row signature + band
    * pipeline as [[minhashLshPairs]] (zero shuffle until the bucket
    * join); the benchmark side is bounded (eval suites), so its banded
    * hashes BROADCAST and the bucket join is map-side — the corpus never
    * shuffles on this operator at all until the tiny candidate set
    * reaches the verifier.
    *
    * Returns (id1 = corpus doc, id2 = benchmark doc, jaccard ≥
    * threshold), ids in their original type. Candidate-miss probability
    * is the d3 S-curve: (1 − τ^rows)^bands.
    */
  def fuzzyContamination(docs: DataFrame, bench: DataFrame, n: Int,
                         numHashes: Int, bands: Int, threshold: Double,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Side-tag ids so corpus id 5 and benchmark id 5 stay distinct
    // documents through the union the verifier sees; strip tags at the end.
    def tagged(df: DataFrame, tag: String): DataFrame =
      df.select(concat(lit(tag), col(idCol).cast("string")).as(idCol),
        col(textCol))
    val corpus = tagged(docs, "c")
    val benchT = tagged(bench, "b")
    val corpusBands = bandedHashes(
      minhashSignatures(corpus, n, numHashes, idCol, textCol), bands, rows, idCol)
    val benchBands = bandedHashes(
      minhashSignatures(benchT, n, numHashes, idCol, textCol), bands, rows, idCol)
      .withColumnRenamed(idCol, "_bench_id")
    val cands = corpusBands
      .join(broadcast(benchBands), Seq("band_idx", "band_hash"))
      .select(col(idCol).as("id1"), col("_bench_id").as("id2"))
      .distinct()
      .localCheckpoint(false)
    val idType = docs.schema(idCol).dataType
    verifyJaccardPairs(corpus.unionByName(benchT), cands, n, threshold,
        idCol, textCol)
      .select(expr("substring(id1, 2)").cast(idType).as("id1"),
        expr("substring(id2, 2)").cast(bench.schema(idCol).dataType).as("id2"),
        col("jaccard"))
  }

  /** Build half of the INCREMENTAL dedup index (d18): persist the
    * corpus's banded MinHash buckets as a parquet layout partitioned by
    * band, with the banding parameters alongside (the e-family index
    * discipline: an index without its build parameters is unusable).
    * This is the production posture corpus×corpus dedup (d3) can't
    * give: each ingest BATCH probes the standing index instead of
    * re-banding the whole corpus — the per-batch cost is proportional
    * to the batch, and the index append (new batch's bands) is an
    * O(delta) parquet write into the same layout.
    *
    * ID CONTRACT: `idCol` must be globally unique across the corpus AND
    * every batch ever appended via [[appendLshIndex]] — the index keeps
    * all ids in one namespace, so a batch doc_id that collides with a
    * standing id would silently merge the two documents' buckets and
    * misattribute [[incrementalDedupPairs]] output. Ingest pipelines
    * with per-batch local ids must prefix them (e.g. `batchNo * 10^12 +
    * local_id` or a string prefix) before building/appending.
    *
    * LAYOUT: buckets partition by (ingest_batch, band_idx); the initial
    * build lands under `ingest_batch=base`. The extra partition column is
    * what makes batch appends ([[appendLshIndexBatch]]) idempotent under
    * streaming checkpoint replay — a replayed batch dynamic-overwrites
    * exactly its own partitions — and lets a replaying probe exclude its
    * own crashed leftovers ([[incrementalDedupPairs]] `beforeBatch`).
    * Probe reads project past it, so batch-unaware callers see the same
    * bucket table as before.
    */
  def buildLshIndex(docs: DataFrame, path: String, n: Int, numHashes: Int,
                    bands: Int, idCol: String = "doc_id",
                    textCol: String = "text"): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Cluster rows to their target partition dirs before the write: an
    // unshuffled dynamic-partition write has EVERY scan task open a
    // parquet writer for EVERY band_idx dir it meets — tasks × bands tiny
    // files and a writer init each (133 s of task time for a 4,500-doc
    // build, almost all writer churn). The key is the dir ALONE, so each
    // dir hashes to one shuffle partition and gets one file at any
    // partition count. A (band_idx, band_hash) key would spread every
    // dir over all partitions; it looks clustered only where AQE
    // coalesces a small shuffle to a few tasks.
    bandedHashes(minhashSignatures(docs, n, numHashes, idCol, textCol),
        bands, rows, idCol)
      .withColumn("ingest_batch", lit("base"))
      .repartition(col("band_idx"))
      .write.mode("overwrite").partitionBy("ingest_batch", "band_idx")
      .parquet(s"$path/bands")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((n, numHashes, bands)).toDF("n", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").json(s"$path/meta")
  }

  /** The index meta row, read with an EXPLICIT schema: schemaless
    * spark.read.json runs a whole inference job over the file before the
    * real read — two jobs per probe/append where one suffices, and the
    * lifecycle entries read meta up to 4× per ingest batch (r13 job
    * census). The schema is fixed by [[buildLshIndex]]'s writer.
    */
  private def readLshMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String): org.apache.spark.sql.Row =
    spark.read.schema("n LONG, num_hashes LONG, bands LONG")
      .json(s"$path/meta").collect().head

  /** The bands table as [[buildLshIndex]] and [[appendLshIndexBatch]]
    * write it: the document id at the indexed corpus's id type, the band
    * hash, and the two partition columns at the types partition discovery
    * gives them (batch keys are never numeric, band indexes are small
    * ints), so a probe's `ingest_batch` filter still prunes directories.
    * Declared for the same reason as [[readLshMeta]]'s schema: a
    * schemaless read runs an inference job first.
    */
  private[llm] def lshBandsSchema(idCol: String, idType: DataType): StructType =
    StructType(Seq(StructField(idCol, idType), StructField("band_hash", LongType),
      StructField("ingest_batch", StringType), StructField("band_idx", IntegerType)))

  /** Batch-key for the i-th ingest micro-batch. Zero-padded so keys
    * order lexicographically, and chosen so `"base"` (the initial build)
    * and `"adhoc..."` ([[appendLshIndex]]) both sort BELOW every batch
    * key — a probe filtering `ingest_batch < batchKey(i)` therefore sees
    * the full standing index minus batches ≥ i (its own replay leftovers
    * and anything later).
    */
  def lshBatchKey(batchId: Long): String = f"batch$batchId%09d"

  /** The O(delta) index append, REPLAY-IDEMPOTENT: band ONLY the new
    * batch with the parameters read from the index meta and
    * dynamic-partition-OVERWRITE its own `ingest_batch=key` partitions —
    * a streaming foreachBatch that crashed after this write and replays
    * the batch rewrites the identical partitions instead of doubling the
    * buckets (the exactly-once discipline of t9/t18, applied to the LSH
    * index). Appended ids share the standing index's namespace — see the
    * ID CONTRACT on [[buildLshIndex]].
    */
  def appendLshIndexBatch(docs: DataFrame, path: String, batchKey: String,
                          idCol: String = "doc_id",
                          textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val meta = readLshMeta(spark, path)
    val n = meta.getAs[Long]("n").toInt
    val numHashes = meta.getAs[Long]("num_hashes").toInt
    val bands = meta.getAs[Long]("bands").toInt
    // dir-clustered write (see buildLshIndex)
    bandedHashes(minhashSignatures(docs, n, numHashes, idCol, textCol),
        bands, numHashes / bands, idCol)
      .withColumn("ingest_batch", lit(batchKey))
      .repartition(col("band_idx"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch", "band_idx")
      .parquet(s"$path/bands")
  }

  /** Non-keyed append for batch-side lifecycles without a replaying
    * caller: each call lands under a fresh `adhoc_*` partition (so it
    * composes with the keyed layout and still only touches the delta's
    * files — no rewrite of standing buckets). NOT idempotent across
    * retries; checkpointed ingest loops must use [[appendLshIndexBatch]]
    * with the stream's batch id.
    */
  def appendLshIndex(docs: DataFrame, path: String,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Unit =
    appendLshIndexBatch(docs, path,
      s"adhoc_${java.util.UUID.randomUUID().toString.take(12)}", idCol, textCol)

  /** Logical DELETE from a standing LSH index (d20) — the takedown /
    * right-to-erasure path a production dedup corpus needs: removing a
    * document from the corpus must also remove it from the index, or
    * future ingests keep "deduplicating" against content that no longer
    * exists. A physical in-place delete would rewrite bucket partitions
    * per retraction, so — the [[Similarity.tombstoneIds]] discipline —
    * the delete is a metadata append to `$path/tombstones` and the
    * probe subtracts it before any candidate forms. Idempotent under
    * retry (duplicates collapse in the read-side distinct); deleted ids
    * stay dead until [[compactLshIndex]] physically drops them; id
    * re-use is outside the contract (the [[buildLshIndex]] namespace).
    */
  def tombstoneLshIds(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: DataFrame, idCol: String = "doc_id"): Unit =
    TombstoneLog.append(s"$path/tombstones", ids, idCol)

  def lshTombstoneCount(spark: org.apache.spark.sql.SparkSession,
                        path: String): Long =
    TombstoneLog.count(spark, s"$path/tombstones")

  /** Physical compaction of a churned LSH index: rewrite the LIVE
    * buckets (every `ingest_batch` partition minus the tombstoned ids)
    * as a fresh `ingest_batch=base` layout, then drop the old buckets
    * and the tombstone log. Two jobs it does at once, same as the
    * e-family's retrain-as-compaction: retractions become physical, and
    * the small per-batch partition files a long append history
    * accumulates collapse back into one partition set. The swap is
    * [[Similarity.swapIn]], the persisted indexes' one publish — staged
    * write, then rename-aside metadata FS calls — so a crash mid-build
    * leaves the served index untouched, and no crash point DELETES data
    * that is not already replaced: the worst window (between the two
    * renames) leaves the complete old index under `bands_old_*` for a
    * one-rename recovery (a coordinating caller should still treat
    * compaction like any other maintenance window). Signatures are NOT
    * recomputed — the rewrite moves rows, so probe results are
    * bit-identical before/after (asserted in LlmSpec). Callers must quiesce a checkpointed ingest
    * loop over the same index first: batch keys restart meaning
    * nothing after their buckets fold into `base`.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String = "doc_id"): Unit = {
    val bands = spark.read.parquet(s"$path/bands")
    val live = TombstoneLog.subtract(bands, spark, s"$path/tombstones", idCol)
    // an all-tombstoned index would compact to a partitionBy write with
    // ZERO part files — an unreadable bands dir that breaks every later
    // probe. Deleting the whole corpus is a rebuild-from-nothing event,
    // not a compaction; refuse loudly.
    require(!live.isEmpty,
      s"refusing to compact $path to an empty index — every indexed id is " +
        "tombstoned; rebuild with buildLshIndex instead")
    val staging = s"$path/bands_staging_" +
      java.util.UUID.randomUUID().toString.take(8)
    // dir-clustered write (see buildLshIndex)
    live.drop("ingest_batch").withColumn("ingest_batch", lit("base"))
      .repartition(col("band_idx"))
      .write.mode("overwrite").partitionBy("ingest_batch", "band_idx")
      .parquet(staging)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Similarity.swapIn(fs, new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(s"$path/bands"),
      Some(new org.apache.hadoop.fs.Path(
        s"$path/bands_old_${java.util.UUID.randomUUID().toString.take(8)}")))
    // the compaction consumed the log (live rows exclude every logged
    // id); a crash before this delete re-subtracts a stale log against
    // the compacted bands — a no-op anti-join, never a lost retraction
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
  }

  /** Probe half of d18: near-dup pairs between a DELTA batch and the
    * indexed corpus — delta docs band with the parameters read from the
    * index meta (a drifted re-band would silently miss every bucket),
    * candidates come from the (band_idx, band_hash) equi-join against
    * the persisted buckets, and the exact-Jaccard verify runs on the
    * candidate set only. The corpus never re-bands and never shuffles
    * beyond the rows the candidate join touches; ids are side-tagged
    * through the verifier so delta and corpus id spaces stay distinct
    * (the d12 discipline). Returns (id1 = delta doc, id2 = corpus doc,
    * jaccard ≥ threshold); candidate-miss probability is the d3
    * S-curve.
    *
    * `beforeBatch`: when set, only index partitions with `ingest_batch <
    * beforeBatch` are probed (partition-pruned — the excluded buckets
    * are never read). A checkpointed ingest loop replaying batch i after
    * a crash passes [[lshBatchKey]](i) so the probe cannot see the
    * crashed attempt's own half-appended buckets — without it, replayed
    * documents would match THEMSELVES and batch-mates, flip to
    * duplicates, and the replay would diverge from the clean run.
    */
  def incrementalDedupPairs(indexPath: String, delta: DataFrame,
                            corpus: DataFrame, threshold: Double,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            beforeBatch: Option[String] = None): DataFrame = {
    val spark = delta.sparkSession
    val meta = readLshMeta(spark, indexPath)
    val n = meta.getAs[Long]("n").toInt
    val numHashes = meta.getAs[Long]("num_hashes").toInt
    val bands = meta.getAs[Long]("bands").toInt
    val rows = numHashes / bands
    def tagged(df: DataFrame, tag: String): DataFrame =
      df.select(concat(lit(tag), col(idCol).cast("string")).as(idCol),
        col(textCol))
    val deltaT = tagged(delta, "c")
    val corpusT = tagged(corpus, "b")
    val bandsTable = spark.read
      .schema(lshBandsSchema(idCol, corpus.schema(idCol).dataType))
      .parquet(s"$indexPath/bands")
    val idx0 = beforeBatch.foldLeft(bandsTable) { (df, k) =>
      df.where(col("ingest_batch") < lit(k))
    }
    // tombstoned ids ([[tombstoneLshIds]]) subtract HERE — before the
    // bucket join — so a deleted document can never form a candidate,
    // whatever the caller's `corpus` frame still contains
    val idx = TombstoneLog.subtract(idx0, spark, s"$indexPath/tombstones", idCol)
      .select(col("band_idx"), col("band_hash"),
        concat(lit("b"), col(idCol).cast("string")).as("_corpus_id"))
    val deltaBands = bandedHashes(
      minhashSignatures(deltaT, n, numHashes, idCol, textCol),
      bands, rows, idCol)
    // Hot-bucket cap (the [[bucketPairs]] discipline, probe shape): delta
    // docs group to per-bucket id lists cut into HotListChunk-wide
    // blocks, so a boilerplate bucket holding B corpus rows emits
    // ⌈d/chunk⌉·B bounded-array rows from the join instead of d·B id
    // pairs, and the d·B expansion runs AFTER a round-robin repartition
    // (without it, distinct's map-side partial agg would run the explode
    // on the join task itself). Chunking the DELTA side — not the index —
    // keeps the index scan shuffle-free: the chunked probe frame is
    // smaller than the raw band rows, so AQE's broadcast of the probe
    // side stays available and the partition-pruned bands scan never
    // exchanges.
    val dIds = col("_dids")
    val deltaChunks = deltaBands.groupBy("band_idx", "band_hash")
      .agg(collect_list(col(idCol)).as("_dids"))
      .select(col("band_idx"), col("band_hash"),
        explode(transform(
          sequence(lit(0),
            ceil(size(dIds) / lit(HotListChunk.toDouble)).cast("int") - 1),
          c => slice(dIds, c * HotListChunk + 1, lit(HotListChunk)))).as("_dchunk"))
    val shufflePar = spark.sessionState.conf.numShufflePartitions
    val cands = deltaChunks.join(idx, Seq("band_idx", "band_hash"))
      .select(col("_dchunk"), col("_corpus_id"))
      .repartition(shufflePar)
      .select(explode(col("_dchunk")).as("id1"), col("_corpus_id").as("id2"))
      .distinct()
      .localCheckpoint(false)
    verifyJaccardPairs(deltaT.unionByName(corpusT), cands, n, threshold,
        idCol, textCol)
      .select(
        expr("substring(id1, 2)").cast(delta.schema(idCol).dataType).as("id1"),
        expr("substring(id2, 2)").cast(corpus.schema(idCol).dataType).as("id2"),
        col("jaccard"))
  }

  /** Per-document MinHash signature: `numHashes` minima over the shingle
    * set's rehashed values, computed PER ROW with `array_min` over the
    * shingle array — zero shuffle (the former explode + groupBy shape
    * moved every (doc, shingle, hash) triple through an exchange to
    * compute the same minima), stays inside whole-stage codegen, and is
    * stateless, so it runs unchanged on a streaming DataFrame (see the
    * t12 streaming-ingest entry). Same work per row, identical output
    * (min over the same rehashed values).
    */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // One native pass with the spark-catalyst XXH64 statics, where the
    // higher-order form pays numHashes lambda dispatches PER SHINGLE plus
    // numHashes intermediate arrays per row (bit-identical,
    // property-tested in MinHashSigSpec).
    shingleSets(docs, n, idCol, textCol).select(col(idCol),
      wrap(MinHashSig(unwrap(col("shingle_set")), unwrap(lit(numHashes))))
        .as("signature"))
  }

  /** MinHash-LSH candidate pairs: band the signature, hash each band,
    * expand all same-bucket (band index, band hash) id pairs, then verify
    * candidates with true Jaccard. `bands × rows = numHashes`; the
    * S-curve threshold is ≈ (1/bands)^(1/rows).
    *
    * Bucket expansion goes through [[bucketPairs]] — the same
    * posting-list + [[postingPairs]] chunk discipline as the exact-dedup
    * paths — NOT a banded self-join. The candidate set is identical
    * (every ordered id pair sharing a bucket, in either shape), but a
    * self-join puts one (band_idx, band_hash) key on one task: a bucket
    * of B near-identical documents — exactly what a boilerplate-heavy
    * crawl corpus produces (templated pages, license headers) — would
    * expand B²/2 candidate rows inside a single straggler. The chunked
    * path caps per-task expansion at HotListChunk² and spreads a hot
    * bucket's block pairs round-robin across the cluster. It is also one
    * shuffle (groupBy) instead of the self-join's two.
    */
  def minhashLshPairs(docs: DataFrame, n: Int, numHashes: Int, bands: Int,
                      threshold: Double, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Lazy localCheckpoint: signatures are numHashes longs per doc — tiny
    // next to the corpus — so materializing them is the scale-correct
    // trade (checkpointing the shingled corpus itself would not be; its
    // recompute-over-materialize choice is deliberate). eager = false:
    // materialization happens on the caller's first action, so building
    // the plan (graft.Explain, tests constructing queries) runs no jobs.
    val sig = minhashSignatures(docs, n, numHashes, idCol, textCol)
      .localCheckpoint(false)
    val banded = bandedHashes(sig, bands, rows, idCol)
    // checkpointed too (id pairs — tiny): cands feeds BOTH the candidate
    // id set below and the final common-shingle join; without the cut the
    // bucket grouping + distinct would execute once per consumer
    val cands = bucketPairs(banded, idCol)
      .distinct()
      .localCheckpoint(false)
    verifyJaccardPairs(docs, cands, n, threshold, idCol, textCol)
  }

  /** All ordered (id1 < id2) pairs of ids sharing an LSH bucket, via
    * per-bucket posting lists routed through [[postingPairs]]: buckets
    * wider than [[HotListChunk]] expand through the shuffled block-pair
    * path, so one hot bucket cannot pin a straggler task. A pair sharing
    * several buckets is emitted once per bucket — callers dedup with
    * `.distinct()` exactly as the self-join shape required.
    */
  private[graft] def bucketPairs(banded: DataFrame,
                                 idCol: String = "doc_id"): DataFrame = {
    val postings = banded.groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")) > 1)
    postingPairs(postings.select("_ids"))
  }

  /** (id, band_idx, band_hash) rows: hash each `rows`-wide signature band
    * with its index. Shared by the batch banded self-join and the
    * streaming-ingest bucket grouping (stateless — safe on a stream).
    */
  private[graft] def bandedHashes(sig: DataFrame, bands: Int, rows: Int,
                                  idCol: String = "doc_id"): DataFrame =
    sig.select(col(idCol),
        posexplode(array((0 until bands).map(b =>
          xxhash64(concat_ws(",", slice(col("signature"), b * rows + 1, rows), lit(b)))): _*)))
      .toDF(idCol, "band_idx", "band_hash")

  /** Exact-Jaccard verification of a candidate pair set — with true
    * Jaccard computed ONLY over candidate documents: the semi-join prunes
    * the scan before the explode, and the candidate shingle sets
    * checkpoint cheaply for their three consumers. Shared by
    * [[minhashLshPairs]] and the streaming-ingest verify stage.
    */
  private[graft] def verifyJaccardPairs(docs: DataFrame, cands: DataFrame,
                                        n: Int, threshold: Double,
                                        idCol: String = "doc_id",
                                        textCol: String = "text"): DataFrame =
    verifyOverlapPairs(docs, cands, n, idCol, textCol)
      .withColumn("jaccard",
        col("_common") / (col("_n1") + col("_n2") - col("_common")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")

  /** Exact-overlap verification of a candidate pair set: (id1, id2,
    * `_common` = |A∩B|, `_n1`, `_n2`) with true counts computed ONLY over
    * candidate documents — the semi-join prunes the corpus scan before
    * the explode. The candidate id set is deliberately NOT hint-broadcast:
    * it is output-sized, and on a duplicate-heavy corpus at a low
    * threshold it can be a large fraction of the corpus — a forced
    * broadcast would then fail the job at the driver/broadcast memory
    * wall instead of degrading to a shuffle join. AQE picks the strategy
    * from the candidate set's RUNTIME size (broadcast when genuinely
    * small, shuffle otherwise). Shared by the Jaccard verifier
    * ([[minhashLshPairs]], streaming ingest) and the containment verifier
    * ([[containmentPairsPrefix]]).
    */
  private[graft] def verifyOverlapPairs(docs: DataFrame, cands: DataFrame,
                                        n: Int, idCol: String = "doc_id",
                                        textCol: String = "text"): DataFrame = {
    val candIds = cands.select(col("id1").as(idCol))
      .union(cands.select(col("id2").as(idCol))).distinct()
    val candSets = shingleSets(
      docs.join(candIds, Seq(idCol), "left_semi"), n, idCol, textCol)
      .localCheckpoint(false)
    val sh = candSets.select(col(idCol), explode(col("shingle_set")).as("shingle"))
    val counts = candSets.select(col(idCol),
      size(col("shingle_set")).cast("long").as("_n"))
    val common = cands
      .join(sh.select(col(idCol).as("id1"), col("shingle")), "id1")
      .join(sh.select(col(idCol).as("id2"), col("shingle")), Seq("id2", "shingle"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("_common"))
    common
      .join(counts.select(col(idCol).as("id1"), col("_n").as("_n1")), "id1")
      .join(counts.select(col(idCol).as("id2"), col("_n").as("_n2")), "id2")
  }

  /** Containment-pair CANDIDATES by prefix filtering — the scale path for
    * [[containmentPairs]], and unlike MinHash banding it is EXACT (zero
    * candidate-miss probability), because containment admits a pigeonhole
    * bound MinHash cannot approximate (plain MinHash estimates Jaccard,
    * and a snippet inside a much longer page has containment 1 but
    * arbitrarily small Jaccard).
    *
    * Prefix filter (the All-Pairs / PPJoin family, re-derived for the
    * asymmetric measure): order every shingle by a single global total
    * order — document frequency ascending, ties by hash — and sort each
    * document's shingle set by that order. For a pair (A, B) with
    * m = |A| ≤ |B| and containment |A∩B|/m ≥ t, at most m − ⌈t·m⌉
    * shingles of A are absent from B, so among the FIRST
    * p = m − ⌈t·m⌉ + 1 shingles of A (its "prefix") at least one is in B.
    * Candidates are therefore: explode only the prefixes on the probe
    * side, ALL shingles on the index side, equi-join on shingle, keep
    * pairs where the probe is the (size, id)-lexicographic smaller side.
    * Every true pair is generated — the prefix of the smaller document
    * must hit the larger document's full posting.
    *
    * Scale shape: the probe side carries ≈ (1−t) of the corpus' shingle
    * occurrences, and because the order is DF-ascending, prefixes hold
    * each document's RAREST shingles — a boilerplate shingle shared by
    * 30% of the corpus has maximal DF, sorts last, and stays out of
    * almost every prefix, so its posting list meets a near-empty probe
    * side instead of expanding quadratically (the failure mode of the
    * exact inverted index). Cost: one DF count (map-side combinable), one
    * shingle-keyed join to rank, one groupBy id to sort, and the
    * probe×index equi-join whose per-shingle output is
    * |probe postings| × |index postings| with the probe factor collapsed
    * by rarity.
    */
  private[graft] def containmentCandidatesPrefix(
      docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1]: $threshold")
    val sets = shingleSets(docs, n, idCol, textCol).localCheckpoint(false)
    val sh = sets.select(col(idCol), explode(col("shingle_set")).as("shingle"))
    val dfTab = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
    val ranked = sh.join(dfTab, "shingle")
      .select(col(idCol), struct(col("_df"),
        xxhash64(col("shingle")).as("_h"), col("shingle")).as("_tok"))
    val ordered = ranked.groupBy(idCol)
      .agg(sort_array(collect_list(col("_tok"))).as("_toks"))
      .select(col(idCol), col("_toks"),
        size(col("_toks")).cast("long").as("_m"))
    val prefLen =
      (col("_m") - ceil(col("_m") * threshold).cast("long") + 1).cast("int")
    val probe = ordered.select(col(idCol).as("_pid"), col("_m").as("_pm"),
      explode(transform(slice(col("_toks"), lit(1), prefLen),
        t => t.getField("shingle"))).as("shingle"))
    val index = sets.select(col(idCol).as("_xid"),
      size(col("shingle_set")).cast("long").as("_xm"),
      explode(col("shingle_set")).as("shingle"))
    probe.join(index, "shingle")
      .where(col("_pm") < col("_xm") ||
        (col("_pm") === col("_xm") && col("_pid") < col("_xid")))
      .select(least(col("_pid"), col("_xid")).as("id1"),
        greatest(col("_pid"), col("_xid")).as("id2"))
      .distinct()
  }

  /** Containment near-dup pairs via prefix-filter candidates + exact
    * verification — identical results to [[containmentPairs]] (the
    * candidate generator is exact, see [[containmentCandidatesPrefix]]),
    * but per-task work no longer grows quadratically in the hottest
    * posting list. The d2→d3 discipline applied to the asymmetric
    * measure: [[containmentPairs]] stays as the quadratic oracle twin.
    */
  def containmentPairsPrefix(docs: DataFrame, n: Int, threshold: Double,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val cands = containmentCandidatesPrefix(docs, n, threshold, idCol, textCol)
      .localCheckpoint(false)
    verifyOverlapPairs(docs, cands, n, idCol, textCol)
      .withColumn("containment", col("_common") / least(col("_n1"), col("_n2")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment")
  }

  /** Per-bit majority vote over token hashes in `_h` → one fingerprint
    * per id, assembled with native bit ops. Shared by the 64-bit xxhash64
    * SimHash and the 31-bit engine-portable variant.
    */
  private def assembleSimhash(tokHashed: DataFrame, bits: Int,
                              idCol: String): DataFrame = {
    // per-bit vote: +1 if bit set else -1; sign of the sum is the output bit
    val votes = (0 until bits).map { i =>
      sum(when(shiftright(col("_h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"_v$i")
    }
    val assembled = (0 until bits).map { i =>
      when(col(s"_v$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    tokHashed.groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), assembled.as("simhash"))
  }

  /** 64-bit SimHash over whitespace tokens (unit weights). */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    assembleSimhash(
      docs.select(col(idCol), explode(split(col(textCol), " ")).as("_t"))
        .withColumn("_h", xxhash64(col("_t"))),
      bits = 64, idCol)

  /** Engine-portable 31-bit SimHash: token hash is the classic 31-fold
    * over character code points, `h = (h·31 + c) mod 2³¹` — pure integer
    * arithmetic any SQL engine can replay exactly (a DuckDB `list_reduce`
    * reproduces it bit-for-bit), which is what makes [[simhashPairsPortable]]
    * hash-checkable against an independent oracle while the production
    * [[simhash]] keeps the engine-native 64-bit xxhash64. Same majority
    * vote, same pigeonhole pairing.
    */
  def simhashPortable(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    // native fold31 — the higher-order chain pays a dispatch AND an O(i)
    // substr seek per character of every token (CharGramsSpec pins
    // bit-identity, including the empty-token edge)
    assembleSimhash(
      docs.select(col(idCol), explode(split(col(textCol), " ")).as("_t"))
        .withColumn("_h", wrap(Fold31(unwrap(col("_t"))))),
      bits = 31, idCol)
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ `maxDist`, using the
    * pigeonhole block trick: split the 64-bit fingerprint into
    * `maxDist + 1` chunks — any pair within distance d shares at least one
    * exact chunk — and equi-join on (chunk index, chunk value).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    hammingPairs(simhash(docs, idCol, textCol), maxDist, bits = 64, idCol)

  /** [[simhashPairs]] on the engine-portable 31-bit fingerprint — same
    * pigeonhole join; exists to be hash-checked against an independent
    * SQL replay of the whole pipeline (see the d4b query entry).
    */
  def simhashPairsPortable(docs: DataFrame, maxDist: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    hammingPairs(simhashPortable(docs, idCol, textCol), maxDist, bits = 31, idCol)

  /** All (id1 < id2) pairs whose `bits`-wide fingerprints are within
    * Hamming distance `maxDist`, via the pigeonhole chunk equi-join. The
    * last chunk absorbs the remainder when `maxDist + 1` does not divide
    * `bits` — any pair within distance d still shares ≥ 1 exact chunk.
    */
  private[llm] def hammingPairs(fingerprints: DataFrame, maxDist: Int, bits: Int,
                                idCol: String): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64]: $bits")
    require(maxDist >= 0 && maxDist < bits,
      s"maxDist must be in [0, $bits): $maxDist")
    val chunks = maxDist + 1
    val bitsPer = bits / chunks
    require(bitsPer >= 1, s"maxDist $maxDist leaves empty chunks at $bits bits")
    // 1L << 64 wraps to 1 (shift counts are mod 64), which would zero the
    // mask for a full-width chunk and collapse every doc into one bucket
    def maskOf(width: Int) = if (width == 64) -1L else (1L << width) - 1
    // checkpointed for the same reason as the MinHash signatures: the
    // chunk self-join reads fingerprints (8 bytes/doc) on both sides
    // (lazy, so plan construction stays execution-free)
    val sh0 = fingerprints.localCheckpoint(false)
    // r13: the aggregation feeding the fingerprints AQE-coalesces to very
    // few partitions (it is byte-tiny), but the chunk self-join below is
    // CPU-quadratic in rows per task, not bytes — on d4b the whole 2.1M-
    // pair expansion ran in ONE 3.6 s task. Re-spread degenerate inputs
    // across the cluster (explicit numPartitions so AQE cannot re-coalesce
    // a deliberate fan-out; a no-op when the upstream already has real
    // parallelism, e.g. a corpus-scale fingerprint table).
    val par = fingerprints.sparkSession.sparkContext.defaultParallelism
    val sh = if (sh0.rdd.getNumPartitions < par) sh0.repartition(par) else sh0
    val chunked = sh.select(col(idCol), col("simhash"),
        posexplode(array((0 until chunks).map { c =>
          val width = if (c == chunks - 1) bits - c * bitsPer else bitsPer
          shiftright(col("simhash"), c * bitsPer).bitwiseAND(lit(maskOf(width)))
        }: _*)))
      .toDF(idCol, "simhash", "chunk_idx", "chunk_val")
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Chunk-level (paragraph) dedup: split each document into fixed
    * non-overlapping word chunks, drop every chunk whose text occurs in at
    * least `minDocs` distinct documents, and reassemble the surviving
    * chunks in document order. Returns (id, clean_text, n_removed). This is
    * the sub-document pass of a web-corpus pipeline — boilerplate and
    * mirrored passages repeat across pages that are NOT near-duplicates as
    * whole documents, so document-level dedup (exact/MinHash) never sees
    * them.
    *
    * Scale shape: one shuffle keyed by chunk text for the document-
    * frequency count (the shuffle payload is the corpus, once — the
    * canonical cost of paragraph dedup). The flagging join's build side is
    * only the chunks that PASSED the >= minDocs filter — a small fraction
    * of the corpus, so it broadcasts (AQE falls back to a shuffle join if
    * boilerplate volume is genuinely huge), and reassembly is one groupBy
    * id. The corpus is chunked twice (frequency side + flag side) rather
    * than persisted — recompute of a narrow map stage is cheaper than
    * materializing the exploded corpus. No driver-side state, no
    * all-pairs step, and frequency counting is map-side combinable.
    */
  def chunkDedup(docs: DataFrame, chunkWords: Int, minDocs: Long,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = split(col(textCol), " ")
    val nChunks = greatest(
      ceil(size(ws) / lit(chunkWords.toDouble)).cast("int"), lit(1))
    val chunks = docs
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), nChunks - 1),
        i => array_join(slice(ws, i * chunkWords + 1, lit(chunkWords)), " "))))
      .toDF(idCol, "idx", "chunk")
    val dupChunks = chunks.groupBy("chunk")
      .agg(count_distinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("chunk"), lit(1).as("_dup"))
    chunks.join(dupChunks, Seq("chunk"), "left")
      .groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(
            when(col("_dup").isNull, struct(col("idx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"),
        count(col("_dup")).as("n_removed"))
  }

  /** EXACT repeated-substring span detection — the character-level form
    * of training-data dedup (suffix-array substring dedup, Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"),
    * re-derived for Spark: instead of a global suffix array (a serial,
    * memory-resident structure), every position p of every doc emits its
    * k-char gram; a gram appearing in ≥ `minDocs` DISTINCT docs flags
    * its positions; per doc, flagged positions within k of each other
    * condense into maximal spans (the gaps-and-islands kernel, A11). A
    * duplicated region of length L ≥ k is covered by L−k+1 flagged
    * grams that all chain (consecutive positions 1 apart ≤ k), so every
    * maximal duplicated substring surfaces as one span with its exact
    * boundaries — no probabilistic shingle banding, character-exact.
    *
    * Scale shape: the gram explode is a narrow map-side fan-out (len
    * rows/doc of k+12 bytes); ONE shuffle groups grams (map-side
    * combinable count-distinct), one broadcast-or-shuffle semi-join
    * flags positions, one per-doc window condenses. The gram text
    * itself shuffles (k = 20 bytes ≈ the two 64-bit hashes d1 ships) to
    * keep the operator character-exact under the oracle; at larger k
    * shuffle `xxhash64(gram)` pairs instead, d1's exact-dedup
    * discipline. Chunking (d8) answers "drop the paragraph"; this
    * answers "WHERE inside the doc is the copied text" — the snippet
    * needed for surgical span removal rather than whole-chunk drops.
    */
  def duplicateSpans(docs: DataFrame, k: Int, minDocs: Long = 2,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = gramPositions(docs, k, idCol, textCol)
    val dupGrams = grams.groupBy("gram")
      .agg(count_distinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select("gram")
    condenseSpans(grams.join(dupGrams, Seq("gram"), "left_semi"), k, idCol)
  }

  /** [[duplicateSpans]]'s scale twin: the shuffle carries TWO independent
    * 64-bit gram hashes (16 bytes) instead of the k-char gram text —
    * d1's exact-dedup discipline, the path to take once k outgrows the
    * hash width (k-char grams at k = 50 shuffle 3× more bytes than the
    * hash pair; the flagging join key shrinks identically). A false
    * flag needs one 128-bit collision among distinct grams (~n²/2¹²⁸ —
    * not a real event), so the output is identical to the exact
    * operator's, which is how the entry shares d14's oracle verbatim.
    */
  def duplicateSpansHashed(docs: DataFrame, k: Int, minDocs: Long = 2,
                           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = gramPositions(docs, k, idCol, textCol)
      .select(col(idCol), col("p"),
        xxhash64(col("gram")).as("_h1"),
        xxhash64(lit("graft-span-salt"), col("gram")).as("_h2"))
    val dupGrams = grams.groupBy("_h1", "_h2")
      .agg(count_distinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select("_h1", "_h2")
    condenseSpans(grams.join(dupGrams, Seq("_h1", "_h2"), "left_semi"), k, idCol)
  }

  /** Per-doc k-gram NOVELTY — the memorization/contamination proxy a
    * curation pipeline tracks per ingestion batch: how much of a doc's
    * character-gram mass appears here for the FIRST time (by doc-id
    * order, the ingestion-order stand-in)? A doc that is pure recombination
    * of earlier text scores near 0 and is a drop candidate before any
    * pairwise dedup runs. Occurrences in the earliest containing doc all
    * count as novel mass (within-doc repeats included), matching the
    * "token mass first contributed" reading. Shuffle shape = d14's: one
    * gram agg (min doc id) + one join back, no pairs.
    */
  def gramNovelty(docs: DataFrame, k: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = gramPositions(docs, k, idCol, textCol)
    val firsts = grams.groupBy("gram").agg(min(col(idCol)).as("_first"))
    grams.join(firsts, "gram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("_first") === col(idCol), 1)).as("n_novel"))
      .select(idCol, "n_grams", "n_novel")
  }

  /** [[gramNovelty]]'s hashed-shuffle scale twin — the d14b discipline
    * applied to the novelty shape: both the first-doc agg AND the
    * join-back key on TWO independent 64-bit gram hashes (16 bytes,
    * constant in k) instead of the k-char gram text. Novelty never
    * needs the gram characters downstream — only the min-doc-id
    * comparison — so at k = 20 this halves the bytes on both shuffles
    * (and the gap widens linearly with k). A wrong novelty count needs
    * one 128-bit collision among distinct grams (~n²/2¹²⁸ — not a real
    * event), so the output is identical to the exact operator's and the
    * entry shares x23's oracle verbatim.
    */
  def gramNoveltyHashed(docs: DataFrame, k: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = gramPositions(docs, k, idCol, textCol)
      .select(col(idCol),
        xxhash64(col("gram")).as("_h1"),
        xxhash64(lit("graft-novelty-salt"), col("gram")).as("_h2"))
    val firsts = grams.groupBy("_h1", "_h2").agg(min(col(idCol)).as("_first"))
    grams.join(firsts, Seq("_h1", "_h2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("_first") === col(idCol), 1)).as("n_novel"))
      .select(idCol, "n_grams", "n_novel")
  }

  /** Span-level CROSS-CORPUS decontamination (d16) — the matrix cell the
    * doc-level operators miss: a benchmark QUOTE embedded inside an
    * otherwise-clean training document. Doc-level exact decontamination
    * (d6/d10) reports only an overlap count at a doc-level threshold and
    * fuzzy decontamination (d12) needs doc-level Jaccard ≥ τ — a 40-token
    * quote inside a 2,000-token doc clears neither bar decisively and,
    * even when flagged, gives no boundaries to cut. This operator answers
    * WHERE: every k-char gram of every training doc that appears in ANY
    * benchmark doc flags its position, and flagged positions within k of
    * each other condense into maximal spans per (train doc, bench doc) —
    * d14's span machinery pointed across corpora, yielding
    * character-exact cut lists for surgical quote removal.
    *
    * Scale shape is d10/d12's: the benchmark side is bounded (eval
    * suites), so its distinct (bench_id, gram-hash-pair) set BROADCASTS
    * and the flagging join is map-side — the training corpus never
    * shuffles on this operator; only the tiny flagged-position set
    * reaches the per-(train,bench) condense window. The wire carries two
    * independent 64-bit gram hashes, never gram text (the d14b
    * discipline: a false flag needs a 128-bit collision among distinct
    * grams — not a real event — so the output is identical to exact text
    * matching and the entry runs under a character-exact SQL oracle).
    */
  def contaminationSpans(docs: DataFrame, bench: DataFrame, k: Int,
                         idCol: String = "doc_id", textCol: String = "text",
                         benchIdCol: String = "doc_id"): DataFrame =
    condenseContaminationFlags(
      contaminationFlags(docs, bench, k, idCol, textCol, benchIdCol),
      k, idCol)

  /** The STATELESS front half of [[contaminationSpans]]: flag every
    * training-doc position whose k-gram appears in a benchmark doc —
    * gram explode, map-side broadcast join, nothing else. Runs unchanged
    * on a STREAMING `docs` DataFrame (no window, no aggregation), which
    * is what t35 rides: flag at ingest, condense the (tiny) flagged set
    * downstream. Returns (idCol, bench_id, p).
    */
  def contaminationFlags(docs: DataFrame, bench: DataFrame, k: Int,
                         idCol: String = "doc_id", textCol: String = "text",
                         benchIdCol: String = "doc_id"): DataFrame = {
    val benchGrams = broadcast(
      gramPositions(bench, k, benchIdCol, textCol)
        .select(col(benchIdCol).as("bench_id"),
          xxhash64(col("gram")).as("_h1"),
          xxhash64(lit("graft-d16-salt"), col("gram")).as("_h2"))
        .distinct())
    gramPositions(docs, k, idCol, textCol)
      .select(col(idCol), col("p"),
        xxhash64(col("gram")).as("_h1"),
        xxhash64(lit("graft-d16-salt"), col("gram")).as("_h2"))
      .join(benchGrams, Seq("_h1", "_h2"))
      .select(col(idCol), col("bench_id"), col("p"))
  }

  /** The batch back half of [[contaminationSpans]]: flagged positions →
    * maximal spans per (train doc, bench doc). */
  def condenseContaminationFlags(flagged: DataFrame, k: Int,
                                 idCol: String = "doc_id"): DataFrame =
    condenseSpans(flagged, k, Seq(idCol, "bench_id"))

  /** (id, p, gram) for every k-gram position of every doc, by the native
    * kernel: the higher-order form pays a dispatch per position plus an
    * O(p) codepoint seek inside every substr — quadratic in text length
    * (CharGramsSpec pins equality).
    */
  private def gramPositions(docs: DataFrame, k: Int,
                            idCol: String, textCol: String): DataFrame = {
    docs
      .filter(length(col(textCol)) >= k)
      .select(col(idCol),
        posexplode(wrap(CharGrams(unwrap(col(textCol)), unwrap(lit(k))))))
      .toDF(idCol, "_p0", "gram")
      .select(col(idCol), (col("_p0") + 1).as("p"), col("gram"))
  }

  /** Flagged positions → maximal spans (A11 islands) per key tuple —
    * per doc for d14/d14b, per (train doc, bench doc) for d16. */
  private def condenseSpans(flagged: DataFrame, k: Int,
                            keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy("p")
    val brk = when(col("p") - lag("p", 1).over(w) <= k, 0).otherwise(1)
    flagged
      .select(keys.map(col) ++ Seq(col("p"), brk.as("_brk")): _*)
      .select(keys.map(col) ++ Seq(col("p"),
        sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("_sid")): _*)
      .groupBy((keys :+ "_sid").map(col): _*)
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(keys.head, keys.tail ++ Seq("span_start", "span_end", "n_grams"): _*)
  }

  private def condenseSpans(flagged: DataFrame, k: Int,
                            idCol: String): DataFrame =
    condenseSpans(flagged, k, Seq(idCol))

  /** Merge a doc's cut list into disjoint maximal intervals (d19 front
    * half). [[contaminationSpans]] emits spans per (train doc, bench
    * doc): two bench docs quoting overlapping text yield overlapping —
    * even mutually contained — spans for one train doc, and a cut list
    * applied naively would double-cut the overlap. Classic interval
    * merge, shuffle-native: a new island starts only when `span_start`
    * clears the RUNNING MAX of every earlier `span_end` by more than 1
    * (`lag` alone breaks on containment: [1,100] then [5,10] then
    * [50,120] must merge into one), adjacent spans fuse so the gaps that
    * survive are all ≥ 1 char. The window partitions by doc over the
    * already-condensed span set — rows per doc track quotes found, not
    * text size, so the sort is microscopic at any corpus scale.
    */
  def mergeSpans(spans: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("span_start", "span_end")
    val runMax = max(col("span_end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .select(col(idCol), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"))
      .withColumn("_brk",
        when(col("span_start") <= runMax + 1, 0).otherwise(1))
      .withColumn("_sid",
        sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_sid"))
      .agg(min("span_start").as("span_start"),
        max("span_end").as("span_end"))
      .select(idCol, "span_start", "span_end")
  }

  /** APPLY the cut lists (d19): remove every `[span_start, span_end]`
    * (1-based, inclusive — [[contaminationSpans]]' coordinates) from its
    * doc's text and stitch the remainder. The stitch is a native
    * `aggregate` fold over the doc's own merged-span array — state
    * (next-uncut-position, accumulator), one `substr` per kept segment —
    * so the hot path is a per-row codegen'd expression: no UDF, no
    * explode of text, no shuffle beyond the doc-keyed join of the (tiny)
    * span lists onto the corpus. Docs with no spans pass through
    * untouched via the left join. Returns (idCol, n_spans_cut,
    * n_chars_cut, textCol-cleaned).
    *
    * Removal is ONE pass: stitching can in principle butt two clean
    * fragments into a NEW flaggable k-gram, so pipelines wanting the
    * fixpoint re-run flag→cut until clean ([[decontaminateText]]); the
    * zero-residual property for quote-shaped contamination is pinned in
    * LlmSpec.
    *
    * `broadcastSpans`: when the cut list is KNOWN bounded — d16
    * decontamination spans are, because the bench side is a bounded
    * eval suite — broadcasting it makes the corpus join map-side (no
    * corpus shuffle at all; the d19 entry sets this). The default stays
    * a shuffle join because the generic input is NOT bounded (d14
    * within-corpus duplicate spans scale with the corpus); AQE still
    * demotes the SMJ to a broadcast at runtime when the merged list
    * turns out small.
    */
  def removeSpans(docs: DataFrame, spans: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  broadcastSpans: Boolean = false): DataFrame = {
    val perDoc0 = mergeSpans(spans, idCol)
      .groupBy(idCol)
      .agg(
        array_sort(collect_list(struct(col("span_start").as("s"),
          col("span_end").as("e")))).as("_spans"),
        count(lit(1)).as("n_spans_cut"),
        sum(col("span_end") - col("span_start") + 1).as("n_chars_cut"))
    val perDoc = if (broadcastSpans) broadcast(perDoc0) else perDoc0
    val text = col(textCol)
    val stitched = aggregate(
      col("_spans"),
      struct(lit(1L).as("pos"), lit("").as("acc")),
      (st, sp) => struct(
        (sp.getField("e") + 1L).as("pos"),
        concat(st.getField("acc"),
          text.substr(st.getField("pos"),
            sp.getField("s") - st.getField("pos"))).as("acc")),
      st => concat(st.getField("acc"),
        text.substr(st.getField("pos"),
          length(text).cast("long") - st.getField("pos") + 1L)))
    docs.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        coalesce(col("n_chars_cut"), lit(0L)).as("n_chars_cut"),
        when(col("_spans").isNull, text).otherwise(stitched).as(textCol))
  }

  /** Flag → cut to the FIXPOINT: re-run [[contaminationSpans]] +
    * [[removeSpans]] until a pass finds nothing (stitching two clean
    * fragments can mint a new flaggable k-gram, so one pass is not a
    * guarantee — the same reason j7's substring match iterates). Each
    * round's frame is localCheckpoint'd: the loop would otherwise stack
    * unbounded lineage, and the emptiness probe (a LIMIT-1 existence
    * check, the only driver action) would recompute the whole chain per
    * round. Rounds needed in practice: 1 for quote-shaped contamination,
    * 2+ only for adversarial stitch collisions; `maxRounds` bounds the
    * pathological case where cutting keeps minting new matches.
    */
  def decontaminateText(docs: DataFrame, bench: DataFrame, k: Int,
                        maxRounds: Int = 4, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    var cur = docs.select(col(idCol), col(textCol))
    var rounds = 0
    var dirty = true
    while (dirty && rounds < maxRounds) {
      val spans = contaminationSpans(cur, bench, k, idCol, textCol)
        .localCheckpoint()
      dirty = !spans.isEmpty
      if (dirty)
        // bench-bounded cut lists (this loop is decontamination by
        // definition) ⇒ broadcast keeps every round's corpus join map-side
        cur = removeSpans(cur, spans, idCol, textCol, broadcastSpans = true)
          .select(col(idCol), col(textCol)).localCheckpoint()
      rounds += 1
    }
    // a silent partial decontamination is a contamination LEAK — if the
    // pathological mint-new-grams case outruns the bound, fail loudly
    // rather than hand back a corpus the caller believes is clean
    require(!dirty || contaminationFlags(cur, bench, k, idCol, textCol).isEmpty,
      s"decontaminateText did not reach the fixpoint in $maxRounds rounds")
    cur
  }
}
