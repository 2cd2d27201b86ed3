package graft.llm

import graft.functions.DotProduct
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{unwrap, wrap}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`): brute-force cosine top-k as the exact baseline and a
  * deterministic random-hyperplane LSH variant as the scale path.
  *
  * Determinism: embeddings are quantized to integer milli-units before any
  * arithmetic. Integer-valued doubles add exactly in IEEE754 (values stay
  * ≪ 2^53), so dot products are bit-identical regardless of summation
  * order, partitioning, or engine — which is what lets the DuckDB oracle
  * hash-match. Hyperplanes come from a hash of (plane, dim), not an RNG.
  *
  * Scale notes: brute force is queries × corpus — fine when the query set
  * is small enough to broadcast (the common "find neighbors of this batch"
  * shape); for corpus × corpus near-dup at 100 TB use the LSH bucket join,
  * whose cost is bounded by bucket occupancy, with per-bucket verification.
  */
object Similarity {

  /** Quantize a float-array embedding to exact integer milli-units
    * (as doubles, so downstream arithmetic is still exact). The component
    * is promoted to double BEFORE scaling: float×1000 in float precision
    * can land on the other side of a .5 boundary than the oracle's double
    * path and flip the quantized integer (seen once at sf0.1).
    */
  def quantized(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000))

  /** The one vector-hygiene projection every index build and query path
    * shares: drop nulls, quantize, drop zero-norm rows (a zero-norm
    * vector makes every cosine NaN, and Spark sorts NaN ABOVE every
    * double — unfiltered it would rank #1 for every query; inside Lloyd
    * training a NaN poisons its whole codeword). One definition so the
    * build/query splits and their in-memory composites stay
    * result-identical on ANY corpus — the pqQuery drift this class of
    * copy-paste caused is why this helper exists.
    */
  private def cleanVectors(df: DataFrame, idCol: String, vecCol: String,
                           outId: String, outVec: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as(outId), quantized(col(vecCol)).as(outVec))
      .filter(dot(col(outVec), col(outVec)) > 0)

  /** Exact dot product of two quantized vectors, as the native codegen
    * [[graft.functions.DotProduct]] (a tight primitive loop, no per-element
    * lambda dispatch). Exact integer arithmetic makes summation order
    * irrelevant, so it is bit-identical to the higher-order
    * `aggregate(zip_with(...))` form `DotProductSpec` checks it against.
    */
  def dot(a: Column, b: Column): Column =
    wrap(DotProduct(unwrap(a.cast("array<double>")), unwrap(b.cast("array<double>"))))

  /** Cosine similarity of two quantized vectors. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Exact top-k cosine neighbors of each query vector over the corpus.
    * The query side is broadcast; ties break on corpus id so results are
    * total-ordered.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     keepVec: Boolean = false): DataFrame = {
    // Both sides go through the shared [[cleanVectors]] hygiene (null and
    // zero-norm drop) — a zero-norm corpus row makes cosine NaN, which
    // Spark's desc sort ranks ABOVE every real similarity, i.e. it would
    // be everyone's #1 neighbor. Defining the drop here (and in the e14
    // blocked twin) keeps the twin contract corpus-independent.
    val q = broadcast(cleanVectors(queries, idCol, vecCol, "query_id", "_qv"))
    val c0 = cleanVectors(corpus, idCol, vecCol, "neighbor_id", "_cv")
    // Corpus dims are validated INDEPENDENTLY of the pair join (r10
    // advice): the pair guard below never sees a corpus row whose id
    // equals every query id (the join excludes self-pairs), so a
    // mismatched-dimension corpus vector re-using the lone query's id
    // would pass silently here while e14's per-row require throws. One
    // broadcast row carrying the first clean query's dim — the same
    // reference e14 uses — checks every corpus row before any join.
    val qdim = broadcast(q.select(size(col("_qv")).as("_qdim")).limit(1))
    val c = c0.crossJoin(qdim)
      .filter(when(size(col("_cv")) =!= col("_qdim"),
        raise_error(concat(
          lit("corpus vector "), col("neighbor_id"),
          lit(" has dim "), size(col("_cv")),
          lit(", queries have dim "), col("_qdim"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("_qdim")
    // Mixed dimensions fail LOUDLY, matching the e14 blocked twin: a
    // zip_with over mismatched arrays pads with null and silently yields
    // a null/odd cosine, so without this guard the twins would disagree
    // on exactly the malformed corpora where agreement matters most.
    // (kept alongside the corpus pre-check: it also catches queries that
    // disagree among THEMSELVES against a matching corpus)
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        when(size(col("_qv")) =!= size(col("_cv")),
          raise_error(concat(
            lit("corpus vector "), col("neighbor_id"),
            lit(" has dim "), size(col("_cv")),
            lit(", query "), col("query_id"),
            lit(" has dim "), size(col("_qv")))).cast("double"))
          .otherwise(cosine(col("_qv"), col("_cv"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val ranked = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // keepVec: hand the already-quantized candidate vector to downstream
    // re-rankers (MMR) instead of forcing a second corpus scan + join
    if (keepVec) ranked.select("query_id", "neighbor_id", "rank", "cosine", "_cv")
    else ranked.select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Blocked exact top-k (e14) — [[bruteForceTopK]]'s scale twin, same
    * answers through a different execution tier: the query block ships
    * ONCE as primitive arrays and each corpus partition runs a tight
    * JVM loop (per-query bounded heaps, one pass over the partition's
    * vectors), emitting only queries × k candidates per partition. The
    * Catalyst form scores through per-row expression evaluation and
    * shuffles every scored row into the rank window; here the scoring
    * loop is branch-free array math (the tier below a native Expression
    * — §2's custom-operator preference (d), justified because the inner
    * product over a query BLOCK has no per-row expression shape), and
    * the shuffle carries only the per-partition survivors — at a
    * billion corpus rows that is the difference between shuffling the
    * corpus and shuffling parallelism × k rows. Bit-identical to the
    * Catalyst form: quantized dots are exact integer sums (order-free),
    * the heap keeps smaller ids on cosine ties, and the final global
    * rank runs the SAME window over the tiny survivor set — e14 shares
    * e1's oracle verbatim.
    */
  def bruteForceTopKBlocked(queries: DataFrame, corpus: DataFrame, k: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Same [[cleanVectors]] hygiene as e1 (null + zero-norm drop), so the
    // twin contract holds by CONSTRUCTION on any corpus: without it a
    // zero-norm vector's NaN cosine orders differently in the JVM heap
    // (Scala total ordering: NaN after everything) than in Spark's window
    // sort (NaN first) — a silent e1/e14 split waiting for future data.
    val qRows: Array[(Long, Array[Double])] =
      cleanVectors(queries, idCol, vecCol, "query_id", "_qv")
      .select(col("query_id").cast("long"), col("_qv"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
    require(qRows.nonEmpty, "query block is empty")
    val dim = qRows(0)._2.length
    require(qRows.forall(_._2.length == dim),
      s"query block has mixed vector dimensions (expected $dim)")
    val qb = spark.sparkContext.broadcast(qRows)
    val survivors = cleanVectors(corpus, idCol, vecCol, "neighbor_id", "_cv")
      .select(col("neighbor_id").cast("long"), col("_cv"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val qs = qb.value
        val d0 = qs(0)._2.length
        val qNorm = qs.map { case (_, v) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }; s
        }
        // max-heap of (−cosine, id): the head is the WORST survivor
        // (lowest cosine, larger id on ties), so eviction keeps exactly
        // the window's (cosine desc, id asc) top-k
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)])
        it.foreach { case (cid, cvSeq) =>
          val cv = cvSeq.toArray
          // A truncated dot over mismatched dimensions would SILENTLY
          // diverge from e1's zip_with semantics — fail loudly instead.
          require(cv.length == d0,
            s"corpus vector $cid has dim ${cv.length}, query block has $d0")
          var cn = 0.0
          var i = 0
          while (i < cv.length) { cn += cv(i) * cv(i); i += 1 }
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (qid != cid) {
              var d = 0.0; var j = 0
              while (j < qv.length) {
                d += qv(j) * cv(j); j += 1
              }
              val cos = d / math.sqrt(qNorm(qi) * cn)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((-cos, cid))
              else if (Ordering.Tuple2[Double, Long].lt((-cos, cid), h.head)) {
                h.dequeue(); h.enqueue((-cos, cid))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (negCos, cid) => (qs(qi)._1, cid, -negCos) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    survivors.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Exact top-k by raw INNER PRODUCT (MIPS) — the retrieval objective
    * of dot-product-trained embedding models, which cosine top-k (e1)
    * silently distorts for vectors of unequal norm. Executed through
    * the norm-augmentation reduction (Bachrach et al. 2014 / the
    * Shrivastava–Li asymmetric transform): every corpus vector x gains
    * one dimension sqrt(M² − |x|²) (M = max corpus norm) so all
    * augmented vectors sit on the radius-M sphere, and queries gain a
    * 0 — then cos(q', x') = ⟨q,x⟩ / (|q|·M) is STRICTLY monotone in
    * the original dot for each query, so cosine NN machinery (including
    * the IVF/PQ indexes built on augmented vectors) answers MIPS
    * exactly — retrieve through the augmented space, re-rank by the
    * exact dot, the standard MIPS-via-ANN pipeline shape. The FINAL
    * sort key here is the exact integer dot, not the float cosine:
    * distinct dots can't collide through the monotone map (adjacent
    * dots differ by ≥ 1 against ~2⁻⁵² relative division error), but
    * EQUAL dots produce cosines that differ by FP noise (each vector's
    * sqrt(M²−|x|²) element squares back to M²±1ulp differently), and a
    * float-ordered row_number would then break dot-ties by noise
    * instead of by id. `MipsSpec` asserts the cosine ordering agrees
    * with the dot ordering up to exactly those dot-ties.
    *
    * Zero-norm corpus vectors are fine (their augmented norm is M, the
    * cosine is defined, and their dot 0 ranks last with ties broken by
    * id); zero-norm QUERIES have no defined MIPS ranking and are
    * filtered like every query path does (the e12 oracle applies the
    * same filter).
    */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c0 = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), quantized(col(vecCol)).as("_cv"))
    val m2 = c0.agg(max(dot(col("_cv"), col("_cv"))).as("_m2"))
    val caug = c0.crossJoin(broadcast(m2))
      .withColumn("_cva",
        concat(col("_cv"), array(sqrt(col("_m2") - dot(col("_cv"), col("_cv"))))))
    val q = broadcast(
      queries.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("query_id"), quantized(col(vecCol)).as("_qv"))
        .filter(dot(col("_qv"), col("_qv")) > 0)
        .withColumn("_qva", concat(col("_qv"), array(lit(0.0d)))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("neighbor_id"))
    q.join(caug, col("query_id") =!= col("neighbor_id"))
      .withColumn("_cos", cosine(col("_qva"), col("_cva")))
      .withColumn("dot", dot(col("_qv"), col("_cv")).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dot", "_cos")
  }

  /** The norm-augmented corpus view [[mipsIvfQuery]] and [[buildMipsIvf]]
    * share: `(cid, _cv = [x, sqrt(M²−|x|²)], _cq = x)` over quantized
    * vectors, M² the corpus max squared norm. Every `_cv` sits on the
    * radius-M sphere, so cosine against centroids is proportional to the
    * dot — the cosine-based IVF machinery clusters by DOT direction, which
    * is exactly what indexed MIPS needs. Zero-norm corpus vectors stay
    * (their augmented norm is M, nothing is NaN, and their dot 0 ranks
    * last) — same policy as [[mipsTopK]].
    */
  private def mipsAugment(corpus: DataFrame, idCol: String,
                          vecCol: String): DataFrame = {
    val c0 = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cid"), quantized(col(vecCol)).as("_cq"))
    val m2 = c0.agg(max(dot(col("_cq"), col("_cq"))).as("_m2"))
    c0.crossJoin(broadcast(m2))
      .select(col("cid"),
        concat(col("_cq"),
          array(sqrt(col("_m2") - dot(col("_cq"), col("_cq"))))).as("_cv"),
        col("_cq"))
  }

  /** Indexed MIPS (e13): [[mipsTopK]]'s norm-augmentation reduction routed
    * through the IVF machinery — the e3-vs-e1 split applied to the
    * inner-product objective. The coarse quantizer is trained over the
    * AUGMENTED space (where cosine order ≡ dot order per query, see the
    * [[mipsTopK]] scaladoc), so a probe visits the lists whose direction
    * best matches the query's; the index stores (cid, _cl) ASSIGNMENTS
    * ONLY, like [[buildIvf]].
    */
  def buildMipsIvf(corpus: DataFrame, nlist: Int = 16, iters: Int = 2,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): IvfIndex = {
    val caug = mipsAugment(corpus, idCol, vecCol).select("cid", "_cv")
    val centroids = trainIvfCentroids(caug, nlist, iters)
    IvfIndex(centroids,
      nearestCentroid(caug, "_cv", centroids, 1).select("cid", "_cl"))
  }

  def mipsIvfIndexPath(dir: String, nlist: Int, iters: Int): String =
    indexPath(dir, s"mips-ivf|$nlist|$iters")

  /** Persisted [[buildMipsIvf]] through [[loadOrBuild]]; its own path
    * signature — the augmented-space lists are NOT interchangeable with
    * e3's cosine-space index even at identical params.
    */
  def loadOrBuildMipsIvf(spark: org.apache.spark.sql.SparkSession,
                         dir: String, corpus: DataFrame, nlist: Int = 16,
                         iters: Int = 2, idCol: String = "vec_id",
                         vecCol: String = "embedding"): IvfIndex =
    loadOrBuild(spark, mipsIvfIndexPath(dir, nlist, iters),
      sourceStamp(spark, dir, corpus))(
      saveIvf(buildMipsIvf(corpus, nlist, iters, idCol, vecCol), _))(
      loadIvf(spark, _))

  /** Query a [[buildMipsIvf]] index: augmented queries (`[q, 0]`) probe
    * the `nprobe` nearest centroids, the assignment scan prunes to those
    * list partitions, candidates join the base table for exact vectors —
    * and the FINAL sort key is the exact integer dot with the same
    * (dot desc, id) tie-break as [[mipsTopK]], never the float cosine
    * (the e12 scaladoc's dot-tie argument). Approximation lives only in
    * WHICH lists are probed; everything after the candidate set is
    * exact. Recall vs the exact e12 baseline asserted in MipsSpec.
    */
  def mipsIvfQuery(index: IvfIndex, corpus: DataFrame, queries: DataFrame,
                   k: Int, nprobe: Int = 4, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val caug = mipsAugment(corpus, idCol, vecCol)
    // zero-norm QUERIES have no defined MIPS ranking — filtered exactly
    // like mipsTopK (cleanVectors would also re-quantize, hence inline)
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), quantized(col(vecCol)).as("_qq"))
      .filter(dot(col("_qq"), col("_qq")) > 0)
      .select(col("query_id"), concat(col("_qq"), array(lit(0.0d))).as("_qv"),
        col("_qq"))
    val probes = nearestCentroid(q, "_qv", index.centroids, nprobe)
      .localCheckpoint(true)
    val labels = probes.select("_cl").distinct().collect()
      .map(_.getLong(0)).sorted
    val members = index.lists.filter(col("_cl").isin(labels: _*))
      .withColumn("_cl", col("_cl").cast("long"))
      .join(caug, "cid")
    val cands = broadcast(probes).join(members, "_cl")
      .filter(col("query_id") =!= col("cid"))
      .dropDuplicates("query_id", "cid")
      // dot over the RAW quantized vectors: integer-exact, so ranking
      // cannot be reordered by the augmented dimension's sqrt noise
      .withColumn("dot", dot(col("_qq"), col("_cq")).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("cid"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cid").as("neighbor_id"),
        col("rank"), col("dot"))
  }

  /** In-memory composite of [[buildMipsIvf]] + [[mipsIvfQuery]] — the
    * ivfTopK-shaped convenience the recall spec exercises; result-identical
    * to querying the persisted index (the split changes where the index
    * lives, not the candidate set or the scoring).
    */
  def mipsIvfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                  nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    mipsIvfQuery(buildMipsIvf(corpus, nlist, iters, idCol, vecCol),
      corpus, queries, k, nprobe, idCol, vecCol)

  /** Random-hyperplane (SRP) signature: one bit per plane = sign of the
    * projection onto a deterministic ±1 hyperplane whose components come
    * from xxhash64(plane, dim) parity (no RNG, no ANSI long overflow).
    */
  def srpSignature(vec: Column, planes: Int): Column =
    transform(sequence(lit(0), lit(planes - 1)), p =>
      when(aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x * when(xxhash64(p, i).bitwiseAND(1) === 0, 1.0d).otherwise(-1.0d)),
        lit(0.0d), (acc, v) => acc + v) >= 0, 1).otherwise(0))

  /** The ±1 hyperplane component for (plane, dim-index): parity of the same
    * XxHash64 the column expression uses, evaluated driver-side so the two
    * signature paths are bit-identical.
    */
  private def planeSign(p: Int, i: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // seed 42 = functions.xxhash64's default, matching the column path
    val h = XxHash64(Seq(Literal(p), Literal(i)), 42L).eval(null).asInstanceOf[Long]
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** SRP signature with the hyperplane matrix materialized as literal
    * arrays (the planes are deterministic, so they are plan-time
    * constants): each bit is one native dot product instead of a
    * per-element interpreted lambda with a hash call per component.
    * Identical output to [[srpSignature]]; requires a known dimension.
    */
  def srpSignatureFast(vec: Column, planes: Int, dim: Int): Column =
    array((0 until planes).map { p =>
      val plane = typedLit((0 until dim).map(i => planeSign(p, i)))
      when(dot(vec, plane) >= 0, 1).otherwise(0)
    }: _*)

  /** One tiny driver-side lookup pinning the vector dimension (first
    * non-empty vector wins; an empty corpus yields 0). Shared by the
    * index builders that need the dimension at plan time.
    */
  private def vecDim(corpus: DataFrame, vecCol: String): Int =
    corpus.select(size(col(vecCol)).as("_d")).filter(col("_d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(0)

  /** Element-wise mean vector per group (the centroid update of both the
    * IVF coarse quantizer and the PQ codebooks): posexplode to
    * (group, pos, x) — map-side combinable — one shuffle on (group, pos),
    * reassemble in pos order.
    */
  private def meanVector(df: DataFrame, groupCols: Seq[String],
                         vecCol: String, outCol: String): DataFrame =
    df.select(groupCols.map(col) :+ posexplode(col(vecCol)).as(Seq("_pos", "_x")): _*)
      .groupBy((groupCols :+ "_pos").map(col): _*)
      .agg(avg(col("_x")).as("_mu"))
      .groupBy(groupCols.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_mu")))),
        x => x.getField("_mu")).as(outCol))

  /** LSH-bucketed approximate top-k: band the SRP signature, join on
    * buckets, then rank by exact cosine WITHIN the candidate set. Recall
    * rises with bands; cost is bounded by bucket occupancy instead of the
    * full corpus.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 16, bands: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes % bands == 0)
    val rows = planes / bands
    // The dimension probe pins the hyperplanes as plan-time literal arrays
    // (srpSignatureFast). Null vectors are excluded on both sides — with
    // no dimension they would all share one bucket and degrade the join to
    // a cross product.
    val dim = vecDim(corpus, vecCol)
    def withBuckets(df: DataFrame, side: String): DataFrame = {
      val q = df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as(s"${side}_id"),
          quantized(col(vecCol)).as(s"_${side}v"),
          srpSignatureFast(quantized(col(vecCol)), planes, dim).as("_sig"))
      q.select(col(s"${side}_id"), col(s"_${side}v"),
          posexplode(array((0 until bands).map(b =>
            xxhash64(concat_ws(",", slice(col("_sig"), b * rows + 1, rows), lit(b)))): _*)))
        .toDF(s"${side}_id", s"_${side}v", "band_idx", "band_hash")
    }
    val qb = broadcast(withBuckets(queries, "query"))
    val cb = withBuckets(corpus, "neighbor")
    val cands = qb.join(cb, Seq("band_idx", "band_hash"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "_queryv", "_neighborv")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine(col("_queryv"), col("_neighborv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of `nlist`
    * centroids (deterministic init: the lowest-id corpus vectors, refined
    * by `iters` Lloyd rounds of cosine assignment + element-wise mean),
    * an inverted list per centroid, and per-query probing of the `nprobe`
    * nearest lists with exact cosine re-ranking inside them.
    *
    * Scale shape: build cost is corpus × nlist dots (one broadcast of the
    * tiny centroid table, no corpus shuffle beyond the list assignment);
    * query cost drops from corpus to ≈ corpus × nprobe / nlist per query.
    * The centroid means are the one non-integer computation in this file —
    * fine for an approximate index (recall is what is asserted, and the
    * final ranking re-scores with exact quantized cosine).
    */
  /** Nearest-`n` centroid assignment; shared by IVF training/probing and
    * the IVF-PQ composite. For n = 1: argmax as ONE map-side-combinable
    * aggregation — max on the (cosine, -label, payload…) struct ≡
    * orderBy(_cc desc, _cl asc) rank 1. The window alternative shuffles
    * AND sorts corpus × nlist rows per assignment pass — the dominant
    * cost of index training. The payload rides INSIDE the ordered struct
    * so the winning row is atomic — a separate first(payload) could pair
    * the max score with another row's payload if the key column ever had
    * dups.
    */
  private def nearestCentroid(df: DataFrame, vec: String, centroids: DataFrame,
                              n: Int): DataFrame = {
    // nanvl: a zero-norm vector OR a degenerate zero centroid (integer
    // quantized members can cancel exactly in a Lloyd mean) yields
    // cosine = 0/0 = NaN, and Spark sorts NaN ABOVE every double — the
    // degenerate centroid would capture the whole corpus. Pinning NaN to
    // −2 (below any real cosine) makes such rows/centroids lose every
    // argmax instead.
    val scored = df.crossJoin(broadcast(centroids))
      .withColumn("_cc", nanvl(cosine(col(vec), col("_centroid")), lit(-2.0)))
    if (n == 1) {
      val key = df.columns.head
      val payload = df.columns.tail.toSeq
      scored.groupBy(col(key))
        .agg(max(struct(col("_cc") +: (-col("_cl")).as("_nl") +:
          payload.map(col): _*)).as("_b"))
        .select(col(key) +: payload.map(c => col(s"_b.$c").as(c)) :+
          (-col("_b").getField("_nl")).cast("long").as("_cl"): _*)
    } else {
      val w = Window.partitionBy(df.columns.head).orderBy(col("_cc").desc, col("_cl"))
      scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= n)
        .drop("_cc", "_rn", "_centroid")
    }
  }

  /** Lloyd-trained coarse-quantizer centroids over (cid, _cv) rows.
    * row_number over cid keeps labels deterministic regardless of how the
    * limit's partitions land (monotonically_increasing_id is stable only
    * when the limit collapses to a single partition).
    */
  private def trainIvfCentroids(c: DataFrame, nlist: Int, iters: Int): DataFrame = {
    var centroids = c.orderBy("cid").limit(nlist)
      .select(col("_cv").as("_centroid"),
        (row_number().over(Window.orderBy("cid")) - 1).cast("long").as("_cl"))
    for (_ <- 1 to iters) {
      val assigned = nearestCentroid(c, "_cv", centroids, 1)
      centroids = meanVector(assigned, Seq("_cl"), "_cv", "_centroid")
    }
    // nlist tiny rows, but the lineage behind them is `iters` corpus-wide
    // Lloyd passes — without the cut, EVERY consumer (list assignment,
    // query probes, residual centroids) re-runs training
    centroids.localCheckpoint(true)
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // same null/zero-norm exclusion as buildIvf/ivfQuery — the split and
    // the composite must stay result-identical on ANY corpus, and an
    // unfiltered zero-norm vector would rank #1 everywhere (cosine NaN
    // sorts above every double in the final orderBy)
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    val centroids = trainIvfCentroids(c, nlist, iters)
    val lists = nearestCentroid(c, "_cv", centroids, 1)
    val q = cleanVectors(queries, idCol, vecCol, "query_id", "_qv")
    val probes = nearestCentroid(q, "_qv", centroids, nprobe)
    val cands = broadcast(probes).join(lists, "_cl")
      .filter(col("query_id") =!= col("cid"))
      .dropDuplicates("query_id", "cid")
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cid"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cid").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** A trained IVF index decoupled from querying: `centroids` is the
    * coarse quantizer, `lists` the inverted-file payload — (cid, _cl)
    * ASSIGNMENTS ONLY, never vectors: the raw vectors stay in the base
    * table and join back for exact scoring within probed lists (at
    * 100 TB the corpus is already stored once; an index that copied it
    * would double the footprint for nothing).
    */
  final case class IvfIndex(centroids: DataFrame, lists: DataFrame)

  def buildIvf(corpus: DataFrame, nlist: Int = 16, iters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    val centroids = trainIvfCentroids(c, nlist, iters)
    IvfIndex(centroids,
      nearestCentroid(c, "_cv", centroids, 1).select("cid", "_cl"))
  }

  /** Same on-disk layout as [[saveIvfPq]] minus the meta table: a tiny
    * centroid table and the assignments partitioned by list label
    * (probe-time partition pruning). Completeness is the stamp
    * [[loadOrBuild]] writes last (inside the staging dir, before the
    * atomic publish).
    */
  def saveIvf(index: IvfIndex, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // Cluster rows to their target list dirs before the write: an
    // unshuffled dynamic-partition write has every scan task open a
    // parquet writer per _cl dir it meets — tasks × nlist tiny files and
    // a writer init each (the Dedup.buildLshIndex finding). Keyed by the
    // dir alone, each dir hashes to one shuffle partition, so it gets
    // one file at any partition count.
    index.lists.repartition(col("_cl"))
      .write.mode("overwrite").partitionBy("_cl")
      .parquet(s"$path/lists")
  }

  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$path/centroids"),
      // _cl stays the partition-discovered type until after the probe
      // filter (same pruning rationale as loadIvfPq); tombstoned ids
      // are subtracted before any candidate can form
      minusTombstones(spark.read.parquet(s"$path/lists"), spark, path, "cid"))

  def ivfIndexPath(dir: String, nlist: Int, iters: Int): String =
    indexPath(dir, s"ivf|$nlist|$iters")

  def loadOrBuildIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
                     corpus: DataFrame, nlist: Int = 16, iters: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): IvfIndex =
    loadOrBuild(spark, ivfIndexPath(dir, nlist, iters),
      sourceStamp(spark, dir, corpus))(
      saveIvf(buildIvf(corpus, nlist, iters, idCol, vecCol), _))(
      loadIvf(spark, _))

  /** Query a (possibly persisted) IVF index: probe the `nprobe` nearest
    * lists, PRUNE the assignment scan to those labels (bounded driver
    * collect ≤ nlist — partition pruning on the persisted layout), join
    * the base table for exact vectors, rank by exact cosine. Identical
    * results to [[ivfTopK]] on the same corpus/params (asserted in
    * IvfPqPersistSpec): the split changes where the index lives, not
    * the candidate set or the scoring.
    */
  def ivfQuery(index: IvfIndex, corpus: DataFrame, queries: DataFrame,
               k: Int, nprobe: Int = 4, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    val q = cleanVectors(queries, idCol, vecCol, "query_id", "_qv")
    val probes = nearestCentroid(q, "_qv", index.centroids, nprobe)
      .localCheckpoint(true)
    val labels = probes.select("_cl").distinct().collect()
      .map(_.getLong(0)).sorted
    val members = index.lists.filter(col("_cl").isin(labels: _*))
      .withColumn("_cl", col("_cl").cast("long"))
      .join(c, "cid")
    val cands = broadcast(probes).join(members, "_cl")
      .filter(col("query_id") =!= col("cid"))
      .dropDuplicates("query_id", "cid")
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cid"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cid").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Product-quantization (PQ) approximate top-k — the third leg of the
    * ANN suite (SRP-LSH buckets, IVF lists, PQ codes). Vectors are
    * L2-normalized (cosine order ≡ ascending L2 distance on the unit
    * sphere), split into `m` subvectors, and each subspace gets a `ksub`-
    * codeword codebook trained by Lloyd rounds (deterministic init: the
    * lowest-id corpus vectors). A corpus vector compresses to `m` small
    * codes; a query scores a vector as the sum of its per-subspace
    * query↔codeword distances (asymmetric distance computation), then the
    * best `refine × k` candidates are re-ranked with exact cosine.
    *
    * Scale shape: the codebook is `m × ksub` tiny rows (broadcast), the
    * encoded corpus is `m` SMALL-INT codes per vector — the 100 TB story
    * is memory: a 1024-dim float corpus compresses ~512× , so the scan
    * side of every query batch reads codes, not vectors. ADC scoring is
    * one broadcast join on (subspace, code) + a map-side-combinable sum;
    * only the refine set touches full vectors. Recall vs the exact
    * baseline is asserted in LlmSpec (the ADC sum is the one place
    * float rounding can reorder near-ties, which is why ranking re-scores
    * exact cosine over the refine set).
    */
  /** Squared L2 distance of two equal-length vectors. */
  private val l2dist = (a: Column, b: Column) =>
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** Unit-normalize `vec` in place, dropping zero-norm rows. The norm is
    * hoisted into its own column: dividing inside the transform lambda
    * would re-evaluate the O(dim) dot product once per ELEMENT (no
    * common-subexpression elimination across lambda iterations) — O(dim²)
    * per vector on a corpus-wide build.
    */
  private def unitNorm(df: DataFrame, vec: String): DataFrame =
    df.withColumn("_nrm", sqrt(dot(col(vec), col(vec))))
      .filter(col("_nrm") > 0)
      .withColumn(vec, transform(col(vec), x => x / col("_nrm")))
      .drop("_nrm")

  /** Explode (keys…, vec) rows into (keys…, _s, _sv) subvector rows —
    * `m` slices of `sub` components each.
    */
  private def splitSub(df: DataFrame, keys: Seq[String], vec: String,
                       m: Int, sub: Int): DataFrame =
    df.select(keys.map(col) :+ posexplode(transform(sequence(lit(0), lit(m - 1)),
      s => slice(col(vec), s * sub + 1, lit(sub)))): _*)
      .toDF(keys ++ Seq("_s", "_sv"): _*)

  /** Nearest codeword per (keys…, subspace); codebook is broadcast.
    * Argmin is min on the (distance, code, subvector) struct — one
    * map-side-combinable aggregation, not a window sort over corpus × m ×
    * ksub rows; the subvector rides in the struct so the winner is atomic
    * even under duplicate ids.
    */
  private def assignCodes(df: DataFrame, keys: Seq[String],
                          codebook: DataFrame): DataFrame =
    df.join(broadcast(codebook), "_s")
      .withColumn("_d", l2dist(col("_sv"), col("_cw")))
      .groupBy((keys :+ "_s").map(col): _*)
      .agg(min(struct(col("_d"), col("_code"), col("_sv"))).as("_b"))
      .select(keys.map(col) ++ Seq(col("_s"),
        col("_b").getField("_sv").as("_sv"),
        col("_b").getField("_code").as("_code")): _*)

  /** Lloyd-refine a seeded PQ codebook (_s, _code, _cw) over subvector
    * rows. The result is localCheckpointed: it feeds both the encode pass
    * and the ADC table — without the lineage cut, training would rerun
    * once per consumer.
    */
  private def trainPqCodebook(csub: DataFrame, keys: Seq[String],
                              seed: DataFrame, iters: Int): DataFrame = {
    var codebook = seed
    for (_ <- 1 to iters) {
      codebook = meanVector(assignCodes(csub, keys, codebook),
        Seq("_s", "_code"), "_sv", "_cw")
    }
    codebook.localCheckpoint(true)
  }

  /** A trained PQ index decoupled from querying: `codebook` is m × ksub
    * tiny rows, `codes` the corpus payload — m small codes per vector
    * (the ~512× compression a 100 TB float corpus scans instead of raw
    * vectors). No list dimension, so no partitioning: a PQ query scans
    * every code row BY DESIGN — the win is bytes-per-row, IVF-PQ adds
    * the pruning.
    */
  final case class PqIndex(codebook: DataFrame, codes: DataFrame,
                           m: Int, sub: Int)

  def buildPq(corpus: DataFrame, m: Int = 4, ksub: Int = 16, iters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqIndex = {
    // null vectors excluded (mirrors lshTopK), and zero-norm vectors
    // excluded UP FRONT — normalizing one yields all-NaN subvectors, and
    // a single NaN assigned into a Lloyd cluster makes that codeword NaN,
    // destroying it for the whole subspace. Filtering before the
    // lowest-id codebook init (not just inside subvecs) also keeps the
    // init able to seed all ksub codewords when low ids are degenerate.
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    val dim = vecDim(corpus, vecCol)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val sub = dim / m

    // unit-normalize, then explode into (id, s, subvector)
    def subvecs(df: DataFrame, id: String): DataFrame =
      splitSub(unitNorm(df, "_v"), Seq(id), "_v", m, sub)
    // Eager localCheckpoint, not persist: it feeds every Lloyd round plus
    // the encode pass (each would otherwise re-shingle the corpus into
    // subvectors), the lineage is cut, and the blocks are released by the
    // ContextCleaner once the result plan is dropped — a persist() here
    // would pin corpus-sized cache blocks for the session lifetime. (On a
    // multi-executor cluster prefer persist + caller-side unpersist:
    // localCheckpoint blocks are lost with an executor.)
    val csub = subvecs(c.select(col("cid"), col("_cv").as("_v")), "cid")
      .localCheckpoint(true)

    // deterministic init: subvectors of the ksub lowest-id corpus vectors
    val lowIds = c.orderBy("cid").limit(ksub)
      .select(col("cid"), col("_cv").as("_v"))
    val seed = subvecs(lowIds, "cid")
      .withColumn("_code",
        (row_number().over(Window.partitionBy("_s").orderBy("cid")) - 1).cast("int"))
      .select(col("_s"), col("_code"), col("_sv").as("_cw"))
    val codebook = trainPqCodebook(csub, Seq("cid"), seed, iters)

    // encoded corpus: m small codes per vector — what a 100 TB index stores
    val codes = assignCodes(csub, Seq("cid"), codebook).select("cid", "_s", "_code")
    PqIndex(codebook, codes, m, sub)
  }

  def savePq(index: PqIndex, path: String): Unit = {
    index.codebook.write.mode("overwrite").parquet(s"$path/codebook")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    val spark = index.codes.sparkSession
    import spark.implicits._
    Seq((index.m, index.sub)).toDF("m", "sub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadPq(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    PqIndex(spark.read.parquet(s"$path/codebook"),
      spark.read.parquet(s"$path/codes"),
      meta.getAs[Int]("m"), meta.getAs[Int]("sub"))
  }

  def pqIndexPath(dir: String, m: Int, ksub: Int, iters: Int): String =
    indexPath(dir, s"pq|$m|$ksub|$iters")

  def loadOrBuildPq(spark: org.apache.spark.sql.SparkSession, dir: String,
                    corpus: DataFrame, m: Int = 4, ksub: Int = 16,
                    iters: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding"): PqIndex =
    loadOrBuild(spark, pqIndexPath(dir, m, ksub, iters),
      sourceStamp(spark, dir, corpus))(
      savePq(buildPq(corpus, m, ksub, iters, idCol, vecCol), _))(
      loadPq(spark, _))

  /** Query a (possibly persisted) PQ index: ADC-score the code scan
    * against the broadcast query↔codeword distance table, shortlist
    * refine × k, re-rank exactly from the base table. Whether the index
    * was just built or loaded from disk changes where the codebook and
    * codes live, not the scoring.
    */
  def pqQuery(index: PqIndex, corpus: DataFrame, queries: DataFrame, k: Int,
              refine: Int = 4, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    import index.{codebook, codes, m, sub}
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    def subvecs(df: DataFrame, id: String): DataFrame =
      splitSub(unitNorm(df, "_v"), Seq(id), "_v", m, sub)
    // ADC table: query × (subspace, codeword) distances — tiny, broadcast
    val q = cleanVectors(queries, idCol, vecCol, "query_id", "_qv")
    val dtable = subvecs(q.select(col("query_id"), col("_qv").as("_v")), "query_id")
      .join(broadcast(codebook), "_s")
      .withColumn("_d", l2dist(col("_sv"), col("_cw")))
      .select("query_id", "_s", "_code", "_d")
    val adc = codes.join(broadcast(dtable), Seq("_s", "_code"))
      .groupBy("query_id", "cid")
      .agg(sum(col("_d")).as("_adc"))
      .filter(col("query_id") =!= col("cid"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("_adc"), col("cid"))
    val shortlist = adc.withColumn("_rn", row_number().over(wAdc))
      .filter(col("_rn") <= refine * k)
      .select("query_id", "cid")

    // exact re-rank of the shortlist only
    val rescored = shortlist
      .join(q, "query_id")
      .join(c, "cid")
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cid"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cid").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** One-shot PQ convenience over [[buildPq]] + [[pqQuery]]. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 4, ksub: Int = 16, iters: Int = 2, refine: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqQuery(buildPq(corpus, m, ksub, iters, idCol, vecCol), corpus, queries,
      k, refine, idCol, vecCol)

  /** Per-list residual: unit vector minus the unit centroid of its list —
    * ONE definition shared by the corpus-encoding (build) and query-ADC
    * sides, because the residual identity only holds if both sides
    * subtract the identical centroid the same way.
    */
  private def residuals(df: DataFrame, id: String, vec: String,
                        ucent: DataFrame): DataFrame =
    unitNorm(df, vec).join(ucent, "_cl")
      .withColumn("_rv", zip_with(col(vec), col("_uc"), (x, u) => x - u))
      .select(col(id), col("_cl"), col("_rv"))

  /** A trained IVF-PQ index, decoupled from querying: `codes` is the
    * actual index payload (one list label + m small codes per corpus
    * vector, eagerly checkpointed — built ONCE, queried many times, the
    * way a production index amortizes its Lloyd training), `centroids` /
    * `ucent` / `codebook` are the bounded model tables, and `exact` is
    * the quantized corpus for the refine re-rank (left lazy on purpose:
    * at 100 TB the raw vectors are the base table, not index state).
    */
  final case class IvfPqIndex(centroids: DataFrame, ucent: DataFrame,
                              codebook: DataFrame, codes: DataFrame,
                              exact: DataFrame, m: Int, sub: Int)

  /** IVF-PQ composite ANN — the production-index shape (Jégou, Douze,
    * Schmid: "Product Quantization for Nearest Neighbor Search", IEEE
    * TPAMI 2011, §V): the IVF coarse quantizer restricts each query to
    * its `nprobe` nearest inverted lists, and within the probed lists
    * vectors are scored by PQ asymmetric distance over RESIDUALS — unit
    * vector minus the unit centroid of its list — then the best
    * `refine × k` candidates re-rank with exact quantized cosine.
    * One-shot convenience over [[buildIvfPq]] + [[ivfpqQuery]].
    *
    * Residual identity: on the unit sphere cosine order ≡ ascending
    * ‖q̂−x̂‖², and ‖q̂−x̂‖² = ‖(q̂−ĉ)−(x̂−ĉ)‖² for the shared list centroid ĉ,
    * so ADC between the per-list query residual and the corpus residual
    * codes scores the same metric. Residual PQ beats raw-vector PQ
    * because subtracting the list centroid removes the coarse structure —
    * the ksub codewords per subspace spend themselves on a tighter
    * distribution.
    *
    * Scale shape: the 100 TB index stores one list label + m small codes
    * per vector (e3's pruning × e5's compression); a query batch touches
    * ≈ nprobe/nlist of the corpus and reads codes, not vectors. The ADC
    * table is queries × nprobe × m × ksub rows — broadcast. Exact vectors
    * are only read for the refine set. Recall vs the exact baseline is
    * asserted in LlmSpec, same contract as e2/e3/e5.
    */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 4, ksub: Int = 16, iters: Int = 2, refine: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfpqQuery(buildIvfPq(corpus, nlist, m, ksub, iters, idCol, vecCol),
      queries, k, nprobe, refine, idCol, vecCol)

  def buildIvfPq(corpus: DataFrame, nlist: Int = 16,
                 m: Int = 4, ksub: Int = 16, iters: Int = 2,
                 idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    // same null/zero-norm exclusion as pqTopK (NaN poisoning; see there)
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    val dim = vecDim(corpus, vecCol)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val sub = dim / m

    // coarse stage: the same trained quantizer and list assignment as
    // ivfTopK (cosine is scale-invariant, so training runs on the raw
    // quantized vectors). trainIvfCentroids returns an eagerly
    // checkpointed frame already — no second checkpoint here.
    val centroids = trainIvfCentroids(c, nlist, iters)
    val lists = nearestCentroid(c, "_cv", centroids, 1) // (cid, _cv, _cl)
    // unit centroids for the residual subtraction. A Lloyd mean CAN
    // degenerate to exactly zero (integer-quantized members can cancel,
    // e.g. v and −v sharing a list); nearestCentroid's nanvl guard keeps
    // such a centroid from capturing any vector, and unitNorm drops its
    // label here, so the degenerate list is simply empty
    // (members reassign to their next-best centroid).
    val ucent = broadcast(
      unitNorm(centroids.select(col("_cl"), col("_centroid").as("_uc")), "_uc"))

    val cres = residuals(lists, "cid", "_cv", ucent)
    // keys carry _cl so the encoded corpus keeps its list label without a
    // second corpus-sized join (same localCheckpoint rationale as pqTopK)
    val csub = splitSub(cres, Seq("cid", "_cl"), "_rv", m, sub)
      .localCheckpoint(true)

    // deterministic init: residual subvectors of the ksub lowest-id
    // corpus vectors, read from the CHECKPOINTED csub (an orderBy/limit
    // on cres would re-run the coarse assignment + residual pipeline);
    // ONE codebook shared across lists (per-list codebooks are the other
    // classical variant — more memory, no win at these ksub)
    val lowCids = csub.select("cid").distinct().orderBy("cid").limit(ksub)
    val seed = csub.join(broadcast(lowCids), "cid")
      .withColumn("_code",
        (row_number().over(Window.partitionBy("_s").orderBy("cid")) - 1).cast("int"))
      .select(col("_s"), col("_code"), col("_sv").as("_cw"))
    // trainPqCodebook also checkpoints its result eagerly
    val codebook = trainPqCodebook(csub, Seq("cid", "_cl"), seed, iters)

    // the index: one list label + m codes per corpus vector
    val codes = assignCodes(csub, Seq("cid", "_cl"), codebook)
      .select("cid", "_cl", "_s", "_code")
      .localCheckpoint(true)

    IvfPqIndex(centroids, ucent, codebook, codes, c, m, sub)
  }

  /** Deterministic on-disk location for a persisted index variant over
    * `$dir/embeddings.parquet`: digest = source DIR + variant signature
    * (kind + every build parameter) — deliberately NOT the source file's
    * size/mtime, so regenerating the data reuses ONE directory per
    * (source, kind, params) instead of leaking an orphaned corpus-sized
    * index copy per regeneration. Staleness is handled by the
    * [[sourceStamp]] fingerprint stored INSIDE the index and compared on
    * load (through the Hadoop FileSystem, so it works for hdfs://s3a://
    * sources where java.io.File stats would be constant zeros). Root
    * overridable via GRAFT_INDEX_DIR (defaults to the JVM tmpdir, which
    * outlives any one Spark process in this container).
    */
  private def indexPath(dir: String, sig: String): String = {
    val root = sys.env.getOrElse("GRAFT_INDEX_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft-indexes")
    val key = s"$dir|$sig"
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$root/${sig.takeWhile(_ != '|')}_$hex"
  }

  /** Source-identity stamp: a digest of the embeddings file's recursive
    * data-file listing (read through the Hadoop FileSystem of the dir's
    * scheme) PLUS the canonicalized semantic hash of the corpus
    * DataFrame's logical plan.
    * The plan hash closes the (dir, params)-collision footgun: a caller
    * passing a FILTERED or otherwise different corpus from the same dir
    * gets a different stamp and a rebuild, instead of silently serving
    * an index trained on another corpus. Plan canonicalization
    * normalizes expression ids, so the same read pipeline produces the
    * same hash across JVM restarts — no spurious rebuilds for the
    * intended "pass the unfiltered $dir/embeddings.parquet table" call
    * shape, and no corpus-sized identity job on the load path.
    */
  private def sourceStamp(spark: org.apache.spark.sql.SparkSession,
                          dir: String, corpus: DataFrame): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    // Content-derived component: digest of the recursive DATA-file
    // listing (path|len|mtime per file). The top-level directory status
    // alone is not trustworthy — object stores (s3a) synthesize
    // directory mtimes, so a corpus that GREW between maintain calls
    // could otherwise stamp-match spuriously and the maintenance
    // early-return would serve a stale index missing the new vectors.
    // The listing digest changes whenever data files are added, removed,
    // replaced, or resized, and costs one metadata listing (O(#files) —
    // the same listing every read performs), never a data scan.
    val listing: Seq[String] =
      if (!st.isDirectory) Seq(s"${st.getLen}|${st.getModificationTime}")
      else {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith("."))
            buf += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
        }
        buf.sorted.toSeq
      }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(listing.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val planHash = corpus.queryExecution.logical.canonicalized.semanticHash()
    s"$digest|$planHash"
  }

  /** Serve the index at `path`, building and publishing it first when
    * its stored stamp does not match `stamp` — or always, under
    * `rebuild`. The IVF, MIPS-IVF, PQ and IVF-PQ entry points all run
    * this, and `load` always reads the published directory, so the query
    * path runs against the on-disk index (cold-loadable,
    * process-restart-safe), never against in-process training lineage.
    */
  private def loadOrBuild[I](spark: org.apache.spark.sql.SparkSession,
                             path: String, stamp: String,
                             rebuild: Boolean = false)
                            (save: String => Unit)(load: String => I): I = {
    if (rebuild || !indexFresh(spark, path, stamp))
      publishIndex(spark, path, stamp)(save)
    load(path)
  }

  /** Build into a staging directory next to `path`, stamp it, then
    * publish it with [[swapIn]] (`path.old-*` is the aside directory).
    * A build killed mid-way leaves only an orphaned staging dir. The
    * tombstone log lives OUTSIDE the swapped directory
    * ([[tombstonePath]]) precisely so no publish crash window can
    * destroy the right-to-erasure record.
    */
  private def publishIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, stamp: String)
                          (build: String => Unit): Unit = {
    val staging = s"$path.staging-${java.util.UUID.randomUUID().toString.take(8)}"
    build(staging)
    stampIndex(spark, staging, stamp)
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(
      s"$path.old-${java.util.UUID.randomUUID().toString.take(8)}")
    swapIn(fs, new org.apache.hadoop.fs.Path(staging), live,
      Option.when(fs.exists(live))(old))
  }

  /** Swap a staged directory in by RENAME-ASIDE: `live` → `aside`,
    * `staging` → `live`, delete `aside`. All three are metadata calls, so
    * the window where a CONCURRENT reader (another JVM sharing the index
    * root) could observe a half-written index shrinks from the whole
    * build to two FS calls. (True multi-writer coordination would need a
    * lock service; a per-run GRAFT_INDEX_DIR sidesteps the question
    * entirely.) The served directory is never DELETED before its
    * replacement is in place: a crash between the two renames leaves it
    * complete under `aside`, and a second rename that fails — by
    * returning false or by throwing — renames it back before the
    * IOException propagates. `aside` is None when nothing is served yet.
    * [[publishIndex]] and [[Dedup.compactLshIndex]] both swap here.
    */
  private[llm] def swapIn(fs: org.apache.hadoop.fs.FileSystem,
                          staging: org.apache.hadoop.fs.Path,
                          live: org.apache.hadoop.fs.Path,
                          aside: Option[org.apache.hadoop.fs.Path]): Unit = {
    aside.foreach { old =>
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"could not move aside $live -> $old")
    }
    try {
      if (!fs.rename(staging, live))
        throw new java.io.IOException(s"could not publish $staging -> $live")
    } catch {
      case e: java.io.IOException =>
        aside.foreach(fs.rename(_, live)) // restore the served index
        throw e
    }
    aside.foreach(fs.delete(_, true))
  }

  /** The stored stamp matches the current source — written LAST by
    * [[stampIndex]] (after the index tables), so it doubles as the
    * loadOrBuild completeness marker: a build killed at any point leaves
    * no stamp and rebuilds; a regenerated source mismatches and
    * rebuilds in place (no stale serve, no directory leak).
    */
  private def indexFresh(spark: org.apache.spark.sql.SparkSession,
                         path: String, stamp: String): Boolean = {
    val fp = new org.apache.hadoop.fs.Path(s"$path/_source_stamp")
    val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(fp) && {
      val in = fs.open(fp)
      try new String(in.readAllBytes(), "UTF-8") == stamp
      finally in.close()
    }
  }

  private def stampIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, stamp: String): Unit = {
    val fp = new org.apache.hadoop.fs.Path(s"$path/_source_stamp")
    val out = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(fp, true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
  }

  def ivfpqIndexPath(dir: String, nlist: Int, m: Int, ksub: Int,
                     iters: Int): String =
    indexPath(dir, s"ivfpq|$nlist|$m|$ksub|$iters")

  /** Persist a trained index. The three model tables are tiny parquet
    * files; `codes` — the corpus-sized payload — is PARTITIONED BY the
    * list label, so a query that probes `nprobe` lists reads
    * ≈ nprobe/nlist of the index from disk (partition pruning; asserted
    * on the read plan in the spec). That directory layout is what makes
    * a 100 TB index serveable: the scan cost of a query batch is bounded
    * by the lists it probes, not the corpus.
    *
    * `exact` is NOT persisted: the refine re-rank reads the raw vectors
    * from the base table, which at scale is the already-stored corpus,
    * not index state.
    */
  def saveIvfPq(index: IvfPqIndex, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.ucent.write.mode("overwrite").parquet(s"$path/ucent")
    index.codebook.write.mode("overwrite").parquet(s"$path/codebook")
    // dir-clustered write (see saveIvf)
    index.codes.repartition(col("_cl"))
      .write.mode("overwrite").partitionBy("_cl")
      .parquet(s"$path/codes")
    val spark = index.codes.sparkSession
    import spark.implicits._
    // meta last: its _SUCCESS is the load-side completeness marker, so a
    // partially-written index (killed mid-save) is rebuilt, never served.
    // n_base records the trained-corpus size — the denominator of the
    // delta-share retrain trigger ([[ivfpqDeltaFraction]]) — counted from
    // the JUST-WRITTEN parquet's row-group metadata (each vector is
    // exactly m code rows), not a distinct() that would re-run the whole
    // encode lineage plus a corpus-wide shuffle.
    val nBase = countCodeRows(spark, path) / index.m
    Seq((index.m, index.sub, nBase)).toDF("m", "sub", "n_base")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** True iff a complete persisted IVF-PQ index exists at `path` (the
    * meta table is written last — see [[saveIvfPq]]). Probed through the
    * Hadoop FileSystem of the path's scheme — the same filesystem the
    * writers use — so a non-local GRAFT_INDEX_DIR (hdfs://, s3a://)
    * works: a java.io.File probe would always say "missing" there and
    * silently retrain on every query.
    */
  private[llm] def indexComplete(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Schemas the IVF-PQ writers fix ([[saveIvfPq]], [[appendIvfPqDelta]]).
    * Every read of a persisted table declares one, so no read runs
    * Spark's schema-inference job over the table first (the
    * [[Dedup]] LSH meta discipline). All fields are nullable because a
    * parquet read reports them so; IvfPqSchemaSpec pins declared ≡
    * inferred for every table of a freshly built index.
    */
  private[llm] object IvfPqSchema {
    val meta: StructType = StructType.fromDDL("m INT, sub INT, n_base BIGINT")
    val centroids: StructType = StructType.fromDDL("_cl BIGINT, _centroid ARRAY<DOUBLE>")
    val ucent: StructType = StructType.fromDDL("_cl BIGINT, _uc ARRAY<DOUBLE>")
    val codebook: StructType = StructType.fromDDL("_s INT, _code INT, _cw ARRAY<DOUBLE>")
    /** `cid` has the type of the corpus id it was encoded from; `_cl` is
      * the partition column at the type partition discovery gives list
      * labels (INT), so the probe's list filter still prunes directories. */
    def codes(idType: DataType): StructType = StructType(Seq(
      StructField("cid", idType), StructField("_s", IntegerType),
      StructField("_code", IntegerType), StructField("_cl", IntegerType)))
  }

  /** The meta row of a complete persisted index (callers check
    * [[indexComplete]] first). A meta written before `n_base` existed
    * reads it as null. */
  private def readIvfPqMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String): org.apache.spark.sql.Row =
    spark.read.schema(IvfPqSchema.meta).parquet(s"$path/meta").head()

  /** Code rows of the persisted codes table — m per vector — from parquet
    * row-group metadata (no data scan). Only the `_s` column is declared:
    * a count reads none, and the id type is not needed to count. */
  private def countCodeRows(spark: org.apache.spark.sql.SparkSession,
                            path: String): Long =
    spark.read.schema("_s INT").parquet(s"$path/codes").count()

  /** The persisted codes table minus tombstoned ids. `_cl` is left as the
    * partition-discovered type: [[ivfpqQuery]] filters on it FIRST
    * (partition pruning needs the raw column), then normalizes to long.
    * Tombstoned ids are subtracted here — before any candidate can form. */
  private def readCodes(spark: org.apache.spark.sql.SparkSession, path: String,
                        idType: DataType): DataFrame =
    minusTombstones(
      spark.read.schema(IvfPqSchema.codes(idType)).parquet(s"$path/codes"),
      spark, path, "cid")

  /** Load a persisted index for querying. `corpus` supplies the exact
    * vectors for the refine re-rank (base table, not index state) and the
    * type of the codes' `cid`. Every table is read with its writer's
    * schema ([[IvfPqSchema]]): the only job is the meta row's read. The
    * partition-discovered `_cl` comes back as int — normalized to long
    * AFTER the probe-side list filter so partition pruning still sees the
    * raw partition column.
    */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                corpus: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): IvfPqIndex =
    loadIvfPqWith(spark, path, readIvfPqMeta(spark, path), corpus, idCol, vecCol)

  /** [[loadIvfPq]] over a meta row the caller already read. */
  private def loadIvfPqWith(spark: org.apache.spark.sql.SparkSession,
                            path: String, meta: org.apache.spark.sql.Row,
                            corpus: DataFrame, idCol: String,
                            vecCol: String): IvfPqIndex = {
    def table(name: String, schema: StructType) =
      spark.read.schema(schema).parquet(s"$path/$name")
    // the refine side loses tombstoned ids too
    val exact = minusTombstones(cleanVectors(corpus, idCol, vecCol, "cid", "_cv"),
      spark, path, "cid")
    IvfPqIndex(
      centroids = table("centroids", IvfPqSchema.centroids),
      ucent = broadcast(table("ucent", IvfPqSchema.ucent)),
      codebook = table("codebook", IvfPqSchema.codebook),
      codes = readCodes(spark, path, corpus.schema(idCol).dataType),
      exact = exact,
      m = meta.getAs[Int]("m"), sub = meta.getAs[Int]("sub"))
  }

  /** Build-once / query-forever through [[loadOrBuild]]: serve the
    * persisted index stamped for (dir, params, corpus); otherwise train,
    * persist and load back.
    */
  def loadOrBuildIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String,
                       corpus: DataFrame, nlist: Int = 16, m: Int = 4,
                       ksub: Int = 16, iters: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): IvfPqIndex =
    loadOrBuild(spark, ivfpqIndexPath(dir, nlist, m, ksub, iters),
      sourceStamp(spark, dir, corpus))(
      saveIvfPq(buildIvfPq(corpus, nlist, m, ksub, iters, idCol, vecCol), _))(
      loadIvfPq(spark, _, corpus, idCol, vecCol))

  /** Encode delta vectors against a FROZEN index model: coarse-assign to
    * the EXISTING centroids, residual against the existing unit
    * centroids, PQ codes from the existing codebook — the exact encode
    * pipeline of [[buildIvfPq]] minus all training. Output schema matches
    * the persisted codes table (cid, _cl, _s, _code).
    */
  def encodeIvfPqDelta(index: IvfPqIndex, delta: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val d = cleanVectors(delta, idCol, vecCol, "cid", "_cv")
    val lists = nearestCentroid(d, "_cv", index.centroids, 1)
    val dres = residuals(lists, "cid", "_cv", index.ucent)
    val dsub = splitSub(dres, Seq("cid", "_cl"), "_rv", index.m, index.sub)
    assignCodes(dsub, Seq("cid", "_cl"), index.codebook)
      .select("cid", "_cl", "_s", "_code")
  }

  /** Incremental index maintenance: merge a delta into the persisted
    * codes table at `path` WITHOUT retraining — new vectors are encoded
    * with the frozen model ([[encodeIvfPqDelta]]) and appended into their
    * list partitions (a metadata-committed parquet append: a crash
    * mid-append leaves only uncommitted temp files, never half-visible
    * rows). At 100 TB this is the difference between an O(delta) nightly
    * ingest and an O(corpus) retrain; the price is drift — appended
    * vectors are quantized by centroids/codebooks that never saw them —
    * which [[ivfpqRetrainDue]] bounds by delta share.
    *
    * `grownCorpus` (base ∪ delta) supplies exact vectors for the refine
    * re-rank of the returned index. The index is loaded once: the append
    * leaves the model tables as they were, so the returned index reuses
    * them and re-reads only the codes listing. Frequent small appends
    * accumulate small files per list partition; the full retrain that
    * [[maintainIvfPq]] eventually triggers doubles as the compaction.
    */
  def appendIvfPqDelta(spark: org.apache.spark.sql.SparkSession, path: String,
                       delta: DataFrame, grownCorpus: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): IvfPqIndex = {
    require(indexComplete(spark, path), s"no complete index at $path to append to")
    appendEncoded(spark, path, loadIvfPq(spark, path, grownCorpus, idCol, vecCol),
      delta, idCol, vecCol)
  }

  /** [[appendIvfPqDelta]] against an index the caller already loaded. */
  private def appendEncoded(spark: org.apache.spark.sql.SparkSession,
                            path: String, index: IvfPqIndex, delta: DataFrame,
                            idCol: String, vecCol: String): IvfPqIndex = {
    // dir-clustered write (see saveIvf)
    encodeIvfPqDelta(index, delta, idCol, vecCol).repartition(col("_cl"))
      .write.mode("append").partitionBy("_cl").parquet(s"$path/codes")
    index.copy(codes = readCodes(spark, path, index.exact.schema("cid").dataType))
  }

  /** (vectors at train, vectors now) for a persisted index, given its
    * meta row, or None when the meta predates the n_base field (read as
    * null) or records a degenerate base. The "now" count comes from
    * parquet row-group metadata (no data scan). ONE definition feeding
    * both [[ivfpqDeltaFraction]] and [[maintainIvfPq]]'s trigger, so the
    * counting scheme cannot drift between them.
    */
  private def ivfpqCounts(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          meta: org.apache.spark.sql.Row): Option[(Long, Long)] =
    if (meta.isNullAt(meta.fieldIndex("n_base"))) None
    else {
      val nBase = meta.getAs[Long]("n_base")
      if (nBase <= 0) None
      else Some((nBase, countCodeRows(spark, path) / meta.getAs[Int]("m")))
    }

  /** Share of the served index that was delta-appended since the last
    * full train: (vectors now − vectors at train) / vectors at train.
    * Pre-n_base indexes report 0 (never due — they predate the trigger;
    * the next full rebuild stamps them), and so does a missing or
    * incomplete index.
    */
  def ivfpqDeltaFraction(spark: org.apache.spark.sql.SparkSession,
                         path: String): Double =
    Option.when(indexComplete(spark, path))(readIvfPqMeta(spark, path))
      .flatMap(ivfpqCounts(spark, path, _))
      .map { case (nBase, nNow) => (nNow - nBase).toDouble / nBase }
      .getOrElse(0.0)

  /** Retrain trigger: the appended share crossed `maxDeltaFraction`.
    * Delta share is the right proxy for quantization drift here — every
    * appended vector is coded by a model trained without it, so ADC
    * error grows monotonically with the share of such vectors; a
    * distribution-shift statistic would catch drift sooner but needs a
    * baseline the index doesn't carry.
    */
  def ivfpqRetrainDue(spark: org.apache.spark.sql.SparkSession, path: String,
                      maxDeltaFraction: Double = 0.2): Boolean =
    ivfpqDeltaFraction(spark, path) > maxDeltaFraction

  /** `_pending_delta` marks an append IN FLIGHT. A parquet append whose
    * job never committed leaves no visible rows, but a crash BETWEEN the
    * append's commit and the restamp leaves committed delta rows with no
    * record that they landed — a naive retry would append the same delta
    * twice (duplicate code rows, duplicate query candidates). The marker
    * makes that window detectable: while it exists the index is treated
    * as possibly-half-merged and the only exit is a full retrain (which
    * replaces the whole directory, marker included).
    */
  private def pendingDeltaFlag(spark: org.apache.spark.sql.SparkSession,
                               path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$path/_pending_delta")

  private def pendingDelta(spark: org.apache.spark.sql.SparkSession,
                           path: String): Boolean = {
    val p = pendingDeltaFlag(spark, path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The retraction log lives BESIDE the index directory, not inside it:
    * [[publishIndex]] swaps `path` whole during a compacting retrain, and
    * a log inside the swapped directory would ride through every crash
    * window of the swap — losing the only record of pending retractions
    * is strictly worse than losing the index (a rebuild would silently
    * resurrect deleted vectors on the right-to-erasure path). Outside
    * the swap, the log survives any publish outcome and is cleared
    * explicitly AFTER a successful rename; a crash between the two
    * leaves a stale log whose subtraction against the already-compacted
    * index is a no-op anti-join (set-idempotent, same argument as the
    * t39 replay discipline).
    */
  private def tombstonePath(path: String): String = s"$path.tombstones"

  /** Logical DELETE for a persisted vector index: append the ids to the
    * sidecar log. The index tables are untouched — a physical in-place
    * delete would rewrite list partitions on every retraction, so
    * retraction is a metadata append and the read path subtracts
    * ([[loadIvf]]/[[loadIvfPq]] anti-join the tombstone set before any
    * candidate can form). Idempotent under retry: duplicate appends
    * collapse in the read-side distinct, and a crashed append commits no
    * rows. On an IVF-PQ index deleted ids stay dead until the next full
    * retrain physically drops them ([[maintainIvfPq]] folds the tombstone
    * share into its trigger, so heavy churn forces the compaction); an
    * IVF index is never maintained, so its deletes stay logical.
    * Re-using a deleted id for a NEW vector is outside the contract — ids
    * are a permanent namespace, the same contract as the LSH index
    * ([[Dedup.buildLshIndex]]).
    */
  def tombstoneIds(spark: org.apache.spark.sql.SparkSession, path: String,
                   ids: DataFrame, idCol: String = "vec_id"): Unit =
    TombstoneLog.append(tombstonePath(path), ids, idCol)

  def tombstoneCount(spark: org.apache.spark.sql.SparkSession,
                     path: String): Long =
    TombstoneLog.count(spark, tombstonePath(path))

  /** Logged retractions that actually INTERSECT the index — the count
    * the churn/compaction triggers use. The raw log length over-counts:
    * retraction requests for ids never indexed (or re-requested after a
    * compaction already dropped them) would inflate nTombs and force
    * spurious full retrains on a healthy index, so the trigger counts
    * only `tomb_id ∈ index ids` (semi-join against the codes table's id
    * column — one columnar scan of that column, paid only when a log
    * exists; the no-log common path stays job-free). The codes are read
    * with their writer's schema, `cid` at `idType`, so the scan runs no
    * schema-inference job first.
    * [[tombstoneCount]] stays the raw log length: specs assert append
    * idempotence with it, and callers asking "how many deletes were
    * requested" want the log, not the overlap. */
  private def tombstoneCountIndexed(spark: org.apache.spark.sql.SparkSession,
                                    path: String, idType: DataType): Long =
    TombstoneLog.read(spark, tombstonePath(path)) match {
      case None => 0L
      case Some(tb) =>
        val indexed = spark.read.schema(IvfPqSchema.codes(idType))
          .parquet(s"$path/codes")
          .select(col("cid").cast("string").as("tomb_id")).distinct()
        tb.join(indexed, Seq("tomb_id"), "left_semi").count()
    }

  /** Tombstone share alone crossed the churn threshold — the signal that
    * lets a maintain call on an otherwise-FRESH index still reach its
    * compacting retrain (deletes never move the source stamp). `counts`
    * is by-name so the steady-state short-circuit with NO log on disk
    * stays job-free — [[tombstoneCountIndexed]] answers 0 off one
    * fs.exists, and neither the meta nor the codes job runs. */
  private def tombstoneCompactionDue(spark: org.apache.spark.sql.SparkSession,
                                     path: String, maxDeltaFraction: Double,
                                     counts: => Option[(Long, Long)],
                                     idType: DataType): Boolean = {
    val nTombs = tombstoneCountIndexed(spark, path, idType)
    nTombs > 0 && counts.exists { case (nBase, _) =>
      nTombs.toDouble / nBase > maxDeltaFraction
    }
  }

  /** Subtract the tombstone set from an index-side table keyed by
    * `idCol` ([[TombstoneLog.subtract]] — broadcast anti-join; the
    * probe-side partition filter still pushes through a left-anti join
    * to the scan, so list pruning survives deletion). */
  private def minusTombstones(df: DataFrame,
                              spark: org.apache.spark.sql.SparkSession,
                              path: String, idCol: String): DataFrame =
    TombstoneLog.subtract(df, spark, tombstonePath(path), idCol)

  /** The maintenance entry point a scheduled ingest calls: append the
    * delta while the accumulated delta share (INCLUDING the incoming
    * batch) stays under `maxDeltaFraction`; once it crosses, full-retrain
    * on the grown corpus through the staged atomic publish — which also
    * compacts the appended partition files and resets the share to 0.
    * Either way the persisted index ends stamped for `grownCorpus`, so a
    * later [[loadOrBuildIvfPq]] with the same corpus serves it as-is.
    *
    * RETRY-SAFE: a crashed previous call cannot double-apply a delta —
    * if the index is already stamped for `grownCorpus` the merge
    * completed and is served as-is; if a `_pending_delta` marker is
    * present a previous append may have half-landed and the call falls
    * through to the full retrain, which rebuilds the directory from the
    * grown corpus exactly.
    */
  def maintainIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String,
                    delta: DataFrame, grownCorpus: DataFrame,
                    nlist: Int = 16, m: Int = 4, ksub: Int = 16,
                    iters: Int = 2, maxDeltaFraction: Double = 0.2,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): IvfPqIndex = {
    val path = ivfpqIndexPath(dir, nlist, m, ksub, iters)
    val stamp = sourceStamp(spark, dir, grownCorpus)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val complete = indexComplete(spark, path)
    val idType = grownCorpus.schema(idCol).dataType
    // read at most once per call, and only for a complete index: the meta
    // row feeds both triggers' counts and the append path's load
    lazy val meta = readIvfPqMeta(spark, path)
    lazy val counts = ivfpqCounts(spark, path, meta)
    if (complete && indexFresh(spark, path, stamp)
        && !tombstoneCompactionDue(spark, path, maxDeltaFraction,
          counts, idType)) {
      // this exact merge already completed (a retry after a crash between
      // stamp and marker-clear lands here — finish the cleanup). Deletes
      // don't move the source stamp, so the freshness short-circuit must
      // NOT swallow a compaction-due index — tombstone share past the
      // threshold falls through to the retrain below.
      fs.delete(pendingDeltaFlag(spark, path), false)
      return loadIvfPqWith(spark, path, meta, grownCorpus, idCol, vecCol)
    }
    // Churn share, not just delta share: tombstoned vectors degrade the
    // index too (dead rows scanned on every probe, served corpus drifting
    // from the trained one), so deletes count toward the same trigger —
    // heavy retraction forces the retrain, which doubles as the physical
    // compaction (the rebuild below excludes tombstoned ids, replaces the
    // directory and then clears the tombstone log).
    val deltaShare =
      if (!complete || pendingDelta(spark, path))
        Double.PositiveInfinity
      else counts
        .map { case (nBase, nNow) =>
          (nNow + delta.count() + tombstoneCountIndexed(spark, path, idType)
            - nBase).toDouble / nBase
        }
        .getOrElse(Double.PositiveInfinity)
    if (deltaShare > maxDeltaFraction) {
      // the tombstone log is a SIDECAR ([[tombstonePath]]) the publish
      // swap never touches; it is read lazily inside the staged build
      val liveCorpus = minusTombstones(grownCorpus, spark, path, idCol)
      loadOrBuild(spark, path, stamp, rebuild = true)(
        saveIvfPq(buildIvfPq(liveCorpus, nlist, m, ksub, iters, idCol, vecCol), _)) {
        p =>
          // the retrain CONSUMED the log (liveCorpus excluded every logged
          // id); it is cleared only after the publish rename succeeded — a
          // crash before this line leaves a stale log whose re-subtraction
          // is a no-op (set-idempotent), never a lost retraction
          TombstoneLog.drop(spark, tombstonePath(p))
          loadIvfPq(spark, p, grownCorpus, idCol, vecCol)
      }
    } else {
      // marker BEFORE the append, stamp after, clear last — every crash
      // window either serves the completed merge or forces the retrain
      fs.create(pendingDeltaFlag(spark, path), true).close()
      val merged = appendEncoded(spark, path,
        loadIvfPqWith(spark, path, meta, grownCorpus, idCol, vecCol), delta,
        idCol, vecCol)
      stampIndex(spark, path, stamp)
      fs.delete(pendingDeltaFlag(spark, path), false)
      merged
    }
  }

  def ivfpqQuery(index: IvfPqIndex, queries: DataFrame, k: Int,
                 nprobe: Int = 4, refine: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import index.{centroids, ucent, codebook, codes, m, sub}

    // query side: nprobe nearest lists, one residual PER PROBED LIST
    val q = cleanVectors(queries, idCol, vecCol, "query_id", "_qv")
    // checkpointed: consumed three times (label collect, residuals, and
    // through them the ADC table) — without the cut each consumer re-runs
    // the query-side centroid argmax
    val probes = nearestCentroid(q, "_qv", centroids, nprobe)
      .localCheckpoint(true) // (query_id, _qv, _cl)
    // Probed-list pruning: the distinct probed labels are bounded by
    // nlist (a model dimension, same bounded-collect class as the
    // centroid literals), so one tiny driver-side collect turns the codes
    // scan into a static list filter. On the persisted _cl-partitioned
    // layout ([[saveIvfPq]]) that is PARTITION pruning — the filter lands
    // on the raw partition column before the long cast, so a query batch
    // reads only the list directories it probes, ≈ nprobe/nlist of the
    // index (asserted on the read plan in IvfPqPersistSpec).
    val probedLabels = probes.select("_cl").distinct().collect()
      .map(_.getLong(0)).sorted
    val prunedCodes = codes.filter(col("_cl").isin(probedLabels: _*))
      .withColumn("_cl", col("_cl").cast("long"))
    val qres = residuals(probes.select("query_id", "_cl", "_qv"),
      "query_id", "_qv", ucent)
    val dtable = splitSub(qres, Seq("query_id", "_cl"), "_rv", m, sub)
      .join(broadcast(codebook), "_s")
      .withColumn("_d", l2dist(col("_sv"), col("_cw")))
      .select("query_id", "_cl", "_s", "_code", "_d")

    // ADC: the _cl equi-key IS the IVF pruning — a corpus code row only
    // meets the dtable rows of queries that probed its list. Each
    // surviving (query, cid) pair matches exactly m rows (a cid lives in
    // one list; dtable has all ksub codes per (query, list, subspace)).
    val adc = prunedCodes.join(broadcast(dtable), Seq("_cl", "_s", "_code"))
      .groupBy("query_id", "cid")
      .agg(sum(col("_d")).as("_adc"))
      .filter(col("query_id") =!= col("cid"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("_adc"), col("cid"))
    val shortlist = adc.withColumn("_rn", row_number().over(wAdc))
      .filter(col("_rn") <= refine * k)
      .select("query_id", "cid")

    // exact re-rank of the shortlist only
    val rescored = shortlist
      .join(q, "query_id")
      .join(index.exact, "cid")
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cid"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cid").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Train the IVF coarse quantizer on a static corpus and return the
    * centroids as DRIVER-SIDE literals (nlist × dim doubles — a
    * deliberate, bounded materialization). This is the handoff point to
    * streaming ingest: a stream cannot run the groupBy argmax
    * [[ivfTopK]]'s batch assignment uses, but it CAN evaluate a per-row
    * scalar expression over plan-time literal centroids
    * ([[assignToLiteralCentroids]]).
    */
  def trainCentroidLiterals(corpus: DataFrame, nlist: Int = 16, iters: Int = 2,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Seq[(Long, Seq[Double])] = {
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    trainIvfCentroids(c, nlist, iters)
      .select(col("_cl"), col("_centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq
  }

  /** Batch (relational groupBy-argmax) cluster assignment over GIVEN
    * centroid values — the equivalence twin of
    * [[assignToLiteralCentroids]]: both paths must produce identical
    * labels from the same centroids (asserted in VectorIngestSpec).
    */
  def clusterAssignments(corpus: DataFrame, centroids: Seq[(Long, Seq[Double])],
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    import corpus.sparkSession.implicits._
    val cdf = centroids.toDF("_cl", "_centroid").select(col("_centroid"), col("_cl"))
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    nearestCentroid(c, "_cv", cdf, 1)
      .select(col("cid").as(idCol), col("_cl").as("cluster"))
  }

  /** Stateless per-row nearest-centroid label over literal centroids —
    * the stream-safe form of the batch argmax (same cosine, same
    * (score, −label) tie-break, same NaN pinning, so streamed
    * assignments are bit-identical to [[ivfTopK]]'s list assignment;
    * asserted in IngestSpec). `vec` must already be [[quantized]].
    */
  def assignToLiteralCentroids(vec: Column,
                               centroids: Seq[(Long, Seq[Double])]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val best = array_max(array(centroids.map { case (l, cv) =>
      struct(nanvl(cosine(vec, typedLit(cv)), lit(-2.0)).as("_c"),
        lit(-l).as("_nl"))
    }: _*))
    (-best.getField("_nl")).cast("long")
  }

  /** Per-vector symmetric int8 quantization — the storage/bandwidth leg
    * of an embedding pipeline (a 100 TB float corpus ships as int8 + one
    * scale per vector at 4× compression before any indexing): scale =
    * max |component|, q = round(x·127 / scale) ∈ [−127, 127]. Promoted to
    * double before any arithmetic so the rounding boundary is
    * engine-exact (same rule as [[quantized]]); zero vectors quantize to
    * all-zero rather than NaN. Returns (id, amax, q).
    */
  def int8Quantize(vectors: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val d = vectors.filter(col(vecCol).isNotNull)
      .withColumn("_d", transform(col(vecCol), x => x.cast("double")))
      .withColumn("amax", array_max(transform(col("_d"), x => abs(x))))
    d.select(col(idCol), col("amax"),
      transform(col("_d"), x =>
        when(col("amax") === 0, lit(0L))
          .otherwise(round(x * 127 / col("amax")).cast("long"))).as("q"))
  }

  /** SemDeDup-style semantic deduplication (Abbas, Tirumala, Simig,
    * Ganguli, Morcos: "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023): cluster the embedding corpus
    * with the IVF coarse quantizer, then WITHIN each cluster drop every
    * vector that has a lower-id neighbor at cosine ≥ `threshold`
    * (greedy-by-id ε-ball representative selection — a chain a~b~c keeps
    * only `a`, matching the paper's one-per-ball policy without a
    * transitive-closure pass). Returns the surviving (idCol, cluster)
    * rows.
    *
    * Scale shape — the whole point of the clustering: the candidate join
    * is an equi-join on the cluster label, so the quadratic cosine
    * verification runs within clusters only (corpus²/nlist expected,
    * vs corpus² for [[cosineNearDupPairs]]). `nlist` should grow with the
    * corpus to keep expected cluster size bounded; a skewed cluster is a
    * skewed join key — salt it or split the cluster by re-clustering its
    * members (standard practice at web scale). Cross-cluster near-dups
    * are the accepted miss: at the high thresholds SemDeDup targets the
    * duplicates are near-identical vectors that co-cluster (coverage of
    * planted jittered copies is asserted ≥0.95 in LlmSpec); at low
    * thresholds the miss rate grows (measured 0.24–0.56 at τ=0.4 on the
    * weakly-associated synthetic corpus) — use [[cosineNearDupPairs]] or
    * SRP-banded pairs when low-τ recall matters.
    */
  def semDedup(corpus: DataFrame, threshold: Double,
               nlist: Int = 16, iters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = cleanVectors(corpus, idCol, vecCol, "cid", "_cv")
    val centroids = trainIvfCentroids(c, nlist, iters)
    // reused by both sides of the self-join and the final anti-join
    val lists = nearestCentroid(c, "_cv", centroids, 1).localCheckpoint(true)
    val a = lists.select(col("_cl"), col("cid").as("id1"), col("_cv").as("_v1"))
    val b = lists.select(col("_cl"), col("cid").as("id2"), col("_cv").as("_v2"))
    val dropped = a.join(b, "_cl").filter(col("id1") < col("id2"))
      .filter(cosine(col("_v1"), col("_v2")) >= threshold)
      .select(col("id2").as("cid")).distinct()
    lists.join(dropped, Seq("cid"), "left_anti")
      .select(col("cid").as(idCol), col("_cl").as("cluster"))
  }

  /** One MMR selection: (rank, id, λ·rel − μ·maxSim micro-quantized). */
  final case class MmrPick(sel_rank: Int, neighbor_id: Long, score_micro: Long)

  /** Greedy Maximal Marginal Relevance over one query's candidate set —
    * the diversity re-rank between retrieval and prompt/batch assembly
    * (dedup-at-selection-time: near-identical passages waste context).
    * Runs as a per-query UDF over the BOUNDED top-`k` candidate set: the
    * distributed part is the retrieval that built the candidates; re-
    * ranking 20 rows is O(k²·dim) local work, which is exactly where a
    * driver-free per-group kernel belongs.
    *
    * Cross-engine exactness (the e10 oracle replays all `select` greedy
    * steps as unrolled SQL): candidate vectors are the integer-valued
    * [[quantized]] doubles, so every dot product is EXACT regardless of
    * summation order; λ and μ are independent literals (0.7 and 0.3 —
    * never `1 − λ`, which is 0.30000000000000004 in binary64); scores are
    * compared as identically-computed doubles with an id tie-break, and
    * published micro-quantized with HALF_UP = DuckDB's round-half-away.
    */
  private[llm] def mmrGreedy(cands: Seq[(Long, Double, Seq[Double])],
                             select: Int, lambda: Double,
                             mu: Double): Seq[MmrPick] = {
    def dotL(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      dotL(a, b) / math.sqrt(dotL(a, a) * dotL(b, b))

    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
    var step = 1
    while (step <= select && remaining.nonEmpty) {
      var bestIdx = -1
      var bestScore = 0.0
      var bestId = 0L
      var i = 0
      while (i < remaining.length) {
        val (id, rel, vec) = remaining(i)
        var maxSim = 0.0
        var first = true
        selected.foreach { sv =>
          val sim = cos(vec, sv)
          if (first || sim > maxSim) { maxSim = sim; first = false }
        }
        // empty selected set: plain λ·rel (identical to λ·rel − μ·0.0)
        val score =
          if (selected.isEmpty) lambda * rel else lambda * rel - mu * maxSim
        if (bestIdx < 0 || score > bestScore ||
          (score == bestScore && id < bestId)) {
          bestIdx = i; bestScore = score; bestId = id
        }
        i += 1
      }
      val (id, _, vec) = remaining.remove(bestIdx)
      selected += vec
      out += MmrPick(step, id,
        java.math.BigDecimal.valueOf(bestScore * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
      step += 1
    }
    out.toSeq
  }

  /** Retrieval + MMR: exact top-`k` candidates per query (broadcast
    * queries, one window), then greedy λ/μ re-rank of the bounded set to
    * `select` diverse results. See [[mmrGreedy]] for the exactness
    * contract; `e10_mmr_rerank` hash-checks the whole pipeline against an
    * unrolled-step SQL oracle.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int, select: Int,
                lambda: Double = 0.7, mu: Double = 0.3,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(select > 0 && select <= k,
      s"select must be in 1..k: select=$select k=$k")
    // zero-norm guard (the semDedup discipline): a zero quantized vector
    // makes every cosine NaN, which would turn the greedy argmax into
    // "first candidate in nondeterministic collect_list order"
    def nonDegenerate(df: DataFrame): DataFrame =
      df.filter(col(vecCol).isNotNull &&
        dot(quantized(col(vecCol)), quantized(col(vecCol))) > 0)
    val cand = bruteForceTopK(nonDegenerate(queries), nonDegenerate(corpus),
      k, idCol, vecCol, keepVec = true)
    val sel = udf((cs: Seq[org.apache.spark.sql.Row]) =>
      mmrGreedy(cs.map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2))), select, lambda, mu))
    cand.groupBy("query_id")
      // collect_list order is nondeterministic; mmrGreedy's argmax scans
      // the WHOLE set each step, so its result is order-independent
      .agg(collect_list(struct(col("neighbor_id"), col("cosine"),
        col("_cv"))).as("_cands"))
      .select(col("query_id"), explode(sel(col("_cands"))).as("_s"))
      .select(col("query_id"), col("_s.sel_rank").as("sel_rank"),
        col("_s.neighbor_id").as("neighbor_id"),
        col("_s.score_micro").as("score_micro"))
  }

  /** Exact embedding-cosine near-duplicate pairs: every (id1 < id2) pair
    * with cosine ≥ threshold. The quadratic exact form — the verifier and
    * small-scale path; at corpus×corpus scale, bucket with
    * [[srpSignatureFast]] bands first (same pattern as [[lshTopK]]) so cost
    * is bounded by bucket occupancy. The caller controls probe-side
    * partitioning (a broadcast nested-loop join inherits it).
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(idCol), quantized(col(vecCol)).as("_v"))
    val a = v.select(col(idCol).as("id1"), col("_v").as("_v1"))
    val b = broadcast(v.select(col(idCol).as("id2"), col("_v").as("_v2")))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", cosine(col("_v1"), col("_v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Recall of an approximate result against the exact top-k. */
  def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    val hit = approx.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .count()
    val total = exact.count()
    if (total == 0) 1.0 else hit.toDouble / total
  }
}
