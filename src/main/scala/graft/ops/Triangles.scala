package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle enumeration over a canonical undirected edge list (u < v,
  * distinct): orient every edge, generate each wedge at its oriented
  * source, close wedges against the undirected edge set with a pure
  * equi-join. Each triangle is produced exactly once — at its first
  * vertex under the orientation's total order.
  *
  * Orientation is THE scale lever. The wedge join fans out Σ outdeg(v)²
  * rows; orienting low→high by (degree, id) caps every out-degree at
  * O(√m) (a vertex of degree d keeps only its ≥d-degree neighbors as
  * out-edges, and there are at most 2m/d of those), so the fan-out is
  * bounded by O(m^1.5) REGARDLESS of skew — a hot celebrity node in an
  * id-oriented enumeration generates C(deg, 2) wedges from whichever of
  * its neighbors have lower ids, which is the classic 100×-scale blow-up
  * (probed concretely in TrianglesSpec: a star's wedge count is C(n,2)
  * id-oriented vs 0 degree-oriented).
  */
object Triangles {

  /** Identity orientation: the canonical (u < v) edge is already
    * low-id → high-id. The oracle twin — same triangle set as
    * [[orientByDegree]], unbounded wedge fan-out under skew.
    */
  def orientById(e: DataFrame): DataFrame =
    e.select(col("u").as("s"), col("v").as("t"))

  /** Orient each edge toward the (degree, id)-larger endpoint. The
    * degree table is one count aggregation over edge endpoints — nodes ×
    * 16 bytes, which Catalyst/AQE broadcasts while it fits and
    * shuffle-joins beyond that (no hint on purpose: at 100× the node
    * table outgrows a broadcast and the equi-join shape still holds).
    */
  def orientByDegree(e: DataFrame): DataFrame =
    orientByDegree(e, degrees(e))

  /** Endpoint degrees of a canonical edge list: (node, d). */
  def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** Orientation over a CALLER-SUPPLIED degree table — for consumers
    * that need the degrees anyway (g5's coefficient denominator),
    * mirroring the SQL oracle's single reused deg CTE instead of
    * aggregating the edge list twice.
    */
  def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame = {
    val du = deg.select(col("node").as("u"), col("d").as("du"))
    val dv = deg.select(col("node").as("v"), col("d").as("dv"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e.join(du, "u").join(dv, "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"))
  }

  /** Wedges at each oriented source: unordered out-neighbor pairs,
    * canonicalized (least, greatest). This frame's row count IS the
    * Σ C(outdeg, 2) cost functional the orientation bounds — exposed for
    * the fan-out probes in TrianglesSpec. [[triangles]] does NOT
    * materialize it: the adjacency-intersection form below does the same
    * work inside a per-edge kernel instead of shuffling the wedge set.
    */
  def wedges(oriented: DataFrame): DataFrame = {
    val w1 = oriented.select(col("s"), col("t").as("_t1"))
    val w2 = oriented.select(col("s"), col("t").as("_t2"))
    w1.join(w2, "s").filter(col("_t1") < col("_t2"))
      .select(col("s"),
        least(col("_t1"), col("_t2")).as("u"),
        greatest(col("_t1"), col("_t2")).as("v"))
  }

  /** One row per triangle: for each oriented base edge a→b, the third
    * vertices are N⁺(a) ∩ N⁺(b) (each triangle closes exactly once, at
    * its orientation-lowest edge — the oriented edges alone determine
    * the triangle set, so this is the kernel's ONLY input). Adjacency-
    * list intersection instead of a wedge self-join: the heavy
    * intermediate is m rows carrying two out-neighbor arrays — per-row
    * work O(outdeg(a) + outdeg(b)), total O(m^1.5) after degree
    * orientation — rather than a Σ outdeg²-row wedge shuffle (measured
    * 14.8 s → the array form at sf0.1's 1.2M-edge co-purchase graph; the
    * wedge form's 41M-row exchange was the entire gap). An edge whose
    * head has no out-neighbors can close nothing: the inner join drops
    * it.
    */
  def triangles(oriented: DataFrame): DataFrame = {
    // The orientation subtree (degree agg + two joins) is referenced three
    // times below (base edges, N⁺(a), N⁺(b)) and the adjacency aggregation
    // twice — without lineage cuts the physical plan replays the whole
    // orientation per reference (measured in g3's plan: the degree
    // Union+HashAggregate appeared 4×, 34 Exchanges total). Materialize
    // each ONCE: m oriented edges + one adjacency row per source vertex.
    val o = oriented.localCheckpoint(false)
    val adj = o.groupBy(col("s"))
      .agg(collect_list(col("t")).as("_nbrs"))
      .localCheckpoint(false)
    val na = adj.select(col("s").as("a"), col("_nbrs").as("_na"))
    val nb = adj.select(col("s").as("b"), col("_nbrs").as("_nb"))
    o.select(col("s").as("a"), col("t").as("b"))
      .join(na, "a").join(nb, "b")
      .select(col("a"), col("b"),
        explode(array_intersect(col("_na"), col("_nb"))).as("c"))
  }

  /** Per-node triangle participation counts — one pass over the triangle
    * set (a union of three projections would re-run the wedge join per
    * branch).
    */
  def perNodeCounts(oriented: DataFrame): DataFrame =
    triangles(oriented)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** The canonical co-purchase projection shared by g3/g3b/g4/g5 and
    * the specs: parts sharing an order, one (u < v) edge per pair,
    * distinct, lineage-cut (the edge list feeds degree builds,
    * orientation joins, and closing joins). ONE definition so the
    * entries and their spec twins can never drift apart.
    * `lineitem` may be pre-filtered (g3b's bounded scope).
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val lp = lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    lp.as("x").join(lp.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("u"), col("y.p").as("v"))
      .distinct()
      .localCheckpoint(false)
  }

  /** WEIGHTED co-purchase projection: the same canonical (u < v) pairs
    * as [[coPurchaseEdges]] carrying `cnt` = number of shared orders —
    * for consumers that need edge strength (g7's similarity distance).
    * One definition beside the unweighted helper so the projection
    * semantics (distinct (o, p), o-equal / p< self-join) cannot drift
    * between them; lineage-cut for the same fan-out reasons.
    */
  def coPurchaseWeights(lineitem: DataFrame): DataFrame = {
    val lp = lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    lp.as("x").join(lp.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("u"), col("y.p").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
  }
}
