package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a duplicate-pair graph: the step that turns
  * near-dup PAIRS (Jaccard / SimHash / embedding) into dedup CLUSTERS with
  * one survivor each — the reference's merge-group construction
  * (find_duplicates.py:28-31) runs this on the driver over tiny pair sets;
  * at corpus scale the graph must stay distributed.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with itself; each round every node takes the min label in its closed
  * neighborhood; converges in O(graph diameter) rounds. Near-dup graphs
  * are dense clusters with tiny diameters (2-3), so the round count stays
  * small at any corpus size — the classic alternative for high-diameter
  * graphs (large-star/small-star) costs the same per round and only wins
  * on chain-shaped graphs that dedup clusters don't produce.
  *
  * Each round is one shuffle join + one aggregation; intermediate labels
  * are persisted and the lineage cut per round (localCheckpoint) so the
  * plan doesn't grow exponentially with iterations. Convergence detection
  * rides the same aggregation: each node's own row carries its previous
  * label through the min-agg, so "did anything change" is a filter+count
  * over the checkpointed round output — no second O(V) join per round.
  */
object Components {

  /** @param edges two-column DataFrame of undirected edges (id1, id2)
    * @return (id, component) — component = min node id reachable
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          id1: String = "id1", id2: String = "id2"): DataFrame =
    connectedComponentsCounted(edges, maxIter, id1, id2)._1

  /** [[connectedComponents]] plus the executed round count, which
    * ComponentsSpec compares with the big-star path's alternations on
    * high-diameter graphs. */
  private[graft] def connectedComponentsCounted(
      edges: DataFrame, maxIter: Int = 25,
      id1: String = "id1", id2: String = "id2"): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val sym = edges.select(col(id1).as("src"), col(id2).as("dst"))
      .union(edges.select(col(id2).as("src"), col(id1).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = sym.select(col("src").as("id")).distinct()
        .withColumn("component", col("id"))
        .localCheckpoint(true)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // min over the closed neighborhood: own label ∪ neighbors' labels.
        // Own rows carry their current label in `old` (neighbors carry a
        // typed null, which min() ignores), so the previous label survives
        // the aggregation and change detection is a local filter+count.
        val own = labels.select(col("id"), col("component"),
          col("component").as("old"))
        val viaEdges = sym.join(labels, sym("dst") === labels("id"))
          .select(col("src").as("id"), col("component"),
            when(lit(false), col("component")).as("old"))
        // LAZY checkpoint: the change-detection count below is the round's
        // materializing action, so checkpoint + convergence test share ONE
        // job per round (eager localCheckpoint spent a separate job just to
        // materialize, then a second to count — 2 scheduler round-trips per
        // round for the same passes over the data).
        val next = own.unionByName(viaEdges)
          .groupBy("id")
          .agg(min(col("component")).as("component"), min(col("old")).as("old"))
          .localCheckpoint(false)
        val changed = next.filter(col("component") =!= col("old")).count()
        labels = next.select("id", "component")
        converged = changed == 0
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      (labels, iter)
    } finally sym.unpersist()
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the
    * HIGH-DIAMETER scale path: converges in O(log n) alternations
    * regardless of graph shape, where [[connectedComponents]]'s
    * min-label propagation needs O(diameter) rounds (fine for dedup
    * clusters, ruinous for chain-shaped graphs — k-NN chains, citation
    * threads, linked crawls). Same output contract: (id, component),
    * component = min reachable id.
    *
    *   - large-star: every node u computes m = min(N(u) ∪ {u}) and
    *     re-points its STRICTLY LARGER neighbors at m;
    *   - small-star: edges orient (big → small), every node re-points
    *     its smaller-or-equal neighborhood (and itself) at its min.
    *
    * Both steps are a map-side-combinable groupBy(min) + one equi-join
    * back to the edge list — no per-node neighbor collection, so a hub's
    * neighborhood never materializes in a single task (the skew story at
    * 100 TB: fan-out is bounded by the edge list itself). Each
    * alternation cuts lineage (localCheckpoint); convergence = edge set
    * fixpoint (count + exceptAll — exact, not probabilistic). At the
    * fixpoint the relation is a star forest: one (member → root) edge
    * per non-root node.
    */
  def connectedComponentsBigStar(edges: DataFrame, maxIter: Int = 25,
                                 id1: String = "id1",
                                 id2: String = "id2"): DataFrame =
    connectedComponentsBigStarCounted(edges, maxIter, id1, id2)._1

  /** [[connectedComponentsBigStar]] plus the executed alternation count
    * (ComponentsSpec's O(log n) evidence). */
  private[graft] def connectedComponentsBigStarCounted(
      edges: DataFrame, maxIter: Int = 25,
      id1: String = "id1", id2: String = "id2"): (DataFrame, Int) = {
    var rel = edges.select(col(id1).as("u"), col(id2).as("v"))
      .union(edges.select(col(id2).as("u"), col(id1).as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    // edge count of the current rel, carried across alternations so the
    // fixpoint test never re-counts the previous round's output (the count
    // is also the lazy checkpoint's materializing action)
    var prevCount = rel.count()
    var converged = prevCount == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star over the symmetric closure of rel
      val sym = rel.select(col("u"), col("v"))
        .union(rel.select(col("v").as("u"), col("u").as("v")))
        .distinct()
      val lMins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(lMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star over (big → small) oriented edges
      val o = large.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).distinct()
      val sMins = o.groupBy("u").agg(min(col("v")).as("m"))
      // LAZY checkpoint: the count below materializes it — one job instead
      // of a separate eager-materialize job plus a count job
      val small = o.join(sMins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      // exact fixpoint test: equal counts + empty difference ⇒ equal sets
      // (both sides are distinct). The anti-join replaces exceptAll —
      // set-equivalent over distinct inputs, but joinable (AQE broadcasts
      // the small side) where exceptAll always re-shuffles BOTH sides; the
      // previous round's count is carried, not recomputed.
      val nSmall = small.count()
      converged = nSmall == prevCount &&
        small.join(rel, Seq("u", "v"), "left_anti").isEmpty
      prevCount = nSmall
      rel = small
      iter += 1
    }
    require(converged,
      s"connectedComponentsBigStar did not converge in $maxIter alternations")
    // star forest: (member → root) per non-root; roots label themselves
    (rel.select(col("u").as("id"), col("v").as("component"))
      .unionByName(rel.select(col("v").as("id"), col("v").as("component")))
      .distinct(), iter)
  }

  /** Dedup clusters from near-dup pairs: survivor = min id per component,
    * one row per component with its member list (the distributed analog of
    * find_duplicates.py's merge groups).
    *
    * @param maxMembers member-list clamp, 0 = unlimited (the reference's
    *   full merge-group contract, and the default the d7/d7b/d9 oracles
    *   verify). At 100 TB a degenerate mega-cluster (boilerplate-dominated
    *   corpora produce them) would land its whole membership in ONE row
    *   built by one task; pass a positive clamp to cap the row (the
    *   smallest `maxMembers` ids survive — deterministic, and the
    *   survivor-relevant prefix since survivor = min). `n_members` stays
    *   the EXACT component size either way, so clamped rows are
    *   detectable (`n_members > size(members)`), and [[membership]] is
    *   the row-per-member form that never builds a big row at all.
    */
  def dedupClusters(edges: DataFrame, id1: String = "id1",
                    id2: String = "id2", maxMembers: Int = 0): DataFrame =
    clusters(connectedComponents(edges, id1 = id1, id2 = id2), maxMembers)

  /** [[dedupClusters]] through the [[connectedComponentsBigStar]] scale
    * path — identical output by construction (shared oracle in d7b).
    */
  def dedupClustersBigStar(edges: DataFrame, id1: String = "id1",
                           id2: String = "id2", maxMembers: Int = 0): DataFrame =
    clusters(connectedComponentsBigStar(edges, id1 = id1, id2 = id2), maxMembers)

  /** The scale-safe long form of [[dedupClusters]]: one (survivor,
    * member) row per node — no per-component row ever materializes, so a
    * mega-cluster costs rows, not one unbounded row in one task. This is
    * the artifact a 100 TB dedup JOIN actually consumes (drop rows where
    * member ≠ survivor); the list form exists for the reference's
    * merge-group report shape.
    */
  def membership(edges: DataFrame, id1: String = "id1",
                 id2: String = "id2"): DataFrame =
    connectedComponents(edges, id1 = id1, id2 = id2)
      .select(col("component").as("survivor"), col("id").as("member"))

  private def clusters(labels: DataFrame, maxMembers: Int = 0): DataFrame =
    if (maxMembers > 0) {
      // Clamp BEFORE the collect so neither the agg buffer nor the output
      // row ever holds more than maxMembers ids (slicing after a full
      // collect_list would still build the unbounded buffer). The window
      // and the groupBy share the partitioning key, so the clamp adds a
      // within-partition sort, not a second shuffle.
      import org.apache.spark.sql.expressions.Window
      val byId = Window.partitionBy("component").orderBy("id")
      val whole = Window.partitionBy("component")
      labels
        .withColumn("_rn", row_number().over(byId))
        .withColumn("_n", count(lit(1)).over(whole))
        .filter(col("_rn") <= maxMembers)
        .groupBy("component")
        .agg(sort_array(collect_list(col("id"))).as("members"),
          max(col("_n")).as("n_members"))
        .select(col("component").as("survivor"), col("members"), col("n_members"))
    } else
      labels
        .groupBy("component")
        .agg(sort_array(collect_list(col("id"))).as("members"),
          count(lit(1)).as("n_members"))
        .select(col("component").as("survivor"), col("members"), col("n_members"))
}
