package graft.llm

import graft.SparkSpec

/** Distributed connected components: chains, separate clusters, and the
  * cluster summary (survivor = min id).
  */
class ComponentsSpec extends SparkSpec {

  import spark.implicits._

  test("chains collapse to one component across rounds; clusters stay separate") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), clique 10-11-12,
    // pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val got = Components.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dedupClusters summarizes members and survivor per component") {
    val edges = Seq((5L, 3L), (3L, 9L), (100L, 101L)).toDF("id1", "id2")
    val got = Components.dedupClusters(edges).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    assert(got == Set((3L, Seq(3L, 5L, 9L), 3L), (100L, Seq(100L, 101L), 2L)))
  }

  test("maxMembers clamps the member row on a star graph; counts stay exact") {
    // a star: hub 0 joined to 1..200 — the degenerate mega-cluster shape
    // (boilerplate-dominated corpora) whose full member list would land
    // in one unbounded row built by one task at 100 TB
    val star = (1L to 200L).map(i => (0L, i)).toDF("id1", "id2")
    for (clamp <- Seq(1, 5, 64)) {
      val got = Components.dedupClusters(star, maxMembers = clamp).collect()
      assert(got.length === 1)
      val (survivor, members, n) =
        (got(0).getLong(0), got(0).getSeq[Long](1), got(0).getLong(2))
      assert(survivor === 0L)
      // smallest `clamp` ids survive (deterministic, includes the survivor)
      assert(members === (0L until clamp.toLong).toSeq)
      // n_members is the EXACT size, so clamped rows are detectable
      assert(n === 201L)
    }
    // clamp larger than the component and the default are both the full list
    val full = Components.dedupClusters(star, maxMembers = 1000).collect()
    assert(full(0).getSeq[Long](1) === (0L to 200L).toSeq)
    val dflt = Components.dedupClusters(star).collect()
    assert(dflt(0).getSeq[Long](1) === (0L to 200L).toSeq)
    // bigstar path honors the same clamp
    val bs = Components.dedupClustersBigStar(star, maxMembers = 5).collect()
    assert(bs(0).getSeq[Long](1) === (0L to 4L).toSeq && bs(0).getLong(2) === 201L)
  }

  test("membership long form emits one row per node — never a big row") {
    val edges = Seq((5L, 3L), (3L, 9L), (100L, 101L)).toDF("id1", "id2")
    val got = Components.membership(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((3L, 3L), (3L, 5L), (3L, 9L), (100L, 100L), (100L, 101L)))
    // star graph: row count = node count, no aggregation anywhere
    val star = (1L to 200L).map(i => (0L, i)).toDF("id1", "id2")
    assert(Components.membership(star).count() === 201L)
  }

  test("non-convergence inside maxIter fails loudly") {
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    intercept[IllegalArgumentException] {
      Components.connectedComponents(edges, maxIter = 2)
    }
  }

  // ---- large-star/small-star scale path (d7b) -------------------------

  test("bigstar: deep chain converges in O(log n) alternations, all to min") {
    // a 300-node path — min-label propagation would need ~300 rounds;
    // the alternating algorithm must land it well inside 25 (expected
    // ~log2(300) ≈ 9). Ids deliberately DESCEND along the chain so the
    // min sits at the far end (the adversarial orientation).
    val n = 300L
    val edges = (1L until n).map(i => (n - i + 1, n - i)).toDF("id1", "id2")
    val got = Components.connectedComponentsBigStar(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n.toInt)
    assert(got.values.toSet == Set(1L), s"all ${n} chain nodes reach min 1")
  }

  test("bigstar == min-label propagation on random graphs") {
    val rnd = new scala.util.Random(20260815L)
    (1 to 6).foreach { k =>
      // a mix of shapes: sparse random edges over a small id space makes
      // multi-component graphs with chains, cycles, and hubs
      val nNodes = 30 + rnd.nextInt(40)
      val nEdges = 20 + rnd.nextInt(50)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("id1", "id2")
        val viaLabels = Components.connectedComponents(df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaStar = Components.connectedComponentsBigStar(df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(viaStar === viaLabels, s"divergence on random graph #$k ($edges)")
      }
    }
  }

  test("bigstar alternations stay logarithmic on 64-node chains; min-label rounds track the diameter") {
    // parallel chains of diameter 63, the shape the big-star path exists
    // for: labels must equal the closed form (chain c's component is its
    // first id) and min-label propagation's, while big-star needs
    // O(log L) alternations and min-label O(diameter) rounds
    val chainLen = 64L
    val nNodes = 4 * chainLen
    val edges = (0L until nNodes).filter(_ % chainLen != chainLen - 1)
      .map(i => (i, i + 1)).toDF("id1", "id2")
    val (bs, alternations) =
      Components.connectedComponentsBigStarCounted(edges, maxIter = 25)
    val viaStar = bs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar.size === nNodes, s"bigstar labeled ${viaStar.size} of $nNodes nodes")
    val wrong = viaStar.count { case (id, c) => c != id / chainLen * chainLen }
    assert(wrong === 0, s"bigstar labels diverge from the closed form on $wrong nodes")
    val (ml, rounds) = Components.connectedComponentsCounted(edges, maxIter = 80)
    assert(ml.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === viaStar,
      "bigstar and min-label propagation disagree on the chain graph")
    assert(alternations <= 16,
      s"bigstar needed $alternations alternations on a 64-chain, not O(log n)")
    assert(rounds >= chainLen / 2,
      s"min-label converged in $rounds rounds on diameter ${chainLen - 1}: " +
        "the chains are not exercising the high-diameter case")
  }

  test("bigstar: self-loops and duplicate edges are harmless; empty graph is empty") {
    val edges = Seq((7L, 7L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("id1", "id2")
    val got = Components.connectedComponentsBigStar(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the pure self-loop node contributes no real edge and vanishes with
    // it (matching the d7 oracle, which only labels nodes of real edges)
    assert(got === Map(1L -> 1L, 2L -> 1L))
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Components.connectedComponentsBigStar(empty).isEmpty)
  }
}
