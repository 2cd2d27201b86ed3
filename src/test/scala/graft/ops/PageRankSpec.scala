package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.util.Random

/** PageRank (integer-exact): hand-checkable fixed points, a naive
  * driver-side replay on a random graph, and partitioning determinism.
  */
class PageRankSpec extends SparkSpec {

  /** Driver-side replay of the exact integer recurrence. */
  private def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 0 until iters) {
      val in = edges
        .flatMap { case (s, d) => r.get(s).map(rs => d -> rs / deg(s)) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      r = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int, parts: Int = 5): Map[Long, Long] = {
    import spark.implicits._
    PageRank.run(edges.toDF("src", "dst").repartition(parts), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("symmetric 2-cycle is a fixed point at 1,000,000") {
    val edges = Seq((1L, 2L), (2L, 1L))
    assert(run(edges, 3) == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("star center outranks leaves") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).flatMap {
      case (a, b) => Seq((a, b), (b, a))
    }
    val r = run(edges, 3)
    assert(r(0L) > r(1L))
    assert(r(1L) == r(2L) && r(2L) == r(3L))
  }

  test("matches the naive integer replay on a random graph") {
    val rng = new Random(13)
    val edges = (0 until 300).map { _ =>
      (rng.nextInt(40).toLong, rng.nextInt(40).toLong)
    }.distinct.filter { case (a, b) => a != b }
    assert(run(edges, 4) == naive(edges, 4))
  }

  test("result is independent of input partitioning") {
    val rng = new Random(29)
    val edges = (0 until 200).map { _ =>
      (rng.nextInt(25).toLong, rng.nextInt(25).toLong)
    }.distinct.filter { case (a, b) => a != b }
    assert(run(edges, 3, parts = 1) == run(edges, 3, parts = 11))
  }

  test("disjoint copies of the trade graph land on identical ranks") {
    // R copies of the sf0.001 customer<->supplier graph, ids shifted by a
    // stride taken from the data: every copy of a node must get the same
    // rank, and every node must appear in every copy. A divergence is a
    // partitioning or ordering leak into the arithmetic.
    val replicas = 3
    val dir = "/root/testdata/sf0.001"
    val eo = graft.Tables.t(spark, dir, "orders").select("o_orderkey", "o_custkey")
      .join(graft.Tables.t(spark, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val base = eo.unionByName(eo.select(col("dst").as("src"), col("src").as("dst")))
    val stride = base.agg(greatest(max("src"), max("dst"))).head.getLong(0) + 1
    val graph = (0 until replicas).map { k =>
      base.select((col("src") + k * stride).as("src"), (col("dst") + k * stride).as("dst"))
    }.reduce(_ unionByName _).repartition(7)
    val perNode = PageRank.run(graph, iterations = 3)
      .groupBy((col("node") % stride).as("base_node"))
      .agg(countDistinct(col("rank_micro")).as("nr"), count(lit(1)).as("copies"))
    assert(perNode.count() > 0)
    val bad = perNode.filter(col("nr") =!= 1 || col("copies") =!= replicas).count()
    assert(bad === 0, s"$bad base nodes diverged across replicas")
  }

  test("dangling mass is dropped, not redistributed") {
    // 1 -> 2 only: node 2 has no out-edges; its mass vanishes each round
    val r = run(Seq((1L, 2L)), 2)
    assert(r == naive(Seq((1L, 2L)), 2))
    // node 1 receives nothing: floor of the damping base alone
    assert(r(1L) == 150000L)
  }
}
