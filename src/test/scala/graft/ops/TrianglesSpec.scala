package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TrianglesSpec extends SparkSpec {

  import spark.implicits._

  private def copurchaseEdges(dir: String) =
    Triangles.coPurchaseEdges(graft.Tables.t(spark, dir, "lineitem"))

  test("degree-oriented enumeration equals id-oriented on the full graph") {
    val e = copurchaseEdges("/root/testdata/sf0.001")
    // full per-node equality (not just top-20): orientation must change
    // the enumeration order only, never the triangle set
    val byDeg = Triangles.perNodeCounts(Triangles.orientByDegree(e))
      .as[(Long, Long)].collect().toMap
    val byId = Triangles.perNodeCounts(Triangles.orientById(e))
      .as[(Long, Long)].collect().toMap
    assert(byDeg.nonEmpty, "no triangles in the sf0.001 co-purchase graph")
    assert(byDeg === byId,
      s"orientations disagree on ${byDeg.size} vs ${byId.size} nodes")
  }

  test("triangle plan: equi-joins only — no cartesian, no nested-loop") {
    val e = copurchaseEdges("/root/testdata/sf0.001")
    val plan = Triangles.perNodeCounts(Triangles.orientByDegree(e))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "triangle pipeline planned a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "triangle pipeline planned a nested-loop join")
  }

  test("disjoint copies of the co-purchase graph get identical per-node counts") {
    // Degrees replicate exactly and ids shift by a stride per copy, so the
    // (degree, id) tie-break order, and with it the enumeration, is
    // isomorphic across copies. Every copy of a node must count the same
    // triangles; a divergence means orientation or intersection leaked
    // partitioning order.
    val replicas = 3
    val e = copurchaseEdges("/root/testdata/sf0.001")
    val stride = e.agg(greatest(max("u"), max("v"))).head.getLong(0) + 1
    val graph = (0 until replicas).map { k =>
      e.select((col("u") + k * stride).as("u"), (col("v") + k * stride).as("v"))
    }.reduce(_ unionByName _)
    val perNode = Triangles.perNodeCounts(Triangles.orientByDegree(graph))
      .groupBy((col("node") % stride).as("base_node"))
      .agg(countDistinct(col("n_triangles")).as("nc"), count(lit(1)).as("copies"))
    assert(perNode.count() > 0, "no triangles in the sf0.001 co-purchase graph")
    val bad = perNode.filter(col("nc") =!= 1 || col("copies") =!= replicas).count()
    assert(bad === 0, s"$bad base nodes diverged across replicas")
  }

  test("star graph: id-oriented wedge fan-out is C(n,2), degree-oriented is 0") {
    // K_{1,n} with the hot center at id 0: id-orientation points every
    // edge OUT of the center (lowest id), so the center generates all
    // C(n, 2) wedges — the skew blow-up. Degree orientation points every
    // edge INTO the center (highest degree), so no vertex has two
    // out-edges and the wedge set is empty. None of the wedges close
    // (a star has no triangles), so only the orientation separates the
    // two costs.
    val n = 200
    val e = (1 to n).map(i => (0L, i.toLong)).toDF("u", "v")
    val idWedges = Triangles.wedges(Triangles.orientById(e)).count()
    val degWedges = Triangles.wedges(Triangles.orientByDegree(e)).count()
    assert(idWedges === n.toLong * (n - 1) / 2,
      s"id-oriented star wedge count $idWedges != C($n,2)")
    assert(degWedges === 0L,
      s"degree-oriented star wedge count $degWedges != 0")
    // and both agree there are no triangles
    assert(Triangles.triangles(Triangles.orientById(e)).count() === 0L)
    assert(Triangles.triangles(Triangles.orientByDegree(e)).count() === 0L)
  }

  test("replicated skewed graph: oriented fan-out stays bounded as hubs grow") {
    // Replica probe: R disjoint copies of (hub star + a few
    // triangles). As the hub degree h doubles, id-oriented wedges grow
    // ~h² while degree-oriented wedges stay ~triangle-local. Both
    // enumerations must still agree on every copy's triangle counts.
    def skewed(r: Int, h: Int) = {
      val rows = (0 until r).flatMap { copy =>
        val base = copy.toLong * 1000000L
        val star = (1 to h).map(i => (base, base + i))
        // two triangles DISJOINT from the star (node ids above any spoke)
        // so the copy's triangle count is exactly 2 however hot the hub is
        val tris = Seq((base + 601, base + 602), (base + 602, base + 603),
          (base + 601, base + 603), (base + 701, base + 702),
          (base + 702, base + 703), (base + 701, base + 703))
        star ++ tris
      }
      rows.toDF("u", "v").distinct()
    }
    val small = skewed(4, 50)
    val big = skewed(4, 200) // hubs 4× hotter, same triangle structure
    def wedgeCounts(e: org.apache.spark.sql.DataFrame) = (
      Triangles.wedges(Triangles.orientById(e)).count(),
      Triangles.wedges(Triangles.orientByDegree(e)).count())
    val (idSmall, degSmall) = wedgeCounts(small)
    val (idBig, degBig) = wedgeCounts(big)
    // id-oriented cost scales superlinearly with hub degree...
    assert(idBig.toDouble / idSmall > 8.0,
      s"expected ~16x id-oriented growth, got $idSmall -> $idBig")
    // ...degree-oriented cost doesn't move with the hub at all
    assert(degBig === degSmall,
      s"degree-oriented wedges should be hub-independent: $degSmall -> $degBig")
    // both orientations still count the same triangles (2 per copy x 3 nodes)
    val cnts = Triangles.perNodeCounts(Triangles.orientByDegree(big))
    assert(cnts.agg(sum("n_triangles")).head.getLong(0) === 4L * 2 * 3)
    val cntsId = Triangles.perNodeCounts(Triangles.orientById(big))
      .as[(Long, Long)].collect().toMap
    assert(cnts.as[(Long, Long)].collect().toMap === cntsId)
  }
}
