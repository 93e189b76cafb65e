package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // a small symmetrized star: hub 0 <-> leaves 1..6
  private def starEdges = {
    val one = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    one.unionByName(one.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("hub of a star outranks every leaf; leaves tie exactly") {
    val out = Graph.pageRankFixedPoint(starEdges, 7L, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hub = out(0L)
    val leaves = (1L to 6L).map(out)
    assert(leaves.toSet.size === 1, "symmetric leaves must tie bit-exactly")
    assert(hub > leaves.head * 3,
      s"hub rank $hub should dominate leaf rank ${leaves.head}")
  }

  test("fixed-point ranks are partition-layout independent") {
    val e = starEdges
    val a = Graph.pageRankFixedPoint(e.repartition(1), 7L, 5)
      .orderBy("node").collect().toSeq
    val b = Graph.pageRankFixedPoint(e.repartition(13), 7L, 5)
      .orderBy("node").collect().toSeq
    assert(a === b, "integer arithmetic must be layout-invariant")
  }

  test("bucketed static pin yields bit-identical ranks to the checkpoint pin") {
    val a = Graph.pageRankFixedPoint(starEdges, 7L, 5)
      .orderBy("node").collect().toSeq
    val b = Graph.pageRankFixedPoint(starEdges, 7L, 5, bucketedAtEdges = 1L)
      .orderBy("node").collect().toSeq
    assert(a === b, "pin currency must never change a rank")
  }

  test("total rank mass stays within deterministic floor-rounding drift") {
    // each node loses < outdeg ulps to the two integer divisions per
    // iteration; total drift over 5 iterations is bounded by
    // 5 * (|edges| + |nodes|) ulps — microscopic against Scale
    val out = Graph.pageRankFixedPoint(starEdges, 7L, 5)
      .agg(sum("rank_fp")).head().getLong(0)
    val drift = Graph.Scale - out
    assert(drift >= 0, "floor rounding can only lose mass")
    assert(drift < 5L * (12 + 7) * 100, s"drift $drift implausibly large")
  }

  test("hub salting: bit-identical ranks on a 10⁶-out-edge hub, adjacency " +
      "row size bounded, superstep exchange count unchanged") {
    // synthetic power-law extreme: one hub with 1.2M out-edges (plus the
    // symmetrizing back edges so nothing dangles) — the shape whose
    // single-row adjacency is a straight OOM at web scale
    val n = 1200000L
    val out = spark.range(1L, n + 1).select(lit(0L).as("src"),
      col("id").as("dst"))
    val edges = out.unionByName(
      out.select(col("dst").as("src"), col("src").as("dst")))
    val maxNbrs = 100000
    // adjacency row bound: the hub splits into ceil(1.2M/100k) = 12 salt
    // groups; hash spread keeps every row near maxNbrs (≤10% slack)
    val adj = Graph.pageRankAdjacency(edges, maxNbrs)
    val hubRows = adj.filter(col("src") === 0L)
      .select(count(lit(1)), max(size(col("nbrs")))).head()
    assert(hubRows.getLong(0) === 12L, s"expected 12 salt rows: $hubRows")
    assert(hubRows.getInt(1) <= (maxNbrs * 1.1).toInt,
      s"salted row exceeds the bound: $hubRows")
    // superstep exchange count: identical to the unsalted pin (the one
    // hash exchange is the contribution sum — hash(src) partitioning
    // survives the (src, salt) groupBy, so the join stays co-partitioned)
    val ranks0 = adj.select(col("src").as("node")).distinct()
      .select(col("node"), lit(Graph.Scale / (n + 1)).as("r"))
    val step = Graph.pageRankIterate(adj, ranks0, 1L)
    step.collect()
    val plan = step.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString // final plan only, not the Initial Plan echo
      case p => p.toString
    }
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).toSeq
    assert(shuffles.size === 1, s"salted superstep shuffles: $shuffles")
    // bit-identical ranks vs the unsalted path (global outdeg shared by
    // every salt group makes the contribution sum salt-oblivious)
    val salted = Graph.pageRankFixedPoint(edges, n + 1, iterations = 3,
      maxNbrs = maxNbrs)
    val plain = Graph.pageRankFixedPoint(edges, n + 1, iterations = 3)
    assert(salted.exceptAll(plain).isEmpty &&
      plain.exceptAll(salted).isEmpty,
      "salted and plain ranks must be bit-identical")
  }

  test("driver fast path: bit-identical ranks to the distributed loop, " +
      "hub salting regime included") {
    // r16 counted fallback: a random symmetrized graph plus a hub whose
    // out-degree exceeds maxNbrs, so the distributed reference exercises
    // salting while the fallback runs the same arithmetic in-memory.
    val rnd = new scala.util.Random(11)
    val raw = (1 to 400).map(_ =>
      (rnd.nextInt(60).toLong + 1L, rnd.nextInt(60).toLong + 1L))
      .filter(p => p._1 != p._2) ++ (1L to 50L).map(i => (0L, i))
    val one = raw.toDF("src", "dst").distinct()
    val edges = one.unionByName(
      one.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val nNodes = edges.select(col("src")).distinct().count()
    val nEdges = edges.count()
    val fast = Graph.pageRankFixedPoint(edges, nNodes, iterations = 5,
        maxNbrs = 8, edgeCountHint = Some(nEdges))
      .orderBy("node").collect().toSeq
    // the distributed loop on the same hint
    val dist = Graph.pageRankDistributed(edges, nNodes, iterations = 5,
        maxNbrs = 8, edgeCountHint = Some(nEdges))
      .orderBy("node").collect().toSeq
    assert(fast === dist, "fallback must be bit-identical to distributed")
  }

  test("triangleCount: K4 has 4 triangles; duplicates/self-loops/orientation normalized") {
    // K4 with a reversed duplicate edge and a self-loop thrown in
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (2L, 1L), (1L, 1L)).toDF("src", "dst")
    val r = Graph.triangleCount(k4).head()
    assert(r.getLong(0) === 4L, "n_nodes") // 4 nodes
    assert(r.getLong(1) === 6L, "n_edges") // C(4,2) after normalize
    assert(r.getLong(3) === 4L, "n_triangles") // C(4,3), each once
  }

  test("triangleCount: a star has wedges at no cost and zero triangles") {
    // degree orientation points every edge INTO the hub, so the hub
    // apexes no wedge — the power-law-hub property
    val star = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    val r = Graph.triangleCount(star).head()
    assert(r.getLong(2) === 0L, "n_wedges") // no out-degree-2 node
    assert(r.getLong(3) === 0L, "n_triangles")
  }

  test("triangleCount: two triangles sharing an edge count as two") {
    val df = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Graph.triangleCount(df).head().getLong(3) === 2L)
  }

  test("triangleCount: counted driver fast path is bit-identical to the distributed pipeline") {
    // random multigraph with duplicates, reversed edges and self-loops —
    // the normalization, orientation tie-breaks, wedge and triangle counts
    // must agree exactly between the in-memory fallback (default gate) and
    // the distributed pipeline
    val rnd = new scala.util.Random(7)
    val raw = (1 to 600).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val df = raw.toDF("src", "dst")
    val fast = Graph.triangleCount(df).head()
    val dist = Graph.triangleCountDistributed(df).head()
    assert(fast === dist, "fallback must be bit-identical to distributed")
    // degree-tie orientation: a 6-cycle (all degrees equal) exercises the
    // id tie-break on every edge
    val cyc = (0L to 5L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    assert(Graph.triangleCount(cyc).head() ===
      Graph.triangleCountDistributed(cyc).head())
  }

  test("triangleCount: a self-loop-only input is (0, 0, 0, 0) on both paths") {
    val loops = Seq((1L, 1L), (2L, 2L), (2L, 2L)).toDF("src", "dst")
    val zero = org.apache.spark.sql.Row(0L, 0L, 0L, 0L)
    assert(Graph.triangleCount(loops).head() === zero)
    assert(Graph.triangleCountDistributed(loops).head() === zero)
  }

  test("triangleCount: ids past 2^31 take the long path; all three call modes agree") {
    // same K4 shifted past Int.MaxValue — the width probe must pick the
    // long pipeline and count identically
    val off = Int.MaxValue.toLong + 10L
    val k4big = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).map { case (a, b) => (a + off, b + off) }.toDF("src", "dst")
    val probed = Graph.triangleCount(k4big).head()
    val forcedLong = Graph.triangleCount(k4big, compactIds = Some(false)).head()
    assert(probed.getLong(3) === 4L)
    assert(probed === forcedLong)
    // and the int-range K4 agrees between probed (int) and forced-long
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCount(k4, compactIds = Some(true)).head() ===
      Graph.triangleCount(k4, compactIds = Some(false)).head())
  }
}
