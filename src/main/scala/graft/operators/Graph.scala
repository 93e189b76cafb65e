package graft.operators

import graft.plans.PlanBarriers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over edge DataFrames — the family the
  * connected-components resolver (`Clusters`) opened, extended to
  * weighted iteration: PageRank by power iteration.
  *
  * All rank arithmetic is FIXED-POINT (BIGINT micro-units, scale 1e12),
  * not floating: every per-node update is `base + (85 · Σ(r_i DIV
  * outdeg_i)) DIV 100` over integers, so the result is bit-identical
  * regardless of partitioning, aggregation order, or engine — integer
  * addition commutes exactly where double addition does not. That is
  * what lets a second engine replay the same five iterations and the
  * driver hash-gate the ranks EXACTLY (the same integer-cents
  * discipline as q9/q33, applied to an iterative algorithm where
  * per-iteration float noise would otherwise compound). The cost is a
  * deterministic downward rounding drift of < outdeg ulps per node per
  * iteration at scale 1e12 — irrelevant to ranking, identical in both
  * engines.
  *
  * Scale shape (the static edge set is NEVER re-shuffled): the edges
  * are packed ONCE into an adjacency table (src, outdeg, nbrs[]) whose
  * groupBy leaves it hash-partitioned on src, and the checkpoint
  * preserves that partitioning (LogicalRDD keeps the executed plan's
  * outputPartitioning). Each of the five iterations is then
  *   (a) a CO-PARTITIONED equi join adj ⋈ ranks on src — the rank
  *       vector comes out of the previous iteration's aggregation
  *       hash-partitioned on the same key, so NEITHER side exchanges
  *       (shuffled-hash build on the |V|-row rank side, no sort of the
  *       array-laden adjacency stream), and
  *   (b) one explode + map-side-combinable sum by dst, whose single
  *       exchange moves narrow (dst, partial-sum) longs — the only
  *       shuffle in the loop, rank-table-shaped, not edge-shaped.
  * The r10 formulation joined the flat (src, dst, outdeg) contribution
  * table instead: correct, but each iteration's SMJ re-sorted (and at
  * sf10, re-spilled) the 120M-row edge stream — measured 13.5×/decade
  * with heap/partition controls proving it was the topology, not
  * resources. Packing the edges once is the Pregel discipline: static
  * topology partitioned at load, only vertex state moves per superstep.
  *
  * Per-iteration rank vectors are lazily localCheckpointed — without the
  * cut, iteration k's plan CONTAINS iterations 1..k−1, so the adjacency
  * would be re-scanned O(iterations²/2) times.
  *
  * Hub bound (wired in r12, VERDICT r11 task 5): one adjacency row holds
  * one node's full out-list, so the per-row payload is O(max outdeg) —
  * for power-law graphs (web/link graphs at 100 TB) a 10⁷-out-edge hub
  * is a straight executor OOM as a single array. Behind an outdeg probe
  * (1-row bounds collect, the accepted scalar-probe idiom), hub graphs
  * build a SALTED adjacency instead: each hub's out-edges hash-spread
  * across ceil(outdeg/maxNbrs) (src, salt) rows that all carry the
  * GLOBAL outdeg. The contribution sum by dst is salt-oblivious — each
  * neighbor still receives exactly `r DIV outdeg` once — so ranks are
  * bit-identical to the unsalted path (GraphSpec pins this on a
  * 10⁶-out-edge hub). The superstep exchange count is unchanged: the
  * salted groupBy runs on an edge set pre-partitioned by src alone
  * (hash(src) satisfies the (src, salt) clustering), so the adjacency
  * stays co-partitioned with the rank vector on src.
  */
object Graph {

  val Scale: Long = 1000000000000L // 1e12 rank micro-units

  /** Max neighbors per adjacency row before hub salting engages: 2²² ids
    * ≈ 34 MB of longs per row — comfortably under task/record limits,
    * far above every non-power-law corpus (the purchase graphs top out
    * at ~10³, so they never pay the salted load's extra deg join).
    */
  val PageRankMaxNbrs: Int = 1 << 22

  /** Edge count past which the static side pins as a bucketed persisted
    * table instead of a localCheckpoint: 2·10⁹ edges ≈ 32 GB packed —
    * around where lineage-truncated storage-memory blocks stop being a
    * reasonable currency on a real cluster (executor loss aborts the
    * job; blocks contend execution memory).
    */
  val BucketedPinAtEdges: Long = 2000000000L

  /** Edge set packed for iteration: (src, outdeg, nbrs) — hash-partitioned
    * on src, with the partitioning-preserving checkpoint so every
    * iteration re-reads the packed arrays CO-PARTITIONED, never the raw
    * edge scan. nbrs order is whatever collect_list produced; the integer
    * contribution sum is order-independent, so it never affects results.
    *
    * Hub graphs (max outdeg > maxNbrs, probed) emit MULTIPLE rows per hub
    * src — (src, salt) groups sharing the global outdeg, each holding
    * ~maxNbrs neighbors (hash-spread, so the bound is probabilistic with
    * small variance) — see the companion scaladoc for the equivalence
    * argument. The salted groupBy keys on (src, salt) but runs on input
    * partitioned by src ALONE (hash(src) satisfies the clustered-by-
    * (src, salt) requirement), so the output partitioning every superstep
    * join relies on is hash(src) in both regimes.
    */
  private[graft] def pageRankAdjacency(edges: DataFrame,
      maxNbrs: Int = PageRankMaxNbrs,
      bucketedAtEdges: Long = BucketedPinAtEdges,
      maxOutdegHint: Option[Long] = None,
      edgeCountHint: Option[Long] = None): DataFrame = {
    // The hub gate needs max outdeg and the pin gate needs |E|. When the
    // caller already owns cheaper bounds — e.g. a narrow pre-derivation
    // aggregate over the raw fact table, the `compactIds` discipline from
    // triangleCount — the probe is skipped: probing `edges` here executes
    // its whole derivation (distinct + union + groupBy), measured ~17s of
    // pure re-derivation at sf10. An OVERESTIMATE of max outdeg is always
    // safe (salting is lossless; it would only engage early), an
    // underestimate is not — hints must be upper bounds.
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val (maxOut, nEdges) = (maxOutdegHint, edgeCountHint) match {
      case (Some(mo), ec) => (mo, ec.getOrElse(0L))
      case (None, _) =>
        // 1-row bounds collect: one probe aggregation serves both gates
        val probe = deg.agg(max(col("outdeg")), sum(col("outdeg"))).head()
        (if (probe.isNullAt(0)) 0L else probe.getLong(0),
          edgeCountHint.getOrElse(
            if (probe.isNullAt(1)) 0L else probe.getLong(1)))
    }
    // data-scaled exchange width (VERDICT r14 task 3 — StreamScale's
    // policy applied to batch): the adjacency build concentrates |E|
    // edges into collect_list aggregation tasks, and at a FIXED width
    // the per-task array mass grows with the corpus until it OOMs (the
    // sf100 probe needed a hand-set 128-partition width and a 24g heap).
    // Width grows as ceil(|E| / RowsPerPart) above the session floor, so
    // every recorded plan ≤ sf10 is untouched and the third decade gets
    // the layout it needs with no env override. The pin, the repartition
    // and the groupBy all share this width, so the superstep join stays
    // exchange-free on the adjacency side at any scale.
    val floorW = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val width = graft.plans.BatchScale.parts(nEdges, floor = floorW)
    // pin currency by size: localCheckpoint under the threshold (fast,
    // but lineage-truncated and storage-memory-resident), bucketed
    // persisted table past it (cluster-survivable — see
    // PlanBarriers.pinBucketed; the superstep join is exchange-free
    // under BOTH, plan-pinned)
    def pin(adj: DataFrame): DataFrame =
      if (nEdges >= bucketedAtEdges)
        PlanBarriers.pinBucketed(adj, "src",
          name = "pagerank_adj", buckets = width)
      else PlanBarriers.ckptKeepPartitioning(adj)
    if (maxOut <= maxNbrs)
      // sub-threshold keeps the recorded groupBy plan (partial agg below
      // the exchange); past it the explicit repartition fixes the
      // aggregation width — the groupBy reuses hash(src, width), so this
      // is the same single exchange, just wider
      pin(
        (if (width > floorW) edges.repartition(width, col("src"))
         else edges).groupBy(col("src"))
          .agg(count(lit(1)).as("outdeg"),
            collect_list(col("dst")).as("nbrs")))
    else {
      // one edge-sized exchange (the repartition) — the same order of
      // load cost as the plain path's groupBy — plus a narrow deg join
      // built from the already-aggregated (src, outdeg) side
      val parted = edges.repartition(width, col("src"))
      val withDeg = parted.join(deg.hint("shuffle_hash"), Seq("src"))
      val nSalts = expr(s"(outdeg - 1) DIV $maxNbrs + 1")
      val salted = withDeg.withColumn("salt",
        when(col("outdeg") > maxNbrs,
          pmod(xxhash64(col("dst")), nSalts)).otherwise(lit(0L)))
      pin(
        salted.groupBy(col("src"), col("salt"))
          .agg(first(col("outdeg")).as("outdeg"),
            collect_list(col("dst")).as("nbrs"))
          .select(col("src"), col("outdeg"), col("nbrs")))
    }
  }

  /** One power-iteration superstep over the packed adjacency. The join
    * carries zero Exchange on the adjacency side (co-partitioned on src;
    * PlanQualitySpec pins it) and the shuffled-hash hint builds from the
    * narrow rank side so the array-laden stream is never sorted; the
    * groupBy's exchange — the superstep's only shuffle — moves (node,
    * partial sum) longs.
    */
  private[graft] def pageRankIterate(adj: DataFrame, ranks: DataFrame,
      base: Long): DataFrame =
    adj.join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
        Seq("src"))
      .select(explode(col("nbrs")).as("node"), expr("r DIV outdeg").as("c"))
      .groupBy(col("node"))
      .agg(sum(col("c")).as("cs"))
      .select(col("node"),
        (lit(base) + expr("(85 * cs) DIV 100")).as("r"))

  /** Five power iterations of damped PageRank (d = 0.85) over a directed
    * edge list. `edges` must carry BIGINT `src`, `dst` columns and hold
    * no dangling nodes (every src also appears as a dst — true for any
    * symmetrized graph). Returns (node, rank_fp).
    *
    * When the caller's `edgeCountHint` (an UPPER bound) admits it, the
    * graph is solved in driver memory (`DriverGraph`), bit-identical to
    * the distributed loop; without a hint it never offloads.
    */
  def pageRankFixedPoint(edges: DataFrame, nNodes: Long,
      iterations: Int = 5, maxNbrs: Int = PageRankMaxNbrs,
      bucketedAtEdges: Long = BucketedPinAtEdges,
      maxOutdegHint: Option[Long] = None,
      edgeCountHint: Option[Long] = None): DataFrame = {
    require(nNodes > 0, "empty graph")
    if (edgeCountHint.exists(h => DriverGraph.fits(h, nNodes)) &&
        iterations >= 1)
      pageRankLocal(DriverGraph.collect(edges, "src", "dst"), nNodes,
        iterations, edges.sparkSession)
    else pageRankDistributed(edges, nNodes, iterations, maxNbrs,
      bucketedAtEdges, maxOutdegHint, edgeCountHint)
  }

  /** The in-memory iterations: every operation (r DIV outdeg,
    * base + (85·cs) DIV 100) is the distributed superstep's positive-long
    * integer arithmetic; hub salting changes only the distributed row
    * layout, never the arithmetic.
    */
  private def pageRankLocal(g: DriverGraph.Interned, nNodes: Long,
      iterations: Int, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val init = Scale / nNodes
    val base = (15L * init) / 100L
    val n = g.ids.length
    val outdeg = new Array[Long](n)
    g.src.foreach(u => outdeg(u) += 1L)
    var r = Array.fill(n)(init)
    var it = 0
    while (it < iterations) {
      val cs = new Array[Long](n)
      var j = 0
      while (j < g.src.length) {
        cs(g.dst(j)) += r(g.src(j)) / outdeg(g.src(j)); j += 1
      }
      // the distributed superstep emits rank rows only for aggregation
      // KEYS (dst nodes); on a symmetrized graph that is every node, the
      // precondition pageRankFixedPoint already demands (no dangling
      // nodes), so updating all n slots is the same row set
      r = Array.tabulate(n)(k => base + (85L * cs(k)) / 100L)
      it += 1
    }
    import spark.implicits._
    g.ids.indices.map(k => (g.ids(k), r(k))).toDF("node", "rank_fp")
  }

  /** The specs' reference: `pageRankFixedPoint` without the offload. */
  private[graft] def pageRankDistributed(edges: DataFrame, nNodes: Long,
      iterations: Int = 5, maxNbrs: Int = PageRankMaxNbrs,
      bucketedAtEdges: Long = BucketedPinAtEdges,
      maxOutdegHint: Option[Long] = None,
      edgeCountHint: Option[Long] = None): DataFrame = {
    require(nNodes > 0, "empty graph")
    val init = Scale / nNodes
    val base = (15L * init) / 100L
    val adj = pageRankAdjacency(edges, maxNbrs, bucketedAtEdges,
      maxOutdegHint, edgeCountHint)
    // init ranks are a projection OF the adjacency (same rows, same
    // partitioning), so even iteration 1's join is exchange-free. The
    // src-dedup matters only under hub salting (multiple adjacency rows
    // per hub would otherwise duplicate its init rank); it is a
    // same-partitioning aggregate — alias-aware, so NO exchange — and a
    // no-op row-wise on unsalted graphs
    var ranks = adj.select(col("src").as("node")).distinct()
      .select(col("node"), lit(init).as("r"))
    (1 to iterations).foreach { _ =>
      // partitioning-preserving cut: the next superstep's join sees this
      // rank vector hash(node) == hash(src) and exchanges NOTHING — the
      // groupBy partial-sum exchange is the loop's only shuffle
      ranks = PlanBarriers.ckptKeepPartitioning(
        pageRankIterate(adj, ranks, base))
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  /** Exact triangle count by DEGREE-ORIENTED wedge closing — the
    * classical distributed-triangle algorithm (Cohen 2009; Suri &
    * Vassilvitskii's MapReduce formulation): orient every undirected
    * edge from its (degree, id)-smaller endpoint to the larger, generate
    * wedges only from each node's OUT-edges, and close them against the
    * edge set. Each triangle then has exactly ONE apex (its
    * (degree, id)-minimum vertex), so it is counted exactly once, and —
    * the scale property — out-degrees under this orientation are
    * O(√|E|) even for power-law hubs: a celebrity node of degree 10⁶
    * generates NO wedges (all its edges point in), so wedge volume is
    * Σ outdeg² ≤ O(|E|^1.5) instead of the naive Σ deg² blow-up. Plan:
    * two narrow degree joins, one self-join on apex, one closing equi
    * join — no BNLJ, every shuffle on a key.
    *
    * Input: undirected edges as (src, dst) in any orientation,
    * duplicates and self-loops tolerated (normalized away). Output: one
    * row (n_nodes, n_edges, n_wedges, n_triangles), all exact BIGINTs.
    */
  def triangleCount(edges: DataFrame,
      compactIds: Option[Boolean] = None): DataFrame =
    triangles(edges, compactIds, offload = true)

  /** The specs' reference: `triangleCount` without the offload. */
  private[graft] def triangleCountDistributed(edges: DataFrame,
      compactIds: Option[Boolean] = None): DataFrame =
    triangles(edges, compactIds, offload = false)

  private def triangles(edges: DataFrame, compactIds: Option[Boolean],
      offload: Boolean): DataFrame = {
    graft.plans.GraftFunctions.ensure(edges.sparkSession)
    // Adaptive element width: when every node id fits an int, the WHOLE
    // pipeline runs at 4-byte ids — the dominant cost at scale is the
    // Σ outdeg² adjacency-array exchange (8.3B elements ≈ 66 GB at the
    // sf10 probe), and element width is a straight 2× on its bytes, plus
    // the same 2× on every narrower edge/degree shuffle downstream.
    // `compactIds`: Some(b) when the caller knows its id domain more
    // cheaply than a probe — e.g. a bounds agg on the RAW id column
    // before its edge derivation (the co-purchase gate does this off one
    // narrow parquet scan); None probes the derived edges with one
    // narrow scan. >2³¹ id spaces keep the exact long path either way
    // (the synthetic sf1/sf10 corpora shift keys by copy·10¹⁰, so they
    // exercise exactly that fallback). NOT an eager checkpoint of the
    // edge set: at sf10 the 2 GiB of pinned blocks starved the
    // downstream aggregation's execution memory (AGGREGATE_OUT_OF_MEMORY
    // at 8 GiB) — the second derivation pass is the cheaper currency.
    val fitsInt = compactIds.getOrElse {
      val bounds = edges.agg(
        max(greatest(col("src"), col("dst"))).cast("long").as("hi"),
        min(least(col("src"), col("dst"))).cast("long").as("lo")).head()
      !bounds.isNullAt(0) && bounds.getLong(0) <= Int.MaxValue &&
        bounds.getLong(1) >= Int.MinValue
    }
    val idT = if (fitsInt) "int" else "long"
    // Shared-subtree barriers (r15, guide §2.4/§7.2): the four scalar
    // branches below (nodes × edges × wedges × triangles) each re-plan
    // the edge/degree/adjacency derivations — the pre-barrier initial
    // plan was 368 operators with the edge subtree repeated ~11× (plans/
    // r15/graph_triangles_before.txt). Exchange reuse deduplicates the
    // map sides at runtime, but every post-exchange stage and the AQE
    // re-planning of each duplicate still ran per branch. One barrier per
    // shared frame executes it once, its storage currency sized by the
    // input edges (PlanBarriers.lazyPin).
    val e = PlanBarriers.lazyPin(edges
      .select(least(col("src"), col("dst")).cast(idT).as("a"),
        greatest(col("src"), col("dst")).cast(idT).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct(), sizedBy = edges)
    // The offload gate's count is NOT extra work: n_edges is one of the
    // four outputs, and counting it materializes the same `e` barrier
    // either path reads. Canonical non-self-loop edges bound the nodes by
    // 2·nE. See DriverGraph.
    val nE = e.count()
    if (offload && DriverGraph.fits(nE, 2L * nE))
      return triangleCountLocal(DriverGraph.collect(e, "a", "b"),
        edges.sparkSession)
    val deg = PlanBarriers.lazyPin(e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")), sizedBy = edges)
    // shuffled-hash build on the |V|-row degree side both times — SMJ
    // would sort the |E|-row edge stream twice for joins whose build
    // side is a narrow per-task map (same discipline as the PageRank
    // superstep join)
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("d").as("da"))
        .hint("shuffle_hash"), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db"))
        .hint("shuffle_hash"), Seq("b"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("src"),
      when(fwd, col("b")).otherwise(col("a")).as("dst"))
    // WEDGES ARE NEVER MATERIALIZED AS ROWS. A first cut emitted the
    // (v, w) wedge table and joined it against the edge set — correct,
    // but wedge volume is Σ C(outdeg, 2) (41M rows at sf0.1, 411M at
    // sf1; row overhead tripled the payload) and the row-per-wedge
    // shuffle was the memory cliff. Instead: sorted out-adjacency ARRAYS
    // (bounded at O(√|E|) elements each by the orientation), and per
    // ORIENTED edge (u, v) the triangles through it are
    // |N⁺(u) ∩ N⁺(v)| — each triangle counted exactly once, at its apex's
    // out-edge to its middle vertex (the third vertex sits in both
    // out-sets; the other two edges see it in neither). The intersect is
    // the compiled `sorted_intersect_size` linear-merge kernel, and the
    // shuffled bytes are the SAME adjacency payload the wedge table
    // carried, packed ~30× fewer rows.
    // barrier'd: referenced by the wedge count and BOTH sides of the
    // closing join (three plan branches)
    val adj = PlanBarriers.lazyPin(oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs")), sizedBy = edges)
    // Exact BIGINT end to end: d*(d-1) is always even, so the halving is
    // done PER ROW as a bit shift (exact integer /2 for non-negatives)
    // BEFORE the sum. The previous `sum(...) / 2L` was Catalyst's Divide —
    // double-valued — and would lose precision past 2^53 wedges. An
    // empty adjacency sums to NULL, so it is coalesced to the 0 the
    // in-memory count gives.
    val nWedges = adj
      .agg(coalesce(sum(shiftright(size(col("nbrs")).cast("long") *
        (size(col("nbrs")).cast("long") - 1L), 1)), lit(0L))
        .as("n_wedges"))
    // (u, v, N⁺(u)) comes from EXPLODING adj, not from joining the
    // oriented edge list back against it: explode(nbrs) re-emits exactly
    // the oriented edges with the source adjacency already attached —
    // row-for-row what the r10 `oriented ⋈ adj` join produced, minus one
    // full edge-stream shuffle join (at sf10 that join exchanged 120M
    // narrow rows plus the array build side; the explode is narrow)
    val withU = adj.select(col("src"), explode(col("nbrs")).as("dst"),
      col("nbrs").as("__nu"))
    // shuffled-hash build on the adjacency side: an SMJ here SORTS the
    // exploded probe stream — whose payload is Σ outdeg² array elements
    // (~33 GB at sf10), the measured spill storm — while the build side
    // is the |V|-row adjacency (bounded per task). The probe stream now
    // exchanges WITHOUT sorting.
    val triangles = withU
      .join(adj.select(col("src").as("dst"), col("nbrs").as("__nv"))
        .hint("shuffle_hash"), Seq("dst"))
      .select(graft.plans.GraftColumns
        .sortedIntersectSize(col("__nu"), col("__nv")).as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0L)).as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    // the offload gate already counted the materialized `e` barrier —
    // reuse it instead of re-aggregating the same blocks
    val nEdges = edges.sparkSession.range(1).select(lit(nE).as("n_edges"))
    // 1-row scalar combines (the accepted scalar-attach idiom)
    nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nWedges))
      .crossJoin(broadcast(triangles))
  }

  /** The in-memory count over the canonical interned edge list: the same
    * degree orientation, C(d,2) wedge sum and per-oriented-edge sorted
    * intersection as the distributed pipeline, in exact integers.
    */
  private def triangleCountLocal(g: DriverGraph.Interned,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val n = g.ids.length
    val m = g.src.length
    val ea = g.src
    val eb = g.dst
    // undirected degrees over the canonical edge set
    val deg = new Array[Int](n)
    var i = 0; while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // degree orientation: src = the (degree, id)-smaller endpoint. The
    // id tie-break compares ORIGINAL ids, and e is canonical (a < b), so
    // on equal degrees the a side wins — same rule as the `fwd` column.
    val outdeg = new Array[Int](n)
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    i = 0
    while (i < m) {
      val fwd = deg(ea(i)) < deg(eb(i)) || deg(ea(i)) == deg(eb(i))
      src(i) = if (fwd) ea(i) else eb(i)
      dst(i) = if (fwd) eb(i) else ea(i)
      outdeg(src(i)) += 1
      i += 1
    }
    // out-adjacency as offset-packed segments, each sorted by int id
    val off = new Array[Int](n + 1)
    i = 0; while (i < n) { off(i + 1) = off(i) + outdeg(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val nbrs = new Array[Int](m)
    i = 0
    while (i < m) {
      nbrs(fill(src(i))) = dst(i); fill(src(i)) += 1; i += 1
    }
    i = 0
    while (i < n) {
      java.util.Arrays.sort(nbrs, off(i), off(i + 1)); i += 1
    }
    var nWedge = 0L
    i = 0
    while (i < n) {
      val d = outdeg(i).toLong; nWedge += (d * (d - 1L)) >> 1; i += 1
    }
    // per oriented edge (u, v): triangles through it = |N⁺(u) ∩ N⁺(v)|
    // (linear merge over the two sorted segments — the same kernel as
    // the distributed sorted_intersect_size)
    var nTri = 0L
    i = 0
    while (i < m) {
      var p = off(src(i)); val pEnd = off(src(i) + 1)
      var q = off(dst(i)); val qEnd = off(dst(i) + 1)
      while (p < pEnd && q < qEnd) {
        val x = nbrs(p); val y = nbrs(q)
        if (x == y) { nTri += 1; p += 1; q += 1 }
        else if (x < y) p += 1
        else q += 1
      }
      i += 1
    }
    import spark.implicits._
    Seq((n.toLong, m.toLong, nWedge, nTri))
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles")
  }
}
