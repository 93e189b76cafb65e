package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn a near-dup PAIR list (the output of
  * any `Dedup.*Pairs` operator) into connected components, so a training
  * pipeline can keep exactly one representative per duplicate cluster
  * instead of dropping both ends of every pair independently (which
  * over-deletes on transitive chains a~b~c).
  *
  * Scale design (100 TB): min-label propagation with the static edge set
  * partitioned ONCE (hash(dst), partitioning-preserving checkpoint) — each
  * iteration is a co-partitioned join plus one map-side-combined min-label
  * aggregation, so only label-table-shaped bytes shuffle per round; the
  * edges never re-exchange. No driver-side graph materializes past the
  * `DriverGraph` bound. Convergence is O(cluster diameter) iterations,
  * and near-dup clusters are shallow (dense blobs around a template,
  * diameter ≲ 4), so 3-5 rounds settle real corpora. Each round is `localCheckpoint`ed: iterative plans
  * otherwise grow lineage exponentially and re-execute the whole history
  * every round. For adversarially deep graphs (long chains), use
  * `connectedComponentsStar` — the large-star/small-star rewrite [Kiveris
  * et al.] with O(log² n) rounds at the same per-round cost; the min-label
  * loop stays the default because dedup blobs converge in fewer passes.
  */
object Clusters {

  /** (node, cluster_id) for every node appearing in `pairs`, where
    * cluster_id = min node id reachable over the undirected pair graph.
    * Deterministic; `maxIter` bounds the worst case and the fixpoint check
    * stops early (almost always) before it.
    *
    * Near-dup pair lists are usually minuscule relative to the corpus
    * that produced them, so a list of at most `DriverGraph.MaxEdges` raw
    * pairs is solved in driver memory by union-find (`DriverGraph`): one
    * lazy pin of the pairs, one count and one collect of it, instead of a
    * symmetrized edge checkpoint and 2 jobs per propagation round. The
    * pair plan runs exactly once on every path; results are identical on
    * both paths, spec-pinned.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 15, bucketedAtEdges: Long = Graph.BucketedPinAtEdges,
      edgeCountHint: Option[Long] = None): DataFrame =
    components(pairs, aCol, bCol, maxIter, bucketedAtEdges, edgeCountHint,
      offload = true)

  /** The specs' reference: `connectedComponents` without the offload. */
  private[graft] def connectedComponentsDistributed(pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 15,
      bucketedAtEdges: Long = Graph.BucketedPinAtEdges,
      edgeCountHint: Option[Long] = None): DataFrame =
    components(pairs, aCol, bCol, maxIter, bucketedAtEdges, edgeCountHint,
      offload = false)

  private def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int, bucketedAtEdges: Long, edgeCountHint: Option[Long],
      offload: Boolean): DataFrame = {
    val fwd = pairs.select(col(aCol).cast("long").as("src"),
                           col(bCol).cast("long").as("dst"))
    // both orientations from ONE read of `e` (a union would plan `e`
    // twice, and the hint path below reads the unpinned pair plan)
    def symmetrized(e: DataFrame): DataFrame = e
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .repartition(col("dst"))
    // A caller-known edge count past the bucketed threshold goes STRAIGHT
    // to the bucketed persisted pin: the default path's localCheckpoint
    // materializes the whole symmetrized edge set into storage memory
    // FIRST, which at graph sizes the bucketed currency exists for is
    // itself the OOM (measured: the 240M-edge sf10 purchase graph cannot
    // even finish the checkpoint at 8 GiB, while the bucketed write
    // streams through). The hint skips the checkpoint AND the driver
    // offload gate (both are about small graphs).
    if (edgeCountHint.exists(_ >= bucketedAtEdges))
      return propagateLoop(
        graft.plans.PlanBarriers.pinBucketed(symmetrized(fwd), "dst",
          name = "cc_edges"), maxIter)
    // pin the raw pair list once: its count decides the offload, and the
    // collect or the symmetrized edge checkpoint reads the pin, so the
    // upstream pair plan runs exactly once on every path. Union-find over
    // raw pairs (duplicates and self-loops included) gives the same
    // min-id components as the symmetrized edge set. See DriverGraph.
    val raw = graft.plans.PlanBarriers.lazyPin(fwd, sizedBy = pairs)
    val nPairs = raw.count()
    if (offload && DriverGraph.fits(nPairs, 2L * nPairs))
      return unionFindLocal(DriverGraph.collect(raw, "src", "dst"),
        pairs.sparkSession)
    // symmetrize once, then pin the STATIC edge set hash(dst) — the
    // per-round join's key — through the partitioning-preserving barrier
    // (PlanBarriers scaladoc: an AQE-built checkpoint forgets its
    // partitioning and every round would re-exchange the edges, the
    // PageRank defect class). Each round then exchanges only the
    // label-table-sized aggregation, never the edges.
    var edges = graft.plans.PlanBarriers.ckptKeepPartitioning(
      symmetrized(raw))
    // past the bucketed threshold, RE-pin the edge set as a bucketed
    // persisted table (cluster-survivable, zero storage-memory — see
    // PlanBarriers.pinBucketed): the count of the materialized checkpoint
    // (metadata-cheap) selects the pin currency, and the one-time write
    // reads from that checkpoint, not the raw pair derivation. Every
    // round's join stays exchange-free on the edge side under both
    // currencies (plan-pinned).
    if (edges.count() >= bucketedAtEdges)
      edges = graft.plans.PlanBarriers.pinBucketed(edges, "dst",
        name = "cc_edges")
    propagateLoop(edges, maxIter)
  }

  /** The min-label propagation loop over an already-pinned edge set. */
  private def propagateLoop(edges: DataFrame, maxIter: Int): DataFrame = {

    var labels = graft.plans.PlanBarriers.ckptKeepPartitioning(
      edges.select(col("dst").as("node")).distinct()
        .withColumn("label", col("node")))

    // decimal(38,0) so the checksum can't overflow (ANSI throws on long
    // overflow, and billions of 64-bit ids would)
    def labelSum(l: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      l.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)

    var iter = 0
    var converged = false
    var prevSum = labelSum(labels)
    while (iter < maxIter && !converged) {
      val next = graft.plans.PlanBarriers.ckptKeepPartitioning(
        propagateRound(edges, labels))
      // labels only ever decrease, so the fixpoint test is one cheap scalar
      // aggregate per round (sum unchanged ⇔ no label moved) — no join
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** One min-label propagation round: each node adopts min(own label,
    * neighbors' labels). The join is co-partitioned on dst (edges pinned
    * hash(dst) by `connectedComponents`; labels come out of the previous
    * round's aggregation hash(node) → renamed) with the shuffled-hash
    * build on the label side — zero Exchange on the edge stream and no
    * per-round sort of it; the round's only shuffle is the
    * map-side-combined min-label aggregation. Plan-pinned by
    * PlanQualitySpec; exposed package-private for exactly that pin.
    */
  private[graft] def propagateRound(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val viaNeighbors = edges
      .join(labels.select(col("node").as("dst"), col("label"))
        .hint("shuffle_hash"), "dst")
      .select(col("src").as("node"), col("label"))
    labels.union(viaNeighbors)
      .groupBy("node").agg(min("label").as("label"))
  }

  /** Connected components via alternating large-star/small-star rewrites
    * [Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14] — O(log² n) rounds on ANY graph shape, vs the min-label
    * loop's O(diameter). Use this when components may be long chains
    * (entity-resolution graphs, link graphs) rather than the shallow blobs
    * near-dup dedup produces.
    *
    *  - large-star: every neighbor v > u of u re-points to m(u) = min of
    *    u's closed neighborhood — strictly per-round: one agg + one join.
    *  - small-star: every neighbor v ≤ u (and u itself) points to m⁻(u) =
    *    min over the ≤-neighborhood — same cost shape.
    *
    * Both steps preserve connectivity and only ever decrease edge
    * endpoints; the fixpoint is a star forest where every node points at
    * its component's min. Each round is two agg+join passes over the edge
    * list with `localCheckpoint` barriers (same per-round discipline as
    * the min-label loop). Output matches `connectedComponents` exactly
    * (spec-pinned, including deep-chain adversaries).
    *
    * Small graphs are solved in driver memory by union-find under the
    * same gate as `connectedComponents`: at most `DriverGraph.MaxEdges`
    * raw pairs, counted on the one pin of the pair list that the node set
    * and the canonical edges of the distributed loop also read (the
    * per-round cost the offload avoids was measured on this loop).
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame =
    star(pairs, aCol, bCol, maxIter, offload = true)

  /** The specs' reference: `connectedComponentsStar` without the offload. */
  private[graft] def connectedComponentsStarDistributed(pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 25): DataFrame =
    star(pairs, aCol, bCol, maxIter, offload = false)

  private def star(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int, offload: Boolean): DataFrame = {
    // the raw pair list, pinned once: its count decides the offload (see
    // DriverGraph; union-find over raw pairs keeps self-loop-only nodes as
    // singletons), and the node set and canonical edges below derive from
    // the pin, so the upstream pair plan runs exactly once on every path
    val raw = graft.plans.PlanBarriers.lazyPin(
      pairs.select(col(aCol).cast("long").as("u"),
                   col(bCol).cast("long").as("v")), sizedBy = pairs)
    val spark = pairs.sparkSession
    val nPairs = raw.count()
    if (offload && DriverGraph.fits(nPairs, 2L * nPairs))
      return unionFindLocal(DriverGraph.collect(raw, "u", "v"), spark)
    // node set from the UNFILTERED pairs: a self-loop-only node is still a
    // node and must come back as its own singleton cluster (parity with
    // connectedComponents)
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node"))).distinct()
      .localCheckpoint(eager = false)
    // canonical undirected edges as (hi → lo); self-loops carry no
    // connectivity and would complicate the star rewrites
    val fwd = raw.filter(col("u") =!= col("v"))
    var edges = fwd
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint(eager = false)

    // set fingerprint: sum of a 64-bit hash per canonical edge — two
    // DIFFERENT edge sets colliding needs a ~2^-64 event, unlike the
    // linear 31u+v form where one removed duplicate can offset a rewrite
    // (ids may be negative, so linear terms cancel adversarially)
    def checksum(e: DataFrame): java.math.BigDecimal =
      e.agg(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")))
        .head().getDecimal(0)

    // Materialize the (lazy) canonical edge checkpoint at the SESSION
    // width first, then shrink the LOOP's exchange width to the edge count
    // (r15, guide §2.2/§2.4: every star round is ~6 exchanges over an edge
    // table that is dup-rate sized, orders below the corpus; at the bench
    // SF those exchanges ran 32 partitions over a few hundred rows — pure
    // per-task floor, measured ~3 s of the gate's 4.3 s). Same
    // corpus-scaled contract as
    // StreamScale.parts: cap = the session width every prior record was
    // measured at, so a big edge set keeps the recorded layout; results
    // are partition-count-invariant (suite-enforced).
    val nEdges = edges.count()
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.StreamScale.parts(nEdges, rowsPerPart = 250000L,
        cap = math.max(1, prevShuffle.toInt)).toString)
    var iter = 0
    var converged = false
    try {
    var prev = checksum(edges)
    while (iter < maxIter && !converged) {
      // ---- large-star: neighbors STRICTLY ABOVE u re-point to m(u)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val afterLarge = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
                least(col("a"), col("b")).as("v"))
        .distinct().localCheckpoint(eager = false)
      // ---- small-star: u and its ≤-neighbors re-point to the ≤-min
      val symS = afterLarge.union(
        afterLarge.select(col("v").as("u"), col("u").as("v")))
      val lower = symS.filter(col("v") < col("u"))
      val minsS = lower.groupBy("u").agg(min(col("v")).as("m"))
      // ONE join, both (v→m) and (u→m) rows exploded from it — a second
      // identical shuffle join per round would double the dominant cost
      val afterSmall = lower.join(minsS, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
                least(col("a"), col("b")).as("v"))
        .distinct().localCheckpoint(eager = false)
      edges = afterSmall
      val cur = checksum(edges)
      converged = cur == prev ||
        (cur == null && prev == null) // empty edge set fixpoint
      prev = cur
      iter += 1
    }
    } finally {
      // restore BEFORE the star-forest join below plans: only the loop's
      // edge-table-sized exchanges run narrow
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    // star forest: every remaining (u, v) is node→its component min; nodes
    // that lost all edges (singletons after rewrites) are their own min.
    // The groupBy-min guarantees ONE row per node even if maxIter cut the
    // loop before a perfect star formed (then labels are best-effort mins,
    // never duplicated rows)
    nodes.join(
        edges.select(col("u").as("node"), col("v").as("cluster_id"))
          .groupBy("node").agg(min(col("cluster_id")).as("cluster_id")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }

  /** In-memory union-find (path compression + union-by-min) over an
    * interned edge list; int order is id order, so the representative is
    * the min id, matching the distributed paths exactly. Rows come out in
    * node order.
    */
  private def unionFindLocal(g: DriverGraph.Interned,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val parent = Array.range(0, g.ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    var i = 0
    while (i < g.src.length) {
      val ra = find(g.src(i)); val rb = find(g.dst(i))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    g.ids.indices.map(k => (g.ids(k), g.ids(find(k))))
      .toDF("node", "cluster_id")
  }

  /** Representatives to KEEP after dedup: one doc per cluster (the min id)
    * plus every doc not in any pair. `docs` must carry `idCol`.
    */
  def keepList(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "doc1", bCol: String = "doc2"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val drop = cc.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-aware representatives: keep the member MAXIMIZING `rank` in
    * each duplicate cluster (ties → min id), plus every doc not in any
    * pair — dedup should discard the WORSE copy, not the higher-numbered
    * one, and which copy survives changes what a model trains on.
    *
    * Cost shape vs `keepList`: one extra keyed join of the cluster map
    * against the docs' (id, rank) projection plus a per-cluster
    * max-struct aggregate — both sized by the PAIR list (dup rate ×
    * corpus), never the corpus; the corpus itself is touched only by the
    * same final left-anti join. The (rank, −id) struct max makes the
    * winner deterministic without a window.
    */
  def keepListBy(docs: DataFrame, pairs: DataFrame, idCol: String,
      rank: org.apache.spark.sql.Column, aCol: String = "doc1",
      bCol: String = "doc2"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val members = cc.join(
      docs.select(col(idCol).cast("long").as("node"), rank.as("_rank")),
      "node")
    val winners = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("_rank"), negate(col("node")).as("_negid"))).as("w"))
      .select(negate(col("w")("_negid")).as("node"))
    val drop = members.select("node")
      .join(winners, Seq("node"), "left_anti")
      .select(col("node").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
