package graft

import graft.operators.Clusters
import org.apache.spark.sql.functions._

/** Connected-components cluster resolution over near-dup pairs. */
class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("components: chain, triangle, and singletons-by-absence") {
    // chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("doc1", "doc2")
    val got = Clusters.connectedComponents(pairs, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain converges past one propagation round (distributed path)") {
    // path graph 0-1-2-...-40: diameter 40, min label must ripple end to
    // end through the distributed loop
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val got = Clusters.connectedComponentsDistributed(pairs, "doc1", "doc2",
        maxIter = 50)
      .as[(Long, Long)].collect()
    assert(got.length === 41 && got.forall(_._2 === 0L))
  }

  test("driver union-find and distributed loop agree on a random graph") {
    val rnd = new scala.util.Random(23)
    val pairs = (0 until 300)
      .map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2)
      .toDF("doc1", "doc2")
    val fast = Clusters.connectedComponents(pairs, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    val dist = Clusters.connectedComponentsDistributed(pairs, "doc1", "doc2",
        maxIter = 50)
      .as[(Long, Long)].collect().toMap
    assert(fast === dist)
    // rows come out in node order on both paths
    val fastRows = Clusters.connectedComponents(pairs, "doc1", "doc2")
      .as[(Long, Long)].collect().toSeq
    assert(fastRows === fastRows.sortBy(_._1))
  }

  test("bucketed edge pin agrees with the checkpoint pin on a random graph") {
    val rnd = new scala.util.Random(29)
    val pairs = (0 until 300)
      .map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2)
      .toDF("doc1", "doc2")
    val ckpt = Clusters.connectedComponentsDistributed(pairs, "doc1", "doc2",
        maxIter = 50)
      .as[(Long, Long)].collect().toMap
    val bucketed = Clusters.connectedComponentsDistributed(pairs, "doc1",
        "doc2", maxIter = 50, bucketedAtEdges = 1L)
      .as[(Long, Long)].collect().toMap
    assert(ckpt === bucketed, "pin currency must never change a cluster")
    // the checkpoint-free hint path (web-scale callers: the edge set is
    // too big to localCheckpoint at all — the measured sf10 shape)
    val hinted = Clusters.connectedComponentsDistributed(pairs, "doc1",
        "doc2", maxIter = 50, bucketedAtEdges = 1L,
        edgeCountHint = Some(Long.MaxValue))
      .as[(Long, Long)].collect().toMap
    assert(ckpt === hinted, "the hint path must never change a cluster")
  }

  test("large-star/small-star agrees with union-find on chains, blobs, and a random graph") {
    // deep path (the min-label loop's worst case), a dense blob, a pair
    val adversarial = ((0L until 64L).map(i => (i, i + 1)) ++
      Seq((200L, 201L), (200L, 202L), (201L, 202L), (202L, 203L)) ++
      Seq((900L, 901L))).toDF("doc1", "doc2")
    // the DISTRIBUTED star loop and the public call (the driver union-find
    // offload) must both agree with connectedComponents everywhere
    val star = Clusters.connectedComponentsStarDistributed(adversarial,
        "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    val starFb = Clusters.connectedComponentsStar(adversarial, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    val exact = Clusters.connectedComponents(adversarial, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    assert(star === exact)
    assert(starFb === exact)
    // random graph, both orientations and dupes included
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 300).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    }.filter(p => p._1 != p._2).toDF("doc1", "doc2")
    val starR = Clusters.connectedComponentsStarDistributed(pairs, "doc1",
        "doc2")
      .as[(Long, Long)].collect().toMap
    val starRFb = Clusters.connectedComponentsStar(pairs, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    val exactR = Clusters.connectedComponents(pairs, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    assert(starR === exactR)
    assert(starRFb === exactR)
    // a self-loop-only node is still a (singleton) node on all paths
    val selfLoop = Seq((50L, 50L), (60L, 61L)).toDF("doc1", "doc2")
    val s1 = Clusters.connectedComponentsStar(selfLoop, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    val s1d = Clusters.connectedComponentsStarDistributed(selfLoop, "doc1",
        "doc2")
      .as[(Long, Long)].collect().toMap
    val s2 = Clusters.connectedComponents(selfLoop, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    assert(s1 === Map(50L -> 50L, 60L -> 60L, 61L -> 60L))
    assert(s1 === s2)
    assert(s1d === s2)
    // self-loop-heavy adversary (r16, ADVICE r15): canonical star edges
    // strip self-loops, so 1 canonical edge carries 21 nodes (the offload
    // gate counts raw pairs, 2 nodes each at most: DriverGraphSpec). Both
    // star paths must match the plain-CC reference.
    val adversary = ((100L to 118L).map(i => (i, i)) ++ Seq((200L, 201L)))
      .toDF("doc1", "doc2")
    val aStar = Clusters.connectedComponentsStarDistributed(adversary,
        "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    val aStarFb = Clusters.connectedComponentsStar(adversary, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    val aRef = Clusters.connectedComponents(adversary, "doc1", "doc2")
      .as[(Long, Long)].collect().toMap
    assert(aStar === aRef)
    assert(aStarFb === aRef)
    assert(aStar(200L) === 200L && aStar(201L) === 200L && aStar(100L) === 100L)
  }

  /** `rows` as a (doc1, doc2) frame whose every evaluation adds one per
    * row to `evals`. An RDD frame has no size estimate, so the operators'
    * pair pin takes its DISK_ONLY currency here. */
  private def countedPairs(rows: Seq[(Long, Long)],
      evals: org.apache.spark.util.LongAccumulator) =
    spark.sparkContext.parallelize(rows, 2)
      .map { r => evals.add(1); r }
      .toDF("doc1", "doc2")

  /** Spark jobs the offload path of either operator may submit: the count
    * of the pair pin (2 under AQE) and its collect. Deciding the offload
    * on pair-derived checkpoints instead took 4 jobs (components) and 8
    * (star) on the fixture below, evaluating each pair row 2 and 3 times. */
  private val OffloadJobs = 3

  test("each operator evaluates its pair input exactly once, in every " +
      "regime; the offload submits at most OffloadJobs jobs") {
    // (1,2) twice as written and once reversed; 7 sits only on a self-loop
    val rows = Seq((1L, 2L), (2L, 3L), (2L, 1L), (1L, 2L), (7L, 7L),
      (10L, 11L))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L,
      10L -> 10L, 11L -> 10L)
    // every regime runs, then every miss is reported at once
    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    def once(regime: String, offload: Boolean)(
        run: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame): Unit = {
      val evals = spark.sparkContext.longAccumulator(regime)
      val (got, jobs) = withJobCount(
        run(countedPairs(rows, evals)).as[(Long, Long)].collect().toMap)
      if (got != expected) misses += s"$regime: clusters $got"
      if (evals.sum != rows.size)
        misses += s"$regime: ${evals.sum} pair-row evaluations of " +
          s"${rows.size} rows"
      // the result of the offload is a local frame: its collect is no job
      if (offload && jobs > OffloadJobs)
        misses += s"$regime submitted $jobs jobs"
    }
    once("components offload", offload = true)(
      Clusters.connectedComponents(_, "doc1", "doc2"))
    once("star offload", offload = true)(
      Clusters.connectedComponentsStar(_, "doc1", "doc2"))
    once("components checkpoint loop", offload = false)(
      Clusters.connectedComponentsDistributed(_, "doc1", "doc2"))
    once("components bucketed re-pin", offload = false)(
      Clusters.connectedComponentsDistributed(_, "doc1", "doc2",
        bucketedAtEdges = 1L))
    once("components bucketed hint", offload = false)(
      Clusters.connectedComponentsDistributed(_, "doc1", "doc2",
        bucketedAtEdges = 1L, edgeCountHint = Some(Long.MaxValue)))
    once("star loop", offload = false)(
      Clusters.connectedComponentsStarDistributed(_, "doc1", "doc2"))
    assert(misses.isEmpty, misses.mkString("\n"))
  }

  test("keepList drops all but one representative per cluster") {
    val docs = (1L to 8L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val kept = Clusters.keepList(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 4L, 5L, 7L, 8L))
  }

  test("keepListBy keeps the max-rank member per cluster, ties broken by min id") {
    import org.apache.spark.sql.functions.col
    // quality: doc 3 best in {1,2,3}; 5 and 6 tie in {5,6} → min id 5 wins
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 1L),
                   (5L, 7L), (6L, 7L), (7L, 1L), (8L, 1L))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val kept = Clusters.keepListBy(docs, pairs, "doc_id", col("quality"))
      .select("doc_id").as[Long].collect().sorted
    // singletons 4, 7, 8 always survive
    assert(kept === Array(3L, 4L, 5L, 7L, 8L))
  }
}
