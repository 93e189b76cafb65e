package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The small-graph offload every iterative graph operator shares: when the
  * graph is known to be small, its edge list is collected once and solved
  * in driver memory instead of by the distributed loop (guide §1.2 —
  * don't run a distributed algorithm where none is needed).
  *
  * Why: at bench scale the distributed loops are pure per-stage
  * scheduling floor. Each CC / star round and each PageRank superstep is
  * a checkpoint materialization plus its exchanges, and triangles run ~8
  * serial stages; a per-round decomposition of the star loop measured
  * 0.6-1.1 s PER ROUND over a 256-edge set (OPTIMIZATION_r15.md,
  * `dedup_clusters_star`), and graph_triangles ran faster on 8 cores than
  * on 32 at sf0.1 (r15 scaling block).
  *
  * Gate discipline: nothing lands on the driver unless the caller already
  * knows the graph is small, and no gate runs a job of its own — each
  * caller passes figures it already has:
  *  - connected components and star CC: the count that materializes the
  *    pin of the RAW pair list (the job every later path reads anyway),
  *    n edges and 2·n nodes — n pairs have at most 2·n endpoints, self-loops
  *    and duplicates included, so the bound holds before any symmetrizing,
  *    deduplicating or self-loop stripping runs;
  *  - triangles: the canonical edge count (n_edges is one of its outputs)
  *    and 2·nE nodes;
  *  - PageRank: the caller's edge-count UPPER bound and its nNodes
  *    argument — no hint, no offload; `edges` itself is never counted.
  *
  * Every in-memory solver runs the distributed path's exact arithmetic —
  * union-by-min returns the min reachable id, PageRank the same
  * positive-long integer divisions, triangles the same degree
  * orientation and sorted-intersection counts — so results are
  * bit-identical; each operator's spec pins the offload against its
  * `private[graft]` distributed method.
  */
private[graft] object DriverGraph {

  val MaxEdges: Long = 4000000L

  /** Offload admission. `nNodes` is by-name: a node figure is evaluated
    * only once the edge test has passed.
    */
  def fits(nEdges: Long, nNodes: => Long): Boolean =
    nEdges <= MaxEdges && nNodes <= 2L * MaxEdges

  /** An edge list over dense int ids: edge i runs src(i) → dst(i), and
    * id k stands for ids(k). `ids` is sorted ascending, so int order is
    * the original id order (min id ⇔ min int id).
    */
  final class Interned(val ids: Array[Long], val src: Array[Int],
      val dst: Array[Int])

  /** One collect of the (a, b) edge columns, interned; every endpoint,
    * self-loops included, becomes an id. The gate bounds every array below
    * Int.MaxValue.
    */
  def collect(edges: DataFrame, a: String, b: String): Interned = {
    val rows = edges.select(col(a).cast("long"), col(b).cast("long"))
      .collect()
    val n = rows.length
    val ends = new Array[Long](2 * n)
    var i = 0
    while (i < n) {
      ends(2 * i) = rows(i).getLong(0); ends(2 * i + 1) = rows(i).getLong(1)
      i += 1
    }
    // dense ids = the distinct ids in ascending order
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var k = 0
    i = 0
    while (i < sorted.length) {
      if (k == 0 || sorted(i) != sorted(k - 1)) { sorted(k) = sorted(i); k += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, k)
    def id(x: Long): Int = java.util.Arrays.binarySearch(ids, x)
    val src = Array.tabulate(n)(e => id(ends(2 * e)))
    val dst = Array.tabulate(n)(e => id(ends(2 * e + 1)))
    new Interned(ids, src, dst)
  }
}
