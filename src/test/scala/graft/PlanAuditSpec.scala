package graft

import graft.tools.PlanAudit

/** The inventory-wide scale-shape gate: every driver query's executed plan
  * must be free of cartesians/Expand/single-partition exchanges/nested-loop
  * joins EXCEPT where the shape is the operator's definition. The accepted
  * map documents each exception; a new query (or a plan regression) with an
  * unlisted flag fails here.
  */
class PlanAuditSpec extends SparkSpec {

  // query -> (accepted flags, why)
  private val accepted: Map[String, (Set[String], String)] = Map(
    "q10_cross_join_small" -> (Set("BroadcastNestedLoopJoin"),
      "the operator IS a cross join of a 25-row dim (SURVEY J1)"),
    "q18_rollup" -> (Set("Expand"),
      "rollup is defined by grouping-set Expand"),
    "q31_unpivot_melt" -> (Set("Expand"),
      "unpivot/melt is defined by Expand (one output row per measure column)"),
    "q19_cube" -> (Set("Expand"),
      "cube is defined by grouping-set Expand"),
    "q32_grouping_sets" -> (Set("Expand"),
      "GROUPING SETS is defined by Expand — one pass, 4× bounded by the set count"),
    "q25_conditional_kpi" -> (Set("SinglePartitionExchange"),
      "global one-row aggregate: the final combine of partials is one tiny partition"),
    "events_funnel" -> (Set("SinglePartitionExchange"),
      "the three stage-summary rows are global one-row aggregates over " +
        "already per-user-reduced stage tables (q25's accepted shape ×3)"),
    "q35_gapfill" -> (Set("SinglePartitionExchange"),
      "the [min,max] hour-bound pass is a global one-row aggregate (answered " +
        "by parquet footer stats at scale); the exploded grid it seeds is " +
        "O(hours), never data-sized"),
    "serving_kpis" -> (Set("SinglePartitionExchange"),
      "the KPI row is a global one-row aggregate by definition (app.py:113-123): " +
        "final combine of per-partition partials, one row each"),
    "pack_sequences" -> (Set("SinglePartitionExchange"),
      "two-phase scan: the offsets window runs over ONE ROW PER PARTITION, not the data"),
    "profile_lineitem" -> (Set("SinglePartitionExchange"),
      "per-column global aggregates: final combine of partials, one row each"),
    // graph_triangles left this map in r16: at audit scale its counted
    // driver fast path returns a LocalTableScan (no exchanges at all); the
    // distributed pipeline above the 4M-edge gate keeps the four global
    // one-row aggregates + 1-row broadcast crossJoins (q25's accepted
    // shape), documented in Graph.triangleCount's scaladoc
    "sim_ann_ivf" -> (Set("BroadcastNestedLoopJoin"),
      "1-row broadcast seed-array attach; the corpus join itself is hash equi"),
    "sim_ann_ivf_exhaustive" -> (Set("BroadcastNestedLoopJoin"),
      "same 1-row seed-array attach as sim_ann_ivf, at the all-cells probe point"),
    "sim_topk_bruteforce" -> (Set("BroadcastNestedLoopJoin"),
      "brute force = broadcast queries x corpus scan by definition"),
    "sim_matryoshka_topk" -> (Set("BroadcastNestedLoopJoin"),
      "sim_topk_bruteforce's broadcast-queries shape over the 4x-narrower " +
        "truncated-dim scan — the first pass of the MRL serve/rerank ladder"),
    "sim_ann_pq" -> (Set("BroadcastNestedLoopJoin"),
      "1-row codebook attach + ADC scan = broadcast queries x CODES scan " +
        "(m lookups/pair over a 32x-smaller table; the re-rank join is hash equi)"),
    "sim_ann_pq_exhaustive" -> (Set("BroadcastNestedLoopJoin"),
      "same codebook attach + ADC scan as sim_ann_pq, at the lossless rerank point"),
    "sim_ann_ivfpq" -> (Set("BroadcastNestedLoopJoin"),
      "the two 1-row index-artifact attaches (seed array + codebook) from its " +
        "parents; the composition's ADC scan itself is the per-cell HASH equi " +
        "join — the whole point — and the re-rank joins are hash equi too"),
    "sim_ann_ivfpq_residual" -> (Set("BroadcastNestedLoopJoin"),
      "same two 1-row attaches as sim_ann_ivfpq (seed array + residual " +
        "codebook); per-cell ADC scan and re-rank joins stay hash equi"),
    "sim_ann_ivfpq_filtered" -> (Set("BroadcastNestedLoopJoin"),
      "same two 1-row artifact attaches as sim_ann_ivfpq; the filtered ADC " +
        "scan, the nCells-row yield-table attach, and the re-rank joins " +
        "are all broadcast/hash equi"),
    "sim_index_incremental_stream" -> (Set("BroadcastNestedLoopJoin"),
      "the probe side of the catalog-maintained index — same two 1-row " +
        "artifact attaches as sim_ann_ivfpq; the index scan joins per-cell " +
        "hash equi and the encode path ran in the streaming sink"),
    "text_tfidf_topk" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "1-row corpus-count broadcast attach + its global count combine"),
    "text_lm_score" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "1-row vocabulary-size broadcast attach + its global distinct-count combine " +
        "(same pattern as text_tfidf_topk); the model joins are hash equi"),
    "cluster_kmeans_assign" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "1-row centroid-array broadcast attach (k·dims doubles) + its global " +
        "collect combine — the ivfTopK seed pattern; the corpus never shuffles"),
    "dedup_semantic" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "same 1-row centroid-array attach as cluster_kmeans_assign feeding the " +
        "blocked pair join (hash equi on the learned cluster)"),
    "dedup_semantic_capped" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "same 1-row centroid-array attach as dedup_semantic; the capped serve " +
        "adds only narrow per-cluster counts and a broadcast sparse-block " +
        "semi join before the (hash equi) pair join"),
    "stats_histogram" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "1-row grand-total broadcast attach onto the ≤10-row bucket table + its " +
        "global count combine (text_tfidf_topk's accepted shape)"),
    "events_basket_rules" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "the 1-row basket-count attach onto the ≤types² rule table + its " +
        "global combine; the basket self-join and item joins are hash equi"),
    "catalog_history" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "the 5-row history listing gets the live table's one-row checksum " +
        "attached — metadata-sized on both sides"),
    "catalog_clone" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "two one-row side aggregates + the clone's 2-row history count " +
        "attach — the divergence checksum, all scalar-sized"),
    "quality_expectations" -> (Set("SinglePartitionExchange"),
      "five one-row rule verdicts by definition (each a global aggregate " +
        "combine; the FK probes are broadcast anti joins)"),
    "text_pmi_bigrams" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "two 1-row totals (token count, bigram count) broadcast onto the " +
        "min-support-filtered bigram table + their global combines; the " +
        "unigram joins are broadcast hash equi"),
    "q41_null_semantics" -> (Set("SinglePartitionExchange"),
      "the five probe counters are ONE global row by definition (q25's " +
        "accepted shape)"),
    "events_rfm" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "two 1-row attaches (corpus max-day + the quintile-boundary row) onto " +
        "the per-user rollup — the scale-right replacement for a global " +
        "ntile window; the rollup itself is a user-keyed hash agg"),
    "stats_ab_ttest" -> (Set("SinglePartitionExchange"),
      "the test statistic is ONE row by definition: a global wide-pivot " +
        "combine of two groups' exact moment sums (q25's accepted shape)"),
    "stats_chi_square" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "1-row grand-total attach onto the ≤types×7 cell table + the single " +
        "chi² output row's global fold (the cell table, not the corpus, " +
        "is what aggregates)"),
    "text_bm25_topk" -> (Set("SinglePartitionExchange", "BroadcastNestedLoopJoin"),
      "1-row corpus-stats (N, Σdl) broadcast attach + its global combine — " +
        "the tf/df joins themselves are hash equi on the query-term-filtered " +
        "exchange (query-sized, not corpus-sized)"))

  test("no driver query carries an unaccepted scale-hostile plan shape") {
    val results = PlanAudit.audit(spark, "/root/testdata/sf0.001")
    val errors = results.filter(_.error.isDefined)
    assert(errors.isEmpty, errors.mkString("\n"))
    val unexpected = results.filter { a =>
      val ok = accepted.get(a.name).map(_._1).getOrElse(Set.empty)
      (a.flags -- ok).nonEmpty
    }
    assert(unexpected.isEmpty,
      "unaccepted plan flags:\n" + unexpected.map(a =>
        s"  ${a.name}: ${a.flags.mkString(",")}").mkString("\n"))
    // stale-acceptance check: every accepted entry must still be real
    val byName = results.map(a => a.name -> a.flags).toMap
    val stale = accepted.collect {
      case (n, (fs, _)) if (fs -- byName.getOrElse(n, Set.empty)).nonEmpty => n
    }
    assert(stale.isEmpty, s"acceptances no longer needed (remove them): $stale")
  }

  // file -> why a driver-side collect() is legitimate there
  private val acceptedCollects: Map[String, String] = Map(
    "operators/DriverGraph.scala" ->
      ("the small-graph offload of CC, star CC, PageRank and triangles " +
        "collects only after DriverGraph.fits admits the graph: <=4M " +
        "edges and <=8M nodes, from counts the callers already take " +
        "(CC and star CC: <=4M raw pairs, counted on the pin of the pair " +
        "list the collect reads, so <=8M endpoints; PageRank: its " +
        "caller's edge-count upper bound; no hint, no collect)"),
    "gold/GoldJob.scala" ->
      ("a capped cellGrid collects its per-cell statistics through " +
        "limit(MaxStatsCells + 1): at most 4096 rows of five narrow " +
        "columns (the grid over valid coordinates has 190 cells), and one " +
        "row more fails the cycle"),
    "catalog/TableCatalog.scala" ->
      "collects file NAMES for the stats manifest, never table rows",
    "Bench.scala" ->
      "JVM warm-up scalar (sum over range), not query data",
    "operators/Similarity.scala" ->
      ("MMR greedy is inherently sequential; its collects are pool²-bounded " +
        "by the require(pool <= 1000) gate, never corpus-sized"))

  /** The no-driver-feed gate (round-8 upgrade): every streaming replay is
    * executor-fed through `FileReplay`, so NO query-builder source may
    * `collect()` a corpus to the driver. Scans src/main (tools/ excluded —
    * standalone diagnostic probes, not engine or inventory code) and pins
    * the residual accepted sites by file with their reason; a new
    * `collect()` anywhere else fails here. Scalar one-row reads
    * (`head()`/`first()` on an aggregate) stay legal — they move a number,
    * not data.
    */
  test("no unaccepted driver-side collect() in engine sources") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.toString.contains("/tools/"))
      .flatMap { p =>
        val rel = root.relativize(p).toString
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".collect()") => (rel, i + 1)
        }
      }.toSeq
    val unaccepted = hits.filterNot { case (f, _) => acceptedCollects.contains(f) }
    assert(unaccepted.isEmpty,
      "driver-side collect() outside the accepted map:\n" +
        unaccepted.map { case (f, l) => s"  $f:$l" }.mkString("\n"))
    val staleAccepts = acceptedCollects.keys.filterNot(f => hits.exists(_._1 == f))
    assert(staleAccepts.isEmpty,
      s"collect acceptances no longer needed (remove them): $staleAccepts")
  }
}
