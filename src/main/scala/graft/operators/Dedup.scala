package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication family for training-data pipelines — the
  * north-star extension ops (BASELINE.json): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (100 TB): nothing here ever materializes the O(n²) pair
  * space. Exact dedup is a hash groupBy; near-dup candidates come from an
  * inverted index (shingle join) or LSH banding, both of which shuffle on
  * content-derived keys and only pair up documents sharing a bucket. Skewed
  * buckets (stop-shingles shared by everything) are the classic hazard —
  * `maxBucket` caps them, trading bounded recall loss for a hard upper
  * bound on join fan-out.
  */
object Dedup {

  /** (doc_id, ss) with ss = distinct 64-bit shingle hashes. Tokens are
    * projected as a named column before the shingling lambda so element_at
    * binds a materialized array attribute (see shingleHashesFromTokens).
    *
    * The lazy localCheckpoint is load-bearing twice over: (a) every
    * consumer self-joins or multi-references this frame, and without the
    * barrier each reference re-runs the whole tokenize+shingle pipeline;
    * (b) `InferFiltersFromGenerate` + predicate pushdown otherwise inline
    * the full shingle expression into a `size(ss)>0` filter under the
    * explode, re-evaluating the (non-codegen) HOF pipeline several times
    * per row — measured 20× slower than the barrier'd plan.
    */
  private[graft] def shingleSets(docs: DataFrame, n: Int,
      idCol: String, textCol: String): DataFrame = {
    graft.plans.GraftFunctions.ensure(docs.sparkSession)
    graft.plans.PlanBarriers.lazyPin(
      docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
        .select(col("doc_id"),
          graft.plans.GraftColumns.shingleHashSet(col("toks"), n).as("ss")),
      sizedBy = docs)
  }

  /** Exact dedup: group by normalized-content fingerprint, keep the lowest
    * doc id per group. One shuffle on the hash — embarrassingly scalable.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fingerprint", md5Fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram (shingle) Jaccard near-dup pairs via inverted index:
    * explode distinct shingles, self-join on shingle (doc1 < doc2), count
    * the intersection, derive |union| from per-doc shingle counts. Only
    * documents sharing at least one shingle ever meet, so the join output
    * is proportional to true overlap, not n².
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Shingles live only as 8-byte hashes: no shingle strings are ever
    // built, and only longs enter the self-join shuffle — at 100 TB the
    // exchange is the cost, and a 64-bit hash collides with ~2^-64
    // probability per pair (immaterial to the counts). Tokenization is
    // projected to its own column first so the shingling lambda binds an
    // attribute, not the regex expression tree.
    val sh = shingleSets(docs, n, idCol, textCol)
      .withColumn("ns", size(col("ss")))
    val ex = sh.select(col("doc_id"), col("ns"), explode(col("ss")).as("s"))
    val a = ex.as("a")
    val b = ex.as("b")
    // size-ratio prune inside the join: J >= t  ⇒  min(n1,n2)/max(n1,n2) >= t
    // (common <= min, union >= max), so wildly different-sized docs never
    // reach the aggregation.
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.ns"), col("b.ns")).cast("double") >=
          lit(threshold) * greatest(col("a.ns"), col("b.ns")))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
               col("a.ns").as("n1"), col("b.ns").as("n2"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** `ngramJaccardPairs` with a document-frequency cap on the inverted
    * index: a "stop-shingle" shared by k documents contributes k² rows to
    * the self-join, and at corpus scale boilerplate shingles (license
    * headers, templates) have k in the millions — quadratic death from one
    * key. Here candidate pairs are generated ONLY from shingles whose df ≤
    * `maxShingleDf`, then exact-verified against the FULL shingle sets
    * (array_intersect), so reported Jaccard values are exact and false
    * positives are impossible. The only approximation is recall: a pair
    * sharing nothing but ubiquitous shingles is missed — for near-dup
    * thresholds those pairs are template echoes, which is usually the
    * behavior a curation pipeline wants anyway.
    */
  def ngramJaccardPairsCapped(docs: DataFrame, n: Int, threshold: Double,
      maxShingleDf: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleSets(docs, n, idCol, textCol)
    val ex = sh.select(col("doc_id"), size(col("ss")).as("ns"),
      explode(col("ss")).as("s"))
    // rare-shingle inverted index: the df filter bounds per-key fan-out.
    // df rides a WINDOW over s (r16), not the old groupBy(s)+join-back:
    // the join was an SMJ that exchanged AND sorted the full occurrence
    // table on s anyway, so the window count reuses that exact
    // exchange+sort while deleting the separate df-aggregation pass and
    // the join itself (sf100 measured the index build at 234 s, the
    // gate's largest stage). Occurrence count == document frequency
    // because ss is distinct per doc. Barrier'd because both sides of the
    // candidate self-join reference it. `nr` (the doc's distinct-RARE-
    // shingle count) rides along for the count bound below; `rn`
    // (ascending-hash rank within the doc) feeds the prefix and
    // positional filters — both ride ONE Window node (same partition,
    // same sort; nr as an unbounded frame over the sorted spec instead
    // of a second unordered window, which would plan its own pass).
    val rare = graft.plans.PlanBarriers.lazyPin(ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("df") <= maxShingleDf)
      .drop("df")
      .withColumn("nr", count(lit(1)).over(
        Window.partitionBy("doc_id").orderBy("s")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy("s"))),
      sizedBy = docs)
    // PREFIX FILTER on the candidate join's a side (r16 — the same
    // PPJoin-family prefix-filtering principle containmentPairs carries,
    // specialized to Jaccard; guide §3.2 "reduce the big side before
    // shuffling it"): probe only each a-doc's first
    // L = ns − ⌈t·ns⌉ + 1 rare shingles in ascending hash order (ns = FULL
    // distinct-shingle count). Lossless w.r.t. the df-capped semantics:
    // J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉ (integer count ≥ t·|A∪B| ≥ t·|A|), so
    // A has at most |A| − ⌈t·|A|⌉ = L − 1 shingles outside B — among A's
    // first min(L, |R_A|) rare shingles at least one is shared with B when
    // |R_A| ≥ L, and when |R_A| < L the prefix is ALL of A's rare shingles,
    // which contain every shared rare shingle by definition. The shared
    // rare shingle appears on B's un-prefixed rare side (document frequency
    // is a global property), so every pair the unprefixed candidate join
    // generated AND that can pass exact verification is still generated.
    // Measured at sf10: candidate pairs 39.8M → the prefix share (~(1−t)),
    // the dominant exchange of the whole gate family. The epsilon guard on
    // t is the containmentPairs discipline (relative, not absolute — see
    // that scaladoc for the ulp argument).
    val prefixLen = col("ns") - ceil(col("ns") * lit(threshold * (1 - 1e-12))) + 1
    val pref = rare.filter(col("rn") <= prefixLen)
    // size-ratio prune (result-preserving: J >= t ⇒ min/max sizes >= t)
    // inside the join — without it every moderately-shared shingle floods
    // the verify stage with hopeless pairs
    val candRows = pref.as("a")
      .join(rare.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.ns"), col("b.ns")).cast("double") >=
            lit(threshold) * greatest(col("a.ns"), col("b.ns")))
    // SHARED-RARE COUNT + POSITIONAL BOUNDS, the lossless pre-verify prunes
    // that keep the array joins off the hopeless-pair flood (near-dup
    // output is orders smaller than the candidate set). The candidate join
    // emits one row per shared rare shingle IN THE a PREFIX, so grouping
    // counts c_pref for free in the same exchange the old dropDuplicates
    // paid. Three independent upper bounds on common = |A∩B|:
    //  - count bound: every shingle is rare or frequent, and shared rare
    //    shingles OUTSIDE the a prefix number at most nr1 − min(L1, nr1):
    //      common ≤ c_pref + max(0, nr1 − L1) + min(f1, f2),
    //    f_i = ns_i − nr_i (the doc's frequent-shingle count; L1 is
    //    recomputed from n1 by the same guarded expression the prefix
    //    filter used, so the two agree exactly).
    //  - POSITIONAL bounds (PPJoin's position filter, adapted to the
    //    rare-index setting): let h* be the hash-minimal shared rare
    //    shingle, at rank pa in A's rare order and pb in B's. Every A-rare
    //    shingle ranked before pa is absent from B (were it in B it would
    //    be shared, rare, smaller-hash — hence inside A's prefix and a
    //    candidate row, contradicting minimality), so |A\B| ≥ pa − 1,
    //    common ≤ n1 − pa + 1. Symmetrically every B-rare shingle ranked
    //    before pb is absent from A (smaller hash ⇒ rank < pa ≤ L1, so it
    //    would sit inside A's prefix), giving common ≤ n2 − pb + 1. Both
    //    minima are attained on the SAME row (rank is monotone in hash on
    //    both sides), so min(a.rn)/min(b.rn) aggregate them exactly.
    // J = c/(n1+n2−c) is increasing in c, so J ≤ B/(n1+n2−B) with B the
    // least bound. Pairs with that under the threshold CANNOT pass exact
    // verification and are dropped on narrow integers only — full arrays
    // are joined for survivors alone, whose exact Jaccard (and thus the
    // output) is unchanged. Measured at sf100: the positional bounds are
    // what keep the prefix filter's candidate cut from inflating the
    // verify stage (the count bound alone admits 12× the survivors).
    val l1 = col("n1") - ceil(col("n1") * lit(threshold * (1 - 1e-12))) + 1
    val candidates = candRows
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("a.ns").as("n1"), col("b.ns").as("n2"),
        col("a.nr").as("nr1"), col("b.nr").as("nr2"))
      .agg(count(lit(1)).as("c_pref"),
        min(col("a.rn")).as("pa"), min(col("b.rn")).as("pb"))
      .withColumn("bound", least(
        col("c_pref") + greatest(lit(0L), col("nr1") - l1) +
          least(col("n1") - col("nr1"), col("n2") - col("nr2")),
        col("n1") - col("pa") + 1,
        col("n2") - col("pb") + 1))
      .filter(col("bound").cast("double") /
        (col("n1") + col("n2") - col("bound")) >= threshold)
      .select("doc1", "doc2")
    candidates
      .join(sh.select(col("doc_id").as("doc1"), col("ss").as("ss1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("ss").as("ss2")), "doc2")
      .withColumn("common",
        graft.plans.GraftColumns.sortedIntersectSize(col("ss1"), col("ss2")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("ss1")) + size(col("ss2")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Asymmetric shingle-containment pairs: C(A→B) = |S(A)∩S(B)| / |S(A)|.
    * Catches doc-in-doc inclusion — a quoted article inside a page wrapper,
    * a file concatenated into a bundle — where symmetric Jaccard is blind:
    * 100 shingles fully embedded in 10,000 give J ≈ 0.01 but C = 1.0.
    * (Broder's containment measure, the resemblance/containment split of
    * the original shingling paper; cf. the reference's dedup stage, which
    * only covers the symmetric case.)
    *
    * Candidates come from the same df-capped inverted index as
    * `ngramJaccardPairsCapped`, then are exact-verified on the full shingle
    * sets, so reported containment values are exact and false positives
    * impossible. One structural difference from the Jaccard op: the
    * size-ratio prune is UNSOUND here — containment is precisely the
    * regime where |S(A)| ≪ |S(B)| must survive — so the df cap is the only
    * fan-out bound, which is why it is not optional in this signature. At
    * 100 TB that is the right trade: boilerplate shingles are the skew
    * hazard; genuinely rare shared shingles are the signal.
    *
    * Output is one directed row per qualifying pair: `contained` is the
    * smaller-set side (ties → lower doc id), `containment` = C(contained →
    * container), since C of the larger side in the smaller is ≤ it and
    * rarely of interest.
    *
    * Candidate volume is bounded by a PPJoin-family PREFIX FILTER (Chaudhuri
    * et al.'s prefix-filtering principle, specialized to containment): the
    * probe side indexes only each doc's first L = n_A − ⌈t·n_A⌉ + 1 rare
    * shingles in ascending hash order (n_A = FULL distinct-shingle count).
    * Lossless w.r.t. the df-capped semantics, by this lemma: if C(A→B) ≥ t
    * and the pair shares ≥ 1 rare shingle, then A has at most
    * n_A − ⌈t·n_A⌉ = L − 1 shingles outside B, so among A's first
    * min(L, |R_A|) rare shingles at least one is shared with B when
    * |R_A| ≥ L — and when |R_A| < L the prefix is ALL of A's rare shingles,
    * which contain every shared rare shingle by definition. Either way the
    * shared rare shingle also appears on B's (un-prefixed) rare side, since
    * document frequency is a global property of the shingle. A pair missed
    * by the prefix join therefore cannot appear in the verified output, and
    * every pair the df-capped oracle emits is generated. The filter cuts
    * candidates ≈ |prefix|/|R_A| ≈ (1−t)× (10× at t = 0.9) — the fix for
    * this operator having been the inventory's most expensive (no sound
    * size-ratio prune exists for containment, so before the prefix filter
    * the df cap was the only bound).
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
      maxShingleDf: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleSets(docs, n, idCol, textCol)
    val ex = sh.select(col("doc_id"), size(col("ss")).as("ns"),
      explode(col("ss")).as("s"))
    // rare-shingle inverted index (df cap bounds per-key join fan-out);
    // df rides a window over s (r16, same rewrite as the Jaccard op: the
    // old groupBy+join-back SMJ exchanged and sorted the occurrence table
    // on s anyway, so the window count reuses that exchange+sort and
    // deletes the aggregation pass plus the join); barrier'd for the same
    // double-execution reason as the Jaccard op. The prefix rank is also
    // folded INTO the barrier so its doc_id exchange+sort is paid once at
    // checkpoint build instead of per consumer.
    val rare = graft.plans.PlanBarriers.lazyPin(ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("df") <= maxShingleDf)
      .drop("df")
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy("s"))),
      sizedBy = docs)
    // prefix side: first L rare shingles per doc, ascending hash order.
    // The epsilon guard keeps ceil() exact when t·ns is a true integer that
    // floating point represents as 27.000000000000004 — without it L would
    // come out one SHORT and the filter would turn lossy. The guard is
    // RELATIVE (t scaled by 1−1e-12), not an absolute 1e-9 subtraction: an
    // absolute epsilon falls below the double half-ulp once t·ns passes
    // ~1e7 (ulp(2^24) ≈ 4e-9), silently re-opening the lossy case for
    // documents with ~10M+ distinct shingles, while 1e-12 relative stays an
    // order of magnitude above ulp-scale (2^-52 ≈ 2e-16) at every
    // magnitude; when t·ns is genuinely fractional a 1e-12 relative nudge
    // cannot cross the integer below, so L never shrinks under the lemma's
    // bound.
    val prefixLen = col("ns") - ceil(col("ns") * lit(threshold * (1 - 1e-12))) + 1
    val pref = rare
      .filter(col("rn") <= prefixLen)
      .select(col("doc_id"), col("ns"), col("s"))
    // the prefix lemma is stated for A = the eventually-contained side
    // (smaller full set; ties → lower id), so the join orients a = that
    // side; output pairs are re-normalized to doc1 < doc2 for the verify
    // joins, which re-derive direction from the full set sizes.
    val candidates = pref.as("a")
      .join(rare.drop("rn").as("b"),
        col("a.s") === col("b.s") &&
          (col("a.ns") < col("b.ns") ||
            (col("a.ns") === col("b.ns") && col("a.doc_id") < col("b.doc_id"))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc1"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc2"))
      .dropDuplicates("doc1", "doc2")
    candidates
      .join(sh.select(col("doc_id").as("doc1"), col("ss").as("ss1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("ss").as("ss2")), "doc2")
      .withColumn("common",
        graft.plans.GraftColumns.sortedIntersectSize(col("ss1"), col("ss2")))
      .withColumn("n1", size(col("ss1"))).withColumn("n2", size(col("ss2")))
      .withColumn("containment",
        col("common").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= threshold)
      .select(
        when(col("n1") <= col("n2"), col("doc1")).otherwise(col("doc2"))
          .as("contained"),
        when(col("n1") <= col("n2"), col("doc2")).otherwise(col("doc1"))
          .as("container"),
        round(col("containment"), 4).as("containment"))
  }

  /** MinHash signature column: `numHashes` permutations via
    * Kirsch-Mitzenmacher double hashing — slot_i = min over shingles of
    * (h1 + i·h2) with h1,h2 = seeded xxhash64 reduced mod 1e9+7. Native
    * kernel (graft.plans.MinHashSig): one compiled loop per row instead of
    * per-element interpreted HOF dispatch.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    graft.plans.GraftColumns.minhashSig(shingleArr, numHashes)

  /** (doc_id, bucket) LSH band rows from a shingle table. Band → bucket =
    * hash of that band's signature slice. Only (doc_id, bucket) ever
    * enters a shuffle — never the shingle arrays, which at scale are the
    * bulk of the bytes and would be copied ×bands.
    */
  private def bandedBuckets(sh: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val sig = sh.withColumn("sig",
      minhashSignature(col("ss"), bands * rowsPerBand))
    sig.select(
      col("doc_id"),
      explode(array((0 until bands).map { bnd =>
        xxhash64(lit(bnd),
          slice(col("sig"), bnd * rowsPerBand + 1, rowsPerBand)).as("bucket")
      }: _*)).as("bucket"))
  }

  /** The INCREMENTAL dedup surface: build the LSH index of a corpus ONCE —
    * `minhashLshIndex` (doc_id, bucket) band rows plus
    * `minhashLshShingleStore` (doc_id, ss) for exact verification — write
    * both partitioned/bucketed by their keys, then `minhashLshProbe` each
    * incoming batch against them. Per batch the corpus-side cost is one
    * bucket equi join against the index and a shingle-store join for the
    * matched candidates only; the corpus text is never re-read. (This is
    * the batch analogue of streaming near-dup dedup: index append +
    * probe per micro-batch.)
    */
  def minhashLshIndex(docs: DataFrame, n: Int,
      bands: Int = 32, rowsPerBand: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bandedBuckets(shingleSets(docs, n, idCol, textCol), bands, rowsPerBand)

  /** (doc_id, ss) exact-verify side table for `minhashLshProbe`. */
  def minhashLshShingleStore(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleSets(docs, n, idCol, textCol)

  /** Near-dup pairs of `newDocs` against an indexed corpus:
    * (doc1 = new id, doc2 = indexed id, exact jaccard ≥ threshold).
    * Band parameters MUST match the ones the index was built with. Hot
    * buckets (> maxBucket members in the index) are skipped, same recall
    * trade as `minhashLshPairs`.
    */
  def minhashLshProbe(newDocs: DataFrame, index: DataFrame,
      shingleStore: DataFrame, n: Int, threshold: Double,
      bands: Int = 32, rowsPerBand: Int = 2, maxBucket: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val newSh = shingleSets(newDocs, n, idCol, textCol)
    val newBanded = bandedBuckets(newSh, bands, rowsPerBand)
      .select(col("doc_id").as("doc1"), col("bucket"))
    // at scale the bucket sizes live IN the index table; recomputing here
    // is one aggregation over (doc_id, bucket) pairs
    val coldBuckets = index.groupBy("bucket")
      .agg(count(lit(1)).as("__bn")).filter(col("__bn") <= maxBucket)
      .select("bucket")
    val candidates = newBanded
      .join(index.join(coldBuckets, "bucket")
        .select(col("bucket"), col("doc_id").as("doc2")), "bucket")
      .filter(col("doc1") =!= col("doc2"))
      .select("doc1", "doc2")
      .dropDuplicates("doc1", "doc2")
    candidates
      .join(newSh.select(col("doc_id").as("doc1"), col("ss").as("ss1")), "doc1")
      .join(shingleStore.select(col("doc_id").as("doc2"), col("ss").as("ss2")),
        "doc2")
      .withColumn("common",
        graft.plans.GraftColumns.sortedIntersectSize(col("ss1"), col("ss2")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("ss1")) + size(col("ss2")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash + LSH banding near-dup pairs, verified against exact Jaccard.
    *
    * bands × rowsPerBand = numHashes. Two docs land in the same bucket when
    * one band of their signatures agrees — P(candidate) = 1-(1-J^r)^b, the
    * standard S-curve; the b=32/r=2 default puts the curve's knee at
    * (1/32)^(1/2) ≈ 0.18, so recall at J ≥ 0.5 is ≈ 1. Candidates are then
    * EXACT-verified (shingle-set Jaccard) so emitted pairs have no false
    * positives; recall is the only approximation, and the spec test pins
    * it = 1.0 on the planted corpus. Sub-threshold candidates cost only
    * verification, bounded by `maxBucket`.
    *
    * Scale: the only shuffles are (band, bucketHash) groupBy and the final
    * verify join; `maxBucket` drops degenerate buckets to bound fan-out.
    */
  def minhashLshPairs(docs: DataFrame, n: Int, threshold: Double,
      bands: Int = 32, rowsPerBand: Int = 2, maxBucket: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = shingleSets(docs, n, idCol, textCol)
    val banded = bandedBuckets(sh, bands, rowsPerBand)

    val candidates = banded.groupBy(col("bucket"))
      .agg(collect_set(col("doc_id")).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(expr(
        """filter(
             flatten(transform(members, a ->
               transform(members, b -> struct(a AS doc1, b AS doc2)))),
             p -> p.doc1 < p.doc2)""")).as("p"))
      .select(col("p.doc1"), col("p.doc2"))
      .dropDuplicates("doc1", "doc2")

    // exact verification of candidates only: join the shingle sets back in
    // (two shuffles proportional to the CANDIDATE count, not the corpus);
    // intersection via the sorted-merge kernel, not per-row hash sets
    candidates
      .join(sh.select(col("doc_id").as("doc1"), col("ss").as("ss1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("ss").as("ss2")), "doc2")
      .withColumn("common",
        graft.plans.GraftColumns.sortedIntersectSize(col("ss1"), col("ss2")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("ss1")) + size(col("ss2")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash near-dup: 64-bit token-weighted signature; near-dups = pairs
    * within `maxHamming`. Pairing uses the block trick (split the signature
    * into `blocks` chunks; pairs within hamming k must agree on ≥1 chunk
    * when blocks > k), so again no O(n²) scan.
    */
  /** (doc_id, sig): the 64-bit SimHash signature table `simhashPairs` pairs
    * over. Signature: sign of per-bit weighted sum over distinct 3-gram
    * shingle hashes, computed by the native SimHashSig kernel (one compiled
    * loop per row; the shingle hash itself — uniform xxhash64 output — is
    * the bit source). Public so the driver gate can MATERIALIZE it and have
    * DuckDB recompute the whole pair stage brute-force in SQL
    * (`bit_count(xor(s1, s2)) <= k` over the stored longs) — the seeded
    * kernel itself is not SQL-expressible, but everything downstream of the
    * signatures is, which turns the former rows-only check into a full
    * hash gate on the block-trick join, hamming filter, and dedup.
    */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    shingleSets(docs, 3, idCol, textCol)
      .select(col("doc_id"),
        graft.plans.GraftColumns.simhashSig(col("ss")).as("sig"))

  def simhashPairs(docs: DataFrame, maxHamming: Int = 6, blocks: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashPairsFromSigs(simhashSignatures(docs, idCol, textCol),
      maxHamming, blocks)

  /** Pair stage of `simhashPairs` over a precomputed (doc_id, sig) table —
    * split out so the driver query can share ONE signature scan between the
    * oracle materialization and the pair join.
    */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 6,
      blocks: Int = 8): DataFrame = {
    require(blocks > maxHamming, "need blocks > maxHamming for exact block-trick recall")
    val bitsPerBlock = 64 / blocks
    val s = sigs

    val blocked = s.select(col("doc_id"), col("sig"),
      explode(array((0 until blocks).map { blk =>
        struct(lit(blk).as("blk"),
          shiftright(col("sig"), blk * bitsPerBlock)
            .bitwiseAND(lit((1L << bitsPerBlock) - 1)).as("chunk"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.blk"), col("b.chunk"))

    val a = blocked.as("a")
    val b = blocked.as("b")
    a.join(b,
        col("a.blk") === col("b.blk") && col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
              hammingDistance(col("a.sig"), col("b.sig")).as("hamming"))
      // hamming filter BEFORE the dedup exchange: block collisions are
      // mostly non-near-dups, so filtering first means the dropDuplicates
      // shuffle carries only true near-dups instead of every candidate.
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc1", "doc2")
  }

  /** Bounded PRODUCTION serve of the SimHash pair stage (r14 — the
    * capped twin the sf100 probe demanded): the block trick's bucket
    * alphabet is FIXED at blocks·2^(64/blocks) values (2,048 for the
    * 8×8-bit default), so bucket occupancy grows linearly with the
    * corpus and the per-bucket candidate join goes quadratic once
    * n ≫ alphabet — measured 76.5×/decade at sf100 (354 s) after two
    * decades of hiding inside the linear band (3.0× sf1→sf10). Same
    * budget discipline as `embeddingCosineCertificates` /
    * `IntervalJoin.maxPairsPerBucket`: decide a per-bucket pair budget
    * from ONE narrow per-(blk, chunk) count BEFORE the join, cull
    * over-budget buckets without ever performing their quadratic work,
    * and emit one CERTIFICATE row per occupied bucket
    * (blk, chunk, n_rows, culled, n_pairs) — output bounded by the
    * bucket alphabet, never the corpus or pair space. `n_pairs` counts
    * hamming ≤ maxHamming collisions found via THAT bucket (exact on
    * every surviving bucket, 0 on culled ones); a pair colliding in
    * several buckets is counted in each, which is the triage view a
    * pipeline wants — culled buckets are precisely the saturated chunk
    * values to route to a wider-chunk pass or the MinHash-LSH path.
    * The sparse-bucket list broadcasts (≤ alphabet rows, two narrow
    * columns), so the signature table never shuffles to learn which
    * buckets survived. Budget arithmetic is decimal(38,0) end to end —
    * a multi-billion-row bucket culls correctly instead of wrapping.
    */
  def simhashCertificates(sigs: DataFrame, maxHamming: Int = 6,
      blocks: Int = 8, maxPairsPerBucket: Long = 1000L): DataFrame = {
    require(blocks > maxHamming,
      "need blocks > maxHamming for exact block-trick recall")
    require(maxPairsPerBucket > 0, "maxPairsPerBucket must be positive")
    val bitsPerBlock = 64 / blocks
    val blocked = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until blocks).map { blk =>
        struct(lit(blk).as("blk"),
          shiftright(col("sig"), blk * bitsPerBlock)
            .bitwiseAND(lit((1L << bitsPerBlock) - 1)).as("chunk"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.blk"), col("b.chunk"))
    val counts = blocked.groupBy(col("blk"), col("chunk"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("culled",
        col("n_rows").cast("decimal(38,0)") * (col("n_rows") - lit(1L)) >
          lit(2L).cast("decimal(38,0)") * lit(maxPairsPerBucket))
    val sparse = counts.filter(!col("culled"))
      .select(col("blk"), col("chunk"))
    val kept = blocked.join(broadcast(sparse), Seq("blk", "chunk"),
      "left_semi")
    val a = kept.select(col("blk"), col("chunk"), col("doc_id").as("doc1"),
      col("sig").as("sig1"))
    val b = kept.select(col("blk"), col("chunk"), col("doc_id").as("doc2"),
      col("sig").as("sig2"))
    val pairs = a.join(b, Seq("blk", "chunk"))
      .filter(col("doc1") < col("doc2"))
      .filter(hammingDistance(col("sig1"), col("sig2")) <= maxHamming)
      .groupBy(col("blk"), col("chunk")).agg(count(lit(1)).as("n_pairs"))
    counts.join(pairs, Seq("blk", "chunk"), "left_outer")
      .select(col("blk"), col("chunk"), col("n_rows"), col("culled"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /** Embedding-cosine near-dup pairs. Exact all-pairs within label blocks
    * (block on a cheap equi key to avoid the full cross product); the
    * unblocked scale path is `Similarity.lshBuckets`.
    */
  def embeddingCosinePairs(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: Option[String] = Some("label")): DataFrame = {
    graft.plans.GraftFunctions.ensure(emb.sparkSession)
    // norms are computed ONCE per vector here (O(n)), not per pair (O(n²));
    // the pair-side arithmetic is bit-identical to cosineSimilarity, via
    // the codegen'd vec_dot kernel.
    val a = emb.select(col(idCol).as("id1"), col(vecCol).as("v1"),
      norm2Fast(col(vecCol)).as("nrm1"),
      blockCol.map(col).getOrElse(lit(0)).as("blk1"))
    val b = emb.select(col(idCol).as("id2"), col(vecCol).as("v2"),
      norm2Fast(col(vecCol)).as("nrm2"),
      blockCol.map(col).getOrElse(lit(0)).as("blk2"))
    // zero-norm vectors have no direction: cosine is undefined, the pair
    // is null and drops at the threshold filter instead of raising a
    // DIVIDE_BY_ZERO under ANSI mode.
    a.join(b, col("blk1") === col("blk2") && col("id1") < col("id2"))
      .withColumn("cos", when(col("nrm1") * col("nrm2") =!= 0.0,
        dotFast(col("v1"), col("v2")) / (col("nrm1") * col("nrm2"))))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
  }

  /** Bounded PRODUCTION serve of `embeddingCosinePairs` — the same
    * relationship q28_interval_overlap_capped has to q28 and
    * gold_alerts_capped to gold_alerts. The exact blocked pair join is
    * output-quadratic in the hottest block (a block of n rows costs
    * n·(n−1)/2 comparisons; with a fixed label alphabet n grows linearly
    * with the corpus, so the join is quadratic in sf). The serve a
    * pipeline would actually run decides a per-block pair BUDGET from ONE
    * narrow per-block count BEFORE the pair join: blocks whose pair count
    * n·(n−1)/2 exceeds `maxPairsPerBlock` are CULLED — their quadratic
    * work is never performed — and every surviving block is joined
    * exactly. Output is one CERTIFICATE row per block
    * (block, n_rows, culled, n_pairs): bounded by the number of distinct
    * blocks, never by the pair space, and `n_pairs` (near-dup pairs at
    * `threshold`) is exact on every surviving block and 0 on culled ones.
    * At 100 TB the certificate is the triage table: culled blocks are
    * precisely the hot template/boilerplate labels a curation pipeline
    * routes to the sub-quadratic LSH path (`Similarity.lshBuckets`)
    * instead of the exact join.
    *
    * Overflow note: the budget comparison multiplies on decimal(38,0), so
    * a block of several billion rows (n² > Long.MaxValue) still culls
    * correctly instead of wrapping negative and reading as sparse.
    */
  def embeddingCosineCertificates(emb: DataFrame, threshold: Double,
      maxPairsPerBlock: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label"): DataFrame = {
    require(maxPairsPerBlock > 0, "maxPairsPerBlock must be positive")
    graft.plans.GraftFunctions.ensure(emb.sparkSession)
    val counts = emb.groupBy(col(blockCol).as("block"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("culled",
        col("n_rows").cast("decimal(38,0)") * (col("n_rows") - lit(1L)) >
          lit(2L).cast("decimal(38,0)") * lit(maxPairsPerBlock))
    // the sparse-block list is bounded by the block count (one row per
    // block, two narrow columns) — broadcast it, so the corpus never
    // shuffles to learn which blocks survived
    val sparse = counts.filter(!col("culled")).select(col("block"))
    val kept = emb.join(broadcast(sparse),
      col(blockCol) === col("block"), "left_semi")
    val a = kept.select(col(idCol).as("id1"), col(vecCol).as("v1"),
      norm2Fast(col(vecCol)).as("nrm1"), col(blockCol).as("blk1"))
    val b = kept.select(col(idCol).as("id2"), col(vecCol).as("v2"),
      norm2Fast(col(vecCol)).as("nrm2"), col(blockCol).as("blk2"))
    // same pair arithmetic as embeddingCosinePairs (norms once per vector,
    // codegen'd vec_dot per pair, null-safe zero-norm drop)
    val pairs = a.join(b, col("blk1") === col("blk2") && col("id1") < col("id2"))
      .withColumn("cos", when(col("nrm1") * col("nrm2") =!= 0.0,
        dotFast(col("v1"), col("v2")) / (col("nrm1") * col("nrm2"))))
      .filter(col("cos") >= threshold)
      .groupBy(col("blk1").as("block")).agg(count(lit(1)).as("n_pairs"))
    counts.join(pairs, Seq("block"), "left_outer")
      .select(col("block"), col("n_rows"), col("culled"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /** Exact-substring duplication stats, the span-level complement of the
    * document-level near-dup family (the "dedupe any n-token window that
    * appears elsewhere in the corpus" signal of LLM data curation):
    * per document, how many of its n-token windows ALSO occur in at least
    * one OTHER document. Documents shorter than n contribute their full
    * text as one window.
    *
    * Unlike `ngramJaccardPairs` this keeps every window OCCURRENCE (a doc
    * repeating a shared window counts it each time), so `dup_frac` is the
    * fraction of the document's token stream sitting in cross-document
    * duplicated spans — the quantity a span-excision pass would remove.
    *
    * Scale: windows travel as 8-byte xxhash64 values (equality-only use;
    * 2⁻⁶⁴ collisions, same contract as the shingle family). Three
    * bounded exchanges: distinct (doc, window), window → distinct-doc
    * count, and the occurrence join back on the window hash. The shared-
    * window table is corpus-sized in the worst case, so it stays on the
    * shuffle-join path — no broadcast assumption.
    */
  def dupWindowStats(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val occ = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(shingleHashesFromTokens(col("toks"), n)).as("h"))
    val shared = occ.distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    occ.join(shared, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(col("n_docs")).as("n_dup_windows"))
      .withColumn("dup_frac",
        round(col("n_dup_windows") * 1.0 / col("n_windows"), 4))
  }

  /** VARIABLE-LENGTH exact-substring duplication — the windowed-merge
    * approximation of suffix-array span dedup (the "remove every shared
    * substring ≥ L tokens" pass of LLM curation pipelines, Lee et al.'s
    * deduplicate-text-datasets family): chain a document's overlapping /
    * adjacent cross-document-duplicated n-token windows into MAXIMAL
    * spans, report each span's token extent, keep spans ≥ `minSpan`.
    *
    * Window positions i and j (i < j) chain when j − i ≤ n: their token
    * ranges [i, i+n−1] and [j, j+n−1] overlap or touch, so the merged
    * range is gapless. A maximal chain from i₀ to i₁ is the span
    * [i₀, i₁+n−1] — every shared substring of length s ≥ n appears as
    * s−n+1 consecutive dup windows and is recovered EXACTLY (clamped at
    * the doc tail for the short-doc full-text window); what the
    * approximation can over-merge is two distinct shared substrings
    * separated by < n non-shared tokens, which a true suffix array would
    * keep apart — the standard trade for never building one.
    *
    * Scale: same three bounded exchanges as `dupWindowStats` (positions
    * ride along as ints) plus ONE extra shuffle on doc_id for the
    * gaps-and-islands window — per-doc state, never corpus-global.
    */
  def dupSpanMerge(docs: DataFrame, n: Int, minSpan: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && minSpan >= n, s"need minSpan ($minSpan) >= n ($n)")
    val occ = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("nt"),
        posexplode(shingleHashesFromTokens(col("toks"), n)).as(Seq("pos", "h")))
    val shared = occ.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    occ.join(shared, Seq("h"))
      // first dup window of a doc has NULL lag → null condition → new span,
      // matching the oracle's CASE WHEN NULL falsy arm
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, 0).otherwise(1))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      // span end clamps at the doc tail: the short-doc arm's single
      // full-text window covers nt (< n) tokens, not n
      .agg(min(col("pos")).as("span_start"),
           least(max(col("pos")) + lit(n - 1), min(col("nt")) - 1).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .filter(col("span_tokens") >= minSpan)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
  }

  /** EXCISE the merged duplicate spans from the corpus — the destructive
    * half of span-level dedup (what `dupSpanMerge` detects, this removes,
    * completing the Lee-et-al-style pipeline: detect shared substrings ≥
    * minSpan tokens, cut them out, keep the remainder): every token whose
    * position falls inside any of its document's spans is dropped and the
    * survivors reassemble in order. Documents without spans pass through
    * verbatim (normalized); a document excised to nothing drops out.
    *
    * Scale: `dupSpanMerge`'s exchanges plus one per-doc anti join (equi
    * on doc_id, span range as residual — never a cross product; spans
    * per doc are few) and one per-doc reassembly groupBy. The
    * (pos, token) struct sort inside collect_list makes reassembly
    * deterministic under any partitioning.
    */
  def exciseDupSpans(docs: DataFrame, n: Int, minSpan: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = dupSpanMerge(docs, n, minSpan, idCol, textCol)
      .select(col("doc_id").as("s_doc"), col("span_start"), col("span_end"))
    val toks = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    toks
      .join(spans,
        col("doc_id") === col("s_doc") &&
          col("pos") >= col("span_start") && col("pos") <= col("span_end"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok"))).as("clean_text"),
        count(lit(1)).as("n_tokens_kept"))
  }
}
