package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-scaled exchange width for BATCH heavies — `StreamScale`'s
  * partition policy generalized to the batch side (VERDICT r14 task 3).
  *
  * Why: the bench contract fixes `spark.sql.shuffle.partitions` at 32,
  * and at the third decade (sf100 ≈ 16 GB corpus) a fixed-width heavy
  * exchange concentrates ~19M rows per sort/aggregate task — external
  * sort spill goes superlinear and collect_list-style aggregations OOM
  * outright (`graph_pagerank` completed at sf100 only under a hand-set
  * 128-partition session width and a 24g heap). The fix belongs in the
  * ENGINE: scale the width of the known-heavy exchanges with the data
  * flowing through them, exactly as `StreamScale.parts` scales replay
  * partitions with the corpus.
  *
  * The contract mirrors StreamScale's: `floor` is the session's
  * configured width (the value every recorded basis ≤ sf10 was measured
  * at), so below the engagement threshold the plan is IDENTICAL to the
  * recorded one; above it the width grows as ceil(rows / rowsPerPart),
  * capped to keep task counts sane on a bounded driver. Results are
  * partition-count-invariant (the suite re-runs under
  * GRAFT_TEST_SHUFFLE_PARTITIONS to enforce exactly that), so this is a
  * pure memory-pressure trim — no semantic surface.
  */
object BatchScale {

  /** Rows per task that a 32-core / 8 GiB bench JVM sorts or aggregates
    * comfortably (the sf10 basis runs ~1.9M lineitem rows per task and
    * is linear; spill pathology shows up well past 4M).
    */
  val RowsPerPart = 2000000L

  def parts(nRows: Long, rowsPerPart: Long = RowsPerPart,
      floor: Int = 32, cap: Int = 1024): Int = {
    require(rowsPerPart > 0, "rowsPerPart must be positive")
    require(floor >= 1 && cap >= floor, "need cap >= floor >= 1")
    val want = ((nRows + rowsPerPart - 1) / rowsPerPart).toInt
    math.max(floor, math.min(cap, want))
  }

  /** The session's configured exchange width — the floor every scaled
    * width respects, so sub-threshold plans match the recorded basis.
    */
  def floorOf(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Data-scaled width for `df` from CATALYST STATS (no job): file-backed
    * relations report summed file bytes, projections/filters scale it.
    * `bytesPerPart` is in the STATS currency (compressed file bytes) —
    * 32 MB of parquet decodes to roughly the RowsPerPart task size.
    */
  def partsFor(df: DataFrame, bytesPerPart: Long = 32L << 20,
      cap: Int = 1024, floor: Int = -1): Int = {
    require(bytesPerPart > 0, "bytesPerPart must be positive")
    val f = if (floor > 0) floor else floorOf(df)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = ((bytes + bytesPerPart - 1) / bytesPerPart)
      .min(BigInt(cap)).toInt
    math.max(f, want)
  }

  /** AQE-side width scaling for harness sessions (the general form of
    * this policy): start every adaptive exchange at a CORPUS-SCALED
    * `initialPartitionNum` and let runtime coalescing size it to the
    * data. This covers every groupBy/join/window the per-operator
    * repartition policy doesn't name. Stateful streaming ignores AQE
    * (its width stays the gates' corpus-scaled `StreamScale` contract),
    * and `ckptKeepPartitioning` materializations run AQE-off at the
    * session width, exactly as recorded.
    *
    * Scaled, NOT fixed (r15 measurement): the first cut pinned 512
    * unconditionally, and an interleaved sf0.1 A/B measured a 10-25%
    * per-query tax on the window/sort family (q8_lead_lag 0.57→0.72 s,
    * layout_zorder 0.84→1.02 s, gold_alerts 4.7→5.4 s) — the map side
    * partitions into 512 buckets and AQE re-merges them, pure overhead
    * when the whole input is a few MB. Width now derives from the corpus
    * footprint at one 32 MB-of-input partition per unit (the same
    * currency as `partsFor`): at sf0.1 (17 MB) that is ≤ the session
    * floor, so NO conf is emitted and the plan basis is byte-identical
    * to every recorded run; at sf100 (~17 GB) it opens to ~540 and the
    * third-decade heavies get their layout with no env override.
    *
    * `floor` is the session's exchange width (`spark.sql.shuffle
    * .partitions`, AQE's own default for this knob); emitting nothing at
    * or below it keeps sub-threshold sessions exactly on the recorded
    * basis.
    */
  def aqeWidthConfs(sfDir: String, floor: Int): Seq[(String, String)] = {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val scaled = ((dirBytes(sfDir) + (32L << 20) - 1) / (32L << 20))
      .min(1024L).toInt
    if (scaled <= floor) Nil else Seq(key -> scaled.toString)
  }

  /** Total bytes under `dir` (recursive; 0 when absent) — the corpus
    * footprint the AQE width scales from. A directory walk, no Spark job.
    */
  def dirBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) {
        val children = f.listFiles()
        if (children == null) 0L else children.map(walk).sum
      } else f.length()
    if (root.exists()) walk(root) else 0L
  }

  /** Global sort at data-scaled width. Semantically identical to
    * `df.orderBy(keys)` — range exchange + per-partition sort IS what
    * orderBy plans — but with the partition count scaled to the data
    * instead of pinned at the session width. Below the engagement
    * threshold it returns plain `orderBy` (AQE keeps its small-SF
    * coalesce; the recorded plans are untouched).
    */
  def sortScaled(df: DataFrame, keys: Column*): DataFrame =
    sortScaledBy(df, 32L << 20, keys: _*)

  /** `sortScaled` with an explicit stats-bytes-per-partition threshold
    * (the spec forces engagement on unit-scale frames through this).
    */
  def sortScaledBy(df: DataFrame, bytesPerPart: Long,
      keys: Column*): DataFrame = {
    val w = partsFor(df, bytesPerPart)
    if (w <= floorOf(df)) df.orderBy(keys: _*)
    else df.repartitionByRange(w, keys: _*).sortWithinPartitions(keys: _*)
  }
}
