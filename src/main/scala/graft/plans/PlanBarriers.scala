package graft.plans

import org.apache.spark.sql.DataFrame

/** Lineage barriers that KEEP physical properties. */
object PlanBarriers {

  /** Cluster-survivable pin for a STATIC iteration side (r12, VERDICT r11
    * task 3): write `df` ONCE as a bucketed persisted table on `key` with
    * numBuckets = shuffle.partitions, and read it back — the scan reports
    * `HashPartitioning(key, buckets)` from the bucket metadata, so every
    * co-partitioned superstep join stays exchange-free exactly as under
    * `ckptKeepPartitioning` (PlanQualitySpec pins both variants).
    *
    * Why a second currency: `localCheckpoint` is lineage-TRUNCATING — on
    * a real cluster an executor loss aborts the whole job because the
    * pinned blocks have no recompute path — and the blocks contend
    * storage memory with execution (the documented
    * AGGREGATE_OUT_OF_MEMORY near-miss, Graph.scala). A bucketed table
    * trades one distributed write for file-backed blocks any executor
    * can re-read after a loss, with zero storage-memory footprint — the
    * right currency once the static side stops being small. Callers
    * select by size threshold (PageRank probes |E| for free in its
    * outdeg probe; connectedComponents reuses its offload-gate count).
    *
    * The pin lives in the ACID store (r13, VERDICT r12 task 6): each call
    * commits one bucketed VERSION of a `_pin`-layer catalog table through
    * `TableCatalog.overwriteBucketed` — pointer-swap commit, retention
    * vacuum of superseded pins, rename-aside reclamation — so the
    * survivability currency has the same durability and lifecycle story
    * as every other table the engine owns. The catalog root defaults to a
    * per-process dir under java.io.tmpdir and is overridable via
    * `spark.graft.pin.root` (a production deployment points it at durable
    * storage; the partitioning contract is identical). `name` keys the
    * logical pin: callers that re-pin the same static side across runs
    * (PageRank adjacency, CC edges) pass a stable name so the retention
    * vacuum reclaims superseded versions — keepVersions=2, so the
    * previous pin always outlives its in-flight readers; anonymous
    * callers get a UUID table (write-once, nothing to vacuum).
    */
  def pinBucketed(df: DataFrame, key: String, name: String = "",
      buckets: Int = -1): DataFrame = {
    val s = df.sparkSession
    // width defaults to the session exchange width; iterative operators
    // whose static side outgrows a fixed-width layout pass a
    // BatchScale-derived count so every co-partitioned superstep join
    // runs at the data-scaled width
    val nBuckets =
      if (buckets > 0) buckets
      else s.conf.get("spark.sql.shuffle.partitions").toInt
    val root = s.conf.getOption("spark.graft.pin.root").getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_pin_" +
        s"${ProcessHandle.current().pid()}")
    val cat = new graft.catalog.TableCatalog(s, root)
    if (name.nonEmpty) {
      // same-name pins are a single-writer commit; serialization lives in
      // TableCatalog.overwriteBucketed itself (per-(root,layer,table)
      // lock), so EVERY caller is covered, not just this wrapper
      cat.overwriteBucketed(df, "_pin", name, key, nBuckets)
    } else {
      val table = "anon_" + java.util.UUID.randomUUID().toString.replace("-", "")
      cat.overwriteBucketed(df, "_pin", table, key, nBuckets)
    }
  }

  /** Eager localCheckpoint that preserves the plan's hash partitioning.
    * `Dataset.checkpoint` copies the executed plan's outputPartitioning
    * into the `LogicalRDD` — but only when that plan isn't an
    * `AdaptiveSparkPlanExec`, which reports UnknownPartitioning (and
    * whose coalesced final shuffle wouldn't match `shuffle.partitions`
    * anyway). A checkpoint built under AQE therefore FORGETS it is
    * hash(key) and every consumer re-exchanges it — measured (BASELINE.md,
    * "PageRank stops re-shuffling the static edge set"): 3 exchanges per
    * PageRank superstep under AQE-built checkpoints, 1 with this barrier.
    * AQE is toggled off just for the materialization (eager, so the conf
    * is restored immediately) and restored in finally; downstream queries
    * keep their own AQE setting. This is the Pregel load-time discipline for every
    * iterative operator whose STATIC side must stay put: partition once,
    * exchange only the small per-round state.
    *
    * The toggle + materialize run under a per-session lock: the conf is
    * session-global, so two unsynchronized callers could interleave —
    * the second reading "false" as the old value and restoring it,
    * leaving AQE silently disabled session-wide. The lock serializes the
    * read-modify-restore; the window where an UNRELATED concurrent query
    * plans without AQE remains (the conf is one value per session), but
    * it is now bounded by one materialization and always restores the
    * true prior value.
    */
  def ckptKeepPartitioning(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.synchronized {
      val key = "spark.sql.adaptive.enabled"
      val old = spark.conf.get(key, "true")
      spark.conf.set(key, "false")
      try df.localCheckpoint(true) finally spark.conf.set(key, old)
    }
  }

  /** Input stats size past which `lazyPin` stores DISK_ONLY blocks. */
  private[graft] val DiskOnlyPastBytes: Long = 128L << 20

  /** Lazy `localCheckpoint` whose storage currency is gated on the size of
    * the input it derives from (r15, VERDICT r14 task 1). Callers use it
    * as a shared-subtree barrier: a frame referenced by several plan
    * branches (a self-join, the range sampler of a global sort, scalar
    * combines) executes once, and no optimizer rule inlines across it.
    *
    * Up to `DiskOnlyPastBytes` of `sizedBy` plan stats the blocks are
    * the default DESERIALIZED heap blocks (MEMORY_AND_DISK) — the right
    * currency up to ~sf10. Past it they are serialized DISK_ONLY blocks:
    * zero heap residency, streaming reads. At the third decade the dedup
    * shingle and rare-index barriers held multi-GB of heap objects (the
    * sf100 heap-OOM under a wider shuffle was this pressure, not
    * candidate growth), and the r12 eager-checkpoint OOM of triangles at
    * sf10 was memory-pinned blocks starving the downstream aggregation.
    * `sizedBy` is the operator's own input, whose stats are known
    * without running anything.
    */
  def lazyPin(df: DataFrame, sizedBy: DataFrame): DataFrame =
    if (sizedBy.queryExecution.optimizedPlan.stats.sizeInBytes > DiskOnlyPastBytes)
      df.localCheckpoint(eager = false,
        storageLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
    else df.localCheckpoint(eager = false)
}
