package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Executor-fed micro-batch replay on Spark's FILE streaming source — the
  * harness that drives a bounded corpus through a Structured Streaming
  * topology with deterministic batch boundaries and NO data through the
  * driver.
  *
  * Earlier rounds used `MemoryStream`: the corpus was `collect()`ed and
  * re-shipped from the driver — fine as Spark's own test idiom, but it was
  * the one driver-side data path left in the inventory, and at sf1 it
  * serialized the whole events table twice through one JVM thread. Here
  * each intended micro-batch is STAGED instead: executors write the batch
  * DataFrame as parquet into a staging dir, and the part files are then
  * renamed (a metadata-only move, no bytes copied) into the directory the
  * streaming query watches. `FileStreamSource` picks up every file that
  * appeared since the last trigger as ONE micro-batch (no
  * `maxFilesPerTrigger` cap), so
  *
  *   feed.stage(batchDf); query.processAllAvailable()
  *
  * is the exact analogue of `mem.addData(rows); processAllAvailable()` —
  * same batch split, same watermark advance points — with the feed running
  * distributed. The production shape differs only in who writes the files
  * (Kafka partitions / an upstream job instead of this staging rename);
  * offsets live in the checkpoint's file-source log either way, which also
  * makes the two-run restart replays (`Trigger.AvailableNow` over one
  * checkpoint) portable across processes — something MemoryStream offsets
  * never were.
  *
  * Batch DataFrames must share one schema (pass it at construction; the
  * file source cannot infer streaming schemas). `close()` after
  * `query.stop()` — the staged corpus is transient harness state, not a
  * result.
  */
final class FileReplay private (spark: SparkSession, schema: StructType,
    root: Path) {

  private val watchDir = root.resolve("in")
  private var n = 0
  private var nPrep = 0

  /** The streaming side: a parquet `readStream` over the watched dir. */
  def stream: DataFrame =
    spark.readStream.schema(schema).parquet(watchDir.toString)

  /** Stage `df` as the NEXT micro-batch: distributed parquet write to a
    * staging dir, then rename each part file into the watched dir under a
    * batch-ordered name. Returns after the files are visible, so a
    * following `processAllAvailable()` consumes exactly this batch.
    */
  def stage(df: DataFrame): Unit = {
    val dir = root.resolve(f"stage_b$n%05d")
    df.write.mode("overwrite").parquet(dir.toString)
    publish(dir, link = false)
  }

  /** Stage `df` as the next micro-batch THROUGH the JVM-lifetime staging
    * cache: the first call under `key` pays the distributed parquet write;
    * every later call (the second timed bench rep, the warm-up passes, a
    * sibling gate replaying the same slice) HARDLINKS the cached part
    * files into this feed's watched dir — a metadata-only publish, no
    * bytes recomputed or copied. Sound only because every cached slice
    * derives deterministically from the immutable testdata tables: `key`
    * must name the content (source table, projection, filter, sfDir), and
    * the schema rides along as a collision guard. A wrong key cannot pass
    * silently — every replay gate is hash-checked against its DuckDB
    * oracle, so stale content turns the gate red. Sentinel batches (1-row
    * driver literals) should keep using `stage` — caching them buys
    * nothing.
    */
  def stageCached(df: DataFrame, key: String): Unit = {
    val src = FileReplay.cachedSlice(df, key)
    publish(src, link = true)
  }

  /** First half of `stage`, split out for DUAL-FEED replays (r16): write
    * `df` to a private staging dir WITHOUT making it visible. The parquet
    * write is a real Spark job (~50-100 ms even for a 1-row sentinel), and
    * under the zero-interval trigger loop a feed published before its
    * partner finishes writing is consumed as a HALF-PAIR micro-batch — one
    * extra full per-partition state-store commit floor per split, for no
    * semantic effect (watermark advance is monotone and the oracle hash is
    * batch-split-invariant; StateMetrics measured the ss-outer replay at 6
    * warm batches where 4 were intended). Prepare BOTH sides, then publish
    * both: the publishes are pure renames, microseconds apart, so the
    * trigger sees the intended pair as one batch.
    */
  def prepare(df: DataFrame): Path = {
    val dir = root.resolve(f"prep_p$nPrep%05d")
    nPrep += 1
    df.write.mode("overwrite").parquet(dir.toString)
    dir
  }

  /** Publish a `prepare`d dir as the next micro-batch (rename only). */
  def publishPrepared(dir: Path): Unit = publish(dir, link = false)

  /** Cached-slice analogue of `prepare`: build (or look up) the slice in
    * the JVM-lifetime cache without publishing — the cache MISS is a full
    * distributed write, exactly the window the half-pair race needs. Pair
    * with `publishCached`; same content-keying contract as `stageCached`.
    */
  def prepareCached(df: DataFrame, key: String): Path =
    FileReplay.cachedSlice(df, key)

  /** Publish a `prepareCached` slice as the next micro-batch (hardlinks —
    * the cache entry survives for sibling feeds). */
  def publishCached(src: Path): Unit = publish(src, link = true)

  /** Make the part files of `dir` visible to the stream as one batch:
    * rename (own staging, `link = false`) or hardlink (shared cache,
    * `link = true` — the cache entry must survive for other feeds).
    */
  private def publish(dir: Path, link: Boolean): Unit = {
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = watchDir.resolve(f"b$n%05d_$i%05d.parquet")
      if (link) Files.createLink(dst, p) else Files.move(p, dst)
    }
    n += 1
  }

  /** Delete the staged corpus (watch dir + empty staging skeletons). */
  def close(): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.foreach(rm)
      Files.deleteIfExists(p)
    }
    rm(root)
  }
}

object FileReplay {
  /** Fresh replay feed under java.io.tmpdir; `schema` is the shared schema
    * of every batch that will be staged.
    */
  def apply(spark: SparkSession, schema: StructType): FileReplay = {
    val root = Paths.get(Scratch.freshRoot("replay"))
    Files.createDirectories(root.resolve("in"))
    new FileReplay(spark, schema, root)
  }

  /** JVM-lifetime staged-slice cache: content key → parquet dir. Keys are
    * caller-authored content names; the slice schema is appended as a
    * collision guard (same key + different projection → distinct entries).
    * Entries live under one process-scoped tmp root, removed on JVM exit —
    * the cache can never go stale across code changes because it never
    * outlives the process that wrote it.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Path]()

  private lazy val cacheRoot: Path = {
    val p = Paths.get(Scratch.freshRoot("replay_cache"))
    Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(x: Path): Unit = {
        if (Files.isDirectory(x))
          Files.list(x).iterator().asScala.foreach(rm)
        Files.deleteIfExists(x)
      }
      try rm(p) catch { case _: Throwable => () }
    }))
    p
  }

  private def cachedSlice(df: DataFrame, key: String): Path = {
    val full = key + "#" + df.schema.catalogString
    cache.computeIfAbsent(full, _ => {
      val dir = cacheRoot.resolve(f"slice_${cache.size()}%05d_" +
        Integer.toHexString(full.hashCode))
      df.write.mode("overwrite").parquet(dir.toString)
      dir
    })
  }
}
