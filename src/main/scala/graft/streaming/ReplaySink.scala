package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The replay harness's result sink, with two provenances:
  *
  *  - ORACLE runs (Verify, specs — the default): the classic
  *    `format("memory")` sink. The driver-visible result table is what the
  *    gate hashes against DuckDB; its per-micro-batch `collect()` is part
  *    of the HARNESS, priced acceptable because correctness runs once.
  *  - ENGINE-ONLY runs (`engineOnly = true`, set by the timing mains):
  *    Spark's native parquet `FileStreamSink`. Every micro-batch commits
  *    its output distributed (executor-written part files + the
  *    `_spark_metadata` exactly-once manifest) and NOTHING crosses the
  *    driver — so a timed replay measures the streaming engine, not an
  *    O(query output) driver collect. BASELINE.md's "memory-sink
  *    measurement artifact" note records the proof: the sf10 stream-stream
  *    join replay ABORTED at the default 1g `maxResultSize` having
  *    collected 16 GiB — output volume no production sink would ever move
  *    through one JVM. `result()` reads the committed files back through
  *    the manifest, so downstream post-processing (renumbering, ordering)
  *    stays distributed too.
  *
  * Only APPEND-mode topologies route through here: the file sink cannot
  * express update/complete upserts, and every heavy replay (the
  * stream-stream joins, sessionization, session windows) is append-mode;
  * the complete-mode gates emit small aggregate tables where the memory
  * sink is already engine-negligible.
  *
  * Sink dirs live under one process-scoped tmp root (RAM-backed when
  * `Scratch` is installed) removed on JVM exit; `sweep()` — called by the
  * bench between measurements, after the result is consumed — reclaims
  * them eagerly so a 189-query sweep cannot grow the scratch footprint.
  */
object ReplaySink {

  /** Engine-only switch. Set by `graft.Bench` ONLY — Verify and the specs
    * must keep the memory-sink oracle path. */
  @volatile var engineOnly: Boolean = false

  /** One started replay sink: the running query plus the way to read its
    * accumulated result after the replay completes. */
  final class Handle private[ReplaySink] (s: SparkSession,
      val query: StreamingQuery, sinkName: String,
      fileOut: Option[(String, StructType)]) {
    /** The replay's full output as a DataFrame — the memory-sink table, or
      * the file sink's committed files (manifest-resolved, distributed). */
    def result(): DataFrame = fileOut match {
      case Some((dir, schema)) => s.read.schema(schema).parquet(dir)
      case None => s.table(sinkName)
    }
    def processAllAvailable(): Unit = query.processAllAvailable()
    def stop(): Unit = query.stop()
  }

  /** Start `ds.writeStream` in APPEND mode into the mode-appropriate sink. */
  def append(s: SparkSession, ds: Dataset[_]): Handle = {
    val nm = "graft_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    if (engineOnly) {
      val dir = root.resolve(nm)
      pending.add(dir)
      val q = ds.writeStream.format("parquet")
        .option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("_ckpt").toString)
        .outputMode("append").start()
      new Handle(s, q, nm, Some((dir.resolve("out").toString, ds.schema)))
    } else {
      val q = ds.writeStream.format("memory").queryName(nm)
        .outputMode("append").start()
      new Handle(s, q, nm, None)
    }
  }

  /** Reclaim every engine-only sink dir created so far. Callers must be
    * past consuming the corresponding `result()` DataFrames — in Bench
    * that is the between-measurements bookkeeping slot, after
    * `BenchAction.consume` returned. */
  def sweep(): Unit = {
    var d = pending.poll()
    while (d != null) {
      try rm(d) catch { case _: Throwable => () }
      d = pending.poll()
    }
  }

  /** Call-site syntax that keeps replay topologies readable:
    * `ds.replayAppendSink(s)` in place of the old inline
    * `.writeStream.format("memory")...start()` chain. */
  implicit class DatasetReplayOps(private val ds: Dataset[_]) extends AnyVal {
    def replayAppendSink(s: SparkSession): Handle = append(s, ds)
  }

  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val root: Path = {
    val p = Paths.get(Scratch.freshRoot("replay_sink"))
    Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try rm(p) catch { case _: Throwable => () }
    }))
    p
  }

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.foreach(rm)
    Files.deleteIfExists(p)
  }
}
