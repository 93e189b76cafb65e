package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated corpus (`TESTDATA.md`): one parquet file
  * per table under `sfDir`. Reads are lazy `LogicalRelation`s so Catalyst
  * pushes filters and column pruning into the parquet scan — at 100 TB the
  * scan cost is dominated by what reaches the reader, so every query below
  * must show `PushedFilters`/pruned `ReadSchema` in `.explain`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table, opened with its memoized schema: only the first open of a
    * file runs Spark's parquet schema-inference job. The memo key is the
    * path; the name, length and modification time of the file, or of each
    * data file directly under a table directory (a rewritten file is
    * inferred again); and the session confs that change what inference
    * returns. `spark.sql.legacy.parquet.nanosAsLong`, which `events` turns
    * on for the session, is kept beside the schema instead: with it off,
    * inference fails on a TIMESTAMP(NANOS) column, so a schema inferred
    * with it off also holds with it on, and the flip costs no table
    * opened before it a second inference.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanosAsLong = spark.conf.get(NanosAsLong, "false").toBoolean
    val (schema, _) = schemaCache.compute(schemaKey(spark, path),
      (_, hit) =>
        if (hit != null && (nanosAsLong || !hit._2)) hit
        else (spark.read.parquet(path).schema, nanosAsLong))
    spark.read.schema(schema).parquet(path)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** key -> (schema, whether it was inferred with `NanosAsLong` on) */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.types.StructType, Boolean)]()

  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private def schemaKey(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p)
      .filterNot(f => f.getPath.getName.startsWith("_") ||
        f.getPath.getName.startsWith("."))
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted
    val confs = inferenceConfs.map(k => s"$k=${spark.conf.getOption(k)}")
    (path +: (files ++ confs)).mkString("|")
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts has shipped as two parquet physical shapes across testdata
    * generations: INT64 TIMESTAMP(NANOS) (Spark 4 refuses it as a
    * timestamp — read as long via the legacy conf and floor ns → µs) and
    * INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark reads it as
    * TIMESTAMP_NTZ). Both normalize here to session-zone TIMESTAMP: the
    * session timezone is pinned UTC everywhere (Verify/Bench/specs), so the
    * NTZ→LTZ cast reinterprets the stored wall-clock as UTC — exactly how
    * DuckDB's `epoch_ms` treats the same naive value, keeping oracle
    * comparisons agreeing at ms precision. Downstream code always sees
    * plain TimestampType and never branches on the file's vintage.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set(NanosAsLong, "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Memoized table row count — one count job per (dir, table) per JVM.
    * The streaming replays size their shuffle/state partition counts from
    * corpus volume (`StreamScale.parts`); 22 gates × warm-up passes × two
    * timed reps must not each re-pay a count job over the same immutable
    * table. A bare-projection parquet count is metadata-cheap (no column
    * materializes), and the testdata tables never change within a JVM.
    */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def rowCount(s: SparkSession, d: String, name: String): Long =
    countCache.computeIfAbsent(s"$d/$name", _ => apply(s, d, name).count())
}

/** A named engine query plus (optionally) the ANSI-SQL oracle the driver
  * replays in DuckDB over the same parquet tables. Column names and value
  * rounding MUST agree between the two — the driver hash-compares after
  * sorting columns by name.
  */
final case class NamedQuery(
    name: String,
    private val body: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  /** Gate-scoped conf guard (r16, ADVICE r15): several stream gates flip
    * session-global confs (shuffle width, noDataMicroBatches, state-store
    * provider) and restore them in a `finally` that only covers the replay
    * loop — a throw from stream CONSTRUCTION or `start()` would leak the
    * flipped values into every later gate in the same session. Builders
    * still restore on their own happy path (so downstream planning inside
    * the builder sees the restored width); this wrapper is the safety net
    * for the construction-throw window, snapshotting before and restoring
    * after the builder regardless of how it exits. The returned DataFrame
    * executes after restoration either way, so no query's plan changes.
    */
  def run(s: SparkSession, d: String): DataFrame = {
    val prev = NamedQuery.scopedConfKeys.map(k => k -> s.conf.getOption(k))
    try body(s, d)
    finally prev.foreach { case (k, p) =>
      if (s.conf.getOption(k) != p) p match {
        case Some(v) => s.conf.set(k, v)
        case None    => s.conf.unset(k)
      }
    }
  }
}

object NamedQuery {
  /** Every session conf any gate builder flips-and-restores. */
  private[graft] val scopedConfKeys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
}
