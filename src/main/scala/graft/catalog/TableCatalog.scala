package graft.catalog

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SaveMode,
  SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Typed conflict signal of the optimistic commit protocol
  * (`TableCatalog.overwriteOptimistic`): the base version a writer derived
  * its snapshot from is no longer the newest committed version, or the
  * CAS rename lost to a concurrent committer. Catch it to re-read and
  * retry (`commitWithRetry` does, for commutative commits).
  */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Typed signal that a time-travel read addressed a snapshot version the
  * retention vacuum has already reclaimed — the caller asked for history
  * that provably existed (the table is versioned) but is gone, which must
  * not degrade into a generic path-not-found.
  */
final class VacuumedVersionException(msg: String)
  extends RuntimeException(msg)

/** Typed signal that a checked write was REJECTED: `violations` rows
  * failed the table's CHECK constraint, and no snapshot was committed —
  * readers keep seeing the previous version (Delta's CHECK-constraint
  * write contract).
  */
final class ConstraintViolationException(msg: String, val violations: Long)
  extends RuntimeException(msg)

object TableCatalog {
  /** In-JVM serialization of the optimistic-commit critical section, per
    * table path. Needed because Hadoop's LOCAL filesystem implements both
    * "exclusive create" and "no-overwrite rename" as check-then-act (and
    * `RawLocalFileSystem.rename` falls back to moving the source INTO an
    * existing destination directory — so a CAS loser could "win" by
    * nesting its staged snapshot invisibly inside the winner's version
    * dir). On HDFS renames are namenode-atomic and on S3 commit goes
    * through conditional puts, so the file protocol is sound across
    * processes THERE; this lock closes the local-fs gap for same-process
    * writers — the same trade Delta's single-driver S3 LogStore makes.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[catalog] def commitLockFor(tablePath: String): Object =
    commitLocks.computeIfAbsent(tablePath, _ => new Object)
}

/** Layered (bronze/silver/gold) parquet table catalog — the engine's stand-in
  * for the reference's Delta-on-MinIO storage (reference:
  * fire_risk_processor.py:77-85, gold_batch_job.py:28-29,83-87). Delta isn't
  * available offline; what the query surface actually needs is: layered
  * paths, append, ACID overwrite (readers never observe a half-written
  * table), write-skip-on-empty, schema evolution on overwrite
  * (gold_batch_job.py:87 `overwriteSchema=true`), and partitioned layout.
  *
  * Overwritten tables are VERSIONED: each snapshot lands in
  * `<table>/_v/NNNNN/`, and `<table>/_CURRENT` — a one-line pointer file —
  * is atomically swapped to commit. This is the pointer-commit scheme that
  * works on S3-class stores too (no directory rename), and it gives real
  * reader isolation: an in-flight reader that resolved the pointer keeps
  * reading its version's files even after the next commit, because the
  * previous `keepVersions` snapshots are retained (vacuumed only when they
  * age out of the retention window). Schema evolution falls out for free —
  * a new version is a new self-contained directory, so `overwriteSchema`
  * is the default and old versions stay readable with their old schema
  * (time travel via `readVersion`).
  *
  * Every read opens its snapshot through one private `scan`. Data files
  * are the names without a `_` or `.` prefix at any level, and the schema
  * is the one Spark wrote into the first data file's footer, so opening a
  * table runs no Spark job — as a Delta read takes its schema from the
  * table's log instead of inferring it.
  *
  * Single-writer per table (the reference's gold job is a single loop);
  * concurrent READERS are the isolation target.
  *
  * Retention / read-duration contract, precisely: a reader that resolved
  * `_CURRENT` at version N keeps a valid snapshot while at most
  * `keepVersions - 1` further commits land; the `keepVersions`-th commit
  * vacuums N. So size `keepVersions` ≥ ceil(longest plausible read
  * duration / shortest commit interval) + 1 — e.g. the reference's
  * 60-second gold cadence with dashboard reads up to 3 min in flight
  * needs keepVersions ≥ 4. TableCatalogSpec pins both sides of the
  * boundary with a concurrent reader.
  *
  * Partitioning: the reference README claims time/spatial partitioning but
  * the code never calls partitionBy (SURVEY.md §1.3) — here it's real:
  * `write(..., partitionBy = Seq("region"))` produces hive-style dirs and
  * Spark prunes partitions on `region = 'x'` filters, which is the
  * difference between scanning 100 TB and scanning one region's slice.
  */
final class TableCatalog(spark: SparkSession, root: String,
    keepVersions: Int = 2) {

  require(keepVersions >= 1, "must retain at least the live version")

  def path(layer: String, table: String): String = s"$root/$layer/$table"

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The checksum-free view of `p`'s filesystem: the pointer protocol
    * reads and writes `_CURRENT` raw (see `currentVersion` scaladoc —
    * local ChecksumFileSystem's crc sidecar renames are not atomic with
    * the data rename, and a 5-byte fsynced int needs no crc). */
  private def rawFs(p: Path): org.apache.hadoop.fs.FileSystem =
    hadoopFs(p) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case x => x
    }

  /** True when `p` resolves to the local filesystem — judged from the
    * RESOLVED FileSystem, not the raw URI: a scheme-less path under a
    * non-local fs.defaultFS is NOT local. Every table path derives from
    * one `root`, so the answer is computed once per catalog instance —
    * this sits on the per-read pointer path and must not clone a Hadoop
    * conf each call. */
  private lazy val rootIsLocal: Boolean =
    hadoopFs(new Path(root)).getUri.getScheme == "file"
  private def isLocalScheme(p: Path): Boolean = rootIsLocal

  /** Atomically replace `dst` with `tmp`. On the local scheme this MUST
    * be an actual rename(2): Hadoop's FileContext rename with
    * Rename.OVERWRITE on LocalFs is implemented as delete-then-rename,
    * which exposes a window where `dst` does not exist — a lock-free
    * reader racing a pointer swap observed exactly that
    * (FileNotFoundException on `_CURRENT` under a commit storm). NIO
    * ATOMIC_MOVE is the real thing locally; HDFS-like schemes keep the
    * FileContext path, whose rename is atomic server-side.
    */
  private def atomicReplace(tmp: Path, dst: Path): Unit = {
    if (isLocalScheme(dst))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else
      org.apache.hadoop.fs.FileContext
        .getFileContext(dst.toUri, spark.sessionState.newHadoopConf())
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Write a swap-replaced metadata file (the `_CURRENT` pointer, a
    * `_TAG_*`): raw checksum-free tmp with a unique name, fsync, then
    * `atomicReplace`. */
  private def writeSwapFile(p: Path, value: String): Unit = {
    val tmp = new Path(p.toString + ".__tmp" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    val fs = rawFs(p)
    val out = fs.create(tmp, true)
    try {
      out.write(value.getBytes(StandardCharsets.UTF_8))
      out.hsync()
    } finally out.close()
    atomicReplace(tmp, p)
  }

  /** Read a swap-replaced metadata file to EOF; None when absent. Raw
    * checksum-free (a crc sidecar cannot swap atomically with its data
    * file), and mid-swap tolerant: on FileNotFoundException it retries
    * briefly, and on a NON-local scheme — where overwrite-rename may be
    * delete+rename — an absent file is re-checked a few times before
    * being believed, because "absent" there can mean "mid-swap". On the
    * local scheme the swap is a true rename(2) (atomicReplace), so
    * absence is conclusive and the common absent-pointer probe stays a
    * single exists() call.
    */
  private def readSwapFile(p: Path): Option[String] = {
    val fs = rawFs(p)
    val absentConfirms = if (isLocalScheme(p)) 0 else 3
    var attempts = 0
    var absentSeen = 0
    while (true) {
      if (!fs.exists(p)) {
        if (absentSeen >= absentConfirms) return None
        absentSeen += 1
        Thread.sleep(2)
      } else {
        try {
          val in = fs.open(p)
          try {
            // read to EOF — a single read() may legally return a prefix,
            // which would silently parse a truncated (stale) value
            val bos = new java.io.ByteArrayOutputStream(64)
            val buf = new Array[Byte](64)
            var n = in.read(buf)
            while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
            return Some(new String(bos.toByteArray, StandardCharsets.UTF_8))
          } finally in.close()
        } catch {
          case e: java.io.FileNotFoundException =>
            attempts += 1
            if (attempts > 100) throw e // not a swap window; surface it
            Thread.sleep(2)
        }
      }
    }
    None // unreachable
  }

  private def pointerPath(layer: String, table: String) =
    new Path(path(layer, table), "_CURRENT")

  private def versionDir(layer: String, table: String, v: Int) =
    new Path(path(layer, table), f"_v/$v%05d")

  /** Reclaim one version dir through a rename-aside barrier: atomically
    * move `_v/NNNNN` to `_v/.trash_<uuid>` BEFORE the recursive delete,
    * so a lock-free reader racing the reclamation only ever observes
    * dir-present-and-complete or dir-missing. A plain recursive delete
    * removes the data files before the directory itself, and a reader
    * that resolved the pointer inside that window found an existing but
    * empty dir (caught live by the r11 cross-JVM storm, 1-in-2 full-suite
    * runs); `read()`'s re-resolve retry still owns that state, for stores
    * without a directory rename. The dot-prefixed trash name is invisible
    * to `versions()` (its `toInt` filter) and to Spark's listings, so a
    * crash between rename and delete orphans nothing a reader can reach;
    * `sweepTrash` (called by every locked reclamation pass) collects such
    * orphans. Every reclamation path MUST go through here, by way of
    * `reclaimPastRetention`.
    */
  private def reclaimVersionDir(layer: String, table: String, v: Int): Unit = {
    val dir = versionDir(layer, table, v)
    val fs = hadoopFs(dir)
    val trash = new Path(dir.getParent,
      ".trash_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val moved =
      try fs.rename(dir, trash)
      catch { case _: java.io.IOException => false }
    if (moved) fs.delete(trash, true)
    // rename refused (already gone, or a store without dir rename):
    // fall back to the plain delete — on a rename-less store the
    // half-deleted window is unavoidable and the reader retry owns it
    else if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Collect crash-orphaned `_v/.trash_*` dirs (rename-aside landed, the
    * follow-up delete was lost). Always safe regardless of age: the
    * rename already made the tree unreachable to every reader, and the
    * call sites all hold the table `_LOCK`, so no concurrent reclaimer
    * owns a live trash dir while we sweep.
    */
  private def sweepTrash(layer: String, table: String): Unit = {
    val vRoot = new Path(path(layer, table), "_v")
    val fs = hadoopFs(vRoot)
    if (fs.exists(vRoot))
      fs.listStatus(vRoot).iterator
        .filter(_.getPath.getName.startsWith(".trash_"))
        .foreach { st =>
          try fs.delete(st.getPath, true)
          catch { case _: java.io.IOException => () }
        }
  }

  /** Committed version number, if the table is versioned.
    *
    * The pointer is read through the RAW (checksum-free) filesystem when
    * the scheme has a crc-sidecar wrapper: local `ChecksumFileSystem`
    * renames data file and `.crc` in TWO steps, so a lock-free reader
    * racing the atomic pointer swap can see the new `_CURRENT` beside the
    * old crc and throw ChecksumException — a local-FS artifact (HDFS/S3
    * renames carry no client-side sidecar). The data rename itself IS
    * atomic, and a 5-byte fsynced pointer parsed to an int needs no crc.
    * Mid-swap tolerance (FNF retry, non-local absent-confirm) lives in
    * the shared `readSwapFile`.
    */
  def currentVersion(layer: String, table: String): Option[Int] =
    readSwapFile(pointerPath(layer, table)).map(_.trim.toInt)

  /** All retained snapshot versions (ascending). */
  def versions(layer: String, table: String): Seq[Int] = {
    val vRoot = new Path(path(layer, table), "_v")
    val fs = hadoopFs(vRoot)
    if (!fs.exists(vRoot)) Nil
    else fs.listStatus(vRoot).toSeq
      .filter(_.isDirectory)
      .flatMap(s => scala.util.Try(s.getPath.getName.toInt).toOption)
      .sorted
  }

  /** Filesystem location of the live snapshot: the pointer-resolved
    * version dir for versioned tables, the flat table dir otherwise.
    */
  def livePath(layer: String, table: String): String =
    currentVersion(layer, table) match {
      case Some(v) => versionDir(layer, table, v).toString
      case None => path(layer, table)
    }

  /** Live snapshot: pointer-resolved for versioned (overwritten) tables,
    * flat directory for append-only ones.
    *
    * Lock-free with a bounded RE-RESOLVE retry: between this reader's
    * pointer read and the parquet listing, the pointer can advance AND
    * the previously-live version age past an aggressive vacuum
    * (keepLast below the reader's lag) — first observed for real in the
    * cross-JVM storm, where a foreign process's vacuum yanked the
    * just-resolved dir. The freshly re-resolved current is then safe for
    * keepVersions−1 further commits, so a couple of retries close the
    * TOCTOU window without any reader-side lock. A scan that STARTS
    * successfully can still lose files to a concurrent aggressive vacuum
    * mid-execution — the documented Delta-style hazard of vacuuming
    * below reader lag; pick keepLast accordingly.
    *
    * The retry covers every state in which the resolved version was
    * reclaimed under us, each reaching it as `readVersion`'s
    * `VacuumedVersionException`: the dir gone, a data file gone before
    * its footer was read, and — behind the rename-aside barrier in
    * `reclaimVersionDir`, for stores without a directory rename — the dir
    * present but emptied (caught live by the r11 cross-JVM storm).
    */
  def read(layer: String, table: String): DataFrame = {
    var attempt = 0
    while (true) {
      currentVersion(layer, table) match {
        case None => return scan(new Path(path(layer, table)))
        case Some(v) =>
          try return readVersion(layer, table, v)
          catch {
            case _: VacuumedVersionException if attempt < 5 =>
              attempt += 1
              Thread.sleep(10L * attempt)
          }
      }
    }
    sys.error("unreachable")
  }

  /** Time travel: any retained snapshot, with the schema it was written
    * with (the Delta `versionAsOf` surface). A snapshot the retention
    * vacuum reclaimed, wholly or in part, is the typed history error, not
    * a generic path-not-found.
    */
  def readVersion(layer: String, table: String, version: Int): DataFrame =
    try scan(versionDir(layer, table, version))
    catch {
      case _: FileNotFoundException =>
        throw new VacuumedVersionException(
          s"$layer/$table version $version is not retained (vacuumed); " +
            s"retained versions: ${versions(layer, table).mkString(",")}")
    }

  /** Data files of the snapshot at `dir`, depth first in name order: every
    * name starting with `_` or `.` is skipped at every level (`_SUCCESS`,
    * crc sidecars, `_stats`, `_spark_metadata`), as Spark's own listing
    * skips them. Lazy, so a caller that needs one file lists one directory
    * per level. Throws FileNotFoundException when `dir` is gone.
    */
  private def dataFiles(dir: Path): Iterator[Path] = {
    val fs = hadoopFs(dir)
    def walk(d: Path): Iterator[Path] =
      fs.listStatus(d).sortBy(_.getPath.getName).iterator
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Iterator(st.getPath))
    walk(dir)
  }

  /** Open the footer of parquet file `f` on the driver. */
  private def withFooter[A](f: Path)(use: ParquetFileReader => A): A = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(f, spark.sessionState.newHadoopConf()))
    try use(reader) finally reader.close()
  }

  /** Footer key under which Spark's parquet writer stores the frame's
    * schema; Spark's own schema inference reads the same key. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The one way the catalog opens a snapshot: `files` under `dir` (every
    * data file of `dir` when empty), with `schema` when the caller states
    * one and otherwise the schema Spark wrote into the footer of the first
    * file in name order — read on the driver, so no Spark job runs. Hive
    * partition columns are discovered from the paths, as an inferring read
    * discovers them. Every catalog file is written by Spark, so a footer
    * without the schema key is an error naming the file, not a cue to
    * infer.
    *
    * A snapshot reclaimed under the call — no data file, a file gone
    * before its footer was read, the dir gone before Spark listed it, or
    * Spark's listing empty — throws FileNotFoundException: Spark would
    * open an empty listing with a stated schema as an empty table.
    */
  private def scan(dir: Path, files: Seq[Path] = Nil,
      schema: Option[StructType] = None): DataFrame = {
    def gone(why: String) = new FileNotFoundException(s"$dir: $why")
    val s = schema.getOrElse {
      val first =
        if (files.nonEmpty) files.minBy(_.toString)
        else dataFiles(dir).nextOption().getOrElse(throw gone("no data file"))
      val json = withFooter(first)(
        _.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      if (json == null)
        throw new IllegalStateException(s"$first has no Spark schema " +
          s"($SparkSchemaKey) in its footer; the catalog reads only files " +
          "Spark wrote")
      DataType.fromJson(json).asInstanceOf[StructType]
    }
    val df =
      try spark.read.schema(s).option("basePath", dir.toString)
        .parquet((if (files.isEmpty) Seq(dir) else files).map(_.toString): _*)
      catch {
        case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          throw gone(e.getMessage)
      }
    if (df.inputFiles.isEmpty) throw gone("no data file listed")
    df
  }

  /** Retained versions with their commit instants (epoch ms) — the
    * version directory's modification time, i.e. the snapshot's
    * write-completion instant, immediately before the `_CURRENT` pointer
    * swap made it live. Ascending by version.
    */
  def versionsWithTimes(layer: String, table: String): Seq[(Int, Long)] = {
    val vRoot = new Path(path(layer, table), "_v")
    val fs = hadoopFs(vRoot)
    if (!fs.exists(vRoot)) Nil
    else fs.listStatus(vRoot).toSeq
      .filter(_.isDirectory)
      .flatMap(s => scala.util.Try(
        (s.getPath.getName.toInt, s.getModificationTime)).toOption)
      .sortBy(_._1)
  }

  /** Timestamp time travel (the Delta `timestampAsOf` surface): the newest
    * RETAINED version committed at or before `epochMs`. Fails loudly when
    * the instant predates every retained snapshot (the version that was
    * live then has been vacuumed — returning a newer one would silently
    * lie) and when the table has no versions at all.
    */
  def readAsOf(layer: String, table: String, epochMs: Long): DataFrame = {
    val vs = versionsWithTimes(layer, table)
    require(vs.nonEmpty, s"$layer/$table has no versioned snapshots")
    val live = vs.filter(_._2 <= epochMs)
    require(live.nonEmpty,
      s"no retained snapshot of $layer/$table at or before $epochMs " +
        s"(earliest retained commit: ${vs.head._2}); the snapshot live " +
        "then has aged out of the keepVersions retention window")
    readVersion(layer, table, live.last._1)
  }

  /** Delta-CDF-style change feed between two retained snapshot versions:
    * one output row per change — `_change_type` ∈ `insert` / `delete` /
    * `update_preimage` / `update_postimage` (an updated key emits its pre
    * AND post rows, the Delta `readChangeFeed` contract) plus
    * `_commit_version` = `toVersion`. Snapshots must be key-unique on
    * `keys` (what `merge` commits) and share a column set; diff a chain of
    * versions pairwise when the schema evolves mid-chain.
    *
    * Scale: ONE full-outer sort-merge join, shuffling each snapshot once
    * on the key. Payload columns ride in a struct compared null-safely in
    * place — never the all-column shuffle an EXCEPT ALL diff would plan —
    * and each joined row explodes to its 0–2 change rows in the same
    * stage, so the join is built once, not once per change type.
    */
  def changesByKey(layer: String, table: String, keys: Seq[String],
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(keys.nonEmpty, "change feed needs at least one key column")
    import org.apache.spark.sql.functions._
    val before = readVersion(layer, table, fromVersion)
    val after = readVersion(layer, table, toVersion)
    require(before.columns.sorted.sameElements(after.columns.sorted),
      s"change feed across a schema change (${before.columns.mkString(",")} " +
        s"vs ${after.columns.mkString(",")}); diff adjacent versions instead")
    val cols = before.columns.toSeq
    val payload = cols.filterNot(keys.contains)
    // presence marker keeps the struct non-empty when every column is a key
    def pack(df: DataFrame, side: String) =
      df.select(keys.map(col) :+
        struct((lit(1).as("__present") +: payload.map(col)): _*).as(side): _*)
    val j = pack(before, "_pre").join(pack(after, "_post"), keys, "full_outer")
    val kinds =
      when(col("_pre").isNull, array(lit("insert")))
        .when(col("_post").isNull, array(lit("delete")))
        .when(!(col("_pre") <=> col("_post")),
          array(lit("update_preimage"), lit("update_postimage")))
        .otherwise(array().cast("array<string>"))
    val fromPost = Seq("insert", "update_postimage")
    j.select((keys.map(col) :+ explode(kinds).as("_change_type")) ++
        Seq(col("_pre"), col("_post")): _*)
      .select((keys.map(col) ++ payload.map(p =>
        when(col("_change_type").isin(fromPost: _*), col("_post")(p))
          .otherwise(col("_pre")(p)).as(p))) ++
        Seq(col("_change_type"), lit(toVersion).as("_commit_version")): _*)
  }

  def exists(layer: String, table: String): Boolean = {
    val p = new Path(path(layer, table))
    hadoopFs(p).exists(p)
  }

  def append(df: DataFrame, layer: String, table: String,
      partitionBy: Seq[String] = Nil): Unit = {
    // appended files land in the flat dir, which the versioned read path
    // ignores — appending to an overwritten table would be silent data
    // loss, so refuse loudly (append-vs-snapshot is a per-table choice)
    require(currentVersion(layer, table).isEmpty,
      s"$layer/$table is snapshot-versioned (overwrite was used); " +
        "append-mode and overwrite-mode tables are distinct — " +
        "use overwrite, or a different table for the append stream")
    writeParquet(df, new Path(path(layer, table)), SaveMode.Append,
      partitionBy)
  }

  /** Write `df` as parquet files under `dir`, hive-partitioned by
    * `partitionBy`. */
  private def writeParquet(df: DataFrame, dir: Path, mode: SaveMode,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir.toString)
  }

  /** Export a snapshot as size-bounded shards of any Spark batch format —
    * `exportFormat = "json"` gives JSONL, the lingua franca of training-data
    * interchange. `maxRecordsPerShard` caps rows per output file
    * (`maxRecordsPerFile`), so downstream loaders see uniform shards no
    * matter how lopsided the upstream partitions were; `shards` > 0
    * additionally repartitions for exactly-n-way parallel layout.
    */
  def export(df: DataFrame, layer: String, table: String,
      exportFormat: String = "json", maxRecordsPerShard: Long = 0L,
      shards: Int = 0): Unit = {
    val out = if (shards > 0) df.repartition(shards) else df
    val w = out.write.mode(SaveMode.Overwrite).format(exportFormat)
    (if (maxRecordsPerShard > 0)
       w.option("maxRecordsPerFile", maxRecordsPerShard.toString)
     else w)
      .save(path(layer, table))
  }

  /** ACID full overwrite via versioned pointer commit: write the snapshot
    * to `_v/NNNNN`, fsync a temp pointer, rename it over `_CURRENT`
    * (single-file rename — atomic on HDFS/local, and the copy-then-rename
    * dance S3 committers use has the same visibility contract). Readers see
    * either the old or the new version, never a mix; schema may change
    * freely between versions (`overwriteSchema` semantics). Older versions
    * beyond `keepVersions` are vacuumed AFTER the commit, so the previous
    * snapshot always outlives in-flight readers of it.
    */
  def overwrite(df: DataFrame, layer: String, table: String,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Int = {
    val (prevCommitted, next, target) =
      writeNextVersion(df, layer, table, partitionBy)
    // File-level min/max stats land INSIDE the version dir BEFORE the
    // pointer swap: stats are part of the committed snapshot (a reader can
    // never resolve a version whose stats are still being written), and
    // vacuum reclaims them with their version. The `_stats` name keeps the
    // sidecar invisible to every normal read (Spark's listing filters
    // underscore-prefixed paths).
    if (statsCols.nonEmpty) writeFileStats(target, statsCols)
    publishVersion(layer, table, next, prevCommitted)
    next
  }

  /** Write `df` as the table's next snapshot dir `_v/NNNNN`, unpublished:
    * the pointer still names the previous version. Returns (the committed
    * version before the write, the new version number, its dir).
    */
  private def writeNextVersion(df: DataFrame, layer: String, table: String,
      partitionBy: Seq[String]): (Option[Int], Int, Path) = {
    val prevCommitted = currentVersion(layer, table)
    val next = prevCommitted.getOrElse(
      versions(layer, table).lastOption.getOrElse(0)) + 1
    val target = versionDir(layer, table, next)
    writeParquet(df, target, SaveMode.Overwrite, partitionBy)
    (prevCommitted, next, target)
  }

  /** Session-catalog identifier for one committed BUCKETED version. The
    * bucket spec (numBuckets, key) of a parquet table lives in catalog
    * metadata, not in the files, so every bucketed version needs a
    * session-catalog entry for its scan to report HashPartitioning; the
    * name keys on (root, layer, table, version) so two catalogs — or two
    * versions — never collide in the one session namespace.
    */
  private def bucketedName(layer: String, table: String, v: Int): String =
    "graft_bkt_" + Integer.toHexString(root.hashCode) + "_" +
      (layer + "_" + table).toLowerCase.replaceAll("[^a-z0-9_]", "_") +
      f"_v$v%05d"

  /** ACID overwrite of a BUCKETED snapshot — the catalog-backed currency
    * behind `PlanBarriers.pinBucketed` (VERDICT r12 task 6): same
    * versioned pointer-commit protocol as `overwrite` (write `_v/NNNNN`,
    * fsync-swap `_CURRENT`, retention-vacuum older versions), but the
    * snapshot is written `bucketBy(buckets, key)` and registered as an
    * EXTERNAL session-catalog table per version, so reading it back plans
    * a bucketed scan (`HashPartitioning(key, buckets)` — exchange-free
    * co-partitioned joins, PlanQualitySpec-pinned). Data files live in the
    * ACID store and are reclaimed by the standard version vacuum; the
    * session-catalog entries are metadata-only (DROP TABLE on an external
    * table touches no data) and entries of vacuumed versions are dropped
    * on the next commit. Registration is session-scoped: another session
    * reading the same root re-registers via `readBucketed`'s DDL fallback.
    * Returns the committed version's DataFrame.
    */
  def overwriteBucketed(df: DataFrame, layer: String, table: String,
      key: String, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // single-writer commit (next-version compute + overwrite + pointer
    // swap), serialized per (root, layer, table) HERE so EVERY caller is
    // covered — not just pins routed through PlanBarriers (which used to
    // hold its own lock, leaving direct callers racy). In-JVM only: a
    // writer in ANOTHER process sharing this root can still race the
    // version compute; cross-process safety rests on the no-overwrite
    // rename being atomic on the store (true on HDFS/S3-conditional-put,
    // check-then-act on local fs — the commitLocks companion note).
    TableCatalog.commitLockFor(path(layer, table)).synchronized {
    val prevCommitted = currentVersion(layer, table)
    val preVersions = versions(layer, table)
    val next = prevCommitted.getOrElse(preVersions.lastOption.getOrElse(0)) + 1
    val target = versionDir(layer, table, next)
    val name = bucketedName(layer, table, next)
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key)
      .option("path", target.toString)
      .saveAsTable(name)
    // persist the bucket spec WITH the version: a parquet dir carries no
    // bucket metadata, so a cross-session reader re-registering this
    // version must learn (key, buckets) from the commit itself — not from
    // its caller's arguments, which, if wrong, would plan a
    // HashPartitioning the files don't have and silently corrupt
    // exchange-free joins. Underscore-prefixed → invisible to Spark scans.
    writeSwapFile(new Path(target, "_BUCKETSPEC"), s"$key\n$buckets")
    publishVersion(layer, table, next, prevCommitted)
    // drop session entries whose version dirs the retention vacuum just
    // reclaimed — metadata-only cleanup, data lifecycle belongs to vacuum.
    // Probe only the versions that were live before this commit and are
    // gone now: scanning every historical version issues one catalog
    // tableExists per commit-ever-made — O(n²) over a long-lived JVM
    // whose named pins recommit each query invocation.
    val live = versions(layer, table).toSet
    preVersions.filterNot(live.contains).foreach { v =>
      val stale = bucketedName(layer, table, v)
      if (spark.catalog.tableExists(stale))
        spark.sql(s"DROP TABLE IF EXISTS `$stale`")
    }
    spark.table(name)
    }
  }

  /** Read back the live bucketed snapshot with its bucket spec intact.
    * Resolves the pointer, then reads through the session-catalog entry
    * (re-registering it from the committed files when this session did
    * not write the version — DDL only, no data movement), so the scan
    * always reports the write-time HashPartitioning.
    *
    * The re-registration DDL takes its (key, buckets) from the version's
    * committed `_BUCKETSPEC` sidecar, never from the caller: bucket
    * membership is a property of the FILES, and a registration that
    * disagrees with the write-time spec makes Spark plan a
    * HashPartitioning the files don't actually have — exchange-free
    * joins then return silently wrong results. Caller-supplied arguments
    * are validated against the sidecar and a mismatch fails loudly.
    */
  def readBucketed(layer: String, table: String, key: String,
      buckets: Int): DataFrame = {
    val v = currentVersion(layer, table).getOrElse(
      sys.error(s"$layer/$table has no committed bucketed snapshot"))
    val name = bucketedName(layer, table, v)
    if (!spark.catalog.tableExists(name)) {
      val dir = versionDir(layer, table, v)
      val (specKey, specBuckets) =
        readSwapFile(new Path(dir, "_BUCKETSPEC")) match {
          case Some(s) =>
            // a corrupt sidecar must fail DIAGNOSABLY, naming the file —
            // not as a raw ArrayIndexOutOfBounds/NumberFormatException
            val sidecar = new Path(dir, "_BUCKETSPEC")
            val lines = s.split("\n", 2)
            if (lines.length != 2 || lines(0).trim.isEmpty)
              sys.error(s"corrupt bucket-spec sidecar $sidecar: expected " +
                s"'<key>\\n<buckets>', got ${s.replace("\n", "\\n")}")
            val specB =
              try lines(1).trim.toInt
              catch {
                case _: NumberFormatException =>
                  sys.error(s"corrupt bucket-spec sidecar $sidecar: " +
                    s"non-numeric bucket count '${lines(1).trim}'")
              }
            (lines(0).trim, specB)
          case None => (key, buckets) // pre-sidecar version (r13-)
        }
      require(specKey == key && specBuckets == buckets,
        s"bucket spec mismatch for $layer/$table v$v: committed " +
          s"($specKey, $specBuckets) vs requested ($key, $buckets) — " +
          "registering the caller's spec would plan a HashPartitioning " +
          "the files don't have")
      val cols = scan(dir).schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(
        s"""CREATE TABLE `$name` ($cols) USING parquet
           |CLUSTERED BY (`$specKey`) INTO $specBuckets BUCKETS
           |LOCATION '${dir.toString}'""".stripMargin)
    }
    spark.table(name)
  }

  /** Commit tail shared by every single-writer snapshot commit: atomic
    * pointer swap to `next`, retention vacuum, and (once) the flat-dir
    * grace vacuum after a previously-appended table adopted snapshot mode.
    */
  private def publishVersion(layer: String, table: String, next: Int,
      prevCommitted: Option[Int]): Unit = {
    // atomic pointer swap — a true rename(2) locally (atomicReplace):
    // FileContext's OVERWRITE rename on LocalFs is delete+rename, which
    // would expose an instant where _CURRENT is missing to lock-free
    // readers
    writePointer(layer, table, next)
    val fs = hadoopFs(pointerPath(layer, table))
    // retention vacuum; the lock is taken only when a version is past it
    if (versions(layer, table).dropRight(keepVersions).nonEmpty)
      withTableLock(layer, table)(
        reclaimPastRetention(layer, table, keepVersions))
    // a previously-APPENDED table's flat files were superseded by the
    // first versioned commit (read() follows the pointer); give them one
    // commit cycle of grace for in-flight readers, then vacuum them too.
    // Keyed on a previously COMMITTED pointer, not the version number —
    // an orphaned _v dir from a crashed writer must not skip the grace
    // (until this commit, readers were still resolving the flat dir)
    if (prevCommitted.isDefined) {
      val tableDir = new Path(path(layer, table))
      val now = System.currentTimeMillis()
      fs.listStatus(tableDir).foreach { st =>
        val nm = st.getPath.getName
        val protectedName = nm == "_v" || nm.startsWith("_CURRENT") ||
          nm.startsWith("_TAG_") || nm.startsWith("_staging") ||
          nm.startsWith("_LOCK") || nm.startsWith("_PIN_")
        // a swap tmp orphaned by a crash between create and rename would
        // otherwise live forever under its protected prefix — reclaim
        // once it is old enough that no in-flight swap can own it. Same
        // for `_LOCK.tmp<uuid>` CAS temps: protected by the `_LOCK`
        // prefix, deleted by their creator's finally in a clean run, so
        // an aged one can only be a crash orphan.
        val agedSwapTmp = (nm.contains(".__tmp") ||
            nm.startsWith("_LOCK.tmp")) &&
          now - st.getModificationTime > 3600 * 1000L
        if (!protectedName || agedSwapTmp)
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Retention sweep shared by every reclamation path — `publishVersion`,
    * the `vacuum` verb and `overwriteOptimistic`'s commit tail. Run with
    * the table `_LOCK` held: sweeps `_v/.trash_*` orphans, then reclaims
    * every version older than the newest `keepLast` that is neither live
    * nor pinned by a live RESTORE/CLONE. The pin read AND the deletes sit
    * under the lock because pins are TAKEN under it: a lockless sweep
    * could read the pin set, lose the CPU while a pin lands, then delete
    * the freshly pinned version mid-copy. Returns the versions reclaimed.
    */
  private def reclaimPastRetention(layer: String, table: String,
      keepLast: Int): Seq[Int] = {
    val live = currentVersion(layer, table)
    val pinned = pinnedVersions(layer, table)
    val lockPath = new Path(path(layer, table), "_LOCK")
    val fs = hadoopFs(lockPath)
    sweepTrash(layer, table)
    val dropped = versions(layer, table).dropRight(keepLast)
      .filterNot(live.contains).filterNot(pinned.contains)
    dropped.foreach { v =>
      reclaimVersionDir(layer, table, v)
      // renew the lock's mtime between version-dir deletes: holder
      // staleness is judged from that mtime (staleLockMs = 60s), so a
      // sweep of many large version dirs that runs past 60s would
      // otherwise let a contender break a LIVE holder's lock and reopen
      // the concurrent-metadata-writer race
      try fs.setTimes(lockPath, System.currentTimeMillis(), -1)
      catch { case _: java.io.IOException => () } // best-effort
    }
    dropped
  }

  /** Newest committed version by the OPTIMISTIC protocol's definition:
    * the highest `_v/NNNNN` directory. Under that protocol a version dir
    * can only APPEAR complete (snapshots stage under `_staging/` and
    * arrive by atomic rename), so listing is safe — unlike the legacy
    * single-writer `overwrite`, which writes `_v/NNNNN` in place and must
    * therefore be trusted only through the pointer. Never mix the two
    * writer kinds on one table.
    */
  private def latestCommitted(layer: String, table: String): Option[Int] =
    versions(layer, table).lastOption

  /** fsync-then-atomic-rename of the `_CURRENT` pointer to `v` (the
    * shared swap-file protocol). */
  private def writePointer(layer: String, table: String, v: Int): Unit =
    writeSwapFile(pointerPath(layer, table), f"$v%05d")

  /** Serialize pointer advance + vacuum across writers via a `_LOCK` file
    * taken by atomic no-overwrite rename (the same primitive as the
    * version CAS — a unique temp file renamed to `_LOCK` succeeds for
    * exactly one contender). A crashed holder's lock goes stale and is
    * broken after `staleLockMs`; acquisition times out rather than spin
    * forever. The lock guards only METADATA (a pointer write and version
    * deletes) — data writes never hold it, so contention is microseconds.
    *
    * Acquisition is FIFO, not a free-for-all: a bare rename race lets a
    * verb that re-acquires in a tight loop (a vacuum storm, an OCC commit
    * retry burst) land its next rename inside the 5ms window before any
    * queued waiter re-polls, starving the waiter into timeout no matter
    * how generous the timeout is (observed: `pinVersion` timing out at
    * 30s under a same-JVM vacuum loop on a CPU-saturated box). So every
    * contender first queues an intent file
    * (`_LOCKQ/<padded-ms>_<pid>_<id>` — a dedicated subdir so the poll
    * lists O(queue length), not O(table files); zero-padded ms so
    * lexicographic order == arrival order) and only attempts the rename
    * CAS while its intent is the OLDEST live one — the storm's next
    * iteration queues a YOUNGER intent and defers. An intent whose
    * owning process is dead is swept by any contender (the same
    * PID-liveness rule as version pins), and an intent OLDER than
    * `staleLockMs` is swept regardless of PID — the backstop against PID
    * reuse making an orphan immortal (a legitimate waiter can't age
    * that far: its own timeout fires first). A waiter whose intent was
    * swept from under it (a misjudged sweep) re-creates it at the queue
    * tail — liveness over fairness. A live process can't leak an intent
    * (delete is finally-guarded). Uncontended cost is one extra
    * create+list+delete on the small queue dir.
    */
  private def withTableLock[A](layer: String, table: String,
      timeoutMs: Long = 30000, staleLockMs: Long = 60000)(body: => A): A = {
    val dir = new Path(path(layer, table))
    val lock = new Path(dir, "_LOCK")
    val lockq = new Path(dir, "_LOCKQ")
    val fs = hadoopFs(lock)
    // one mkdirs per (instance, table), not per acquisition — the queue
    // dir is never removed once created
    if (lockqReady.add(dir.toString)) fs.mkdirs(lockq)
    val fc = org.apache.hadoop.fs.FileContext
      .getFileContext(lock.toUri, spark.sessionState.newHadoopConf())
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = new Path(dir, "_LOCK.tmp" + id)
    def newIntent(): Path = {
      val p = new Path(lockq, f"${System.currentTimeMillis()}%013d" +
        s"_${ProcessHandle.current().pid()}_$id")
      val o = fs.create(p, true)
      try o.write('1') finally o.close()
      p
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    var intent: Path = null
    var held = false
    try {
      val o = fs.create(tmp, true)
      try o.write('1') finally o.close()
      // No opportunistic skip-the-queue fast path: an empty-queue CAS
      // attempt before enqueueing was tried and REINTRODUCED the
      // starvation it looks too cheap to cause (a looping verb's next
      // call barges during the window where a waiter has failed its CAS
      // but not yet queued) — and a same-window A/B against the
      // always-queue build showed the intent pair costs nothing
      // measurable. Every contender queues, always.
      intent = newIntent()
      while (!held) {
        oldestLiveIntent(fs, lockq, staleLockMs) match {
          case Some(head) if head == intent.getName =>
            try { fc.rename(tmp, lock); held = true }
            catch { case _: java.io.IOException => () } // held; fall through
          case None =>
            // queue read back empty yet ours was created: swept from
            // under us (misjudged liveness/age) — re-queue at the tail
            intent = newIntent()
          case _ => // someone older is ahead; re-queue if ours was swept
            if (!fs.exists(intent)) intent = newIntent()
        }
        if (!held) {
          val stale = (try Some(fs.getFileStatus(lock))
            catch { case _: java.io.FileNotFoundException => None })
            .exists(st => System.currentTimeMillis() -
              st.getModificationTime > staleLockMs)
          if (stale) fs.delete(lock, false)
          else if (System.currentTimeMillis() > deadline)
            throw new CommitConflictException(
              s"$layer/$table: _LOCK not acquired within ${timeoutMs}ms")
          else Thread.sleep(5)
        }
      }
      body
    } finally {
      // intent goes first so that the instant the lock frees, the true
      // oldest waiter sees itself at the head and proceeds without a
      // stale-head detour
      if (intent != null) fs.delete(intent, false)
      fs.delete(tmp, false)
      if (held) fs.delete(lock, false)
    }
  }

  /** Tables whose `_LOCKQ` dir this instance has already ensured. */
  private val lockqReady =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Head of the `_LOCKQ` FIFO among intents with a LIVE owner; dead-
    * owner and over-age intents are swept as a side effect. None = empty
    * queue. */
  private def oldestLiveIntent(fs: org.apache.hadoop.fs.FileSystem,
      lockq: Path, staleLockMs: Long): Option[String] = {
    val re = "([0-9]{13})_([0-9]+)_.*".r
    val now = System.currentTimeMillis()
    val live = fs.listStatus(lockq).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case re(ts, pid) =>
          val overAge = now - ts.toLong > staleLockMs
          val alive = !overAge &&
            (try ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive)
              .orElse(false)
            catch { case _: Throwable => true }) // unknowable → honor intent
          if (alive) Some(p.getName)
          else {
            try fs.delete(p, false) catch { case _: Throwable => () }
            None
          }
        case _ => None
      }
    }
    if (live.isEmpty) None else Some(live.min)
  }

  /** OPTIMISTIC ACID overwrite — the multi-writer commit the single-writer
    * `overwrite` deliberately is not (Delta's optimistic concurrency
    * surface; the reference's delta-rs layer claims it but no reference
    * code exercises a second writer — SURVEY §1.3). Protocol:
    *
    *  1. the writer declares `expected`, the committed version its
    *     snapshot derives from (None = expects to create the table);
    *  2. the snapshot is staged under `_staging/<uuid>` — invisible to
    *     readers and to version listing;
    *  3. commit is COMPARE-AND-SWAP: an atomic no-overwrite rename of the
    *     staged dir to `_v/(expected+1)`. Exactly one contender can
    *     create that name; the loser's rename fails, its staging is
    *     cleaned up, and it gets a typed `CommitConflictException` to
    *     re-read, re-derive, and retry (`commitWithRetry` packages that
    *     loop for commutative commits like appends);
    *  4. the winner advances `_CURRENT` monotonically and vacuums beyond
    *     `keepVersions`, serialized by the `_LOCK` rename-lock — so two
    *     winners publishing out of order can never move the pointer
    *     backwards.
    *
    * Readers keep the exact isolation story of `overwrite`: they resolve
    * the pointer and read an immutable version dir. At 100 TB the staged
    * snapshot write is the only data-sized cost and is conflict-free;
    * the CAS + pointer advance are two metadata renames.
    */
  def overwriteOptimistic(df: DataFrame, layer: String, table: String,
      expected: Option[Int], partitionBy: Seq[String] = Nil): Unit = {
    // cheap pre-validation: refuse before paying the snapshot write when
    // the base is already stale (the CAS below is still the real gate)
    val seen = latestCommitted(layer, table)
    if (seen != expected)
      throw new CommitConflictException(
        s"$layer/$table: expected base version $expected but found $seen")
    val next = expected.getOrElse(0) + 1
    val staging = new Path(path(layer, table),
      "_staging/" + java.util.UUID.randomUUID().toString.replace("-", ""))
    writeParquet(df, staging, SaveMode.Overwrite, partitionBy)
    val target = versionDir(layer, table, next)
    val fs = hadoopFs(target)
    fs.mkdirs(target.getParent)
    val fc = org.apache.hadoop.fs.FileContext
      .getFileContext(target.toUri, spark.sessionState.newHadoopConf())
    // CAS + publish under the per-table JVM lock (see companion scaladoc:
    // local-fs Hadoop renames are not exclusive between same-process
    // threads); the explicit existence probe inside the lock makes the
    // conflict deterministic, and the no-overwrite rename remains the
    // cross-process gate on stores where it is truly atomic
    TableCatalog.commitLockFor(path(layer, table)).synchronized {
      if (fs.exists(target)) {
        fs.delete(staging, true)
        throw new CommitConflictException(
          s"$layer/$table: version $next was committed concurrently")
      }
      try fc.rename(staging, target) // no OVERWRITE: fails iff target exists
      catch {
        case e: java.io.IOException =>
          fs.delete(staging, true)
          if (fs.exists(target))
            throw new CommitConflictException(
              s"$layer/$table: version $next was committed concurrently")
          else throw e
      }
      withTableLock(layer, table) {
        if (currentVersion(layer, table).forall(_ < next))
          writePointer(layer, table, next)
        reclaimPastRetention(layer, table, keepVersions)
      }
    }
  }

  /** Retry loop for COMMUTATIVE optimistic commits (append-shaped: the
    * new snapshot is a pure function of the current one, and re-deriving
    * from a newer base is correct — append ∘ append commutes). `build`
    * receives the current snapshot (None = table absent) and returns the
    * successor; on CAS conflict it is re-invoked against the fresh base.
    * Non-commutative intent (plain overwrite of a specific base) should
    * call `overwriteOptimistic` directly and surface the conflict to
    * whoever owns the decision. Returns the committed version.
    */
  def commitWithRetry(layer: String, table: String, maxAttempts: Int = 10)(
      build: Option[DataFrame] => DataFrame): Int = {
    var attempt = 1
    while (true) {
      val base = latestCommitted(layer, table)
      try {
        // PIN the base for the whole build+write: `build`'s snapshot reads
        // the base LAZILY — its parquet files are consumed during the
        // staging write, a window long enough for a concurrent aggressive
        // vacuum (another process's verb; first caught by the cross-JVM
        // storm as a mid-stage FileNotFound) to reclaim an already-
        // superseded base. A pin that comes back None means the base
        // vanished before we could take it — re-resolve, same as a CAS
        // conflict. The pin sits INSIDE the retried try: its internal
        // `withTableLock` can time out under contention as a
        // CommitConflictException, which is a retryable contention
        // outcome exactly like a CAS loss, not a caller error.
        val pin = base.map(v => pinVersion(layer, table, v))
        if (base.isDefined && pin.exists(_.isEmpty))
          throw new CommitConflictException(
            s"$layer/$table: base version $base vanished before pinning")
        try {
          val snapshot = build(base.map(readVersion(layer, table, _)))
          overwriteOptimistic(snapshot, layer, table, expected = base)
          return base.getOrElse(0) + 1
        } finally pin.flatten.foreach(unpinVersion)
      } catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    -1 // unreachable
  }

  /** Atomic per-table metadata tag (same fsync + single-rename commit as
    * the `_CURRENT` pointer): small key→string facts that must survive
    * overwrite vacuums — e.g. the applied-source-version watermark that
    * makes `startIncrementalGoldSink` exactly-once across crashes. Tags
    * live beside `_CURRENT` (underscore-prefixed: invisible to reads) and
    * are never vacuumed.
    */
  def writeTag(layer: String, table: String, key: String,
      value: String): Unit = {
    require(key.matches("[A-Za-z0-9_.-]+"), s"tag key '$key' not filename-safe")
    // same swap-file protocol as the _CURRENT pointer — a tag reader (the
    // incremental gold sink's watermark check) races this writer across
    // micro-batches exactly like pointer readers race commits
    writeSwapFile(new Path(path(layer, table), s"_TAG_$key"), value)
  }

  /** Read a tag written by `writeTag`; None when absent. */
  def readTag(layer: String, table: String, key: String): Option[String] =
    readSwapFile(new Path(path(layer, table), s"_TAG_$key")).map(_.trim)

  /** True when the flat (non-versioned) table dir holds any data — an
    * orphaned `_v` from a crashed first overwrite does NOT count, so a
    * merge routed here still takes the insert-all path instead of trying
    * to read an empty directory.
    */
  private def hasFlatData(layer: String, table: String): Boolean = {
    val dir = new Path(path(layer, table))
    hadoopFs(dir).exists(dir) && dataFiles(dir).hasNext
  }

  /** Hive-style partition columns of the live snapshot, read back from the
    * directory layout (`col=value/…` nesting). The catalog keeps no table
    * metadata, so this is how `merge`/`compact` preserve a partitioned
    * layout without the caller re-stating it.
    */
  def partitionColumnsOf(layer: String, table: String): Seq[String] = {
    val live = new Path(livePath(layer, table))
    val fs = hadoopFs(live)
    if (!fs.exists(live)) Nil
    else {
      val cols = scala.collection.mutable.ListBuffer.empty[String]
      var cur = live
      var continue = true
      while (continue) {
        fs.listStatus(cur).find(st =>
          st.isDirectory && st.getPath.getName.contains("=")) match {
          case Some(st) =>
            cols += st.getPath.getName.split("=", 2)(0)
            cur = st.getPath
          case None => continue = false
        }
      }
      cols.toList
    }
  }

  private val mergeSrcCol = "__graft_merge_src"
  private val mergeRnCol = "__graft_merge_rn"

  /** Keyed MERGE (whole-row upsert): the `MERGE INTO … WHEN MATCHED UPDATE
    * WHEN NOT MATCHED INSERT` surface the reference's Delta stack offers.
    * Commits ONE new snapshot version with the same pointer-swap isolation
    * as `overwrite` (readers of the previous version are undisturbed — it
    * stays retained). Schemas are matched by NAME (`unionByName`); the
    * batch must cover every stored column (a narrower batch fails loudly —
    * committing it would drop the missing columns from ALL rows), while
    * extra batch columns schema-evolve the table with stored rows
    * null-padded, mirroring Delta MERGE's target-schema preservation. A
    * partitioned live layout is preserved unless `partitionBy` overrides.
    *
    * Precedence:
    *  - `precedence = None` (plain upsert): every batch row replaces the
    *    stored row with its key. The batch must be key-unique — Delta's
    *    own MERGE precondition; duplicate keys would commit an arbitrary
    *    winner. Callers with possibly-duplicated batches should pass a
    *    `precedence` column instead, which resolves intra-batch
    *    duplicates deterministically (`startMergeSink` does exactly that).
    *  - `precedence = Some(c)`: the row with the HIGHEST `c` wins across
    *    batch, stored, and intra-batch duplicates — the CDC contract where
    *    a late out-of-order event must NOT clobber a newer stored row.
    *    Ties on `c` break toward the batch, then by a content hash of the
    *    row — fully deterministic, so a replayed batch (exactly-once
    *    recovery) commits the SAME winner even when two same-key rows
    *    share the same precedence value.
    *
    * Scale: one shuffle on the merge key for the precedence window — the
    * stored side streams from its live snapshot, nothing is collected.
    */
  def merge(batch: DataFrame, layer: String, table: String,
      keys: Seq[String], partitionBy: Seq[String] = Nil,
      precedence: Option[String] = None): Unit = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(!batch.columns.exists(_.startsWith("__graft_")),
      "column names starting with __graft_ are reserved by merge")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val versioned = currentVersion(layer, table).isDefined
    // append-mode tables are refused for the same reason append() refuses
    // versioned ones: a merge would silently convert the table to
    // snapshot mode and the NEXT append would die — modes are a per-table
    // choice, surfaced loudly, not flipped as a side effect
    require(versioned || !hasFlatData(layer, table),
      s"$layer/$table is an append-mode table; merge would convert it to " +
        "snapshot-versioned and break the append stream — overwrite it " +
        "once (or use a different table) to adopt snapshot mode")
    val parts =
      if (partitionBy.nonEmpty || !versioned) partitionBy
      else partitionColumnsOf(layer, table)
    if (!versioned) {
      overwrite(batch, layer, table, parts) // first write = insert-all
    } else {
      // the batch schema is authoritative for TYPES, never for WIDTH: the
      // explicit-schema stored read below returns only the batch's
      // columns, so a batch missing a stored column would read that
      // column out of existence for EVERY row and commit the narrowed
      // snapshot — silent, permanent data loss from one malformed CDC
      // batch. Check coverage against the stored snapshot's actual
      // schema (one footer read) and fail loudly instead. Widening
      // batches (new columns) remain legal schema evolution: the stored
      // side null-pads through the explicit-schema read.
      val live = new Path(livePath(layer, table))
      val storedCols = scan(live).schema.fieldNames
      val batchLower = batch.columns.map(_.toLowerCase).toSet
      val dropped = storedCols.filterNot(c => batchLower.contains(c.toLowerCase))
      require(dropped.isEmpty,
        s"merge batch for $layer/$table is missing stored column(s) " +
          s"${dropped.mkString(", ")}; a narrower batch would silently " +
          "drop them from every row — select the full column set " +
          "(pad with nulls explicitly if that loss is intended)")
      // the batch's schema on the stored read keeps partition VALUES
      // verbatim: a stated partition column type bypasses hive
      // partition-type inference, so numeric-looking string values
      // (month=01) are never retyped (bigint 1) and committed coerced —
      // and, unlike toggling the inference session conf, it cannot race
      // other threads' reads on the shared session
      val stored = scan(live, schema = Some(batch.schema))
      val all = batch.withColumn(mergeSrcCol, lit(1))
        .unionByName(stored.withColumn(mergeSrcCol, lit(0)))
      // final content-hash tie-breaker: deterministic winner even for
      // same-key rows sharing the same precedence value, so a replayed
      // batch converges instead of committing a layout-dependent row.
      // Map-typed columns are excluded — Spark refuses to hash maps (their
      // internal entry order is unspecified), and a tie-break must never
      // make every merge on a map-carrying table throw.
      def hashable(t: org.apache.spark.sql.types.DataType): Boolean = t match {
        case _: org.apache.spark.sql.types.MapType => false
        case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
        case st: org.apache.spark.sql.types.StructType =>
          st.fields.forall(f => hashable(f.dataType))
        case _ => true
      }
      val hashCols = batch.schema.fields
        .filter(f => hashable(f.dataType)).map(f => col(f.name))
      val order = precedence.map(col(_).desc).toSeq ++
        Seq(col(mergeSrcCol).desc) ++
        (if (hashCols.nonEmpty)
          Seq(xxhash64(struct(hashCols: _*)).asc) else Nil)
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      val merged = all.withColumn(mergeRnCol, row_number().over(w))
        .filter(col(mergeRnCol) === 1).drop(mergeRnCol, mergeSrcCol)
      val v = overwrite(merged, layer, table, parts)
      recordOp(layer, table, v, "MERGE")
    }
  }

  /** OPTIMIZE-style compaction: rewrite the live snapshot into `numFiles`
    * balanced files — contents identical, layout fixed (the antidote to
    * small-file accretion from frequent merges). A hive-partitioned live
    * layout is detected and preserved (rows are then clustered by the
    * partition columns, giving one file per partition value). Commits a
    * new version, so time travel to the pre-compaction layout still works
    * while retained. Hand the result of `Layout.zorderBy` to `overwrite`
    * directly when a clustered (not just balanced) rewrite is wanted.
    * Partition column types follow Spark's partition discovery — the same
    * types every reader of this catalog sees for the table.
    */
  def compact(layer: String, table: String, numFiles: Int): Unit = {
    require(numFiles >= 1)
    // same mode guard as merge: compacting an append-mode table would
    // silently convert it to snapshot mode and kill the append stream.
    // Stop the stream and adopt snapshot mode explicitly first.
    require(currentVersion(layer, table).isDefined,
      s"$layer/$table is not snapshot-versioned; compact only rewrites " +
        "snapshot tables — an append-mode table must be migrated " +
        "explicitly (overwrite once) before compaction")
    val parts = partitionColumnsOf(layer, table)
    val cur = read(layer, table)
    val packed =
      if (parts.isEmpty) cur.repartition(numFiles)
      else cur.repartition(numFiles,
        parts.map(org.apache.spark.sql.functions.col): _*)
    val v = overwrite(packed, layer, table, parts)
    recordOp(layer, table, v, "OPTIMIZE")
  }

  /** Explicit retention vacuum (the Delta `VACUUM` surface, version-count
    * flavored): reclaim every retained snapshot older than the newest
    * `keepLast`, never touching the pointer-resolved live version. The
    * automatic per-commit vacuum already bounds retention at
    * `keepVersions`; this verb is for the operator who wants history gone
    * NOW (cost, compliance) without waiting for future commits to age it
    * out. Serialized against commits by the same `_LOCK` that orders
    * pointer advances. Returns the versions reclaimed.
    *
    * Scale: pure metadata — one listing plus one recursive delete per
    * reclaimed version; table bytes are never read.
    */
  def vacuum(layer: String, table: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must retain at least the live version")
    // Lock-free no-op fast path: a periodic vacuum sweeping many tables
    // mostly finds nothing past retention — don't contend the metadata
    // lock (against live committers/restores) just to learn that. Pins
    // only SHRINK the set, so an empty pre-check is conclusive; a
    // non-empty one is advisory and recomputed under the lock.
    if (versions(layer, table).dropRight(keepLast)
        .filterNot(currentVersion(layer, table).contains).isEmpty)
      return Seq.empty
    withTableLock(layer, table)(reclaimPastRetention(layer, table, keepLast))
  }

  /** Version pins: a copier-side lease that keeps ONE retained snapshot
    * safe from reclamation while a long-running copy (RESTORE / CLONE)
    * reads it. Every reclamation path — the explicit `vacuum` verb, the
    * per-commit retention sweep in `publishVersion`, and the OCC commit
    * tail — skips pinned versions, so the copy proceeds WITHOUT holding
    * the metadata `_LOCK` (a 100 TB snapshot copy under a lock whose
    * contract is "contention is microseconds" would starve every
    * concurrent committer into timeout; this is why the fix is a pin, not
    * a wider lock). The pin is TAKEN under the lock — so it can never
    * land on a version `vacuum` is mid-deleting — and carries its owner's
    * PID: a crashed copier's pin is disregarded (and swept) once its
    * process is gone, so a leaked pin can never make a version immortal.
    * PID liveness is a same-host test, matching this offline catalog's
    * single-host scope; a shared-object-store deployment would swap the
    * liveness check for a TTL lease, nothing else changes.
    *
    * Returns None when `version` is no longer retained (already
    * vacuumed) — the caller decides whether that is an error or a retry.
    */
  private def pinVersion(layer: String, table: String,
      version: Int): Option[Path] =
    withTableLock(layer, table) {
      val vDir = versionDir(layer, table, version)
      val fs = hadoopFs(vDir)
      if (!fs.exists(vDir)) None
      else {
        val p = new Path(path(layer, table),
          f"_PIN_$version%05d_${ProcessHandle.current().pid()}_" +
            java.util.UUID.randomUUID().toString.replace("-", ""))
        val o = fs.create(p, true)
        try o.write('1') finally o.close()
        Some(p)
      }
    }

  private def unpinVersion(p: Path): Unit =
    try hadoopFs(p).delete(p, false) catch { case _: Throwable => () }

  /** Versions currently pinned by a LIVE process; a dead owner's pin is
    * swept here as a side effect (best-effort).
    */
  private def pinnedVersions(layer: String, table: String): Set[Int] = {
    val dir = new Path(path(layer, table))
    val fs = hadoopFs(dir)
    if (!fs.exists(dir)) Set.empty
    else {
      // {5,}: %05d PADS to 5 digits but prints 6+ past version 99,999 —
      // a {5} cap would silently ignore (and never sweep) such pins,
      // un-protecting exactly the long-lived tables that reach them
      val re = "_PIN_([0-9]{5,})_([0-9]+)_.*".r
      fs.listStatus(dir).toSeq.map(_.getPath).flatMap { p =>
        p.getName match {
          case re(v, pid) =>
            val alive =
              try ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive)
                .orElse(false)
              catch { case _: Throwable => true } // unknowable → honor pin
            if (alive) Some(v.toInt)
            else {
              try fs.delete(p, false) catch { case _: Throwable => () }
              None
            }
          case _ => None
        }
      }.toSet
    }
  }

  /** Delta-style `RESTORE TABLE … TO VERSION`: re-commit the snapshot at
    * `version` as a NEW version, moving history forward — restore is an
    * undo COMMIT, not a rewind, so the restored-away versions remain
    * time-travelable for as long as the table's normal retention
    * (`keepVersions`) keeps them. The snapshot transfers as a byte-for-byte
    * file-level copy — partition subdirs and the `_stats` skipping sidecar
    * included, server-side on object stores, never decoded — so restoring
    * a 100 TB snapshot costs a copy, not a scan+re-encode. Returns the
    * new version number.
    */
  def restore(layer: String, table: String, version: Int): Int = {
    val prevCommitted = currentVersion(layer, table)
    require(prevCommitted.isDefined,
      s"$layer/$table is not snapshot-versioned; nothing to restore")
    val src = versionDir(layer, table, version)
    val fs = hadoopFs(src)
    // pin the source snapshot for the duration of the copy: a concurrent
    // vacuum (explicit verb or any commit's retention sweep) skips pinned
    // versions, so the copy can no longer be yanked mid-read. The pin
    // doubles as the existence check — None means already vacuumed.
    val pin = pinVersion(layer, table, version).getOrElse(
      throw new VacuumedVersionException(
        s"$layer/$table version $version is not retained (vacuumed); " +
          s"retained versions: ${versions(layer, table).mkString(",")}"))
    try {
      val next = math.max(prevCommitted.get,
        versions(layer, table).lastOption.getOrElse(0)) + 1
      copySnapshotStaged(fs, src, versionDir(layer, table, next))
      publishVersion(layer, table, next, prevCommitted)
      recordOp(layer, table, next, "RESTORE")
      next
    } finally unpinVersion(pin)
  }

  /** Snapshot copy that can never publish a partial version: files land
    * in a DOT-prefixed temp sibling under `_v/` — invisible to
    * `versions()`/`history()`/`readVersion()`, which parse only numeric
    * names — and the temp dir renames to `target` in one atomic step only
    * after every file copied. A concurrent vacuum reclaiming the SOURCE
    * mid-copy aborts the copy with the temp dir still unpublished (swept
    * here best-effort), instead of leaving a half-copied `_v/<n>` that
    * readers would treat as a retained snapshot.
    */
  private def copySnapshotStaged(fs: org.apache.hadoop.fs.FileSystem,
      src: Path, target: Path): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val tmp = new Path(target.getParent,
      ".copy_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    try {
      val srcPath = src.toUri.getPath
      val it = fs.listFiles(src, true)
      while (it.hasNext) {
        val f = it.next().getPath
        val rel = f.toUri.getPath.stripPrefix(srcPath).stripPrefix("/")
        val dst = new Path(tmp, rel)
        fs.mkdirs(dst.getParent)
        org.apache.hadoop.fs.FileUtil.copy(fs, f, fs, dst, false, conf)
      }
      if (!fs.rename(tmp, target)) {
        // distinguish "slot claimed by a concurrent committer" (a typed
        // conflict the caller may retry against the fresh state — the
        // cross-JVM storm hits this with OCC appends racing restore for
        // the same next-version number) from a genuine I/O failure
        if (fs.exists(target))
          throw new CommitConflictException(
            s"$target was committed concurrently during snapshot copy")
        throw new java.io.IOException(
          s"could not publish copied snapshot to $target")
      }
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, true) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Delta-style CLONE: create `dstLayer/dstTable` whose v1 is a
    * byte-level copy of the SOURCE's live snapshot — partition subdirs
    * and the `_stats` skipping sidecar included, server-side copy on
    * object stores, never decoded. The clone is fully independent
    * afterwards: its commits never touch the source and vice versa
    * (Delta's deep-clone contract; a shallow clone's shared-file
    * semantics don't survive either table's vacuum, so deep is the only
    * honest offline clone). Constraint metadata travels WITH the clone —
    * CHECK / UNIQUE-KEY / generated-column tags are copied, matching
    * Delta's deep CLONE, which copies table properties including CHECK
    * constraints; per-version op-history tags stay behind (the clone's
    * history begins at its own v1 CLONE commit).
    */
  def cloneTable(srcLayer: String, srcTable: String,
      dstLayer: String, dstTable: String): Unit = {
    require(currentVersion(srcLayer, srcTable).isDefined,
      s"$srcLayer/$srcTable is not snapshot-versioned; overwrite once " +
        "before cloning")
    require(currentVersion(dstLayer, dstTable).isEmpty &&
        !hasFlatData(dstLayer, dstTable),
      s"$dstLayer/$dstTable already exists; clone refuses to clobber")
    // pin the source's live version for the copy. The live version is
    // vacuum-proof only while it stays live: enough commits landing
    // DURING a long clone copy age it past retention, so the pin — not
    // liveness — is what protects the read. Pointer may advance between
    // resolve and pin (version vacuumed in between) → re-resolve, bounded.
    val (liveV, pin) = {
      var out: Option[(Int, Path)] = None
      var attempts = 0
      while (out.isEmpty && attempts < 5) {
        attempts += 1
        val v = currentVersion(srcLayer, srcTable).getOrElse(
          throw new CommitConflictException(
            s"$srcLayer/$srcTable lost its version pointer during clone"))
        out = pinVersion(srcLayer, srcTable, v).map(v -> _)
      }
      out.getOrElse(throw new CommitConflictException(
        s"$srcLayer/$srcTable: live version kept moving during clone " +
          s"pin ($attempts attempts)"))
    }
    val src = versionDir(srcLayer, srcTable, liveV)
    val fs = hadoopFs(src)
    try {
      copySnapshotStaged(fs, src, versionDir(dstLayer, dstTable, 1))
    } finally unpinVersion(pin)
    // constraint/generated-column metadata rides along (Delta deep-CLONE
    // copies table properties); version-op tags (_TAG_op_*) do not — the
    // clone's history starts at its own CLONE commit below
    tags(srcLayer, srcTable, "").foreach { case (k, v) =>
      if (!k.startsWith("op_")) writeTag(dstLayer, dstTable, k, v)
    }
    publishVersion(dstLayer, dstTable, 1, None)
    recordOp(dstLayer, dstTable, 1, "CLONE")
  }

  /** Declare a named CHECK constraint (a boolean SQL expression over the
    * table's columns) enforced by `overwriteChecked`. Stored as a
    * durable table tag, so enforcement survives restarts and vacuums.
    */
  def setCheck(layer: String, table: String, name: String,
      sqlExpr: String): Unit =
    writeTag(layer, table, s"check_$name", sqlExpr)

  /** Declared CHECK constraints, name → expression. */
  def checks(layer: String, table: String): Map[String, String] =
    tags(layer, table, "check_")

  /** Committed tags whose key starts with `prefix`, prefix stripped →
    * value. */
  private def tags(layer: String, table: String,
      prefix: String): Map[String, String] = {
    val dir = new Path(path(layer, table))
    val fs = hadoopFs(dir)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      // contains, not endsWith: writeSwapFile temps are `_TAG_*.__tmp<uuid>`,
      // so a crash-orphaned temp would otherwise read as a live tag
      .filter(n => n.startsWith("_TAG_" + prefix) && !n.contains(".__tmp"))
      .map(_.stripPrefix("_TAG_" + prefix))
      .flatMap(k => readTag(layer, table, prefix + k).map(k -> _))
      .toMap
  }

  /** Declare a UNIQUE KEY constraint (primary-key-shaped) enforced by
    * `overwriteChecked`: a batch carrying two rows with the same key
    * tuple is rejected whole. Stored as a durable tag like CHECKs.
    */
  def setUniqueKey(layer: String, table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "unique key needs at least one column")
    writeTag(layer, table, "unique_key", cols.mkString(","))
  }

  /** Declared unique-key columns, if any. */
  def uniqueKey(layer: String, table: String): Option[Seq[String]] =
    readTag(layer, table, "unique_key").map(_.split(",").toSeq)

  /** Declare a GENERATED column (Delta's generated-column contract):
    * `colName` is defined by a SQL expression over the row's other
    * columns. On a checked write, a batch MISSING the column gets it
    * computed; a batch PROVIDING it is validated value-by-value against
    * the expression (null-safe equality) and rejected on any mismatch —
    * a generated column that silently accepted drifting provided values
    * would stop being a derivation the reader can trust.
    */
  def setGenerated(layer: String, table: String, colName: String,
      sqlExpr: String): Unit = {
    require(colName.matches("[A-Za-z0-9_]+"),
      s"generated column name '$colName' not identifier-safe")
    writeTag(layer, table, s"gen_$colName", sqlExpr)
  }

  /** Declared generated columns, name → expression. */
  def generatedColumns(layer: String, table: String): Map[String, String] =
    tags(layer, table, "gen_")

  /** ACID overwrite gated by the table's declared constraints (Delta's
    * write-time contract): CHECK expressions — rows where any evaluates
    * FALSE are violations (NULL passes, as in SQL CHECK) — and the
    * UNIQUE KEY — each surplus row of an over-represented key tuple is a
    * violation. Any violation rejects the WHOLE batch with a typed error
    * and commits nothing; readers keep the previous snapshot. Validation
    * is one counting pass per constraint family before the write (at
    * scale: a pushed-down aggregate, far cheaper than the write itself;
    * the unique probe is a key-grouped count, the same exchange a MERGE
    * would pay anyway).
    */
  def overwriteChecked(df0: DataFrame, layer: String, table: String,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, not}
    val gens = generatedColumns(layer, table)
    // provided generated columns must MATCH their derivation (null-safe);
    // missing ones are computed — Delta's generated-column write contract
    gens.foreach { case (c, e) =>
      if (df0.columns.contains(c)) {
        val bad = df0.filter(not(col(c) <=> expr(e))).count()
        if (bad > 0)
          throw new ConstraintViolationException(
            s"$layer/$table: $bad row(s) provide generated column '$c' " +
              s"diverging from its expression; batch rejected", bad)
      }
    }
    val df = gens.foldLeft(df0) { case (acc, (c, e)) =>
      if (acc.columns.contains(c)) acc else acc.withColumn(c, expr(e))
    }
    val cs = checks(layer, table)
    if (cs.nonEmpty) {
      val violated = cs.values
        .map(c => not(coalesce(expr(c), lit(true))))
        .reduce(_ || _)
      val bad = df.filter(violated).count()
      if (bad > 0)
        throw new ConstraintViolationException(
          s"$layer/$table: $bad row(s) violate CHECK constraint(s) " +
            s"${cs.keys.mkString(", ")}; batch rejected, nothing committed",
          bad)
    }
    uniqueKey(layer, table).foreach { keyCols =>
      val dupsRow = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1)
        .agg(org.apache.spark.sql.functions.sum(col("__n") - 1))
        .head()
      // sum over zero dup groups is SQL NULL — a clean batch, not an error
      val dups = if (dupsRow.isNullAt(0)) 0L else dupsRow.getLong(0)
      if (dups > 0)
        throw new ConstraintViolationException(
          s"$layer/$table: $dups surplus row(s) violate UNIQUE KEY " +
            s"(${keyCols.mkString(", ")}); batch rejected, nothing committed",
          dups)
    }
    val v = overwrite(df, layer, table, partitionBy, statsCols)
    recordOp(layer, table, v, "WRITE")
  }

  /** Record the operation name of committed version `version` — the
    * DESCRIBE HISTORY surface's op column. The version is threaded from
    * the commit that produced it (overwrite/publishVersion return it), so
    * a concurrent writer's interleaved commit can never be mislabeled —
    * re-resolving the pointer here would race. Last write per version wins
    * (a DML verb overrides the generic WRITE its inner overwrite logged).
    */
  private[catalog] def recordOp(layer: String, table: String, version: Int,
      op: String): Unit =
    writeTag(layer, table, f"op_$version%05d", op)

  /** Commit history (Delta `DESCRIBE HISTORY` surface): one row per
    * RETAINED version — version, recorded operation (WRITE when the verb
    * predates op recording or wrote directly), commit instant (epoch ms,
    * from the version dir's mtime), and whether it is the live version.
    * Metadata-only: a listing plus one tag read per version.
    */
  def history(layer: String, table: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(layer, table)
    versionsWithTimes(layer, table).map { case (v, ms) =>
      (v, readTag(layer, table, f"op_$v%05d").getOrElse("WRITE"), ms,
        cur.contains(v))
    }.toDF("version", "operation", "commit_ms", "is_live")
  }

  /** Shared core of the copy-on-write DML verbs (`deleteWhere` /
    * `updateWhere`): commit a new snapshot equal to
    * `transform(live snapshot)`, rewriting as FEW files as possible.
    *
    * `pruneRanges` is the caller's data-skipping assertion: every row the
    * DML predicate matches has column `c` within `[lo, hi]` for each
    * `(c, lo, hi)` given (what Delta derives from the predicate
    * automatically; here it is explicit). With a stats sidecar present,
    * files whose `[min, max]` misses any range CANNOT contain a matching
    * row, so they are copied into the new version byte-for-byte — a raw
    * filesystem copy (server-side on object stores), never decoded — and
    * keep their stats rows; only intersecting files pass through
    * `transform` and a stats re-record. At 100 TB this is the difference
    * between rewriting a table and rewriting the 0.1% of files a targeted
    * DELETE touches. Without a sidecar (or hints) the semantics are
    * identical via a full rewrite. Hive-partitioned layouts keep their
    * directory structure on both paths.
    *
    * The transform receives only rows of REWRITTEN files; correctness does
    * not depend on the hint (a wrong hint that contradicts the predicate
    * is the caller's bug, exactly as with Delta's own skipping — the spec
    * pins the equal-result law for honest hints).
    */
  private def rewriteWhere(layer: String, table: String,
      pruneRanges: Seq[(String, Any, Any)])(
      rewrite: DataFrame => DataFrame): Option[Int] = {
    import org.apache.spark.sql.functions._
    val prevCommitted = currentVersion(layer, table)
    require(prevCommitted.isDefined,
      s"$layer/$table is not snapshot-versioned; DML verbs rewrite " +
        "snapshots — overwrite the table once to adopt snapshot mode")
    val parts = partitionColumnsOf(layer, table)
    val statsOpt = fileStats(layer, table)
    // the columns the live sidecar covers: the rewrite re-records them to
    // keep data skipping alive across the commit
    val statsCols = statsOpt.toSeq.flatMap(_.schema.fieldNames
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_")))
    val usePrune = statsOpt.isDefined && pruneRanges.nonEmpty
    if (!usePrune) {
      Some(overwrite(rewrite(read(layer, table)), layer, table, parts,
        statsCols))
    } else {
      val stats = statsOpt.get
      val touched = pruneRanges.foldLeft(stats) { case (sdf, (c, lo, hi)) =>
        sdf.filter(col(s"min_$c").isNull ||
          (col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)))
      }
      // manifest-scale driver lists, same as readRange's pruning
      val touchedNames = touched.select(col(statsFileCol)).collect()
        .map(_.getString(0)).toSet
      val live = new Path(livePath(layer, table))
      val fs = hadoopFs(live)
      val liveUri = live.toUri.getPath
      def relOf(p: Path): String = {
        val full = p.toUri.getPath
        full.stripPrefix(liveUri).stripPrefix("/")
      }
      val (rewriteFiles, keepFiles) = dataFiles(live).toSeq
        .partition(f => touchedNames.contains(f.getName))
      if (rewriteFiles.isEmpty) {
        // nothing can match: the snapshot is unchanged — commit nothing
        // (Delta's no-op DELETE also skips the commit)
        return None
      }
      val next = prevCommitted.get + 1
      val target = versionDir(layer, table, next)
      writeParquet(rewrite(scan(live, rewriteFiles)), target,
        SaveMode.Overwrite, parts)
      // the freshly rewritten files, BEFORE raw copies join them
      val newFiles = dataFiles(target).toSeq
      val newNames = newFiles.map(_.getName).toSet
      // byte-for-byte copy of provably-untouched files, partition subdirs
      // preserved (server-side copy on object stores; no decode)
      val conf = spark.sessionState.newHadoopConf()
      keepFiles.foreach { f =>
        val dst = new Path(target, relOf(f))
        require(!newNames.contains(f.getName),
          s"rewrite produced a file colliding with kept name ${f.getName}")
        fs.mkdirs(dst.getParent)
        org.apache.hadoop.fs.FileUtil.copy(fs, f, fs, dst, false, conf)
      }
      if (statsCols.nonEmpty) {
        // sidecar for the new version: kept files carry their old min/max
        // rows verbatim (relative path re-derived from the copy map, so
        // pre-r15 sidecars upgrade to the two-level format on their first
        // DML commit); only the rewritten files are re-scanned. Group ids
        // are recomputed over the merged set — grouping is contiguous by
        // min, so it must reflect the NEW file population.
        import spark.implicits._
        val keptRel = keepFiles.map(f => (f.getName, relOf(f)))
          .toDF(statsFileCol, statsRelCol)
        val keptStats = stats
          .drop(statsRelCol, statsGrpCol)
          .filter(!col(statsFileCol).isin(touchedNames.toSeq: _*))
          .join(keptRel, Seq(statsFileCol))
        val newStats =
          if (newFiles.isEmpty) None
          else Some(perFileStats(scan(target, newFiles), target, statsCols))
        writeStatsSidecars(target, statsCols,
          newStats.map(keptStats.unionByName(_)).getOrElse(keptStats))
      }
      publishVersion(layer, table, next, prevCommitted)
      Some(next)
    }
  }

  /** Delta-style `DELETE FROM … WHERE predicate`: commit a new snapshot
    * without the matching rows. See `rewriteWhere` for the stats-pruned
    * file-granular rewrite and the `pruneRanges` contract. Null predicate
    * values keep the row (SQL DELETE deletes only where the predicate is
    * TRUE).
    */
  def deleteWhere(layer: String, table: String, predicate: Column,
      pruneRanges: Seq[(String, Any, Any)] = Nil): Unit = {
    // label only when a commit actually landed (fully-pruned is a no-op);
    // the committed version is threaded back, never re-resolved
    rewriteWhere(layer, table, pruneRanges)(df =>
      df.filter(!org.apache.spark.sql.functions.coalesce(
        predicate, org.apache.spark.sql.functions.lit(false))))
      .foreach(v => recordOp(layer, table, v, "DELETE"))
  }

  /** Delta-style `UPDATE … SET c = expr, … WHERE predicate`: commit a new
    * snapshot where matching rows carry the assigned values. Every
    * assignment expression sees the PRE-update row (SQL UPDATE semantics —
    * one projection, not a fold), non-matching rows pass through
    * unchanged. See `rewriteWhere` for the file-granular rewrite.
    */
  def updateWhere(layer: String, table: String,
      assignments: Seq[(String, Column)], predicate: Column,
      pruneRanges: Seq[(String, Any, Any)] = Nil): Unit = {
    import org.apache.spark.sql.functions._
    require(assignments.nonEmpty, "update needs at least one assignment")
    val byName = assignments.toMap
    rewriteWhere(layer, table, pruneRanges) { df =>
      val missing = byName.keySet -- df.columns.toSet
      require(missing.isEmpty,
        s"update assigns non-existent column(s): ${missing.mkString(", ")}")
      df.select(df.columns.toSeq.map { c =>
        byName.get(c)
          .map(e => when(coalesce(predicate, lit(false)), e)
            .otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }.foreach(v => recordOp(layer, table, v, "UPDATE"))
  }

  /** Overwrite only when the new snapshot is non-empty — an empty compute
    * cycle leaves the previous snapshot in place (reference:
    * gold_batch_job.py:81-90).
    *
    * Write-then-publish: the snapshot is written to `_v/NNNNN` exactly as
    * `overwrite` writes it, and `_CURRENT` is swapped only if that
    * snapshot holds a row. The plan runs once — no cache, no separate
    * emptiness pass (the reference ran its plan twice; SURVEY.md §3.2
    * step 5 flags it). The test reads footer record counts, without a
    * Spark job, and stops at the first non-empty file. An empty snapshot is
    * deleted unpublished, along with the table and `_v` dirs when this
    * call created them, so the pointer, `versions()` and the retention
    * vacuum are exactly as before the call.
    *
    * @return true when a write happened
    */
  def overwriteIfNonEmpty(df: DataFrame, layer: String, table: String,
      partitionBy: Seq[String] = Nil): Boolean = {
    val tableDir = new Path(path(layer, table))
    val fs = hadoopFs(tableDir)
    val created = Seq(tableDir, new Path(tableDir, "_v")).filterNot(fs.exists)
    val (prevCommitted, next, target) =
      writeNextVersion(df, layer, table, partitionBy)
    if (holdsRow(target)) {
      publishVersion(layer, table, next, prevCommitted)
      true
    } else {
      fs.delete(target, true)
      created.reverse.foreach { d =>
        if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
      }
      false
    }
  }

  /** True when the snapshot written at `dir` holds at least one row. */
  private def holdsRow(dir: Path): Boolean =
    dataFiles(dir).exists(withFooter(_)(_.getRecordCount > 0))

  // ---------------------------------------------------------------- stats

  private val statsFileCol = "__file"
  // snapshot-relative path (partition subdirs included): lets `readRange`
  // SCHEDULE surviving files directly instead of recursively listing every
  // data file — planning cost proportional to survivors, not table size.
  // Absent in pre-r15 sidecars (readers fall back to the listing).
  private val statsRelCol = "__rel"
  // rollup group id: files grouped CONTIGUOUSLY in min-order of the first
  // stats column, `statsGroupFiles` per group
  private val statsGrpCol = "__grp"
  private val statsGroupFiles = 64

  /** Per-data-file min/max sidecar (`<version>/_stats/`, parquet): one row
    * per file, columns `min_<c>`/`max_<c>` in the column's own type. This
    * is the Delta/Iceberg file-statistics capability: at 100 TB the
    * planning-time win over parquet's own row-group stats is that pruning
    * needs ONE tiny sidecar read instead of opening a million file footers
    * — the footer can only prune a file you already scheduled. The post-
    * write pass costs one scan of the snapshot's stat columns (what Delta
    * folds into its writer); pair with `Layout.zorderBy` so the min/max
    * ranges are actually narrow per file.
    */
  private def writeFileStats(target: Path, statsCols: Seq[String]): Unit = {
    writeStatsSidecars(target, statsCols,
      perFileStats(scan(target), target, statsCols))
  }

  /** One stats row per data file of `written` (which must be rooted at the
    * version dir `target`): basename, snapshot-relative path, and min/max
    * per stats column.
    */
  private def perFileStats(written: DataFrame, target: Path,
      statsCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    // snapshot-relative path: everything after the version-dir segment.
    // Hive partition dirs are `col=value`, so the bare numeric version
    // name cannot recur as a later path SEGMENT. Basename stays the join
    // key (catalog roots move; file:/ vs file:/// spellings differ by
    // entry point; task-UUID part names are unique across subdirs).
    val splitTok = java.util.regex.Pattern.quote(s"/${target.getName}/")
    written
      .select(input_file_name().as(statsRelCol) +: statsCols.map(col): _*)
      .withColumn(statsRelCol,
        element_at(split(col(statsRelCol), splitTok), -1))
      .withColumn(statsFileCol,
        element_at(split(col(statsRelCol), "/"), -1))
      .groupBy(col(statsFileCol), col(statsRelCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Write the TWO-LEVEL skipping sidecar for one snapshot: `_stats` (one
    * row per data file) and `_stats_rollup` (one row per group of
    * `statsGroupFiles` files, grouped contiguously by `min_<first col>`).
    * The rollup is what keeps range-read planning FILE-COUNT-SUBLINEAR at
    * 100 TB (the r14 sf100 probe measured the per-file-only design at
    * 21×/decade): a range read prunes GROUPS from the fileCount/64-row
    * rollup first, then reads per-file rows only for surviving groups —
    * `_stats` is written sorted by group id, so parquet row-group stats
    * skip the non-surviving spans — and schedules survivors by their
    * recorded relative path, never listing the snapshot. `null_<c>` marks
    * groups containing a file with all-null stats in `c`; those groups
    * survive pruning conservatively, exactly like the per-file contract.
    */
  private def writeStatsSidecars(target: Path, statsCols: Seq[String],
      perFile: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // manifest-scale single-partition window: one row per FILE (the same
    // currency every commit already materializes); min-ordering makes
    // groups contiguous, so range/z-order layouts roll up to narrow group
    // envelopes and group pruning has the same power as file pruning
    val grouped = perFile.withColumn(statsGrpCol,
      ((row_number().over(Window.orderBy(
        col(s"min_${statsCols.head}").asc_nulls_last,
        col(statsFileCol))) - 1) / statsGroupFiles).cast("int"))
    writeParquet(grouped.coalesce(1).sortWithinPartitions(col(statsGrpCol)),
      new Path(target, "_stats"), SaveMode.Overwrite)
    val rollAggs = statsCols.flatMap(c => Seq(
      min(col(s"min_$c")).as(s"min_$c"),
      max(col(s"max_$c")).as(s"max_$c"),
      max(col(s"min_$c").isNull).as(s"null_$c")))
    writeParquet(grouped.groupBy(col(statsGrpCol))
        .agg(rollAggs.head, rollAggs.tail: _*).coalesce(1),
      new Path(target, "_stats_rollup"), SaveMode.Overwrite)
  }

  /** The live snapshot's file-stats sidecar, if the committing overwrite
    * recorded one (`statsCols` non-empty).
    */
  def fileStats(layer: String, table: String): Option[DataFrame] =
    sidecar(new Path(livePath(layer, table)), "_stats")

  /** The live snapshot's group-rollup sidecar, if the committing write
    * recorded one (r15+ two-level format): one row per `statsGroupFiles`
    * files with the group's min/max envelope and all-null flags.
    */
  def statsRollup(layer: String, table: String): Option[DataFrame] =
    sidecar(new Path(livePath(layer, table)), "_stats_rollup")

  /** The `name` sidecar of the snapshot at `live`, if it was recorded. */
  private def sidecar(live: Path, name: String): Option[DataFrame] = {
    val p = new Path(live, name)
    if (hadoopFs(p).exists(p)) Some(scan(p)) else None
  }

  /** Data-skipping range read: prune the live snapshot's files against the
    * stats sidecar (keep a file iff every requested `[lo, hi]` interval
    * intersects its `[min, max]` — all-null stats keep the file,
    * conservatively), schedule ONLY the survivors, and re-apply the exact
    * predicate on the residual rows. Semantically identical to
    * `read(...).filter(between…)` for every range list; the difference is
    * the scan never plans the pruned files at all. Falls back to the plain
    * filtered read when the snapshot has no sidecar. Bounds are inclusive;
    * rows with NULL in a ranged column never qualify (SQL BETWEEN).
    *
    * Planning is FILE-COUNT-SUBLINEAR for snapshots with the r15 two-level
    * sidecar (`writeStatsSidecars`): the rollup prunes file GROUPS first
    * (fileCount/64 rows touched), the group-sorted `_stats` parquet serves
    * the surviving groups' per-file rows via row-group skipping, and
    * survivors are scheduled by their recorded snapshot-relative path with
    * NO recursive listing — at a selective range over 10⁶ files the driver
    * touches thousands of manifest rows, not millions. Pre-r15 sidecars
    * (restored/time-traveled old versions) keep the listing fallback.
    */
  def readRange(layer: String, table: String,
      ranges: Seq[(String, Any, Any)]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(ranges.nonEmpty, "readRange needs at least one (col, lo, hi)")
    def residual(df: DataFrame): DataFrame =
      ranges.foldLeft(df) { case (d, (c, lo, hi)) =>
        d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
      }
    val live = new Path(livePath(layer, table))
    def survivors(files: Seq[Path]): DataFrame = residual(
      if (files.isEmpty) scan(live).where(lit(false)) else scan(live, files))
    sidecar(live, "_stats") match {
      case None => residual(read(layer, table))
      case Some(stats) =>
        // group-level pruning first, when the snapshot carries the rollup
        val fileLevel = sidecar(live, "_stats_rollup") match {
          case None => stats
          case Some(roll) =>
            val keepG = ranges.foldLeft(roll) { case (sdf, (c, lo, hi)) =>
              sdf.filter(col(s"null_$c") ||
                (col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)))
            }
            val grps = keepG.select(col(statsGrpCol)).collect()
              .map(_.getInt(0)).toSeq
            if (grps.isEmpty) return survivors(Nil)
            // `_stats` is sorted by group id: this pushed filter skips the
            // non-surviving row-group spans instead of decoding them
            stats.filter(col(statsGrpCol).isin(grps: _*))
        }
        val keep = ranges.foldLeft(fileLevel) { case (sdf, (c, lo, hi)) =>
          sdf.filter(col(s"min_$c").isNull ||
            (col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)))
        }
        survivors(
          if (stats.schema.fieldNames.contains(statsRelCol))
            // survivors carry their snapshot-relative path: schedule them
            // directly, never listing the snapshot
            keep.select(col(statsRelCol)).collect()
              .map(r => new Path(live, r.getString(0))).toSeq
          else {
            // pre-r15 sidecar: name-set prune over the data-file listing
            val names = keep.select(col(statsFileCol)).collect()
              .map(_.getString(0)).toSet
            if (names.isEmpty) Nil
            else dataFiles(live).filter(f => names.contains(f.getName)).toSeq
          })
    }
  }
}
