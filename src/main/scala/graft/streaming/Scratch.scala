package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** RAM-backed scratch for the replay harness. The micro-batch replays are
  * fsync-bound, not compute-bound, on an ext4 /tmp: every trigger commits
  * an offset WAL + a commit WAL + one state delta PER STORE PER PARTITION
  * (a stream-stream join keeps four stores per partition), and a 1-row
  * batch through that machinery measured 2.3 s on this box's virtio disk.
  * Production checkpoints live on S3/HDFS whose commit latency is a
  * deployment property, not an engine one — so the harness mains redirect
  * `java.io.tmpdir` (FileReplay staging, temp memory-sink checkpoints, the
  * gates' explicit checkpoint roots, and Spark's local shuffle dirs all
  * derive from it) to /dev/shm when a real tmpfs with headroom is there,
  * and measure the engine instead of the box's fsync.
  *
  * Install is opt-in per MAIN (Bench / Verify / TimeOne), not ambient:
  * the ScalaTest suites keep whatever tmpdir the JVM started with.
  */
object Scratch {

  /** Minimum usable space to accept a scratch filesystem (the biggest
    * per-run footprint is the sf1 events corpus staged a few times over,
    * single-digit GiB).
    */
  private val MinUsableBytes = 16L * 1024 * 1024 * 1024

  /** The chosen scratch root: /dev/shm when present, writable, and roomy;
    * else the JVM's original tmpdir.
    */
  lazy val root: String = {
    val shm = Paths.get("/dev/shm")
    val ok = Files.isDirectory(shm) && Files.isWritable(shm) &&
      shm.toFile.getUsableSpace >= MinUsableBytes
    if (ok) "/dev/shm" else System.getProperty("java.io.tmpdir")
  }

  /** Point `java.io.tmpdir` at a PER-PROCESS subdir of the scratch root
    * (before the SparkSession is built, so spark.local.dir follows) and
    * sweep leftovers from dead earlier runs. Idempotent.
    *
    * The per-PID subdir (`graft_pid<pid>`) is what makes the sweep safe:
    * every `graft_*` staging/replay/checkpoint dir a run creates derives
    * from `java.io.tmpdir`, so it lands under its owner's pid dir, and
    * `sweepStale` reclaims a pid dir only when that process is dead —
    * never by age alone. (The previous 6-hour age cutoff could sweep a
    * LIVE long-lived run's replay cache out from under it.)
    */
  def install(): Unit = {
    sweepStale()
    val mine = Paths.get(root, "graft_pid" + ProcessHandle.current().pid())
    try Files.createDirectories(mine) catch { case _: Throwable => () }
    System.setProperty("java.io.tmpdir",
      if (Files.isDirectory(mine)) mine.toString else root)
  }

  /** A query's catalog or stream scratch root,
    * `<tmpdir>/graft_<tag>_<pid>_<sfDir with [^A-Za-z0-9.] as _>`.
    * Per-sfDir so bench (sf0.1) and verify (sf0.01) runs never clobber each
    * other's versions; per-PID so two harness JVMs (sbt test + a
    * concurrent bench) never co-write one catalog root — the catalog is
    * single-writer by contract. `java.io.tmpdir` is read per call, so
    * after `install()` the root lands in the per-PID dir the sweep
    * reclaims once its owner is dead.
    */
  def sfRoot(tag: String, sfDir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s"${ProcessHandle.current().pid()}_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** A fresh one-shot scratch root, `<tmpdir>/graft_<tag>_<uuid>`. */
  def freshRoot(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      java.util.UUID.randomUUID().toString.replace("-", "")

  /** Best-effort removal of this harness's own stale scratch dirs:
    *  - `graft_pid<pid>` dirs whose owning process is dead (the normal
    *    case; PID liveness, not age, is the ownership test);
    *  - legacy un-pidded `graft_*` dirs from older builds, age > 48 h.
    * Every `Files.list` stream is closed (they hold an fd each; a large
    * sweep used to leak one per directory level).
    */
  private def sweepStale(): Unit = {
    def listChildren(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) listChildren(p).foreach(rm)
      Files.deleteIfExists(p)
    }
    val pidRe = "graft_pid([0-9]+)".r
    val legacyCutoff = System.currentTimeMillis() - 48L * 3600 * 1000
    def dead(pid: Long): Boolean =
      !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
    try {
      listChildren(Paths.get(root))
        .filter(_.getFileName.toString.startsWith("graft_"))
        .filter { p =>
          p.getFileName.toString match {
            case pidRe(pid) => pid.toLong != ProcessHandle.current().pid() &&
              (try dead(pid.toLong) catch { case _: Throwable => false })
            case _ => Files.getLastModifiedTime(p).toMillis < legacyCutoff
          }
        }
        .foreach(p => try rm(p) catch { case _: Throwable => () })
    } catch { case _: Throwable => () }
  }
}
