package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.catalog.TableCatalog
import org.apache.spark.sql.functions._

/** The reader-vs-vacuum half-deleted-dir race (VERDICT r11 "What's wrong"
  * #1): a plain recursive delete of a version dir removes the data files
  * BEFORE the directory itself, so a lock-free reader that resolved the
  * pointer inside that window found an existing but empty dir, a state
  * `read()`'s dir-gone retry did not then cover (caught live by
  * CrossJvmStormSpec, 1-in-2 full-suite runs). Two mechanisms close it,
  * each pinned here:
  *
  *  1. `reclaimVersionDir` renames the dir aside (`_v/.trash_<uuid>`)
  *     atomically before deleting, so racing readers only ever see
  *     dir-present-and-complete or dir-missing;
  *  2. opening a version dir that holds no data file raises the typed
  *     `VacuumedVersionException`, which `read()`'s re-resolve retry
  *     catches: the defense for stores without a directory rename.
  */
class VacuumRaceSpec extends SparkSpec {
  import spark.implicits._

  test("read() re-resolves through a planted half-deleted version dir " +
      "(the UNABLE_TO_INFER_SCHEMA manifestation)") {
    val root = tmpDir("cat-halfdel")
    val cat = new TableCatalog(spark, root, keepVersions = 4)
    cat.overwrite((1L to 100L).toDF("x"), "gold", "t") // v1
    cat.overwrite((1L to 50L).toDF("x"), "gold", "t") // v2, pointer → 2
    // Plant the exact mid-race state the storm caught: the reader is about
    // to resolve a pointer that still says v1 while v1's FILES are already
    // gone (recursive delete in progress, dir not yet removed).
    val v1 = Paths.get(root, "gold", "t", "_v", "00001")
    Files.list(v1).iterator().asScala.foreach(p => Files.delete(p))
    assert(Files.isDirectory(v1) && !Files.list(v1).iterator().hasNext)
    val cur = Paths.get(root, "gold", "t", "_CURRENT")
    def setPointer(v: Int): Unit = {
      val tmp = Files.createTempFile(cur.getParent, "_CURRENT.spec", "")
      Files.write(tmp, f"$v%05d".getBytes("UTF-8"))
      Files.move(tmp, cur, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    setPointer(1)
    // the racing writer: the real sequence is pointer-advance THEN vacuum,
    // so by the reader's first retry the pointer already names a complete
    // version — model that with a short-delay pointer fix (read()'s retry
    // budget is 150ms across 5 attempts; 30ms lands inside attempt 2-3)
    val fixer = new Thread(() => { Thread.sleep(30); setPointer(2) })
    fixer.start()
    // must NOT throw: attempt 1 finds no data file in v1 (or, on a
    // re-listing, no dir), and the retry re-resolves to v2
    val n = cat.read("gold", "t").count()
    fixer.join()
    assert(n == 50L, s"re-resolve returned $n rows, want v2's 50")
  }

  test("vacuum never exposes a partially-emptied version dir at its " +
      "published path (rename-aside barrier)") {
    val root = tmpDir("cat-aside")
    val cat = new TableCatalog(spark, root, keepVersions = 8)
    // v1 with MANY part files so an in-place recursive delete would have a
    // long observable partial window
    cat.overwrite((1L to 5000L).toDF("x").repartition(40), "gold", "t")
    val v1 = Paths.get(root, "gold", "t", "_v", "00001")
    val fullCount = {
      val s = Files.list(v1)
      try s.iterator().asScala.size finally s.close()
    }
    assert(fullCount >= 40)
    cat.overwrite((1L to 10L).toDF("x"), "gold", "t") // v2 (live)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val vac = new Thread(() => {
      try cat.vacuum("gold", "t", keepLast = 1) finally done.set(true)
    })
    val violations = scala.collection.mutable.ListBuffer.empty[Int]
    vac.start()
    // poll the PUBLISHED path as fast as the fs allows: with the
    // rename-aside barrier the dir vanishes atomically, so every
    // observation is either the full file set or dir-gone — a partial
    // count is exactly the half-deleted window the r11 storm caught
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def listCount(): Int = {
      val s = Files.list(v1)
      try s.iterator().asScala.size finally s.close()
    }
    while (!done.get() && System.nanoTime() < deadline) {
      if (Files.exists(v1)) {
        val n =
          try listCount()
          catch { case _: java.io.IOException => fullCount } // dir raced away
        if (n != fullCount) violations += n
      }
    }
    vac.join(60000)
    assert(!Files.exists(v1), "vacuum must remove the version dir")
    assert(violations.isEmpty,
      s"observed partially-emptied dir states at the published path: " +
        s"${violations.distinct.sorted.mkString(",")} of $fullCount files")
    // and no trash residue survives the verb itself
    val vRoot = Paths.get(root, "gold", "t", "_v")
    val trash = Files.list(vRoot).iterator().asScala
      .filter(_.getFileName.toString.startsWith(".trash_")).toSeq
    assert(trash.isEmpty, s"trash residue: $trash")
  }

  test("crash-orphaned .trash_ dir is invisible to readers/history and " +
      "swept by the next locked reclamation") {
    val root = tmpDir("cat-trash")
    val cat = new TableCatalog(spark, root, keepVersions = 2)
    cat.overwrite(Seq(1).toDF("x"), "gold", "t") // v1
    // plant a crash orphan: rename-aside landed, the follow-up delete died
    val orphan = Paths.get(root, "gold", "t", "_v", ".trash_deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    assert(cat.versions("gold", "t") == Seq(1), "trash leaked into history")
    assert(cat.read("gold", "t").count() == 1L)
    // drive commits past retention so publishVersion's locked sweep runs
    cat.overwrite(Seq(2).toDF("x"), "gold", "t") // v2
    cat.overwrite(Seq(3).toDF("x"), "gold", "t") // v3 → v1 reclaimed + sweep
    assert(!Files.exists(orphan), "locked reclamation must sweep trash orphans")
    assert(cat.read("gold", "t").agg(sum("x")).head.getLong(0) == 3L)
  }
}
