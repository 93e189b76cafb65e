package graft

import graft.catalog.TableCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TableCatalogSpec extends SparkSpec {
  import spark.implicits._

  test("optimistic commit: stale base surfaces a typed conflict, fresh base lands") {
    import graft.catalog.CommitConflictException
    val cat = new TableCatalog(spark, tmpDir("cat-occ"))
    // writer A creates v1
    cat.overwriteOptimistic(Seq(1).toDF("x"), "silver", "t", expected = None)
    assert(cat.read("silver", "t").as[Int].collect().toSeq === Seq(1))
    // writers B and C both derive from v1; B commits v2 first …
    cat.overwriteOptimistic(Seq(2).toDF("x"), "silver", "t",
      expected = Some(1))
    // … so C's overwrite-overwrite intent must CONFLICT, not clobber
    val e = intercept[CommitConflictException] {
      cat.overwriteOptimistic(Seq(3).toDF("x"), "silver", "t",
        expected = Some(1))
    }
    assert(e.getMessage.contains("expected base version"))
    assert(cat.read("silver", "t").as[Int].collect().toSeq === Seq(2))
    // expecting a table that already exists conflicts too
    intercept[CommitConflictException] {
      cat.overwriteOptimistic(Seq(4).toDF("x"), "silver", "t",
        expected = None)
    }
  }

  test("bucketed snapshots: versioned commit, bucketed scan, vacuum drops " +
      "stale session entries, cross-session re-register reads the pointer") {
    val root = tmpDir("cat-bkt")
    val cat = new TableCatalog(spark, root)
    def snap(mult: Int) =
      spark.range(0L, 64L).selectExpr("id AS k", s"id * $mult AS v")
    // three commits: keepVersions=2 must vacuum v1's dir AND its session
    // entry after the third lands
    val r1 = cat.overwriteBucketed(snap(1), "_pin", "edges", "k", 4)
    assert(r1.count() === 64)
    cat.overwriteBucketed(snap(2), "_pin", "edges", "k", 4)
    cat.overwriteBucketed(snap(3), "_pin", "edges", "k", 4)
    assert(cat.versions("_pin", "edges") === Seq(2, 3))
    assert(cat.currentVersion("_pin", "edges") === Some(3))
    // live read resolves v3's data with the bucket spec intact: joining
    // two reads on the bucket key must plan ZERO exchanges
    val live = cat.readBucketed("_pin", "edges", "k", 4)
    assert(live.selectExpr("sum(v)").head().getLong(0) === 3L * 64 * 63 / 2)
    val joined = live.hint("merge")
      .join(cat.readBucketed("_pin", "edges", "k", 4).hint("merge")
        .withColumnRenamed("v", "v2"), "k")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the vacuumed v1's session entry is gone; v2 (retained) remains
    val names = spark.catalog.listTables()
      .filter(col("name").contains("_pin_edges")).collect().map(_.name)
    assert(!names.exists(_.endsWith("_v00001")), names.mkString(","))
    // cross-session path: drop the live entry and read again — the DDL
    // fallback must re-register from the committed files and still plan
    // a bucketed scan
    names.filter(_.endsWith("_v00003"))
      .foreach(n => spark.sql(s"DROP TABLE `$n`"))
    val reread = cat.readBucketed("_pin", "edges", "k", 4)
    assert(reread.selectExpr("sum(v)").head().getLong(0) === 3L * 64 * 63 / 2)
    val plan2 = reread.hint("merge")
      .join(reread.hint("merge").withColumnRenamed("v", "v2"), "k")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"), plan2)
    // a corrupted sidecar must fail the cross-session fallback with a
    // message NAMING the sidecar path — not a raw index/number exception
    spark.catalog.listTables()
      .filter(col("name").contains("_pin_edges")).collect().map(_.name)
      .filter(_.endsWith("_v00003"))
      .foreach(n => spark.sql(s"DROP TABLE `$n`"))
    val sidecar = java.nio.file.Paths.get(
      root, "_pin", "edges", "_v", "00003", "_BUCKETSPEC")
    val origSpec = java.nio.file.Files.readAllBytes(sidecar)
    try {
      java.nio.file.Files.write(sidecar, "k-only-one-line".getBytes)
      val e1 = intercept[RuntimeException] {
        cat.readBucketed("_pin", "edges", "k", 4)
      }
      assert(e1.getMessage.contains("_BUCKETSPEC"), e1.getMessage)
      java.nio.file.Files.write(sidecar, "k\nnot-a-number".getBytes)
      val e2 = intercept[RuntimeException] {
        cat.readBucketed("_pin", "edges", "k", 4)
      }
      assert(e2.getMessage.contains("non-numeric"), e2.getMessage)
    } finally java.nio.file.Files.write(sidecar, origSpec)
  }

  test("optimistic commit: two interleaved writers, appends commute via retry") {
    val cat = new TableCatalog(spark, tmpDir("cat-occ2"), keepVersions = 16)
    // two threads, three commutative append-commits each, racing on one
    // table; every conflict re-derives from the fresh base — the final
    // snapshot must be the union in EITHER interleaving order
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(vals: Seq[Int]): Thread = {
      val t = new Thread(() =>
        try vals.foreach { v =>
          cat.commitWithRetry("silver", "u") { base =>
            val rows = Seq(v).toDF("x")
            base.fold(rows)(_.unionByName(rows))
          }
        } catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    val ts = Seq(writer(Seq(1, 2, 3)), writer(Seq(10, 20, 30)))
    ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    assert(cat.read("silver", "u").as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 3, 10, 20, 30))
    // six commits landed as six versions; the pointer is at the newest
    assert(cat.currentVersion("silver", "u") === Some(6))
  }

  test("append accumulates; overwrite replaces atomically") {
    val cat = new TableCatalog(spark, tmpDir("cat"))
    cat.append(Seq(1, 2).toDF("x"), "silver", "t")
    cat.append(Seq(3).toDF("x"), "silver", "t")
    assert(cat.read("silver", "t").count() === 3)
    cat.overwrite(Seq(9).toDF("x"), "silver", "t")
    assert(cat.read("silver", "t").as[Int].collect().toSeq === Seq(9))
  }

  test("overwriteIfNonEmpty: empty compute leaves previous snapshot (gold_batch_job.py:81-90)") {
    val cat = new TableCatalog(spark, tmpDir("cat"))
    val first = Seq((1, "a")).toDF("x", "s")
    assert(cat.overwriteIfNonEmpty(first, "gold", "g"))
    assert(!cat.overwriteIfNonEmpty(first.filter($"x" > 100), "gold", "g"))
    assert(cat.read("gold", "g").count() === 1) // old snapshot intact
  }

  /** Write-then-publish contract of `overwriteIfNonEmpty` on one catalog:
    * an empty snapshot — plain or `partitionBy` — is deleted unpublished
    * and leaves the pointer, `versions()` and the `_v/` listing as they
    * were; a non-empty one publishes the next version. */
  private def writeThenPublish(cat: TableCatalog): Unit = {
    val df = Seq((1, "a"), (2, "b")).toDF("x", "s")
    val none = df.filter($"x" > 100)
    def vListing = Option(new java.io.File(cat.path("gold", "g"), "_v").list())
      .map(_.toSeq.sorted)
    def state = (cat.currentVersion("gold", "g"), cat.versions("gold", "g"),
      vListing)
    def xs = cat.read("gold", "g").select($"x".cast("int")).as[Int]
      .collect().sorted.toSeq
    // a table the empty write would create is not created
    assert(!cat.overwriteIfNonEmpty(none, "gold", "g"))
    assert(!cat.exists("gold", "g"))
    assert(cat.overwriteIfNonEmpty(df, "gold", "g"))
    assert(cat.overwriteIfNonEmpty(df.filter($"x" === 2), "gold", "g"))
    val before = state
    assert(before === ((Some(2), Seq(1, 2), Some(Seq("00001", "00002")))))
    assert(!cat.overwriteIfNonEmpty(none, "gold", "g"))
    assert(state === before, "empty write left a trace")
    assert(!cat.overwriteIfNonEmpty(none, "gold", "g", partitionBy = Seq("s")))
    assert(state === before, "empty partitioned write left a trace")
    assert(xs === Seq(2))
    // the next non-empty write takes the next version number and the
    // retention vacuum (keepVersions = 2) runs as for `overwrite`
    assert(cat.overwriteIfNonEmpty(df, "gold", "g", partitionBy = Seq("s")))
    assert(state === ((Some(3), Seq(2, 3), Some(Seq("00002", "00003")))))
    assert(xs === Seq(1, 2))
  }

  test("overwriteIfNonEmpty is write-then-publish: an empty snapshot is " +
      "never published and leaves no version dir") {
    writeThenPublish(new TableCatalog(spark, tmpDir("cat-wtp")))
  }

  test("opening a snapshot submits no Spark job and gives the schema " +
      "Spark infers, partition column types included") {
    val cat = new TableCatalog(spark, tmpDir("cat-open"))
    val df = Seq((1L, "a", 0.5, "00"), (2L, null, 1.5, "01"),
      (3L, "c", 2.5, "02")).toDF("k", "s", "v", "month")
    assert(!df.schema("k").nullable, "fixture must carry a non-null column")
    cat.append(df, "silver", "flat")
    cat.append(df, "silver", "flat")
    cat.overwrite(df, "silver", "ver", statsCols = Seq("k"))
    cat.overwrite(df, "silver", "part", partitionBy = Seq("month"))
    val ver = cat.livePath("silver", "ver")
    def opensLikeSpark(what: String, dir: String)(open: => DataFrame) = {
      val (opened, jobs) = withJobCount(open)
      assert(jobs === 0, s"$what submitted $jobs Spark jobs")
      assert(opened.schema === spark.read.parquet(dir).schema, what)
    }
    opensLikeSpark("flat append read", cat.path("silver", "flat"))(
      cat.read("silver", "flat"))
    opensLikeSpark("versioned read", ver)(cat.read("silver", "ver"))
    opensLikeSpark("partitionBy read", cat.livePath("silver", "part"))(
      cat.read("silver", "part"))
    opensLikeSpark("readVersion", ver)(cat.readVersion("silver", "ver", 1))
    opensLikeSpark("fileStats", s"$ver/_stats")(
      cat.fileStats("silver", "ver").get)
    opensLikeSpark("statsRollup", s"$ver/_stats_rollup")(
      cat.statsRollup("silver", "ver").get)
    // "00".."02" are discovered as int, as an inferring read discovers them
    assert(cat.read("silver", "part").schema("month").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(cat.read("silver", "flat").count() === 6)
  }

  test("partitionBy produces hive layout and partition pruning prunes") {
    val cat = new TableCatalog(spark, tmpDir("cat"))
    val df = Seq(("canarias", 1), ("peninsula", 2), ("peninsula", 3))
      .toDF("region", "v")
    cat.overwrite(df, "silver", "p", partitionBy = Seq("region"))
    val dirs = new java.io.File(
      cat.livePath("silver", "p").stripPrefix("file:")).list().toSeq
    assert(dirs.exists(_.startsWith("region=canarias")))
    val q = cat.read("silver", "p").filter($"region" === "peninsula")
    assert(q.count() === 2)
    // pruning visible in the physical plan's partition filters
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("region"))
  }

  test("merge: batch wins on key collision, stored survivors kept, inserts land") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge"))
    cat.overwrite((1 to 5).map(i => (i.toLong, "a")).toDF("k", "v"),
      "silver", "m")
    cat.merge((4 to 7).map(i => (i.toLong, "b")).toDF("k", "v"),
      "silver", "m", keys = Seq("k"))
    val got = cat.read("silver", "m").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a", 2L -> "a", 3L -> "a",
      4L -> "b", 5L -> "b", 6L -> "b", 7L -> "b"))
    // one committed version per merge; the pre-merge snapshot time-travels
    val vs = cat.versions("silver", "m")
    assert(vs.size === 2)
    assert(cat.readVersion("silver", "m", vs.head)
      .as[(Long, String)].collect().toMap ===
      (1 to 5).map(i => i.toLong -> "a").toMap)
  }

  test("merge into an absent table is insert-all") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge2"))
    cat.merge(Seq((1L, "x")).toDF("k", "v"), "silver", "m", keys = Seq("k"))
    assert(cat.read("silver", "m").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x")))
  }

  test("merge refuses a batch narrower than the stored schema (no silent column drop)") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge-narrow"))
    cat.overwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "score"),
      "silver", "m")
    val ex = intercept[IllegalArgumentException] {
      cat.merge(Seq((1L, "a2")).toDF("k", "v"), "silver", "m", keys = Seq("k"))
    }
    assert(ex.getMessage.contains("score"), ex.getMessage)
    // nothing committed: the stored snapshot is intact, score column included
    assert(cat.versions("silver", "m").size === 1)
    assert(cat.read("silver", "m").select($"k", $"score")
      .as[(Long, Double)].collect().toMap === Map(1L -> 10.0, 2L -> 20.0))
  }

  test("merge with a WIDER batch schema-evolves: stored rows null-pad the new column") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge-widen"))
    cat.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "silver", "m")
    cat.merge(Seq((2L, "b2", Some(99.0)), (3L, "c", None))
        .toDF("k", "v", "score"),
      "silver", "m", keys = Seq("k"))
    val got = cat.read("silver", "m").select($"k", $"v", $"score")
      .as[(Long, String, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> (("a", None)), 2L -> (("b2", Some(99.0))), 3L -> (("c", None))))
  }

  test("merge with precedence: a late lower-ordered row never clobbers a newer stored row") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge3"))
    cat.overwrite(Seq((1L, 20L, "new"), (2L, 10L, "b")).toDF("k", "ts", "v"),
      "silver", "m")
    // late event for k=1 (ts 10 < stored 20) + intra-batch dup for k=3
    cat.merge(Seq((1L, 10L, "late"), (3L, 15L, "stale"), (3L, 25L, "d"))
        .toDF("k", "ts", "v"),
      "silver", "m", keys = Seq("k"), precedence = Some("ts"))
    val got = cat.read("silver", "m").select($"k", $"v")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "new", 2L -> "b", 3L -> "d"))
  }

  test("merge preserves a hive-partitioned live layout without re-stating it") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge4"))
    cat.overwrite(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("region", "k", "v"),
      "silver", "m", partitionBy = Seq("region"))
    cat.merge(Seq(("b", 3L, "z")).toDF("region", "k", "v"),
      "silver", "m", keys = Seq("k"))
    assert(cat.partitionColumnsOf("silver", "m") === Seq("region"))
    val dirs = new java.io.File(
      cat.livePath("silver", "m").stripPrefix("file:")).list().toSeq
    assert(dirs.exists(_.startsWith("region=a")), dirs.mkString(","))
    assert(cat.read("silver", "m").count() === 3)
  }

  test("merge preserves numeric-looking STRING partition values (no inference retype)") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge6"))
    cat.overwrite(Seq(("01", 1L, "x"), ("02", 2L, "y")).toDF("month", "k", "v"),
      "silver", "m", partitionBy = Seq("month"))
    cat.merge(Seq(("01", 1L, "x2")).toDF("month", "k", "v"),
      "silver", "m", keys = Seq("k"))
    // the committed LAYOUT still says month=01/month=02 — inference must
    // not have rewritten the directory values to month=1/month=2 …
    val dirs = new java.io.File(
      cat.livePath("silver", "m").stripPrefix("file:")).list().toSeq
    assert(dirs.contains("month=01") && dirs.contains("month=02"),
      dirs.mkString(","))
    // … and the upsert collided (no phantom '01'-vs-1 duplicate row).
    // (A normal read() of any hive layout still applies Spark's partition
    // type inference — that reader-side behavior is unchanged.)
    val got = cat.read("silver", "m").select($"k", $"v")
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "x2"), (2L, "y")))
  }

  test("merge and compact refuse append-mode tables (no silent mode flip)") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge7"))
    cat.append(Seq((1L, "a")).toDF("k", "v"), "silver", "m")
    intercept[IllegalArgumentException] {
      cat.merge(Seq((1L, "b")).toDF("k", "v"), "silver", "m", keys = Seq("k"))
    }
    intercept[IllegalArgumentException] {
      cat.compact("silver", "m", numFiles = 1)
    }
    // the append stream is unharmed
    cat.append(Seq((2L, "c")).toDF("k", "v"), "silver", "m")
    assert(cat.read("silver", "m").count() === 2)
  }

  test("merge with precedence: equal-precedence duplicate replays deterministically") {
    // same key, same ts, different payloads in one batch — the committed
    // winner must be identical across independent merges (content-hash
    // tie-break), or exactly-once replay would diverge
    def run(): String = {
      val cat = new TableCatalog(spark, tmpDir("cat-merge8"))
      cat.overwrite(Seq((9L, 0L, "seed")).toDF("k", "ts", "v"), "silver", "m")
      cat.merge(
        Seq((1L, 5L, "pay-a"), (1L, 5L, "pay-b")).toDF("k", "ts", "v")
          .repartition(3),
        "silver", "m", keys = Seq("k"), precedence = Some("ts"))
      cat.read("silver", "m").filter($"k" === 1L)
        .select($"v").as[String].collect().head
    }
    val winners = (1 to 3).map(_ => run()).toSet
    assert(winners.size === 1, winners)
  }

  test("merge after a crashed first overwrite (orphaned _v, no pointer) is insert-all") {
    val cat = new TableCatalog(spark, tmpDir("cat-merge5"))
    // simulate the crash state overwrite() documents: version dir written,
    // pointer swap never happened
    val orphan = new java.io.File(
      cat.path("silver", "m").stripPrefix("file:") + "/_v/00001")
    assert(orphan.mkdirs())
    cat.merge(Seq((1L, "x")).toDF("k", "v"), "silver", "m", keys = Seq("k"))
    assert(cat.read("silver", "m").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x")))
  }

  test("compact: identical contents, exactly numFiles data files, new version") {
    val cat = new TableCatalog(spark, tmpDir("cat-compact"))
    cat.overwrite((1L to 100L).toDF("x").repartition(16), "silver", "c")
    val before = cat.read("silver", "c").as[Long].collect().sorted
    cat.compact("silver", "c", numFiles = 2)
    val after = cat.read("silver", "c").as[Long].collect().sorted
    assert(after === before)
    val files = new java.io.File(
      cat.livePath("silver", "c").stripPrefix("file:"))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 2, files.map(_.getName).mkString(","))
  }

  test("compact preserves a hive-partitioned layout (one file per partition value)") {
    val cat = new TableCatalog(spark, tmpDir("cat-compact2"))
    val df = (1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i))
      .toDF("region", "x")
    cat.overwrite(df.repartition(8), "silver", "c", partitionBy = Seq("region"))
    cat.compact("silver", "c", numFiles = 2)
    assert(cat.partitionColumnsOf("silver", "c") === Seq("region"))
    val live = new java.io.File(cat.livePath("silver", "c").stripPrefix("file:"))
    for (r <- Seq("region=a", "region=b")) {
      val files = new java.io.File(live, r)
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"$r: ${files.map(_.getName).mkString(",")}")
    }
    assert(cat.read("silver", "c").count() === 40)
  }

  test("export: JSONL shards with bounded rows per file, lossless roundtrip") {
    val cat = new TableCatalog(spark, tmpDir("cat-export"))
    val df = (1L to 100L).map(i => (i, s"doc $i")).toDF("id", "text")
    cat.export(df.repartition(2), "export", "shards",
      exportFormat = "json", maxRecordsPerShard = 10L)
    val dir = new java.io.File(cat.path("export", "shards"))
    val files = dir.listFiles().filter(_.getName.endsWith(".json"))
    assert(files.nonEmpty)
    // every shard respects the cap — uniform files for downstream loaders
    files.foreach { f =>
      val n = scala.io.Source.fromFile(f).getLines().size
      assert(n <= 10, s"${f.getName} has $n rows")
    }
    val back = spark.read.json(cat.path("export", "shards"))
    assert(back.count() === 100L)
    assert(back.agg(sum("id")).head.getLong(0) === 5050L)
  }

  test("reader isolation: in-flight reader keeps its snapshot across an overwrite") {
    val cat = new TableCatalog(spark, tmpDir("cat-iso"))
    cat.overwrite(Seq(1, 2, 3).toDF("x"), "gold", "iso")
    // resolve the plan against v1 BEFORE the next commit
    val inFlight = cat.read("gold", "iso")
    assert(inFlight.count() === 3) // file listing pinned to v1
    cat.overwrite(Seq(40, 50).toDF("x"), "gold", "iso")
    // v1 is retained (keepVersions=2) → the stale reader still sees a
    // CONSISTENT old snapshot, never a mix or a FileNotFound
    assert(inFlight.as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    assert(cat.read("gold", "iso").as[Int].collect().sorted.toSeq === Seq(40, 50))
  }

  test("vacuum under a CONCURRENT reader: retention spans keepVersions-1 commits, boundary exact") {
    val root = tmpDir("cat-vac")
    val cat = new TableCatalog(spark, root, keepVersions = 3)
    cat.overwrite((1L to 1000L).toDF("x"), "gold", "vac") // v1
    // reader thread: resolves _CURRENT (v1), signals, then holds its read
    // open until the writer has landed every commit the contract allows —
    // the longest plausible read, by construction
    val resolved = new java.util.concurrent.CountDownLatch(1)
    val writerDone = new java.util.concurrent.CountDownLatch(1)
    val result =
      new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Long]]()
    val reader = new Thread(() => {
      try {
        val snap = cat.read("gold", "vac") // pointer + file listing pin v1
        val n = snap.count()
        resolved.countDown()
        writerDone.await()
        val s = snap.agg(sum("x")).head.getLong(0)
        result.set(if (n == 1000L) Right(s)
          else Left(new AssertionError(s"resolved $n rows")))
      } catch {
        case t: Throwable => resolved.countDown(); result.set(Left(t))
      }
    })
    reader.start()
    resolved.await()
    // the maximum churn the contract allows: keepVersions-1 = 2 commits
    cat.overwrite((1L to 10L).toDF("x"), "gold", "vac") // v2
    cat.overwrite((11L to 20L).toDF("x"), "gold", "vac") // v3
    writerDone.countDown()
    reader.join(120000)
    // the in-flight reader finished on its ORIGINAL snapshot — no
    // FileNotFound, no mixed version
    assert(result.get() === Right(500500L), result.get())
    val v1dir = new java.io.File(s"$root/gold/vac/_v/00001")
    assert(v1dir.exists, "v1 must survive keepVersions-1 commits")
    // the boundary is exact: the NEXT commit ages v1 out
    cat.overwrite(Seq(9L).toDF("x"), "gold", "vac") // v4
    assert(!v1dir.exists, "the keepVersions-th commit must vacuum v1")
    assert(cat.read("gold", "vac").as[Long].collect().toSeq === Seq(9L))
  }

  test("schema evolution on overwrite + time travel to the old schema") {
    val cat = new TableCatalog(spark, tmpDir("cat-evo"))
    cat.overwrite(Seq((1, "a")).toDF("x", "s"), "gold", "evo")
    // overwriteSchema semantics (gold_batch_job.py:87): columns may be
    // added, dropped, and retyped between snapshots
    cat.overwrite(Seq((9L, true, 0.5)).toDF("x", "flag", "score"), "gold", "evo")
    val live = cat.read("gold", "evo")
    assert(live.columns.sorted.toSeq === Seq("flag", "score", "x"))
    assert(live.schema("x").dataType.typeName === "long")
    // the superseded snapshot remains readable with ITS schema
    val v1 = cat.readVersion("gold", "evo", 1)
    assert(v1.columns.sorted.toSeq === Seq("s", "x"))
    assert(v1.schema("x").dataType.typeName === "integer")
  }

  test("retention: only keepVersions snapshots survive, pointer tracks the head") {
    val cat = new TableCatalog(spark, tmpDir("cat-ret"), keepVersions = 2)
    (1 to 4).foreach(i => cat.overwrite(Seq(i).toDF("x"), "gold", "r"))
    assert(cat.currentVersion("gold", "r") === Some(4))
    assert(cat.versions("gold", "r") === Seq(3, 4))
    assert(cat.read("gold", "r").as[Int].collect().toSeq === Seq(4))
    assert(cat.readVersion("gold", "r", 3).as[Int].collect().toSeq === Seq(3))
  }

  test("append to a snapshot-versioned table is refused (not silently invisible)") {
    val cat = new TableCatalog(spark, tmpDir("cat-mix"))
    cat.overwrite(Seq(1).toDF("x"), "gold", "m")
    val e = intercept[IllegalArgumentException] {
      cat.append(Seq(2).toDF("x"), "gold", "m")
    }
    assert(e.getMessage.contains("snapshot-versioned"))
  }

  test("flat files of a previously-appended table are vacuumed after a grace commit") {
    val cat = new TableCatalog(spark, tmpDir("cat-flat"))
    cat.append(Seq(1, 2).toDF("x"), "silver", "f")
    cat.overwrite(Seq(9).toDF("x"), "silver", "f") // v1: flat kept for in-flight readers
    val dir = new java.io.File(cat.path("silver", "f"))
    assert(dir.listFiles().exists(_.getName.endsWith(".parquet")))
    cat.overwrite(Seq(10).toDF("x"), "silver", "f") // v2: flat vacuumed
    assert(!dir.listFiles().exists(_.getName.endsWith(".parquet")))
    assert(cat.read("silver", "f").as[Int].collect().toSeq === Seq(10))
  }

  test("orphaned version dir does not skip the flat-file grace commit") {
    val cat = new TableCatalog(spark, tmpDir("cat-orphan-grace"))
    cat.append(Seq(1, 2).toDF("x"), "silver", "og")
    // crashed overwrite: version dir exists, pointer never committed —
    // readers are STILL on the flat dir
    Seq(99).toDF("x").write.parquet(cat.path("silver", "og") + "/_v/00001")
    cat.overwrite(Seq(9).toDF("x"), "silver", "og") // first COMMITTED version
    val dir = new java.io.File(cat.path("silver", "og"))
    // flat files must survive this commit (grace for in-flight flat readers)
    assert(dir.listFiles().exists(_.getName.endsWith(".parquet")))
    cat.overwrite(Seq(10).toDF("x"), "silver", "og")
    assert(!dir.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("crash recovery: an orphaned version dir (write died before commit) is harmless") {
    val cat = new TableCatalog(spark, tmpDir("cat-crash"))
    cat.overwrite(Seq(1).toDF("x"), "gold", "c") // v1 committed
    // simulate a writer that died AFTER writing _v/00002 but BEFORE the
    // pointer swap: data exists, _CURRENT still says 1
    Seq(99).toDF("x").write.parquet(
      cat.path("gold", "c") + "/_v/00002")
    assert(cat.currentVersion("gold", "c") === Some(1))
    assert(cat.read("gold", "c").as[Int].collect().toSeq === Seq(1)) // reader unaffected
    // next overwrite claims version 2 again, replacing the orphan atomically
    cat.overwrite(Seq(2).toDF("x"), "gold", "c")
    assert(cat.currentVersion("gold", "c") === Some(2))
    assert(cat.read("gold", "c").as[Int].collect().toSeq === Seq(2))
  }

  test("changesByKey: insert/delete/update pre+post images, untouched keys silent") {
    val cat = new TableCatalog(spark, tmpDir("cat-cdf"))
    cat.overwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v"), "silver", "t")
    cat.overwrite(Seq((2L, "b", 20.0), (3L, "c", 99.0), (4L, "d", 40.0))
      .toDF("k", "s", "v"), "silver", "t")
    val ch = cat.changesByKey("silver", "t", Seq("k"), 1, 2)
    val got = ch.select($"k", $"s", $"v", $"_change_type")
      .as[(Long, String, Double, String)].collect().toSet
    assert(got === Set(
      (1L, "a", 10.0, "delete"),
      (3L, "c", 30.0, "update_preimage"),
      (3L, "c", 99.0, "update_postimage"),
      (4L, "d", 40.0, "insert"))) // key 2 unchanged → absent
    assert(ch.select("_commit_version").distinct()
      .as[Int].collect().toSeq === Seq(2))
  }

  test("changesByKey: null payload transitions and all-key schema edge") {
    val cat = new TableCatalog(spark, tmpDir("cat-cdf2"))
    cat.overwrite(Seq((1L, Some("x")), (2L, None: Option[String]))
      .toDF("k", "s"), "silver", "n")
    cat.overwrite(Seq((1L, None: Option[String]), (2L, None: Option[String]))
      .toDF("k", "s"), "silver", "n")
    val got = cat.changesByKey("silver", "n", Seq("k"), 1, 2)
      .select($"k", $"_change_type").as[(Long, String)].collect().toSet
    // x→null is an update; null→null is NOT a phantom change
    assert(got === Set((1L, "update_preimage"), (1L, "update_postimage")))
    // every column a key: presence marker keeps the diff well-defined
    val catK = new TableCatalog(spark, tmpDir("cat-cdf3"))
    catK.overwrite(Seq(Tuple1(1L), Tuple1(2L)).toDF("k"), "silver", "ko")
    catK.overwrite(Seq(Tuple1(2L), Tuple1(3L)).toDF("k"), "silver", "ko")
    val gotK = catK.changesByKey("silver", "ko", Seq("k"), 1, 2)
      .select($"k", $"_change_type").as[(Long, String)].collect().toSet
    assert(gotK === Set((1L, "delete"), (3L, "insert")))
  }

  test("changesByKey refuses a cross-schema-change diff") {
    val cat = new TableCatalog(spark, tmpDir("cat-cdf4"))
    cat.overwrite(Seq((1L, "a")).toDF("k", "s"), "silver", "e")
    cat.overwrite(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), "silver", "e")
    val ex = intercept[IllegalArgumentException] {
      cat.changesByKey("silver", "e", Seq("k"), 1, 2)
    }
    assert(ex.getMessage.contains("schema change"))
  }

  test("readAsOf: timestamp time travel resolves the version live at that instant") {
    val cat = new TableCatalog(spark, tmpDir("cat-asof"))
    cat.overwrite(Seq(1).toDF("x"), "gold", "t")
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(20) // commit instants are ms-granular; separate them
    cat.overwrite(Seq(2).toDF("x"), "gold", "t")
    assert(cat.readAsOf("gold", "t", afterV1).as[Int].collect().toSeq === Seq(1))
    assert(cat.readAsOf("gold", "t", System.currentTimeMillis())
      .as[Int].collect().toSeq === Seq(2))
    // an instant before every retained commit fails loudly, never lies
    val ex = intercept[IllegalArgumentException] {
      cat.readAsOf("gold", "t", 0L)
    }
    assert(ex.getMessage.contains("retained"))
  }

  test("deleteWhere/updateWhere: SQL DML semantics, null predicate rows untouched") {
    val cat = new TableCatalog(spark, tmpDir("cat-dml"))
    val rows = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None),
      (4L, Some(40.0))).toDF("k", "v")
    cat.overwrite(rows, "silver", "t")
    // DELETE WHERE v > 15: the null-v row is NOT deleted (predicate null)
    cat.deleteWhere("silver", "t", col("v") > 15.0)
    assert(cat.read("silver", "t").select("k").as[Long].collect().sorted
      .toSeq === Seq(1L, 3L))
    // UPDATE SET v = v + k WHERE k = 1: assignment sees the pre-update row
    cat.updateWhere("silver", "t", Seq("v" -> (col("v") + col("k"))),
      col("k") === 1L)
    val after = cat.read("silver", "t").orderBy("k")
      .as[(Long, Option[Double])].collect().toSeq
    assert(after === Seq((1L, Some(11.0)), (3L, None)))
    // each DML verb committed one new version
    assert(cat.currentVersion("silver", "t") === Some(3))
  }

  test("updateWhere: every assignment sees the PRE-update row (one projection)") {
    val cat = new TableCatalog(spark, tmpDir("cat-dml2"))
    cat.overwrite(Seq((1.0, 2.0)).toDF("a", "b"), "silver", "t")
    // swap a and b — a fold would assign b = a AFTER a was overwritten
    cat.updateWhere("silver", "t",
      Seq("a" -> col("b"), "b" -> col("a")), lit(true))
    assert(cat.read("silver", "t").as[(Double, Double)].collect().toSeq ===
      Seq((2.0, 1.0)))
  }

  test("deleteWhere with pruneRanges: untouched files copied verbatim, stats maintained") {
    val cat = new TableCatalog(spark, tmpDir("cat-dml3"), keepVersions = 4)
    val df = (1L to 400L).toDF("k")
      .withColumn("v", col("k") * 2.0)
      .repartitionByRange(4, col("k")) // 4 range-disjoint files
    cat.overwrite(df, "silver", "t", statsCols = Seq("k"))
    def dataFiles(v: Int): Set[String] = {
      val dir = new java.io.File(
        cat.livePath("silver", "t").stripPrefix("file:")).getParentFile
      val vd = new java.io.File(dir, f"$v%05d")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          f.listFiles().toSeq
            .filterNot(_.getName.startsWith("_")) // skip _stats, _SUCCESS
            .flatMap(walk)
        else Seq(f)
      walk(vd).map(_.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith("."))
        .filterNot(_.contains("crc")).toSet
    }
    val v1Files = dataFiles(1)
    assert(v1Files.size === 4)
    // delete a range confined to one file's key span, hint the range
    cat.deleteWhere("silver", "t",
      col("k") >= 10L && col("k") <= 20L && col("v") > 0.0,
      pruneRanges = Seq(("k", 10L, 20L)))
    val v2Files = dataFiles(2)
    // at least 2 of the 4 original files provably can't match → raw-copied
    assert((v2Files & v1Files).size >= 2,
      s"expected copied files, got v1=$v1Files v2=$v2Files")
    // semantics: exactly the hinted rows are gone
    assert(cat.read("silver", "t").select("k").as[Long].collect().sorted
      .toSeq === ((1L to 9L) ++ (21L to 400L)))
    // the new version's sidecar covers every live data file, so skipping
    // still works: a range read outside the delete span prunes correctly
    val stats = cat.fileStats("silver", "t").get.collect()
    assert(stats.length === v2Files.size)
    assert(cat.readRange("silver", "t", Seq(("k", 300L, 310L)))
      .select("k").as[Long].collect().sorted.toSeq === (300L to 310L))
    // equal-result law: the same delete WITHOUT hints on a twin table
    val cat2 = new TableCatalog(spark, tmpDir("cat-dml3b"))
    cat2.overwrite(df, "silver", "t", statsCols = Seq("k"))
    cat2.deleteWhere("silver", "t",
      col("k") >= 10L && col("k") <= 20L && col("v") > 0.0)
    assert(cat2.read("silver", "t").select("k").as[Long].collect().sorted
      .toSeq === cat.read("silver", "t").select("k").as[Long].collect()
      .sorted.toSeq)
  }

  test("deleteWhere: a fully-pruned predicate is a no-op commit") {
    val cat = new TableCatalog(spark, tmpDir("cat-dml4"))
    val df = (1L to 100L).toDF("k").repartitionByRange(2, col("k"))
    cat.overwrite(df, "silver", "t", statsCols = Seq("k"))
    cat.deleteWhere("silver", "t", col("k") > 1000L,
      pruneRanges = Seq(("k", 1001L, 2000L)))
    // no file intersects the range → no new version committed
    assert(cat.currentVersion("silver", "t") === Some(1))
    assert(cat.read("silver", "t").count() === 100L)
    // … and no history row either (the op label guards on a real commit)
    assert(cat.history("silver", "t").count() === 1L)
  }

  test("updateWhere with pruneRanges on a hive-partitioned layout") {
    val cat = new TableCatalog(spark, tmpDir("cat-dml5"))
    val df = (1L to 200L).toDF("k")
      .withColumn("grp", concat(lit("g"), (col("k") % 2).cast("string")))
      .withColumn("v", col("k") * 1.0)
      .repartitionByRange(4, col("k"))
    cat.overwrite(df, "silver", "t", partitionBy = Seq("grp"),
      statsCols = Seq("k"))
    cat.updateWhere("silver", "t", Seq("v" -> lit(-1.0)),
      col("k") <= 10L, pruneRanges = Seq(("k", 1L, 10L)))
    val out = cat.read("silver", "t")
    // partition layout survived the rewrite
    assert(cat.partitionColumnsOf("silver", "t") === Seq("grp"))
    assert(out.filter(col("v") === -1.0).count() === 10L)
    assert(out.filter(col("v") > 0.0).count() === 190L)
    // partition column still prunes after the DML commit
    assert(out.filter(col("grp") === "g1").count() === 100L)
  }

  test("vacuum: reclaims old versions only, never the live one, typed reads after") {
    import graft.catalog.VacuumedVersionException
    val cat = new TableCatalog(spark, tmpDir("cat-vac"), keepVersions = 10)
    (1 to 4).foreach(i => cat.overwrite(Seq(i).toDF("x"), "silver", "t"))
    assert(cat.versions("silver", "t") === Seq(1, 2, 3, 4))
    assert(cat.vacuum("silver", "t", keepLast = 2) === Seq(1, 2))
    assert(cat.versions("silver", "t") === Seq(3, 4))
    // live untouched; vacuumed history is a TYPED error, retained still reads
    assert(cat.read("silver", "t").as[Int].collect().toSeq === Seq(4))
    assert(cat.readVersion("silver", "t", 3).as[Int].collect().toSeq === Seq(3))
    val e = intercept[VacuumedVersionException] {
      cat.readVersion("silver", "t", 1)
    }
    assert(e.getMessage.contains("retained versions: 3,4"))
    // keepLast beyond history: no-op; keepLast=1 keeps exactly the live one
    assert(cat.vacuum("silver", "t", keepLast = 5) === Nil)
    assert(cat.vacuum("silver", "t", keepLast = 1) === Seq(3))
    assert(cat.read("silver", "t").as[Int].collect().toSeq === Seq(4))
  }

  test("restore: undo commit moves history forward, file copy preserves stats sidecar") {
    val cat = new TableCatalog(spark, tmpDir("cat-res"), keepVersions = 10)
    cat.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "silver", "t",
      statsCols = Seq("id"))
    cat.overwrite(Seq((9L, "z")).toDF("id", "v"), "silver", "t",
      statsCols = Seq("id"))
    assert(cat.restore("silver", "t", version = 1) === 3)
    assert(cat.currentVersion("silver", "t") === Some(3))
    assert(cat.read("silver", "t").select("id").as[Long].collect().sorted
      === Seq(1L, 2L))
    // restored-away v2 still time-travels; stats sidecar rode the copy
    assert(cat.readVersion("silver", "t", 2).select("id").as[Long]
      .collect().toSeq === Seq(9L))
    val stats = cat.fileStats("silver", "t")
    assert(stats.isDefined)
    assert(stats.get.agg(min(col("min_id")), max(col("max_id")))
      .as[(Long, Long)].collect().head === ((1L, 2L)))
    // restoring a vacuumed version is the typed history error
    cat.vacuum("silver", "t", keepLast = 1)
    intercept[graft.catalog.VacuumedVersionException] {
      cat.restore("silver", "t", version = 1)
    }
  }

  test("UNIQUE KEY: surplus rows reject atomically; composite keys; clean batch lands") {
    import graft.catalog.ConstraintViolationException
    val cat = new TableCatalog(spark, tmpDir("cat-uk"), keepVersions = 10)
    cat.setUniqueKey("silver", "t", Seq("a", "b"))
    cat.overwriteChecked(Seq((1, "x", 10), (1, "y", 20), (2, "x", 30))
      .toDF("a", "b", "v"), "silver", "t")
    assert(cat.read("silver", "t").count() === 3) // distinct composites pass
    val e = intercept[ConstraintViolationException] {
      cat.overwriteChecked(
        Seq((1, "x", 1), (1, "x", 2), (1, "x", 3), (2, "y", 4))
          .toDF("a", "b", "v"), "silver", "t")
    }
    assert(e.violations === 2) // three (1,x) rows → two surplus
    assert(cat.currentVersion("silver", "t") === Some(1))
  }

  test("history: verbs label their commits; no-op DML records nothing") {
    val cat = new TableCatalog(spark, tmpDir("cat-hist"), keepVersions = 10)
    cat.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v"),
      "silver", "t")
    cat.merge(Seq((2L, "b", 9.0)).toDF("k", "s", "v"), "silver", "t",
      keys = Seq("k"))
    cat.deleteWhere("silver", "t", col("k") === 1L)
    cat.compact("silver", "t", numFiles = 1)
    cat.restore("silver", "t", version = 2)
    val h = cat.history("silver", "t")
      .select("version", "operation", "is_live")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2)))
    assert(h.toSeq === Seq((1, "WRITE", false), (2, "MERGE", false),
      (3, "DELETE", false), (4, "OPTIMIZE", false), (5, "RESTORE", true)))
    // commit instants are monotone non-decreasing
    val ts = cat.history("silver", "t").select("commit_ms")
      .collect().map(_.getLong(0))
    assert(ts.sorted.toSeq === ts.toSeq)
  }

  test("generated columns: computed when missing, validated when provided, null-safe") {
    import graft.catalog.ConstraintViolationException
    val cat = new TableCatalog(spark, tmpDir("cat-gen"), keepVersions = 10)
    cat.setGenerated("silver", "t", "doubled", "v * 2")
    // missing → computed
    cat.overwriteChecked(Seq((1, 10), (2, 20)).toDF("k", "v"), "silver", "t")
    assert(cat.read("silver", "t").select("doubled").as[Int]
      .collect().sorted.toSeq === Seq(20, 40))
    // provided-and-correct → accepted (incl. a NULL row: null <=> null)
    cat.overwriteChecked(
      Seq((1, Some(5), Some(10)), (2, None, None))
        .toDF("k", "v", "doubled"), "silver", "t")
    assert(cat.currentVersion("silver", "t") === Some(2))
    // provided-and-diverging → typed reject, nothing committed
    val e = intercept[ConstraintViolationException] {
      cat.overwriteChecked(Seq((1, 5, 11)).toDF("k", "v", "doubled"),
        "silver", "t")
    }
    assert(e.violations === 1)
    assert(cat.currentVersion("silver", "t") === Some(2))
  }

  test("CHECK constraints: violations reject atomically, NULL passes (SQL CHECK)") {
    import graft.catalog.ConstraintViolationException
    val cat = new TableCatalog(spark, tmpDir("cat-chk"), keepVersions = 10)
    cat.setCheck("silver", "t", "pos", "x > 0")
    cat.overwriteChecked(Seq(Some(1), Some(2), None).toDF("x"), "silver", "t")
    // NULL passes SQL CHECK: three rows committed
    assert(cat.read("silver", "t").count() === 3)
    val e = intercept[ConstraintViolationException] {
      cat.overwriteChecked(Seq(Some(5), Some(-1), Some(0)).toDF("x"),
        "silver", "t")
    }
    assert(e.violations === 2) // -1 and 0 both fail x > 0
    // nothing committed: same version, same content
    assert(cat.currentVersion("silver", "t") === Some(1))
    assert(cat.read("silver", "t").count() === 3)
    // two constraints compose (violate EITHER → reject)
    cat.setCheck("silver", "t", "cap", "x < 100")
    val e2 = intercept[ConstraintViolationException] {
      cat.overwriteChecked(Seq(Some(50), Some(500)).toDF("x"), "silver", "t")
    }
    assert(e2.violations === 1)
    cat.overwriteChecked(Seq(Some(50), Some(99)).toDF("x"), "silver", "t")
    assert(cat.currentVersion("silver", "t") === Some(2))
  }

  test("crash-orphaned tag swap temps (_TAG_*.__tmp<uuid>) are invisible: " +
      "not a constraint, not a generated column, not cloned") {
    import graft.catalog.ConstraintViolationException
    val root = tmpDir("cat-tagtmp")
    val cat = new TableCatalog(spark, root, keepVersions = 10)
    cat.setCheck("silver", "t", "pos", "x > 0")
    cat.overwriteChecked(Seq(1, 2).toDF("x"), "silver", "t")
    // plant orphans exactly as a crash between writeSwapFile's create and
    // rename would leave them: full temp name `_TAG_<key>.__tmp<uuid>`,
    // content partially written (here: garbage that would fail expr())
    val dir = java.nio.file.Paths.get(root, "silver", "t")
    val uuid = "deadbeefdeadbeefdeadbeefdeadbeef"
    java.nio.file.Files.write(dir.resolve(s"_TAG_check_x.__tmp$uuid"),
      "x >".getBytes)
    java.nio.file.Files.write(dir.resolve(s"_TAG_gen_y.__tmp$uuid"),
      "x *".getBytes)
    // enumerations see only the committed tag, never the orphans — a
    // checked write neither evaluates the garbage nor derives a column
    assert(cat.checks("silver", "t") === Map("pos" -> "x > 0"))
    assert(cat.generatedColumns("silver", "t") === Map.empty)
    cat.overwriteChecked(Seq(3, 4).toDF("x"), "silver", "t")
    assert(cat.read("silver", "t").columns.toSeq === Seq("x"))
    intercept[ConstraintViolationException] {
      cat.overwriteChecked(Seq(-1).toDF("x"), "silver", "t")
    }
    // clone carries the live tag, not the phantom
    cat.cloneTable("silver", "t", "silver", "t2")
    assert(cat.checks("silver", "t2") === Map("pos" -> "x > 0"))
    assert(cat.generatedColumns("silver", "t2") === Map.empty)
    val t2Names = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "silver", "t2"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var phantom = false
    while (t2Names.hasNext) {
      val n = t2Names.next().getFileName.toString
      if (n.startsWith("_TAG_") && (n.contains("gen_y") ||
          (n.contains("check_x") && n.contains(".__tmp")))) phantom = true
    }
    assert(!phantom, "clone must not copy orphaned tag temps")
  }

  test("version pins: vacuum skips a live-process pin, reclaims after unpin, " +
      "disregards and sweeps a dead owner's pin") {
    val root = tmpDir("cat-pin")
    val cat = new TableCatalog(spark, root, keepVersions = 16)
    (1 to 3).foreach(v => cat.overwrite(Seq(v).toDF("x"), "silver", "t"))
    val dir = java.nio.file.Paths.get(root, "silver", "t")
    // pin v1 on behalf of THIS (live) process — the on-disk lease format
    // is the contract RESTORE/CLONE write through pinVersion
    val pin = dir.resolve(
      f"_PIN_00001_${ProcessHandle.current().pid()}_spec")
    java.nio.file.Files.write(pin, "1".getBytes)
    // vacuum keeps the pinned v1, reclaims the unpinned v2
    assert(cat.vacuum("silver", "t", keepLast = 1) === Seq(2))
    assert(cat.versions("silver", "t") === Seq(1, 3))
    // a commit's retention sweep honors the pin too (keepVersions=1 cat
    // over the same root would be overkill; explicit vacuum re-check after
    // unpin is the observable contract)
    java.nio.file.Files.delete(pin)
    assert(cat.vacuum("silver", "t", keepLast = 1) === Seq(1))
    // dead-owner pin: PID 2^22 is above linux pid_max default; disregarded
    // AND swept
    cat.overwrite(Seq(4).toDF("x"), "silver", "t")
    val stale = dir.resolve("_PIN_00003_4194304_spec")
    java.nio.file.Files.write(stale, "1".getBytes)
    assert(cat.vacuum("silver", "t", keepLast = 1) === Seq(3))
    assert(!java.nio.file.Files.exists(stale), "dead pin must be swept")
    // 6+-digit versions: %05d WIDENS past 99,999 — the pin parser must
    // keep matching or such pins silently protect nothing
    java.nio.file.Files.createDirectories(dir.resolve("_v/100000"))
    val widePin = dir.resolve(
      f"_PIN_100000_${ProcessHandle.current().pid()}_spec")
    java.nio.file.Files.write(widePin, "1".getBytes)
    cat.overwrite(Seq(5).toDF("x"), "silver", "t")
    assert(!cat.vacuum("silver", "t", keepLast = 1).contains(100000),
      "a live pin on a 6-digit version was ignored")
    assert(cat.versions("silver", "t").contains(100000))
    java.nio.file.Files.delete(widePin)
  }

  test("restore races a concurrent vacuum storm: the pinned source is " +
      "never yanked mid-copy") {
    val cat = new TableCatalog(spark, tmpDir("cat-race"), keepVersions = 16)
    // v1 is wide (many files) so the restore copy takes long enough for
    // vacuums to land mid-copy without the pin
    cat.overwrite(spark.range(2000).toDF("x").repartition(64), "silver", "t")
    (2 to 3).foreach(v => cat.overwrite(Seq(v.toLong).toDF("x"), "silver", "t"))
    @volatile var stop = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val vac = new Thread(() =>
      try while (!stop) cat.vacuum("silver", "t", keepLast = 1)
      catch { case e: Throwable => errs.add(e) })
    vac.start()
    try {
      // repeated restores of the oldest RETAINED version while the storm
      // tries to reclaim everything but live: each must either succeed or
      // report the TYPED already-vacuumed error — never abort mid-copy
      // with a FileNotFound/IO error from a yanked source
      var restored = 0
      (1 to 5).foreach { _ =>
        val from = cat.versions("silver", "t").head
        try { cat.restore("silver", "t", from); restored += 1 }
        catch { case _: graft.catalog.VacuumedVersionException => () }
      }
      assert(restored >= 1, "no restore ever won the race — test inert")
      assert(cat.read("silver", "t").count() > 0)
    } finally { stop = true; vac.join(30000) }
    assert(errs.isEmpty, s"vacuum thread failed: ${errs.peek()}")
    // no pin leaks behind
    val tdir = new java.io.File(cat.path("silver", "t"))
    assert(!tdir.listFiles().exists(_.getName.startsWith("_PIN_")),
      "restore leaked a pin")
  }

  test("tag swap storm: a reader racing 500 writeTag replacements always " +
      "sees some complete value — no FNF, no torn read") {
    val cat = new TableCatalog(spark, tmpDir("cat-tagrace"), keepVersions = 4)
    cat.overwrite(Seq(1).toDF("x"), "silver", "t")
    cat.writeTag("silver", "t", "wm", "0")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val reader = new Thread(() =>
      try while (!stop) {
        // every read must parse as one of the written integers — a torn
        // or missing read throws / fails the parse
        val v = cat.readTag("silver", "t", "wm")
        assert(v.isDefined && v.get.toInt >= 0)
      } catch { case e: Throwable => errs.add(e) })
    reader.start()
    try (1 to 500).foreach(i => cat.writeTag("silver", "t", "wm", i.toString))
    finally { stop = true; reader.join(30000) }
    assert(errs.isEmpty, s"reader failed: ${errs.peek()}")
    assert(cat.readTag("silver", "t", "wm") === Some("500"))
  }

  test("no-op vacuum is lock-free: returns immediately even while a fresh " +
      "foreign _LOCK is held") {
    val cat = new TableCatalog(spark, tmpDir("cat-noop"), keepVersions = 16)
    cat.overwrite(Seq(1).toDF("x"), "silver", "t")
    // a fresh (non-stale) foreign lock: any acquisition would block the
    // full 30s timeout, so a fast return proves the lock was never taken
    val lock = java.nio.file.Paths.get(cat.path("silver", "t"), "_LOCK")
    java.nio.file.Files.write(lock, "1".getBytes)
    try {
      val t0 = System.nanoTime()
      assert(cat.vacuum("silver", "t", keepLast = 1) === Seq.empty)
      assert(System.nanoTime() - t0 < 10e9, "no-op vacuum waited on the lock")
    } finally java.nio.file.Files.deleteIfExists(lock)
  }

  test("clone races source commits + vacuum: pinned live snapshot survives " +
      "being aged out of retention mid-copy") {
    val cat = new TableCatalog(spark, tmpDir("cat-crace"), keepVersions = 2)
    cat.overwrite(spark.range(2000).toDF("x").repartition(64), "silver", "src")
    val expected = cat.read("silver", "src").count()
    @volatile var stop = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // committer thread: every commit's retention sweep (keepVersions=2)
    // tries to age the clone's pinned source version out
    val committer = new Thread(() =>
      try { var i = 0L
        while (!stop) { i += 1
          cat.overwrite(Seq(i).toDF("x"), "silver", "src") }
      } catch { case e: Throwable => errs.add(e) })
    committer.start()
    try cat.cloneTable("silver", "src", "gold", "dst")
    finally { stop = true; committer.join(30000) }
    assert(errs.isEmpty, s"committer failed: ${errs.peek()}")
    // the clone is a complete copy of SOME committed snapshot: either the
    // wide v1 (pin resolved before any commit landed) or a 1-row overwrite
    val n = cat.read("gold", "dst").count()
    assert(n === expected || n === 1L, s"clone copied a torn snapshot: $n rows")
    val sdir = new java.io.File(cat.path("silver", "src"))
    assert(!sdir.listFiles().exists(_.getName.startsWith("_PIN_")),
      "clone leaked a pin")
  }
}
