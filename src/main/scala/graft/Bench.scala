package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // No oracle is read in a bench run, so the materialized-signature
    // sidecar writes (simhash/LSH/IVF/PQ gate artifacts) are pure overhead
    // — disable them so the timed reps measure the algorithm alone.
    OracleSidecar.enabled = false
    // Engine-only replay sinks: timed stream replays commit their output
    // through the distributed parquet FileStreamSink instead of the memory
    // sink's per-micro-batch O(output) driver collect — the documented
    // harness artifact (BASELINE.md "memory-sink measurement artifact";
    // a 16 GiB collect aborted the sf10 stream-stream join at the default
    // 1g maxResultSize). Verify and the specs keep the memory-sink oracle
    // path: this flag is bench-only.
    graft.streaming.ReplaySink.engineOnly = true
    // Output-file split (two provenances that must never merge): a plain
    // run — which is what the DRIVER invokes — writes BENCH_DRIVER.json,
    // untracked; the repo's committed quiet-box baseline BENCH_LOCAL.json
    // is written only when the builder/judge explicitly asks for it via
    // SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL.json. A driver run therefore
    // leaves `git status` clean of the committed record.
    // conservative filename gate: the value lands verbatim in a filesystem
    // path (a separator would escape the repo root) and in the compact
    // JSON line's "full" field (a quote would emit malformed JSON)
    val outName = {
      val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_DRIVER.json")
      if (n.matches("[A-Za-z0-9._-]+")) n
      else {
        System.err.println(
          s"[bench] SPARK_GRAFT_BENCH_OUT '$n' rejected (must match " +
            "[A-Za-z0-9._-]+); writing BENCH_DRIVER.json")
        "BENCH_DRIVER.json"
      }
    }
    // RAM-backed scratch for replay staging/checkpoints/shuffle-local dirs
    // (see graft.streaming.Scratch) — must precede the session build
    graft.streaming.Scratch.install()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // fork-free local FS for checkpoint/state I/O (see NioLocalFileSystem)
      .config("spark.hadoop.fs.file.impl",
        "graft.streaming.NioLocalFileSystem")
      .config("spark.ui.enabled", "false")
      // data-scaled AQE exchange width (BatchScale.aqeWidthConfs scaladoc)
      .config(graft.plans.BatchScale.aqeWidthConfs(sfDir, cpus.toInt).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // STABLE query order (sorted by name): `queries` is a hash Map, so its
    // iteration order reshuffles whenever a key is added — which moved the
    // residual cold-start penalty onto different queries each round and
    // produced three rounds of false >2× regression alarms. Sorted order
    // makes run N comparable to run N-1 query-by-query.
    val inventory = SparkEntry.queries.toSeq.sortBy(_._1)
    // Every execution leaves its lazy localCheckpoint RDDs (dedup rare
    // index, cluster edges/labels, …) persisted with no owner; across 4
    // passes × 100+ queries they pile into the storage pool until eviction
    // pressure forces recompute of LIVE blocks mid-measurement — the r5
    // driver file's uniform ~3-5× inflation (e.g. dedup_ngram_capped 8.3s
    // driver vs 1.65s warm-isolated) is exactly that signature. Dropping
    // them between executions keeps the pool empty; the NEXT run of the
    // same query rebuilds its own checkpoints from scratch either way, so
    // timings measure the query, not the cache history.
    def dropStaleCaches(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // reclaim engine-only replay sink dirs (consumed by now: this slot
      // runs strictly after BenchAction.consume returned)
      graft.streaming.ReplaySink.sweep()
      // the complete/update-mode replays still use the memory sink (the
      // file sink cannot express upserts) — their temp views hold
      // collected aggregates and would accumulate across 190 queries ×
      // 4 passes; the in-memory view registry makes this a map sweep
      spark.sessionState.catalog.listLocalTempViews("graft_*")
        .foreach(n => spark.catalog.dropTempView(n.table))
    }
    // the one sanctioned consumer: noop write, structurally non-prunable
    // (count() let Catalyst drop whole computations — see BenchAction and
    // BASELINE.md "Bench-pruning artifact")
    def runOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Unit =
      try BenchAction.consume(fn(spark, dir))
      catch { case _: Throwable => () }
      finally dropStaleCaches()
    // Warm-up pass 1 (sf0.001): JIT/codegen/regex-compile/classloading land
    // here, cheaply. Falls back to the target dir if no sf0.001 sibling.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val warmDir = {
      val w = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
      if (w != sfDir && new java.io.File(w).isDirectory) w else sfDir
    }
    inventory.foreach { case (_, fn) => runOnce(fn, warmDir) }
    // Warm-up pass 2 (TARGET sf, untimed): the sf0.001 pass compiles the
    // code paths but not the target-scale plan family — first execution at
    // the target still pays parquet footer reads, AQE stats, and fresh
    // codegen for stat-dependent plans (measured 3-7× on whichever query
    // ran first). With this pass BOTH timed reps below are fully warm.
    //
    // KEPT after an r13 A/B (an earlier round explored
    // dropping it on the theory that min-of-2 already lands on the warm
    // rep): back-to-back full sweeps measured a 1.21 MEDIAN per-query
    // min inflation without it, with stream/catalog gates at 2-3×
    // (events_blocklist_stream 1.61→5.04s — one warm sample is not two,
    // and first-warm executions still carry staged-cache/checkpoint
    // second-order cold costs), while the wall saving was only ~10%
    // (12.7 vs 14.0 min locally). Negative result recorded in
    // BASELINE.md.
    inventory.foreach { case (_, fn) => runOnce(fn, sfDir) }
    // HOST-WINDOW CANARY (self-identifying degraded records): the box this
    // runs on has documented multi-hour degradation windows where an
    // IDENTICAL binary reads 157.9 vs 201.1s (BASELINE.md "Box-variance
    // window") — the protocol "never compare across windows" used to be
    // enforced only by a human reading that section. Now a fixed canary
    // pair brackets the sweep: one trigger-floor stream query (the family
    // every degradation window hits first) and one compute-bound kernel
    // query, each timed warm before AND after. A post/pre ratio well
    // above 1 means the window degraded DURING the sweep; a pre value far
    // off its committed quiet-box record means the whole record sits in a
    // bad window. Both land in the JSON so a reviewer never has to infer.
    val canaryNames = Seq("events_window_stream", "heavy_hitters_cms")
    // I/O-AXIS canary (r13): the two probes above are compute/trigger
    // bound and proved BLIND to filesystem-layer degradation — the r12
    // driver record stamped segment 0 "quiet" (0.909) while the catalog
    // family inside it ran 1.6-3.2× its quiet values, and q13 later hit
    // 21× against a 2.46-3.02 stamp. This probe exercises the OTHER axis:
    // a fixed tiny catalog write→read→vacuum cycle on the same medium the
    // catalog family uses (a per-PID root under java.io.tmpdir — tmpfs
    // after Scratch.install()), so its cost is many-small-files VFS work
    // plus one tiny Spark write job, not compute. Records now
    // self-classify BOTH axes: each segment stamp is a (cpu, io) ratio
    // pair, and per-family inflation is attributable to a flagged axis.
    val ioRoot = s"${System.getProperty("java.io.tmpdir")}/graft_ioprobe_" +
      s"${ProcessHandle.current().pid()}"
    def ioProbeOnce(): Double = {
      val t0 = System.nanoTime()
      try {
        val cat = new graft.catalog.TableCatalog(spark, ioRoot)
        val df = spark.range(0L, 5000L)
          .selectExpr("id", "id * 2654435761 % 997 AS v")
        cat.overwrite(df, "probe", "io_canary")
        BenchAction.consume(cat.read("probe", "io_canary"))
        // vacuum keeps the probe root bounded across ~20 segment probes
        // (each cycle adds one version; keepLast=1 reclaims the rest)
        cat.vacuum("probe", "io_canary", keepLast = 1)
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] io probe FAILED: $e"); -1.0
      }
    }
    def ioProbePass(): Double = {
      val ts = (1 to 2).map(_ => ioProbeOnce()).filter(_ >= 0)
      if (ts.isEmpty) -1.0 else ts.min
    }
    // a canary run that THROWS must not masquerade as a timing (the same
    // hazard the main timed loop guards): record -1, the self-identifying
    // sentinel, and let the ratio math propagate it
    def canaryPass(): Map[String, Double] = canaryNames.map { nm =>
      val fn = SparkEntry.queries(nm)
      val ts = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        val t = try {
          BenchAction.consume(fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] canary $nm FAILED: $e"); None
        }
        dropStaleCaches()
        t
      }
      nm -> (if (ts.isEmpty) -1.0 else ts.min)
    }.toMap
    val canaryPre = canaryPass()
    val ioPre = ioProbePass()
    // MID-SWEEP canary segments: the r11 driver record proved the pre/post
    // endpoint pair cannot LOCALIZE a degradation spike — its two graph
    // queries read 2.1-2.2× quiet while the endpoint smear said 1.23×. One
    // cheap fixed probe (the compute-bound canary, single shot) runs every
    // `segStride` queries of the timed loop; each probe's ratio vs the
    // min-of-2 pre value classifies ITS segment's host window, so every
    // per-query number inherits a window label. Single-shot vs min-of-2
    // jitter makes ~1.3 the quiet-window noise floor; sustained ≥1.5 marks
    // a degraded segment.
    val segStride = 25
    val segProbeName = "heavy_hitters_cms"
    // each segment stamp is now a (cpu, io) ratio PAIR — single-shot probe
    // time over the min-of-2 pre baseline, one per axis
    val segRatios =
      scala.collection.mutable.ListBuffer.empty[(Double, Double)]
    def segProbeInto(
        buf: scala.collection.mutable.ListBuffer[(Double, Double)]): Unit = {
      val fn = SparkEntry.queries(segProbeName)
      val t0 = System.nanoTime()
      val ok = try { BenchAction.consume(fn(spark, sfDir)); true }
        catch { case scala.util.control.NonFatal(_) => false }
      val sec = (System.nanoTime() - t0) / 1e9
      dropStaleCaches()
      val base = canaryPre.getOrElse(segProbeName, -1.0)
      val cpu = if (ok && base > 0) sec / base else -1.0
      val ioSec = ioProbeOnce()
      val io = if (ioSec >= 0 && ioPre > 0) ioSec / ioPre else -1.0
      buf += ((cpu, io))
    }
    def segProbeRun(): Unit = segProbeInto(segRatios)
    // min of two fully-warm timed runs: single-shot numbers on a shared box
    // swing 2-3× from GC/scheduler noise; the min is the reproducible
    // throughput figure. A failing query must NOT masquerade as a fast
    // success: it reports -1 and the error goes to stderr. The cache drop
    // runs AFTER the timer stops: it is bookkeeping between measurements,
    // not part of any query's cost.
    def timeQuery(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        val t = try { BenchAction.consume(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: $e"); None
        }
        dropStaleCaches()
        t
      }
      if (times.isEmpty) -1.0 else times.min
    }
    val firstPass = inventory.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx % segStride == 0) segProbeRun()
      name -> timeQuery(name, fn)
    }
    // close the FINAL segment: with this probe every query is bracketed by
    // a (cpu, io) stamp pair on both sides, so the retry pass below can
    // judge each query's window from its brackets instead of inferring the
    // tail from the endpoint canaries
    segProbeRun()
    // DEGRADED-WINDOW RETRY PASS (VERDICT r13 task 1): the canaries made
    // degraded records self-identifying, but the record still PUBLISHED
    // the smear — five catalog queries carried 107.9s of pure io-window
    // inflation in the r13 driver file and the 2× gate margin thinned to
    // 1.93× on environment alone. Any query whose bracketing segment
    // stamps exceed the threshold on EITHER axis is re-run (min-of-2)
    // after the sweep — a degradation window that has since passed then
    // yields the quiet number, and one that persists yields a second
    // smeared sample the min keeps honest. Both samples and the retry
    // pass's own probe stamps land in the JSON, so a reviewer sees
    // exactly what was re-measured and under what window.
    //
    // Per-AXIS thresholds, calibrated from the committed records: the io
    // probe discriminates cleanly (quiet r13 BENCH_LOCAL io stamps max
    // 1.262; the degraded r13 driver window read 1.36-1.94), so io
    // triggers at 1.35 — it brackets all five smeared catalog queries of
    // the r13 driver file. The cpu probe is a single shot of a ~0.7s
    // kernel and its quiet-window jitter reaches 1.59 (committed
    // BENCH_LOCAL segments), overlapping the degraded window's 1.39-1.85
    // — so cpu triggers at 1.7, above quiet jitter, still catching the
    // sustained-degradation stamps (r11 graph spike read 2.1-2.2×).
    val cpuThreshold = 1.7
    val ioThreshold = 1.35
    // a failed probe stamps (-1,-1): the window is UNKNOWN, which must
    // count as degraded (retry conservatively), not as quiet — otherwise
    // queries bracketed by a failed probe are silently exempt from the
    // retry pass
    def pairDegraded(p: (Double, Double)): Boolean =
      p._1 < 0 || p._2 < 0 || p._1 > cpuThreshold || p._2 > ioThreshold
    val flagged = firstPass.zipWithIndex.filter { case ((_, t), idx) =>
      t >= 0 && {
        val seg = idx / segStride
        pairDegraded(segRatios(seg)) ||
          (segRatios.size > seg + 1 && pairDegraded(segRatios(seg + 1)))
      }
    }.map(_._1)
    val retrySegRatios =
      scala.collection.mutable.ListBuffer.empty[(Double, Double)]
    val retried: Map[String, Double] = flagged.zipWithIndex.map {
      case ((name, _), ridx) =>
        if (ridx % segStride == 0) segProbeInto(retrySegRatios)
        name -> timeQuery(name, SparkEntry.queries(name))
    }.toMap
    val results = firstPass.map { case (name, first) =>
      name -> (retried.get(name) match {
        case Some(r) if r >= 0 => math.min(first, r)
        case _ => first
      })
    }
    val canaryPost = canaryPass()
    val ioPost = ioProbePass()
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // post/pre per canary: ~1.0 = stable window; >>1 = degraded mid-sweep
    val canaryJson = {
      val ents = canaryNames.map { nm =>
        val pre = canaryPre(nm); val post = canaryPost(nm)
        val ratio = if (pre > 0 && post > 0) post / pre else -1.0
        s""""$nm":{"pre":${r3(pre)},"post":${r3(post)},"ratio":${r3(ratio)}}"""
      } :+ {
        val ratio = if (ioPre > 0 && ioPost > 0) ioPost / ioPre else -1.0
        s""""io_probe":{"pre":${r3(ioPre)},"post":${r3(ioPost)},"ratio":${r3(ratio)}}"""
      }
      ents.mkString("{", ",", "}")
    }
    val canaryRatios = (canaryNames.map { nm =>
      if (canaryPre(nm) > 0 && canaryPost(nm) > 0) canaryPost(nm) / canaryPre(nm)
      else -1.0
    }) :+ (if (ioPre > 0 && ioPost > 0) ioPost / ioPre else -1.0)
    // per-segment window ratio PAIRS [cpu, io] (stride × position recovers
    // which queries each probe brackets; inventory is sorted, so position
    // is stable)
    def segPair(p: (Double, Double)): String = s"[${r3(p._1)},${r3(p._2)}]"
    val segJson = s""""seg_stride":$segStride,"seg_probe":"$segProbeName",""" +
      s""""seg_axes":["cpu","io"],""" +
      s""""segments":[${segRatios.map(segPair).mkString(",")}]"""
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum // failed queries excluded
    // retry-pass audit trail: per retried query BOTH samples (first-pass
    // and retry), plus the retry pass's own window stamps
    val retryJson = {
      val ents = flagged.map { case (name, first) =>
        s""""$name":{"first":${r3(first)},"retry":${r3(retried(name))}}"""
      }.mkString(",")
      s""""retry":{"cpu_threshold":$cpuThreshold,"io_threshold":$ioThreshold,"n":${flagged.size},""" +
        s""""segments":[${retrySegRatios.map(segPair).mkString(",")}],""" +
        s""""queries":{$ents}}"""
    }
    val fullJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"canary":$canaryJson,$segJson,$retryJson,"sf":"$sfDir"}"""
    // The driver captures only the LAST ~2000 chars of the run's output and
    // parses a JSON line out of them; the full per-query line is now ~3 KB,
    // so ANY placement of it gets its head cut (BENCH_r02..r04 all have
    // "parsed": null for exactly this reason). Two-line protocol instead:
    //   1. the FULL line goes out first (greppable in complete logs) and to
    //      BENCH_LOCAL.json, which the end-of-round commit snapshots;
    //   2. the LAST line is a COMPACT variant, hard-capped well under the
    //      capture window: same metric/value/unit/sf plus the slowest
    //      queries that fit the budget — the ones a perf reviewer needs.
    println(fullJson)
    // BENCH_LOCAL.json is written BEFORE the compact line is built so the
    // compact "full" pointer can tell the truth about whether it exists.
    val wroteFull =
      try {
        val cwd = java.nio.file.Paths.get("").toAbsolutePath
        val root =
          // exists, not isDirectory: in worktrees/submodules .git is a file
          if (java.nio.file.Files.exists(cwd.resolve(".git"))) cwd
          else {
            val repo = java.nio.file.Paths.get(
              sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"))
            if (java.nio.file.Files.exists(repo.resolve(".git"))) repo else cwd
          }
        java.nio.file.Files.write(root.resolve(outName),
          (fullJson + "\n").getBytes("UTF-8"))
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $outName write failed: $e")
          false
      }
    val compactJson = {
      val budget = 1250 // bytes for the queries map; window is ~2000 total
      // (trimmed 250 bytes for the "segments" array — now ~8 [cpu,io]
      // ratio PAIRS at sf0.1 — plus the third canary ratio)
      // FAILED queries (-1.0) pin to the FRONT of the fill: a failure is
      // the first thing a reviewer of a truncated log must see, and under
      // plain slowest-first ordering its -1 sorted LAST and was elided
      // first. Then slowest-first, the perf-review order.
      val bySlow = results.sortBy { case (_, v) =>
        if (v < 0) Double.NegativeInfinity else -v
      }
      val nFailed = results.count(_._2 < 0)
      val picked = scala.collection.mutable.ListBuffer.empty[String]
      var used = 2
      var elided = 0
      bySlow.foreach { case (k, v) =>
        val ent = "\"" + k + "\":" + r3(v)
        if (used + ent.length + 1 <= budget) { picked += ent; used += ent.length + 1 }
        else elided += 1
      }
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":{${picked.mkString(",")}},""" +
        s""""n_queries":${results.size},"failed":$nFailed,"elided":$elided,"retried":${flagged.size},""" +
        s""""canary":[${canaryRatios.map(r3).mkString(",")}],""" +
        s""""segments":[${segRatios.map(segPair).mkString(",")}],""" +
        s""""full":${if (wroteFull) "\"" + outName + "\"" else "null"},"sf":"$sfDir"}"""
    }
    // the compact line is the FINAL print; logs are silenced first so no
    // shutdown chatter can push it out of the driver's capture window (sbt
    // appends one ~70-char "[success]" line after the JVM exits, which the
    // 500-byte headroom absorbs)
    spark.sparkContext.setLogLevel("OFF")
    println(compactJson)
    System.out.flush()
    spark.stop()
  }
}
