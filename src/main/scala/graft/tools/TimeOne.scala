package graft.tools

import org.apache.spark.sql.SparkSession

/** Time one named inventory query: `runMain graft.tools.TimeOne <name>
  * [sfDir] [reps]` — the per-query microscope the full Bench doesn't give.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    graft.streaming.Scratch.install()
    // fixed session width; larger corpora widen exchanges through
    // BatchScale.aqeWidthConfs below
    val shuffle = 32
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.driver.maxResultSize", "1g")
      .config("spark.hadoop.fs.file.impl",
        "graft.streaming.NioLocalFileSystem")
      .config("spark.ui.enabled", "false")
      // data-scaled AQE exchange width (BatchScale.aqeWidthConfs scaladoc)
      .config(graft.plans.BatchScale.aqeWidthConfs(sfDir, shuffle).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // timing microscope, not a verify run: skip oracle-sidecar writes
    graft.OracleSidecar.enabled = false
    // engine-only replay sinks, as in Bench: the memory sink's O(output)
    // driver collect is a harness artifact, and without it the default 1g
    // maxResultSize holds at every SF
    graft.streaming.ReplaySink.engineOnly = true
    // comma-separated names time each in sequence (shared warm JVM)
    for (nm <- name.split(",")) {
      val fn = graft.SparkEntry.queries(nm)
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        // same non-prunable consumer as Bench (count() can be optimized
        // into dropping the computation under test — BenchAction scaladoc)
        graft.BenchAction.consume(fn(spark, sfDir))
        println(f"[timeone] $nm rep$r ${(System.nanoTime() - t0) / 1e9}%.3f s")
        // post-consume bookkeeping, MIRRORING Bench.dropStaleCaches: drop
        // persisted blocks (lazy checkpoints AND persist()-barriers — the
        // gold_alerts sort barrier caches its pre-sort pairs, and without
        // this sweep rep 2+ would read the cache and report a fake ~0.6 s)
        // so every rep recomputes from the parquet inputs, exactly like
        // the bench's timed reps
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        graft.streaming.ReplaySink.sweep()
      }
    }
    spark.stop()
  }
}
