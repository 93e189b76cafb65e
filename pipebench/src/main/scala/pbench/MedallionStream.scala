package pbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.catalog.TableCatalog
import graft.gold.GoldJob
import graft.serving.ServingQueries
import graft.sources.{FileSourceConfig, ValueStream}
import graft.streaming.SilverJob
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** medallion_stream: a closed loop of one client over the medallion path.
  *
  * Each round the client publishes one pre-rendered burst of Kafka-wire
  * JSON (a fire file; the warm-up round adds a weather file) by atomic
  * rename into the drop directories, then waits until the burst is
  * servable: the silver queries (fires, weather) parse, watermark and
  * deduplicate it and append each micro-batch through the catalog; each
  * fire commit drops a marker into the silver commit log, on which the gold
  * refresh query runs `GoldJob.runCycle`; a dashboard read (`catalog.read`
  * of gold, then the four `ServingQueries` collected) must list every fire
  * of the burst. A round's freshness runs from the publish to the end of
  * that read.
  *
  * A closed loop, not an open one at a fixed rate: one gold cycle takes
  * seconds on four cores, so an open loop yields only a few cycles in a run
  * short enough for the benchmark's time budget, and its freshness median
  * jumps with how the cycles happen to align. Rounds run the same blocking
  * path back to back without queueing between them.
  */
final class MedallionStream(spark: SparkSession, probe: Probe, inputs: Path, work: Path) {

  private val manifest: JsonNode =
    new ObjectMapper().readTree(inputs.resolve("manifest.json").toFile)
  private val rounds = manifest.get("rounds").elements().asScala.toSeq
  private val (warmRounds, windowRounds) = rounds.partition(_.get("warmup").asBoolean)
  private val drop = work.resolve("drop")
  private val ckpt = work.resolve("ckpt")
  private val commitLog = work.resolve("silver_commits")
  private val trigger = Trigger.ProcessingTime(100L)

  private val attempted = new AtomicLong()
  private val failed = new AtomicLong()
  private def op[T](body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch { case e: Throwable =>
      failed.incrementAndGet()
      System.err.println(s"[pbench] operation failed: $e")
      None
    }
  }

  // ---------------------------------------------------------------- setup

  /** Seed silver with the fixed history through the same parse the stream
    * uses, so the table's schema and the gold cost match the live path. */
  private def seed(root: Path): TableCatalog = {
    val cat = new TableCatalog(spark, root.toString)
    def load(dir: String, parse: DataFrame => DataFrame) =
      SilverJob.withEventTime(parse(spark.read.text(inputs.resolve(dir).toString)))
    cat.append(load("history/fires", SilverJob.fireSilver), "silver", "fire_events")
    cat.append(load("history/weather", SilverJob.weatherSilver), "silver", "weather_events")
    cat
  }

  private def silverQuery(cat: TableCatalog, topic: String, table: String,
      parse: DataFrame => DataFrame, keys: Seq[String]): StreamingQuery = {
    val raw = ValueStream.open(spark, FileSourceConfig(drop.resolve(topic).toString))
    val parsed = parse(raw).observe(s"ingest_$topic",
      count(lit(1)).as("rows_in"), count(col(keys.head)).as("rows_parsed"))
      .filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
    SilverJob.dedupWithinWatermark(SilverJob.withEventTime(parsed), keys)
      .writeStream.queryName(s"silver_$topic")
      .option("checkpointLocation", ckpt.resolve(topic).toString)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val before = dataFiles(cat, table)
        probe.timed("catalog", "append", "catalog.append_ms", s"silver_$topic-$id") {
          op(cat.append(batch, "silver", table))
        }
        if (topic == "fires" && rowCount(dataFiles(cat, table) -- before) > 0) {
          // one marker per batch that added rows, not per watermark-only
          // batch (whose append leaves an empty file): the gold refresh
          // runs once per commit, never on a half-renamed set of part files
          val tmp = commitLog.resolve(s".$id.tmp")
          Files.writeString(tmp, s"$id\n")
          Files.move(tmp, commitLog.resolve(s"$id.txt"), StandardCopyOption.ATOMIC_MOVE)
        }
        ()
      }
      .start()
  }

  private def dataFiles(cat: TableCatalog, table: String): Set[java.io.File] =
    Option(new java.io.File(cat.path("silver", table)).listFiles()).toSet.flatten
      .filter(_.getName.endsWith(".parquet"))

  /** Rows in parquet files, from their footers. */
  private def rowCount(files: Set[java.io.File]): Long = files.toSeq.map { f =>
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toURI), spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }.sum

  // ------------------------------------------------------ stream listener

  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val fireBatchStartsNs = new ConcurrentLinkedQueue[Long]()
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private def total(k: String) = totals.computeIfAbsent(k, _ => new AtomicLong())

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name == null || !p.name.startsWith("silver_")) return
      p.observedMetrics.asScala.foreach { case (k, row) =>
        total(s"$k.rows_in").addAndGet(row.getAs[Long]("rows_in"))
        total(s"$k.rows_parsed").addAndGet(row.getAs[Long]("rows_parsed"))
      }
      val dropped = p.stateOperators.map(s =>
        Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
      total(s"${p.name}.dedup_dropped").addAndGet(dropped)
      total("streaming.state_rows").set(p.stateOperators.map(_.numRowsTotal).sum)
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + offsetNs
      if (p.name == "silver_fires" && p.numInputRows > 0) fireBatchStartsNs.add(startNs)
      if (!probe.measuring) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val trig = d.getOrElse("triggerExecution", 0.0)
      val addBatch = d.getOrElse("addBatch", 0.0)
      probe.add("streaming.batches", 1)
      probe.record("streaming.trigger_ms", trig)
      probe.record("streaming.add_batch_ms", addBatch)
      probe.record("streaming.planning_ms", d.getOrElse("queryPlanning", 0.0))
      probe.record("streaming.wal_commit_ms",
        d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
      probe.record("streaming.driver_gap_ms", trig - addBatch)
      probe.record("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      probe.addSpan("streaming", "micro_batch", s"${p.name}-${p.batchId}",
        startNs, startNs + (trig * 1e6).toLong)
    }
  }

  // --------------------------------------------------------------- round

  private def fireKeys(r: JsonNode): Set[(Double, Double)] =
    r.get("fires").elements().asScala.map(a => (a.get(0).asDouble, a.get(1).asDouble)).toSet

  /** The dashboard read; returns the (lat, lon) of every fire it lists. */
  private def serve(cat: TableCatalog): Set[(Double, Double)] =
    probe.timed("serving", "dashboard_read", "serve_ms") {
      val gold = probe.timed("catalog", "read", "catalog.read_ms") {
        cat.read("gold", "fire_risk_alerts")
      }
      val uf = ServingQueries.uniqueFires(gold)
      val rows = probe.timed("serving", "unique_fires", "serving.unique_fires_ms")(uf.collect())
      probe.timed("serving", "kpis", "serving.kpis_ms")(ServingQueries.kpis(uf).collect())
      probe.timed("serving", "distribution", "serving.distribution_ms")(
        ServingQueries.riskDistribution(gold).collect())
      probe.timed("serving", "top_wind", "serving.top_wind_ms")(ServingQueries.topWind(uf).collect())
      if (probe.measuring) probe.record("serving.rows_scanned", rows.length.toDouble)
      rows.iterator.map(r => (r.getAs[Double]("fire_lat"), r.getAs[Double]("fire_lon"))).toSet
    }

  /** Publish one burst and wait until every fire in it is servable;
    * returns the freshness in ms, or None when the round failed. */
  private def round(r: JsonNode, cat: TableCatalog, silver: Seq[StreamingQuery],
      gold: StreamingQuery): Option[Double] = {
    val t0 = System.nanoTime()
    probe.timed("sources", "publish") {
      r.get("files").elements().asScala.foreach { f =>
        val (topic, name) = (f.get(0).asText, f.get(1).asText)
        Files.move(inputs.resolve("staged").resolve(topic).resolve(name),
          drop.resolve(topic).resolve(name), StandardCopyOption.ATOMIC_MOVE)
      }
    }
    val published = System.nanoTime()
    silver.foreach(_.processAllAvailable())
    gold.processAllAvailable()
    val visible = op(serve(cat))
    val done = System.nanoTime()
    if (probe.measuring) fireBatchStartsNs.asScala.find(_ >= published)
      .foreach(s => probe.record("sources.lag_ms", (s - published) / 1e6))
    visible.flatMap { v =>
      val missing = fireKeys(r).count(k => !v.contains(k))
      if (missing == 0) Some((done - t0) / 1e6)
      else {
        System.err.println(s"[pbench] $missing fires of a round were not servable")
        failed.incrementAndGet()
        None
      }
    }
  }

  // ----------------------------------------------------------------- run

  def run(sessionReadyS: Double): Result = {
    Files.createDirectories(drop.resolve("fires"))
    Files.createDirectories(drop.resolve("weather"))
    Files.createDirectories(commitLog)
    val seedS = (1 to 3).map { k =>
      val t = System.nanoTime()
      seed(work.resolve(s"seed$k"))
      (System.nanoTime() - t) / 1e9
    }
    val cat = new TableCatalog(spark, work.resolve("seed3").toString)
    val tWarm = System.nanoTime()
    spark.streams.addListener(listener)
    val silver = Seq(
      silverQuery(cat, "fires", "fire_events", SilverJob.fireSilver, Seq("lat", "lon", "timestamp")),
      silverQuery(cat, "weather", "weather_events", SilverJob.weatherSilver,
        Seq("location_id", "timestamp")))
    val gold = SilverJob.startGoldRefresh(spark.readStream.text(commitLog.toString),
      ckpt.resolve("gold").toString, trigger,
      (_: DataFrame) => probe.timed("gold", "run_cycle", "gold.cycle_ms") {
        op(GoldJob.runCycle(cat))
        ()
      })
    warmRounds.foreach(r =>
      if (round(r, cat, silver, gold).isEmpty) sys.error("a warm-up round failed"))
    val setupS = sessionReadyS + Probe.median(seedS) + (System.nanoTime() - tWarm) / 1e9

    // ---- measured window: the manifest's window rounds, back to back. Their
    // number is fixed by the renderer, so the counts repeat for a seed
    // however fast the machine is.
    probe.clear()
    attempted.set(0)
    failed.set(0)
    val heap = new HeapSampler
    val fresh = scala.collection.mutable.ArrayBuffer[Double]()
    var fires = 0
    val cpu0 = Result.processCpuMs()
    val t0 = System.nanoTime()
    probe.measuring = true
    heap.start()
    windowRounds.foreach { r =>
      round(r, cat, silver, gold).foreach { ms =>
        fresh += ms
        fires += r.get("fires").size
      }
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpuMs = Result.processCpuMs() - cpu0
    probe.measuring = false
    heap.stop()
    (silver :+ gold).foreach(_.stop())
    val queryErrors = (silver :+ gold).count(_.exception.isDefined)
    probe.drain()

    val serve = probe.values("serve_ms")
    val cycles = probe.values("gold.cycle_ms")
    val perCycle = (k: String) => probe.count(k).toDouble / math.max(1, cycles.size)
    val p50 = (k: String) => Probe.median(probe.values(k))
    val inputBytes = manifest.get("input_bytes").asDouble +
      rounds.map(_.get("bytes").asDouble).sum

    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Probe.median(fresh.toSeq),
      "cpu_ms_per_op" -> cpuMs / windowRounds.size)
    val layers = Map(
      "sources.lag_ms" -> p50("sources.lag_ms"),
      "ingest.rows_in" -> total("ingest_fires.rows_in").get.toDouble,
      "ingest.rows_parsed" -> total("ingest_fires.rows_parsed").get.toDouble,
      "ingest.malformed_ratio" -> (1.0 - total("ingest_fires.rows_parsed").get.toDouble /
        math.max(1L, total("ingest_fires.rows_in").get)),
      "streaming.rounds" -> fresh.size.toDouble,
      "streaming.fires_per_s" -> fires / windowS,
      "streaming.batches" -> probe.count("streaming.batches").toDouble,
      "streaming.trigger_p50_ms" -> p50("streaming.trigger_ms"),
      "streaming.add_batch_p50_ms" -> p50("streaming.add_batch_ms"),
      "streaming.planning_p50_ms" -> p50("streaming.planning_ms"),
      "streaming.wal_commit_p50_ms" -> p50("streaming.wal_commit_ms"),
      "streaming.driver_gap_p50_ms" -> p50("streaming.driver_gap_ms"),
      "streaming.state_commit_p50_ms" -> p50("streaming.state_commit_ms"),
      "streaming.state_rows" -> total("streaming.state_rows").get.toDouble,
      "streaming.dedup_dropped" -> total("silver_fires.dedup_dropped").get.toDouble,
      "catalog.append_p50_ms" -> p50("catalog.append_ms"),
      "catalog.read_p50_ms" -> p50("catalog.read_ms"),
      "catalog.files_written" -> probe.count("catalog.files_written").toDouble,
      "catalog.bytes_written" -> probe.count("catalog.bytes_written").toDouble,
      "catalog.bytes_written_per_input_byte" -> probe.count("catalog.bytes_written") / inputBytes,
      "catalog.live_versions" -> Seq("fire_risk_alerts", "fire_risk_alert_cells")
        .map(t => cat.versions("gold", t).size).sum.toDouble,
      "catalog.bytes_live" -> Result.du(work.resolve("seed3")).toDouble,
      "gold.cycles" -> cycles.size.toDouble,
      "gold.cycle_p50_ms" -> Probe.median(cycles),
      "gold.cycle_p90_ms" -> Probe.quantile(cycles, 0.9),
      "gold.pairs_out" -> cat.read("gold", "fire_risk_alerts").count().toDouble,
      "gold.culled_cells" -> cat.read("gold", "fire_risk_alert_cells")
        .filter(col("is_dense") === 1).count().toDouble,
      "gold.jobs_per_cycle" -> perCycle("gold.jobs"),
      "gold.task_ms_per_cycle" -> perCycle("gold.task_ms"),
      "gold.shuffle_bytes_per_cycle" -> perCycle("gold.shuffle_write_bytes"),
      "gold.spill_bytes" -> probe.count("gold.spill_bytes").toDouble,
      "serving.reads" -> serve.size.toDouble,
      "serving.serve_p50_ms" -> Probe.median(serve),
      "serving.serve_p90_ms" -> Probe.quantile(serve, 0.9),
      "serving.unique_fires_ms" -> p50("serving.unique_fires_ms"),
      "serving.kpis_ms" -> p50("serving.kpis_ms"),
      "serving.distribution_ms" -> p50("serving.distribution_ms"),
      "serving.top_wind_ms" -> p50("serving.top_wind_ms"),
      "serving.rows_scanned" -> p50("serving.rows_scanned"),
      "spark.executor_cpu_ms" -> probe.count("spark.executor_cpu_ns") / 1e6,
      "jvm.peak_heap_mb" -> heap.peakMb)
    val check = Map[String, Any](
      "silver_fires" -> cat.path("silver", "fire_events"),
      "silver_weather" -> cat.path("silver", "weather_events"),
      "gold_alerts" -> cat.livePath("gold", "fire_risk_alerts"),
      "gold_cells" -> cat.livePath("gold", "fire_risk_alert_cells"),
      "cap" -> GoldJob.defaultMaxPairsPerCell,
      "fires_rows_in" -> total("ingest_fires.rows_in").get,
      "fires_rows_parsed" -> total("ingest_fires.rows_parsed").get,
      "fires_dedup_dropped" -> total("silver_fires.dedup_dropped").get,
      "query_errors" -> queryErrors)
    Result(e2e, layers, attempted.get, failed.get + queryErrors, check, probe.selfTimeMs, windowS)
  }
}

/** Peak JVM heap in use, sampled every 10 ms while running. */
final class HeapSampler {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile private var on = true
  @volatile private var peak = 0L
  private val t = new Thread(() => {
    while (on) { peak = math.max(peak, mem.getHeapMemoryUsage.getUsed); Thread.sleep(10) }
  }, "pbench-heap")
  t.setDaemon(true)
  def start(): Unit = t.start()
  def stop(): Unit = { on = false; t.join() }
  def peakMb: Double = peak / 1048576.0
}
