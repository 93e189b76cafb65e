package graft.queries

import java.sql.Timestamp

import graft.{NamedQuery, Tables}
import graft.streaming.{FileReplay, ReplaySink, Scratch, Sessionize, SilverJob}
import graft.streaming.ReplaySink.DatasetReplayOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-gate evidence for the STREAMING engine (SURVEY.md §2.7): each
  * query replays the batch corpus through a real Structured Streaming
  * topology — file streaming source, micro-batch boundaries, watermarks,
  * state timeouts, checkpointed `foreachBatch` sinks — and the FINAL table
  * must hash-match the SAME DuckDB oracle as its batch twin. That makes the
  * streaming semantics (exactly-once, event-time state, CDC precedence)
  * driver-checked, not just ScalaTest-pinned: dropped late events, a
  * session glued across a silence, an unflushed state interval, or a
  * double-applied micro-batch all turn the oracle hash red.
  *
  * The corpus never passes through the driver: each intended micro-batch
  * is a DataFrame staged by `FileReplay` — executors write it as parquet
  * into the watched directory, and `processAllAvailable()` consumes it as
  * one micro-batch (only sentinel rows — single driver-authored literals
  * that advance the watermark — are built locally). In production the same
  * topologies read Kafka (reference: fire_risk_processor.py:49-57); the
  * harness swaps only WHO writes the watched files.
  */
object StreamQueries {

  /** Corpus-scaled replay partition count (r13 — see StreamScale's
    * scaladoc for the measured per-partition-per-trigger state floor).
    * `cap` is the family's previously FIXED count, i.e. the basis every
    * sf10 record was measured at, so at sf10 the plan is unchanged;
    * smaller corpora shed floor-only partitions (sf0.1 → 1). The count
    * probe is memoized per (sfDir, table) across all 22 gates and reps.
    */
  private def replayParts(s: org.apache.spark.sql.SparkSession, d: String,
      cap: Int, table: String = "events"): Int =
    graft.streaming.StreamScale.parts(
      Tables.rowCount(s, d, table), rowsPerPart = 250000L, cap = cap)

  /** No-data micro-batch toggle, shared by every replay that provably
    * gains nothing from the automatic 0-row pass (r15, guide §2.2 "do
    * fewer shuffles"/fewer batches): with `noDataMicroBatches` on (the
    * default), every `processAllAvailable()` that advanced the watermark
    * appends a 0-row batch that pays the full per-partition state-store
    * commit floor (~60-130 ms per store — BASELINE.md "Stream replay
    * floor"). Eviction/timeout processing compares against the CURRENT
    * watermark, which is a function of data-batch max event times alone —
    * a no-data batch never changes it — so any emission the no-data pass
    * would produce is produced identically by the next DATA batch. Gates
    * whose final flush used to ride the automatic pass now stage one more
    * 1-row sentinel batch instead (one data batch replaces two-or-more
    * no-data batches). Set BEFORE the query starts (confs are picked up at
    * start), restore in the gate's `finally`.
    */
  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private def noDataOff(s: org.apache.spark.sql.SparkSession): Option[String] = {
    val prev = s.conf.getOption(noDataKey)
    s.conf.set(noDataKey, "false")
    prev
  }
  private def restoreConf(s: org.apache.spark.sql.SparkSession, key: String,
      prev: Option[String]): Unit = prev match {
    case Some(p) => s.conf.set(key, p)
    case None    => s.conf.unset(key)
  }

  /** Memoized event-time bounds per sfDir (r13): the corpora are
    * immutable, and the same min/max probe feeds 4-5 gates × warm-up
    * passes × two timed reps — each previously re-ran its own ~0.3 s
    * aggregation per execution. The cached value is BY CONSTRUCTION the
    * value each gate computed before (same expression over the same
    * table), so sentinel construction and midpoint batch splits — the
    * batch-boundary contract — stay bit-identical.
    */
  private val tsProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  // exact event-time deciles per sfDir (events_dedup_window_stream's chunk
  // boundaries) — same immutable-corpus memoization contract as above
  private val tsDecileCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  private def eventsTsBounds(s: org.apache.spark.sql.SparkSession,
      d: String, clickBuyOnly: Boolean = false): (Long, Long) =
    tsProbeCache.computeIfAbsent(s"$d#cb=$clickBuyOnly", _ => {
      val base = Tables.events(s, d)
      val src = if (clickBuyOnly)
        base.filter(col("event_type").isin("click", "purchase")) else base
      val mm = src.agg(min(col("ts")), max(col("ts"))).head()
      (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    })

  /** Streaming sessionization driven to the BATCH oracle: the whole events
    * corpus replays through `Sessionize.sessions` (flatMapGroupsWithState,
    * event-time timeout, 30-min gap) with noDataMicroBatches OFF, then TWO
    * sentinel batches on a throwaway key finish the job — the first pushes
    * the watermark past every real interval's close, the second runs the
    * timeout pass AT that watermark, flushing ALL state exactly as the
    * automatic no-data batch used to — the streaming analogue of "end
    * of input". Sessions are renumbered 1..n per user by start time, which
    * is exactly the batch query's cumulative new-session ordinal (sessions
    * are disjoint and gap-separated, so start order IS session order).
    * Boundary parity with the batch twin: an event exactly `gap` after the
    * previous one extends the session in BOTH formulations (batch: strictly
    *-greater comparison starts a new one; stream: inclusive `<= lastTs +
    * gap` absorbs it).
    */
  private val sessionizeStream = NamedQuery(
    "events_sessionize_stream",
    (s, d) => {
      import s.implicits._
      implicit val ss = s
      val gapMs = 1800000L // 30 min, matching the batch twin's 1800000000 µs
      val corpus = Tables.events(s, d)
        .select(col("user_id").cast("string").as("key"), col("ts"),
          col("value"))
      val maxTs = eventsTsBounds(s, d)._2
      val feed = FileReplay(s, corpus.schema)
      // The replay's cost is dominated by per-partition-per-micro-batch
      // state-store machinery (init + commit + snapshot), a FIXED floor of
      // partitions × 3 batches stores regardless of data volume. 8
      // partitions keep the replay's few hundred thousand rows fully
      // parallel while cutting that floor 4× vs the session's 32. The
      // result is partition-count independent (the whole inventory is
      // green at 7 shuffle partitions in the suite); production topologies
      // size this to cluster cores, the replay sizes it to the corpus.
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      // no-data micro-batches OFF (see noDataKey scaladoc): the timeout
      // flush that used to ride the automatic pass now rides sentinel 2 —
      // 3 data batches replace 2 data + 2 no-data ones
      val prevNoData = noDataOff(s)
      val q = Sessionize.sessions(feed.stream.as[Sessionize.Event], gapMs)
        .replayAppendSink(s)
      try {
        // batch 1: the real corpus (initial watermark 0 admits everything)
        feed.stageCached(corpus, s"$d#events#key_ts_value")
        q.processAllAvailable()
        // batch 2: sentinel advances the watermark past every real close
        // (wm becomes maxTs + 2·gap > any lastTs + gap) …
        feed.stage(Seq(Sessionize.Event("__flush__",
          new Timestamp(maxTs + 3 * gapMs), 0.0)).toDS().toDF())
        q.processAllAvailable()
        // … batch 3: a second sentinel (its own gap-separated session,
        // same filtered key) runs the timeout pass AT that watermark —
        // the same pass the automatic no-data batch performed, same
        // watermark value, so the flushed session set is identical
        feed.stage(Seq(Sessionize.Event("__flush__",
          new Timestamp(maxTs + 6 * gapMs), 0.0)).toDS().toDF())
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        // restore BEFORE the batch renumber below plans: only the
        // streaming replay itself runs narrow
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      val w = Window.partitionBy(col("key")).orderBy(col("start"))
      q.result()
        .filter(col("key") =!= "__flush__")
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("key").cast("bigint").as("user_id"), col("session_id"),
          col("n_events"),
          expr("unix_millis(start)").as("start_ms"),
          expr("unix_millis(end)").as("end_ms"))
        .orderBy(col("user_id"), col("session_id"))
    },
    // the batch twin's oracle, verbatim — identical result contract
    Some("""WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                              lag(epoch_us(ts)) OVER
                                (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                       FROM events),
            f AS (SELECT user_id, event_id, ts,
                         CASE WHEN prev IS NULL OR us - prev > 1800000000
                              THEN 1 ELSE 0 END AS new_sess
                  FROM o),
            s AS (SELECT user_id, ts,
                         CAST(sum(new_sess) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                  FROM f)
            SELECT user_id, session_id, count(*) AS n_events,
                   epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms
            FROM s GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Narrow event row for the windowed-aggregation replay. */
  final case class Evt(ts: Timestamp, event_type: String, value: Double)

  /** Watermarked event-time windowed aggregation (ST5) driven to the BATCH
    * oracle: the events corpus replays through `withWatermark` + a tumbling
    * 1-hour `window()` aggregation in APPEND mode — so a window's row is
    * emitted exactly once, only after the watermark passes its close — and
    * the collected emissions must hash-match `q22_time_bucket`'s DuckDB
    * oracle. Tumbling windows are epoch-aligned, so `window.start` equals
    * the batch twin's `date_trunc('hour', ts)` bucket. A sentinel batch
    * on a throwaway event type closes every real window: watermarks update
    * at micro-batch END, and the engine's automatic no-data batch then
    * runs the eviction pass at the advanced watermark. A window emitted early (watermark bug), late
    * (never evicted), or twice (append violation) all turn the hash red.
    */
  private val windowStream = NamedQuery(
    "events_window_stream",
    (s, d) => {
      import s.implicits._
      val corpus = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val maxTs = eventsTsBounds(s, d)._2
      val hourMs = 3600000L
      val feed = FileReplay(s, corpus.schema)
      // same fixed-floor trim as the sessionize replay: state-store cost is
      // per partition × per micro-batch; results are partition-independent
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      // no-data micro-batches OFF (noDataKey scaladoc): the final eviction
      // + emit rides sentinel 2 instead of the automatic pass — 3 data
      // batches replace 2 data + 2 no-data ones
      val prevNoData = noDataOff(s)
      val q = feed.stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .replayAppendSink(s)
      try {
        feed.stageCached(corpus, s"$d#events#ttv")
        q.processAllAvailable()
        // sentinel 1: event time jumps 3 h past the last real event, so the
        // watermark computed at this batch's end clears every real window …
        feed.stage(Seq(Evt(new Timestamp(maxTs + 3 * hourMs), "__flush__",
          0.0)).toDS().toDF())
        q.processAllAvailable()
        // … sentinel 2: its batch runs the eviction + emit pass AT that
        // watermark — the identical pass (same watermark value) the
        // automatic no-data batch used to perform
        feed.stage(Seq(Evt(new Timestamp(maxTs + 4 * hourMs), "__flush__",
          0.0)).toDS().toDF())
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      q.result()
        .filter(col("event_type") =!= "__flush__")
        .select(expr("unix_millis(w.start)").as("bucket_ms"), col("event_type"),
          col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy(col("bucket_ms"), col("event_type"))
    },
    // the batch twin's (q22_time_bucket) oracle, verbatim
    Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
                   count(*) AS n, round(sum(value),2) AS sum_value
            FROM events GROUP BY 1,2 ORDER BY 1,2"""))

  /** COMPLETE output mode — the third emission contract (append is gated
    * by every windowed replay above; complete re-emits the WHOLE result
    * table each trigger): an unwatermarked windowed aggregation replays
    * the corpus in two micro-batches (split by event_id parity — a
    * deterministic executor-side predicate), and the memory sink after the
    * last trigger must hold exactly the batch aggregate — no sentinels, no
    * watermark, because complete mode never evicts (state = all windows
    * ever seen, which is precisely why production uses it only for
    * bounded-cardinality aggregates like these ~720 hour×type rows). A
    * batch-1 row missing from the final emission (stale snapshot), a
    * window double-counted across triggers, or append-style partial
    * emission all break the hash against the tumbling twin's oracle.
    */
  private val completeModeStream = NamedQuery(
    "events_complete_mode_stream",
    (s, d) => {
      val ev = Tables.events(s, d)
      def half(parity: Int) = ev.filter(col("event_id") % 2 === parity)
        .select(col("ts"), col("event_type"), col("value"))
      val feed = FileReplay(s, half(0).schema)
      val sink = "graft_complete_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      val q = feed.stream
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        feed.stageCached(half(0), s"$d#events#ttv#even")
        q.processAllAvailable()
        feed.stageCached(half(1), s"$d#events#ttv#odd")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      s.table(sink)
        .select(expr("unix_millis(w.start)").as("bucket_ms"), col("event_type"),
          col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy(col("bucket_ms"), col("event_type"))
    },
    // the tumbling batch oracle, verbatim — complete mode's final snapshot
    // must equal the batch aggregate over everything ever fed
    Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
                   count(*) AS n, round(sum(value),2) AS sum_value
            FROM events GROUP BY 1,2 ORDER BY 1,2"""))

  /** UPDATE output mode — the third and last emission contract (append:
    * each window exactly once, after close; complete: the whole table
    * every trigger; update: CHANGED KEYS ONLY, every trigger they change):
    * a watermarked tumbling aggregate replays the corpus in two batches
    * split at the time midpoint (batch 2 strictly later, so nothing is
    * late-dropped), and a checkpointed `foreachBatch` sink appends each
    * trigger's emitted delta rows stamped with their batch id. Two facts
    * are then driver-oracled at once:
    *
    *  - FINAL STATE: the newest emission per (window, event_type) must
    *    equal the batch aggregate — update-mode emissions carry the
    *    cumulative state, so a window straddling the split is emitted in
    *    batch 1 with partial counts and RE-emitted in batch 2 with full
    *    ones, and taking the last emission recovers the aggregate;
    *  - EMISSION MULTIPLICITY: the number of emissions per key must be
    *    exactly the number of batches that touched it — the oracle
    *    recomputes that relationally as `count(DISTINCT ts <= split)`, so
    *    a key emitted while unchanged (complete-mode bleed), emitted only
    *    once despite spanning the split (append-mode bleed), or emitted
    *    twice in one trigger all break the hash. This is the column that
    *    makes "update emits changed keys per trigger" a checked contract,
    *    not a doc sentence.
    */
  private val updateModeStream = NamedQuery(
    "events_update_mode_stream",
    (s, d) => {
      val corpus = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val (lo, hi) = eventsTsBounds(s, d)
      val splitTs = lo + (hi - lo) / 2
      val feed = FileReplay(s, corpus.schema)
      val outDir = Scratch.freshRoot("upd")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      // no-data micro-batches OFF (noDataKey scaladoc): update mode emits
      // changed keys in the data batch that changes them and emits NOTHING
      // on eviction, so the automatic passes contribute no rows (an empty
      // foreachBatch append) while paying the full per-batch floor — 2
      // data batches replace 2 data + 2 no-data ones. n_emits is untouched:
      // only data batches carry changed keys.
      val prevNoData = noDataOff(s)
      val q = feed.stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$outDir/_checkpoint")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(s"$outDir/emit")
        }.start()
      try {
        feed.stageCached(corpus.filter(unix_millis(col("ts")) <= splitTs),
          s"$d#events#ttv#le_mid")
        q.processAllAvailable()
        feed.stageCached(corpus.filter(unix_millis(col("ts")) > splitTs),
          s"$d#events#ttv#gt_mid")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      val byKey = Window.partitionBy(col("w.start"), col("event_type"))
      s.read.parquet(s"$outDir/emit")
        .withColumn("rn", row_number().over(byKey.orderBy(col("batch_id").desc)))
        .withColumn("n_emits", count(lit(1)).over(byKey))
        .filter(col("rn") === 1)
        .select(expr("unix_millis(w.start)").as("bucket_ms"), col("event_type"),
          col("n"), round(col("sv"), 2).as("sum_value"), col("n_emits"))
        .orderBy(col("bucket_ms"), col("event_type"))
    },
    // the tumbling batch aggregate + the relational restatement of "one
    // emission per batch that touched the key" (integer // division
    // mirrors the Scala Long midpoint exactly)
    Some("""WITH sp AS (SELECT epoch_ms(min(ts)) +
                               (epoch_ms(max(ts)) - epoch_ms(min(ts))) // 2
                               AS split FROM events),
            e AS (SELECT date_trunc('hour', ts) AS b, event_type, value,
                         epoch_ms(ts) <= (SELECT split FROM sp) AS h1
                  FROM events)
            SELECT epoch_ms(b) AS bucket_ms, event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value,
                   count(DISTINCT h1) AS n_emits
            FROM e GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** WATERMARK LATE-DATA DISCIPLINE, driver-oracled — the drop/admit rule
    * itself, which every other windowed gate avoids triggering: batch 1
    * withholds two slices of the corpus (relative to the corpus max `hi`:
    * the stale slice [hi−3h, hi−1h) and the fresh slice [hi−30m, hi)),
    * so after batch 1 the watermark stands at hi−10m and batch 2 delivers
    * both slices LATE. Spark's rule drops a late row iff its window can
    * no longer be in state (window end ≤ watermark): every stale-slice
    * row's window closed ≥ 50 minutes before the watermark — dropped —
    * while fresh-slice rows land in the still-open tail windows —
    * admitted and aggregated. The oracle restates exactly that rule
    * relationally (held rows survive iff `date_trunc(hour) + 1h >
    * max(ts) − 10min`), so an engine that admits stale rows, drops
    * admissible ones, or applies the cutoff to event time instead of
    * window end breaks the hash. This is the gate that makes "late data
    * beyond the watermark is dropped" a checked contract instead of a
    * doc sentence.
    */
  private val lateDropStream = NamedQuery(
    "events_late_drop_stream",
    (s, d) => {
      import s.implicits._
      val corpus = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val hi = eventsTsBounds(s, d)._2
      val hourMs = 3600000L
      // the held-slice predicate as a COLUMN, so the batch split runs on
      // executors (same slices as ever: [hi−3h, hi−1h) stale, [hi−30m, hi)
      // fresh)
      val tsMs = unix_millis(col("ts"))
      val held = (tsMs >= hi - 3 * hourMs && tsMs < hi - hourMs) ||
        (tsMs >= hi - 1800000L && tsMs < hi)
      val feed = FileReplay(s, corpus.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      // no-data micro-batches OFF (noDataKey scaladoc). Spark keeps TWO
      // watermarks per batch (SPARK-39931 split): the LATE-EVENTS filter of
      // batch N uses the previous batch's watermark (event-time stats
      // through batch N−2), while EVICTION uses the current one (stats
      // through N−1). The held slice must be judged against hi − 10min,
      // so one batch must stand between the corpus (whose max is hi) and
      // the held slice — previously the automatic no-data pass, now the
      // flush sentinel, MOVED BETWEEN THEM. Batch roles: 0 = unheld corpus
      // (stats → hi − 10m), 1 = sentinel at hi + 3h (its late-filter wm is
      // 0 — admitted; its eviction wm hi − 10m emits every already-closed
      // window), 2 = held slice (late-filter wm = stats through batch 0 =
      // hi − 10m, the EXACT admission rule the oracle states; eviction wm =
      // stats through batch 1 = hi + 3h − 10m, past every real close, so
      // the tail + admitted fresh rows all flush here). 3 data batches
      // replace 3 data + 3 no-data ones, admission decisions identical.
      val prevNoData = noDataOff(s)
      val q = feed.stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .replayAppendSink(s)
      try {
        // batch 0: the unheld corpus, containing the corpus max hi
        feed.stageCached(corpus.filter(!held), s"$d#events#ttv#unheld")
        q.processAllAvailable()
        // batch 1: the flush sentinel — stands between corpus and held
        // slice so the held rows' late filter sees hi − 10m (see above)
        feed.stage(Seq(Evt(new Timestamp(hi + 3 * hourMs), "__flush__",
          0.0)).toDS().toDF())
        q.processAllAvailable()
        // batch 2: the held slices, judged row-by-row against hi − 10m
        feed.stageCached(corpus.filter(held), s"$d#events#ttv#held")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      q.result()
        .filter(col("event_type") =!= "__flush__")
        .select(expr("unix_millis(w.start)").as("bucket_ms"), col("event_type"),
          col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy(col("bucket_ms"), col("event_type"))
    },
    Some("""WITH mx AS (SELECT max(ts) AS hi FROM events),
            lbl AS (SELECT e.ts, e.event_type, e.value,
                           ((e.ts >= mx.hi - INTERVAL 3 HOUR AND
                             e.ts < mx.hi - INTERVAL 1 HOUR) OR
                            (e.ts >= mx.hi - INTERVAL 30 MINUTE AND
                             e.ts < mx.hi)) AS held,
                           mx.hi AS hi
                    FROM events e, mx),
            keep AS (SELECT * FROM lbl
                     WHERE NOT held
                        OR date_trunc('hour', ts) + INTERVAL 1 HOUR
                             > hi - INTERVAL 10 MINUTE)
            SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM keep GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Keyed event row for the streaming-dedup replay. */
  final case class DupEvt(event_id: Long, ts: Timestamp, event_type: String,
      value: Double)

  /** Streaming deduplication (ST5 — the README-claimed "Deduplication" the
    * reference never implemented) driven to the BATCH oracle: micro-batch 1
    * replays the events corpus, micro-batch 2 replays every key AGAIN with
    * poisoned payloads (value·3+7) that `dropDuplicatesWithinWatermark`
    * must drop on key state alone — the watermark delay (60 d) exceeds the
    * corpus span (30 d), so nothing is evicted or late-dropped and every
    * duplicate is a genuine state hit, not a late-arrival discard. The
    * final table aggregates to exactly the batch oracle over the ONCE-seen
    * corpus: a single surviving duplicate poisons the sum, a dropped
    * original breaks the count.
    */
  private val dedupStream = NamedQuery(
    "events_dedup_stream",
    (s, d) => {
      val corpus = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val poisoned = corpus.withColumn("value", col("value") * 3 + 7)
      // memoized corpus count (same value as corpus.count(): `corpus` is a
      // projection of events) — the un-memoized count re-ran one job per
      // execution across warm-ups and timed reps
      val nRows = Tables.rowCount(s, d, "events")
      val feed = FileReplay(s, corpus.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      // Partition count scales with the corpus instead of the fixed 8 of
      // the other replays: dedup state is one entry PER KEY (nothing
      // expires inside the replay, by design), so at 10× corpus the
      // per-partition store does 10× the inserts — the fixed-floor trim
      // that is right for the window/session replays starves this one at
      // sf1 (8 of 32 cores). 250k keys per partition keeps the sf0.01/
      // sf0.1 floors identical (still 8) and opens to 32 at sf1.
      val nParts = math.max(8L, math.min(32L, nRows / 250000L)).toInt
      s.conf.set("spark.sql.shuffle.partitions", nParts.toString)
      // RocksDB state store: dedup state is one entry PER DISTINCT KEY with
      // no eviction until the watermark passes (60 d delay > corpus span, by
      // design), so state volume grows linearly in corpus size — the
      // HDFS-backed default holds all of it as JVM-heap objects per
      // partition and its per-batch maintenance (snapshot + GC pressure)
      // was the replay's 7.7× sf1 slope. RocksDB keeps the key set
      // off-heap/on-disk with incremental compaction — the provider Spark
      // itself ships for exactly this large-keyed-state shape. Changelog
      // checkpointing uploads per-batch DELTAS instead of a full SST
      // snapshot per commit — with a keep-everything key space the
      // snapshot is the whole store, so without it each micro-batch
      // re-uploads all previously-seen keys. Confs are picked up at query
      // START, so set-and-restore brackets the replay the same way the
      // shuffle-partition trim does.
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val changelogKey =
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevProvider = s.conf.getOption(providerKey)
      val prevChangelog = s.conf.getOption(changelogKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set(changelogKey, "true")
      // no-data micro-batches OFF (set/restore, this query only): the
      // watermark delay out-spans the corpus BY DESIGN, so the no-data
      // eviction passes are trivially inert here — dedup emission happens
      // in the data batches; see events_dedup_window_stream for the
      // general argument. Pure per-batch-floor trim, results unchanged.
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNoData = s.conf.getOption(noDataKey)
      s.conf.set(noDataKey, "false")
      val q = feed.stream
        .withWatermark("ts", "1440 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .replayAppendSink(s)
      try {
        feed.stageCached(corpus, s"$d#events#ietv")
        q.processAllAvailable()
        feed.stageCached(poisoned, s"$d#events#ietv#poisoned")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        prevProvider match {
          case Some(p) => s.conf.set(providerKey, p)
          case None    => s.conf.unset(providerKey)
        }
        prevChangelog match {
          case Some(p) => s.conf.set(changelogKey, p)
          case None    => s.conf.unset(changelogKey)
        }
        prevNoData match {
          case Some(p) => s.conf.set(noDataKey, p)
          case None    => s.conf.unset(noDataKey)
        }
      }
      q.result()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    // the once-seen corpus, aggregated — duplicates must contribute nothing
    Some("""SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** PRODUCTION-DEFAULT streaming dedup (VERDICT r14 task 4): the
    * keep-everything gate above quantifies its own wall — with a delay
    * that out-spans the corpus, nothing ever leaves the store and RocksDB
    * commit p50 grows 46×/decade (BASELINE.md r14 state table). The
    * production contract is a watermark-CAPPED window: the delay is the
    * true duplicate-arrival window (24 h here, against a ~30 d corpus
    * span), so state holds only keys young enough to still receive a
    * duplicate and the store size is arrival-window-bounded, not
    * corpus-bounded.
    *
    * The replay makes EVICTION itself oracle-visible, not just dedup:
    *   batches 1..5 — the corpus in STRICT time-quintile chunks (each
    *     ~6 days against the 24 h delay), so the watermark advances
    *     INSIDE the replay and eviction interleaves with ingestion —
    *     the production shape. A single corpus-sized batch would hold
    *     every key in state at once and hide the bound this gate exists
    *     to demonstrate; five chunks keep four eviction-interleaved
    *     boundaries while halving the replay's dominant cost, the
    *     per-batch floor (r15: deciles ran this gate at 15.6 s — the
    *     most expensive query in the bench — for no extra evidence).
    *     Strict time partitioning means no chunk ever
    *     carries a row older than the previous chunk's watermark
    *     (chunk k+1 rows have ts ≥ boundary > max(chunk k) − 24 h), so
    *     nothing is late-dropped and the oracle stays batch-count-free;
    *   batch 2 — one flush row at ts = hi (advances nothing; its batch
    *     boundary lets the eviction sweep run with the batch-1 watermark
    *     under either eviction-watermark policy, the same trick as the
    *     update-mode gate's __flush__);
    *   batch 3 — poisoned duplicates (value·3+7) for every key clearly
    *     outside a ±1 h band around the eviction boundary, RE-STAMPED at
    *     ts = hi so none is late-dropped: a key first seen at
    *     ts < hi − 49 h has expiry ts + 24 h < watermark (hi − 24 h) and
    *     MUST have been evicted — its duplicate re-admits and poisons the
    *     sum; a key with ts ≥ hi − 47 h is still in state and its
    *     duplicate MUST vanish. The margin band keeps the oracle off the
    *     strict-vs-non-strict eviction comparison.
    * A store that never evicts turns every poisoned row into a drop
    * (missing rows vs the oracle); one that over-evicts admits young
    * duplicates (extra rows); both break the hash.
    */
  private val dedupWindowStream = NamedQuery(
    "events_dedup_window_stream",
    (s, d) => {
      val corpus = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val hourMs = 3600L * 1000
      val (_, hi) = eventsTsBounds(s, d)
      val hiTs = new Timestamp(hi)
      val dups = corpus
        .filter(col("ts") < lit(new Timestamp(hi - 49 * hourMs)) ||
          col("ts") >= lit(new Timestamp(hi - 47 * hourMs)))
        .withColumn("ts", lit(hiTs))
        .withColumn("value", col("value") * 3 + 7)
      val nRows = Tables.rowCount(s, d, "events")
      val feed = FileReplay(s, corpus.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      // Corpus-scaled width with the STANDARD StreamScale floor of 1, not
      // the keep-everything gate's floor of 8: this replay runs TWELVE
      // micro-batches (10 decile chunks + flush + dups) against that
      // gate's three, and the per-batch cost at replay scale is
      // per-partition state-store COMMITS, not data (BASELINE.md r13
      // "Stream replay floor": ~60-130 ms per store commit) — a floor of
      // 8 made this the single most expensive query in the whole bench
      // (15.6 s at sf0.1, r15 baseline) on pure commit floor. Insert
      // throughput still scales: 250k corpus rows per partition opens the
      // width to 32 by sf10, the same top as the keep-everything gate.
      // Results are partition-count-invariant (suite-enforced); this gate
      // is new in r15 and has no prior recorded basis to preserve.
      val nParts = math.max(1L, math.min(32L, nRows / 250000L)).toInt
      s.conf.set("spark.sql.shuffle.partitions", nParts.toString)
      // RocksDB + changelog: the same production posture as the
      // keep-everything gate, so the two gates' StateMetrics read as an
      // A/B of the eviction contract alone
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val changelogKey =
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevProvider = s.conf.getOption(providerKey)
      val prevChangelog = s.conf.getOption(changelogKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set(changelogKey, "true")
      // No-data micro-batches OFF for the dedup replays (set/restore, this
      // query only): dedup emits every admitted row in the data batch that
      // carries it, and state eviction at the next DATA batch compares
      // against the identical watermark the no-data pass would have used
      // (the watermark is a function of data-batch max event times alone) —
      // so the no-data passes contribute nothing to the result while
      // paying the full per-batch floor. This replay ran 22 batches for 12
      // staged ones; the window/session gates KEEP the default (their
      // append-mode final flush happens in the no-data pass). Oracle-
      // verified unchanged at sf0.01/sf0.1.
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNoData = s.conf.getOption(noDataKey)
      s.conf.set(noDataKey, "false")
      val q = feed.stream
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .replayAppendSink(s)
      try {
        // exact ts quintiles (relativeError 0): strict, deterministic time
        // partition of the corpus into the replay chunks described above.
        // Memoized per sfDir like eventsTsBounds — the corpus is immutable
        // and the same probe re-ran per execution (2 warm-ups + 2 timed
        // reps per bench), so the cached cuts are BY CONSTRUCTION the
        // values each run computed; batch boundaries are bit-identical.
        val cuts = tsDecileCache.computeIfAbsent(d, _ =>
          corpus.selectExpr("unix_millis(ts) AS tm")
            .stat.approxQuantile("tm", (1 to 4).map(_ / 5.0).toArray, 0.0))
        val chunkBounds = (Long.MinValue +: cuts.map(_.toLong)) :+
          Long.MaxValue
        chunkBounds.sliding(2).zipWithIndex.foreach { case (b, i) =>
          feed.stageCached(
            corpus.filter(unix_millis(col("ts")) >= lit(b(0)) &&
              unix_millis(col("ts")) < lit(b(1))),
            s"$d#events#ietv#q5c$i")
          q.processAllAvailable()
        }
        feed.stage(s.createDataset(Seq(DupEvt(-1L, hiTs, "__flush__", 0.0)))(
          org.apache.spark.sql.Encoders.product[DupEvt]).toDF())
        q.processAllAvailable()
        feed.stageCached(dups, s"$d#events#wdup#poisoned")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        prevProvider match {
          case Some(p) => s.conf.set(providerKey, p)
          case None    => s.conf.unset(providerKey)
        }
        prevChangelog match {
          case Some(p) => s.conf.set(changelogKey, p)
          case None    => s.conf.unset(changelogKey)
        }
        prevNoData match {
          case Some(p) => s.conf.set(noDataKey, p)
          case None    => s.conf.unset(noDataKey)
        }
      }
      q.result()
        .filter(col("event_type") =!= "__flush__")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    // corpus once + the re-admitted duplicates of definitely-evicted keys
    Some("""WITH mx AS (SELECT max(ts) AS hi FROM events),
            dup AS (SELECT e.event_type, e.value * 3 + 7 AS value
                    FROM events e, mx
                    WHERE e.ts < mx.hi - INTERVAL 49 HOUR),
            allrows AS (SELECT event_type, value FROM events
                        UNION ALL SELECT event_type, value FROM dup)
            SELECT event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM allrows GROUP BY 1 ORDER BY 1"""))

  /** Streaming CDC merge driven to the BATCH oracle: micro-batch 1 seeds
    * the catalog with the base snapshot (rev 1), micro-batch 2 upserts the
    * correction batch (rev 2, price doubled) through
    * `SilverJob.startMergeSink` — checkpointed foreachBatch, precedence
    * merge — and the committed table must aggregate to exactly what the
    * `catalog_merge_upsert` oracle computes relationally. A replayed or
    * dropped micro-batch, a stale row surviving the upsert, or a
    * double-applied correction all break the hash. Fresh catalog root +
    * checkpoint per invocation: a leftover rev-2 table would invert the
    * precedence of the rev-1 seed.
    */
  private val mergeStream = NamedQuery(
    "catalog_merge_stream",
    (s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val base = orders.filter(col("o_orderkey") % 10 < 8)
        .withColumn("rev", lit(1L))
      val correction = orders.filter(col("o_orderkey") % 10 >= 5)
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
        .withColumn("rev", lit(2L))
      val root = Scratch.freshRoot("mstream")
      val cat = new graft.catalog.TableCatalog(s, root)
      val feed = FileReplay(s, base.schema)
      // two RUNS over one checkpoint, not two triggers of one run: the
      // sink's Trigger.AvailableNow drains what exists at start and stops,
      // so the correction batch arrives through a restart — which is the
      // stronger claim anyway (offset log + idempotent merge recover
      // exactly-once across process boundaries, ST2+ST6). With the file
      // source the offset log records FILES, so the restart recovery is
      // the real cross-process thing, not a MemoryStream approximation.
      feed.stageCached(base, s"$d#orders#rev1_base")
      // same fixed-floor trim as the sessionize replay: the per-batch merge
      // over tens of thousands of rows gains nothing from 32-way shuffles,
      // and the checkpoint/offset-log machinery is per-partition. Restored
      // before the final aggregate plans.
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8, table = "orders").toString)
      try {
        SilverJob.startMergeSink(feed.stream, cat,
          "silver", "orders_stream", keys = Seq("o_orderkey"),
          orderCol = "rev", checkpoint = s"$root/_checkpoint")
          .awaitTermination()
        feed.stageCached(correction, s"$d#orders#rev2_corr")
        SilverJob.startMergeSink(feed.stream, cat,
          "silver", "orders_stream", keys = Seq("o_orderkey"),
          orderCol = "rev", checkpoint = s"$root/_checkpoint")
          .awaitTermination()
      } finally {
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      cat.read("silver", "orders_stream")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("o_orderstatus"))
    },
    // the batch twin's oracle, verbatim — identical result contract
    Some("""WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
            batch AS (SELECT * REPLACE (o_totalprice * 2.0 AS o_totalprice)
                      FROM orders WHERE o_orderkey % 10 >= 5),
            merged AS (
              SELECT * FROM batch
              UNION ALL
              SELECT * FROM base
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch))
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM merged GROUP BY 1 ORDER BY 1"""))

  /** The whole CDC pipeline — streaming merge → per-batch change feed →
    * incremental gold — driven to the BATCH oracle: two checkpointed runs
    * replay the base snapshot (rev 1) and the correction batch (rev 2,
    * price doubled) through `SilverJob.startIncrementalGoldSink`; batch 1
    * seeds gold from the full aggregate, batch 2 must advance it by the
    * change-feed delta ALONE, and the committed gold table must equal what
    * the `catalog_merge_upsert` oracle computes by full relational
    * recompute. A sign slip in the delta, a missed update image, or a
    * double-applied batch all break the hash — end-to-end, through real
    * micro-batch boundaries and a process-restart-shaped checkpoint
    * recovery.
    */
  private val incrementalGoldStream = NamedQuery(
    "catalog_incremental_gold_stream",
    (s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val base = orders.filter(col("o_orderkey") % 10 < 8)
        .withColumn("rev", lit(1L))
      val correction = orders.filter(col("o_orderkey") % 10 >= 5)
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
        .withColumn("rev", lit(2L))
      val root = Scratch.freshRoot("ivmstream")
      val cat = new graft.catalog.TableCatalog(s, root)
      val feed = FileReplay(s, base.schema)
      def run(): Unit = SilverJob.startIncrementalGoldSink(
        feed.stream, cat, "silver", "orders_ivm",
        keys = Seq("o_orderkey"), orderCol = "rev",
        goldLayer = "gold", goldTable = "orders_agg",
        groupCols = Seq("o_orderstatus"), valueCol = "o_totalprice",
        checkpoint = s"$root/_checkpoint").awaitTermination()
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8, table = "orders").toString)
      try {
        feed.stageCached(base, s"$d#orders#rev1_base"); run()
        feed.stageCached(correction, s"$d#orders#rev2_corr"); run()
      } finally {
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      cat.read("gold", "orders_agg")
        .select(col("o_orderstatus"), col("n").as("n_orders"),
                round(col("total"), 2).as("total_price"))
        .orderBy(col("o_orderstatus"))
    },
    // the catalog_merge_upsert oracle, verbatim — the incremental path
    // must equal the relational full recompute
    Some("""WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
            batch AS (SELECT * REPLACE (o_totalprice * 2.0 AS o_totalprice)
                      FROM orders WHERE o_orderkey % 10 >= 5),
            merged AS (
              SELECT * FROM batch
              UNION ALL
              SELECT * FROM base
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch))
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM merged GROUP BY 1 ORDER BY 1"""))

  /** Click-side row for the stream-stream join replay. */
  final case class Click(click_id: Long, c_ts: Timestamp, c_user: Long)
  /** Purchase-side row for the stream-stream join replay. */
  final case class Buy(buy_id: Long, b_ts: Timestamp, b_user: Long)

  /** Watermarked stream-STREAM interval join (ST5 extended — the one
    * streaming surface the inventory lacked): clicks and purchases replay
    * as TWO independent file-source streams joined on user + a 6-hour bound
    * (`b_ts ∈ (c_ts, c_ts + 6h]`), the attribution-window shape. Both
    * sides are watermarked, so Spark derives per-side state retention from
    * the join condition and EVICTS click state older than watermark − 6h —
    * at 100 TB/day this is what makes the join runnable at all: state is
    * bounded by the time window, not the stream length.
    *
    * The replay feeds each side in TWO micro-batches split at the corpus
    * midpoint by event time (batch 2 strictly later, so nothing is late):
    * a click in batch 1 whose purchase arrives in batch 2 can only pair if
    * its state survived the inter-batch watermark advance. The retention
    * math makes that lossless — after batch 1 the watermark is
    * splitTs − 1h, eviction cuts at watermark − 6h, and a batch-2 purchase
    * (ts > splitTs) can only match clicks within its trailing 6h window,
    * all of which sit above the cut. Premature eviction (missing pairs),
    * spurious retention re-emission, or a boundary slip on either end of
    * the interval all turn the oracle hash red.
    */
  private val streamStreamJoin = NamedQuery(
    "events_stream_stream_join",
    (s, d) => {
      import s.implicits._
      implicit val sq = s.sqlContext
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("ts").as("b_ts"),
          col("user_id").as("b_user"))
      val (lo, hi) = eventsTsBounds(s, d, clickBuyOnly = true)
      val splitTs = lo + (hi - lo) / 2
      val feedC = FileReplay(s, clicks.schema)
      val feedB = FileReplay(s, buys.schema)
      // tighter fixed-floor trim than the single-store replays: a
      // symmetric hash join keeps FOUR state-store instances per partition
      // (keyToNumValues + keyWithIndexToValue, each side), so per-batch
      // store machinery is 4× a window/dedup replay's at equal partition
      // count. 4 partitions × 4 stores matches the sessionize replay's
      // floor; results are partition-independent (the suite re-runs green
      // at 7), and production sizes this to cluster cores.
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 4).toString)
      // No-data micro-batches OFF for the INNER join replay (set/restore,
      // this query only): an inner stream-stream join emits matches in the
      // data batch that completes them and emits NOTHING on state
      // eviction, and eviction deferred to the next data batch compares
      // against the identical watermark (a function of data-batch max
      // event times alone) — so the automatic no-data pass after each
      // processAllAvailable pays the full 4-stores-per-partition batch
      // floor for zero output. The OUTER variants keep the default: their
      // null-extended rows are emitted exactly on that eviction pass.
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNoData = s.conf.getOption(noDataKey)
      s.conf.set(noDataKey, "false")
      val q = feedC.stream.withWatermark("c_ts", "1 hour")
        .join(feedB.stream.withWatermark("b_ts", "1 hour"),
          expr("c_user = b_user AND b_ts > c_ts AND " +
               "b_ts <= c_ts + interval 6 hours"))
        .replayAppendSink(s)
      try {
        // pair-atomic staging (FileReplay.prepare scaladoc, r16): build
        // both sides first, publish both back-to-back — otherwise the
        // zero-interval trigger consumes side C alone while side B's
        // write job runs, splitting each intended pair into two
        // micro-batches and paying the 4-stores-per-partition commit
        // floor twice per pair (StateMetrics measured it)
        val c1 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) <= splitTs),
          s"$d#events#clicks#le_mid")
        val b1 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) <= splitTs),
          s"$d#events#buys#le_mid")
        feedC.publishCached(c1); feedB.publishCached(b1)
        q.processAllAvailable()
        val c2 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) > splitTs),
          s"$d#events#clicks#gt_mid")
        val b2 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) > splitTs),
          s"$d#events#buys#gt_mid")
        feedC.publishCached(c2); feedB.publishCached(b2)
        q.processAllAvailable()
      } finally {
        q.stop()
        feedC.close(); feedB.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        prevNoData match {
          case Some(p) => s.conf.set(noDataKey, p)
          case None    => s.conf.unset(noDataKey)
        }
      }
      q.result()
        .select(col("c_user").as("user_id"), col("click_id"), col("buy_id"),
          (expr("unix_millis(b_ts)") - expr("unix_millis(c_ts)")).as("lag_ms"))
        .orderBy(col("user_id"), col("click_id"), col("buy_id"))
    },
    Some("""SELECT a.user_id, a.event_id AS click_id, b.event_id AS buy_id,
                   epoch_ms(b.ts) - epoch_ms(a.ts) AS lag_ms
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'click' AND b.event_type = 'purchase'
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
            ORDER BY 1, 2, 3"""))

  /** Gap sessionization via Spark's BUILT-IN `session_window` aggregation —
    * the same pipeline shape as `events_sessionize_stream` through the
    * ENGINE's native session state instead of the custom
    * flatMapGroupsWithState sessionizer, so the inventory pins both rungs
    * of the custom-operator preference ladder (compose built-ins before
    * writing state code). NOT driven to the same oracle as the custom twin,
    * deliberately: the two definitions differ at one boundary —
    * `session_window` merges two events iff their gap is STRICTLY under
    * `gapDuration` (windows [t, t+g) and [t+g, …) don't overlap), while the
    * batch/FMGWS twin extends inclusively (`<= lastTs + gap`) — so this
    * query carries its own oracle with `>= gap` starting a new session. On
    * a corpus with an exact-gap-spaced event pair the two queries MUST
    * disagree by one session; both hashes passing is evidence each path
    * implements its own contract, not one copied result.
    *
    * Same replay mechanics as the window/dedup replays: append mode emits
    * a session only after the watermark passes its close, a sentinel batch +
    * the automatic no-data batch flush the tail. 100 TB posture: state is per OPEN session
    * (bounded by gap × event rate), merged by the engine's native
    * SessionWindowStateStore — the path that benefits from every upstream
    * Spark optimization without a line of state code here.
    */
  private val sessionWindowStream = NamedQuery(
    "events_session_window_stream",
    (s, d) => {
      import s.implicits._
      val gapMs = 1800000L
      val corpus = Tables.events(s, d)
        .select(col("user_id").cast("string").as("key"), col("ts"),
          col("value"))
      val maxTs = eventsTsBounds(s, d)._2
      val feed = FileReplay(s, corpus.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      // no-data micro-batches OFF (noDataKey scaladoc): the final session
      // flush rides sentinel 2 — 3 data batches replace 2 data + 2 no-data
      // ones. The two sentinels are 3·gap apart (their own disjoint
      // sessions, both filtered); sentinel 2's batch evicts at the
      // sentinel-1 watermark (maxTs + 3·gap − 10min), past every real
      // session's close (≤ maxTs + gap).
      val prevNoData = noDataOff(s)
      val q = feed.stream
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("key"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("start"), max(col("ts")).as("end"))
        .replayAppendSink(s)
      try {
        feed.stageCached(corpus, s"$d#events#key_ts_value")
        q.processAllAvailable()
        feed.stage(Seq(Sessionize.Event("__flush__",
          new Timestamp(maxTs + 3 * gapMs), 0.0)).toDS().toDF())
        q.processAllAvailable()
        feed.stage(Seq(Sessionize.Event("__flush__",
          new Timestamp(maxTs + 6 * gapMs), 0.0)).toDS().toDF())
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      val w = Window.partitionBy(col("key")).orderBy(col("start"))
      q.result()
        .filter(col("key") =!= "__flush__")
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("key").cast("bigint").as("user_id"), col("session_id"),
          col("n_events"),
          expr("unix_millis(start)").as("start_ms"),
          expr("unix_millis(end)").as("end_ms"))
        .orderBy(col("user_id"), col("session_id"))
    },
    // the EXCLUSIVE-boundary session definition (>= gap starts anew),
    // session_window's native semantics
    Some("""WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                              lag(epoch_us(ts)) OVER
                                (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                       FROM events),
            f AS (SELECT user_id, event_id, ts,
                         CASE WHEN prev IS NULL OR us - prev >= 1800000000
                              THEN 1 ELSE 0 END AS new_sess
                  FROM o),
            s AS (SELECT user_id, ts,
                         CAST(sum(new_sess) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                  FROM f)
            SELECT user_id, session_id, count(*) AS n_events,
                   epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms
            FROM s GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Watermarked stream-stream LEFT OUTER interval join — the unmatched-
    * click path of the attribution pattern above, and the subtlest emission
    * semantics in Structured Streaming: a null-extended row may appear ONLY
    * when the watermark has closed the click's whole match interval
    * (wm > c_ts + 6h — any earlier and a purchase could still arrive; the
    * spec pins that no null row precedes watermark close), and Spark emits
    * it on the state-eviction pass of a LATER micro-batch. The replay
    * therefore ends with a sentinel batch on an unmatchable user: the
    * first advances BOTH sides' watermarks past every real interval's
    * close, the second runs the eviction pass at that watermark, flushing
    * every still-unmatched click as a null row — the streaming analogue of
    * "end of input" for outer state. The final table must hash-match the
    * batch LEFT JOIN oracle: a premature null (emitted while the match
    * could still arrive), a lost unmatched click (evicted without
    * emission), or a double emission (match + null for the same click) all
    * turn the hash red. Nulls are coalesced to −1 on both sides so the
    * join columns stay BIGINT under the driver's type-sensitive hash.
    *
    * Same 100 TB posture as the inner variant: state is bounded by the 6h
    * interval + 1h delay, never by stream length; the outer path adds no
    * state — only an emission on eviction, which was already happening.
    */
  private val streamStreamOuter = NamedQuery(
    "events_stream_stream_outer",
    (s, d) => {
      import s.implicits._
      implicit val sq = s.sqlContext
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("ts").as("b_ts"),
          col("user_id").as("b_user"))
      val (lo, hi) = eventsTsBounds(s, d, clickBuyOnly = true)
      val splitTs = lo + (hi - lo) / 2
      val feedC = FileReplay(s, clicks.schema)
      val feedB = FileReplay(s, buys.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 4).toString)
      // no-data micro-batches OFF (noDataKey scaladoc) — the heaviest
      // per-batch floor in the whole inventory (4 state stores per
      // partition), and every automatic pass here paid it: 4 data batches
      // replace 3 data + 3 no-data ones. The null-extended emission pass
      // moves intact to sentinel 2's batch, same watermark value.
      val prevNoData = noDataOff(s)
      val q = feedC.stream.withWatermark("c_ts", "1 hour")
        .join(feedB.stream.withWatermark("b_ts", "1 hour"),
          expr("c_user = b_user AND b_ts > c_ts AND " +
               "b_ts <= c_ts + interval 6 hours"),
          "leftOuter")
        .replayAppendSink(s)
      try {
        // same lossless midpoint split as the inner variant: after batch 1
        // the eviction cut sits at splitTs − 7h, and any click evicted
        // below it could only match purchases with ts < splitTs − 1h —
        // which, if they exist, were all IN batch 1, so an eviction-time
        // null row is never a premature one.
        // pair-atomic staging (FileReplay.prepare scaladoc, r16): build
        // both sides first, publish both back-to-back — otherwise the
        // zero-interval trigger consumes side C alone while side B's
        // write job runs, splitting each intended pair into two
        // micro-batches and paying the 4-stores-per-partition commit
        // floor twice per pair (StateMetrics measured it)
        val c1 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) <= splitTs),
          s"$d#events#clicks#le_mid")
        val b1 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) <= splitTs),
          s"$d#events#buys#le_mid")
        feedC.publishCached(c1); feedB.publishCached(b1)
        q.processAllAvailable()
        val c2 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) > splitTs),
          s"$d#events#clicks#gt_mid")
        val b2 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) > splitTs),
          s"$d#events#buys#gt_mid")
        feedC.publishCached(c2); feedB.publishCached(b2)
        q.processAllAvailable()
        // sentinel 1 (both sides, unmatchable user −1): watermark computed
        // at this batch's END becomes maxTs + 10h − 1h delay, past every
        // real click's c_ts + 6h close …
        val flushTs = new Timestamp(hi + 36000000L)
        // sentinel pairs are pair-atomic too: each 1-row write is a real
        // Spark job, and the half-pair split costs a full extra batch
        val sc1 = feedC.prepare(Seq(Click(-1L, flushTs, -1L)).toDS().toDF())
        val sb1 = feedB.prepare(Seq(Buy(-1L, flushTs, -1L)).toDS().toDF())
        feedC.publishPrepared(sc1); feedB.publishPrepared(sb1)
        q.processAllAvailable()
        // … and sentinel 2's batch performs the eviction pass AT that
        // watermark (hi + 9h: every real click's interval close ≤ hi + 6h
        // sits below it), emitting the null-extended rows — the identical
        // pass the automatic no-data batch used to run. The sentinel-1
        // rows themselves (user −1, close hi + 16h) stay in state,
        // filtered from the result either way.
        val flushTs2 = new Timestamp(hi + 72000000L)
        val sc2 = feedC.prepare(Seq(Click(-1L, flushTs2, -1L)).toDS().toDF())
        val sb2 = feedB.prepare(Seq(Buy(-1L, flushTs2, -1L)).toDS().toDF())
        feedC.publishPrepared(sc2); feedB.publishPrepared(sb2)
        q.processAllAvailable()
      } finally {
        q.stop()
        feedC.close(); feedB.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      q.result()
        .filter(col("c_user") >= 0)
        .select(col("c_user").as("user_id"), col("click_id"),
          coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
          coalesce(expr("unix_millis(b_ts)") - expr("unix_millis(c_ts)"),
            lit(-1L)).as("lag_ms"))
        .orderBy(col("user_id"), col("click_id"), col("buy_id"))
    },
    Some("""SELECT a.user_id, a.event_id AS click_id,
                   coalesce(b.event_id, -1) AS buy_id,
                   coalesce(epoch_ms(b.ts) - epoch_ms(a.ts), -1) AS lag_ms
            FROM (SELECT * FROM events WHERE event_type = 'click') a
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
              ON a.user_id = b.user_id
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
            ORDER BY 1, 2, 3"""))

  /** FULL OUTER watermarked stream-stream interval join — completes the
    * join family (inner / left outer / full outer): BOTH unmatched sides
    * surface as null-extended rows once the watermark proves no match can
    * still arrive. The subtle asymmetry vs the left-outer twin: an
    * unmatched CLICK closes when the watermark passes c_ts + 6h (the last
    * admissible purchase instant), while an unmatched PURCHASE closes when
    * it passes b_ts itself (any later click starts after the purchase and
    * the interval only looks backward) — Spark derives both retentions
    * from the join condition, and the oracle's FULL JOIN re-derives the
    * same row set declaratively. Same sentinel end-of-input flush; nulls
    * coalesced to −1 on both engines; user_id coalesces across sides since
    * either may be null.
    */
  private val streamStreamFullOuter = NamedQuery(
    "events_stream_stream_full_outer",
    (s, d) => {
      import s.implicits._
      implicit val sq = s.sqlContext
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("ts").as("b_ts"),
          col("user_id").as("b_user"))
      val (lo, hi) = eventsTsBounds(s, d, clickBuyOnly = true)
      val splitTs = lo + (hi - lo) / 2
      val feedC = FileReplay(s, clicks.schema)
      val feedB = FileReplay(s, buys.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 4).toString)
      // no-data micro-batches OFF + sentinel 2 — same trim and same
      // eviction-equivalence argument as the left-outer twin; the
      // unmatched-purchase close (wm ≥ b_ts, all ≤ hi) also sits below
      // the sentinel-1 watermark hi + 9h
      val prevNoData = noDataOff(s)
      val q = feedC.stream.withWatermark("c_ts", "1 hour")
        .join(feedB.stream.withWatermark("b_ts", "1 hour"),
          expr("c_user = b_user AND b_ts > c_ts AND " +
               "b_ts <= c_ts + interval 6 hours"),
          "fullOuter")
        .replayAppendSink(s)
      try {
        // pair-atomic staging (FileReplay.prepare scaladoc, r16): build
        // both sides first, publish both back-to-back — otherwise the
        // zero-interval trigger consumes side C alone while side B's
        // write job runs, splitting each intended pair into two
        // micro-batches and paying the 4-stores-per-partition commit
        // floor twice per pair (StateMetrics measured it)
        val c1 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) <= splitTs),
          s"$d#events#clicks#le_mid")
        val b1 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) <= splitTs),
          s"$d#events#buys#le_mid")
        feedC.publishCached(c1); feedB.publishCached(b1)
        q.processAllAvailable()
        val c2 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) > splitTs),
          s"$d#events#clicks#gt_mid")
        val b2 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) > splitTs),
          s"$d#events#buys#gt_mid")
        feedC.publishCached(c2); feedB.publishCached(b2)
        q.processAllAvailable()
        val flushTs = new Timestamp(hi + 36000000L)
        // sentinel pairs are pair-atomic too: each 1-row write is a real
        // Spark job, and the half-pair split costs a full extra batch
        val sc1 = feedC.prepare(Seq(Click(-1L, flushTs, -1L)).toDS().toDF())
        val sb1 = feedB.prepare(Seq(Buy(-1L, flushTs, -1L)).toDS().toDF())
        feedC.publishPrepared(sc1); feedB.publishPrepared(sb1)
        q.processAllAvailable()
        val flushTs2 = new Timestamp(hi + 72000000L)
        val sc2 = feedC.prepare(Seq(Click(-1L, flushTs2, -1L)).toDS().toDF())
        val sb2 = feedB.prepare(Seq(Buy(-1L, flushTs2, -1L)).toDS().toDF())
        feedC.publishPrepared(sc2); feedB.publishPrepared(sb2)
        q.processAllAvailable()
      } finally {
        q.stop()
        feedC.close(); feedB.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      q.result()
        .filter(coalesce(col("c_user"), col("b_user")) >= 0)
        .select(coalesce(col("c_user"), col("b_user")).as("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
          coalesce(expr("unix_millis(b_ts)") - expr("unix_millis(c_ts)"),
            lit(-1L)).as("lag_ms"))
        .orderBy(col("user_id"), col("click_id"), col("buy_id"))
    },
    Some("""SELECT coalesce(a.user_id, b.user_id) AS user_id,
                   coalesce(a.event_id, -1) AS click_id,
                   coalesce(b.event_id, -1) AS buy_id,
                   coalesce(epoch_ms(b.ts) - epoch_ms(a.ts), -1) AS lag_ms
            FROM (SELECT * FROM events WHERE event_type = 'click') a
            FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
              ON a.user_id = b.user_id
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
            ORDER BY 1, 2, 3"""))

  /** SLIDING event-time windows (1 h window, 30 min slide) in watermarked
    * append mode — the overlap case the tumbling gate can't exercise:
    * every event belongs to exactly TWO windows (epoch-aligned starts at
    * its 30-min bucket and the bucket before), so the state layer holds
    * overlapping windows concurrently and must emit each exactly once as
    * the watermark passes ITS close — a window emitted under the wrong
    * start, or an event counted in only one of its two windows, breaks
    * the hash. The oracle is the two-bucket union: each event re-appears
    * under both admissible window starts, then the same group-by.
    */
  private val slidingWindowStream = NamedQuery(
    "events_sliding_window_stream",
    (s, d) => {
      import s.implicits._
      val corpus = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val maxTs = eventsTsBounds(s, d)._2
      val hourMs = 3600000L
      val feed = FileReplay(s, corpus.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      // no-data micro-batches OFF (noDataKey scaladoc): final eviction +
      // emit rides sentinel 2 — 3 data batches replace 2 data + 2 no-data
      val prevNoData = noDataOff(s)
      val q = feed.stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .replayAppendSink(s)
      try {
        feed.stageCached(corpus, s"$d#events#ttv")
        q.processAllAvailable()
        feed.stage(Seq(Evt(new Timestamp(maxTs + 3 * hourMs), "__flush__",
          0.0)).toDS().toDF())
        q.processAllAvailable()
        // sentinel 2 evicts at the sentinel-1 watermark (maxTs + 3h −
        // 10min), past every real window's close (≤ maxTs + 1h)
        feed.stage(Seq(Evt(new Timestamp(maxTs + 4 * hourMs), "__flush__",
          0.0)).toDS().toDF())
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        restoreConf(s, noDataKey, prevNoData)
      }
      q.result()
        .filter(col("event_type") =!= "__flush__")
        .select(expr("unix_millis(w.start)").as("bucket_ms"), col("event_type"),
          col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy(col("bucket_ms"), col("event_type"))
    },
    Some("""WITH x AS (SELECT epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) AS b,
                              event_type, value
                       FROM events),
            w AS (SELECT b AS ws, event_type, value FROM x
                  UNION ALL
                  SELECT b - 1800000 AS ws, event_type, value FROM x)
            SELECT ws AS bucket_ms, event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM w GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Stream-STATIC broadcast enrichment join driven to the BATCH oracle:
    * the events corpus replays through a stateless append topology that
    * joins each micro-batch against the static customer dimension with an
    * explicit `broadcast()` hint — the canonical streaming-enrichment
    * shape (NO shuffle, NO state: the dim ships to executors once and
    * every micro-batch joins map-side; at 100 TB/day of events and a
    * million-row dim this is the only join shape that keeps up). The
    * enriched emissions then aggregate to revenue by (nation, segment) and
    * must hash-match the plain relational join+agg. A dropped micro-batch,
    * a row enriched against the wrong key, or a double emission all break
    * the hash.
    */
  private val enrichStream = NamedQuery(
    "events_enrich_stream",
    (s, d) => {
      val corpus = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      val feed = FileReplay(s, corpus.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      val q = feed.stream
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("c_nationkey"), col("c_mktsegment"),
          col("value"))
        .replayAppendSink(s)
      try {
        // two micro-batches (event_id parity split): enrichment must be
        // exactly-once per event across batch boundaries, not just within
        // one batch
        feed.stageCached(corpus.filter(col("event_id") % 2 === 0),
          s"$d#events#ietuv#even")
        q.processAllAvailable()
        feed.stageCached(corpus.filter(col("event_id") % 2 =!= 0),
          s"$d#events#ietuv#odd")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      q.result()
        .groupBy(col("c_nationkey").as("nation_key"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("nation_key"), col("segment"))
    },
    Some("""SELECT c.c_nationkey AS nation_key, c.c_mktsegment AS segment,
                   count(*) AS n, round(sum(e.value), 2) AS sum_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Watermarked stream-stream LEFT SEMI join — the existence-test member
    * of the join family (clicks that led to ANY purchase within 6h, each
    * emitted once, no purchase columns): the engine must emit a click on
    * its FIRST match and then ignore further matches without re-emission,
    * the opposite discipline from the inner join's per-pair fan-out. Same
    * two-batch event-time-split replay and per-side retention math as
    * `events_stream_stream_join`; the oracle is the relational EXISTS.
    * A duplicate emission (semi degraded to inner), a dropped
    * cross-batch match (premature eviction), or a leaked right column all
    * break the hash.
    */
  private val streamStreamSemi = NamedQuery(
    "events_stream_stream_semi",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("ts").as("b_ts"),
          col("user_id").as("b_user"))
      val (lo, hi) = eventsTsBounds(s, d, clickBuyOnly = true)
      val splitTs = lo + (hi - lo) / 2
      val feedC = FileReplay(s, clicks.schema)
      val feedB = FileReplay(s, buys.schema)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 4).toString)
      // no-data micro-batches OFF (set/restore, this query only): left
      // semi emits a click exactly once, on the data batch that completes
      // its first match — state eviction emits nothing, so the no-data
      // pass is pure per-batch floor here, same argument as the inner
      // join replay. The OUTER variants keep the default.
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNoData = s.conf.getOption(noDataKey)
      s.conf.set(noDataKey, "false")
      val q = feedC.stream.withWatermark("c_ts", "1 hour")
        .join(feedB.stream.withWatermark("b_ts", "1 hour"),
          expr("c_user = b_user AND b_ts > c_ts AND " +
               "b_ts <= c_ts + interval 6 hours"),
          "left_semi")
        .replayAppendSink(s)
      try {
        // pair-atomic staging (FileReplay.prepare scaladoc, r16): build
        // both sides first, publish both back-to-back — otherwise the
        // zero-interval trigger consumes side C alone while side B's
        // write job runs, splitting each intended pair into two
        // micro-batches and paying the 4-stores-per-partition commit
        // floor twice per pair (StateMetrics measured it)
        val c1 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) <= splitTs),
          s"$d#events#clicks#le_mid")
        val b1 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) <= splitTs),
          s"$d#events#buys#le_mid")
        feedC.publishCached(c1); feedB.publishCached(b1)
        q.processAllAvailable()
        val c2 = feedC.prepareCached(
          clicks.filter(unix_millis(col("c_ts")) > splitTs),
          s"$d#events#clicks#gt_mid")
        val b2 = feedB.prepareCached(
          buys.filter(unix_millis(col("b_ts")) > splitTs),
          s"$d#events#buys#gt_mid")
        feedC.publishCached(c2); feedB.publishCached(b2)
        q.processAllAvailable()
      } finally {
        q.stop()
        feedC.close(); feedB.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        prevNoData match {
          case Some(p) => s.conf.set(noDataKey, p)
          case None    => s.conf.unset(noDataKey)
        }
      }
      q.result()
        .select(col("c_user").as("user_id"), col("click_id"),
          unix_millis(col("c_ts")).as("c_ms"))
        .orderBy(col("user_id"), col("click_id"))
    },
    Some("""SELECT a.user_id, a.event_id AS click_id,
                   epoch_ms(a.ts) AS c_ms
            FROM events a
            WHERE a.event_type = 'click' AND EXISTS (
              SELECT 1 FROM events b
              WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
                AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR)
            ORDER BY 1, 2"""))

  /** `Trigger.AvailableNow` backfill-then-incremental — the operational
    * pattern of every production table bootstrap: run 1 drains BOTH
    * pre-staged batches in one bounded invocation and STOPS; run 2 (same
    * checkpoint) picks up only the later-staged delta; run 3 has nothing
    * available and must be a no-op. The sink is the exactly-once FILE
    * sink (its `_spark_metadata` commit log is what makes a re-run
    * duplicate-free), and the final read-back must equal the plain batch
    * aggregate of the whole corpus — a duplicated batch, a missed delta,
    * or a phantom third-run emission all break the hash.
    */
  private val backfillStream = NamedQuery(
    "events_backfill_stream",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val feed = FileReplay(s, ev.schema)
      val root = Scratch.freshRoot("backfill")
      def run(): Unit = {
        val q = feed.stream.writeStream
          .format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/_checkpoint")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      try {
        // backfill: two batches staged BEFORE the first bounded run
        feed.stageCached(ev.filter(col("event_id") % 3 === 0),
          s"$d#events#cents#mod3_0")
        feed.stageCached(ev.filter(col("event_id") % 3 === 1),
          s"$d#events#cents#mod3_1")
        run()
        // incremental: only the delta is unprocessed
        feed.stageCached(ev.filter(col("event_id") % 3 === 2),
          s"$d#events#cents#mod3_2")
        run()
        // idempotence: nothing available → no-op run
        run()
      } finally feed.close()
      s.read.parquet(s"$root/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Stream-STATIC broadcast ANTI join — the blocklist-filtering twin of
    * `events_enrich_stream`'s inner enrichment: purchases stream through
    * in two micro-batches and rows whose user appears in the static
    * blocklist (users with any 'error' event) are suppressed per batch,
    * statelessly. The oracle is the relational NOT EXISTS; a leaked
    * blocked row or an over-suppressed clean row breaks the hash.
    */
  private val blocklistStream = NamedQuery(
    "events_blocklist_stream",
    (s, d) => {
      val ev = Tables.events(s, d)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
      // block users with an ABOVE-AVERAGE error count — relative, so the
      // blocklist splits the population at every SF (an absolute
      // threshold either blocks everyone or no one as density scales);
      // the compare is exact-integer cross-multiplied, no float
      val errCounts = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("ec"))
      val tot = errCounts.agg(sum(col("ec")).as("te"),
        count(lit(1)).as("ue"))
      val blocked = errCounts.crossJoin(broadcast(tot))
        .filter(col("ec") * col("ue") > col("te"))
        .select(col("user_id"))
      val feed = FileReplay(s, buys.schema)
      val q = feed.stream
        .join(broadcast(blocked), Seq("user_id"), "left_anti")
        .replayAppendSink(s)
      try {
        feed.stageCached(buys.filter(col("event_id") % 2 === 0),
          s"$d#events#buy_cents#even")
        q.processAllAvailable()
        feed.stageCached(buys.filter(col("event_id") % 2 === 1),
          s"$d#events#buy_cents#odd")
        q.processAllAvailable()
      } finally { q.stop(); feed.close() }
      q.result()
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
        .orderBy(col("user_id"))
    },
    Some("""WITH ec AS (SELECT user_id, count(*) AS ec FROM events
                        WHERE event_type = 'error' GROUP BY 1),
            tot AS (SELECT CAST(sum(ec) AS BIGINT) AS te,
                           count(*) AS ue FROM ec),
            blocked AS (SELECT user_id FROM ec, tot
                        WHERE ec.ec * tot.ue > tot.te)
            SELECT user_id, count(*) AS n_purchases,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
            FROM events a
            WHERE a.event_type = 'purchase' AND NOT EXISTS (
              SELECT 1 FROM blocked b WHERE b.user_id = a.user_id)
            GROUP BY 1 ORDER BY 1"""))

  /** STREAMING approximate distinct count — the KMV sketch maintained as
    * streaming aggregation state: `Sketches.kmvDistinct`'s one-pass
    * `kmv_kmin` aggregate runs unchanged over a two-batch replay in
    * complete mode, so each group's state is its ≤ 64-double bounded
    * buffer (NEVER the distinct key set — the property that makes a
    * distinct-users-per-type rollup streamable at 100 TB), and partial
    * sketches from batch 1 merge with batch 2's via the aggregate's own
    * merge law (union, re-take k smallest — the law SketchesSpec pins).
    * The final snapshot must hash-equal the BATCH sketch's DuckDB oracle
    * over the whole corpus: a sketch that forgot batch-1 minima across
    * the trigger boundary, double-merged, or kept non-distinct hashes
    * all break the hash.
    */
  private val approxDistinctStream = NamedQuery(
    "events_approx_distinct_stream",
    (s, d) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, d)
      def half(parity: Int) = ev.filter(col("event_id") % 2 === parity)
        .select(col("event_type"), col("user_id"))
      val feed = FileReplay(s, half(0).schema)
      val sink = "graft_kmv_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      val q = Sketches.kmvDistinct(feed.stream, "event_type", "user_id",
          k = 64)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        feed.stageCached(half(0), s"$d#events#tu#even")
        q.processAllAvailable()
        feed.stageCached(half(1), s"$d#events#tu#odd")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      s.table(sink).orderBy(col("event_type"))
    },
    // the BATCH sketch oracle over the full corpus, verbatim KMV
    // construction (md5-polynomial hash, k smallest distinct, (k−1)/u_k)
    Some("""WITH h AS (
              SELECT DISTINCT event_type,
                     list_reduce(list_transform(
                         string_split(md5(CAST(user_id AS VARCHAR)), ''),
                         c -> CAST(ord(c) AS BIGINT)),
                       (a, b) -> (a * 31 + b) % 1000000007)
                       / 1000000007.0 AS u
              FROM events),
            r AS (SELECT event_type, u, row_number() OVER
                    (PARTITION BY event_type ORDER BY u) AS rn FROM h),
            s AS (SELECT event_type, count(*) AS sketch_size,
                         max(u) AS uk
                  FROM r WHERE rn <= 64 GROUP BY 1)
            SELECT event_type, sketch_size,
                   CASE WHEN sketch_size < 64
                        THEN CAST(sketch_size AS DOUBLE)
                        ELSE round(63.0 / uk, 4) END AS est_distinct
            FROM s ORDER BY 1"""))

  /** STREAMING Count-Min heavy hitters — the CMS grid as complete-mode
    * streaming state, the frequency twin of `events_approx_distinct_stream`:
    * `Sketches.cmsSketch` runs unchanged over a two-batch replay (state =
    * one counter per touched (row, bucket) cell, ≤ d·w = 2048 entries
    * regardless of corpus — the bounded-state property), counts ADD
    * across micro-batches (cell-wise sum is both the streaming state
    * merge and `cmsMerge`'s law), and the final grid probes the exact
    * top-10 users batch-side. The whole chain — grid, probes, min-of-d
    * estimates, overcounts — must hash-equal the batch CMS oracle; a
    * cell that missed batch 1, double-counted a trigger, or drifted a
    * hash breaks it. est_n ≥ n_exact stays pinned by the one-sided
    * error law.
    */
  private val heavyHittersStream = NamedQuery(
    "events_heavy_hitters_stream",
    (s, d) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, d)
      def half(parity: Int) = ev.filter(col("event_id") % 2 === parity)
        .select(col("user_id"))
      val feed = FileReplay(s, half(0).schema)
      val sink = "graft_cms_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      val q = Sketches.cmsSketch(feed.stream, "user_id", d = 4, w = 512)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        feed.stageCached(half(0), s"$d#events#u#even")
        q.processAllAvailable()
        feed.stageCached(half(1), s"$d#events#u#odd")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      val grid = s.table(sink)
      val top = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id"))
        .limit(10)
      Sketches.cmsEstimate(grid, top, "user_id", d = 4, w = 512)
        .join(top, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("est_n"),
          (col("est_n") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("user_id"))
    },
    // the BATCH CMS oracle over the full corpus, verbatim grid rebuild:
    // bucket_i = (h + i·(1 + h mod (p−2))) mod p mod w from ONE base
    // md5-polynomial hash per key — mirrors Sketches.cmsBucket's
    // Kirsch-Mitzenmacher derivation
    Some("""WITH ek AS (SELECT user_id, count(*) AS n_exact
                        FROM events GROUP BY 1),
            top AS (SELECT * FROM ek
                    ORDER BY n_exact DESC, user_id LIMIT 10),
            hs AS (SELECT unnest([0, 1, 2, 3]) AS i),
            hb AS (SELECT list_reduce(list_transform(
                              string_split(md5(CAST(user_id AS VARCHAR)), ''),
                              c -> CAST(ord(c) AS BIGINT)),
                            (a, b) -> (a * 31 + b) % 1000000007) AS h
                   FROM events),
            sk AS (SELECT i,
                          (h + i * (1 + h % 1000000005)) % 1000000007 % 512
                            AS bucket,
                          count(*) AS n
                   FROM hb CROSS JOIN hs GROUP BY 1, 2),
            th AS (SELECT user_id,
                          list_reduce(list_transform(
                              string_split(md5(CAST(user_id AS VARCHAR)), ''),
                              c -> CAST(ord(c) AS BIGINT)),
                            (a, b) -> (a * 31 + b) % 1000000007) AS h
                   FROM top),
            pr AS (SELECT th.user_id, hs.i,
                          (th.h + hs.i * (1 + th.h % 1000000005))
                            % 1000000007 % 512 AS bucket
                   FROM th CROSS JOIN hs),
            est AS (SELECT pr.user_id,
                           min(CAST(coalesce(sk.n, 0) AS BIGINT)) AS est_n
                    FROM pr LEFT JOIN sk
                      ON sk.i = pr.i AND sk.bucket = pr.bucket
                    GROUP BY 1)
            SELECT t.user_id, t.n_exact, est.est_n,
                   est.est_n - t.n_exact AS overcount
            FROM top t JOIN est USING (user_id)
            ORDER BY t.n_exact DESC, t.user_id"""))

  /** STREAMING approximate quantiles — the log-linear histogram
    * (`operators/Quantiles.scala`) as complete-mode streaming state,
    * completing the streamable-sketch trio (KMV distinct, CMS frequency,
    * HDR quantiles): per-group state is bucket counts (≤ a few dozen
    * rows), counts add across micro-batches (= `hdrMerge`'s law), and
    * the final grid answers q ∈ {0.5, 0.9, 0.99} batch-side, hash-equal
    * to the batch sketch built from the whole corpus in one pass. Output
    * stays exact BIGINT cents — zero float surface through the gate.
    */
  private val quantilesStream = NamedQuery(
    "events_quantiles_stream",
    (s, d) => {
      import graft.operators.Quantiles
      val ev = Tables.events(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      def half(parity: Int) = ev.filter(col("cents") % 2 === parity)
      val feed = FileReplay(s, ev.schema)
      val sink = "graft_hdr_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      val q = Quantiles.hdrSketch(feed.stream, "event_type", "cents")
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        feed.stageCached(half(0), s"$d#events#tc#ceven")
        q.processAllAvailable()
        feed.stageCached(half(1), s"$d#events#tc#codd")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      Quantiles.hdrQuantiles(s.table(sink), "event_type",
          qs = Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("q"))
    },
    // the BATCH sketch oracle over the full corpus — identical bucket
    // construction and cumulative walk (s = 5, all-integer)
    Some("""WITH li AS (SELECT event_type,
                               CAST(round(value * 100) AS BIGINT) AS cents
                        FROM events),
            b AS (SELECT event_type,
                         CAST(length(bin(cents)) - 1 AS BIGINT) * 64
                         + (cents >> CAST(GREATEST(0,
                              length(bin(cents)) - 1 - 5) AS INTEGER))
                           AS bucket
                  FROM li WHERE cents >= 1),
            sk AS (SELECT event_type, bucket, count(*) AS n
                   FROM b GROUP BY 1, 2),
            cum AS (SELECT event_type, bucket, n,
                           sum(n) OVER (PARTITION BY event_type
                             ORDER BY bucket) AS c,
                           sum(n) OVER (PARTITION BY event_type) AS total
                    FROM sk),
            qq AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q),
            hit AS (SELECT event_type, q, bucket,
                           row_number() OVER (PARTITION BY event_type, q
                             ORDER BY bucket) AS rn
                    FROM cum, qq
                    WHERE c >= ceil(q * CAST(total AS DOUBLE)))
            SELECT event_type, q,
                   CAST(((((bucket % 64)
                           << CAST(GREATEST(0, (bucket >> 6) - 5)
                                   AS INTEGER))
                          + (((bucket % 64) + 1)
                             << CAST(GREATEST(0, (bucket >> 6) - 5)
                                     AS INTEGER)) - 1) >> 1) AS BIGINT)
                     AS est_cents
            FROM hit WHERE rn = 1
            ORDER BY 1, 2"""))

  /** STREAMING HyperLogLog — the fourth and last sketch as complete-mode
    * streaming state (KMV distinct / CMS frequency / HDR quantiles /
    * HLL registers): the `hll_regs` register-array aggregate runs over a
    * two-batch replay (state = one 256-int array per group; register-wise
    * MAX is both the streaming state merge and `hllMerge`'s law), the
    * sink holds the final exploded register rows, and the batch-side
    * estimator + exact countDistinct must hash-equal the batch HLL
    * oracle over the whole corpus. A register that lost a batch-1
    * maximum across the trigger boundary shifts Σ2^−rho and breaks the
    * exact hash.
    */
  private val approxDistinctHllStream = NamedQuery(
    "events_approx_distinct_hll_stream",
    (s, d) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, d)
      def half(parity: Int) = ev.filter(col("event_id") % 2 === parity)
        .select(col("event_type"), col("user_id"))
      val feed = FileReplay(s, half(0).schema)
      val sink = "graft_hll_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        replayParts(s, d, cap = 8).toString)
      val q = Sketches.hllRegisters(feed.stream, "event_type", "user_id")
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        feed.stageCached(half(0), s"$d#events#tu#even")
        q.processAllAvailable()
        feed.stageCached(half(1), s"$d#events#tu#odd")
        q.processAllAvailable()
      } finally {
        q.stop()
        feed.close()
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
      val est = Sketches.hllEstimate(s.table(sink), "event_type")
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("zeros"), col("est_distinct"),
          col("n_exact"))
        .orderBy(col("event_type"))
    },
    // the BATCH HLL oracle over the full corpus, verbatim register rebuild
    Some("""WITH h AS (
              SELECT event_type,
                     list_reduce(list_transform(
                         string_split(md5(CAST(user_id AS VARCHAR)), ''),
                         c -> CAST(ord(c) AS BIGINT)),
                       (a, b) -> (a * 31 + b) % 1000000007) AS hh
              FROM events),
            b AS (SELECT event_type, hh % 256 AS bucket, hh // 256 AS rest
                  FROM h),
            r AS (SELECT event_type, bucket,
                         max(CASE WHEN rest = 0 THEN 23
                                  ELSE 23 - length(format('{:b}', rest)) END)
                           AS m
                  FROM b GROUP BY 1, 2),
            s AS (SELECT event_type, count(*) AS present,
                         sum(power(2.0, -m)) AS sp
                  FROM r GROUP BY 1),
            raw AS (SELECT event_type, 256 - present AS zeros,
                           0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 /
                             (sp + (256 - present)) AS est
                    FROM s),
            e AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
                  FROM events GROUP BY 1)
            SELECT raw.event_type, CAST(raw.zeros AS BIGINT) AS zeros,
                   round(CASE WHEN raw.est <= 2.5 * 256.0 AND raw.zeros > 0
                              THEN 256.0 * ln(256.0 / raw.zeros)
                              ELSE raw.est END, 4) AS est_distinct,
                   e.n_exact
            FROM raw JOIN e USING (event_type)
            ORDER BY 1"""))

  val all: Seq[NamedQuery] =
    Seq(sessionizeStream, sessionWindowStream, windowStream,
        slidingWindowStream, completeModeStream, updateModeStream,
        lateDropStream, dedupStream, dedupWindowStream,
        mergeStream, incrementalGoldStream, streamStreamJoin,
        streamStreamOuter, streamStreamFullOuter, enrichStream,
        streamStreamSemi, backfillStream, blocklistStream,
        approxDistinctStream, heavyHittersStream, quantilesStream,
        approxDistinctHllStream)
}
