package graft.gold

import graft.catalog.TableCatalog
import graft.functions.GeoFunctions._
import graft.functions.RiskPolicy
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Gold batch computation (reference: gold_batch_job.py:22-90):
  * latest weather per station (window dedup) → fires × nearby stations
  * (distance-band theta join) → 30-30-30 risk classification → 9-column
  * alert projection, overwritten as a materialized view, skipped when empty.
  *
  * Scale design: the deduped weather side is one row per station (small by
  * construction) → `broadcast`, so the theta join is a broadcast
  * nested-loop over a tiny side instead of a shuffled cross product. For
  * station cardinalities too big to broadcast, `goldAlertsGrid` keeps the
  * same semantics with a grid-bucketed equi join (SURVEY.md §7 risk 5).
  */
object GoldJob {

  val radiusDeg = 20.0

  /** Latest reading per station — W1, THE core dedup idiom of the system
    * (reference: gold_batch_job.py:32-35). Deterministic tie-break on
    * location_id ordering is unnecessary (ties within a station resolved by
    * timestamp desc; equal timestamps are producer-impossible but row_number
    * still picks exactly one).
    */
  def latestWeather(weather: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("location_id")).orderBy(col("timestamp").desc)
    weather.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        col("location_id").as("weather_station"),
        col("lat").as("station_lat"), col("lon").as("station_lon"),
        col("wind_speed"), col("humidity"), col("temperature"))
  }

  /** fires × latest-weather within radius, classified. Single theta join —
    * Catalyst plans BroadcastNestedLoopJoin with the explicit broadcast hint
    * (same physical plan the reference's crossJoin+filter reached, minus the
    * unfiltered cross product in the logical plan).
    *
    * SMALL-DIM special case only: BNLJ cost is |fires|×|stations|, so this
    * is correct while the deduped station side stays broadcast-sized (the
    * reference's 32 stations). The pipeline default is `goldAlertsGrid`,
    * whose cell-key equi join carries the same semantics at any station
    * cardinality — `runCycle` uses it unconditionally.
    */
  def goldAlerts(fires: DataFrame, weather: DataFrame): DataFrame = {
    val lw = latestWeather(weather)
    val dist = euclideanDeg(col("lat"), col("lon"),
      col("station_lat"), col("station_lon"))
    fires
      .join(broadcast(lw), dist < radiusDeg)
      .withColumn("distance_deg", dist)
      // NB: raw `temperature` (producer °C) goes straight against the
      // 303.15 K threshold — the reference's quirk, preserved (SURVEY §7.6).
      .withColumn("risk_level", RiskPolicy.riskLevel(
        col("confidence"), col("wind_speed"), col("temperature"), col("humidity")))
      .select(
        col("timestamp"), col("lat").as("fire_lat"), col("lon").as("fire_lon"),
        col("weather_station"), col("wind_speed"), col("temperature"),
        col("humidity"), col("risk_level"), col("distance_deg"))
  }

  /** Grid-bucketed variant for station sets too large to broadcast: each
    * fire joins only stations in its 3×3 neighbor cells (cell = radius), an
    * equi join on the cell key that shuffles both sides once — no cross
    * product, no broadcast requirement, same result set.
    *
    * `maxPairsPerCell` is the output-quadratic guard for DENSE regions: a
    * cell holding f fires × s stations emits up to f·s alert rows, so one
    * urban cell can dominate the whole job's output at continent scale.
    * With the cap set, cells whose f·s product (f counted over the
    * exploded 3×3 probes landing in the cell) exceeds it are SKIPPED —
    * stations in a skipped cell emit no alerts (each pair lives in exactly
    * ONE cell, the station's, so surviving cells stay exact). The decision
    * is made BEFORE the join, on the driver, from the per-cell statistics
    * `cellGrid` collects (one row per cell holding a station and a fire
    * probe, at most `MaxStatsCells`); the quadratic work is never
    * performed. When no cell is dense — the usual case under the 1M
    * default — the plan is the plain cell equi join; otherwise both sides
    * are filtered by `NOT cell IN (dense cells)`. Default None = exact,
    * zero extra cost (no per-cell statistics run) — the production
    * response to a tripped cap is per-cell pre-aggregation
    * (`goldDenseSummary`) rather than f·s raw alert rows.
    *
    * This is the pair set of `cellGrid` without its `cell` column.
    */
  def goldAlertsGrid(fires: DataFrame, weather: DataFrame,
      maxPairsPerCell: Option[Long] = None): DataFrame =
    cellGrid(fires, weather, maxPairsPerCell).pairs.drop("cell")

  /** Per-cell alert summary with the DENSE-CELL PRE-AGGREGATE — the
    * production serve for cells `goldAlertsGrid`'s cap culls. A dense cell
    * (fire-probe × station product over `maxPairsPerCell`) would emit
    * f·s raw alert rows; instead of performing that quadratic join, its
    * row here is built from the two NARROW per-side aggregates alone —
    * "n stations alerting, max risk" — in work linear in each side:
    *
    *   - `n_alerting_stations` = all stations in the cell. This is an
    *     UPPER BOUND, not the distance-filtered truth: a fire probing from
    *     a neighbor cell can sit up to ~2·√2 cell widths from a station
    *     (beyond `radiusDeg`), so some counted stations may fail the band
    *     filter the sparse path would have applied;
    *   - `max_risk` = the best station's weather classified under an
    *     'h'-confidence fire IF any probing fire has confidence 'h', else
    *     LOW. Likewise an upper bound on the distance-filtered maximum
    *     (`RiskPolicy.riskLevel` depends only on (confidence, station
    *     weather) and is maximized at confidence 'h'; the pair realizing
    *     it may be outside the band).
    *
    * Dense rows are therefore an UPPER-BOUND CERTIFICATE — stations/risk
    * may exceed the per-pair truth — and `is_dense` lets consumers tell
    * the regimes apart. The oracle mirrors the same certificate semantics.
    * Sparse cells carry the same schema computed from their EXACT alerts,
    * so one union serves both regimes: per-pair truth where it's
    * affordable, a per-cell certificate where it isn't.
    *
    * Built from one `cellGrid`: the dense rows of its collected per-cell
    * statistics (a local relation, so they need no Spark job), plus the
    * per-cell aggregate of its pair set (which holds sparse cells only)
    * joined back to those statistics for the side counts. No quadratic
    * work anywhere, which is what makes the flagship's sf1
    * output-quadratic slope disappear from the serve path. Like every
    * capped `cellGrid`, it fails when more than `MaxStatsCells` cells hold
    * a station and a fire probe (out-of-range coordinates).
    */
  def goldDenseSummary(fires: DataFrame, weather: DataFrame,
      maxPairsPerCell: Long): DataFrame =
    cellSummary(cellGrid(fires, weather, Some(maxPairsPerCell)))

  /** Row budget of a capped `cellGrid`'s per-cell statistics collect. A
    * statistics row is a cell holding a station, and the 20° grid over
    * valid coordinates has 10 × 19 = 190 of them, so only out-of-range
    * coordinates can exceed the budget; 4 096 rows of five narrow columns
    * stay under 1 MB on the driver.
    */
  private[graft] val MaxStatsCells = 4096

  /** What both gold tables derive from.
    *
    *   - `stats`: one row per cell holding a fire probe AND a station —
    *     `n_fire_probes` (exploded 3×3 probes landing in the cell),
    *     `n_stations`, `__has_h` (1 when a probing fire has confidence
    *     'h'), `__best_h_rank` (the best station's risk rank under an 'h'
    *     fire) and `__dense` (probe × station product over the cap; never
    *     true without a cap). Narrow per-side aggregates, linear in each
    *     side. Under a cap it is a local relation of the collected rows;
    *     without one it is the unevaluated distributed frame.
    *   - `dense`: the cells over the cap, decided on the driver from the
    *     collected rows; empty without a cap.
    *   - `pairs`: every fire × station alert within `radiusDeg`, through
    *     the 3×3 grid equi join, classified, with the `cell` it lives in
    *     (the station's). Dense cells are filtered out of both sides
    *     before the join, so their quadratic pairs are never formed; with
    *     no dense cell the plan is the plain equi join, and `stats` is not
    *     part of it in either case.
    */
  private[gold] final case class CellGrid(stats: DataFrame, dense: Seq[String],
      pairs: DataFrame)

  /** Builds the `CellGrid`. Under a cap this runs one Spark job: the
    * per-cell statistics come to the driver in a collect bounded by
    * `MaxStatsCells`, and more rows than that fail the call before any
    * pair is formed or any table written. No distributed fallback: a
    * cell key of a valid coordinate cannot produce that many rows.
    */
  private[gold] def cellGrid(fires: DataFrame, weather: DataFrame,
      maxPairsPerCell: Option[Long]): CellGrid = {
    require(maxPairsPerCell.forall(_ > 0), "maxPairsPerCell must be positive")
    val lw0 = latestWeather(weather)
      .withColumn("cell", gridCell(col("station_lat"), col("station_lon"), radiusDeg))
    val fx0 = fires.withColumn("cell",
      explode(gridCellNeighbors(col("lat"), col("lon"), radiusDeg)))
    val nf = fx0.groupBy("cell").agg(
      count(lit(1)).as("n_fire_probes"),
      max(when(col("confidence") === "h", 1).otherwise(0)).as("__has_h"))
    val ns = lw0.groupBy("cell").agg(
      count(lit(1)).as("n_stations"),
      // best (min-rank) station classification under an 'h' fire
      min(RiskPolicy.riskRank(RiskPolicy.riskLevel(lit("h"),
        col("wind_speed"), col("temperature"), col("humidity"))))
        .as("__best_h_rank"))
    val statsFrame = nf.join(ns, Seq("cell")).withColumn("__dense",
      maxPairsPerCell.fold(lit(false))(cap =>
        col("n_fire_probes") * col("n_stations") > cap))
    val (stats, dense) = maxPairsPerCell match {
      case None => (statsFrame, Seq.empty[String])
      case Some(cap) =>
        val rows = statsFrame.limit(MaxStatsCells + 1).collect()
        if (rows.length > MaxStatsCells) throw new IllegalStateException(
          s"gold cell statistics: more than $MaxStatsCells grid cells hold " +
            "a station and a fire probe, but the grid over valid " +
            "coordinates has 190: the input holds out-of-range coordinates " +
            s"(density cap $cap not applied)")
        (statsFrame.sparkSession.createDataFrame(
            java.util.Arrays.asList(rows: _*), statsFrame.schema),
         rows.toSeq.filter(_.getAs[Boolean]("__dense"))
           .map(_.getAs[String]("cell")))
    }
    val (fx, lw) =
      if (dense.isEmpty) (fx0, lw0)
      else {
        val sparse = !col("cell").isin(dense: _*)
        (fx0.filter(sparse), lw0.filter(sparse))
      }
    val dist = euclideanDeg(col("lat"), col("lon"),
      col("station_lat"), col("station_lon"))
    // NOTE: column-first-then-filter does NOT deduplicate the distance
    // computation — Catalyst's PushPredicateThroughNonJoin substitutes
    // the alias back and pushes the predicate below the Project, so the
    // optimized plan evaluates the sqrt/pow tree in the join filter AND
    // the projection, identically to filter-then-withColumn (verified on
    // the executed plan). The form is kept for readability only; forcing
    // a single evaluation would need a pipeline barrier, which costs more
    // than the arithmetic it saves.
    val pairs = fx.join(lw, Seq("cell"))
      .withColumn("distance_deg", dist)
      .filter(col("distance_deg") < radiusDeg)
      .withColumn("risk_level", RiskPolicy.riskLevel(
        col("confidence"), col("wind_speed"), col("temperature"), col("humidity")))
      .select(
        col("cell"),
        col("timestamp"), col("lat").as("fire_lat"), col("lon").as("fire_lon"),
        col("weather_station"), col("wind_speed"), col("temperature"),
        col("humidity"), col("risk_level"), col("distance_deg"))
    CellGrid(stats, dense, pairs)
  }

  /** `goldDenseSummary` over one `cellGrid`: dense rows from the stats,
    * sparse rows from the pair set's per-cell aggregate. */
  private def cellSummary(grid: CellGrid): DataFrame = {
    val levelOfRank = (r: org.apache.spark.sql.Column) =>
      when(r === 0, "EXTREME").when(r === 1, "VERY_HIGH")
        .when(r === 2, "HIGH").when(r === 3, "MODERATE").otherwise("LOW")
    val denseSum = grid.stats.filter(col("__dense")).select(
      col("cell"), lit(1).as("is_dense"),
      col("n_fire_probes"), col("n_stations"),
      col("n_stations").as("n_alerting_stations"),
      levelOfRank(when(col("__has_h") === 1, col("__best_h_rank"))
        .otherwise(4)).as("max_risk"))
    val sparseSum = grid.pairs.groupBy("cell")
      .agg(count_distinct(col("weather_station")).as("n_alerting_stations"),
           min(RiskPolicy.riskRank(col("risk_level"))).as("__best_rank"))
      .join(grid.stats.select("cell", "n_fire_probes", "n_stations"),
        Seq("cell"))
      .select(col("cell"), lit(0).as("is_dense"),
        col("n_fire_probes"), col("n_stations"),
        col("n_alerting_stations"),
        levelOfRank(col("__best_rank")).as("max_risk"))
    denseSum.unionByName(sparseSum)
  }

  /** Default per-cell pair budget for the production cycle. A cell whose
    * fire-probe × station product exceeds this is culled from pair
    * emission and served through the certificate table instead — the
    * row-explosion guard that keeps the cycle's output LINEAR in its
    * inputs at any density. 1M pairs/cell is ~two orders above anything a
    * healthy corpus produces (sf1's densest cell is ~10⁴ pairs) while
    * still bounding the pathological case that made uncapped `gold_alerts`
    * output-quadratic (270 M rows at sf1, BASELINE.md).
    */
  val defaultMaxPairsPerCell = 1000000L

  /** One Gold cycle against the catalog: read silver, compute, overwrite
    * gold atomically unless empty (reference: run_gold_processing,
    * gold_batch_job.py:22-93).
    *
    * The DEFAULT cycle is density-capped: per-pair alerts for every cell
    * within `maxPairsPerCell`, plus the `fire_risk_alert_cells` summary
    * table (one row per cell: alert count bound + max risk certificate —
    * `goldDenseSummary`) covering BOTH regimes, so a dense cell's alerts
    * are served as a certificate instead of a quadratic row explosion.
    * The uncapped exact form remains available — explicitly, via
    * `maxPairsPerCell = None` (`runCycleExact`) — it is the flagship
    * `gold_alerts` semantics, not the production default, because its
    * output is quadratic in per-cell density by definition.
    *
    * One derivation per cycle: everything the cycle emits comes from one
    * `cellGrid`. Under the cap its per-cell statistics are collected to
    * the driver once (bounded by `MaxStatsCells`; out-of-range silver
    * fails the cycle here, before either table is written) and the dense
    * cells are decided there, so `fire_risk_alerts` is the pair set's
    * projection (`goldAlertsGrid`), `fire_risk_alert_cells` its
    * `goldDenseSummary` over the collected statistics, and the culled-cell
    * count the size of the dense list — neither needs a job of its own.
    * Only the pair set is cached, because both writes read it; each table
    * is committed by `overwriteIfNonEmpty` (write-then-publish, no
    * separate emptiness pass). The cache is released in `finally`: the
    * cycle repeats for the life of one JVM, so its blocks must not wait
    * for garbage collection.
    *
    * THE CULL IS SURFACED, NEVER SILENT: a consumer reading only
    * `fire_risk_alerts` sees NO rows for a culled dense cell, so every
    * capped cycle (a) writes the certificate row for each culled cell
    * into `fire_risk_alert_cells` (is_dense = 1 → read the certificate,
    * not the pair table, for that cell), and (b) logs the culled-cell
    * count in-cycle. Consumers of `fire_risk_alerts` MUST also read
    * `fire_risk_alert_cells`' is_dense rows — that pairing is the
    * contract, enforced here by refusing to finish a capped cycle
    * without the certificate table.
    *
    * @return true when the per-pair alerts table was (re)written
    */
  def runCycle(catalog: TableCatalog,
      maxPairsPerCell: Option[Long] = Some(defaultMaxPairsPerCell)): Boolean = {
    val fires = catalog.read("silver", "fire_events")
    val weather = catalog.read("silver", "weather_events")
    // grid equi join, not the broadcast BNLJ: identical result set
    // (GoldJobSpec pins equivalence) with no broadcast-size precondition.
    val grid = cellGrid(fires, weather, maxPairsPerCell)
    grid.pairs.cache()
    try {
      val wrote = catalog.overwriteIfNonEmpty(grid.pairs.drop("cell"),
        "gold", "fire_risk_alerts")
      // the cells summary refreshes on EVERY cycle, exact included: an
      // exact cycle after a capped one would otherwise leave the previous
      // corpus's is_dense certificates beside a pair table that now holds
      // those cells' full pair sets — two gold tables disagreeing about
      // which cells were culled. In exact mode the cap is ∞, so no cell is
      // marked dense and consumers are told to trust the pair table alone.
      catalog.overwriteIfNonEmpty(cellSummary(grid),
        "gold", "fire_risk_alert_cells")
      // surface the cull and say it out loud
      if (grid.dense.nonEmpty) log.warn(
        s"gold cycle culled ${grid.dense.size} dense cell(s) from " +
          s"fire_risk_alerts (cap=${maxPairsPerCell.get} pairs/cell); their " +
          "alerts are served as certificates in fire_risk_alert_cells " +
          "(is_dense=1)")
      wrote
    } finally grid.pairs.unpersist()
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The explicitly-requested EXACT cycle: uncapped per-pair alerts, with
    * the `fire_risk_alert_cells` certificate table refreshed under an
    * infinite cap (no cell marked dense) — refreshed, not omitted, so a
    * prior capped cycle's is_dense certificates can't survive beside a
    * pair table that now holds those cells' full pair sets. Output-
    * quadratic in per-cell density — correct, and priced accordingly;
    * `runCycle`'s capped default is the serve.
    */
  def runCycleExact(catalog: TableCatalog): Boolean =
    runCycle(catalog, maxPairsPerCell = None)
}
