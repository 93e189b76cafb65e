package graft.serving

import graft.functions.RiskPolicy
import graft.plans.PlanBarriers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dashboard's pandas-side post-processing (reference: app.py:43-196)
  * re-expressed as engine queries over the Gold table — the reference's only
  * interactive-query surface (SURVEY.md §3.3). No second engine: the same
  * SparkSession serves these.
  */
object ServingQueries {

  /** Synthetic fire key + best (most severe, nearest) alert per fire —
    * pandas sort+drop_duplicates (reference: app.py:61-67) as the window
    * dedup idiom (W2).
    *
    * Returned behind `PlanBarriers.lazyPin` (sized by `gold`): a dashboard
    * read derives the fire list, `kpis` and `topWind` from this one frame,
    * as the reference derives them from one pandas frame, so the window
    * runs once per read and its consumers scan the pinned rows.
    */
  def uniqueFires(gold: DataFrame): DataFrame =
    PlanBarriers.lazyPin(uniqueFiresWindow(gold), sizedBy = gold)

  /** The unpinned window dedup behind `uniqueFires`. */
  private[graft] def uniqueFiresWindow(gold: DataFrame): DataFrame = {
    val keyed = gold
      .withColumn("fire_id", concat_ws("_", col("fire_lat"), col("fire_lon")))
      .withColumn("risk_rank", RiskPolicy.riskRank(col("risk_level")))
    // weather_station tiebreak: pandas sort_values is stable so the
    // reference's pick under a (rank, distance) tie is input-order-
    // dependent; a distributed engine has no input order, so the tie must
    // break on a data column or the kept row is partition-layout-dependent.
    val w = Window.partitionBy(col("fire_id"))
      .orderBy(col("risk_rank").asc, col("distance_deg").asc,
               col("weather_station").asc)
    keyed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Sidebar risk-level filter (reference: app.py:84-91) — P9 isin. */
  def filterByLevels(gold: DataFrame, levels: Seq[String]): DataFrame =
    gold.filter(col("risk_level").isin(levels: _*))

  /** KPI row (reference: app.py:113-123): single-pass conditional
    * aggregation instead of three pandas filtered scans (A2+A3).
    */
  def kpis(uniqueFires: DataFrame): DataFrame =
    uniqueFires.agg(
      count(lit(1)).as("n_fires"),
      count(when(col("risk_level") === "EXTREME", 1)).as("n_extreme"),
      count(when(col("risk_level").isin("HIGH", "VERY_HIGH"), 1)).as("n_high"),
      (avg(col("temperature")) - lit(273.15)).as("avg_temp_c"))

  /** Pie-chart distribution (reference: app.py:178-185) — A4. */
  def riskDistribution(gold: DataFrame): DataFrame =
    gold.groupBy(col("risk_level")).count()

  /** Distinct levels present (reference: app.py:85) — A5. */
  def distinctLevels(gold: DataFrame): DataFrame =
    gold.select(col("risk_level")).distinct()

  /** Top-5 by wind speed (reference: app.py:190-196) — W3; Catalyst plans
    * TakeOrderedAndProject, no full sort.
    */
  def topWind(uniqueFires: DataFrame, k: Int = 5): DataFrame =
    uniqueFires
      .select(col("weather_station"), col("wind_speed"), col("risk_level"),
              RiskPolicy.riskColor(col("risk_level")).as("color"))
      // station/level tiebreaks make the k-row cut deterministic under
      // equal wind speeds (rows tying on ALL THREE are interchangeable);
      // Catalyst still plans TakeOrderedAndProject.
      .orderBy(col("wind_speed").desc, col("weather_station").asc,
               col("risk_level").asc)
      .limit(k)
}
