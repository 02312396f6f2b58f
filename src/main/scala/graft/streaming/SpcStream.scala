package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.roundStable
import graft.sources.Io.landBatch

/** Streaming ingest × statistical process control — the live form of
  * [[graft.etl.Drift.xbarChart]]: an in-control reference window is
  * compressed ONCE at stream start into per-key chart parameters
  * (center = grand mean, σ̂² = POOLED within-bucket variance — the
  * same pooling that makes the batch chart's limits price ordinary
  * noise), then every arriving micro-batch becomes one SUBGROUP per
  * key and is judged against `center ± L·σ̂/√n_batch` — limits that
  * correctly TIGHTEN for big batches and WIDEN for thin ones, which a
  * fixed-threshold alert gets wrong on both ends.
  *
  * One monitor row per key per batch lands under `batch=<id>`:
  * subgroup size/mean, the batch-size-adjusted limits, the rule-1
  * excursion flag, and the side sign (+1/0/−1 vs center, 6dp-rounded)
  * from which a dashboard runs the Western Electric run rules over
  * the landed history — rule 4 needs cross-batch memory by
  * definition, and the landed per-batch sign IS that memory, kept out
  * of the hot path.
  *
  * Exactly-once EFFECT under foreachBatch's at-least-once contract by
  * the [[DriftStream]] recipe: scoring is deterministic against the
  * frozen reference and each batch owns its directory, so a replay
  * overwrites byte-identically.
  */
object SpcStream {

  /** An in-control window compressed to chart parameters: per-key
    * center and pooled within-bucket variance. Bounded (one row per
    * key) — broadcast into every batch; localCheckpoint so the
    * reference scan never re-runs.
    */
  final case class Chart(stats: DataFrame, keys: Seq[String], l: Double)

  /** Compress the reference: subgroup by `bucketCol` (the chart's
    * rational subgrouping — typically the hour/day), pool the
    * within-subgroup variance, grand-mean the centers row-weighted.
    * Keys whose reference has no ≥2-row subgroup carry a NULL σ̂ and
    * score with NULL limits (visible, never silently dropped).
    */
  def buildChart(ref: DataFrame, keys: Seq[String], bucketCol: org.apache.spark.sql.Column,
                 valueCol: String, l: Double = 3.0): Chart = {
    val keyCols = keys.map(col)
    val sub = ref.filter(col(valueCol).isNotNull)
      .groupBy(keyCols :+ bucketCol.as("__b"): _*)
      .agg(count(lit(1)).as("__n"), avg(col(valueCol)).as("__xb"),
        var_samp(col(valueCol)).as("__v"))
    val nD = col("__n").cast("double")
    val stats = sub.groupBy(keyCols: _*)
      .agg(
        (sum(col("__xb") * nD) / sum(nD)).as("__center"),
        (sum(when(col("__v").isNotNull, (nD - lit(1.0)) * col("__v"))) /
          sum(when(col("__v").isNotNull, nD - lit(1.0)))).as("__pool"))
      .localCheckpoint()
    Chart(stats, keys, l)
  }

  /** One micro-batch scored as one subgroup per key against the frozen
    * chart. Writes (keys, n, xbar, center, ucl, lcl, out_of_control,
    * side) under `monitorDir/batch=<id>` sorted by key — deterministic
    * bytes, so a replayed batch overwrites itself. Flags compare
    * 6dp-rounded values.
    */
  def spcBatch(chart: Chart, batch: DataFrame, batchId: Long,
               valueCol: String, monitorDir: String): Unit = {
    val keyCols = chart.keys.map(col)
    val grp = batch.filter(col(valueCol).isNotNull)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n"), avg(col(valueCol)).as("__xb"))
    val se = sqrt(col("__pool") / col("n").cast("double"))
    landBatch(grp.join(broadcast(chart.stats), chart.keys)
      .withColumn("xbar", roundStable(col("__xb"), 6))
      .withColumn("center", roundStable(col("__center"), 6))
      .withColumn("ucl", roundStable(col("__center") + lit(chart.l) * se, 6))
      .withColumn("lcl", roundStable(col("__center") - lit(chart.l) * se, 6))
      .withColumn("out_of_control",
        (col("ucl").isNotNull &&
          (col("xbar") > col("ucl") || col("xbar") < col("lcl")))
          .cast("long"))
      .withColumn("side",
        when(col("xbar") > col("center"), 1L)
          .when(col("xbar") < col("center"), -1L).otherwise(0L))
      .withColumn("batch_id", lit(batchId))
      .select(keyCols ++ Seq(col("n"), col("xbar"), col("center"),
        col("ucl"), col("lcl"), col("out_of_control"), col("side"),
        col("batch_id")): _*)
      .orderBy(keyCols: _*)
      .coalesce(1), monitorDir, batchId)
  }
}
