package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Slo
import graft.sources.Io.landBatch

/** Streaming ingest × SLO burn-rate monitoring — the live form of
  * [[graft.etl.Slo.burnRate]]: each micro-batch lands its OWN hourly
  * (key, hour) → (n, errors) counts under `state/batch=<id>`, then the
  * burn table is recomputed over the union of all landed state and the
  * current alert rows land under `monitor/batch=<id>`.
  *
  * Exactly-once EFFECT under foreachBatch's at-least-once contract by
  * partition ownership (the [[DriftStream]] recipe turned on its head):
  * the additive state is NEVER folded in place — each batch owns its
  * state directory, a replay overwrites it byte-identically, and the
  * cross-batch SUM over the directory tree double-counts nothing. An
  * hour spanning several batches (late or split arrivals) is healed by
  * that same sum: per-(key, hour) counts merge by addition, which is
  * exactly how the batch ETL would have seen them. The window pass
  * rides O(#keys × #hours) merged rows per batch — calendar-bounded,
  * so recomputing the whole burn table per batch is the CHEAP part;
  * the raw stream is touched once.
  */
object SloStream {

  /** One micro-batch's fold + readout: land this batch's hourly counts
    * (deterministic bytes —
    * sorted, single file), merge the full state tree, emit the burn
    * rows that currently ALERT (sorted — a replay overwrites
    * byte-identically).
    */
  def burnBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
                tsCol: String, isError: org.apache.spark.sql.Column,
                budget: Double, shortHours: Int, longHours: Int,
                threshold: Double, stateDir: String,
                monitorDir: String): Unit = {
    val spark = batch.sparkSession
    val keyCols = keys.map(col)
    landBatch(batch
      .groupBy(keyCols :+ date_trunc("hour", col(tsCol)).as("__h"): _*)
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(when(isError, 1.0).otherwise(0.0)).as("__e"))
      .orderBy(keyCols :+ col("__h"): _*)
      .coalesce(1), stateDir, batchId)
    val merged = spark.read.parquet(stateDir)
      .groupBy(keyCols :+ col("__h"): _*)
      .agg(sum(col("__n")).as("__n"), sum(col("__e")).as("__e"))
    landBatch(Slo.burnFromHourly(merged, keys, budget, shortHours, longHours,
        threshold, digits = 6)
      .filter(col("alert"))
      .withColumn("batch_id", lit(batchId))
      .orderBy(keyCols :+ col("hour"): _*)
      .coalesce(1), monitorDir, batchId)
  }
}
