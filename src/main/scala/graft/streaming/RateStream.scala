package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.roundStable
import graft.sources.Io.landBatch

/** Streaming ingest × event-RATE monitoring — the live form of
  * [[graft.etl.Drift.rateShift]], closing the streaming drift triple
  * (D13 PSI watches value DISTRIBUTIONS, D14 CUSUM localizes value
  * SHIFTS, this watches VOLUME): a dead upstream or a runaway producer
  * changes events-per-hour long before it changes the value histogram.
  *
  * The reference window compresses ONCE at stream start to one hourly
  * rate per key (O(#keys) rows, localCheckpoint'd). Each micro-batch is
  * scored against the frozen λ over the batch's OWN event-time span
  * (shared across keys — a key silent in the batch still spans it, so a
  * collapse to zero surfaces as a large negative z, not a missing row:
  * the reference key set left-joins the batch counts). Stateless per
  * batch — scoring is deterministic and each batch owns its
  * `batch=<id>` directory, so a replay overwrites byte-identically (the
  * DedupStream exactly-once-effect recipe, no state table needed).
  *
  * Batch-span caveat (documented contract): rates are computed over the
  * batch's event-time extent, so a batch holding < 2 events total has
  * no span and scores NULL; tiny batches give noisy z — size triggers
  * (processingTime / maxOffsetsPerTrigger) so batches span minutes, not
  * single events.
  */
object RateStream {

  /** Frozen per-key reference rates + the key set (for silent-key
    * emission). `minRefEvents` guards keys with too little baseline to
    * trust (they emit NULL z, the cusum σ=0 convention).
    */
  final case class Monitor(rates: DataFrame, keys: Seq[String])

  def buildReference(ref: DataFrame, keys: Seq[String], tsCol: String,
                     minRefEvents: Long = 30L): Monitor = {
    val keyCols = keys.map(col)
    val span = ref.agg(
      ((unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
        .cast("double") / 3.6e9).as("__hr"))
    val rates = ref.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__cr"))
      .crossJoin(broadcast(span))
      .select(keyCols ++ Seq(
        when(col("__cr") >= minRefEvents && col("__hr") > 0,
          col("__cr") / col("__hr")).as("__lam"),
        col("__cr").as("__nref")): _*)
      .localCheckpoint()
    Monitor(rates, keys)
  }

  /** One micro-batch's scoring: one (keys, cur_rate, rate_ratio,
    * poisson_z, n_cur, batch_id) row per REFERENCE key under
    * `monitorDir/batch=<id>`.
    */
  def rateBatch(mon: Monitor, batch: DataFrame, batchId: Long,
                tsCol: String, monitorDir: String): Unit = {
    val keyCols = mon.keys.map(col)
    val span = batch.agg(
      ((unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
        .cast("double") / 3.6e9).as("__hc"))
    val counts = batch.groupBy(keyCols: _*).agg(count(lit(1)).as("__cc"))
    // reference keys drive the output: a key with NO batch rows is the
    // most interesting row on this monitor (z = −√(λ·H))
    val expect = col("__lam") * col("__hc")
    val ok = col("__lam").isNotNull && col("__hc") > 0
    landBatch(mon.rates
      .join(counts, mon.keys, "left")
      .crossJoin(broadcast(span))
      .withColumn("__cc", coalesce(col("__cc"), lit(0L)))
      .select(keyCols ++ Seq(
        roundStable(when(col("__hc") > 0, col("__cc") / col("__hc")), 6)
          .as("cur_rate"),
        roundStable(when(ok, col("__cc") / expect), 6).as("rate_ratio"),
        roundStable(when(ok, (col("__cc") - expect) / sqrt(expect)), 6)
          .as("poisson_z"),
        col("__cc").as("n_cur")): _*)
      .withColumn("batch_id", lit(batchId))
      .orderBy(keyCols: _*)
      .coalesce(1), monitorDir, batchId)
  }
}
