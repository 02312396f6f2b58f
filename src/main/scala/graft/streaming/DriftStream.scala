package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Drift
import graft.sources.Io.landBatch

/** Streaming ingest × distribution-drift monitoring — the live form of
  * [[graft.etl.Drift.psi]]: a reference window is compressed ONCE at
  * stream start into its per-key bin table (O(#keys × bins) rows — the
  * reference corpus is never rescanned), then every arriving micro-batch
  * bins against the FROZEN reference ranges and lands one PSI row per
  * key under its own `batch=<id>` directory.
  *
  * Exactly-once EFFECT under foreachBatch's at-least-once contract by
  * the [[DedupStream]] recipe: scoring is deterministic and each batch
  * owns its directory, so a replay overwrites byte-identically. A
  * dashboard reads `spark.read.parquet(monitorDir)` and gets the full
  * per-batch drift history; an alerter filters `psi > 0.25`.
  */
object DriftStream {

  /** A reference window compressed to its monitoring state: per-key bin
    * ranges + per-key/bin counts with totals. Bounded — safe to hold for
    * the stream's lifetime and broadcast into every batch.
    */
  final case class Reference(ranges: DataFrame, counts: DataFrame,
                             keys: Seq[String], bins: Int)

  /** Compress `ref` once: per-key [lo, hi] (these FREEZE the bins — the
    * deployed monitoring convention) and per-(key, bin) counts with the
    * per-key total. Both tables localCheckpoint so the reference scan
    * never re-runs per batch.
    */
  def buildReference(ref: DataFrame, keys: Seq[String], valueCol: String,
                     bins: Int = 10): Reference = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    val keyCols = keys.map(col)
    val ranges = ref.groupBy(keyCols: _*)
      .agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
      .localCheckpoint()
    val counts = ref.join(broadcast(ranges), keys)
      .withColumn("__bin",
        Drift.binId(col(valueCol), col("__lo"), col("__hi"), bins))
      .groupBy(keyCols :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__rc"))
      .withColumn("__nr",
        sum(col("__rc")).over(Window.partitionBy(keyCols: _*)))
      .localCheckpoint()
    Reference(ranges, counts, keys, bins)
  }

  /** PSI of one micro-batch against the frozen reference, one row per
    * key under `monitorDir/batch=<id>`. Bins the batch against the
    * frozen ranges, full-outer-joins the
    * reference bin table (a bin present on only one side still
    * contributes via smoothing), and writes (keys, psi, n_ref, n_cur,
    * batch_id) sorted by key — deterministic bytes, so a replayed batch
    * overwrites itself.
    */
  def driftBatch(ref: Reference, batch: DataFrame, batchId: Long,
                 valueCol: String, monitorDir: String): Unit = {
    val keyCols = ref.keys.map(col)
    val cur = batch.join(broadcast(ref.ranges), ref.keys)
      .withColumn("__bin",
        Drift.binId(col(valueCol), col("__lo"), col("__hi"), ref.bins))
      .groupBy(keyCols :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__cc"))
    val w = Window.partitionBy(keyCols: _*)
    val joined = ref.counts
      .join(cur, ref.keys :+ "__bin", "full_outer")
      .withColumn("__rc", coalesce(col("__rc"), lit(0L)))
      .withColumn("__cc", coalesce(col("__cc"), lit(0L)))
      .withColumn("__nr", max(col("__nr")).over(w)) // ref total rides ref rows
      .withColumn("__nc", sum(col("__cc")).over(w))
    landBatch(joined
      .withColumn("__term", Drift.psiTerm(col("__rc"), col("__cc"),
        col("__nr"), col("__nc"), ref.bins))
      .groupBy(keyCols: _*)
      .agg(graft.functions.roundStable(sum(col("__term")), 6).as("psi"),
        max(col("__nr")).as("n_ref"), max(col("__nc")).as("n_cur"))
      .withColumn("batch_id", lit(batchId))
      .orderBy(keyCols: _*)
      .coalesce(1), monitorDir, batchId)
  }
}
