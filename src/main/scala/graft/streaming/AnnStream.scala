package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming ingest × incremental ANN — the fourth incremental surface's
  * per-batch fold, closing the family ([[DedupStream]], [[AggStream]],
  * [[DedupStream.dedupBatch]]'s `clusterName` CC composition): an
  * embedding stream lands as micro-batches, each batch is assigned
  * against the FROZEN coarse centroids and appended to the bucketed cell
  * table in O(batch) ([[graft.sim.IncrementalAnn.appendVectors]]), and
  * similarity search ([[graft.sim.IncrementalAnn.topK]]) sees every
  * vector the moment its batch commits.
  *
  * Exactly-once EFFECT under foreachBatch's at-least-once contract by
  * the family's standard argument: the append's id-gate anti-join makes
  * a replayed batch a no-op, and the cells-before-ids write order means
  * a crash between the two can only leave orphan cell rows, which search
  * max-folds away and [[graft.sim.IncrementalAnn.compactCells]]
  * physically removes.
  */
object AnnStream {

  /** One micro-batch's fold into the named ANN index: append through
    * the id gate, land the drift row, compact on cadence. The oracle gate
    * (q387), the backfill path and [[graft.sources.Stream.sink]] all run
    * this EXACT code. The index must exist —
    * [[graft.sim.IncrementalAnn.writeIndex]] the historical corpus first
    * (centroids are frozen at that point; the stream only ever assigns,
    * never retrains).
    *
    * `compactEvery` > 0 rebuilds the cells/ids tables every that-many
    * batches, bounding the per-append file accumulation; the rebuild is
    * crash-safe (swap + recover-on-entry) and content-preserving, so the
    * cadence composes freely with at-least-once replay.
    *
    * `driftLog` appends each batch's quantization-drift row
    * ([[graft.sim.IncrementalAnn.driftStats]] + `batch_id`) to a parquet
    * log — the retrain monitor running WHERE the drift would happen, at
    * O(batch) per batch. Stats are deterministic per (batch, frozen
    * centroids), so an at-least-once replay appends a byte-identical
    * row; readers fold with `dropDuplicates("batch_id")` and alert on
    * `drift_ratio` trending away from 1.
    */
  def annBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, name: String, compactEvery: Int = 0,
      driftLog: Option[String] = None): Unit = {
    graft.sim.IncrementalAnn.appendVectors(batch, idCol, vecCol, name)
    driftLog.foreach { path =>
      graft.sim.IncrementalAnn.driftStats(batch, vecCol, name)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .coalesce(1).write.mode("append").parquet(path)
    }
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      graft.sim.IncrementalAnn.compactCells(batch.sparkSession, name)
  }
}
