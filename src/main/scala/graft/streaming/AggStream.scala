package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming ingest × incremental aggregation — the continuously-
  * maintained summary: facts arrive as micro-batches, each batch folds
  * its partial aggregates into the [[graft.etl.IncrementalAgg]] state in
  * O(batch), and any reader gets the up-to-date grouped summary from
  * [[graft.etl.IncrementalAgg.read]] at any time. The streaming upgrade
  * of the reference's scheduled daily-summary job (dag:244-253), by the
  * same recipe as [[DedupStream]]: exactly-once EFFECT under
  * foreachBatch's at-least-once contract with no transaction log,
  * because the fold is idempotent — `appendDelta`'s batch-id gate
  * appends zero rows for a replayed batch. (As with any batch-id gate,
  * this relies on Structured Streaming's replayable-source contract:
  * a replayed batch id re-delivers the same rows.)
  *
  * Unlike the stateful windowed aggregations in [[EventStream]], the
  * state here lives in a bucketed TABLE, not executor state stores — so
  * it survives checkpoint loss, serves batch readers concurrently, and
  * is compacted on a cadence like any other table.
  */
object AggStream {

  /** One micro-batch's fold: gated append + optional compaction on the
    * cadence. Stream it with [[graft.sources.Stream.sink]]. The state
    * must exist — [[graft.etl.IncrementalAgg.writeState]] the historical
    * facts first (an empty base is fine). Idempotent under replay —
    * `appendDelta`'s batch-id gate appends zero rows for a batch id
    * already applied (before OR after a compaction: the marker table
    * survives the fold).
    *
    * `compactEvery` > 0 folds the partial-row log every that-many
    * batches; compaction is crash-safe and keeps replay gating (the
    * marker table), so the cadence composes freely with at-least-once
    * replay.
    */
  def aggBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      valueCol: String, name: String, compactEvery: Int = 0): Unit = {
    graft.etl.IncrementalAgg.appendDelta(batch, keys, valueCol, name, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      graft.etl.IncrementalAgg.compact(batch.sparkSession, name)
  }
}
