package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest × heavy hitters: maintain the top tokens of an
  * unbounded stream with BOUNDED state, by composing the batch-gated
  * counting state of [[graft.etl.IncrementalAgg]] with its Misra-Gries
  * compaction ([[graft.etl.IncrementalAgg.compactTopK]]). Each batch
  * appends O(|batch| distinct tokens) gated partial counts; the
  * compaction cadence folds them and evicts down to `capacity` keys —
  * so a year of stream never grows the state past `capacity` rows even
  * over an unbounded token domain, at the classic MG price: counts are
  * undercounts by at most N/(capacity+1), and any token with share
  * above 1/(capacity+1) is guaranteed retained.
  *
  * Exactly-once EFFECT under foreachBatch's at-least-once delivery for
  * the same reason as [[AggStream]]/[[DedupStream]]: the append is
  * batch-id gated (replay appends zero rows) and compaction records the
  * erased ids in the marker table first. The batch twin of this summary
  * is `q80_heavy_hitters` (exact verification pass over MG candidates);
  * this is its continuously-maintained form.
  */
object TopKStream {

  /** One micro-batch's fold: gated append of the batch's token counts,
    * then an MG fold on the cadence. Stream it with
    * [[graft.sources.Stream.sink]]. The state must exist — build it with
    * [[graft.etl.IncrementalAgg.writeState]] over the historical tokens
    * (an empty base is fine). `compactEvery` bounds how many batches of
    * partial rows accumulate between MG folds; state size between folds
    * is `capacity` + the uncompacted batches' distinct tokens. A replay
    * re-runs the fold over state already within `capacity`, which
    * evicts nothing.
    */
  def topKBatch(batch: DataFrame, batchId: Long, tokenCol: String,
      name: String, capacity: Int, compactEvery: Int = 4): Unit = {
    val toks = batch.select(col(tokenCol).cast("string").as("token"))
      .withColumn("__one", lit(1.0))
    graft.etl.IncrementalAgg.appendDelta(toks, Seq("token"), "__one", name, batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      graft.etl.IncrementalAgg.compactTopK(batch.sparkSession, name, capacity)
  }

  /** The current top-k claim: retained tokens by (lower-bound) count,
    * deterministic tie-break on the token.
    */
  def topK(spark: SparkSession, name: String, k: Int): DataFrame =
    graft.etl.IncrementalAgg.read(spark, name)
      .select(col("token"), col("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(k)
}
