package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Io.landBatch

/** Streaming ingest × column profiling — the live form of
  * [[graft.etl.Profile]] (B43): each micro-batch compresses to one row
  * per profiled column holding the batch's null/row tallies plus a
  * mergeable DataSketches HLL sketch of its values, and "profile of
  * everything ingested so far, now" is a plain merge — counts add,
  * sketches union (`hll_union_agg`) — without ever rescanning history.
  * The null counts stay EXACT under merge; the distinct count is the
  * HLL estimate, which is the right trade at stream scale (the B43
  * `approxDistinct` flag made temporal — exact distinct-so-far would
  * need unbounded state per column).
  *
  * Exactly-once EFFECT by the [[HistStream]] recipe: a batch's profile
  * is derived only from that batch's rows and owns its `batch=<id>`
  * directory, so an at-least-once replay overwrites the partition with
  * a re-derivation of the same data — the merged readout never double
  * counts. One aggregation per batch (the B43 single-scan shape, HLL
  * path — no Expand), one long-form explode map-side.
  */
object ProfileStream {

  /** One micro-batch's per-column profile state:
    * (column, n_rows, n_null, sketch).
    */
  def profileBatch(batch: DataFrame, batchId: Long, cols: Seq[String],
                   stateDir: String): Unit = {
    require(cols.nonEmpty, "need at least one column to profile")
    // values go through CAST(... AS STRING) — hll_sketch_agg accepts
    // int/long/string/binary, not double/date; the canonical string
    // form is injective for those, so distinct counts are unchanged
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        expr(s"hll_sketch_agg(CAST($c AS STRING))").as(s"__sk_$c"))
    } :+ count(lit(1)).as("__n")
    val row = batch.agg(aggs.head, aggs.tail: _*)
    val items = array(cols.map(c => struct(lit(c).as("column"),
      col(s"__nn_$c").as("__nn"), col(s"__sk_$c").as("__sk"))): _*)
    landBatch(row.select(col("__n").as("n_rows"), explode(items).as("m"))
      .select(col("m.column").as("column"), col("n_rows"),
        (col("n_rows") - col("m.__nn")).as("n_null"),
        col("m.__sk").as("sketch"))
      .orderBy(col("column"))
      .coalesce(1), stateDir, batchId)
  }

  /** Any-time whole-stream profile: counts add, sketches union. Same
    * long-form schema as [[graft.etl.Profile.profile]] with the HLL
    * estimate in `n_distinct`.
    */
  def profile(spark: SparkSession, stateDir: String,
              digits: Int = 6): DataFrame =
    spark.read.parquet(stateDir)
      .groupBy(col("column"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_null")).as("n_null"),
        expr("hll_sketch_estimate(hll_union_agg(sketch))").as("n_distinct"))
      .select(col("column"), col("n_rows"), col("n_null"), col("n_distinct"),
        graft.functions.roundStable(col("n_null").cast("double") /
          greatest(col("n_rows"), lit(1L)), digits).as("null_rate"),
        graft.functions.roundStable(col("n_distinct").cast("double") /
          greatest(col("n_rows") - col("n_null"), lit(1L)), digits)
          .as("distinct_rate"))
}
