package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.roundStable
import graft.sources.Io.landBatch

/** Streaming ingest × theta-sketch audience state — the live half of
  * [[graft.etl.Aggregates.thetaOverlap]] (q370): each micro-batch
  * compresses to ONE theta sketch per segment
  * (`state/batch=<id>`), and "which segments share an audience, as of
  * now" is sketch algebra over the merged state — `theta_union_agg`
  * folds any batch subset into per-segment sketches, then pairwise
  * intersection/union/difference estimates — never a rescan of raw
  * events, never exact per-id state (the whole point: distinct-id
  * state is unbounded on a stream; a theta sketch is KB-bounded).
  *
  * Exactly-once EFFECT by the [[CensusStream]] partition-ownership
  * recipe for mergeable state: a batch's sketches derive only from
  * that batch's rows and own their `batch=<id>` directory; an
  * at-least-once replay overwrites the partition with a re-derivation
  * of the same data, and the cross-batch `theta_union_agg` is
  * idempotent on duplicates of the SAME id by construction (set
  * semantics — the property additive counters lack and the reason the
  * sketch, not a count, is the state).
  */
object ThetaStream {

  /** Land one micro-batch's per-segment sketches. */
  def sketchBatch(batch: DataFrame, batchId: Long, segmentCol: Column,
                  idCol: Column, stateDir: String): Unit =
    landBatch(batch.select(segmentCol.as("segment"), idCol.cast("string").as("__id"))
      .filter(col("segment").isNotNull && col("__id").isNotNull)
      .groupBy(col("segment"))
      .agg(expr("theta_sketch_agg(__id)").as("sketch"))
      .coalesce(1), stateDir, batchId)

  /** Any-time per-segment reach estimate over everything ingested. */
  def reach(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(stateDir)
      .groupBy(col("segment"))
      .agg(expr("theta_sketch_estimate(theta_union_agg(sketch))")
        .as("distinct_estimate"))

  /** Any-time audience-overlap estimates over the merged state: per
    * segment pair, estimated |A|, |B|, |A∩B|, |A∪B| and Jaccard.
    * Estimates (not exact counts) BY DESIGN — this is the unbounded-
    * stream side; the batch twin q370 carries the exactness gate.
    */
  def overlap(spark: SparkSession, stateDir: String,
              digits: Int = 6): DataFrame = {
    val merged = spark.read.parquet(stateDir)
      .groupBy(col("segment"))
      .agg(expr("theta_union_agg(sketch)").as("__sk"))
    merged.as("a").join(merged.as("b"),
        col("a.segment") < col("b.segment"))
      .select(col("a.segment").as("seg_a"), col("b.segment").as("seg_b"),
        expr("theta_sketch_estimate(a.__sk)").as("est_a"),
        expr("theta_sketch_estimate(b.__sk)").as("est_b"),
        expr("theta_sketch_estimate(theta_intersection(a.__sk, b.__sk))")
          .as("est_inter"),
        expr("theta_sketch_estimate(theta_union(a.__sk, b.__sk))")
          .as("est_union"))
      .withColumn("jaccard", roundStable(
        when(col("est_union") > 0,
          col("est_inter").cast("double") / col("est_union"))
          .otherwise(lit(0.0)), digits))
  }
}
