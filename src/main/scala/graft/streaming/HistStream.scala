package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Aggregates
import graft.sources.Io.landBatch

/** Streaming ingest × mergeable histogram quantiles — the live form of
  * [[graft.etl.Aggregates.histSketch]]/`histQuantiles` (B37): each
  * micro-batch compresses to per-(key, bin) count rows against a
  * geometry FROZEN at stream start, and any-time quantile readout is a
  * plain merge of everything written so far. The streaming answer to
  * "p99 latency over the whole stream, queryable now" without ever
  * re-scanning history: a batch aggregates once, forever; merging is
  * vector addition (the B37 contract, here made temporal).
  *
  * The frozen geometry is WHY this composes: `histQuantiles` fails
  * loudly on mixed [lo, hi] geometries, and per-batch ad-hoc ranges
  * would produce exactly that. `buildGeometry` freezes per-key ranges
  * from a reference window once (localCheckpoint'd, never rescanned);
  * every batch bins against it, so all state rows are mergeable by
  * construction. Batch values outside the frozen range clamp into the
  * edge bins (the binId contract); keys unseen in the reference have
  * no geometry and are dropped (the cusum/RateStream "no baseline"
  * convention — widen by rebuilding the geometry).
  *
  * Exactly-once EFFECT by the [[DedupStream]] recipe: a batch's sketch
  * is deterministic and owns its `batch=<id>` directory, so replay
  * overwrites byte-identically; no fold, no state table, no gate —
  * the sketch's slice dimension IS the batch id.
  */
object HistStream {

  /** Frozen per-key bin geometry (keys, __lo, __hi). */
  final case class Geometry(ranges: DataFrame, keys: Seq[String], bins: Int)

  def buildGeometry(ref: DataFrame, keys: Seq[String], valueCol: String,
                    bins: Int = 100): Geometry = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    val ranges = ref.groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
      .localCheckpoint()
    Geometry(ranges, keys, bins)
  }

  /** One micro-batch's mergeable sketch partition. */
  def histBatch(geom: Geometry, batch: DataFrame, batchId: Long,
                valueCol: String, sketchDir: String): Unit =
    landBatch(Aggregates.histSketch(
        batch.withColumn("__slice", lit(batchId)),
        geom.keys, "__slice", valueCol, geom.bins,
        ranges = Some(geom.ranges))
      .orderBy(geom.keys.map(col) :+ col("__bin"): _*)
      .coalesce(1), sketchDir, batchId)

  /** Any-time quantile readout over everything written so far — the
    * merge is `histQuantiles`' vector addition over all batch slices.
    */
  def quantiles(spark: SparkSession, sketchDir: String, geom: Geometry,
                ps: Seq[Double]): DataFrame =
    Aggregates.histQuantiles(spark.read.parquet(sketchDir), geom.keys, ps)
}
