package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{OuterProductAgg, VecSumAgg, roundStable}
import graft.sources.Io.landBatch

/** Streaming embedding-geometry census (D27) — the live half of the
  * covariance diagnostics (q377/q379 participation ratio, q292's PC1
  * family): each embedding micro-batch compresses to its OWN raw
  * moment row — `n`, `Σx` (d doubles), `Σxxᵀ` (d² doubles, one
  * [[graft.functions.OuterProductAgg]] pass) — landed under
  * `moments/batch=<id>`, and the whole-corpus geometry readout
  * ("has the feed's effective dimensionality collapsed since the
  * model swap") is a MERGE of those moments, never a rescan: raw
  * moment sums are associative across any batch split, so the merged
  * covariance IS the one-shot covariance.
  *
  * Exactly-once EFFECT by the [[SloStream]]/[[CensusStream]]
  * partition-ownership recipe: a batch's moment row derives only from
  * that batch's rows and owns its directory — an at-least-once replay
  * overwrites it with the identical re-derivation; the cross-batch sum
  * double-counts nothing. State is O(batches · d²) doubles — KB-scale,
  * corpus-size-independent (the theta-sketch argument, for moments).
  *
  * fp contract: integer-valued or low-magnitude embeddings merge
  * bit-identically to one-shot (exact fp sums); in general the split
  * differs in last ulps and the readout rounds (the PC1 discipline).
  */
object CovStream {

  /** Land one micro-batch's raw covariance moments (one row). `n` counts
    * only non-NULL vector rows — exactly the rows the moment aggregates
    * consume (VecSumAgg/OuterProductAgg skip NULL vectors); an all-rows
    * count would persist an internally inconsistent (n, Σx, Σxxᵀ) triple
    * that skews every future merged readout. Empty (or all-NULL) batches
    * land n = 0 with NULL moment arrays — visible, merge-inert.
    */
  def covBatch(batch: DataFrame, batchId: Long, vecCol: String,
               stateDir: String): Unit = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    landBatch(batch
      .agg(count(vd).as("n"), VecSumAgg.vecSum(vd).as("sx"),
        OuterProductAgg.outerProductSum(vd, vd).as("sxy"))
      .coalesce(1), s"$stateDir/moments", batchId)
  }

  /** Land one micro-batch's raw covariance moments PER KEY (one row per
    * key present in the batch) — the keyed form ([[covBatch]] × q379's
    * keyed buffers): the curation question is per-SOURCE ("which feed
    * collapsed since the model swap"), and a global moment row cannot
    * answer it after the fact. Same n-consistency contract (n = the
    * key's non-NULL vector rows) and the same partition-ownership
    * idempotence; state is O(batches · #keys · d²) doubles — KB-scale
    * for model-constant key counts, corpus-size-independent.
    *
    * Key contract matches [[graft.sim.Geometry.participationRatioBy]]:
    * the key reads as LONG (numeric cohort ids); map string keys to a
    * dense id upstream.
    */
  def covBatchBy(batch: DataFrame, batchId: Long, keyCol: String,
                 vecCol: String, stateDir: String): Unit = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    landBatch(batch
      .groupBy(col(keyCol).cast("long").as("k"))
      .agg(count(vd).as("n"), VecSumAgg.vecSum(vd).as("sx"),
        OuterProductAgg.outerProductSum(vd, vd).as("sxy"))
      .coalesce(1), s"$stateDir/moments_by", batchId)
  }

  /** Any-time participation-ratio report over everything ingested so
    * far — identical schema and math to
    * [[graft.sim.Geometry.participationRatio]] over the same rows in
    * one batch: merge the landed moments (one VecSumAgg pass over
    * O(batches) rows), fold the traces driver-side (the shared
    * [[graft.sim.Geometry.tracesFromMoments]]), one row out.
    */
  def participationRatio(spark: SparkSession, stateDir: String,
                         digits: Int = 6): DataFrame = {
    import spark.implicits._
    val merged = spark.read.parquet(s"$stateDir/moments")
      .filter(col("n") > 0)
      .agg(sum(col("n")).as("n"), VecSumAgg.vecSum(col("sx")).as("sx"),
        VecSumAgg.vecSum(col("sxy")).as("sxy"))
      .head()
    require(!merged.isNullAt(0) && merged.getLong(0) > 0,
      "CovStream.participationRatio: no rows landed yet")
    val n = merged.getLong(0)
    val sx = merged.getSeq[Double](1).toArray
    val sxy = merged.getSeq[Double](2).toArray
    val (tr, tr2) = graft.sim.Geometry.tracesFromMoments(n.toDouble, sx, sxy)
    Seq((sx.length.toLong, n, tr,
      if (tr2 > 0) Some(tr * tr / tr2) else None))
      .toDF("dim", "n_vectors", "__tr", "__pr")
      .select(col("dim"), col("n_vectors"),
        roundStable(col("__tr"), digits).as("trace_cov"),
        roundStable(col("__pr"), digits).as("participation_ratio"),
        roundStable(col("__pr") / col("dim"), digits).as("pr_share"))
  }

  /** Any-time PER-KEY participation-ratio report — identical schema and
    * math to [[graft.sim.Geometry.participationRatioBy]] over the same
    * rows in one batch: merge per-key moments across batches (one keyed
    * agg over O(batches · #keys) rows), fold each key's traces
    * driver-side (bounded: #keys model constants). The per-source
    * collapse alarm is a filter on `pr_share` against the feed's
    * siblings — a key whose PR sits far below the rest embeds into a
    * thinner subspace and needs re-embedding before mixing.
    */
  def participationRatioBy(spark: SparkSession, stateDir: String,
                           keyCol: String = "key",
                           digits: Int = 6): DataFrame = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$stateDir/moments_by")
      .filter(col("n") > 0)
      .groupBy(col("k"))
      .agg(sum(col("n")).as("n"), VecSumAgg.vecSum(col("sx")).as("sx"),
        VecSumAgg.vecSum(col("sxy")).as("sxy"))
      .collect() // bounded: #keys × (1 + d + d²) doubles
    require(rows.nonEmpty,
      "CovStream.participationRatioBy: no rows landed yet")
    val out = rows.toSeq.map { r =>
      val sx = r.getSeq[Double](2).toArray
      val sxy = r.getSeq[Double](3).toArray
      val (tr, tr2) =
        graft.sim.Geometry.tracesFromMoments(r.getLong(1).toDouble, sx, sxy)
      (r.getLong(0), sx.length.toLong, r.getLong(1), tr,
        if (tr2 > 0) Some(tr * tr / tr2) else None)
    }
    out.toDF("key", "dim", "n_vectors", "__tr", "__pr")
      .select(col("key").as(keyCol), col("dim"), col("n_vectors"),
        roundStable(col("__tr"), digits).as("trace_cov"),
        roundStable(col("__pr"), digits).as("participation_ratio"),
        roundStable(col("__pr") / col("dim"), digits).as("pr_share"))
  }
}
