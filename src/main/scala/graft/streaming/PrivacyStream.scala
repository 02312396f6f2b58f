package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Io.landBatch

/** Streaming privacy gate (D26) — the live half of
  * [[graft.etl.Privacy]] (q362/q363): per-batch k-anonymity /
  * l-diversity of the LANDED corpus, so the egress gate the batch
  * queries prove runs continuously as documents arrive instead of once
  * at publish time. The attack surface is cumulative — a QI class that
  * is safely large today can be created UNSAFE by one small batch —
  * so the state is the merged corpus's cells, not per-batch verdicts.
  *
  * Exactly-once EFFECT by the [[SloStream]]/[[CensusStream]]
  * partition-ownership recipe for additive state: each micro-batch
  * compresses to its OWN (QI…, sensitive) count cells under
  * `cells/batch=<id>`; an at-least-once replay overwrites that
  * partition with a byte-identical re-derivation (the cells are a
  * deterministic keyed count of the batch's rows), and the cross-batch
  * SUM double-counts nothing. Readout = the IDENTICAL fold the batch
  * reports use ([[graft.etl.Privacy.kAnonymityFromClasses]] /
  * `lDiversityFromCells`) over merged cells — split ≡ one-shot by
  * construction: class sizes are integer sums (associative across any
  * batch split) and distinct-sensitive counts are cell existence,
  * which sums preserve.
  *
  * Per batch: ONE keyed count, O(batch rows) in, O(batch cells) out;
  * the report folds run only at readout, over O(#classes) merged rows
  * — the q362/q363 scale shape, unchanged by streaming.
  */
object PrivacyStream {

  /** Land one micro-batch's additive (QI…, sensitive) cells. */
  def privacyBatch(batch: DataFrame, batchId: Long, quasiCols: Seq[String],
                   sensitiveCol: Column, stateDir: String): Unit = {
    require(quasiCols.nonEmpty, "need QI cols")
    landBatch(batch
      .groupBy(quasiCols.map(col) :+ sensitiveCol.as("__sv"): _*)
      .agg(count(lit(1)).as("__c"))
      .coalesce(1), s"$stateDir/cells", batchId)
  }

  /** Merged (QI…, sensitive, __n) cells over everything landed so far. */
  private def mergedCells(spark: SparkSession, stateDir: String,
                          quasiCols: Seq[String]): DataFrame =
    spark.read.parquet(s"$stateDir/cells")
      .groupBy(quasiCols.map(col) :+ col("__sv"): _*)
      .agg(sum(col("__c")).as("__n"))

  /** Any-time k-anonymity report over the landed corpus — identical
    * schema and math to [[graft.etl.Privacy.kAnonymityReport]] run over
    * the same rows in one batch.
    */
  def kAnonymity(spark: SparkSession, stateDir: String,
                 quasiCols: Seq[String], k: Int,
                 digits: Int = 6): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val classes = mergedCells(spark, stateDir, quasiCols)
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__n")).as("__n"))
    graft.etl.Privacy.kAnonymityFromClasses(classes, k, digits)
  }

  /** Any-time l-diversity report over the landed corpus — identical
    * schema and math to [[graft.etl.Privacy.lDiversityReport]].
    */
  def lDiversity(spark: SparkSession, stateDir: String,
                 quasiCols: Seq[String], l: Int,
                 digits: Int = 6): DataFrame = {
    require(l >= 2, s"need l >= 2, got $l")
    graft.etl.Privacy.lDiversityFromCells(
      mergedCells(spark, stateDir, quasiCols), quasiCols, l, digits)
  }
}
