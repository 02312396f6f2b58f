package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Rules
import graft.sources.Io.landBatch

/** Streaming ingest × the declarative data-quality gate — the live
  * form of [[graft.etl.Rules]] (B44): every micro-batch evaluates the
  * SAME rule set in its one-scan aggregation and appends a per-batch
  * report row per rule, so a contract violation surfaces on the batch
  * that introduced it (and the violation-rate TREND is a first-class
  * time series, not a log grep). `Unique` rules are batch-scoped here
  * by contract — within-batch duplicate detection; CROSS-batch
  * uniqueness is [[DedupStream]]'s job (exact global uniqueness over
  * an unbounded stream is that operator's whole design).
  *
  * Exactly-once effect by the [[HistStream]] recipe: a batch's report
  * derives only from that batch's rows and owns its `batch=<id>`
  * directory — replay re-derives identical rows. The report is
  * mergeable downstream (violation counts add across batches for
  * every row-level rule).
  */
object RulesStream {

  def rulesBatch(batch: DataFrame, batchId: Long, rules: Seq[Rules.Rule],
                 reportDir: String): Unit =
    landBatch(Rules.check(batch, rules)
      .withColumn("batch_id", lit(batchId))
      .orderBy(col("rule"), col("target"))
      .coalesce(1), reportDir, batchId)

  /** The violation-rate trend: one row per (batch, rule). */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .select(col("batch_id"), col("rule"), col("target"),
        col("n_violations"), col("n_rows"), col("violation_rate"),
        col("passed"))
      .orderBy(col("batch_id"), col("rule"), col("target"))
}
