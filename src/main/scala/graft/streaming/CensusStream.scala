package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.roundStable
import graft.sources.Io.landBatch
import graft.text.TextStats.tokens

/** Streaming ingest × corpus census — the live half of the curation
  * loop whose batch math is [[graft.text.Corpus.vocabCoverageCurve]]
  * (q327) and [[graft.text.Corpus.dupProfile]] (q328): each document
  * micro-batch compresses to its OWN additive census cells —
  * per-token counts (`tokens/batch=<id>`) and per-(source,
  * fingerprint) counts (`cells/batch=<id>`) — and the whole-corpus
  * readouts ("is 32k vocab still enough", "did cross-source
  * duplication start climbing") are plain merges over the landed
  * state, never a rescan of history.
  *
  * Exactly-once EFFECT by the [[SloStream]] partition-ownership
  * recipe for additive state: a batch's cells are derived only from
  * that batch's rows and own their `batch=<id>` directories, so an
  * at-least-once replay overwrites the partition with a byte-identical
  * re-derivation and the cross-batch SUM double-counts nothing; a
  * token or fingerprint split across batches heals by that same sum.
  * Per batch: one token explode + keyed count (O(batch tokens) in,
  * O(batch vocab) out) and one two-key count (O(batch docs) in,
  * O(batch fingerprints) out) — the rank window and the global
  * fingerprint join run only at READOUT time, over merged
  * O(vocab) / O(#fingerprints) state.
  */
object CensusStream {

  /** Land one micro-batch's census cells. */
  def censusBatch(batch: DataFrame, batchId: Long, sourceCol: String,
                  textCol: String, fingerprint: Column,
                  stateDir: String): Unit = {
    landBatch(batch.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"))
      .coalesce(1), s"$stateDir/tokens", batchId)
    landBatch(batch.select(col(sourceCol).as("source"), fingerprint.as("fp"))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("c"))
      .coalesce(1), s"$stateDir/cells", batchId)
  }

  /** Any-time vocabulary coverage curve over everything ingested so
    * far — same math (and column schema) as
    * [[graft.text.Corpus.vocabCoverageCurve]]: merge per-batch token
    * counts by sum, then the identical (tf DESC, token) rank cut.
    */
  def vocabCurve(spark: SparkSession, stateDir: String,
                 cuts: Seq[Int] = Seq(100, 500, 1000, 5000),
                 digits: Int = 6): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(_ >= 1), s"bad cuts: $cuts")
    val freq = spark.read.parquet(s"$stateDir/tokens")
      .groupBy(col("tok"))
      .agg(sum(col("tf")).cast("double").as("__f"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("__f").desc, col("tok"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    freq
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .withColumn("__tot", sum(col("__f")).over(wAll))
      .select(col("__rk"), col("__f"), col("__tot"),
        explode(array(cuts.map(lit): _*)).as("vocab_size"))
      .filter(col("__rk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(count(lit(1)).as("n_types"),
        roundStable(sum(col("__f")) / first(col("__tot")), digits)
          .as("coverage"),
        roundStable(lit(1.0) - sum(col("__f")) / first(col("__tot")),
          digits).as("oov_rate"))
  }

  /** Any-time duplication-locality profile over everything ingested so
    * far — same math (and column schema) as
    * [[graft.text.Corpus.dupProfile]], over the merged (source,
    * fingerprint) cells: intra vs cross classification needs the
    * GLOBAL per-fingerprint totals, which is exactly why the batch
    * path lands raw cells instead of per-batch verdicts (a fingerprint
    * first seen cross-source in batch 7 retroactively reclassifies
    * batch 2's copies — the sum-then-classify order makes that free).
    */
  def dupProfile(spark: SparkSession, stateDir: String,
                 digits: Int = 6): DataFrame = {
    val cells = spark.read.parquet(s"$stateDir/cells")
      .groupBy(col("source"), col("fp"))
      .agg(sum(col("c")).as("__c"))
    val global = cells.groupBy(col("fp"))
      .agg(sum(col("__c")).as("__tot"), count(lit(1)).as("__nsrc"))
    cells.join(global, "fp")
      .groupBy(col("source"))
      .agg(sum(col("__c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("__tot") > 1 && col("__nsrc") === 1, col("__c"))
          .otherwise(0L)).as("__intra"),
        sum(when(col("__nsrc") > 1, col("__c")).otherwise(0L))
          .as("__cross"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        col("__intra").as("n_intra_dup"), col("__cross").as("n_cross_dup"),
        roundStable(col("__intra").cast("double") / col("n_docs"),
          digits).as("intra_rate"),
        roundStable(col("__cross").cast("double") / col("n_docs"),
          digits).as("cross_rate"))
  }
}
