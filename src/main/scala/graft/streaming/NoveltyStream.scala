package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Io.landBatch

/** Streaming ingest × corpus novelty — the live form of
  * [[graft.text.Corpus.novelty]] (C81): each micro-batch of documents
  * is scored for the fraction of its distinct word n-grams NEVER seen
  * in any EARLIER batch, and the batch's novel shingles (hashed, the
  * IncrementalDedup wire convention) append to the state. The
  * feed-health monitor this exists for: a crawler that starts
  * re-fetching what the corpus already holds shows up as a collapsing
  * per-batch novelty curve, batches before any dedup decision is made.
  *
  * State = one `batch=<id>` partition of NOVEL shingle hashes per
  * batch — deduped by construction (a shingle is stored only by the
  * first batch that saw it), so state grows with the corpus VOCABULARY,
  * not the corpus. Exactly-once effect by the [[HistStream]] recipe
  * PLUS a scoping rule: a batch scores only against partitions with
  * `batch < id` (its own replayed partition never pollutes its
  * baseline), and overwrites its own dirs wholly — replay is
  * idempotent by construction, not by luck.
  */
object NoveltyStream {

  private def shingleHashes(docs: DataFrame, textCol: String,
                            n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    docs.select(toks.as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(explode(sequence(lit(1),
        size(col("__toks")) - (n - 1))).as("__i"), col("__toks"))
      .select(xxhash64(concat_ws(" ",
        slice(col("__toks"), col("__i"), lit(n)))).as("sh"))
      .distinct()
  }

  /** Score one micro-batch and append its novel shingles to the state.
    * Writes `reportDir/batch=<id>` (one row: batch_id, n_docs,
    * n_shingles, n_new, novelty_rate) and `stateDir/batch=<id>` (the
    * novel hashes).
    */
  def noveltyBatch(batch: DataFrame, batchId: Long, textCol: String,
                   stateDir: String, reportDir: String, n: Int = 3,
                   digits: Int = 6): Unit = {
    val spark = batch.sparkSession
    val sh = shingleHashes(batch, textCol, n)
    // no state dir yet (the stream's first batch) = an empty prior; any
    // other read failure is real and propagates
    val state = new org.apache.hadoop.fs.Path(stateDir)
    val prior =
      if (state.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(state))
        spark.read.parquet(stateDir).filter(col("batch") < batchId).select(col("sh"))
      else spark.emptyDataFrame.select(lit(0L).as("sh")).limit(0)
    val novel = sh.join(prior, Seq("sh"), "left_anti")
      .localCheckpoint() // scored AND stored; don't recompute the anti-join
    val nDocs = batch.count()
    val nSh = sh.count()
    val nNew = novel.count()
    landBatch(novel.coalesce(1), stateDir, batchId)
    import spark.implicits._
    val rate = if (nSh == 0) 0.0
      else BigDecimal(nNew.toDouble / nSh)
        .setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble
    landBatch(Seq((batchId, nDocs, nSh, nNew, rate))
      .toDF("batch_id", "n_docs", "n_shingles", "n_new", "novelty_rate")
      .coalesce(1), reportDir, batchId)
  }

  /** The whole-stream novelty curve so far. */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .select(col("batch_id"), col("n_docs"), col("n_shingles"),
        col("n_new"), col("novelty_rate"))
      .orderBy(col("batch_id"))
}
