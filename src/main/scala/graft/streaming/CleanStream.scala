package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Io.landBatch
import graft.text.Corpus

/** Streaming ingest × benchmark decontamination — the admission gate a
  * continuously-fed training corpus runs BEFORE anything else sees the
  * data: each arriving micro-batch is screened against the benchmark
  * suite's bloom filter ([[graft.text.Corpus.benchFilter]], built ONCE
  * at stream start — the bench side never recomputes per batch), hits
  * are confirmed exactly, and the batch splits into a clean landing and
  * a quarantine landing.
  *
  * Exactly-once EFFECT under foreachBatch's at-least-once contract by
  * the [[DedupStream]] recipe: each batch owns its `batch=<id>`
  * directory and a replay OVERWRITES it byte-identically (screening is
  * deterministic), so no transaction log is needed. Downstream readers
  * take `spark.read.parquet(cleanDir)` at any time; a batch is visible
  * only after its directory swap completes.
  */
object CleanStream {

  /** One micro-batch's screening: stats over the batch against the
    * (static, bounded) benchmark, split, land clean/contaminated rows
    * under the batch's own `cleanDir`/`quarantineDir` directories
    * (replay = byte-identical overwrite). Quarantined rows carry the
    * `n_hits`/`contamination` evidence columns.
    *
    * A stream builds `filter` once before it starts —
    * `Corpus.benchFilter(bench, textCol, n, persist = true)` — feeds it
    * to every batch through [[graft.sources.Stream.sink]], and
    * `release()`s it after the stream stops.
    */
  def contaminationBatch(filter: Corpus.BenchFilter, batch: DataFrame,
      batchId: Long, idCol: String, textCol: String,
      cleanDir: String, quarantineDir: String): Unit = {
    val spark = batch.sparkSession
    val before = graft.Blocks.persistedIds(spark)
    val stats = Corpus.contaminationWith(filter, batch, idCol, textCol)
      .localCheckpoint() // screened once; both splits read the result
    val dirty = stats.filter(col("contaminated"))
    landBatch(batch.join(dirty.select(col(idCol)), Seq(idCol), "left_anti"),
      cleanDir, batchId)
    landBatch(batch.join(dirty.select(col(idCol), col("n_hits"), col("contamination")),
        Seq(idCol)), quarantineDir, batchId)
    graft.Blocks.releaseSince(spark, before)
  }
}
