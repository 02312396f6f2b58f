package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.sources.Io.landBatch

/** Streaming ingest × SCD2 temporal enrichment — the live form of the
  * q112 temporal join, and the payoff of keeping dimensions SCD2
  * (D12 maintains the table; this is why): each micro-batch of facts
  * joins the dimension version valid AT EACH FACT'S OWN EVENT TIME,
  * not whatever the dimension looks like when the batch happens to
  * run. An overwrite-in-place dimension gets late-arriving facts
  * WRONG (they see today's attributes); the versioned dimension gets
  * them right by construction.
  *
  * Exactly-once effect AND replay stability come from the SCD2
  * invariant itself: closed versions are immutable and new versions
  * open strictly later (D12's monotone gate enforces exactly this), so
  * re-enriching an old batch — even against a dimension that has since
  * gained versions — resolves every fact to the SAME version and
  * produces byte-identical output into its own `batch=<id>` directory
  * (the DedupStream recipe; spec proves the replay-after-evolution
  * case). No state, no gate — the dimension's history IS the state.
  */
object EnrichStream {

  /** One micro-batch temporally enriched against the SCD2 dimension at
    * `dimPath`, landed under `outDir/batch=<id>`. `orderCols` must be a
    * unique key of the batch — it pins the written row order so replays
    * are byte-stable.
    */
  def enrichBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
                  tsCol: String, orderCols: Seq[String], dimPath: String,
                  outDir: String): Unit = {
    val dim = batch.sparkSession.read.parquet(dimPath)
    landBatch(Scd2.temporalJoin(batch, dim, keys, tsCol)
      .orderBy(orderCols.map(col): _*)
      .coalesce(1), outDir, batchId)
  }
}
