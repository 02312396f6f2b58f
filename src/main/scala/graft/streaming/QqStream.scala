package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.roundStable
import graft.sources.Io.landBatch

/** Streaming ingest × the quantile-shift profile — the live form of
  * [[graft.etl.Drift.qqShift]], and the diagnosis layer of the
  * streaming drift family ([[DriftStream]] PSI says THAT a batch
  * drifted, [[RateStream]] watches volume; this says WHERE in the
  * distribution it moved: "p90 latency +40 ms, body stable" on the
  * batch that did it). The reference window compresses ONCE at stream
  * start to its per-key exact interior deciles (O(#keys × (parts−1))
  * rows, localCheckpoint'd — never rescanned); each micro-batch
  * computes ITS OWN exact deciles (a micro-batch is bounded, so the
  * exact `percentile` is affordable where the 100 TB batch equivalent
  * would ride the A50 narrowing) and lands per-(key, decile) shift
  * rows under `batch=<id>`.
  *
  * REFERENCE keys drive the output (left join — the [[RateStream]]
  * convention): a key silent in the batch emits its reference deciles
  * with NULL current/shift — visible, not missing. Exactly-once
  * effect by the [[DedupStream]] recipe: deterministic scoring +
  * per-batch directories ⇒ replay overwrites byte-identically.
  */
object QqStream {

  /** The reference compressed to its monitoring state: one row per
    * (key, decile) with the exact reference quantile. Bounded for the
    * stream's lifetime.
    */
  final case class Reference(deciles: DataFrame, keys: Seq[String],
                             parts: Int)

  private def decilesOf(df: DataFrame, keys: Seq[String], valueCol: String,
                        parts: Int, as: String): DataFrame = {
    val keyCols = keys.map(col)
    val probs = (1 until parts).map(_.toDouble / parts)
    val pSql = probs.map(p => s"${p}D").mkString("array(", ",", ")")
    df.groupBy(keyCols: _*)
      .agg(expr(s"percentile($valueCol, $pSql)").as("__q"),
        count(lit(1)).as(s"n_$as"))
      .select(keyCols :+ posexplode(col("__q")) :+ col(s"n_$as"): _*)
      .select(keyCols ++ Seq((col("pos") + 1).cast("long").as("decile"),
        col("col").as(s"q_$as"), col(s"n_$as")): _*)
  }

  /** Compress `ref` once to its per-(key, decile) exact quantiles. */
  def buildReference(ref: DataFrame, keys: Seq[String], valueCol: String,
                     parts: Int = 10): Reference = {
    require(parts >= 2, s"need parts >= 2, got $parts")
    Reference(decilesOf(ref, keys, valueCol, parts, "ref").localCheckpoint(),
      keys, parts)
  }

  /** One micro-batch's quantile shifts against the frozen reference
    * deciles, landed under `monitorDir/batch=<id>`: batch deciles per
    * key, reference-left-joined, written sorted — deterministic bytes.
    */
  def qqBatch(ref: Reference, batch: DataFrame, batchId: Long,
              valueCol: String, monitorDir: String): Unit = {
    val keyCols = ref.keys.map(col)
    val cur = decilesOf(batch, ref.keys, valueCol, ref.parts, "cur")
    val scored = ref.deciles
      .join(cur, ref.keys :+ "decile", "left")
      .select(keyCols ++ Seq(col("decile"),
        roundStable(col("q_ref"), 6).as("q_ref"),
        roundStable(col("q_cur"), 6).as("q_cur"),
        roundStable(col("q_cur") - col("q_ref"), 6).as("shift"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        lit(batchId).as("batch_id")): _*)
      .sort((keyCols :+ col("decile")): _*)
    landBatch(scored, monitorDir, batchId)
  }
}
