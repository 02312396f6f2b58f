package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming ingest × change-point monitoring — the live form of
  * [[graft.etl.Drift.cusum]], and the reason its closed form matters:
  * `S_t = P_t − min(0, min_{j≤t} P_j)` makes the sequential CUSUM
  * recursion RESUMABLE across micro-batches from two numbers per key
  * PER SIDE — the running prefix-sum `P_end` and running minimum
  * `P_min` (the lower side keeps its own pair over `−z − k` prefix
  * sums, so both the upward and the downward monitor resume exactly).
  * A year of stream history never replays: each batch does O(batch)
  * work against a key-row state table, exactly like the other
  * incremental surfaces (AggStream, AnnStream, DimStream).
  *
  * Batch contract: rows are ordered WITHIN a batch by (orderCol,
  * tieCol) and batches arrive in stream order — cross-batch
  * out-of-order data is the caller's watermark problem (same contract
  * as DimStream's monotone gate). Exactly-once EFFECT under
  * foreachBatch's at-least-once contract: per-batch output dirs with
  * deterministic bytes (the DedupStream recipe) + a monotone
  * `last_batch` gate on the state table — a replayed batch either
  * recomputes from the same prior state (crash before the state swap:
  * byte-identical overwrite, then the state lands) or no-ops entirely
  * (state already advanced ⇒ its output landed first, since the output
  * write precedes the swap).
  */
object CusumStream {

  /** Reference moments frozen at stream start (σ=0 keys dropped — no
    * scale to standardize against; the BATCH operator emits them with
    * NULL statistics instead, but a stream would carry useless NULL
    * state forever, so here they are excluded up front), plus the alarm
    * geometry.
    */
  final case class Monitor(stats: DataFrame, keys: Seq[String],
                           slack: Double, h: Double)

  def buildReference(ref: DataFrame, keys: Seq[String], valueCol: String,
                     slack: Double = 0.5, h: Double = 5.0): Monitor = {
    val stats = ref.groupBy(keys.map(col): _*)
      .agg(avg(col(valueCol)).as("__mu"),
        stddev_samp(col(valueCol)).as("__sd"))
      .filter(col("__sd") > 0)
      .localCheckpoint()
    Monitor(stats, keys, slack, h)
  }

  /** One micro-batch's fold: one row per key — upper alarms
    * (n_alarms, first_alarm_at, max_s), lower alarms (the `_lo` triple),
    * n_cur, batch_id — under `monitorDir/batch=<id>`, with the per-key
    * per-side (P_end, P_min) state carried in `stateDir`.
    */
  def cusumBatch(mon: Monitor, batch: DataFrame, batchId: Long,
                 valueCol: String, orderCol: String, tieCol: String,
                 stateDir: String, monitorDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val keyCols = mon.keys.map(col)
    val live = new Path(stateDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = live.suffix("__cusuming")
    graft.sources.Io.recoverSwap(fs, live, tmp)

    val hasState = fs.exists(live)
    val state =
      if (hasState) {
        // schema migration: stateDirs written by the one-sided CUSUM
        // (pre-__qe/__qm) resume cleanly — the lower side starts from
        // its key-never-seen defaults (P_end=0, P_min=+inf supplies the
        // zero floor downstream) instead of throwing AnalysisException
        // on the missing columns and wedging the in-flight monitor.
        val raw = spark.read.parquet(stateDir)
        val withQe = if (raw.columns.contains("__qe")) raw
          else raw.withColumn("__qe", lit(0.0))
        if (withQe.columns.contains("__qm")) withQe
        else withQe.withColumn("__qm", lit(Double.MaxValue))
      }
      else mon.stats.select(keyCols: _*)
        .limit(0)
        .withColumn("__pe", lit(0.0)).withColumn("__pm", lit(0.0))
        .withColumn("__qe", lit(0.0)).withColumn("__qm", lit(0.0))
        .withColumn("__lb", lit(-1L))
    // monotone replay gate: if this batch already folded in, its output
    // landed before the state swap — the whole call is a no-op. max() over
    // an EMPTY state table (a first batch that was empty or missed every
    // key in mon.stats writes zero state rows) is NULL — read it boxed and
    // coalesce to -1 so the stream can't wedge on a getLong NPE.
    if (hasState) {
      val lb = Option(state.agg(max(col("__lb"))).collect()(0).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      if (lb >= batchId) return
    }

    val wOrd = Window.partitionBy(keyCols: _*)
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = (col(valueCol) - col("__mu")) / col("__sd")
    val xu = z - lit(mon.slack)
    val xl = -z - lit(mon.slack)
    // keys with no prior state start at P_end = 0, P_min = +inf (no
    // prior prefix to dip below — min(0, ...) supplies the zero floor);
    // the lower side runs the identical drawdown over its own prefix
    val scored = batch.join(broadcast(mon.stats), mon.keys)
      .join(broadcast(state.select(
        keyCols :+ col("__pe") :+ col("__pm") :+
          col("__qe") :+ col("__qm"): _*)), mon.keys, "left")
      .withColumn("__pe", coalesce(col("__pe"), lit(0.0)))
      .withColumn("__pm", coalesce(col("__pm"), lit(Double.MaxValue)))
      .withColumn("__qe", coalesce(col("__qe"), lit(0.0)))
      .withColumn("__qm", coalesce(col("__qm"), lit(Double.MaxValue)))
      .withColumn("__p", col("__pe") + sum(xu).over(wOrd))
      .withColumn("__rm", least(col("__pm"), min(col("__p")).over(wOrd)))
      .withColumn("__s", col("__p") - least(col("__rm"), lit(0.0)))
      .withColumn("__q", col("__qe") + sum(xl).over(wOrd))
      .withColumn("__rn2", least(col("__qm"), min(col("__q")).over(wOrd)))
      .withColumn("__sl", col("__q") - least(col("__rn2"), lit(0.0)))
      .localCheckpoint() // one computation feeds output AND state
    graft.sources.Io.landBatch(scored
      .withColumn("__alarm", (col("__s") > mon.h).cast("long"))
      .withColumn("__alarmLo", (col("__sl") > mon.h).cast("long"))
      .groupBy(keyCols: _*)
      .agg(
        sum(col("__alarm")).as("n_alarms"),
        min(when(col("__alarm") === 1, col(orderCol))).as("first_alarm_at"),
        graft.functions.roundStable(max(col("__s")), 6).as("max_s"),
        sum(col("__alarmLo")).as("n_alarms_lo"),
        min(when(col("__alarmLo") === 1, col(orderCol)))
          .as("first_alarm_lo_at"),
        graft.functions.roundStable(max(col("__sl")), 6).as("max_s_lo"),
        count(lit(1)).as("n_cur"))
      .withColumn("batch_id", lit(batchId))
      .orderBy(keyCols: _*)
      .coalesce(1), monitorDir, batchId)

    // fold the batch into the state: last row's P becomes P_end, the
    // running min of ALL rows ever seen becomes P_min — per side;
    // untouched keys carry over unchanged
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col(orderCol).desc, col(tieCol).desc)
    val wAll = Window.partitionBy(keyCols: _*)
    val batchState = scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__minp", min(col("__p")).over(wAll))
      .withColumn("__minq", min(col("__q")).over(wAll))
      .filter(col("__rn") === 1)
      .select(keyCols :+ col("__p").as("__pe_new") :+
        least(col("__pm"), col("__minp")).as("__pm_new") :+
        col("__q").as("__qe_new") :+
        least(col("__qm"), col("__minq")).as("__qm_new"): _*)
    val nextState = state.select(keyCols :+ col("__pe") :+ col("__pm") :+
        col("__qe") :+ col("__qm"): _*)
      .join(batchState, mon.keys, "full_outer")
      .select(keyCols ++ Seq(
        coalesce(col("__pe_new"), col("__pe")).as("__pe"),
        coalesce(col("__pm_new"), col("__pm")).as("__pm"),
        coalesce(col("__qe_new"), col("__qe")).as("__qe"),
        coalesce(col("__qm_new"), col("__qm")).as("__qm"),
        lit(batchId).as("__lb")): _*)
    nextState.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    graft.sources.Io.swapDirs(fs, live, tmp)
    scored.unpersist(blocking = false)
  }
}
