package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest × SCD Type-2 dimension maintenance: attribute
  * updates arrive as micro-batches and fold into the versioned
  * dimension at `path` via [[graft.operators.Scd2.merge]] — the
  * continuously-maintained dimension a CDC feed keeps current, by the
  * same exactly-once-EFFECT recipe as [[DedupStream]]/[[AggStream]]:
  * foreachBatch is at-least-once, so the fold must be idempotent.
  * Here idempotence comes from the MONOTONE gate, not a batch-id
  * marker: an update whose `ts` is not strictly later than its key's
  * open `valid_from` is dropped before the merge, so a replayed batch
  * (whose last surviving instant became the open `valid_from` on first
  * application) folds to zero new versions and the swap-rewrite lands
  * the identical table. The gate doubles as out-of-order protection —
  * SCD2 history is append-at-the-end by construction; true late-data
  * corrections are a backfill (rebuild from the full feed), not a
  * merge, and silently splicing them here would rewrite closed
  * intervals downstream readers already joined against.
  *
  * Writes go through the [[graft.sources.Io.swapDirs]] tmp-then-swap
  * recipe, so a crash mid-rewrite heals on the next batch
  * (`recoverSwap`) and readers never see a half-written dimension.
  *
  * Colliding instants WITHIN a batch — two updates for one (key, ts) —
  * fold deterministically to the least attribute tuple before the
  * merge (a sink must not throw mid-stream the way the batch path's
  * `requireUniqueInstants` does).
  */
object DimStream {

  /** Fold one update batch (keys ++ attrs ++ tsCol) into the dimension
    * at `path` (created on first batch). A live update stream runs it
    * through [[graft.sources.Stream.sink]]; the backfill path feeds
    * historical batches through here directly.
    */
  def scd2Batch(batch: DataFrame, path: String, keys: Seq[String],
                attrs: Seq[String], tsCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = live.suffix("__scd2ing")
    graft.sources.Io.recoverSwap(fs, live, tmp)

    val keyCols = keys.map(col)
    // deterministic within-batch instant fold: least attribute tuple
    val uniq = batch
      .groupBy((keys :+ tsCol).map(col): _*)
      .agg(min(struct(attrs.map(col): _*)).as("__a"))
      .select((keyCols :+ col(tsCol)) ++ attrs.map(a => col(s"__a.$a")): _*)

    val dim =
      if (fs.exists(live)) spark.read.parquet(path)
      else uniq.limit(0)
        .select((keys ++ attrs).map(col): _*)
        .withColumn("valid_from", lit(null).cast("date"))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))

    // monotone gate: only instants strictly past the open valid_from
    val openFrom = dim.filter(col("is_current"))
      .select((keyCols :+ col("valid_from").as("__open_from")): _*)
    val fresh = uniq.join(openFrom, keys, "left")
      .filter(col("__open_from").isNull || col(tsCol) > col("__open_from"))
      .drop("__open_from")

    val merged = graft.operators.Scd2.merge(dim, fresh, keys, attrs, tsCol)
    merged.write.mode("overwrite").parquet(tmp.toString)
    graft.sources.Io.swapDirs(fs, live, tmp)
  }
}
