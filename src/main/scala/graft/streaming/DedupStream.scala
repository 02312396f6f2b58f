package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Streaming ingest × incremental dedup — the composition that is the
  * actual production shape of LLM-corpus ingestion: documents arrive as
  * micro-batches; each batch is near-dup-checked against everything seen
  * so far in O(batch), then folded into the persistent MinHash index so
  * the NEXT batch sees it. Nothing ever recomputes corpus-vs-corpus
  * pairs (the reference's batch job, dag:180, re-reads the world every
  * run — this is the streaming upgrade of that stage).
  *
  * Exactly-once EFFECT under foreachBatch's at-least-once contract,
  * without a transaction log, because both halves are idempotent:
  *
  *   - pairs land under `pairsPath/batch=<batchId>`, each batch
  *     overwriting its own directory — a replay rewrites the same
  *     directory with the same rows (every per-document stage is
  *     deterministic);
  *   - the index fold is [[graft.dedup.IncrementalDedup.appendToIndex]],
  *     whose anti-join gate appends zero rows for ids already indexed.
  *
  * A replayed batch also emits IDENTICAL pairs despite its docs now
  * being in the index: same-id candidates are filtered (no self-pairs)
  * and the remaining index-side matches coincide with the within-batch
  * ones, which the candidate distinct() collapses. Driver-gated end to
  * end as q72 (double-fold ≡ the exact delta-restricted closure).
  *
  * A year of micro-batches is thousands of tiny batch directories — the
  * small-files problem [[graft.sources.Io.compact]] exists for —
  * so [[compactPairs]] periodically folds completed batch dirs into one
  * consolidated `batch=-1` partition, and [[readPairs]] is the matching
  * reader (duplicate-safe during a compaction window).
  */
object DedupStream {

  /** One micro-batch of a document stream (idCol, textCol) against the
    * named incremental-dedup index: delta-join the batch against the
    * index, write the verified pairs under the batch's own partition
    * directory, fold the batch in. Stream it with
    * [[graft.sources.Stream.sink]]; the catalog (q72) and backfills call
    * it directly. The index must exist —
    * [[graft.dedup.IncrementalDedup.writeIndex]] the historical corpus
    * first (an empty corpus is fine).
    *
    * Pairs BEFORE append — deltaPairs' self-pair guard plus the
    * overwrite below keep a replay byte-identical either way, but this
    * order keeps the common path cheap (the batch's band rows join only
    * pre-existing index rows).
    *
    * deltaPairs returns a localCheckpoint whose blocks never expire on
    * their own; after the pairs are safely on disk they are dead weight,
    * so each batch releases exactly the blocks it created — a leak here
    * compounds over thousands of micro-batches into executor storage
    * pressure (leak-gated in the spec).
    *
    * `clusterName`, when set, additionally folds each batch's pairs into
    * that [[graft.operators.IncrementalCC]] label table (which must
    * exist — `writeLabels` an empty edge set to start cold), so the
    * stream maintains docs → pairs → CLUSTERS end-to-end. Replay-safe
    * for free: the replayed batch's pairs are byte-identical and the
    * label log is an idempotent min-fold.
    *
    * `compactEvery` > 0 folds completed batch directories via
    * [[compactPairs]] every that-many batches, so a long-running stream
    * holds a BOUNDED directory count instead of one per micro-batch
    * forever; the same cadence compacts the index and label tables. The
    * fold always leaves the newest directory alone (keepLatest = 1), so
    * the one batch foreachBatch may replay still finds — and overwrites
    * — its own directory; and because compaction itself is idempotent
    * and crash-healed, a replay that re-triggers the cadence re-folds
    * harmlessly.
    */
  def dedupBatch(batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      name: String, pairsPath: String, minJaccard: Double,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      clusterName: Option[String] = None, compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    val before = graft.Blocks.persistedIds(spark)
    val pairs = graft.dedup.IncrementalDedup.deltaPairs(
      spark, batch, idCol, textCol, name, minJaccard, n, numHashes, bands)
    graft.sources.Io.landBatch(pairs, pairsPath, batchId)
    graft.dedup.IncrementalDedup.appendToIndex(
      batch, idCol, textCol, name, n, numHashes, bands)
    clusterName.foreach { cn =>
      graft.operators.IncrementalCC.mergeEdges(spark, pairs, "id_a", "id_b", cn); ()
    }
    graft.Blocks.releaseSince(spark, before)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      compactPairs(spark, pairsPath)
      // the index tables too (r14): without this the gate scan's
      // file count grows one-per-bucket per batch — 1.95 s → 6.6 s per
      // batch over 100 un-compacted appends (SURVEY §5.4, historical);
      // ScaleShapeSpec folds the compacted index
      graft.dedup.IncrementalDedup.compactIndex(spark, name)
      clusterName.foreach(graft.operators.IncrementalCC.compactLabels(spark, _))
    }
  }

  /** Read the pair set accumulated under `pairsPath` (consolidated +
    * per-batch directories alike). The distinct() makes the read correct
    * even inside a [[compactPairs]] crash window where a folded batch
    * directory still coexists with the consolidated copy of its rows.
    */
  def readPairs(spark: SparkSession, pairsPath: String): DataFrame =
    spark.read.parquet(pairsPath).drop("batch").distinct()

  /** Fold completed per-batch pair directories into ONE consolidated
    * `batch=-1` partition, bounding the directory count at
    * (1 + keepLatest) regardless of how many micro-batches ever ran.
    * The newest `keepLatest` batch directories are left alone: the last
    * batch is the one foreachBatch may replay after a crash, and a
    * replay must find (and overwrite) its own directory, not collide
    * with compacted rows.
    *
    * Crash-safe by the same recover-then-swap discipline as
    * [[graft.sources.Io.compact]], with dot-prefixed staging names so
    * partition discovery never sees a half-written directory. The one
    * non-atomic window (consolidated dir swapped in, folded dirs not yet
    * deleted) at worst duplicates rows across directories — harmless:
    * [[readPairs]] distincts, and the next compaction folds the
    * leftovers back in through its own distinct().
    *
    * @return number of batch directories folded away
    */
  def compactPairs(spark: SparkSession, pairsPath: String, keepLatest: Int = 1,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(pairsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val live = new Path(root, "batch=-1")
    val tmp  = new Path(root, ".pairs_compacting")
    val old  = new Path(root, ".pairs_old")
    // heal a previous crash: a stranded old with no live dir is renamed
    // back (crash between the two renames); stale staging is deleted
    if (fs.exists(old) && !fs.exists(live))
      require(fs.rename(old, live), s"compactPairs: recovery rename $old failed")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)

    val batchIds = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
      .filter(_ >= 0).sorted
    val fold = batchIds.dropRight(keepLatest)
    if (fold.isEmpty) return 0

    val srcs = fold.map(id => s"$pairsPath/batch=$id") ++
      (if (fs.exists(live)) Seq(live.toString) else Nil)
    val merged = srcs.map(spark.read.parquet(_)).reduce(_ unionByName _).distinct()
    val bytes = srcs.map(s => fs.getContentSummary(new Path(s)).getLength).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    merged.repartition(nFiles).write.mode(SaveMode.Overwrite)
      .option("compression", "snappy").parquet(tmp.toString)

    if (fs.exists(live))
      require(fs.rename(live, old), s"compactPairs: rename $live -> $old failed")
    require(fs.rename(tmp, live), s"compactPairs: rename $tmp -> $live failed")
    fs.delete(old, true)
    fold.foreach(id => fs.delete(new Path(root, s"batch=$id"), true))
    fold.length
  }
}
