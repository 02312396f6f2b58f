package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection: dedup N NEW documents against
  * an existing corpus WITHOUT recomputing the world.
  *
  * The production LLM-pipeline shape is a steady trickle of fresh
  * documents arriving against a many-TB corpus whose MinHash state is
  * already known. Recomputing all-corpus pairs per batch is
  * O(corpus·bands) every time; this operator persists the per-document
  * LSH state ONCE as two bucketed tables and then joins only the
  * delta's band rows against it:
  *
  *   index (written once, appended per batch):
  *     <name>_bands (id, band, bh)   bucketed by bh  — LSH candidates
  *     <name>_sets  (id, shh, n_sh)  bucketed by id  — exact verification
  *
  *   per delta batch:
  *     delta bands ⋈ index bands on (band, bh)   → delta-vs-corpus cands
  *     delta bands self-join                     → delta-vs-delta cands
  *     exact merge-scan Jaccard verify against the union of set tables
  *
  * Everything per-document (shingles, signatures, band keys) is
  * deterministic, so the delta's rows are byte-identical to what a
  * full-corpus recompute would produce — the delta join yields EXACTLY
  * the full-corpus pair set restricted to pairs touching the delta
  * (spec-asserted). Bucketing by `bh` means the big index side never
  * re-shuffles: Spark plans the join by shuffling only the (small)
  * delta to the index's bucket layout.
  *
  * Contract: delta ids are disjoint from index ids (append-only id
  * space — the natural property of ingest batches). Enforced, not
  * assumed: [[deltaPairs]] filters same-id candidates so a re-ingested
  * id cannot emit a self-pair, and [[appendToIndex]] anti-joins
  * already-indexed ids away — which also makes the append IDEMPOTENT
  * under at-least-once replay (the streaming ingest shape,
  * [[graft.streaming.DedupStream]]).
  */
object IncrementalDedup {

  private def bandsTable(name: String) = s"${name}_bands"
  private def setsTable(name: String)  = s"${name}_sets"

  /** Drop a managed table AND any stale warehouse directory left behind
    * by a previous process: an in-memory metastore forgets the table
    * between JVMs while its location survives, and `saveAsTable` then
    * fails with LOCATION_ALREADY_EXISTS. Rebuild semantics means both
    * must go.
    */
  private[graft] def dropForRebuild(spark: SparkSession, table: String): Unit = {
    // resolve the location from the catalog while the entry still exists
    // (correct under ANY current database — <warehouse>/<db>.db/<table>);
    // fall back to the default-database layout for the orphaned-directory
    // case where a previous JVM's in-memory catalog entry is gone
    val loc: org.apache.hadoop.fs.Path =
      if (spark.catalog.tableExists(table))
        new org.apache.hadoop.fs.Path(
          org.apache.spark.sql.GraftShims.tableLocation(spark, table))
      else {
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        val db = spark.catalog.currentDatabase
        val dir = if (db == "default") table.toLowerCase
                  else s"${db.toLowerCase}.db/${table.toLowerCase}"
        new org.apache.hadoop.fs.Path(wh, dir)
      }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Build the persistent index over the current corpus (full-rebuild
    * semantics: replaces any previous index of this name). One full
    * scan; `buckets` should be sized so a bucket's band rows fit an
    * executor task (corpus_rows × bands / buckets).
    */
  def writeIndex(df: DataFrame, idCol: String, textCol: String, name: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32, buckets: Int = 8): Unit = {
    dropForRebuild(df.sparkSession, setsTable(name))
    dropForRebuild(df.sparkSession, bandsTable(name))
    val sets = NGramJaccard.shingleSets(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.sources.Io.writeBucketed(
      sets.select(col(idCol).as("id"), col("shh"), col("n_sh")),
      setsTable(name), "id", buckets)
    graft.sources.Io.writeBucketed(
      MinHashLsh.bandRows(sets, idCol, numHashes, bands),
      bandsTable(name), "bh", buckets)
    sets.unpersist()
  }

  /** Fold a verified batch into the index so the NEXT delta sees it.
    * Appends re-state the tables' own catalog bucket spec (a bucketed
    * append without one is an AnalysisException), so the layout — and the
    * shuffle-free delta join it buys — survives every batch.
    *
    * IDEMPOTENT: ids already present in the index are anti-joined away
    * first (the sets table is bucketed by id — the big side never
    * shuffles), so replaying a batch appends zero rows. This is what lets
    * an at-least-once caller (foreachBatch, [[graft.streaming.DedupStream]])
    * fold batches without a transaction log, and it enforces the
    * append-only-id contract instead of silently corrupting the index.
    * `delta` must be scan-rooted, as for [[deltaPairs]]
    * ([[graft.Tables.spread]]).
    */
  def appendToIndex(delta: DataFrame, idCol: String, textCol: String, name: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32): Unit = {
    val spark = delta.sparkSession
    recover(spark, name)
    val before = graft.Blocks.persistedIds(spark)
    val indexed = spark.table(setsTable(name)).select(col("id").as(idCol))
    // shingle BEFORE the gate: shingleSets needs the scan-rooted input
    // (as in deltaPairs), and the anti-join may shuffle.
    // localCheckpoint (not persist): the anti-join gate READS <name>_sets,
    // and the sets append below WRITES it — a live lineage from target to
    // source is the self-insert shape Spark rejects on some paths. The
    // eager checkpoint materializes the gated sets and cuts that lineage,
    // so neither append's plan references its own target table.
    val sets = NGramJaccard.shingleSets(delta, idCol, textCol, n)
      .join(indexed, Seq(idCol), "left_anti").localCheckpoint()
    // bands BEFORE sets: the anti-join above gates on the sets table, so
    // appending sets last makes it the commit marker. A crash between the
    // two appends leaves only orphan band rows, which a replay duplicates
    // harmlessly (candidates are distinct()-ed); the reverse order would
    // leave ids that gate as "done" with their band rows missing — silent
    // recall loss forever after.
    // replay fast path: a fully-gated batch writes nothing — skip the
    // two zero-row append jobs (the band-derivation shuffle included).
    // The bands-before-sets commit order below is untouched for the
    // non-empty case (see IncrementalAgg.appendDelta for the pattern).
    if (sets.head(1).nonEmpty) {
      graft.sources.Io.appendBucketed(
        MinHashLsh.bandRows(sets, idCol, numHashes, bands), bandsTable(name))
      graft.sources.Io.appendBucketed(
        sets.select(col(idCol).as("id"), col("shh"), col("n_sh")), setsTable(name))
    }
    // checkpoint blocks have no lineage and never expire on their own — a
    // streaming caller folds thousands of batches, so free them here
    graft.Blocks.releaseSince(spark, before)
  }

  /** All near-dup pairs touching the delta: delta-vs-index plus
    * delta-vs-delta, exact-verified at `minJaccard`. Output is
    * (id_a, id_b, jaccard) with id_a < id_b — the same contract as
    * [[MinHashLsh.similarPairs]], restricted to pairs with at least one
    * delta endpoint.
    */
  def deltaPairs(spark: SparkSession, delta: DataFrame, idCol: String, textCol: String,
      name: String, minJaccard: Double,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32): DataFrame = {
    recover(spark, name)
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dSets = NGramJaccard.shingleSets(delta, idCol, textCol, n).persist(level)
    val dBands = MinHashLsh.bandRows(dSets, idCol, numHashes, bands).persist(level)
    val out = pairsPlan(spark, dSets, dBands, idCol, name, minJaccard).localCheckpoint()
    dBands.unpersist()
    dSets.unpersist()
    out
  }

  /** The un-checkpointed delta-join plan over pre-built delta shingle
    * sets and band rows — exposed (like [[MinHashLsh.pairsPlan]]) so the
    * plan spec can assert the operator's load-bearing physical property:
    * the bucketed bands index feeds the candidate join with NO Exchange
    * in between. Dropping the bucketing would silently re-shuffle the
    * full index every batch — the spec fails if that happens.
    */
  private[graft] def pairsPlan(spark: SparkSession, dSets: DataFrame, dBands: DataFrame,
      idCol: String, name: String, minJaccard: Double): DataFrame = {
    val iBands = spark.table(bandsTable(name))

    // delta-vs-corpus: only the delta side shuffles (index is bucketed
    // on bh); delta-vs-delta: banded self-join within the batch. The
    // d.id =!= i.id guard covers the one contract violation the join
    // could otherwise smuggle through — a re-ingested id would meet its
    // own index rows band-for-band and emit a bogus (id, id, 1.0) pair.
    val cross = dBands.as("d").join(iBands.as("i"), Seq("band", "bh"))
      .filter(col("d.id") =!= col("i.id"))
      .select(least(col("d.id"), col("i.id")).as("id_a"),
        greatest(col("d.id"), col("i.id")).as("id_b"))
    val within = dBands.as("a").join(dBands.as("b"), Seq("band", "bh"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = cross.union(within).distinct()

    // verification needs both endpoints' shingle state: delta rows from
    // this batch, corpus rows from the persisted sets table. A REPLAYED
    // batch's ids are already IN the sets table (the previous attempt's
    // fold) — a blind union would carry each replayed id's shingle rows
    // twice and double every emitted pair row, so the delta's rows are
    // anti-joined against the indexed ids first (per-document state is
    // deterministic, so either copy is byte-identical; the index side is
    // bucketed by id and never shuffles).
    val iSets = spark.table(setsTable(name))
    val allSets = iSets.unionByName(
      dSets.select(col(idCol).as("id"), col("shh"), col("n_sh"))
        .join(iSets.select("id"), Seq("id"), "left_anti"))
    NGramJaccard.verifyExact(
      cand, allSets.withColumnRenamed("id", idCol), idCol, minJaccard)
  }

  /** Compact the index tables in place: rewrite sets and bands from
    * their current content through the crash-safe rebuild swap
    * ([[graft.sources.Io.rebuildBucketed]] — the
    * [[graft.operators.IncrementalCC.compactLabels]] recipe). Content
    * is preserved exactly (sets rows are unique by the id gate; band
    * rows dedupe downstream by contract — a crash replay's harmless
    * duplicates are distinct()-ed away here as a bonus); what changes
    * is the FILE count, which otherwise grows by `buckets` files per
    * appended batch: the un-compacted index's per-batch gate scan grew
    * 1.95 s → 6.6 s over 100 appends from listing + opening ~100 files
    * per bucket (SURVEY §5.4, historical), while the compacted agg/ANN/CC
    * surfaces stayed flat; ScaleShapeSpec counts the compacted fold's
    * input bytes. Run on the same cadence as their
    * `compactEvery`. Crash-safe: both rebuilds heal via
    * [[recover]]/[[graft.sources.Io.recoverRebuild]] on entry to every
    * surface, and the tables stay consistent in either crash window
    * because a rebuild is content-identical.
    */
  def compactIndex(spark: SparkSession, name: String): Unit = {
    recover(spark, name)
    for (t <- Seq(setsTable(name), bandsTable(name))) {
      val (buckets, bucketCols, _) =
        org.apache.spark.sql.GraftShims.bucketSpec(spark, t).getOrElse(
          throw new IllegalStateException(s"$t is not bucketed — not ours"))
      graft.sources.Io.rebuildBucketed(spark, t,
        spark.table(t).distinct(), bucketCols.head, buckets)
    }
  }

  /** Heal a crash inside [[compactIndex]]'s swap windows. Idempotent. */
  def recover(spark: SparkSession, name: String): Unit = {
    graft.sources.Io.recoverRebuild(spark, setsTable(name))
    graft.sources.Io.recoverRebuild(spark, bandsTable(name))
  }
}
