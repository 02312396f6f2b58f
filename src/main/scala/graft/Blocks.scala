package graft

import org.apache.spark.sql.SparkSession

/** Cached-block lifetime control for long-lived sessions.
  *
  * The dedup/CC operators ([[dedup.MinHashLsh]], [[dedup.NGramJaccard]],
  * [[sim.LshAnn]], [[operators.ConnectedComponents]]) return
  * `localCheckpoint()`'d results: small, fully materialized pair/label
  * tables whose backing blocks otherwise live until the session ends —
  * a checkpoint has no lineage, so Spark never drops it on its own. One
  * query leaks nothing the caller still needs, but a 65-query bench or a
  * long-lived service accumulates dozens of dead block sets and squeezes
  * executor storage memory (observed as multi-×10 warm-run degradation on
  * the round-3 driver box).
  *
  * Contract: snapshot [[persistedIds]] BEFORE running a query, consume the
  * result, then [[releaseSince]] the delta. Releasing while the result is
  * still needed is a use-after-free — a checkpointed RDD cannot be
  * recomputed once its blocks are gone.
  */
object Blocks {

  /** Ids of every currently persisted RDD (caches AND local checkpoints). */
  def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist every RDD persisted since `before` was snapshotted; returns
    * how many were released. Non-blocking removal.
    */
  def releaseSince(spark: SparkSession, before: Set[Int]): Int = {
    val fresh = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
    fresh.values.foreach(_.unpersist(blocking = false))
    fresh.size
  }

  /** Unpersist exactly the RDDs persisted after `before` and present in
    * `until` — the window-scoped release for operators that must free
    * their intermediates while their RETURNED checkpoint (created after
    * `until`) stays live for the caller.
    */
  def releaseBetween(spark: SparkSession, before: Set[Int], until: Set[Int]): Int = {
    val mids = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) && until.contains(id) }
    mids.values.foreach(_.unpersist(blocking = false))
    mids.size
  }

  /** Unpersist everything — the between-queries reset for bench/verify
    * loops where no prior result is live.
    */
  def releaseAll(spark: SparkSession): Int =
    releaseSince(spark, Set.empty)

  /** The TIMED-HARNESS reset, in the one order that is safe:
    *
    *  1. CLEAR THE RELATION CACHE (CacheManager). `releaseSince`'s raw
    *     RDD unpersist leaves the InMemoryRelation ENTRIES behind, and
    *     each entry strongly references its plan's BroadcastExchange
    *     futures + broadcast Hadoop confs — the reason broadcasts never
    *     GC (r12 measured ~40 blocks / ~130 MB leaked PER PageRank run,
    *     compounding to r11's 130 MB residual), and a landmine once
    *     blocks are force-dropped: the next structurally-identical
    *     `persist()` would REUSE the stale physical plan and die
    *     fetching the destroyed broadcast (the r12 q165/q191/q98 bench
    *     errors — stack through CachedRDDBuilder, triage-reproduced).
    *  2. Blocking unpersist of every RDD persisted since `before`
    *     (covers raw-RDD persists the CacheManager never saw).
    *  3. Synchronous drop of all broadcast blocks — safe now that no
    *     live cache entry can replay a plan referencing them.
    *
    * The next timed run starts from a provably clean block manager
    * (`max_residual_storage_mb` 0 in the bench artifact) instead of
    * racing the async cleaner. NOT for query hot paths: a live query's
    * in-flight broadcasts and caches must not be dropped under it.
    *
    * SCOPE ASYMMETRY, on purpose: `rawRddsBefore` scopes ONLY step 2
    * (the raw-RDD unpersist — callers may legitimately hold raw RDD
    * persists across the reset). Steps 1 and 3 are GLOBAL: ALL
    * CacheManager relation entries and ALL broadcast blocks are dropped
    * regardless of when they were created, because a surviving cache
    * entry strongly references broadcast futures (step 1's whole point)
    * and a scoped broadcast drop cannot tell a leaked block from a live
    * one. Do not call this while any DataFrame `.cache()`/`.persist()`
    * result from before the reset is still needed.
    */
  def hardReset(spark: SparkSession, rawRddsBefore: Set[Int]): Unit = {
    org.apache.spark.sql.GraftShims.clearRelationCache(spark)
    val fresh = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !rawRddsBefore.contains(id) }
    fresh.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.GraftSparkShims.dropAllBroadcastBlocks(spark.sparkContext)
  }

  /** Scoped PER-ROUND broadcast release for iterative loops (r17,
    * guide §5 leaked state): each round of a cachedCut loop executes
    * fresh broadcast exchanges (the rank/score join side, the
    * dangling-mass one-row), and the `Broadcast` handles are unreachable
    * the moment the round's cut is materialized — yet their blocks
    * survive to the end-of-query reset (~40 blocks / ~135 MB per q106
    * run, r16 triage), squeezing storage for the live cuts across a
    * long chain. The scope drops, at each round's end, every broadcast
    * that appeared AFTER the loop started but BEFORE this round began:
    * provably dead — the current round's cut is materialized (count
    * returned), the previous cut is unpersisted, and no later plan can
    * reference an earlier round's exchange (each round plans fresh
    * exchanges; cache entries die with their unpersist).
    *
    * The trade is documented: a dropped broadcast breaks RECOMPUTE of an
    * already-unpersisted earlier cut — exactly as unpersisting it did.
    * Persisted cuts are MEMORY_AND_DISK; losing one means executor loss,
    * at which point the loop re-runs from its inputs.
    *
    * CONCURRENCY CONSTRAINT: the snapshot delta is SparkSession-global —
    * a broadcast created by a DIFFERENT thread's query between this
    * loop's rounds would be swept up by roundEnd and its job would fail
    * re-fetching it. The iterative operators that embed this scope are
    * single-query driver loops (the engine's execution model: one query
    * at a time per session, which is also what Bench/Verify do); do NOT
    * run them concurrently with other queries on the same session.
    *
    * Usage: `val scope = Blocks.loopBroadcastScope(spark)`, then per
    * round `scope.roundStart()` before building, `scope.roundEnd()`
    * after the cut's materializing count + the prev unpersist.
    */
  final class LoopBroadcastScope private[Blocks] (spark: SparkSession) {
    private val sc = spark.sparkContext
    private val base = org.apache.spark.GraftSparkShims.broadcastIds(sc)
    private var beforeRound = base
    def roundStart(): Unit =
      beforeRound = org.apache.spark.GraftSparkShims.broadcastIds(sc)
    def roundEnd(): Int =
      org.apache.spark.GraftSparkShims.dropBroadcastIds(sc, beforeRound -- base)
  }

  def loopBroadcastScope(spark: SparkSession): LoopBroadcastScope =
    new LoopBroadcastScope(spark)
}
