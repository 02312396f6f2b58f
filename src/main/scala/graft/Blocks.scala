package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** The rounds of every iterative loop: each round's frame is cut
    * ([[org.apache.spark.sql.GraftShims.cachedCut]]), so the Catalyst
    * tree stays constant-size however many rounds run (it otherwise
    * doubles per round — the q66 OOM lesson), and `Rounds` releases
    * what the loop no longer reads, in the one safe order.
    *
    * `advanceWith(next)(action)` cuts `next` lazily and runs `action` on
    * the cut as the round's only materializing job (a count, a
    * changed-rows count, a multi-count aggregate). Only after that does
    * it unpersist the previous round's cut and drop every broadcast
    * created after `Rounds` was built but before this round began. Both
    * are provably dead: the current cut is materialized, and no later
    * plan can reference an earlier round's exchange (each round plans
    * fresh exchanges; cache entries die with their unpersist). Without
    * the drop, each round's broadcasts (the rank/score join side, the
    * dangling-mass one-row) survive to the end-of-query reset: ~40
    * blocks / ~135 MB per q106 run (r16 triage), squeezing storage for
    * the live cuts across a long chain. `close()` releases the last cut
    * once the loop's result has been copied out; a loop that returns
    * its last cut leaves it to the caller.
    *
    * A loop whose state starts as a cut frame makes it its first
    * `advance`, so that frame is released like any round's.
    * Loop-invariant inputs (edge frames, node sets) are cut BEFORE
    * `Rounds` is built: their broadcasts predate it and are never
    * dropped.
    *
    * The trade is documented: a dropped broadcast breaks RECOMPUTE of an
    * already-unpersisted earlier cut — exactly as unpersisting it did.
    * Persisted cuts are MEMORY_AND_DISK; losing one means executor loss,
    * at which point the loop re-runs from its inputs.
    *
    * CONCURRENCY CONSTRAINT: the broadcast snapshot is
    * SparkSession-global — a broadcast created by a DIFFERENT thread's
    * query between this loop's rounds would be swept up by the next
    * drop and its job would fail re-fetching it. The iterative
    * operators run one query at a time per session (the engine's
    * execution model, which is also what Bench/Verify do); do NOT run
    * them concurrently with other queries on the same session. Nothing
    * enforces this yet.
    */
  final class Rounds private[Blocks] (spark: SparkSession) {
    private val sc = spark.sparkContext
    private val base = org.apache.spark.GraftSparkShims.broadcastIds(sc)
    private var beforeRound = base
    private var prev: DataFrame = null

    def advanceWith[T](next: DataFrame)(action: DataFrame => T): (DataFrame, T) = {
      val cut = org.apache.spark.sql.GraftShims.cachedCut(next, eager = false)
      val out = action(cut)
      if (prev != null) prev.unpersist(blocking = false)
      org.apache.spark.GraftSparkShims.dropBroadcastIds(sc, beforeRound -- base)
      beforeRound = org.apache.spark.GraftSparkShims.broadcastIds(sc)
      prev = cut
      (cut, out)
    }

    def advance(next: DataFrame): DataFrame = advanceWith(next)(_.count())._1

    def close(): Unit = {
      if (prev != null) prev.unpersist(blocking = false)
      prev = null
    }
  }

  def rounds(spark: SparkSession): Rounds = new Rounds(spark)
}
