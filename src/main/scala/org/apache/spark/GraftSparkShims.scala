package org.apache.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** Bridge to `private[spark]` storage internals, for BENCH HYGIENE only
  * (never on a query's hot path): the round-11 bench artifact recorded
  * 130 MB of residual storage no `RDD.unpersist` could release, and the
  * round-12 triage measured its growth at ~10 MB per PageRank run — the
  * residue is BROADCAST blocks (exchange-reuse broadcasts + runtime
  * bloom filters), whose only public release path is the ContextCleaner
  * noticing the `Broadcast` object got garbage-collected. A timed
  * harness cannot wait for weak-reference processing to maybe happen —
  * it needs a deterministic "return storage to zero" between runs, so
  * each timing starts from the same block-manager state.
  */
object GraftSparkShims {

  /** (blockId, memSize) of every block currently in the driver/executor
    * block managers — the ground truth behind "storage used" telemetry.
    */
  def storageBlocks(sc: SparkContext): Seq[(String, Long)] = {
    val master = sc.env.blockManager.master
    val ids = master.getMatchingBlockIds(_ => true, askStorageEndpoints = true)
    ids.flatMap { id =>
      master.getBlockStatus(id, askStorageEndpoints = true).values.headOption
        .map(st => (id.toString, st.memSize + st.diskSize))
    }
  }

  /** Synchronously remove every broadcast's blocks (the piece the public
    * API can't reach: `Broadcast.destroy` needs the object reference,
    * which a finished query no longer exposes). Returns how many distinct
    * broadcasts were dropped. Safe between queries: a broadcast is only
    * re-read during its own query's execution.
    */
  def dropAllBroadcastBlocks(sc: SparkContext): Int = {
    val master = sc.env.blockManager.master
    val bids = master
      .getMatchingBlockIds(_.isInstanceOf[BroadcastBlockId], askStorageEndpoints = true)
      .collect { case b: BroadcastBlockId => b.broadcastId }.distinct
    bids.foreach(id => master.removeBroadcast(id, removeFromMaster = true, blocking = true))
    bids.size
  }

  /** Ids of every broadcast currently holding blocks — the snapshot half
    * of the SCOPED release an iterative loop needs (see
    * [[graft.Blocks.Rounds]]): `dropAllBroadcastBlocks` is
    * only safe between queries, but a 20-round loop pins every round's
    * per-round broadcasts (contribution sums, dangling-mass one-rows)
    * until the end-of-query reset — ~40 blocks / ~135 MB per PageRank
    * run (r16 triage) competing with the live working set.
    */
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isInstanceOf[BroadcastBlockId], askStorageEndpoints = true)
      .collect { case b: BroadcastBlockId => b.broadcastId }.toSet

  /** Drop exactly the given broadcasts' blocks (non-blocking — loop hot
    * path; the determinism the bench needs comes from the SNAPSHOT
    * scoping, not from waiting on removal).
    */
  def dropBroadcastIds(sc: SparkContext, ids: Set[Long]): Int = {
    val master = sc.env.blockManager.master
    ids.foreach(id => master.removeBroadcast(id, removeFromMaster = true, blocking = false))
    ids.size
  }

  /** Block until every event already posted to the `private[spark]`
    * listener bus has been delivered: listener events arrive
    * asynchronously, so a counter reads its listener only after this
    * ([[graft.ScaleRun.counted]]).
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
