package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-core decomposition by iterative peeling — the graph-cohesion
  * filter next to [[Triangles]] and [[PageRank]]: repeatedly delete
  * every vertex of degree < k until none remains; what survives is the
  * maximal subgraph where everyone has ≥ k neighbors (spam/bot rings,
  * dense communities, the "load-bearing" web graph — peripheral
  * tendrils peel away no matter how large).
  *
  * Distributed shape per round: one keyed degree aggregation + two
  * anti-joins of the (small, one-row-per-peeled-vertex) removal set
  * back onto the edge list — AQE broadcasts it; the edge table never
  * re-shuffles on a new key. Lineage is re-rooted every round and the
  * previous round's block released (the q66 OOM lesson): peak = 2 edge
  * tables regardless of rounds.
  *
  * Rounds are data-dependent, so the loop takes an explicit `maxPeels`
  * cap and SHORT-CIRCUITS at the fixpoint (an empty removal set). The
  * capped semantics make the iterative result ORACLE-MATCHABLE — an
  * engine unrolling the same `maxPeels` peel rounds computes the
  * identical vertex set whether or not the fixpoint was reached — while
  * real runs converge in a handful of rounds (each peel removes whole
  * degree-layers, and peel-round count is bounded by the graph's
  * degeneracy ordering depth, tiny for real graphs).
  */
object KCore {

  /** Vertices of the k-core with their within-core degree, after at
    * most `maxPeels` peel rounds (early-stopped at the fixpoint).
    * Input rows may carry either orientation and duplicates; self-loops
    * dropped.
    */
  def core(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, maxPeels: Int = 8): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxPeels >= 1, s"need maxPeels >= 1, got $maxPeels")
    var e = org.apache.spark.sql.GraftShims.cachedCut(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var prev: DataFrame = e // previous round's cached block, released as the next lands
    var round = 0
    var fixed = false
    // per-round broadcast hygiene — see [[PageRank.run]]
    val bcScope = graft.Blocks.loopBroadcastScope(edges.sparkSession)
    while (round < maxPeels && !fixed) {
      bcScope.roundStart()
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("__deg"))
      val drop = deg.filter(col("__deg") < k).select("v")
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (drop.count() == 0L) { drop.unpersist(blocking = false); fixed = true }
      else {
        val next = e
          .join(drop.withColumnRenamed("v", "a"), Seq("a"), "left_anti")
          .join(drop.withColumnRenamed("v", "b"), Seq("b"), "left_anti")
          .select("a", "b")
        // re-root via the InternalRow cut (GraftShims.cachedCut): the
        // Catalyst lineage stays O(1) per round without the external-Row
        // round trip, and the cut preserves output partitioning
        val cut = org.apache.spark.sql.GraftShims.cachedCut(next)
        drop.unpersist(blocking = false)
        prev.unpersist(blocking = false)
        bcScope.roundEnd()
        prev = cut
        e = cut
        round += 1
      }
    }
    val out = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("core_deg"))
      .localCheckpoint()
    prev.unpersist(blocking = false)
    out
  }
}
