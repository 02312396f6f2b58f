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
  * re-shuffles on a new key. Rounds run on [[graft.Blocks.rounds]],
  * seeded with the canonical edge cut: peak = 2 edge tables regardless
  * of rounds.
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
    val loop = graft.Blocks.rounds(edges.sparkSession)
    var e = loop.advance(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var round = 0
    var fixed = false
    while (round < maxPeels && !fixed) {
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("__deg"))
      val drop = deg.filter(col("__deg") < k).select("v")
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (drop.count() == 0L) fixed = true
      else {
        e = loop.advance(e
          .join(drop.withColumnRenamed("v", "a"), Seq("a"), "left_anti")
          .join(drop.withColumnRenamed("v", "b"), Seq("b"), "left_anti")
          .select("a", "b"))
        round += 1
      }
      drop.unpersist(blocking = false)
    }
    val out = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("core_deg"))
      .localCheckpoint()
    loop.close()
    out
  }
}
