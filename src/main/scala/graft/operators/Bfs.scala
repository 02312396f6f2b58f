package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances — the DISTANCE axis of the graph
  * family ([[ConnectedComponents]] answers reachability, [[LabelProp]]
  * density, [[PageRank]]/[[Hits]] centrality; this answers "how far"):
  * per node, the minimum hop count from any seed node, out to a fixed
  * round horizon. The shape behind blast-radius analysis ("what does
  * this failing supplier reach in ≤ k hops"), influence horizons, and
  * graph-distance features.
  *
  * Round r relaxes every edge once: `dist_r = min(dist_{r−1},
  * min over edges (dist_{r−1}(src) + 1))` — the min-plus (tropical)
  * matrix-vector product, unrolled `rounds` times. After R rounds the
  * table holds EXACT distances for every node within R hops of a seed;
  * nodes beyond the horizon are absent (the contract — distances are
  * not "capped" but unknown, and the fixed horizon is what makes the
  * result SQL-replayable round for round). Frontier size is bounded by
  * reached nodes; each round is one keyed equi-join + one min-agg,
  * lineage re-rooted and cut per round (the iterative-loop discipline).
  * The edge frame is built once with `GraftShims.cachedCut`, so rounds
  * read it at its adaptive partition count rather than one cached
  * partition per shuffle partition.
  */
object Bfs {

  /** (node, dist) for every node within `rounds` hops of `seeds`.
    *
    * @param seeds one column (`nodeCol`) of seed node ids; duplicates
    *              are fine (deduped to dist 0)
    */
  def hops(edges: DataFrame, srcCol: String, dstCol: String,
           seeds: DataFrame, nodeCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val e = org.apache.spark.sql.GraftShims.cachedCut(
      edges.select(col(srcCol).as("node"), col(dstCol).as("__dst")))
    var dist = seeds.select(col(nodeCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
    var prev: DataFrame = null
    // per-round broadcast hygiene — see [[PageRank.run]]
    val bcScope = graft.Blocks.loopBroadcastScope(edges.sparkSession)
    for (_ <- 1 to rounds) {
      bcScope.roundStart()
      val relaxed = e.join(dist, Seq("node"))
        .select(col("__dst").as("node"), (col("dist") + 1L).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val cut = org.apache.spark.sql.GraftShims.cachedCut(next)
      if (prev != null) prev.unpersist(blocking = false)
      bcScope.roundEnd()
      prev = cut
      dist = cut
    }
    e.unpersist(blocking = false)
    dist
  }
}
