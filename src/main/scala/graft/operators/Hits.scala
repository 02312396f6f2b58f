package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
  * list — the fourth graph operator next to [[PageRank]] (global
  * importance), [[Triangles]] (cohesion), and [[KCore]] (density):
  * mutually recursive scores where a good HUB points at good
  * authorities and a good AUTHORITY is pointed at by good hubs —
  * the citation-graph / link-spam decomposition a single PageRank
  * score conflates.
  *
  * Per round: authorities from hub mass pushed along edges (one keyed
  * agg), L1-normalize (one scalar cross join — no driver round trip),
  * hubs from authority mass pulled back (one keyed agg), normalize.
  * The edge table and node set are built once with
  * `GraftShims.cachedCut` and reused read-only; rounds run on
  * [[graft.Blocks.rounds]], so peak memory is 2 score tables regardless
  * of round count. L1
  * normalization (not L2) keeps the recurrence rational — exactly
  * replayable by an unrolled SQL oracle (the q106 discipline for
  * iterative fixpoints).
  */
object Hits {

  /** (node, hub, authority) after `iters` rounds from the uniform
    * start; raw doubles — round for cross-engine comparison. Nodes
    * missing a side (no out-edges / no in-edges) score 0 there.
    *
    * `saltBuckets > 1` enables the [[PageRank]] hot-key mitigation on
    * both per-round pulls: the edge⋈score shuffle joins split the hub
    * key via [[Skew.saltedJoin]] (salt from the row's other endpoint —
    * deterministic under retry; score side exploded buckets×, O(nodes)),
    * and each contribution aggregation runs two-phase (partial by
    * (key, salt), final by key) so a power-law hub's reduce group stays
    * bounded. Salting reorders fp addition — compare rounded scores
    * (the oracle convention here already).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int, saltBuckets: Int = 1): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(saltBuckets >= 1, s"need saltBuckets >= 1, got $saltBuckets")
    val e = GraftShims.cachedCut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = GraftShims.cachedCut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    var hubs = nodes.withColumn("h", lit(1.0))
    var scores: DataFrame = null
    val loop = graft.Blocks.rounds(edges.sparkSession)
    for (_ <- 1 to iters) {
      // authority: pull hub mass along in-edges, L1-normalize. The raw
      // agg feeds BOTH the rows and the norm scalar — persisted so the
      // edge join runs once per round, not twice (exchange reuse alone
      // still re-reduces; measured ~2× per-round cost without this)
      val aJoined = Skew.saltedJoin(e, hubs.withColumnRenamed("node", "src"),
        "src", saltBuckets, saltFrom = Some("dst"))
      val aRaw = Skew.sumBy(aJoined, "dst", "node", col("h"), "__a", saltBuckets,
        saltFrom = "src").persist(StorageLevel.MEMORY_AND_DISK)
      val aNorm = aRaw.crossJoin(aRaw.agg(sum(col("__a")).as("__na")))
        .select(col("node"), (col("__a") / col("__na")).as("a"))
      // hub: pull authority mass back along out-edges, L1-normalize
      val hJoined = Skew.saltedJoin(e, aNorm.withColumnRenamed("node", "dst"),
        "dst", saltBuckets, saltFrom = Some("src"))
      val hRaw = Skew.sumBy(hJoined, "src", "node", col("a"), "__h", saltBuckets,
        saltFrom = "dst").persist(StorageLevel.MEMORY_AND_DISK)
      val hNorm = hRaw.crossJoin(hRaw.agg(sum(col("__h")).as("__nh")))
        .select(col("node"), (col("__h") / col("__nh")).as("h"))
      scores = loop.advance(nodes
        .join(hNorm, Seq("node"), "left")
        .join(aNorm, Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"),
          coalesce(col("a"), lit(0.0)).as("a")))
      aRaw.unpersist(blocking = false)
      hRaw.unpersist(blocking = false)
      hubs = scores.select(col("node"), col("h"))
    }
    val out = scores.select(col("node"), col("h").as("hub"),
      col("a").as("authority"))
    nodes.unpersist(blocking = false)
    e.unpersist(blocking = false)
    out
  }
}
