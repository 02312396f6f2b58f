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
  * Same iterative discipline as PageRank: the edge table and node set
  * are built once with `GraftShims.cachedCut` and reused read-only;
  * lineage re-roots every round with the previous block released, so
  * peak memory is 2 score tables regardless of round count. L1
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
    var prev: DataFrame = null
    // per-round broadcast hygiene — see [[PageRank.run]]
    val bcScope = graft.Blocks.loopBroadcastScope(edges.sparkSession)
    for (_ <- 1 to iters) {
      bcScope.roundStart()
      // authority: pull hub mass along in-edges, L1-normalize. The raw
      // agg feeds BOTH the rows and the norm scalar — persisted so the
      // edge join runs once per round, not twice (exchange reuse alone
      // still re-reduces; measured ~2× per-round cost without this)
      val aJoined =
        if (saltBuckets <= 1)
          e.join(hubs.withColumnRenamed("node", "src"), Seq("src"))
        else Skew.saltedJoin(e, hubs.withColumnRenamed("node", "src"),
          "src", saltBuckets, saltFrom = Some("dst"))
      val aRaw = (if (saltBuckets <= 1)
          aJoined.groupBy(col("dst").as("node")).agg(sum(col("h")).as("__a"))
        else aJoined
          .withColumn("__s2", pmod(xxhash64(col("src")), lit(saltBuckets)))
          .groupBy(col("dst").as("node"), col("__s2"))
          .agg(sum(col("h")).as("__ap"))
          .groupBy(col("node")).agg(sum(col("__ap")).as("__a")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val aNorm = aRaw.crossJoin(aRaw.agg(sum(col("__a")).as("__na")))
        .select(col("node"), (col("__a") / col("__na")).as("a"))
      // hub: pull authority mass back along out-edges, L1-normalize
      val hJoined =
        if (saltBuckets <= 1)
          e.join(aNorm.withColumnRenamed("node", "dst"), Seq("dst"))
        else Skew.saltedJoin(e, aNorm.withColumnRenamed("node", "dst"),
          "dst", saltBuckets, saltFrom = Some("src"))
      val hRaw = (if (saltBuckets <= 1)
          hJoined.groupBy(col("src").as("node")).agg(sum(col("a")).as("__h"))
        else hJoined
          .withColumn("__s2", pmod(xxhash64(col("dst")), lit(saltBuckets)))
          .groupBy(col("src").as("node"), col("__s2"))
          .agg(sum(col("a")).as("__hp"))
          .groupBy(col("node")).agg(sum(col("__hp")).as("__h")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hNorm = hRaw.crossJoin(hRaw.agg(sum(col("__h")).as("__nh")))
        .select(col("node"), (col("__h") / col("__nh")).as("h"))
      val joined = nodes
        .join(hNorm, Seq("node"), "left")
        .join(aNorm, Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"),
          coalesce(col("a"), lit(0.0)).as("a"))
      val cut = GraftShims.cachedCut(joined)
      aRaw.unpersist(blocking = false)
      hRaw.unpersist(blocking = false)
      if (prev != null) prev.unpersist(blocking = false)
      bcScope.roundEnd()
      prev = cut
      hubs = cut.select(col("node"), col("h"))
    }
    val out = prev.select(col("node"), col("h").as("hub"),
      col("a").as("authority"))
    nodes.unpersist(blocking = false)
    e.unpersist(blocking = false)
    out
  }
}
