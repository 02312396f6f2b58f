package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

/** Power-iteration PageRank over an edge list — the classic iterative
  * keyed-aggregation workload (importance ranking for link graphs,
  * citation networks, entity-resolution graphs).
  *
  * `r'(v) = (1−d)/N + d · Σ_{u→v} r(u)/outdeg(u)`, `iters` rounds from
  * the uniform start. Dangling nodes (no out-edges) leak their rank
  * mass BY DEFAULT — fine for symmetrized graphs (every node has an
  * out-edge). For raw crawl/citation graphs — the main real-world edge
  * list that is NOT symmetrized — pass `redistributeDangling = true`:
  * each round the dangling mass `m = Σ_{outdeg(v)=0} r(v)` teleports
  * uniformly, `r'(v) = (1−d)/N + d·(Σ contrib + m/N)` (the standard
  * Page et al. treatment), conserving Σr = 1. Cost: ONE extra keyed
  * semi-join + global sum per round over O(nodes) — the documented
  * price, paid only when asked; `m` rides the round's one materializing
  * job as a one-row broadcast subtree (no per-round driver collect).
  *
  * Distributed shape per round: ONE keyed shuffle (contribution sum by
  * dst) + a broadcast-friendly left join back to the node set; the
  * node set and the edge×degree join are built once with
  * `GraftShims.cachedCut`, so rounds read them at their adaptive
  * partition count. Rounds run on [[graft.Blocks.rounds]]: peak memory
  * is 2 rank tables, O(nodes), regardless of round count.
  *
  * Determinism: per-round sums are fp-order-dependent only in the last
  * ulps; callers that need engine-portable output round the final ranks
  * (the oracle unrolls the same recurrence and rounds identically).
  */
object PageRank {

  /** (node, rank) after `iters` rounds; `rank` is the raw double — round
    * it for cross-engine comparison.
    *
    * `saltBuckets > 1` turns on hot-key salting for the per-round work —
    * the power-law-hub mitigation at 1000-executor scale, where one hub
    * key can exceed an executor partition. Two skew sites are split:
    * (a) the edge⋈rank shuffle join on `node` (a hub's out-edges all
    * land in one task otherwise; the rank side is exploded buckets× per
    * [[Skew.saltedJoin]], cheap at O(nodes)), and (b) the contribution
    * aggregation by dst, run two-phase — partial by (dst, salt), final
    * by dst — so the reduce-side group for a hub dst is bounded even
    * when map-side partial aggregation degrades (hash-table pressure
    * makes Spark emit unmerged rows). The salt derives from the row's
    * OTHER endpoint (deterministic under task retry). Salting reorders
    * fp addition: ranks can differ from the unsalted run in the last
    * ulps — round for comparison (the oracle convention here already).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int, damping: Double = 0.85,
          saltBuckets: Int = 1,
          redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(damping > 0 && damping < 1, s"need 0 < damping < 1, got $damping")
    require(saltBuckets >= 1, s"need saltBuckets >= 1, got $saltBuckets")
    // the node count is the cut's materializing action
    val nodes = GraftShims.cachedCut(edges.select(col(srcCol).as("node"))
      .union(edges.select(col(dstCol).as("node"))).distinct(), eager = false)
    val n = nodes.count()
    iterate(edges, srcCol, dstCol, nodes, nodes.withColumn("rank", lit(1.0 / n)),
      iters, damping, saltBuckets, redistributeDangling,
      teleport = lit((1.0 - damping) / n),
      massAgg = (sum(col("rank")) / n).as("__mn"),
      massShare = coalesce(col("__mn"), lit(0.0)))
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * Page et al. 1999 §6, the workhorse of graph-based recommendation
    * and local community scoring): identical power iteration, but the
    * teleport mass lands uniformly on `seeds` instead of everywhere —
    * `r'(v) = (1−d)·s(v) + d · Σ_{u→v} r(u)/outdeg(u)` with
    * `s(v) = 1/|S|` on seeds, 0 elsewhere; start from `s`. Ranks
    * concentrate NEAR the seeds ("importance from HERE"), the global
    * run's view from nowhere. Same per-round shape, cut discipline,
    * and `saltBuckets` hub mitigation as [[run]]; the seed indicator
    * joins once up front (O(nodes)) so rounds stay two-shuffle. Seeds
    * absent from the graph contribute teleport mass to nobody —
    * callers pass graph nodes (spec-gated: unknown seeds just dilute).
    */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   iters: Int, damping: Double = 0.85,
                   saltBuckets: Int = 1,
                   redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(damping > 0 && damping < 1, s"need 0 < damping < 1, got $damping")
    require(saltBuckets >= 1, s"need saltBuckets >= 1, got $saltBuckets")
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val nSeeds = seedSet.count()
    require(nSeeds >= 1, "need at least one seed")
    val nodes = GraftShims.cachedCut(edges.select(col(srcCol).as("node"))
      .union(edges.select(col(dstCol).as("node"))).distinct()
      .join(seedSet.withColumn("__isSeed", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("__isSeed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("__s")))
    // dangling mass teleports to the SEED distribution (the walk
    // restarts from s when it hits a sink — the standard PPR treatment)
    iterate(edges, srcCol, dstCol, nodes, nodes.select(col("node"), col("__s").as("rank")),
      iters, damping, saltBuckets, redistributeDangling,
      teleport = (lit(1.0) - damping) * col("__s"),
      massAgg = sum(col("rank")).as("__mm"),
      massShare = coalesce(col("__mm"), lit(0.0)) * col("__s"))
  }

  /** The power iteration [[run]] and [[personalized]] share, from the
    * cut node set `nodes` (released here) and the start ranks. The two
    * differ only in three terms, each resolved against the round's
    * node ⋈ sums (⋈ mass) frame: `teleport`, the per-row restart mass;
    * `massAgg`, the one-row dangling-mass aggregate over the dangling
    * nodes' ranks; and `massShare`, a node's share of that mass. Each
    * path's rank expression tree is exactly its pre-merge one (q106/q190
    * oracle parity is byte-level on the rounded output).
    */
  private def iterate(edges: DataFrame, srcCol: String, dstCol: String,
                      nodes: DataFrame, start: DataFrame, iters: Int,
                      damping: Double, saltBuckets: Int,
                      redistributeDangling: Boolean, teleport: Column,
                      massAgg: Column, massShare: Column): DataFrame = {
    val deg = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("__deg"))
    val edgeDeg = GraftShims.cachedCut(
      edges.select(col(srcCol).as("node"), col(dstCol).as("__dst"))
        .join(deg, Seq("node")))
    // dangling = no out-edges: computed ONCE (anti-join on the degree
    // table), cut, reused by the per-round mass sum
    val dangling =
      if (!redistributeDangling) null
      else GraftShims.cachedCut(nodes.join(deg, Seq("node"), "left_anti"))
    var ranks = start
    val loop = graft.Blocks.rounds(edges.sparkSession)
    for (_ <- 1 to iters) {
      val joined = Skew.saltedJoin(edgeDeg, ranks, "node", saltBuckets,
        saltFrom = Some("__dst"))
      val sums = Skew.sumBy(joined, "__dst", "node", col("rank") / col("__deg"),
        "__c", saltBuckets, saltFrom = "node")
      val joinedNodes = nodes.join(sums, Seq("node"), "left")
      // dangling mass as a ONE-ROW broadcast subtree instead of a
      // per-round collect: same sum over the same cached tables, but it
      // rides the round's single materializing job (one action per
      // round, not two — the r16 job-count trim). The non-dangling path
      // keeps its exact pre-option expression tree.
      val (frame, contrib) =
        if (dangling == null) (joinedNodes, coalesce(col("__c"), lit(0.0)))
        else (joinedNodes.crossJoin(broadcast(
            ranks.join(dangling.select(col("node")), Seq("node")).agg(massAgg))),
          coalesce(col("__c"), lit(0.0)) + massShare)
      ranks = loop.advance(frame.select(col("node"),
        (teleport + lit(damping) * contrib).as("rank")))
    }
    nodes.unpersist(blocking = false)
    edgeDeg.unpersist(blocking = false)
    if (dangling != null) dangling.unpersist(blocking = false)
    ranks
  }
}
