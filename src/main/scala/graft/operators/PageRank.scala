package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShims}
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
  * partition count. Lineage is re-rooted every round (the naive loop's
  * Catalyst tree doubles per iteration — the q66 OOM lesson), and the
  * previous round's block is released as soon as the next is
  * materialized: peak memory is 2 rank tables, O(nodes), regardless of
  * round count.
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
    val base = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var prev: DataFrame = null
    // per-round broadcast hygiene: round R−1's exchange broadcasts are
    // provably dead once round R's cut is materialized — release them
    // instead of pinning ~40 blocks/run to the end-of-query reset
    val bcScope = graft.Blocks.loopBroadcastScope(edges.sparkSession)
    for (_ <- 1 to iters) {
      bcScope.roundStart()
      // dangling mass as a ONE-ROW broadcast subtree instead of a
      // per-round collect: same sum over the same cached tables, but it
      // rides the round's single materializing job (one action per
      // round, not two — the r16 job-count trim; arithmetic unchanged:
      // Σ rank over dangling, then /n, then added per row)
      val mass =
        if (dangling == null) null
        else ranks.join(dangling.select(col("node")), Seq("node"))
          .agg((sum(col("rank")) / n).as("__mn"))
      val joined =
        if (saltBuckets <= 1) edgeDeg.join(ranks, Seq("node"))
        else Skew.saltedJoin(edgeDeg, ranks, "node", saltBuckets,
          saltFrom = Some("__dst"))
      val sums =
        if (saltBuckets <= 1)
          joined.groupBy(col("__dst").as("node"))
            .agg(sum(col("rank") / col("__deg")).as("__c"))
        else joined
          .withColumn("__s2", pmod(xxhash64(col("node")), lit(saltBuckets)))
          .groupBy(col("__dst").as("node"), col("__s2"))
          .agg(sum(col("rank") / col("__deg")).as("__cp"))
          .groupBy(col("node"))
          .agg(sum(col("__cp")).as("__c"))
      // the non-dangling path keeps its exact pre-option expression tree
      // (q106/q190 oracle parity is byte-level on the rounded output)
      val contrib =
        if (dangling == null) coalesce(col("__c"), lit(0.0))
        else coalesce(col("__c"), lit(0.0)) + coalesce(col("__mn"), lit(0.0))
      val joinedNodes = nodes.join(sums, Seq("node"), "left")
      val next = (if (dangling == null) joinedNodes
        else joinedNodes.crossJoin(broadcast(mass)))
        .select(col("node"),
          (lit(base) + lit(damping) * contrib).as("rank"))
      val cut = GraftShims.cachedCut(next)
      if (prev != null) prev.unpersist(blocking = false)
      bcScope.roundEnd()
      prev = cut
      ranks = cut
    }
    nodes.unpersist(blocking = false)
    edgeDeg.unpersist(blocking = false)
    if (dangling != null) dangling.unpersist(blocking = false)
    ranks
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
    val deg = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("__deg"))
    val edgeDeg = GraftShims.cachedCut(
      edges.select(col(srcCol).as("node"), col(dstCol).as("__dst"))
        .join(deg, Seq("node")))
    // dangling mass teleports to the SEED distribution (the walk
    // restarts from s when it hits a sink — the standard PPR treatment)
    val dangling =
      if (!redistributeDangling) null
      else GraftShims.cachedCut(nodes.select(col("node"), col("__s"))
        .join(deg, Seq("node"), "left_anti"))
    var ranks = nodes.select(col("node"), col("__s").as("rank"))
    var prev: DataFrame = null
    val bcScope = graft.Blocks.loopBroadcastScope(edges.sparkSession)
    for (_ <- 1 to iters) {
      bcScope.roundStart()
      // dangling mass folded into the round's single job (see [[run]])
      val mass =
        if (dangling == null) null
        else ranks.join(dangling.select(col("node")), Seq("node"))
          .agg(sum(col("rank")).as("__mm"))
      val joined =
        if (saltBuckets <= 1) edgeDeg.join(ranks, Seq("node"))
        else Skew.saltedJoin(edgeDeg, ranks, "node", saltBuckets,
          saltFrom = Some("__dst"))
      val sums =
        if (saltBuckets <= 1)
          joined.groupBy(col("__dst").as("node"))
            .agg(sum(col("rank") / col("__deg")).as("__c"))
        else joined
          .withColumn("__s2", pmod(xxhash64(col("node")), lit(saltBuckets)))
          .groupBy(col("__dst").as("node"), col("__s2"))
          .agg(sum(col("rank") / col("__deg")).as("__cp"))
          .groupBy(col("node"))
          .agg(sum(col("__cp")).as("__c"))
      val contrib =
        if (dangling == null) coalesce(col("__c"), lit(0.0))
        else coalesce(col("__c"), lit(0.0)) +
          coalesce(col("__mm"), lit(0.0)) * col("__s")
      val joinedNodes = nodes.join(sums, Seq("node"), "left")
      val next = (if (dangling == null) joinedNodes
        else joinedNodes.crossJoin(broadcast(mass)))
        .select(col("node"),
          ((lit(1.0) - damping) * col("__s") +
            lit(damping) * contrib).as("rank"))
      val cut = GraftShims.cachedCut(next)
      if (prev != null) prev.unpersist(blocking = false)
      bcScope.roundEnd()
      prev = cut
      ranks = cut
    }
    nodes.unpersist(blocking = false)
    edgeDeg.unpersist(blocking = false)
    if (dangling != null) dangling.unpersist(blocking = false)
    ranks
  }
}
