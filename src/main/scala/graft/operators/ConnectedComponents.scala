package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the missing
  * third stage of near-duplicate removal at corpus scale: pair finding
  * (MinHash/NGram/SimHash) emits EDGES, but correct dedup needs the
  * transitive CLUSTERS (a↔b, b↔c must collapse to one canonical
  * document even when a↔c was never emitted as a pair).
  *
  * Two algorithms, one contract (comp = min member id, deterministic,
  * partition-independent):
  *
  *   - [[minLabel]]: iterative min-label propagation. O(diameter)
  *     rounds of two keyed shuffles; the right choice for dup-family
  *     graphs, whose diameter is small (dense clusters of mutual
  *     near-dups).
  *   - [[starComponents]]: alternating large-star/small-star edge
  *     contraction (Kiveris et al., "Connected Components in
  *     MapReduce and Beyond", SoCC'14) — O(log²n) rounds regardless
  *     of diameter, same keyed-shuffle shape per round; the fallback
  *     for adversarial topologies (long paths/chains) where label
  *     propagation would need diameter rounds.
  *
  * Both run on [[graft.Blocks.rounds]], seeded with their first cut
  * (the seed labels, the canonical edge set); each round's fixpoint
  * test is the round's one materializing job.
  */
object ConnectedComponents {

  /** (node, comp) for every node appearing in `edges`; comp = min node
    * id of the connected component. Fails loudly if `maxIters` rounds
    * don't reach a fixpoint (diameter > maxIters) — for graphs that
    * can legitimately have long chains, use [[starComponents]].
    */
  def minLabel(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    // symmetrize once: propagation below only needs one direction per
    // stored edge because both endpoints are present as sources; the
    // seed round's count below is the cut's materializing action
    val sym = org.apache.spark.sql.GraftShims.cachedCut(
      e.union(e.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") =!= col("b")).distinct(), eager = false)

    // seed with the closed-neighborhood min directly (node vs its
    // neighbors) — identical to running one propagation round on
    // identity labels, but free: it rides the same groupBy that the
    // distinct node set needs anyway, saving one full round
    val loop = graft.Blocks.rounds(edges.sparkSession)
    var labels = loop.advance(sym.groupBy(col("a").as("node"))
      .agg(least(min(col("b")), col("a")).as("comp")))

    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      // min label over the closed neighborhood: the node's own label and
      // every neighbor's label — one keyed join + one min-aggregate.
      // The node's own row carries its previous label a second time as
      // `own` (exactly one non-null per group, so max() recovers it):
      // the convergence signal rides the SAME aggregate, and counting
      // changed rows doubles as the materializing action — two shuffles
      // and ONE action per round, no separate old-vs-new join.
      val nbr = sym.join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .select(col("a").as("node"), col("comp"), lit(null).cast("long").as("own"))
      val merged = labels.select(col("node"), col("comp"), col("comp").as("own"))
        .union(nbr)
        .groupBy("node").agg(min(col("comp")).as("comp"), max(col("own")).as("old"))
      val (cut, delta) = loop.advanceWith(merged)(
        _.filter(col("comp") =!= col("old")).count())
      changed = delta
      labels = cut.select("node", "comp")
      iter += 1
    }
    require(changed == 0,
      s"connected components did not converge in $maxIters rounds — " +
        "graph diameter exceeds the cap; raise maxIters or use starComponents")
    val out = labels.localCheckpoint()
    loop.close()
    sym.unpersist()
    out
  }

  /** (node, comp) via alternating large-star/small-star contraction —
    * diameter-independent: O(log²n) rounds on ANY topology, so a
    * 10⁶-node path graph converges in a handful of rounds where
    * [[minLabel]] would need 10⁶.
    *
    * Edges are kept canonically oriented high→low (u > v). Per round:
    *
    *   large-star: every node connects its LARGER neighbors to the min
    *   of its closed neighborhood — long chains fold toward minima;
    *   small-star: every node connects its smaller neighbors (and
    *   itself) to the minimum among them — stars flatten.
    *
    * The fixpoint is a disjoint union of stars whose centers are the
    * component minima (Kiveris et al., Thm 3.1/3.2), read off directly
    * as (node → center) plus (center → center).
    */
  def starComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("x"), col(dstCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
    // canonical high→low orientation; the node set is preserved across
    // rounds because every round re-emits each node as a source or a
    // target (isolated-in-input nodes don't exist by construction)
    val loop = graft.Blocks.rounds(edges.sparkSession)
    var (cur, curCnt) = loop.advanceWith(
      e0.select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
        .distinct())(_.count())

    var iter = 0
    var stable = curCnt == 0L // an empty edge set is already converged
    while (!stable && iter < maxIters) {
      // ---- large-star: per node, min over the CLOSED neighborhood ----
      // sym feeds BOTH the min-aggregate and the join below; without a
      // persist the union of the previous round's edges is evaluated
      // twice inside the round's single materializing pass
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      // connect each larger neighbor to the neighborhood min; m ≤ u < v
      // keeps the high→low orientation with no self loops
      val large = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()

      // ---- small-star: per node, min over its SMALLER neighbors ----
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      val rewired = large.join(minsS, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // v ≥ m ⇒ oriented
      val small = rewired.union(minsS.select(col("u"), col("m").as("v"))).distinct()

      // fixpoint test folded into the materializing pass: tag each new
      // edge with whether it already existed (left join against the
      // persisted previous round), then count rows and tagged rows in
      // ONE aggregate — both sets are distinct, so |next| = |cur| and
      // |next ∩ cur| = |next| ⇒ set equality. Same soundness as the
      // old exceptAll test, minus its second action and second wide
      // shuffle of both edge sets.
      val marked = small.join(
        cur.select(col("u"), col("v"), lit(1L).as("__seen")), Seq("u", "v"), "left")
      val (next, counts) = loop.advanceWith(marked)(
        _.agg(count(lit(1)), count(col("__seen"))).head())
      val (nextCnt, interCnt) = (counts.getLong(0), counts.getLong(1))
      stable = nextCnt == curCnt && interCnt == nextCnt
      sym.unpersist()
      cur = next.select("u", "v")
      curCnt = nextCnt
      iter += 1
    }
    require(stable,
      s"star contraction did not converge in $maxIters rounds — " +
        "raise maxIters (expected O(log²n) for any graph)")
    // stars: every non-center points at its center; centers appear only
    // as targets and label themselves
    val out = cur.select(col("u").as("node"), col("v").as("comp"))
      .union(cur.select(col("v").as("node"), col("v").as("comp")))
      .distinct()
      .localCheckpoint()
    loop.close()
    out
  }
}
