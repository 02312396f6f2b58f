package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA — Raghavan et al. 2007): community
  * detection by majority vote. Every node starts labeled with itself;
  * each round, every node adopts the most frequent label among its
  * neighbors, simultaneously. Unlike [[ConnectedComponents]] (which
  * answers REACHABILITY), LPA finds densely-connected clusters inside a
  * single component — the community structure dedup clustering and
  * domain grouping actually want.
  *
  * Determinism (the property the textbook algorithm lacks): classic LPA
  * breaks count ties randomly and iterates asynchronously — results vary
  * run to run. Here rounds are SYNCHRONOUS (all nodes update from the
  * same snapshot) and ties break to the MINIMUM label
  * (`count DESC, label ASC`), so the result is a pure function of the
  * graph and round count, replayable row-for-row in SQL by unrolling
  * rounds (the PageRank/HITS oracle feat). Fixed round count, no
  * convergence test: synchronous min-tie LPA can 2-cycle on bipartite
  * structure, so "run R rounds" IS the contract (R ≈ graph diameter
  * of the communities sought; 3-5 in practice).
  *
  * Scale shape per round: edges ⋈ labels (keyed equi-join on dst) →
  * per-(node, label) count → per-node argmax via one keyed window —
  * two keyed shuffles per round, state is O(nodes); isolated nodes keep
  * their label via the closing left join. Rounds run on
  * [[graft.Blocks.rounds]]; the node set and edge frame are built once
  * with `GraftShims.cachedCut`. For power-law hubs the
  * contribution join admits the same salting as PageRank
  * (`Skew.saltedJoin`) — pass `saltBuckets` > 1.
  */
object LabelProp {

  /** (node, label) after `rounds` synchronous updates over the DIRECTED
    * edge list (symmetrize first for undirected semantics — the
    * caller's contract, same as [[PageRank]]).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          rounds: Int, saltBuckets: Int = 1): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    require(saltBuckets >= 1, s"need saltBuckets >= 1, got $saltBuckets")
    val nodes = GraftShims.cachedCut(edges.select(col(srcCol).as("node"))
      .union(edges.select(col(dstCol).as("node"))).distinct())
    val e = GraftShims.cachedCut(
      edges.select(col(srcCol).as("node"), col(dstCol).as("__dst")))
    var labels = nodes.withColumn("label", col("node"))
    val loop = graft.Blocks.rounds(edges.sparkSession)
    for (_ <- 1 to rounds) {
      // neighbor labels arrive by joining each edge's dst against the
      // snapshot; the vote is per (voting node, label), and a salted
      // join takes its salt from the voter
      val joined = Skew.saltedJoin(e,
        labels.select(col("node").as("__dst"), col("label")), "__dst",
        saltBuckets, saltFrom = Some("node"))
      // ONE exchange by node: hash(node) satisfies the (node, label)
      // grouping (subset rule) AND the argmax window's partitioning —
      // a plain groupBy(node, label) would partition on the pair and
      // force the window to re-Exchange (the histQuantiles move)
      val votes = joined.repartition(col("node"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("__c").desc, col("label"))
      val best = votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("label").as("__newLab"))
      labels = loop.advance(labels.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__newLab"), col("label")).as("label")))
    }
    nodes.unpersist(blocking = false)
    e.unpersist(blocking = false)
    labels
  }

  /** Newman modularity of a labeled partition over a SYMMETRIZED edge
    * list (each undirected edge present in both directions): per
    * community `c`, the contribution `m_c/m − (d_c/2m)²` where `m_c` =
    * undirected edges inside `c`, `d_c` = degree sum of `c`'s nodes,
    * `m` = total undirected edges; Q = Σ contributions (Newman & Girvan
    * 2004). THE quality readout over [[run]]'s labels — or any labeling
    * (nation, domain, cluster id): "how much denser than chance is the
    * inside of each group".
    *
    * Shape: two label joins onto the edge list (keyed equi-joins — the
    * label table scales with nodes, never broadcast), one global
    * one-row count broadcast via cross join, two keyed aggs. Nodes
    * missing from `labels` drop from the census (documented; symmetric
    * with the join semantics a SQL replay has).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String, labelCol: String,
                 decimals: Int = 6): DataFrame = {
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("label"))
    val el = edges
      .join(lab.select(col("__n").as("__s"), col("label").as("__ls")),
        col(srcCol) === col("__s"))
      .join(lab.select(col("__n").as("__d"), col("label").as("__ld")),
        col(dstCol) === col("__d"))
    val m2 = el.agg(count(lit(1)).as("__m2")) // = 2m (symmetrized)
    val degSum = el.groupBy(col("__ls").as("label"))
      .agg(count(lit(1)).as("__dc")) // Σ out-degree = degree sum per label
    val internal = el.filter(col("__ls") === col("__ld"))
      .groupBy(col("__ls").as("label"))
      .agg(count(lit(1)).as("__ic")) // directed internal = 2·m_c
    val nNodes = lab.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    nNodes
      .join(degSum, Seq("label"), "left")
      .join(internal, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"),
        (coalesce(col("__ic"), lit(0L)) / 2).cast("long").as("internal_edges"),
        coalesce(col("__dc"), lit(0L)).as("degree_sum"),
        graft.functions.roundStable({
          // x*x, not pow(x, 2): Java's and the oracle engine's pow can
          // differ in the last ulp; multiplication is bit-identical
          val frac = coalesce(col("__dc"), lit(0L)).cast("double") / col("__m2")
          coalesce(col("__ic"), lit(0L)).cast("double") / col("__m2") -
            frac * frac
        }, decimals).as("q_contrib"))
  }

  /** Community census: (label, size) plus member extremes — the readout
    * layer over [[run]] (size distribution is the first thing anyone
    * asks of a community detector).
    */
  def communities(edges: DataFrame, srcCol: String, dstCol: String,
                  rounds: Int, saltBuckets: Int = 1): DataFrame =
    run(edges, srcCol, dstCol, rounds, saltBuckets)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("size"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
}
