package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-truss decomposition by iterative edge peeling (Cohen 2008) — the
  * EDGE-level cohesion filter one notch above [[KCore]]: repeatedly
  * delete every edge supported by fewer than k−2 triangles until none
  * remains. A k-core survives on raw degree (a star hub qualifies); a
  * k-truss demands that each surviving tie is EMBEDDED in triangles —
  * the standard community-core / spam-ring sharpener, strictly nested
  * inside the (k−1)-core.
  *
  * Distributed shape per round: per-edge support from the SAME
  * degree-oriented wedge enumeration as [[Triangles]] (Suri &
  * Vassilvitskii WWW'11 — out-degrees bounded ~√(2m), so a power-law
  * hub cannot explode the wedge join), each found triangle crediting
  * its three canonical edges; then one filter on the support count.
  * Keyed equi-joins only. Lineage re-rooted and the previous block
  * released every round (the q66 OOM lesson): peak = 2 edge tables.
  *
  * Rounds are data-dependent, so the loop takes an explicit `maxPeels`
  * cap and short-circuits at the fixpoint — the same capped,
  * oracle-matchable semantics as [[KCore.core]]: an engine unrolling
  * the identical peel rounds computes the identical edge set whether
  * or not the fixpoint was reached.
  */
object KTruss {

  /** Edges of the k-truss with their final within-truss support, after
    * at most `maxPeels` peel rounds (early-stopped at the fixpoint).
    * Input rows may carry either orientation and duplicates;
    * self-loops dropped.
    */
  def truss(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxPeels: Int = 4): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(maxPeels >= 1, s"need maxPeels >= 1, got $maxPeels")
    var e = org.apache.spark.sql.GraftShims.cachedCut(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var prev: DataFrame = e
    var round = 0
    var fixed = false
    // Invariant: `sup` is always support(e) for the CURRENT e, persisted.
    // At loop exit — fixpoint (nothing peeled, so sup still describes e)
    // or maxPeels (sup recomputed after the last peel) — it is reused for
    // the output join, saving a full extra wedge enumeration (~1/3 of
    // q261's cold time before this change).
    var sup = support(e).persist(StorageLevel.MEMORY_AND_DISK)
    // per-round broadcast hygiene — see [[PageRank.run]]
    val bcScope = graft.Blocks.loopBroadcastScope(edges.sparkSession)
    while (round < maxPeels && !fixed) {
      bcScope.roundStart()
      val next = e
        .join(sup, Seq("a", "b"), "left")
        .filter(coalesce(col("__sup"), lit(0L)) >= k - 2)
        .select("a", "b")
      val cut = org.apache.spark.sql.GraftShims.cachedCut(next)
      if (cut.count() == e.count()) { // no edge peeled: fixpoint
        cut.unpersist(blocking = false)
        fixed = true
      } else {
        prev.unpersist(blocking = false)
        bcScope.roundEnd()
        prev = cut
        e = cut
        round += 1
        sup.unpersist(blocking = false)
        sup = support(e).persist(StorageLevel.MEMORY_AND_DISK)
      }
    }
    val out = e
      .join(sup, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("__sup"), lit(0L)).as("support"))
      .localCheckpoint()
    sup.unpersist(blocking = false)
    prev.unpersist(blocking = false)
    out
  }

  /** Per-canonical-edge triangle support via degree-oriented wedge
    * enumeration — each triangle credits its three edges.
    */
  private def support(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("w"))
    val wedges = oriented.as("x").join(oriented.as("y"), "u")
      .filter(col("x.w") < col("y.w"))
      .select(col("u"), col("x.w").as("p"), col("y.w").as("q"))
    val closedCanon = oriented.select(
      least(col("u"), col("w")).as("p"), greatest(col("u"), col("w")).as("q"))
      .withColumn("__hit", lit(1L))
    val tris = wedges.join(closedCanon, Seq("p", "q"))
    tris.select(explode(array(
        struct(least(col("u"), col("p")).as("a"),
          greatest(col("u"), col("p")).as("b")),
        struct(least(col("u"), col("q")).as("a"),
          greatest(col("u"), col("q")).as("b")),
        struct(col("p").as("a"), col("q").as("b")))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("__sup"))
  }
}
