package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate-pair generation for the embedding diagnostics — the piece
  * that turns the O(n²) brute-force pair stage of [[Geometry.knnOutliers]]
  * / [[Geometry.hubness]] / [[Geometry.lidMle]] /
  * [[Similarity.mutualNearest]] into the 100 TB plan: an IVF coarse
  * quantizer restricts each point's neighbor search to the points
  * sharing one of its `nprobe` nearest cells, so the pair join shuffles
  * on the CELL key (O(n·nprobe) rows in, per-cell blocks out) instead of
  * broadcasting the corpus against itself.
  *
  * The contract the diagnostics consume (their `candidates` parameter):
  * a DataFrame with two columns `id_a` (the query side — the point whose
  * neighborhood is being estimated) and `id_b` (a candidate neighbor),
  * DIRECTED, `id_a ≠ id_b`, duplicates tolerated (the pair stage dedups).
  * Recall semantics: with `nprobe = kCoarse` every pair shares every
  * probed cell, so candidates = all pairs and the diagnostics equal
  * their brute-force twins EXACTLY (CandidatesSpec gates this); lower
  * `nprobe` trades recall for cost — the standard IVF knob.
  *
  * Reference context: the reference validates its corpus with global
  * stats only (dag:365-407); the diagnostics these candidates feed are
  * the embedding-era upgrades of that validation stage.
  */
object Candidates {

  /** (id, cell) assignments: each vector mapped to its `nprobe` nearest
    * coarse cells by squared Euclidean distance — the multi-probe trick
    * from the IVF literature applied symmetrically (both "index" and
    * "query" side probe, so two points whose true cells differ still
    * meet when either probes the other's cell). Distance uses the same
    * −2·v·c + |c|² argmin identity as [[KMeans.assignExpr]]; ties
    * resolve to the lowest cell index. kCoarse is a handful, so the
    * per-cell score array is a tiny in-row array_sort, no shuffle.
    */
  def probeCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], nprobe: Int,
      loopFrom: Int = 33): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"need 1 <= nprobe <= kCoarse=${centroids.length}, got $nprobe")
    // Two expression forms, same semantics (CandidatesSpec proves
    // bit-equality):
    //  - literal structs (one per centroid): unrolled codegen, fastest
    //    at the registered handful-of-cells configs — but code size is
    //    O(k·d) literals, which blows the 64 KB Janino method limit and
    //    de-optimizes to interpreted rows around k·d ≈ 16k (the KMeans
    //    assignExpr lesson at k ≈ 256). Kept for k < loopFrom so the
    //    registered q350-q353 plans are byte-identical to r14.
    //  - a LOOP over one packed non-primitive literal (cell, centroid,
    //    |c|²) via transform(): constant code size in k — the form that
    //    survives the k ∝ n/cellSize scaling a 100 TB corpus needs
    //    (ScaleShapeSpec's candidate case crosses into it at 4n).
    val scoredArr: Column =
      if (centroids.length < loopFrom) {
        val scored = centroids.zipWithIndex.map { case (c, j) =>
          val cLit = array(c.map(lit).toIndexedSeq: _*)
          val cc = c.map(x => x * x).sum
          struct(
            (lit(-2.0) * Similarity.dot(col(vecCol), cLit) + lit(cc)).as("__d"),
            lit(j).as("__cell"))
        }
        array(scored.toIndexedSeq: _*)
      } else {
        val packed = typedLit(centroids.zipWithIndex.map { case (c, j) =>
          (j, c.toSeq, c.map(x => x * x).sum)
        }.toSeq)
        transform(packed, p => struct(
          (lit(-2.0) * aggregate(
            {
              // slice BOTH sides to the shorter length first: DotProduct
              // (the literal form) truncates to min length, while a raw
              // zip_with null-pads the shorter side and poisons __d to
              // NULL — the two forms must stay bit-equal on ANY input,
              // length-mismatched vectors included (r15 advice finding)
              val n = least(size(col(vecCol)), size(p.getField("_2")))
              zip_with(slice(col(vecCol), lit(1), n),
                slice(p.getField("_2"), lit(1), n),
                (x, y) => x.cast("double") * y)
            },
            lit(0.0), (acc, v) => acc + v) + p.getField("_3")).as("__d"),
          p.getField("_1").as("__cell")))
      }
    df.select(col(idCol).as("__id"),
        slice(array_sort(scoredArr), 1, nprobe).as("__cells"))
      .select(col("__id"), explode(col("__cells")).as("__c"))
      .select(col("__id"), col("__c.__cell").as("__cell"))
  }

  /** Directed IVF candidate pairs over ONE corpus: fit `kCoarse`
    * k-means centroids, probe each point's `nprobe` nearest cells, emit
    * every ordered (id_a, id_b) sharing a probed cell. The join is a
    * keyed equi-join on the cell id — the shuffle-partitioned shape
    * that replaces the brute-force broadcast at scale.
    */
  def ivfSelfPairs(df: DataFrame, idCol: String, vecCol: String,
      kCoarse: Int = 8, nprobe: Int = 2, iters: Int = 5,
      probeLoopFrom: Int = 33): DataFrame = {
    val cents = KMeans.fit(df, idCol, vecCol, kCoarse, iters)
    val cells = probeCells(df, idCol, vecCol, cents, nprobe, probeLoopFrom)
    // Both join sides are spread by the point id before the cell join
    // (guide §2.2): the gate-scale cell join is a broadcast join whose
    // output parallelism equals the STREAM side's partitioning, and the
    // probe frame inherits the embeddings scan's single row group — so
    // the O(n²·nprobe/kCoarse) pair-emit stage otherwise runs in ONE
    // task (the r16 verdict's ≤8-task full-probe finding). Spreading by
    // __id also co-locates every probe row of one id, so the pair
    // dedup's partial aggregate collapses the nprobe duplicate copies
    // of each ordered pair BEFORE the exchange (guide §2.3) — the
    // dedup shuffle carries O(n²) rows, not O(n²·nprobe). No-op at
    // production partition counts (spread's under-parallel guard).
    val a = graft.Tables.spread(
      cells.select(col("__id").as("id_a"), col("__cell")), "id_a")
    val b = graft.Tables.spread(
      cells.select(col("__id").as("id_b"), col("__cell")), "id_b")
    a.join(b, Seq("__cell"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Directed IVF candidate pairs ACROSS two corpora (the
    * [[Similarity.mutualNearest]] shape): one coarse model fit on the
    * union so both sides share the cell space; `id_a` ranges over `a`,
    * `id_b` over `b`.
    */
  def ivfCrossPairs(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, kCoarse: Int = 8, nprobe: Int = 2,
      iters: Int = 5): DataFrame = {
    val union = a.select(col(idCol), col(vecCol))
      .unionByName(b.select(col(idCol), col(vecCol)))
    val cents = KMeans.fit(union, idCol, vecCol, kCoarse, iters)
    // spread both probe sides before the cell join — see [[ivfSelfPairs]]
    val pa = graft.Tables.spread(probeCells(a, idCol, vecCol, cents, nprobe)
      .select(col("__id").as("id_a"), col("__cell")), "id_a")
    val pb = graft.Tables.spread(probeCells(b, idCol, vecCol, cents, nprobe)
      .select(col("__id").as("id_b"), col("__cell")), "id_b")
    pa.join(pb, Seq("__cell"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }
}
