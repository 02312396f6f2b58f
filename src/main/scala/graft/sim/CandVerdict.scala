package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-query verdict stage for the CANDIDATE-PATH embedding diagnostics
  * (q350–q353) — the [[AnnVerdict]] discipline applied to
  * [[Candidates]]: the engine proves, inside the registered query, that
  * the candidate machinery is exact where exactness is its contract and
  * actually prunes where pruning is its contract, and emits only
  * oracle-recomputable values plus 1/0 verdicts. This retires the last
  * rows-only queries: the r13 rows returned the pruned diagnostics
  * themselves (engine content — trained coarse centroids pick the
  * pairs), which no DuckDB SQL can recompute; the verdict row can be.
  *
  * Per verdict row:
  *  - `n_corpus` (/ `n_a`, `n_b` for the cross shape) — exact counts
  *    the oracle recomputes from the parquet.
  *  - `k_coarse`, `nprobe` — the registered config, echoed as literals.
  *  - `n_pairs_full` — the FULL-PROBE candidate count. At
  *    nprobe = kCoarse every ordered pair shares every probed cell, so
  *    this must equal n·(n−1) (self) / n_a·n_b (cross, disjoint ids) —
  *    the oracle computes that product from the row counts, so a
  *    full-probe candidate generator that drops or duplicates ANY pair
  *    hash-mismatches on a VALUE, not a verdict.
  *  - `fullprobe_eq_brute_ok` — the diagnostic on full-probe candidates
  *    is row-set-identical to its brute-force twin (exceptAll both
  *    ways): the whole candidate-path arithmetic chain — probe, cell
  *    join, pair dedup, rounded-distance scoring, ranking — collapses
  *    to the brute-force result when recall is 1 by construction. This
  *    is CandidatesSpec's equality moved under the oracle.
  *  - `pruned_subset_ok` — every registered pruned pair is one of the
  *    full-probe pairs (directed, no self-pairs, ids from the corpus).
  *  - `prune_floor_ok` — the pruned candidate count is at most
  *    (1 − pruneFloor)·n_pairs_full: the registered configuration
  *    genuinely prunes (a generator degenerating to all-pairs prunes
  *    0 % and fails), with the floor carried as the `prune_floor_pct`
  *    literal (spec-measured margin, SURVEY §5.2).
  *  - the REGISTERED pruned diagnostic is executed in-query and gated
  *    on its row count: by VALUE where the count is structural
  *    (topN-shaped / per-label — the self diagnostics), by BOUNDS
  *    where it is content (mutual-NN survivor count ≤ min(n_a, n_b),
  *    nonempty — the cross shape).
  *
  * Cost: the brute + full-probe diagnostics are two all-pairs passes —
  * the same O(n²) the brute-force twins (q293/q312/q313/q305) already
  * pay at bench SF. At 100 TB the verdict stage is the part you DROP
  * (run the pruned path alone); it exists to make the small-SF gate
  * assert the pruned path's semantics, not to ship in the scale plan.
  *
  * Reference context: the reference validates its corpus with global
  * stats only (dag:365-407); these diagnostics are that validation
  * stage's embedding-era upgrade, and this verdict is its self-check.
  */
object CandVerdict {

  /** Measured primitives shared by both shapes. */
  private final case class Measured(nFull: Long, nPruned: Long,
      eqOk: Boolean, subsetOk: Boolean, prunedDiagRows: Long)

  private def measure(fullCand: DataFrame, prunedCand: DataFrame,
      diag: Option[DataFrame] => DataFrame): Measured = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val full = fullCand.select(col("id_a"), col("id_b"))
    val pruned = prunedCand.select(col("id_a"), col("id_b"))
    // each diag output is tiny (topN / per-label rows) but its plan is
    // an all-pairs O(n²) pass; the two-directional exceptAll would
    // otherwise EXECUTE each plan twice — persist + eager count pins
    // the 20-row result so the quadratic pass runs exactly once per
    // side (guide §1.2: reuse, don't recompute)
    val brute = diag(None).persist(level)
    val viaFull = diag(Some(full)).persist(level)
    try {
      brute.count(): Unit
      viaFull.count(): Unit
      Measured(
        nFull = full.count(),
        nPruned = pruned.count(),
        eqOk = viaFull.exceptAll(brute).isEmpty &&
          brute.exceptAll(viaFull).isEmpty,
        subsetOk = pruned.join(full, Seq("id_a", "id_b"), "left_anti").isEmpty,
        prunedDiagRows = diag(Some(pruned)).count())
    } finally {
      brute.unpersist(blocking = false)
      viaFull.unpersist(blocking = false)
    }
  }

  private def flag(b: Boolean): Column = lit(if (b) 1L else 0L)

  private def pruneFloorCols(m: Measured, pruneFloorPct: Int): Seq[Column] = {
    require(pruneFloorPct >= 0 && pruneFloorPct < 100,
      s"need 0 <= pruneFloorPct < 100, got $pruneFloorPct")
    Seq(lit(pruneFloorPct.toLong).as("prune_floor_pct"),
      flag(m.nPruned.toDouble <= (100 - pruneFloorPct) / 100.0 * m.nFull)
        .as("prune_floor_ok"))
  }

  /** One-row verdict for a SELF-pair candidate path. `diag` runs one of
    * the [[Geometry]] diagnostics with the given candidate option
    * (None = brute force); its pruned row count is emitted BY VALUE
    * (`pruned_diag_rows` — topN / per-label shaped, oracle-recomputed).
    */
  def selfVerdict(corpus: DataFrame, idCol: String,
      kCoarse: Int, nprobe: Int, pruneFloorPct: Int,
      fullCand: DataFrame, prunedCand: DataFrame,
      diag: Option[DataFrame] => DataFrame): DataFrame = {
    require(nprobe >= 1 && nprobe < kCoarse,
      s"pruned path needs 1 <= nprobe < kCoarse, got $nprobe/$kCoarse")
    // GateCost: the whole eager stage is oracle-gate machinery the
    // 100 TB plan drops — Bench splits its wall time out as verdict_sec
    val (n, m) = graft.GateCost.timed {
      (corpus.select(col(idCol)).count(),
        measure(fullCand, prunedCand, diag))
    }
    corpus.sparkSession.range(1).select(
      Seq(lit(n).as("n_corpus"),
        lit(kCoarse.toLong).as("k_coarse"),
        lit(nprobe.toLong).as("nprobe"),
        lit(m.nFull).as("n_pairs_full"),
        lit(m.prunedDiagRows).as("pruned_diag_rows"),
        flag(m.eqOk).as("fullprobe_eq_brute_ok"),
        flag(m.subsetOk).as("pruned_subset_ok")) ++
        pruneFloorCols(m, pruneFloorPct): _*)
  }

  /** Cross-corpus flavor (the [[Similarity.mutualNearest]] shape):
    * `id_a` over `a`, `id_b` over `b`, id universes disjoint by the
    * caller's contract, so full probe = n_a·n_b directed pairs. The
    * pruned survivor count is CONTENT (which pairs are mutual depends
    * on the trained cells), so it is gated by bounds — nonempty and
    * ≤ min(n_a, n_b) (each side's top-1 is unique, so mutual pairs
    * can never exceed the smaller side) — not by value.
    */
  def crossVerdict(a: DataFrame, b: DataFrame, idCol: String,
      kCoarse: Int, nprobe: Int, pruneFloorPct: Int,
      fullCand: DataFrame, prunedCand: DataFrame,
      diag: Option[DataFrame] => DataFrame): DataFrame = {
    require(nprobe >= 1 && nprobe < kCoarse,
      s"pruned path needs 1 <= nprobe < kCoarse, got $nprobe/$kCoarse")
    val (na, nb, m) = graft.GateCost.timed {
      (a.select(col(idCol)).count(), b.select(col(idCol)).count(),
        measure(fullCand, prunedCand, diag))
    }
    a.sparkSession.range(1).select(
      Seq(lit(na).as("n_a"), lit(nb).as("n_b"),
        lit(kCoarse.toLong).as("k_coarse"),
        lit(nprobe.toLong).as("nprobe"),
        lit(m.nFull).as("n_pairs_full"),
        flag(m.eqOk).as("fullprobe_eq_brute_ok"),
        flag(m.subsetOk).as("pruned_subset_ok"),
        flag(m.prunedDiagRows > 0L &&
          m.prunedDiagRows <= math.min(na, nb))
          .as("pruned_diag_bounded_ok")) ++
        pruneFloorCols(m, pruneFloorPct): _*)
  }
}
