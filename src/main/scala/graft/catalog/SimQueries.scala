package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.roundStable
import ProcessState.{setupOnce, memoOnce}

/** Embedding similarity search, ANN indexes with their verdicts, and
  * embedding diagnostics (`graft.sim`).
  */
private[graft] object SimQueries {

  /** Shared IVF self-candidate pairs for the q350-q352 diagnostics: one
    * coarse fit + one cell join per dir per process (persisted — three
    * queries ride it).
    */
  private def ivfSelfCand(s: SparkSession, dir: String) =
    memoOnce(s"ivf-self-cand-$dir") {
      sim.Candidates.ivfSelfPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", kCoarse = 8, nprobe = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Prune floor (percent) asserted by the q350-q353 verdicts for the
    * registered kCoarse=8 / nprobe=2 configuration: CandScale measures
    * the raw-corpus prune rate at ~0.53-0.55 (both sf0.01 and sf0.1 —
    * balanced-cell expectation 1 − (1 − C(6,2)/C(8,2)) ≈ 0.536);
    * 30 % is the conservative floor with ~20 pts of margin, enough to
    * catch the failure mode that matters (a candidate generator that
    * silently degenerates to all-pairs prunes 0 %).
    */
  private val candPruneFloorPct: Int = 30

  /** FULL-PROBE twin of [[ivfSelfCand]] (nprobe = kCoarse): by
    * construction every ordered pair — the candidate set the q350-q352
    * verdicts compare against brute force and count against n·(n−1).
    * Same coarse fit (memoOnce key differs only by probe width; the
    * KMeans fit memoizes inside Candidates per call, so two fits run —
    * once per process, shared by three queries each).
    */
  private def ivfFullCand(s: SparkSession, dir: String) =
    memoOnce(s"ivf-full-cand-$dir") {
      sim.Candidates.ivfSelfPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", kCoarse = 8, nprobe = 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  val queries: Seq[Query] = Seq(
    Query("q37_cosine_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      sim.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q38_embed_neardup", (s, dir) => {
      // Embedding near-dup through the SCALE path: LshAnn.nearDupPairs at
      // its >=0.8 design point (bucketed bands + exact verification), with
      // brute force demoted to the DuckDB oracle. The raw embeddings table
      // has NO pairs above 0.8 cosine (measured: densest pair is ~0.6), so
      // the corpus re-adds every 5th vector under a shifted id — exact
      // duplicates, so the LSH output equals brute force BY CONSTRUCTION
      // (identical vectors hash to identical buckets in every table;
      // recall is exactly 1, not 1−ε — no probabilistic equality in an
      // oracle-checked query). Cross pairs sit near 0 cosine and are
      // removed by the exact verify stage, which is the part that does
      // the real work at corpus scale. Low-threshold near-dup keeps the
      // brute-force contract in Similarity.nearDupPairs (spec-verified) —
      // hashing is fundamentally hostile below ~0.8 (p_bit→1/2).
      val emb = Tables.embeddings(s, dir)
      val twins = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      sim.LshAnn.nearDupPairs(corpus, "vec_id", "embedding", dim = 64, minCosine = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
      // brute force over the SAME twin-augmented corpus — the oracle the
      // LSH-bucketed registered plan must equal exactly
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 5 = 0),
        |v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM corpus)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  roundStable(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |               FOR i IN range(1, len(a.embedding) + 1)]) / (a.nrm * b.nrm), 4) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |       FOR i IN range(1, len(a.embedding) + 1)]) / (a.nrm * b.nrm) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),

    Query("q39_ann_lsh", (s, dir) => {
      // VERDICT-GATED (r13): the LSH neighbor list is hash-bucket
      // content — engine-specific, but DETERMINISTIC (seeded planes,
      // rounded-score id-tiebroken ranks) — so the query cross-checks
      // it in-query against the brute-force truth and emits the q62
      // verdict row: counts by value, coverage/sortedness/recall as
      // 1/0s the oracle asserts. Floor 0.6 vs 0.98 measured at both
      // gate SFs in r13 (AnnFloorProbe, since deleted; see SURVEY.md
      // r13) — a real recall collapse breaks the hash gate; box noise
      // cannot. To re-measure a floor before touching it: compare
      // `sim.AnnVerdict.meanRecall(ann, truth, k)` against
      // `sim.Similarity.bruteForceTopK` at sf0.001 and sf0.01.
      val emb = Tables.embeddings(s, dir)
      val ann = sim.LshAnn.topK(emb, "vec_id", "embedding",
        isQuery = col("vec_id") < 10, dim = 64, k = 5)
      val truth = sim.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      sim.AnnVerdict.topKVerdict(ann, truth, k = 5, recallFloor = 0.6)
    },
      // ANN verdict rows (q62 discipline): exact counts recomputed by
      // value; the in-query coverage/sortedness/recall cross-checks vs
      // brute force assert as literal 1s — engine-specific neighbor lists
      // stay out of the compared output, but a recall collapse, missing
      // rank, or unsorted score breaks the hash gate.
      """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
        | CAST(1 AS BIGINT) AS coverage_ok,
        | CAST(1 AS BIGINT) AS sorted_ok,
        | CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),

    Query("q41_ivf_topk", (s, dir) =>
      // IVF with PRE-ASSIGNED coarse centroids (the `label` column) — the
      // production shape where assignment happens offline. Fully
      // deterministic → real SQL oracle. The in-engine trainer variant is
      // q51 (verdict-gated: Lloyd's iterations aren't expressible in one
      // SQL query, so q51 cross-checks its search contract in-query and
      // the oracle asserts the flattened verdicts).
      sim.IvfAnn.topK(Tables.embeddings(s, dir), "vec_id", "embedding", "label",
        isQuery = col("vec_id") < 10, k = 5)
        .orderBy(col("query_id"), col("rank")),
      """WITH v AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.label = c.label AND q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q51_ivf_kmeans", (s, dir) => {
      // Self-contained IVF: deterministic k-means computes the coarse
      // centroids in-engine, then the same cluster-bucketed search.
      // NOTE: the testdata's `label` is NOT geometric (intra-label cosine
      // ≈ inter-label ≈ 0), so a trained clustering legitimately differs
      // from q41's pre-assigned one; the trainer is spec-verified
      // (planted-cluster recovery + partition-independence).
      // farthest-point seeding: at k=10 its k sequential scans beat
      // k-means||'s fewer-but-heavier passes (measured 5.9 s vs 10.7 s
      // at sf0.1). VERDICT-GATED (r13): on a geometry-free corpus the
      // trained search's CONTRACT is "exactly the brute-force top-k of
      // the query's cell" — checked in-query against an independent
      // truth path (global brute-force ranking filtered to the cell)
      // and flattened to 1/0s + exact counts the oracle asserts.
      val assigned = sim.KMeans.fitAssign(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 10, iters = 3)
      sim.AnnVerdict.cellTopKVerdict(assigned, "vec_id", "embedding",
        "cluster", isQuery = col("vec_id") < 10, k = 5)
    },
      // trained-cell search: exact corpus/query counts by value; the
      // assignment-total and within-cell-equality cross-checks assert
      // as literal 1s (the independent truth path is the global
      // brute-force ranking filtered to the query's trained cell)
      """SELECT (SELECT count(*) FROM embeddings) AS n_corpus,
        | count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
        | CAST(1 AS BIGINT) AS assign_ok,
        | CAST(1 AS BIGINT) AS cell_match_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),

    Query("q63_hof_battery", (s, dir) =>
      // higher-order-function battery over array columns: aggregate /
      // filter / transform / array_max — all codegen'd Catalyst HOFs,
      // mirrored by DuckDB list functions in the oracle
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0f)).cast("long").as("n_pos"),
          roundStable(array_max(col("embedding")).cast("double"), 6).as("vmax"),
          roundStable(array_min(col("embedding")).cast("double"), 6).as("vmin"),
          roundStable(
            aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x.cast("double")) /
              size(col("embedding")).cast("double"), 6).as("vmean"),
          roundStable(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 6).as("l2"))
        .orderBy(col("vec_id")),
      """SELECT vec_id,
        | CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        | roundStable(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
        | roundStable(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
        | roundStable(list_sum([CAST(x AS DOUBLE) FOR x IN embedding])
        |   / CAST(len(embedding) AS DOUBLE), 6) AS vmean,
        | roundStable(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding])), 6) AS l2
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    Query("q71_ivfpq_topk", (s, dir) => {
      // IVF-PQ composed: nprobe coarse cells -> ADC scan of only those
      // cells' codes -> bounded exact re-rank. Probe-bounded candidate
      // count and the probe-join-below-explode plan shape stay
      // spec-asserted. Training hoisted to the once-per-process memo
      // (the q87 discipline: quantizer training is the offline step a
      // deployment amortizes), so Bench times the probe path.
      val emb = Tables.embeddings(s, dir)
      val mdl = memoOnce(s"q71mdl|$dir") {
        sim.IvfPq.fit(emb, "vec_id", "embedding", dim = 64,
          kCoarse = 16, coarseIters = 3, pqIters = 3)
      }
      // nprobe=8 of 16 cells: the synthetic embeddings have no cluster
      // geometry (intra-label ≈ inter-label cosine), so neighbors spread
      // across cells — half the cells probed keeps recall@5 >= 0.8
      // (spec-measured; real clustered embeddings take nprobe << kCoarse).
      // VERDICT-GATED (r13): q62 verdict row, floor 0.6 vs 0.82-0.84
      // measured in r13 at both gate SFs (AnnFloorProbe, since deleted;
      // see SURVEY.md r13; re-measure as at q39).
      val ann = sim.IvfPq.topK(emb, "vec_id", "embedding",
        isQuery = col("vec_id") < 10, dim = 64, k = 5, nprobe = 8,
        model = Some(mdl))
      val truth = sim.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      sim.AnnVerdict.topKVerdict(ann, truth, k = 5, recallFloor = 0.6)
    },
      """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
        | CAST(1 AS BIGINT) AS coverage_ok,
        | CAST(1 AS BIGINT) AS sorted_ok,
        | CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),

    Query("q73_ivfrq_topk", (s, dir) => {
      // q71 with residual-trained codebooks (IVFADC, Jégou et al. TPAMI
      // 2011): PQ quantizes v − c_cell and the ADC score adds the
      // per-probe ⟨q, c_cell⟩ offset. Identical distributed plan to q71
      // — the refinement is all in the driver-side constants — so this
      // gates that the residual constants don't corrupt the probe-bounded
      // scan. Residual training hoisted to the memo like q71's.
      val emb = Tables.embeddings(s, dir)
      val mdl = memoOnce(s"q73mdl|$dir") {
        sim.IvfPq.fit(emb, "vec_id", "embedding", dim = 64,
          kCoarse = 16, coarseIters = 3, pqIters = 3, residual = true)
      }
      // VERDICT-GATED (r13): q62 verdict row, floor 0.6 vs 0.80-0.86
      // measured in r13 at both gate SFs (AnnFloorProbe, since deleted;
      // see SURVEY.md r13; re-measure as at q39).
      val ann = sim.IvfPq.topK(emb, "vec_id", "embedding",
        isQuery = col("vec_id") < 10, dim = 64, k = 5, nprobe = 8,
        model = Some(mdl))
      val truth = sim.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      sim.AnnVerdict.topKVerdict(ann, truth, k = 5, recallFloor = 0.6)
    },
      """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
        | CAST(1 AS BIGINT) AS coverage_ok,
        | CAST(1 AS BIGINT) AS sorted_ok,
        | CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),

    Query("q52_pq_topk", (s, dir) => {
      // Product-quantization ANN: 32× compressed codes + ADC scan +
      // bounded exact re-rank. VERDICT-GATED (r13): codebooks are
      // trained (engine content) but deterministic — the q62 verdict
      // row rides the oracle with floor 0.75 vs 0.90-0.94 measured in
      // r13 at both gate SFs (AnnFloorProbe, since deleted; see
      // SURVEY.md r13; re-measure as at q39).
      val emb = Tables.embeddings(s, dir)
      val ann = sim.ProductQuantizer.topK(emb, "vec_id", "embedding",
        isQuery = col("vec_id") < 10, dim = 64, k = 5)
      val truth = sim.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      sim.AnnVerdict.topKVerdict(ann, truth, k = 5, recallFloor = 0.75)
    },
      """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
        | CAST(1 AS BIGINT) AS coverage_ok,
        | CAST(1 AS BIGINT) AS sorted_ok,
        | CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),

    Query("q103_int8_quant", (s, dir) => {
      // int8 scalar quantization of the embedding corpus — per-vector
      // scale/codes are pure deterministic arithmetic (round-half-up via
      // floor(x·scale + 0.5)), so the oracle replays the compression
      // bit-identically; reconstruction RMSE is recomputed from the
      // codes in-query. The search path over the codes is q105 + spec.
      val q = sim.ScalarQuant.quantize(Tables.embeddings(s, dir),
        "vec_id", "embedding")
      val scale = col("scale")
      val errs = zip_with(col("__v"), col("codes"), (x, c) => {
        val e = x - when(scale > 0, c.cast("double") / scale).otherwise(lit(0.0))
        e * e
      })
      q.join(Tables.embeddings(s, dir).select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("__v")), Seq("vec_id"))
        .select(col("vec_id"), roundStable(scale, 6).as("scale_r"),
          size(col("codes")).cast("long").as("n_dims"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c).as("sum_codes"),
          array_min(col("codes")).cast("long").as("min_code"),
          array_max(col("codes")).cast("long").as("max_code"),
          roundStable(sqrt(
            aggregate(errs, lit(0.0), (a, e) => a + e) / size(col("codes"))),
            6).as("rmse_r"))
        .orderBy(col("vec_id"))
    },
      // the quantization replayed element-wise: scale = 127/max|x|,
      // code = floor(x*scale + 0.5) — deterministic arithmetic, no sums
      // over nondeterministic order except the 64-element list folds
      // (rounded at 6 digits on both sides)
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
        |         THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
        |         ELSE 0.0 END AS scale
        |  FROM e),
        |c AS (SELECT vec_id, v, scale,
        |    list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS codes
        |  FROM s),
        |r AS (SELECT vec_id, scale, codes,
        |    list_transform(generate_series(1, len(v)), i ->
        |      (v[i] - (CASE WHEN scale > 0 THEN codes[i] / scale ELSE 0.0 END))
        |      * (v[i] - (CASE WHEN scale > 0 THEN codes[i] / scale ELSE 0.0 END))) AS errs
        |  FROM c)
        |SELECT vec_id, roundStable(scale, 6) AS scale_r,
        |  CAST(len(codes) AS BIGINT) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |  CAST(list_min(codes) AS BIGINT) AS min_code,
        |  CAST(list_max(codes) AS BIGINT) AS max_code,
        |  roundStable(sqrt(list_sum(errs) / len(codes)), 6) AS rmse_r
        |FROM r ORDER BY vec_id""".stripMargin),

    Query("q105_int8_topk", (s, dir) => {
      // top-5 cosine through the int8 scan (4× over-fetch on the
      // quantized ranking, exact rescore on the sliver). VERDICT-GATED
      // (r13): q62 verdict row, floor 0.85 vs 1.00 measured at both
      // gate SFs (the 4× over-fetch recovers every quantization miss
      // on this corpus; spec floor 0.9 at sf0.001).
      val emb = Tables.embeddings(s, dir)
      val ann = sim.ScalarQuant.topK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      val truth = sim.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      sim.AnnVerdict.topKVerdict(ann, truth, k = 5, recallFloor = 0.85)
    },
      """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
        | CAST(1 AS BIGINT) AS coverage_ok,
        | CAST(1 AS BIGINT) AS sorted_ok,
        | CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),

    Query("q108_hard_negatives", (s, dir) => {
      // contrastive hard-negative mining: per anchor, top-3 most-similar
      // embeddings with a DIFFERENT label (the pairs a triplet loss
      // learns from). Exact scan; label inequality pruned in the join.
      val emb = Tables.embeddings(s, dir)
      sim.Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 3)
        .orderBy(col("query_id"), col("rank"))
    },
      // q37's exact scan with the label inequality in the join
      """WITH v AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.label <> c.label)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM p) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    Query("q115_mmr_rerank", (s, dir) => {
      // retrieval diversity pass: brute-force top-20 recall per query,
      // vectors joined back, then the greedy MMR selection of 5 — the
      // RAG re-rank that keeps near-duplicate hits from crowding out
      // coverage. The greedy argmax is a per-group fold (the documented
      // imperative island), spec-verified on planted near-dups;
      // determinism via (rel desc, id) candidate order.
      // VERDICT-GATED (r13): MMR's FIRST pick is the relevance argmax
      // (empty selected set ⇒ score = λ·rel), i.e. the brute-force
      // top-1 — id and relevance oracle-recomputable BY VALUE; the
      // remaining greedy picks flatten to structural 1/0 verdicts
      // (subset-of-candidates, distinct, k selected).
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      val cands = sim.Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 20)
      val withVecs = cands.join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding")), Seq("neighbor_id"))
      val mmr = sim.Similarity.mmrRerank(withVecs, "query_id", "neighbor_id",
        "cosine", "embedding", k = 5, lambda = 0.7)
      sim.AnnVerdict.mmrVerdict(mmr, cands, k = 5).orderBy(col("query_id"))
    },
      // MMR's first pick IS the brute-force top-1 (relevance argmax) —
      // id and relevance recomputed by value; the rest of the greedy
      // selection flattens to structural verdicts
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id AS first_pick, cosine AS first_rel,
        |  CAST(5 AS BIGINT) AS n_selected,
        |  CAST(1 AS BIGINT) AS subset_ok,
        |  CAST(1 AS BIGINT) AS distinct_ok
        |FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM p) t
        |WHERE rank = 1 ORDER BY query_id""".stripMargin),

    Query("q173_ndcg", (s, dir) => {
      // retrieval-quality readout over the oracle-gated q37 ranking:
      // binary-relevance nDCG@10 against the label column, ideal DCG
      // from each query's ACTUAL relevant-corpus count
      val emb = Tables.embeddings(s, dir)
      sim.Similarity.ndcgAtK(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", "label", k = 10)
        .orderBy(col("query_id"))
    },
      // the q37 exact ranking verbatim at k=10, then the identical
      // DCG / ideal-DCG expression trees (1/(ln(i+1)/ln 2) prefix sums)
      """WITH v AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    q.label AS ql, c.label AS cl,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
        |d AS (SELECT query_id,
        |        sum(CASE WHEN cl = ql THEN 1.0 / (ln(rank + 1) / ln(2))
        |          ELSE 0 END) AS dcg,
        |        CAST(sum(CASE WHEN cl = ql THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_rel_at_k
        |      FROM r WHERE rank <= 10 GROUP BY 1),
        |tot AS (SELECT label, count(*) AS tot FROM embeddings GROUP BY 1),
        |q AS (SELECT e.vec_id AS query_id, t.tot - 1 AS rr
        |      FROM embeddings e JOIN tot t ON t.label = e.label
        |      WHERE e.vec_id < 50)
        |SELECT q.query_id, coalesce(d.n_rel_at_k, 0) AS n_rel_at_k,
        |  CAST(q.rr AS BIGINT) AS n_rel_corpus,
        |  roundStable(CASE WHEN q.rr >= 1 THEN coalesce(d.dcg, 0)
        |    / list_sum([1.0 / (ln(i + 1) / ln(2))
        |        FOR i IN range(1, least(10, q.rr) + 1)]) END, 6) AS ndcg
        |FROM q LEFT JOIN d ON d.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin),

    Query("q182_retrieval_eval", (s, dir) => {
      // the order-sensitive eval triple (MRR / AP@10 / P+R@10) over the
      // same oracle-gated exact ranking q173's nDCG rides — together the
      // full quality dashboard the ANN ladder is tuned by
      val emb = Tables.embeddings(s, dir)
      sim.Similarity.retrievalEvalAtK(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", "label", k = 10)
        .orderBy(col("query_id"))
    },
      // the q37 exact ranking verbatim at k=10, then the identical
      // rr / P@i prefix-sum / AP trees
      """WITH v AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    q.label AS ql, c.label AS cl,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
        |tk AS (SELECT query_id, rank,
        |        CASE WHEN cl = ql THEN 1 ELSE 0 END AS rel
        |      FROM r WHERE rank <= 10),
        |c AS (SELECT query_id, rank, rel,
        |        sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cum
        |      FROM tk),
        |d AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel_at_k,
        |        coalesce(max(CASE WHEN rel = 1 THEN 1.0 / rank END), 0.0)
        |          AS rr,
        |        sum(CASE WHEN rel = 1
        |          THEN CAST(cum AS DOUBLE) / rank END) AS apsum
        |      FROM c GROUP BY 1),
        |tot AS (SELECT label, count(*) AS tot FROM embeddings GROUP BY 1),
        |q AS (SELECT e.vec_id AS query_id, t.tot - 1 AS rc
        |      FROM embeddings e JOIN tot t ON t.label = e.label
        |      WHERE e.vec_id < 50)
        |SELECT q.query_id, coalesce(d.n_rel_at_k, 0) AS n_rel_at_k,
        |  CAST(q.rc AS BIGINT) AS n_rel_corpus,
        |  roundStable(coalesce(d.rr, 0.0), 6) AS reciprocal_rank,
        |  roundStable(coalesce(d.n_rel_at_k, 0) / 10.0, 6) AS precision_at_k,
        |  roundStable(CASE WHEN q.rc >= 1 THEN
        |    CAST(coalesce(d.n_rel_at_k, 0) AS DOUBLE) / q.rc END, 6)
        |    AS recall_at_k,
        |  roundStable(CASE WHEN q.rc >= 1 THEN coalesce(d.apsum, 0.0)
        |    / least(10, q.rc) END, 6) AS ap_at_k
        |FROM q LEFT JOIN d ON d.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin),

    Query("q201_label_confusion", (s, dir) =>
      // which classes does the embedding space confuse: pairwise
      // centroid cosines in long form — label-count-sized after one
      // explode+agg, the 45-number summary before a full eval
      sim.Centroids.centroidConfusion(Tables.embeddings(s, dir),
          "embedding", "label")
        .orderBy(col("label_a"), col("label_b")),
      // long-form centroids (9dp-rounded means), label norms, dim-keyed
      // pair dot products — the identical staging
      """WITH x AS (SELECT label,
        |    unnest([{'d': i, 'v': CAST(embedding[i] AS DOUBLE)}
        |      FOR i IN range(1, len(embedding) + 1)]) AS s
        |  FROM embeddings),
        |e AS (SELECT label, s.d AS dim, s.v AS v FROM x),
        |c AS (SELECT label, dim, roundStable(avg(v), 9) AS mu
        |  FROM e GROUP BY 1, 2),
        |n AS (SELECT label, sum(mu * mu) AS nn FROM c GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  roundStable(sum(a.mu * b.mu)
        |    / (sqrt(max(na.nn)) * sqrt(max(nb.nn))), 6) AS cosine
        |FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |JOIN n na ON na.label = a.label JOIN n nb ON nb.label = b.label
        |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin),

    Query("q207_twonn", (s, dir) => {
      // two-NN intrinsic dimension of the embedding space (Facco 2017)
      // over a deterministic 10% query sample — the "how many effective
      // dimensions am I actually indexing" readout
      val emb = Tables.embeddings(s, dir)
      sim.IntrinsicDim.twoNN(emb, emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding")
    },
      // identical squared-norm/dot euclidean tree, rounded distances,
      // (d, cid) rank, the n/Σln(μ) MLE
      """WITH v AS (SELECT vec_id, embedding,
        |    list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(embedding) + 1)]) AS nsq
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    roundStable(sqrt(greatest(q.nsq + c.nsq
        |      - 2.0 * list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |          FOR i IN range(1, len(q.embedding) + 1)]),
        |      CAST(0 AS DOUBLE))), 6) AS d
        |  FROM v q JOIN v c ON q.vec_id % 10 = 0 AND q.vec_id <> c.vec_id),
        |r AS (SELECT qid, cid, d,
        |    row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn
        |  FROM p),
        |nn AS (SELECT qid, min(CASE WHEN rn = 1 THEN d END) AS r1,
        |    min(CASE WHEN rn = 2 THEN d END) AS r2
        |  FROM r WHERE rn <= 2 GROUP BY 1),
        |s AS (SELECT CASE WHEN r1 > 0 THEN ln(r2 / r1) END AS lnmu FROM nn)
        |SELECT CAST(sum(CASE WHEN lnmu IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_used,
        |  CAST(sum(CASE WHEN lnmu IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped_dup,
        |  roundStable(sum(lnmu), 6) AS sum_ln_mu,
        |  roundStable(CAST(sum(CASE WHEN lnmu IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / sum(lnmu), 6) AS id_hat
        |FROM s""".stripMargin),

    Query("q239_embedding_census", (s, dir) =>
      // the vector-corpus preflight: dims, norm profile, zero vectors,
      // adjacent-pair |cos| as the isotropy proxy
      sim.Similarity.embeddingCensus(Tables.embeddings(s, dir),
          "vec_id", "embedding"),
      // same double-accumulated norms/dots, same adjacent-id pairing
      """WITH s AS (SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |        * CAST(embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(embedding) + 1)])) AS nrm,
        |    len(embedding) AS dim
        |  FROM embeddings),
        |c AS (SELECT count(*) AS n, CAST(min(dim) AS BIGINT) AS dim_min,
        |    CAST(max(dim) AS BIGINT) AS dim_max,
        |    roundStable(avg(nrm), 6) AS mean_norm,
        |    roundStable(stddev_samp(nrm), 6) AS sd_norm,
        |    CAST(sum(CASE WHEN nrm < 1e-12 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero
        |  FROM s),
        |p AS (SELECT roundStable(avg(cc), 6) AS mean_abs_cos_adjacent,
        |    count(cc) AS n_pairs FROM (
        |    SELECT CASE WHEN a.nrm > 0 AND b.nrm > 0 THEN
        |        abs(list_sum([CAST(a.embedding[i] AS DOUBLE)
        |            * CAST(b.embedding[i] AS DOUBLE)
        |          FOR i IN range(1, len(a.embedding) + 1)])
        |          / (a.nrm * b.nrm)) END AS cc
        |    FROM s a JOIN s b ON b.vec_id = a.vec_id + 1))
        |SELECT c.*, p.* FROM c, p""".stripMargin),

    Query("q291_source_silhouette", (s, dir) => {
      // are the source clusters real in embedding space — simplified
      // (centroid) silhouette per source + share of misfiled points
      val pts = Tables.embeddings(s, dir)
        .join(Tables.documents(s, dir), col("vec_id") === col("doc_id"))
      sim.Geometry.silhouette(pts, "vec_id", "source", "embedding")
    },
      // same centroid-variant silhouette: per-source centroid lists,
      // distances via the p·p − 2p·c + c·c identity, fp-clamped at 0
      """WITH p AS (SELECT e.vec_id, d.source, e.embedding,
        |    list_sum([CAST(e.embedding[i] AS DOUBLE)
        |        * CAST(e.embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(e.embedding) + 1)]) AS pp
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |x AS (SELECT source, i AS pos,
        |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        |  FROM p, range(1, 65) t(i)),
        |cm AS (SELECT source, pos, avg(x) AS c FROM x GROUP BY 1, 2),
        |cent AS (SELECT source AS ck, list(c ORDER BY pos) AS cent,
        |    list_sum([c * c FOR c IN list(c ORDER BY pos)]) AS cc
        |  FROM cm GROUP BY 1),
        |d2 AS (SELECT p.vec_id, p.source, cent.ck,
        |    sqrt(greatest(0.0, p.pp
        |      - 2.0 * list_sum([CAST(p.embedding[i] AS DOUBLE)
        |          * cent.cent[CAST(i AS INT)]
        |        FOR i IN range(1, len(p.embedding) + 1)])
        |      + cent.cc)) AS d
        |  FROM p, cent),
        |pp AS (SELECT vec_id, source,
        |    min(CASE WHEN ck = source THEN d END) AS a,
        |    min(CASE WHEN ck <> source THEN d END) AS b
        |  FROM d2 GROUP BY 1, 2),
        |s AS (SELECT source,
        |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
        |      ELSE 0.0 END AS s
        |  FROM pp)
        |SELECT source, count(*) AS n_points,
        |  roundStable(avg(s), 6) AS mean_silhouette,
        |  roundStable(avg(CASE WHEN s < 0 THEN 1.0 ELSE 0.0 END), 6)
        |    AS misfit_share
        |FROM s GROUP BY source ORDER BY source""".stripMargin),

    Query("q292_pc1_power", (s, dir) =>
      // dominant direction of the embedding corpus: 10-round power
      // iteration on the d×d covariance (collected as a bounded model
      // constant), canonical sign, λ1/trace anisotropy share
      sim.Geometry.pc1Power(Tables.embeddings(s, dir), "embedding",
        iters = 10),
      Pc1OracleSql.sql),

    Query("q293_knn_outlier", (s, dir) =>
      // geometric outliers: top-20 vectors by mean cosine distance to
      // their 10 nearest neighbors (Ramaswamy kNN-dist)
      sim.Geometry.knnOutliers(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 10, topN = 20),
      // same all-pairs cosine distance, rounded BEFORE ranking, id
      // tie-breaks, k=10 mean, top-20 by (score desc, id)
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |        * CAST(embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    roundStable(1.0 - list_sum([CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(a.embedding) + 1)]) / (a.nrm * b.nrm), 6)
        |      AS dist
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT ida, dist, row_number() OVER (PARTITION BY ida
        |    ORDER BY dist ASC, idb ASC) AS rk FROM p),
        |s AS (SELECT ida, roundStable(avg(dist), 6) AS knn_dist
        |  FROM r WHERE rk <= 10 GROUP BY 1),
        |t AS (SELECT ida, knn_dist, row_number() OVER (
        |    ORDER BY knn_dist DESC, ida ASC) AS rank FROM s)
        |SELECT CAST(rank AS BIGINT) AS rank, ida AS vec_id, knn_dist
        |FROM t WHERE rank <= 20 ORDER BY rank""".stripMargin),

    Query("q305_mnn_pairs", (s, dir) => {
      // mutual-nearest-neighbor alignment candidates across labels 0/1
      // (the k=1 MNN bitext-mining criterion — mutuality kills hubs)
      val e = Tables.embeddings(s, dir)
      sim.Similarity.mutualNearest(
          e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding")
        .orderBy(col("id_a"))
    },
      // same rounded-cosine pair table ranked in both directions; the
      // mutual join keeps (a,b) iff each is the other's top-1
      """WITH v AS (SELECT vec_id, label, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |      * CAST(embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings WHERE label IN (0, 1)),
        |p AS (SELECT q.vec_id AS qa, c.vec_id AS qb,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE)
        |      * CAST(c.embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(q.embedding) + 1)])
        |      / (q.nrm * c.nrm), 4) AS cos
        |  FROM v q JOIN v c ON q.label = 0 AND c.label = 1),
        |ab AS (SELECT qa AS id_a, qb AS id_b, cos FROM (SELECT p.*,
        |    row_number() OVER (PARTITION BY qa ORDER BY cos DESC, qb)
        |      AS rk FROM p) WHERE rk = 1),
        |ba AS (SELECT qa AS id_a, qb AS id_b FROM (SELECT p.*,
        |    row_number() OVER (PARTITION BY qb ORDER BY cos DESC, qa)
        |      AS rk FROM p) WHERE rk = 1)
        |SELECT ab.id_a, ab.id_b, ab.cos AS cosine
        |FROM ab JOIN ba USING (id_a, id_b) ORDER BY id_a""".stripMargin),

    Query("q312_hubness", (s, dir) =>
      // the high-dimensional pathology every ANN stack inherits: top
      // k-occurrence hubs + N_k skewness + antihub share
      sim.Geometry.hubness(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 10, topN = 20)
        .orderBy(col("rank")),
      // same rounded-distance kNN lists, zero-occurrence points
      // materialized, same raw-moment skewness
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |      * CAST(embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    roundStable(1.0 - list_sum([CAST(a.embedding[i] AS DOUBLE)
        |      * CAST(b.embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(a.embedding) + 1)])
        |      / (a.nrm * b.nrm), 6) AS dist
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT idb FROM (SELECT p.*, row_number() OVER
        |    (PARTITION BY ida ORDER BY dist, idb) AS rk FROM p)
        |  WHERE rk <= 10),
        |oc AS (SELECT v.vec_id, CAST(coalesce(c.c, 0) AS DOUBLE) AS occ
        |  FROM v LEFT JOIN (SELECT idb, count(*) AS c FROM r GROUP BY 1)
        |    c ON c.idb = v.vec_id),
        |st AS (SELECT avg(occ) AS mu, avg(occ * occ) AS m2r,
        |    avg(occ * occ * occ) AS m3r,
        |    avg(CASE WHEN occ = 0 THEN 1.0 ELSE 0.0 END) AS ah FROM oc)
        |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(occ AS BIGINT) AS k_occurrence,
        |  roundStable(CASE WHEN m2r - mu * mu > 0 THEN
        |    (m3r - 3.0 * mu * m2r + 2.0 * mu * mu * mu)
        |      / pow(m2r - mu * mu, 1.5) END, 6) AS skewness,
        |  roundStable(ah, 6) AS antihub_frac
        |FROM (SELECT oc.*, row_number() OVER (ORDER BY occ DESC, vec_id)
        |    AS rank FROM oc), st
        |WHERE rank <= 20 ORDER BY rank""".stripMargin),

    Query("q313_lid", (s, dir) =>
      // local intrinsic dimensionality per label (Levina-Bickel MLE):
      // which regions of the space are effectively unstructured
      sim.Geometry.lidMle(Tables.embeddings(s, dir), "vec_id",
          "embedding", "label", k = 10)
        .orderBy(col("label")),
      // same zero-filtered rounded distances, same (k−1)/Σln(Tk/Tj)
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |      * CAST(embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    roundStable(1.0 - list_sum([CAST(a.embedding[i] AS DOUBLE)
        |      * CAST(b.embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(a.embedding) + 1)])
        |      / (a.nrm * b.nrm), 6) AS dist
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT * FROM (SELECT p.*, row_number() OVER
        |    (PARTITION BY ida ORDER BY dist, idb) AS rk
        |  FROM p WHERE dist > 0) WHERE rk <= 10),
        |pp AS (SELECT ida, count(*) AS kk, max(dist) AS tk,
        |    sum(CASE WHEN rk < 10 THEN ln(dist) END) AS sl
        |  FROM r GROUP BY 1),
        |l AS (SELECT ida, CASE WHEN 9.0 * ln(tk) - sl > 0 THEN
        |    9.0 / (9.0 * ln(tk) - sl) END AS lid FROM pp WHERE kk = 10)
        |SELECT e.label, count(*) AS n_points, count(l.lid) AS n_fit,
        |  roundStable(avg(l.lid), 6) AS mean_lid
        |FROM l JOIN embeddings e ON e.vec_id = l.ida
        |GROUP BY 1 ORDER BY label""".stripMargin),

    Query("q314_margin_mnn", (s, dir) => {
      // q305's pairs rescored with the Artetxe-Schwenk ratio margin —
      // local-density-normalized, so one global threshold works
      val e = Tables.embeddings(s, dir)
      sim.Similarity.marginMutualNearest(
          e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding", k = 4)
        .orderBy(col("id_a"))
    },
      // same top-4 runs both directions, kNN means over those runs,
      // ratio margin on the mutual top-1 pairs
      """WITH v AS (SELECT vec_id, label, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |      * CAST(embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings WHERE label IN (0, 1)),
        |p AS (SELECT q.vec_id AS qa, c.vec_id AS qb,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE)
        |      * CAST(c.embedding[i] AS DOUBLE)
        |      FOR i IN range(1, len(q.embedding) + 1)])
        |      / (q.nrm * c.nrm), 4) AS cos
        |  FROM v q JOIN v c ON q.label = 0 AND c.label = 1),
        |fr AS (SELECT p.*, row_number() OVER
        |    (PARTITION BY qa ORDER BY cos DESC, qb) AS rk FROM p),
        |br AS (SELECT p.*, row_number() OVER
        |    (PARTITION BY qb ORDER BY cos DESC, qa) AS rk FROM p),
        |ft AS (SELECT qa AS id_a, qb AS id_b, cos FROM fr WHERE rk = 1),
        |bt AS (SELECT qa AS id_a, qb AS id_b FROM br WHERE rk = 1),
        |fm AS (SELECT qa AS id_a, avg(cos) AS ma FROM fr
        |  WHERE rk <= 4 GROUP BY 1),
        |bm AS (SELECT qb AS id_b, avg(cos) AS mb FROM br
        |  WHERE rk <= 4 GROUP BY 1)
        |SELECT ft.id_a, ft.id_b, ft.cos AS cosine,
        |  roundStable(CASE WHEN (ma + mb) / 2 <> 0 THEN
        |    ft.cos / ((ma + mb) / 2) END, 6) AS margin
        |FROM ft JOIN bt USING (id_a, id_b) JOIN fm USING (id_a)
        |  JOIN bm USING (id_b) ORDER BY id_a""".stripMargin),

    // --- candidate-path embedding diagnostics (q350-q353): the same
    // four diagnostics as q293/q312/q313/q305, riding IVF candidate
    // pairs instead of the brute-force self-join — the 100 TB plan
    // (pair join keyed on the coarse cell). VERDICT-GATED (r14, was
    // rows-only since r12): the registered rows are CandVerdict
    // one-liners — full-probe candidates counted against n·(n-1) BY
    // VALUE, the diagnostic on those candidates proven row-set-equal
    // to its brute-force twin in-query, the REGISTERED nprobe=2 pruned
    // path executed (its diagnostic row count oracle-recomputed) with
    // subset + prune-floor verdicts. The pruned DIAGNOSTIC VALUES stay
    // engine content by declared design (the synthetic embeddings have
    // no cluster geometry — the q51/q71 finding — so nprobe=2 loses
    // recall here; q384 makes the with-geometry exactness claim
    // oracle-visible on a planted-geometry corpus). Index fit +
    // candidate plans memoized per dir (the q87 once-per-process
    // discipline).
    Query("q350_knn_outlier_cand", (s, dir) => memoOnce(s"q350v-$dir") {
      // verdict row memoized (literal-only frame, the q354 collected
      // discipline): the in-query brute-force truth is the COLD cost
      // by design — the warm pass must not re-pay it
      val emb = Tables.embeddings(s, dir)
      sim.CandVerdict.selfVerdict(emb, "vec_id", kCoarse = 8, nprobe = 2,
        pruneFloorPct = candPruneFloorPct,
        fullCand = ivfFullCand(s, dir), prunedCand = ivfSelfCand(s, dir),
        diag = c => sim.Geometry.knnOutliers(emb, "vec_id", "embedding",
          k = 10, topN = 20, candidates = c))
    },
      // candidate-path verdict (r14, was rows-only): full-probe pair
      // count by value (n·(n−1) — any dropped/duplicated pair breaks a
      // VALUE), the pruned knnOutliers' topN row count by value, and
      // the equality/subset/prune-floor verdicts as literal 1s
      """WITH c AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(n AS BIGINT) AS n_corpus,
        | CAST(8 AS BIGINT) AS k_coarse, CAST(2 AS BIGINT) AS nprobe,
        | CAST(n * (n - 1) AS BIGINT) AS n_pairs_full,
        | CAST(20 AS BIGINT) AS pruned_diag_rows,
        | CAST(1 AS BIGINT) AS fullprobe_eq_brute_ok,
        | CAST(1 AS BIGINT) AS pruned_subset_ok,
        | CAST(30 AS BIGINT) AS prune_floor_pct,
        | CAST(1 AS BIGINT) AS prune_floor_ok
        |FROM c""".stripMargin),

    Query("q351_hubness_cand", (s, dir) => memoOnce(s"q351v-$dir") {
      val emb = Tables.embeddings(s, dir)
      sim.CandVerdict.selfVerdict(emb, "vec_id", kCoarse = 8, nprobe = 2,
        pruneFloorPct = candPruneFloorPct,
        fullCand = ivfFullCand(s, dir), prunedCand = ivfSelfCand(s, dir),
        diag = c => sim.Geometry.hubness(emb, "vec_id", "embedding",
          k = 10, topN = 20, candidates = c))
    },
      // hubness materializes every point via its left join, so the
      // pruned diagnostic always has exactly topN=20 rows
      """WITH c AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(n AS BIGINT) AS n_corpus,
        | CAST(8 AS BIGINT) AS k_coarse, CAST(2 AS BIGINT) AS nprobe,
        | CAST(n * (n - 1) AS BIGINT) AS n_pairs_full,
        | CAST(20 AS BIGINT) AS pruned_diag_rows,
        | CAST(1 AS BIGINT) AS fullprobe_eq_brute_ok,
        | CAST(1 AS BIGINT) AS pruned_subset_ok,
        | CAST(30 AS BIGINT) AS prune_floor_pct,
        | CAST(1 AS BIGINT) AS prune_floor_ok
        |FROM c""".stripMargin),

    Query("q352_lid_cand", (s, dir) => memoOnce(s"q352v-$dir") {
      val emb = Tables.embeddings(s, dir)
      sim.CandVerdict.selfVerdict(emb, "vec_id", kCoarse = 8, nprobe = 2,
        pruneFloorPct = candPruneFloorPct,
        fullCand = ivfFullCand(s, dir), prunedCand = ivfSelfCand(s, dir),
        diag = c => sim.Geometry.lidMle(emb, "vec_id", "embedding",
          "label", k = 10, candidates = c))
    },
      // lidMle emits one row per label with >= 1 point holding exactly
      // k pruned neighbors at nonzero distance — at nprobe=2 every
      // label keeps fit points (54 % of pairs survive), so the pruned
      // row count is the label count, oracle-recomputed
      """WITH c AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(n AS BIGINT) AS n_corpus,
        | CAST(8 AS BIGINT) AS k_coarse, CAST(2 AS BIGINT) AS nprobe,
        | CAST(n * (n - 1) AS BIGINT) AS n_pairs_full,
        | (SELECT count(DISTINCT label) FROM embeddings)
        |   AS pruned_diag_rows,
        | CAST(1 AS BIGINT) AS fullprobe_eq_brute_ok,
        | CAST(1 AS BIGINT) AS pruned_subset_ok,
        | CAST(30 AS BIGINT) AS prune_floor_pct,
        | CAST(1 AS BIGINT) AS prune_floor_ok
        |FROM c""".stripMargin),

    Query("q353_mnn_cand", (s, dir) => memoOnce(s"q353v-$dir") {
      val e = Tables.embeddings(s, dir)
      val a = e.filter(col("label") === 0)
      val b = e.filter(col("label") === 1)
      sim.CandVerdict.crossVerdict(a, b, "vec_id", kCoarse = 8, nprobe = 2,
        pruneFloorPct = candPruneFloorPct,
        fullCand = memoOnce(s"ivf-cross-full-$dir") {
          sim.Candidates.ivfCrossPairs(a, b, "vec_id", "embedding",
              kCoarse = 8, nprobe = 8)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        },
        prunedCand = memoOnce(s"ivf-cross-cand-$dir") {
          sim.Candidates.ivfCrossPairs(a, b, "vec_id", "embedding",
              kCoarse = 8, nprobe = 2)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        },
        diag = c => sim.Similarity.mutualNearest(a, b, "vec_id",
          "embedding", candidates = c))
    },
      // cross shape: disjoint id universes, so full probe = n_a·n_b by
      // value; the pruned mutual-NN survivor count is engine content
      // (trained cells pick the candidates) — bounds-gated instead
      """WITH a AS (SELECT count(*) AS na FROM embeddings WHERE label = 0),
        |b AS (SELECT count(*) AS nb FROM embeddings WHERE label = 1)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        | CAST(8 AS BIGINT) AS k_coarse, CAST(2 AS BIGINT) AS nprobe,
        | CAST(na * nb AS BIGINT) AS n_pairs_full,
        | CAST(1 AS BIGINT) AS fullprobe_eq_brute_ok,
        | CAST(1 AS BIGINT) AS pruned_subset_ok,
        | CAST(1 AS BIGINT) AS pruned_diag_bounded_ok,
        | CAST(30 AS BIGINT) AS prune_floor_pct,
        | CAST(1 AS BIGINT) AS prune_floor_ok
        |FROM a CROSS JOIN b""".stripMargin),

    Query("q354_ann_ladder", (s, dir) => {
      // the choose-your-index capstone: every ANN rung (LSH / IVF-flat
      // / PQ / IVF-PQ / IVFADC / int8 / binary / matryoshka) vs brute
      // force on ONE query set — measured recall@5 + the cost
      // decomposition (scanned rows × scan width + rescore dots).
      // VERDICT-GATED (r13): the driver row is AnnLadder.verdicts —
      // config literals + exact counts by value + the full-scan rungs'
      // EXACT scan/rescore numbers + recall-floor / scan-pruned 1/0s
      // the oracle asserts (brute force must read recall EXACTLY 1.0);
      // the informative measured table stays the library surface,
      // spec'd by AnnLadderSpec. The 9-row table is memoized COLLECTED
      // (not as a cached plan) so Bench's warm run reuses the result
      // without re-training and without holding checkpoint blocks
      // across the between-queries release.
      val (schema, rows) = memoOnce(s"annladder-$dir") {
        val emb = Tables.embeddings(s, dir)
        // reuse q71/q73's memoized codebooks (same keys, same params):
        // the ladder evaluates the deployment's existing index models
        val t = sim.AnnLadder.selectionTable(emb,
          "vec_id", "embedding", dim = 64, isQuery = col("vec_id") < 10,
          k = 5,
          ivfpqModel = Some(memoOnce(s"q71mdl|$dir") {
            sim.IvfPq.fit(emb, "vec_id", "embedding", dim = 64,
              kCoarse = 16, coarseIters = 3, pqIters = 3)
          }),
          ivfadcModel = Some(memoOnce(s"q73mdl|$dir") {
            sim.IvfPq.fit(emb, "vec_id", "embedding", dim = 64,
              kCoarse = 16, coarseIters = 3, pqIters = 3, residual = true)
          }))
        (t.schema, t.collect().toSeq)
      }
      sim.AnnLadder.verdicts(
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema))
        .orderBy(col("rung"))
    },
      // ladder verdict view: config literals + exact counts; the
      // full-scan rungs' scan/rescore numbers are exact by construction
      // (n-1 and min(overfetch*k, n-1)); probed rungs' measured scans
      // stay engine content (NULL here, reported by the library table)
      // and their verdicts assert as 1s
      """WITH c AS (SELECT (SELECT count(*) FROM embeddings) AS n,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 10) AS nq),
        |r AS (SELECT * FROM (VALUES
        |  (0, 'brute_force',        256.0, TRUE,  0.0),
        |  (1, 'lsh_8x4_multiprobe', 256.0, FALSE, NULL),
        |  (2, 'ivf_flat_k10_np1',   256.0, FALSE, NULL),
        |  (3, 'pq_m8',                8.0, TRUE,  100.0),
        |  (4, 'ivfpq_c16_np8_m8',     8.0, FALSE, NULL),
        |  (5, 'ivfadc_c16_np8_m8',    8.0, FALSE, NULL),
        |  (6, 'int8_of4',            72.0, TRUE,  20.0),
        |  (7, 'binary_of4',           8.0, TRUE,  20.0),
        |  (8, 'matryoshka_d16_of4',  64.0, TRUE,  20.0)
        |) v(rung, method, sb, fullscan, resc))
        |SELECT CAST(rung AS BIGINT) AS rung, method,
        |  sb AS scan_bytes_per_vec,
        |  CAST(n AS BIGINT) AS corpus_n, CAST(nq AS BIGINT) AS n_queries,
        |  CASE WHEN fullscan THEN CAST(n - 1 AS DOUBLE) END
        |    AS scanned_per_query,
        |  CASE WHEN fullscan THEN CAST(resc AS DOUBLE) END
        |    AS rescore_per_query,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS scan_pruned_ok
        |FROM r CROSS JOIN c ORDER BY rung""".stripMargin),

    Query("q371_debias", (s, dir) =>
      // the CURE for q292's anisotropy diagnosis (Mu & Viswanath '18
      // all-but-the-top): mean-center + project out PC1; exploded
      // scalar rows so the iterative-trainer output stays hash-gated
      sim.Geometry.removeTopComponent(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .orderBy(col("vec_id"), col("pos")),
      Pc1OracleSql.debiasSql),

    Query("q373_procrustes", (s, dir) => {
      // "did the new embedding model just rotate the space?" —
      // VALUE-GATED (r13): v2 is a SIGNED PERMUTATION of v1 (dims
      // reversed, even output dims negated) — still a fully general
      // orthogonal map for the recovery problem, but one the oracle
      // can REPLAY: cos_before (raw cross-space cosine vs the permuted
      // twin) recomputes by value, and the Procrustes-ALIGNED cosine
      // must read EXACTLY 1.0 at 4 digits (Jacobi residuals ~1e-9;
      // the float permutation is bit-exact on both engines — negation
      // and reordering lose no precision). The planted 30°-rotation
      // recovery stays spec'd (OperatorEdgeSpec).
      val v1 = Tables.embeddings(s, dir)
      val v2 = v1.select(col("vec_id"),
        transform(col("embedding"), (_, i) =>
          (when(i % 2 === 0, lit(-1.0)).otherwise(lit(1.0)) *
            element_at(col("embedding"), lit(64) - i)).cast("float"))
          .as("embedding"))
      sim.Procrustes.alignReport(v1, v2, "vec_id", "embedding", digits = 4)
        .orderBy(col("vec_id"))
    },
      // v2 is the signed permutation v2[i] = (-1)^[i even] · v1[64-i]
      // (0-based) — replayed in SQL, so cos_before compares BY VALUE;
      // the aligned cosine must read exactly 1.0 at 4 digits
      """WITH p AS (
        |  SELECT vec_id, embedding,
        |    [CAST((CASE WHEN (i - 1) % 2 = 0 THEN -1.0 ELSE 1.0 END)
        |       * embedding[65 - i] AS DOUBLE)
        |     FOR i IN range(1, 65)] AS v2
        |  FROM embeddings)
        |SELECT vec_id,
        |  roundStable(
        |    list_sum([CAST(embedding[i] AS DOUBLE) * v2[i]
        |              FOR i IN range(1, 65)])
        |    / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
        |         * CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)]))
        |       * sqrt(list_sum([v2[i] * v2[i] FOR i IN range(1, 65)]))),
        |    4) AS cos_before,
        |  1.0 AS cos_after
        |FROM p ORDER BY vec_id""".stripMargin),

    Query("q379_label_pr", (s, dir) =>
      // per-cohort effective dimensionality — "which slice of the
      // corpus embeds into a collapsed subspace": the keyed form of
      // q377 (one d2 typed buffer PER KEY, #keys model constants back)
      sim.Geometry.participationRatioBy(Tables.embeddings(s, dir),
          "label", "embedding")
        .orderBy(col("label")),
      // the q377 trace folds, grouped by label
      """WITH px AS (SELECT label, i.i AS i, j.j AS j,
        |    CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS xi,
        |    CAST(embedding[CAST(j.j AS INT)] AS DOUBLE) AS xj
        |  FROM embeddings, range(1, 65) i(i), range(1, 65) j(j)),
        |cv AS MATERIALIZED (SELECT label, i, j,
        |    sum(xi * xj) / count(*)
        |      - (sum(xi) / count(*)) * (sum(xj) / count(*)) AS c
        |  FROM px GROUP BY 1, 2, 3),
        |nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |       FROM embeddings GROUP BY 1),
        |tr AS (SELECT label, sum(CASE WHEN i = j THEN c ELSE 0 END) AS t,
        |    sum(c * c) AS t2 FROM cv GROUP BY 1)
        |SELECT CAST(nn.label AS BIGINT) AS label,
        |  CAST(64 AS BIGINT) AS dim, nn.n AS n_vectors,
        |  roundStable(tr.t, 6) AS trace_cov,
        |  roundStable(CASE WHEN tr.t2 > 0
        |    THEN tr.t * tr.t / tr.t2 END, 6) AS participation_ratio,
        |  roundStable(CASE WHEN tr.t2 > 0
        |    THEN tr.t * tr.t / tr.t2 / 64.0 END, 6) AS pr_share
        |FROM nn JOIN tr USING (label) ORDER BY label""".stripMargin),

    Query("q377_participation_ratio", (s, dir) =>
      // effective dimensionality of the embedding covariance,
      // PR = tr(C)^2 / tr(C^2): pure moment algebra off the one-pass
      // scatter (no eigensolve), so unlike q292's power fit the WHOLE
      // statistic is oracle-replayable cell-for-cell
      sim.Geometry.participationRatio(Tables.embeddings(s, dir),
        "embedding"),
      // the identical covariance cells (q292's px/cv CTEs), then both
      // traces as straight folds: tr(C) on the diagonal, tr(C^2) =
      // sum of squared cells (C symmetric)
      """WITH px AS (SELECT i.i AS i, j.j AS j,
        |    CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS xi,
        |    CAST(embedding[CAST(j.j AS INT)] AS DOUBLE) AS xj
        |  FROM embeddings, range(1, 65) i(i), range(1, 65) j(j)),
        |cv AS MATERIALIZED (SELECT i, j,
        |    sum(xi * xj) / count(*)
        |      - (sum(xi) / count(*)) * (sum(xj) / count(*)) AS c
        |  FROM px GROUP BY 1, 2),
        |tr AS (SELECT sum(c) AS t FROM cv WHERE i = j),
        |t2 AS (SELECT sum(c * c) AS t2 FROM cv),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
        |SELECT CAST(64 AS BIGINT) AS dim, nn.n AS n_vectors,
        |  roundStable(tr.t, 6) AS trace_cov,
        |  roundStable(CASE WHEN t2.t2 > 0
        |    THEN tr.t * tr.t / t2.t2 END, 6) AS participation_ratio,
        |  roundStable(CASE WHEN t2.t2 > 0
        |    THEN tr.t * tr.t / t2.t2 / 64.0 END, 6) AS pr_share
        |FROM tr, t2, nn""".stripMargin),

    Query("q176_rbo", (s, dir) => {
      // ranking-agreement readout: RBO@10 between the exact 64-dim
      // cosine ranking and the matryoshka prefix-16 ranking — "how much
      // retrieval does the cheap prefix change", per query, no labels
      // (q173's nDCG scores quality; this scores agreement — the pair
      // you tune a prefix deployment BY)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
      val a = sim.Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 10)
      val pre = emb.withColumn("embedding", slice(col("embedding"), 1, 16))
      val b = sim.Similarity.bruteForceTopK(pre,
        pre.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
      text.Retrieval.rbo(a, b, "query_id", "neighbor_id", "rank", k = 10)
        .orderBy(col("qid"))
    },
      // both rankings replayed from one pair scan (cosine and raw dot,
      // each rounded-then-ranked); the per-item RBO weight is the same
      // ascending pow/d prefix sum
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, 17)])) AS pnrm
        |  FROM embeddings),
        |pr AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |              FOR i IN range(1, len(q.embedding) + 1)]) AS rawdot,
        |    list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |              FOR i IN range(1, 17)]) AS predot,
        |    q.nrm AS qn, c.nrm AS cn, q.pnrm AS qpn, c.pnrm AS cpn
        |  FROM v q JOIN v c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ra AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY roundStable(rawdot / (qn * cn), 4) DESC,
        |            neighbor_id) AS rka
        |      FROM pr),
        |rb AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY roundStable(predot / (qpn * cpn), 4) DESC,
        |            neighbor_id) AS rkb
        |      FROM pr),
        |j AS (SELECT ra.query_id,
        |        greatest(ra.rka, rb.rkb) AS m
        |      FROM ra JOIN rb ON rb.query_id = ra.query_id
        |        AND rb.neighbor_id = ra.neighbor_id
        |      WHERE ra.rka <= 10 AND rb.rkb <= 10),
        |s AS (SELECT query_id,
        |        sum((1 - 0.9) * list_sum([pow(0.9, d - 1) / d
        |          FOR d IN range(CAST(m AS INT), 11)]))
        |          / (1 - pow(0.9, 10)) AS rbo,
        |        count(*) AS n_common
        |      FROM j GROUP BY 1)
        |SELECT u.query_id AS qid,
        |  roundStable(coalesce(s.rbo, 0), 6) AS rbo,
        |  CAST(coalesce(s.n_common, 0) AS BIGINT) AS n_common
        |FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
        |      WHERE vec_id < 50) u
        |LEFT JOIN s ON s.query_id = u.query_id
        |ORDER BY qid""".stripMargin),

    Query("q144_mrl_topk", (s, dir) => {
      // matryoshka two-stage retrieval: coarse rank on the first 16 of
      // 64 dims (¼ the scan bytes), 4× over-fetch, exact full-dim
      // re-rank — deterministic arithmetic end to end, so unlike the
      // trained quantizers this approximate path is oracle-checked
      val emb = Tables.embeddings(s, dir)
      sim.Matryoshka.topK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dPrefix = 16, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // coarse = prefix-16 cosine rounded BEFORE the cut (identical
      // over-fetch set across engines), then exact full-dim re-rank
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, 17)])) AS pnrm
        |  FROM embeddings),
        |pr AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN q.pnrm * c.pnrm > 0 THEN
        |      roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, 17)]) / (q.pnrm * c.pnrm), 6)
        |    ELSE 0.0 END AS coarse,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |cut AS (SELECT query_id, neighbor_id, cosine,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY coarse DESC, neighbor_id) AS arank
        |        FROM pr)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM cut WHERE arank <= 20) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q145_bq_topk", (s, dir) => {
      // sign-bit binary quantization (32× compression): Hamming-ranked
      // candidates over packed words, 8× over-fetch (1-bit scores are
      // coarse), exact re-rank — integer packing/XOR/popcount replay
      // bit-identically in the oracle
      val emb = Tables.embeddings(s, dir)
      sim.BinaryQuant.topK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dims = 64, k = 5, overFetch = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // 32-bit sign-bit words via Σ bit·2^(32−i) (≡ the acc·2+bit fold,
      // exact integers), Hamming = popcount(xor), 8× over-fetch, exact
      // re-rank
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm,
        |    CAST(list_sum([CASE WHEN embedding[i] > 0
        |        THEN CAST(pow(2.0, 32 - i) AS BIGINT) ELSE 0 END
        |      FOR i IN range(1, 33)]) AS BIGINT) AS w1,
        |    CAST(list_sum([CASE WHEN embedding[i + 32] > 0
        |        THEN CAST(pow(2.0, 32 - i) AS BIGINT) ELSE 0 END
        |      FOR i IN range(1, 33)]) AS BIGINT) AS w2
        |  FROM embeddings),
        |pr AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(q.w1, c.w1)) + bit_count(xor(q.w2, c.w2))
        |      AS BIGINT) AS hamming,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |cut AS (SELECT query_id, neighbor_id, hamming, cosine,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY hamming ASC, neighbor_id) AS arank
        |        FROM pr)
        |SELECT query_id, neighbor_id, hamming, cosine,
        |  CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT query_id, neighbor_id, hamming, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM cut WHERE arank <= 40) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q92_semdedup", (s, dir) => {
      // SemDeDup corpus pruning: drop the higher-id endpoint of every
      // >=0.9-cosine embedding pair. Twin construction as in q38 (every
      // 7th vector re-added under a shifted id): the corpus's densest
      // natural pair sits at ~0.6 cosine, so the >=0.9 pair set is
      // exactly the planted identical twins and the LSH scale path
      // equals brute force BY CONSTRUCTION — recall exactly 1, no
      // probabilistic equality inside an oracle-checked query.
      val emb = Tables.embeddings(s, dir)
      val twins = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      sim.Similarity.semDedupSurvivors(corpus, "vec_id", "embedding",
        dim = 64, minCosine = 0.9)
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
      // brute force over the same twin-augmented corpus; min-id
      // retention expressed as NOT EXISTS over the >=0.9 pair set
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id % 7 = 0),
        |v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM corpus)
        |SELECT c.vec_id FROM corpus c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE b.vec_id = c.vec_id
        |    AND list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |         FOR i IN range(1, len(a.embedding) + 1)]) / (a.nrm * b.nrm) >= 0.9)
        |ORDER BY vec_id""".stripMargin),

    Query("q99_ann_drift", (s, dir) => {
      // C38's retrain signal, driver-gated: quantization drift of a
      // batch against the index's FROZEN coarse quantizer. The indexed
      // corpus itself must report drift_ratio = 1 (its persisted
      // baseline IS that corpus — same deterministic pass), and a
      // deliberately shifted copy (+50 per component) must scream
      // >> 1. The exact column (batch n) compares by value; the
      // trained-quantizer ratios flatten to 1/0 verdicts the oracle
      // asserts as literal 1s (q62/q68 discipline). Index build
      // hoisted to the once-per-process setup; driftStats itself is
      // the O(batch) map-only pass + a one-row baseline read — it
      // never rescans the cells table (plan spec'd).
      val emb = Tables.embeddings(s, dir)
      setupOnce(s"q99ann|$dir") {
        sim.IncrementalAnn.writeIndex(emb, "vec_id", "embedding", "q99ann",
          kCoarse = 8, iters = 3, buckets = 4)
      }
      val inDist = sim.IncrementalAnn.driftStats(emb, "embedding", "q99ann")
      val shifted = sim.IncrementalAnn.driftStats(
        emb.withColumn("embedding",
          transform(col("embedding"), x => (x + lit(50.0f)).cast("float"))),
        "embedding", "q99ann")
      inDist.select(col("n"),
          (abs(col("drift_ratio") - 1.0) < 0.05).cast("long").as("in_dist_ok"))
        .crossJoin(shifted.select(
          (col("drift_ratio") > 10.0).cast("long").as("shift_flagged")))
    },
      // the batch size compares by value; the trained-quantizer drift
      // verdicts (in-distribution ratio ~1, shifted ratio >> 1) are
      // Spark-side 1/0 columns the oracle asserts as literal 1s
      """SELECT count(*) AS n,
        | CAST(1 AS BIGINT) AS in_dist_ok,
        | CAST(1 AS BIGINT) AS shift_flagged
        |FROM embeddings""".stripMargin),

    Query("q87_incremental_ann", (s, dir) => {
      // incremental ANN lifecycle in-query: IVF cell index built on two
      // thirds of the vectors (frozen centroids), the last third
      // APPENDED in O(delta) (assign + bucketed append, no retrain),
      // the append REPLAYED (id gate → no-op), then top-5 probing ALL
      // cells — cells partition the corpus, so the result must equal
      // q37's exact brute-force oracle over the full vector set.
      // Restricted-nprobe recall is spec'd like the other ANN surfaces.
      // Base build (k-means training) hoisted to the once-per-process
      // setup; warm invocations hit the id gate, so both appends become
      // the replay no-op — the gated-append contract itself.
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 3 =!= 2)
      val delta = emb.filter(col("vec_id") % 3 === 2)
      setupOnce(s"q87ann|$dir") {
        sim.IncrementalAnn.writeIndex(base, "vec_id", "embedding", "q87ann",
          kCoarse = 8, iters = 3, buckets = 4)
      }
      sim.IncrementalAnn.appendVectors(delta, "vec_id", "embedding", "q87ann")
      sim.IncrementalAnn.appendVectors(delta, "vec_id", "embedding", "q87ann")
      sim.IncrementalAnn.topK(s, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "q87ann", k = 5, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                   FOR i IN range(1, len(embedding) + 1)])) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    roundStable(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                 FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 4) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q384_cand_clustered", (s, dir) => {
      // §5.2's central claim — "cell-keyed candidate pruning is FREE
      // when geometry exists" — made oracle-visible (it lived only in
      // SURVEY tables and CandidatesSpec until r14). Corpus: the sf
      // embeddings pulled toward 8 deterministic hash-derived centers
      // (CandScale's planted-geometry generator: signal ×0.3, center
      // span ±2.5 — intra-cluster cosine ≫ inter, the structure real
      // embedding corpora have and the raw synthetic corpus lacks).
      // Verdicts, all asserted as 1 by the oracle: recall of the TRUE
      // 10-NN pair set (in-query cosine brute force, every point a
      // query) is EXACTLY 1.0 at nprobe=1, AND ≥87 % of the n·(n−1)
      // ordered pairs are pruned (measured 0.8754-0.8767 across SFs —
      // the balanced-8-cell bound is 0.875), AND the full knnOutliers
      // diagnostic on the pruned candidates is row-set-identical to
      // its brute-force twin. Counts and config ride by value.
      val row = memoOnce(s"q384-$dir") {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * 0.3 +
              (pmod(xxhash64(pmod(col("vec_id"), lit(8)) * 64 + i),
                lit(1000)).cast("double") / 500.0 - 1.0) * 2.5)
              .cast("float")).as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = emb.count()
        // GateCost-wrapped stages are the brute-force ORACLE machinery
        // (all-pairs truth + brute-twin equality) the 100 TB plan
        // drops; the candidate path between them is the operator
        val (truth, nTruth) = GateCost.timed {
          val t = sim.Similarity.bruteForceTopK(emb, emb, "vec_id",
              "embedding", k = 10)
            .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (t, t.count())
        }
        val cand = sim.Candidates.ivfSelfPairs(emb, "vec_id", "embedding",
            kCoarse = 8, nprobe = 1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nCand = cand.count()
        val (hit, diagOk) = GateCost.timed {
          val h = truth.join(cand, Seq("id_a", "id_b")).count()
          // persist the 20-row diag outputs so the two-directional
          // exceptAll executes each all-pairs plan ONCE (the
          // CandVerdict.measure discipline)
          val brute = sim.Geometry.knnOutliers(emb, "vec_id", "embedding",
              k = 10, topN = 20)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val viaCand = sim.Geometry.knnOutliers(emb, "vec_id", "embedding",
              k = 10, topN = 20, candidates = Some(cand))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          brute.count(): Unit
          viaCand.count(): Unit
          val ok = viaCand.exceptAll(brute).isEmpty &&
            brute.exceptAll(viaCand).isEmpty
          brute.unpersist(blocking = false)
          viaCand.unpersist(blocking = false)
          (h, ok)
        }
        val pruneOk = nCand.toDouble <= 0.13 * n.toDouble * (n - 1)
        truth.unpersist(); cand.unpersist(); emb.unpersist()
        (n, nTruth, hit, hit == nTruth, pruneOk, diagOk)
      }
      val (n, nTruth, hit, recallOk, pruneOk, diagOk) = row
      // n_hit_pairs rides BY VALUE next to the recall_exact_ok flag
      // (r15, advisor ask): if a degenerate coarse init ever drops
      // recall below 1.0, the dump shows HOW MANY truth pairs were
      // missed instead of failing as an unattributable flake.
      s.range(1).select(
        lit(n).as("n_corpus"), lit(nTruth).as("n_truth_pairs"),
        lit(hit).as("n_hit_pairs"),
        lit(8L).as("k_coarse"), lit(1L).as("nprobe"),
        lit(10L).as("recall_k"), lit(87L).as("prune_floor_pct"),
        lit(if (recallOk) 1L else 0L).as("recall_exact_ok"),
        lit(if (pruneOk) 1L else 0L).as("prune_floor_ok"),
        lit(if (diagOk) 1L else 0L).as("diag_eq_brute_ok"))
    },
      // planted-geometry corpus: counts by value (truth pairs = 10 per
      // point — n > k+1 at every SF), config literals, and the three
      // §5.2 claims (exact recall at nprobe=1, >= 87 % pruned, full
      // diagnostic equality) as literal 1s
      """WITH c AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(n AS BIGINT) AS n_corpus,
        | CAST(10 * n AS BIGINT) AS n_truth_pairs,
        | CAST(10 * n AS BIGINT) AS n_hit_pairs,
        | CAST(8 AS BIGINT) AS k_coarse, CAST(1 AS BIGINT) AS nprobe,
        | CAST(10 AS BIGINT) AS recall_k,
        | CAST(87 AS BIGINT) AS prune_floor_pct,
        | CAST(1 AS BIGINT) AS recall_exact_ok,
        | CAST(1 AS BIGINT) AS prune_floor_ok,
        | CAST(1 AS BIGINT) AS diag_eq_brute_ok
        |FROM c""".stripMargin),
  )
}

/** Generated DuckDB oracle for q292: the SAME 10 power-iteration rounds
  * the engine runs driver-side, unrolled as chained CTEs (the q106/q146
  * unrolled-iteration feat) — covariance from raw moments, w₀ = 1/√d,
  * per-round L2 normalization, canonical sign at the max-|loading| dim
  * (lowest pos on ties), λ₁ as the Rayleigh quotient over trace.
  */
private[graft] object Pc1OracleSql {
  val iters = 10
  val sql: String = {
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      // MATERIALIZED: each round references its predecessor twice (the
      // norm scalar + the vector); inlined CTEs would re-evaluate the
      // whole chain 2^iters times
      s"""m$r AS MATERIALIZED (SELECT cv.i AS i, sum(cv.c * $prev.w) AS nw
         |  FROM cv JOIN $prev ON cv.j = $prev.i GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT i,
         |    nw / sqrt((SELECT sum(nw * nw) FROM m$r)) AS w
         |  FROM m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH px AS (SELECT i.i AS i, j.j AS j,
       |    CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) AS xi,
       |    CAST(embedding[CAST(j.j AS INT)] AS DOUBLE) AS xj
       |  FROM embeddings, range(1, 65) i(i), range(1, 65) j(j)),
       |cv AS MATERIALIZED (SELECT i, j,
       |    sum(xi * xj) / count(*)
       |      - (sum(xi) / count(*)) * (sum(xj) / count(*)) AS c
       |  FROM px GROUP BY 1, 2),
       |w0 AS (SELECT i, 1.0 / sqrt(64.0) AS w FROM range(1, 65) t(i)),
       |$rounds,
       |sgn AS (SELECT CASE WHEN (SELECT w FROM w$iters
       |    ORDER BY abs(w) DESC, i ASC LIMIT 1) < 0
       |  THEN -1.0 ELSE 1.0 END AS s),
       |wf AS (SELECT i, w * s AS w FROM w$iters, sgn),
       |lam AS (SELECT sum(wi.w * cv.c * wj.w) AS l FROM cv
       |  JOIN wf wi ON cv.i = wi.i JOIN wf wj ON cv.j = wj.i),
       |tr AS (SELECT sum(c) AS t FROM cv WHERE i = j)
       |SELECT CAST(wf.i - 1 AS BIGINT) AS pos,
       |  roundStable(wf.w, 6) AS pc1_loading,
       |  roundStable(CASE WHEN tr.t > 0 THEN lam.l / tr.t ELSE 0.0 END, 6)
       |    AS pc1_var_share
       |FROM wf, lam, tr ORDER BY pos""".stripMargin
  }

  /** q371: the SAME 10-round fit (everything through `wf`), then the
    * all-but-the-top projection per (vector, dim) — the common prefix
    * is built once here so the two oracles cannot drift apart.
    */
  val debiasSql: String = {
    // reuse everything up to and including wf/lam/tr by prefix-sharing
    // the WITH-chain and swapping the final SELECT — the two oracles
    // cannot drift apart
    val base = sql.substring(0, sql.indexOf("SELECT CAST(wf.i - 1"))
    base.reverse.dropWhile(_ == '\n').reverse + ",\n" +
      """mn AS MATERIALIZED (SELECT i.i AS i,
        |    avg(CAST(embedding[CAST(i.i AS INT)] AS DOUBLE)) AS m
        |  FROM embeddings, range(1, 65) i(i) GROUP BY 1),
        |pj AS MATERIALIZED (SELECT e.vec_id,
        |    sum((CAST(e.embedding[CAST(wf.i AS INT)] AS DOUBLE) - mn.m)
        |      * wf.w) AS p
        |  FROM embeddings e, wf JOIN mn ON mn.i = wf.i GROUP BY 1)
        |SELECT e.vec_id, CAST(wf.i - 1 AS BIGINT) AS pos,
        |  roundStable((CAST(e.embedding[CAST(wf.i AS INT)] AS DOUBLE)
        |      - mn.m) - pj.p * wf.w, 6) AS debiased
        |FROM embeddings e, wf
        |  JOIN mn ON mn.i = wf.i
        |  JOIN pj ON pj.vec_id = e.vec_id
        |ORDER BY e.vec_id, pos""".stripMargin
  }
}
