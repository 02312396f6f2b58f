package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * All math is done in double through the native
  * [[graft.functions.DotProduct]] expression (each product widened to
  * double, summed left to right), so the DuckDB oracle can mirror the
  * exact arithmetic (float32 accumulation would diverge
  * engine-to-engine).
  *
  * Brute force is the small-candidate-set workhorse (and the oracle for
  * the approximate paths); [[LshAnn]] is the 100 TB path.
  */
object Similarity {

  /** dot(a, b) in double, left-fold accumulation — native codegen'd
    * expression ([[graft.functions.DotProduct]]); same accumulation order
    * as a `zip_with`+`aggregate` fold but without per-row array
    * materialization (measured 20× on the all-pairs near-dup query).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** One-row embedding-space census — the preflight a vector corpus
    * gets BEFORE anyone sizes an index on it: count, dimension (min
    * and max — a ragged column is a broken export), norm mean/sd
    * (near-zero sd ⇒ vectors are already normalized; skip the
    * per-query normalize), zero-vector count (cosine is undefined on
    * them — they poison top-k silently), and the mean |cos| between
    * ADJACENT ids as the isotropy proxy (→ 0 isotropic / healthy;
    * → 1 the anisotropic cone Ethayarajh '19 warns about, where
    * cosine stops discriminating). Adjacent pairs come from an
    * equi-join on `id+1` — deterministic, O(n), NO global sort and no
    * quadratic sample; the census agg and the pair agg are two 1-row
    * frames cross-joined.
    */
  def embeddingCensus(df: DataFrame, idCol: String, vecCol: String,
                      digits: Int = 6): DataFrame = {
    val v = col(vecCol)
    val staged = df.select(col(idCol).as("__id"), v.as("__v"),
      sqrt(dot(v, v)).as("__nrm"), size(v).as("__dim"))
    val census = staged.agg(
      count(lit(1)).as("n"),
      min(col("__dim")).cast("long").as("dim_min"),
      max(col("__dim")).cast("long").as("dim_max"),
      graft.functions.roundStable(avg(col("__nrm")), digits)
        .as("mean_norm"),
      graft.functions.roundStable(stddev_samp(col("__nrm")), digits)
        .as("sd_norm"),
      sum(when(col("__nrm") < 1e-12, 1L).otherwise(0L)).as("n_zero"))
    val a = staged.select(col("__id"), col("__v").as("__va"),
      col("__nrm").as("__na"))
    val b = staged.select((col("__id") - 1).as("__id"),
      col("__v").as("__vb"), col("__nrm").as("__nb"))
    val pairs = a.join(b, "__id")
      .select(when(col("__na") > 0 && col("__nb") > 0,
        abs(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))))
        .as("__c"))
      .agg(graft.functions.roundStable(avg(col("__c")), digits)
        .as("mean_abs_cos_adjacent"),
        count(col("__c")).as("n_pairs"))
    census.crossJoin(pairs)
  }

  /** Exact top-k neighbors for each query vector, brute force.
    *
    * Output (query_id, neighbor_id, cosine, rank): for each query, the k
    * corpus rows with a different id ranked by
    * `roundStable(cos, simDigits)` desc NULLS LAST, then neighbor id —
    * deterministic and oracle-stable. Rows with a NULL id on either side
    * are never scored; a NULL vector scores NULL.
    *
    * With Long ids on both sides and k ≤ 256 (every real caller) the
    * pairs never become rows: [[graft.plans.ExactTopKExec]] streams the
    * corpus partitions and takes the queries as a broadcast; each task
    * holds the queries as one flat `double[]` plus their norms and one
    * k-bounded buffer per query, |Q| × (d + k) slots, and emits its
    * |Q| × k best candidates. [[graft.functions.TopKAgg]] merges those
    * per query (map-side partial, then one exchange of k rows per query
    * and partition). The plan stays lazy and visible to `explain` and
    * AQE. Other id types and larger k (the q51 full ranking passes
    * `Int.MaxValue`) score through a broadcast nested-loop join and a
    * `row_number` window, which gives the same rows.
    *
    * The query side must be small: every task holds all of it. Cost:
    * |queries| × |corpus| dot products — at scale cap the queries or use
    * [[LshAnn]].
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      simDigits: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // the corpus is the STREAM side: its scan partitioning bounds the
    // |queries|×|corpus| scoring parallelism — spread an under-parallel
    // scan (guide §2.2; no-op at scale)
    val spread = graft.Tables.spread(corpus, idCol)
    val longIds = corpus.schema(idCol).dataType == LongType &&
      queries.schema(idCol).dataType == LongType
    // cap 256 (r17 advisor note): a buffer offer is O(k) per pair, so a
    // near-cap k would regress against the window's sort — every real
    // caller uses k ≤ 64
    if (k <= 256 && longIds) {
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      val c = spread.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
        .queryExecution.analyzed
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .queryExecution.analyzed
      val (cId, cVec) = (c.output(0), c.output(1))
      val (qId, qVec) = (q.output(0), q.output(1))
      val ansi = corpus.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
      val out = Seq(AttributeReference("query_id", LongType, qId.nullable)(),
        AttributeReference("neighbor_id", LongType, cId.nullable)(),
        AttributeReference("cosine", DoubleType)())
      org.apache.spark.sql.GraftShims.ofRows(corpus.sparkSession,
        graft.plans.ExactTopKLogical(c, q, cId, cVec, qId, qVec, k, simDigits, ansi, out))
        .groupBy(col("query_id"))
        .agg(graft.functions.TopKAgg.topKMax(
          col("cosine"), col("neighbor_id"), k).as("__tk"))
        .select(col("query_id"), posexplode(col("__tk")).as(Seq("__p", "__e")))
        .select(col("query_id"), col("__e").getField("id").as("neighbor_id"),
          col("__e").getField("score").as("cosine"),
          (col("__p") + 1).cast("long").as("rank"))
    } else {
      // Norms once per vector (not per pair) — the oracle precomputes
      // them in a CTE the same way, so the arithmetic stays identical.
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"))
      val c = spread.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      val sim = graft.functions.roundStable(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), simDigits)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", sim)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    }
  }

  /** Mutual-nearest-neighbor alignment pairs across two vector sets
    * (the MNN criterion of Artetxe & Schwenk ACL'19's margin mining,
    * at k = 1): a pair (a, b) survives iff b is a's single nearest
    * neighbor in B AND a is b's single nearest in A — the high-
    * precision bitext/translation-candidate filter (one-directional
    * top-1 pairs a hub vector with half the other side; mutuality
    * kills hubs by construction). Rides [[bruteForceTopK]] verbatim in
    * both directions (rounded-cosine + id tie-break — deterministic,
    * oracle-stable), so the exact run IS the gated one; pass
    * `candidates` (directed (id_a, id_b) pairs, e.g.
    * [[Candidates.ivfCrossPairs]]) to restrict both directions to a
    * candidate list at scale — one scored pair table feeds both top-1
    * windows, identical arithmetic, bit-identical at recall 1.0.
    */
  def mutualNearest(a: DataFrame, b: DataFrame, idCol: String,
                    vecCol: String, simDigits: Int = 4,
                    candidates: Option[DataFrame] = None): DataFrame =
    candidates match {
      case None =>
        val ab = bruteForceTopK(b, a, idCol, vecCol, k = 1, simDigits)
          .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
            col("cosine"))
        val ba = bruteForceTopK(a, b, idCol, vecCol, k = 1, simDigits)
          .select(col("query_id").as("id_b"), col("neighbor_id").as("id_a"))
        ab.join(ba, Seq("id_a", "id_b"))
      case Some(cand) =>
        val qa = a.select(col(idCol).as("id_a"), col(vecCol).as("__qv"),
          norm(col(vecCol)).as("__qn"))
        val cb = b.select(col(idCol).as("id_b"), col(vecCol).as("__cv"),
          norm(col(vecCol)).as("__cn"))
        // pinned keyed repartition replaces the dedup's own exchange so
        // AQE's byte-based coalescing can't squash the per-pair dot
        // stage to one task — see [[Geometry.pairDists]]'s candidate
        // path for the full rationale (same 16-byte-pair shape)
        val para = cand.sparkSession.sparkContext.defaultParallelism
        val scored = cand.select("id_a", "id_b")
          .repartition(para, col("id_a"), col("id_b"))
          .dropDuplicates("id_a", "id_b")
          .join(qa, Seq("id_a")).join(cb, Seq("id_b"))
          .withColumn("cosine", graft.functions.roundStable(
            dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")),
            simDigits))
        // per-side top-1 via the bounded aggregate when ids are long
        // (map-side partial — see bruteForceTopK); window fallback
        // otherwise. Same (cosine desc, other-id asc) order either way.
        import org.apache.spark.sql.types.LongType
        val longIds = a.schema(idCol).dataType == LongType &&
          b.schema(idCol).dataType == LongType
        val (ab, ba) =
          if (longIds) {
            val abT = scored.groupBy(col("id_a"))
              .agg(graft.functions.TopKAgg.topKMax(
                col("cosine"), col("id_b"), 1).as("__tk"))
              .select(col("id_a"),
                element_at(col("__tk"), 1).getField("id").as("id_b"),
                element_at(col("__tk"), 1).getField("score").as("cosine"))
            val baT = scored.groupBy(col("id_b"))
              .agg(graft.functions.TopKAgg.topKMax(
                col("cosine"), col("id_a"), 1).as("__tk"))
              .select(element_at(col("__tk"), 1).getField("id").as("id_a"),
                col("id_b"))
            (abT, baT)
          } else {
            val abW = scored.withColumn("__rk", row_number().over(
                Window.partitionBy(col("id_a"))
                  .orderBy(col("cosine").desc, col("id_b"))))
              .filter(col("__rk") === 1).select("id_a", "id_b", "cosine")
            val baW = scored.withColumn("__rk", row_number().over(
                Window.partitionBy(col("id_b"))
                  .orderBy(col("cosine").desc, col("id_a"))))
              .filter(col("__rk") === 1).select("id_a", "id_b")
            (abW, baW)
          }
        ab.join(ba, Seq("id_a", "id_b"))
    }

  /** Margin-scored mutual nearest neighbors — [[mutualNearest]]
    * upgraded with Artetxe & Schwenk ACL'19's RATIO margin:
    * `margin(a,b) = cos(a,b) / ((Σ_{z∈NN_k(a)} cos(a,z) +
    * Σ_{z∈NN_k(b)} cos(b,z)) / 2k)` — how much closer the pair is
    * than each side's typical neighborhood. Raw-cosine thresholds
    * fail in dense regions (everything scores 0.9); the margin
    * normalizes by local density, so one global threshold works
    * across the space — the score that made large-scale bitext
    * mining precise. Both direction's top-k runs come from
    * [[bruteForceTopK]] (oracle-stable); the k-NN means are one
    * keyed agg over those same runs, no extra pair pass. A zero
    * neighborhood mean (pathological anti-correlated space) yields
    * NULL margin, never a 0-divide.
    */
  def marginMutualNearest(a: DataFrame, b: DataFrame, idCol: String,
                          vecCol: String, k: Int = 4, simDigits: Int = 4,
                          digits: Int = 6): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val fwd = bruteForceTopK(b, a, idCol, vecCol, k, simDigits)
    val bwd = bruteForceTopK(a, b, idCol, vecCol, k, simDigits)
    val fTop = fwd.filter(col("rank") === 1)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cosine"))
    val bTop = bwd.filter(col("rank") === 1)
      .select(col("query_id").as("id_b"), col("neighbor_id").as("id_a"))
    val fm = fwd.groupBy(col("query_id").as("id_a"))
      .agg(avg(col("cosine")).as("__ma"))
    val bm = bwd.groupBy(col("query_id").as("id_b"))
      .agg(avg(col("cosine")).as("__mb"))
    val den = (col("__ma") + col("__mb")) / 2
    fTop.join(bTop, Seq("id_a", "id_b"))
      .join(fm, "id_a").join(bm, "id_b")
      .select(col("id_a"), col("id_b"), col("cosine"),
        graft.functions.roundStable(when(den =!= 0.0,
          col("cosine") / den), digits).as("margin"))
  }

  /** Binary-relevance nDCG@k of the exact cosine run against a label
    * column — the retrieval-quality readout the ANN ladder is tuned BY
    * (recall@k says "found the true neighbors"; nDCG says "and ranked
    * the relevant ones high"): relevance = the neighbor shares the
    * query's label, `DCG = Σ rel_i / log₂(i+1)` over the top-k,
    * normalized by the ideal DCG for the query's ACTUAL relevant-corpus
    * count R (excluding the query's own id) capped at k. Queries with
    * R = 0 emit NULL (no achievable gain — undefined, not zero).
    *
    * Shape: rides [[bruteForceTopK]]'s ranking verbatim (rounded score
    * + id tie-break — the run being scored IS the oracle-gated one),
    * plus one broadcast label lookup per side and a per-label corpus
    * count; the ideal-DCG prefix sum is a bounded `aggregate` HOF over
    * `sequence(1, min(k, R))` — codegen'd, no UDF.
    */
  def ndcgAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, labelCol: String, k: Int,
              simDigits: Int = 4, decimals: Int = 6): DataFrame = {
    val run = bruteForceTopK(corpus, queries, idCol, vecCol, k, simDigits)
    val qLab = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"))
    val cLab = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"))
    val log2 = (x: Column) => log(x) / log(lit(2.0))
    val dcg = run
      .join(broadcast(qLab), Seq("query_id"))
      .join(cLab, Seq("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(sum(when(col("__cl") === col("__ql"), lit(1.0) /
          log2(col("rank") + 1)).otherwise(0.0)).as("__dcg"),
        sum((col("__cl") === col("__ql")).cast("long")).as("n_rel_at_k"))
    val labCounts = cLab.groupBy(col("__cl").as("__ql"))
      .agg(count(lit(1)).as("__tot"))
    val selfRow = corpus.select(col(idCol).as("query_id"),
      col(labelCol).as("__sl"))
    val r = qLab
      .join(labCounts, Seq("__ql"), "left")
      .join(selfRow, Seq("query_id"), "left")
      .withColumn("__r", coalesce(col("__tot"), lit(0L)) -
        when(col("__sl") === col("__ql"), 1L).otherwise(0L))
    val idcg = aggregate(
      sequence(lit(1L), least(lit(k.toLong), col("__r"))),
      lit(0.0), (acc, i) => acc + lit(1.0) / log2(i + 1))
    r.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel_at_k"), lit(0L)).as("n_rel_at_k"),
        col("__r").as("n_rel_corpus"),
        graft.functions.roundStable(
          when(col("__r") >= 1, coalesce(col("__dcg"), lit(0.0)) / idcg),
          decimals).as("ndcg"))
  }

  /** The order-sensitive retrieval-eval triple [[ndcgAtK]] doesn't
    * cover, per query over the SAME oracle-gated exact run: reciprocal
    * rank (MRR's per-query term — 1/rank of the FIRST relevant hit, 0
    * if none in the top-k), average precision@k (AP — the area under
    * the precision-recall hops, `Σ_{rel i} P@i / min(k, R)`; what MAP
    * means over a query set), and precision/recall@k. Relevance =
    * neighbor shares the query's label; R = the query's relevant-corpus
    * count excluding itself; R = 0 queries emit NULL recall/AP (no
    * achievable gain — undefined, not zero) but a real precision.
    *
    * Shape: [[bruteForceTopK]]'s ranking verbatim, labels broadcast,
    * the running `P@i` a prefix-sum window over ≤ k rows per query, one
    * closing keyed agg; the per-label corpus count is the [[ndcgAtK]]
    * lookup. Swap the exact run for an ANN run to eval the ladder.
    */
  def retrievalEvalAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, labelCol: String, k: Int,
                       simDigits: Int = 4, decimals: Int = 6): DataFrame = {
    val run = bruteForceTopK(corpus, queries, idCol, vecCol, k, simDigits)
    val qLab = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"))
    val cLab = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"))
    val wPrefix = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rel = (col("__cl") === col("__ql")).cast("long")
    val scored = run
      .join(broadcast(qLab), Seq("query_id"))
      .join(cLab, Seq("neighbor_id"))
      .withColumn("__rel", rel)
      .withColumn("__cum", sum(col("__rel")).over(wPrefix))
      .groupBy(col("query_id"))
      .agg(
        sum(col("__rel")).as("n_rel_at_k"),
        coalesce(max(when(col("__rel") === 1,
          lit(1.0) / col("rank"))), lit(0.0)).as("__rr"),
        sum(when(col("__rel") === 1,
          col("__cum").cast("double") / col("rank"))).as("__apsum"))
    val labCounts = cLab.groupBy(col("__cl").as("__ql"))
      .agg(count(lit(1)).as("__tot"))
    val selfRow = corpus.select(col(idCol).as("query_id"),
      col(labelCol).as("__sl"))
    val r = qLab
      .join(labCounts, Seq("__ql"), "left")
      .join(selfRow, Seq("query_id"), "left")
      .withColumn("__r", coalesce(col("__tot"), lit(0L)) -
        when(col("__sl") === col("__ql"), 1L).otherwise(0L))
    r.join(scored, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel_at_k"), lit(0L)).as("n_rel_at_k"),
        col("__r").as("n_rel_corpus"),
        graft.functions.roundStable(
          coalesce(col("__rr"), lit(0.0)), decimals).as("reciprocal_rank"),
        graft.functions.roundStable(
          coalesce(col("n_rel_at_k"), lit(0L)).cast("double") / k,
          decimals).as("precision_at_k"),
        graft.functions.roundStable(
          when(col("__r") >= 1,
            coalesce(col("n_rel_at_k"), lit(0L)).cast("double") / col("__r")),
          decimals).as("recall_at_k"),
        graft.functions.roundStable(
          when(col("__r") >= 1, coalesce(col("__apsum"), lit(0.0)) /
            least(lit(k.toLong), col("__r"))),
          decimals).as("ap_at_k"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query (anchor), the top-k most similar corpus vectors with a
    * DIFFERENT label — maximally confusing non-matches, the pairs a
    * triplet/InfoNCE loss learns most from. Same exact scan + per-query
    * window as [[bruteForceTopK]] with the label inequality pushed into
    * the join (pairs sharing a label are pruned before the dot product,
    * not ranked and discarded); swap the scan for [[LshAnn]] buckets or
    * [[IvfPq]] probes at corpus scale.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      simDigits: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"), col(labelCol).as("__ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"), col(labelCol).as("__cl"))
    val sim = graft.functions.roundStable(
      dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), simDigits)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.join(broadcast(q), col("__ql") =!= col("__cl"))
      .withColumn("cosine", sim)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998): from each query's candidate set, greedily select k results
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)` — the
    * diversity pass a RAG / retrieval pipeline runs AFTER top-N
    * recall, so near-duplicate hits don't crowd out coverage.
    *
    * The greedy argmax is inherently sequential in the selection order,
    * so this is the third documented imperative island (with the stub
    * decode and packGreedy's fold): `flatMapGroups` per query over a
    * candidate set that is BOUNDED BY CONSTRUCTION (the top-N of a
    * retrieval stage — pass the output of [[bruteForceTopK]] /
    * [[graft.sim.IvfPq]] joined back to its vectors, never a whole
    * corpus). Distributed across queries; O(k·n·d) per query.
    * Deterministic: candidates sort by (rel desc, id), strict-max keeps
    * the first, so ties break identically under any partitioning.
    */
  def mmrRerank(candidates: DataFrame, queryIdCol: String, docIdCol: String,
                relCol: String, vecCol: String, k: Int, lambda: Double,
                simDigits: Int = 4): DataFrame = {
    require(k >= 1 && lambda >= 0.0 && lambda <= 1.0,
      s"need k >= 1 and lambda in [0, 1], got $k/$lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val pow10 = math.pow(10, simDigits)
    candidates
      .select(col(queryIdCol).cast("long"), col(docIdCol).cast("long"),
        col(relCol).cast("double"),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(c => (-c._3, c._2))
        val vecs = cand.map(_._4.toArray)
        val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
        val n = cand.length
        val maxSim = Array.fill(n)(0.0)
        val chosen = Array.fill(n)(false)
        def cos(i: Int, j: Int): Double = {
          var s = 0.0; var t = 0
          while (t < vecs(i).length) { s += vecs(i)(t) * vecs(j)(t); t += 1 }
          val d = norms(i) * norms(j)
          if (d > 0) s / d else 0.0
        }
        (1 to math.min(k, n)).iterator.map { r =>
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!chosen(i)) {
              val score = lambda * cand(i)._3 - (1 - lambda) * maxSim(i)
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          chosen(best) = true
          var j = 0
          while (j < n) {
            if (!chosen(j)) {
              val s = cos(j, best)
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          (qid, cand(best)._2, r.toLong,
            math.floor(bestScore * pow10 + 0.5) / pow10)
        }
      }
      .toDF("query_id", "doc_id", "mmr_rank", "mmr_score")
  }

  /** All near-duplicate pairs (id_a < id_b) with cosine >= minCosine,
    * brute force over the full pair space. Exact; the oracle twin of the
    * banded/LSH dedup paths. The smaller side is broadcast; at 100 TB use
    * [[LshAnn]] buckets or MinHash instead.
    */
  def nearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, simDigits: Int = 4): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      norm(col(vecCol)).as("__na"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      norm(col(vecCol)).as("__nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"),
        graft.functions.roundStable(col("cosine"), simDigits).as("cosine"))
  }

  /** Semantic dedup survivor set (the SemDeDup corpus-pruning stage):
    * drop the higher-id endpoint of every >= `minCosine` embedding pair,
    * keep the rest — the same min-id retention contract as the text-side
    * q43, applied to embedding-space near-dups. Pair discovery runs the
    * [[LshAnn]] bucketed scale path (never all-pairs); the exact
    * brute-force join is demoted to oracle/spec duty.
    *
    * Distributed shape: the banded self-join finds pairs, the dropped-id
    * set (tiny: one id per near-dup pair) anti-joins back onto the
    * corpus — the corpus never shuffles for the prune itself.
    */
  def semDedupSurvivors(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double): DataFrame = {
    val dropped = LshAnn.nearDupPairs(df, idCol, vecCol, dim, minCosine)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }
}

/** IVF-style ANN: vectors are pre-assigned to coarse clusters (here the
  * corpus's `label` column stands in for a trained centroid assignment —
  * in production, k-means centroids computed offline). Search only
  * touches the query's cluster: a keyed equi-join instead of all pairs,
  * and — unlike hash-based LSH — fully deterministic, so it gets a real
  * DuckDB oracle.
  */
object IvfAnn {

  /** Top-k per query among same-cluster candidates. */
  def topK(df: DataFrame, idCol: String, vecCol: String, clusterCol: String,
      isQuery: Column, k: Int): DataFrame = {
    val withNorm = df.select(col(idCol), col(vecCol), col(clusterCol),
      Similarity.norm(col(vecCol)).as("__n"))
    val q = withNorm.filter(isQuery).select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), col("__n").as("__qn"), col(clusterCol).as("__c"))
    val c = withNorm.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col("__n").as("__cn"), col(clusterCol).as("__c"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("__c"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", graft.functions.roundStable(
        Similarity.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }
}

/** Random-hyperplane LSH ANN: the scale path for similarity search.
  *
  * Sign-bit sketches from `nTables` independent sets of `bitsPerTable`
  * deterministic hyperplanes (seeded PRNG — reproducible across runs).
  * Candidates = vectors sharing a bucket in ANY table; exact cosine is
  * then computed only on candidates. At 100 TB the bucket join shuffles
  * on (table, bucket) — O(n·tables) rows instead of O(n²) pairs.
  */
object LshAnn {

  def hyperplanes(dim: Int, nTables: Int, bitsPerTable: Int, seed: Long = 42L): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nTables, bitsPerTable, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** (id, table, bucket) — one row per table per vector. */
  def buckets(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nTables: Int = 8, bitsPerTable: Int = 4, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nTables, bitsPerTable, seed)
    val tableCols = planes.zipWithIndex.map { case (tbl, t) =>
      val bucket = tbl.zipWithIndex.map { case (plane, bit) =>
        val planeCol = array(plane.map(lit).toIndexedSeq: _*)
        when(Similarity.dot(col(vecCol), planeCol) > 0, lit(1L << bit)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("table"), bucket.as("bucket"))
    }
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(array(tableCols.toIndexedSeq: _*)).as("tb"))
      .select(col("id"), col("vec"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** All near-duplicate pairs (id_a < id_b) with cosine >= minCosine via
    * bucket-join candidates + exact verification — the scale path for
    * [[Similarity.nearDupPairs]]' all-pairs contract at HIGH thresholds.
    * One side of the self-join probes every bucket within hamming
    * `probeBits` of its sketch; exact verification removes every false
    * positive, so the output equals brute force up to the recall term.
    *
    * Design point: minCosine ≥ ~0.8 with `bitsPerTable` sized so the
    * bucket space exceeds the corpus (≈ log2 n bits). At 0.9 cosine
    * (p_bit≈0.86), 8×8-bit tables with 1-bit probing put the per-pair
    * miss probability under 1e-6 while buckets stay selective. LOW
    * thresholds (≈0.45) are fundamentally hostile to hashing — p_bit is
    * near 1/2, so any scheme needs either all-pairs-scale probing or
    * accepts recall loss; use the brute-force oracle twin there and
    * treat the threshold as the knob that buys scalability.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double, nTables: Int = 8, bitsPerTable: Int = 8,
      probeBits: Int = 1, simDigits: Int = 4): DataFrame = {
    // the bucket index feeds BOTH sides of the self-join — without a
    // persist Spark recomputes the nTables×bits hyperplane dots per row
    // twice (same lifecycle as the MinHash/NGram dedup indexes: persist,
    // localCheckpoint the small pair result, unpersist the big index)
    val bk = buckets(df, idCol, vecCol, dim, nTables, bitsPerTable)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val variants = (0 until (1 << bitsPerTable))
      .filter(m => java.lang.Integer.bitCount(m) <= probeBits)
      .map(m => lit(m.toLong))
    val a = bk
      .withColumn("bucket", explode(array(variants.map(col("bucket").bitwiseXOR): _*)))
      .select(col("id").as("id_a"), col("table"), col("bucket"))
    val b = bk.select(col("id").as("id_b"), col("table"), col("bucket"))
    // candidate pairs travel as BARE ID PAIRS through the bucket join and
    // the distinct — carrying the vectors here would shuffle 2×dim floats
    // per (pre-dedup) candidate row; attaching them after the distinct
    // shuffles them once per UNIQUE pair instead (measured 2× on q38)
    val cand = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // norms once per VECTOR at attach time, not per pair — the verify
    // stage otherwise runs three array passes (dot + both norms) per
    // candidate pair; same arithmetic as the brute-force oracle's
    // per-vector norm CTE, so hash parity is preserved
    val vecs = df.select(col(idCol).as("__vid"), col(vecCol).as("__v"),
      Similarity.norm(col(vecCol)).as("__n"))
    val out = cand
      .join(vecs, col("id_a") === col("__vid"))
      .withColumnRenamed("__v", "va").withColumnRenamed("__n", "na").drop("__vid")
      .join(vecs, col("id_b") === col("__vid"))
      .withColumnRenamed("__v", "vb").withColumnRenamed("__n", "nb").drop("__vid")
      .withColumn("cosine", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"),
        graft.functions.roundStable(col("cosine"), simDigits).as("cosine"))
      .localCheckpoint()
    bk.unpersist()
    out
  }

  /** Approximate top-k per query: bucket-join candidates, exact cosine,
    * deterministic ranking. Queries are a subset predicate on the corpus.
    *
    * `multiProbe = true` additionally probes every 1-bit-flipped bucket
    * on the QUERY side only (standard multi-probe LSH): candidates whose
    * sketch differs by one hyperplane sign are recovered without adding
    * tables — the corpus index size is unchanged.
    */
  def topK(df: DataFrame, idCol: String, vecCol: String, isQuery: Column,
      dim: Int, k: Int, nTables: Int = 8, bitsPerTable: Int = 4,
      multiProbe: Boolean = true): DataFrame = {
    val bk = buckets(df, idCol, vecCol, dim, nTables, bitsPerTable)
    val qids = df.filter(isQuery).select(col(idCol).as("id"))
    // Restrict to query rows BEFORE probing: the 1-bit-flip explode is a
    // (bitsPerTable+1)× row blowup, and only queries need probe variants —
    // exploding the full corpus index first would multiply O(n·tables)
    // rows for no benefit. Order here is |q|·tables·(bits+1), not n·….
    val qSide = bk.join(broadcast(qids), "id")
    val probed =
      if (!multiProbe) qSide
      else {
        val variants = lit(0L) +: (0 until bitsPerTable).map(b => lit(1L << b))
        qSide.withColumn("bucket",
            explode(array(variants.map(col("bucket").bitwiseXOR): _*)))
      }
    // norms once per index row (8·n) instead of once per candidate pair
    // (≥ occupancy × that) — the pair stage then divides, never rescans
    val q = probed
      .select(col("id").as("query_id"), col("vec").as("qv"),
        Similarity.norm(col("vec")).as("qn"), col("table"), col("bucket"))
    val c = bk.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      Similarity.norm(col("vec")).as("cn"), col("table"), col("bucket"))
    val cands = q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "qv", "qn", "cv", "cn")
      // dedup on the id pair only — full-row distinct would hash the
      // float vectors too (same result, ~2×64 floats more work per row)
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cands
      .withColumn("cosine",
        graft.functions.roundStable(
          Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }
}
