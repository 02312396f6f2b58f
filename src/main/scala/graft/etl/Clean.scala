package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Cleaning operators — dedup, missing-value interpolation, outlier
  * clipping. Reference: dags/airflow_dag_calidad_aire.py:156-180.
  *
  * Scale notes: every operator here partitions by the group key — at
  * 100 TB the window work parallelizes across keys with one shuffle on the
  * key, no global sort. Keys are sensor/user series, so per-key cardinality
  * is bounded (hourly data → ~10^5 rows/key/decade) and skew is not a
  * concern; a pathological hot key would be handled by AQE skew splitting
  * on the preceding shuffle.
  */
object Clean {

  /** Exact deduplication on a business key with a deterministic survivor
    * (first row by `orderCols`). The reference's `drop_duplicates`
    * (dag:180) keeps the first physical row; a distributed engine has no
    * "first physical row", so we make survivorship explicit and
    * reproducible via row_number over (key, order).
    */
  def dedupExact(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-group, ordered linear interpolation of nulls in `valueCol`
    * (pandas `interpolate(method='linear')`, dag:162-168), expressed with
    * window functions only:
    *
    *   prev = last non-null value at or before this row
    *   next = first non-null value at or after this row
    *   gap position = rows since prev / rows from prev to next
    *   interpolated = prev + (next - prev) * position
    *
    * Boundary semantics match pandas `interpolate` defaults: leading nulls
    * stay null, trailing nulls forward-fill from the last known value.
    * `maxGap` bounds the fill like pandas' `limit=` (dag:167): runs of
    * nulls longer than `maxGap` are left null.
    */
  def interpolateLinear(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String],
      valueCol: String,
      maxGap: Int = Int.MaxValue): DataFrame =
    interpolateLinear(df, keyCol, orderCols, Seq(valueCol), maxGap)

  /** Multi-column variant — the reference interpolates all 7 numeric
    * columns per station (dag:161-167). All columns share ONE keyed
    * shuffle and one ascending + one descending in-partition sort: every
    * per-column window function rides the same two window specs, so
    * Catalyst plans one Window operator per direction (plus the row
    * index's) over a single Exchange and two Sorts (asserted in PlanSpec)
    * instead of re-shuffling or re-sorting per column.
    */
  def interpolateLinear(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String],
      valueCols: Seq[String],
      maxGap: Int): DataFrame = {
    val wAsc = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)

    // Row index of the nearest non-null neighbor in each direction.
    //
    // PERFORMANCE: the "next" side must NOT use a (0, unboundedFollowing)
    // frame — Spark's UnboundedFollowingWindowFunctionFrame recomputes the
    // aggregate from scratch per row, i.e. O(n²) per key (measured: hangs
    // at 8760 rows/key while being invisible at the test SF's ~70).
    // A reversed-order running frame computes the same value in O(n); the
    // two window specs share the partition key so there's still exactly
    // one shuffle, just an extra in-partition sort.
    val wDesc = Window.partitionBy(keyCol).orderBy(orderCols.map(c => col(c).desc): _*)
    val ascRun  = wAsc.rowsBetween(Window.unboundedPreceding, 0)
    val descRun = wDesc.rowsBetween(Window.unboundedPreceding, 0)
    val withIdx = df.withColumn("__rn", row_number().over(wAsc))

    // The neighbor value and its row index always come from the SAME row
    // (the nearest non-null one), so they travel as ONE struct per
    // direction — 2 window aggregates per column instead of 4, halving
    // the per-row window bookkeeping on the pipeline's hottest stage.
    // All "prev" aggregates sit in one projection and all "next" ones in
    // the next: alternating the two specs column by column makes Catalyst
    // re-sort the partition for every aggregate.
    def tagged(c: String) = when(col(c).isNotNull, struct(col("__rn").as("i"), col(c).as("v")))
    def neighbors(prefix: String, frame: WindowSpec) = col("*") +:
      valueCols.map(c => last(tagged(c), ignoreNulls = true).over(frame).as(s"$prefix$c"))
    val withNeighbors = withIdx
      .select(neighbors("__p_", ascRun): _*)
      .select(neighbors("__n_", descRun): _*)
    val filled = valueCols.foldLeft(withNeighbors) { (acc, c) =>
      val v = col(c)
      val (pv, pi) = (col(s"__p_$c.v"), col(s"__p_$c.i"))
      val (nv, ni) = (col(s"__n_$c.v"), col(s"__n_$c.i"))
      acc.withColumn(
        c,
        when(v.isNotNull, v)
          // interior gap with both neighbors, within the fill limit
          .when(
            pv.isNotNull && nv.isNotNull && (col("__rn") - pi <= maxGap),
            pv + (nv - pv) *
              (col("__rn") - pi).cast("double") /
              (ni - pi).cast("double"))
          // trailing nulls: pandas interpolate forward-fills, within limit
          .when(pv.isNotNull && (col("__rn") - pi <= maxGap), pv)
          .otherwise(lit(null)))
    }
    filled.drop("__rn" +:
      valueCols.flatMap(c => Seq(s"__p_$c", s"__n_$c")): _*)
  }

  /** Null imputation with the group mean (the simpler sibling of
    * [[interpolateLinear]] for unordered data): one stats aggregation
    * joined back onto the fact side, nulls coalesced to the mean.
    * Groups that are entirely null stay null (no global fallback).
    *
    * No static broadcast hint: one row per group, but the operator is
    * generic over `keys` — a high-cardinality caller (per-user stats)
    * must not inherit a forced driver collect. AQE broadcasts at
    * runtime when the stats side fits (plan-spec-asserted for q18).
    */
  def imputeMean(df: DataFrame, keys: Seq[String], valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map(c => avg(col(c)).as(s"__mu_$c"))
    val stats = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val joined = df.join(stats, keys)
    valueCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(c, coalesce(col(c), col(s"__mu_$c")))
    }.drop(valueCols.map(c => s"__mu_$c"): _*)
  }

  /** The 100 TB constant-swap for [[clipOutliersIqr]], PROVEN in-query
    * (the q62 pattern): quartiles from single-pass `approx_percentile`
    * sketches, cross-checked against the exact twins computed in the
    * same aggregation, with the sketch side flattened to scalar 1/0
    * verdicts. Exact columns compare to the oracle BY VALUE; raw sketch
    * values (engine-specific) never reach the compared output.
    *
    * Verdicts per group:
    *   - q1_ok / q3_ok: the sketch quartile's EXACT RANK (re-counted
    *     against the data in the verification pass) is within
    *     2·ε·n + 2 of the target rank, ε = 1/accuracy — twice the
    *     sketch's documented rank-error bound, the slack absorbing the
    *     floor-vs-interpolated target-rank convention and duplicate
    *     ties. Rank space is the sketch's actual contract; value-space
    *     bands are meaningless where order statistics are sparse.
    *   - clip_ok: clipping with sketch-derived bounds classifies all
    *     but ≤ max(5, 1%) of the group's rows identically to exact
    *     bounds — the end-to-end effect a pipeline actually cares
    *     about.
    */
  def clipApproxChecked(df: DataFrame, key: String, c: String,
      k: Double = 3.0, accuracy: Int = 1000): DataFrame = {
    val b = df.groupBy(col(key))
      .agg(
        count(col(c)).as("n_rows"),
        expr(s"percentile($c, array(0.25, 0.75))").as("__p"),
        expr(s"approx_percentile($c, array(0.25, 0.75), $accuracy)").as("__a"))
      .select(col(key), col("n_rows"),
        col("__p").getItem(0).as("__q1e"), col("__p").getItem(1).as("__q3e"),
        col("__a").getItem(0).as("__q1a"), col("__a").getItem(1).as("__q3a"))
      .withColumn("__loE", col("__q1e") - lit(k) * (col("__q3e") - col("__q1e")))
      .withColumn("__hiE", col("__q3e") + lit(k) * (col("__q3e") - col("__q1e")))
      .withColumn("__loA", col("__q1a") - lit(k) * (col("__q3a") - col("__q1a")))
      .withColumn("__hiA", col("__q3a") + lit(k) * (col("__q3a") - col("__q1a")))
    // ONE verification pass back over the rows (AQE broadcasts the
    // per-group bounds): clip-decision mismatches AND the sketch
    // values' exact ranks ride the same keyed aggregation
    val v = df.select(col(key), col(c))
      .join(b.select(col(key), col("__loE"), col("__hiE"), col("__loA"), col("__hiA"),
        col("__q1a"), col("__q3a")), Seq(key))
      .withColumn("__mm",
        (((col(c) < col("__loE")) =!= (col(c) < col("__loA"))) ||
          ((col(c) > col("__hiE")) =!= (col(c) > col("__hiA")))).cast("long"))
      .groupBy(col(key)).agg(
        sum(col("__mm")).as("__n_mismatch"),
        sum((col(c) < col("__q1a")).cast("long")).as("__r1lt"),
        sum((col(c) <= col("__q1a")).cast("long")).as("__r1le"),
        sum((col(c) < col("__q3a")).cast("long")).as("__r3lt"),
        sum((col(c) <= col("__q3a")).cast("long")).as("__r3le"))
    import graft.functions.roundStable
    val nD = col("n_rows").cast("double")
    val tol = lit(2.0 / accuracy) * nD + lit(2.0)
    def rankOk(lt: Column, le: Column, p: Double): Column =
      // the value occupies rank interval [lt+1, le]; it passes when that
      // interval overlaps [p·n − tol, p·n + tol]
      ((lt + lit(1)).cast("double") <= nD * p + tol) && (le.cast("double") >= nD * p - tol)
    b.join(v, Seq(key))
      .select(col(key), col("n_rows"),
        roundStable(col("__q1e"), 4).as("q1"),
        roundStable(col("__q3e"), 4).as("q3"),
        roundStable(col("__loE"), 4).as("lo"),
        roundStable(col("__hiE"), 4).as("hi"),
        rankOk(col("__r1lt"), col("__r1le"), 0.25).cast("long").as("q1_ok"),
        rankOk(col("__r3lt"), col("__r3le"), 0.75).cast("long").as("q3_ok"),
        (col("__n_mismatch").cast("double") <=
          greatest(lit(5.0), col("n_rows").cast("double") * lit(0.01)))
          .cast("long").as("clip_ok"))
  }

  /** Robust outlier flagging by median absolute deviation: flag rows
    * with `|v − median| > k · MAD` per key — the robust twin of the IQR
    * fence ([[outlierIqr]]) with a 50% breakdown point: half a group can
    * be corrupt before the fence itself moves, where mean/stddev
    * z-scoring (q17) breaks at one wild reading. `madScaled` multiplies
    * MAD by 1.4826 (the σ-consistency constant for normal data) so `k`
    * reads in σ units.
    *
    * Two keyed aggregation passes by necessity (the deviation median
    * depends on the location median) + two AQE-broadcast joins of
    * one-row-per-key bounds — still two scans total, no window, no sort.
    * `percentile` is the exact in-memory-per-group aggregate (matches
    * the oracle bit-for-bit); at unbounded group sizes swap
    * `approx_percentile`, same plan shape (the [[clipApproxChecked]]
    * discipline).
    */
  def madOutliers(df: DataFrame, keys: Seq[String], c: String,
                  k: Double = 3.5, madScaled: Boolean = true): DataFrame = {
    val keyCols = keys.map(col)
    val med = df.groupBy(keyCols: _*)
      .agg(expr(s"percentile($c, 0.5)").as("__med"))
    val withMed = df.join(med, keys)
    val mad = withMed.groupBy(keyCols: _*)
      .agg(expr(s"percentile(abs($c - __med), 0.5)").as("__mad"))
    val scale = if (madScaled) 1.4826 else 1.0
    withMed.join(mad, keys)
      .withColumn("__dev", abs(col(c) - col("__med")))
      .withColumn("is_outlier",
        (col("__dev") > lit(k) * lit(scale) * col("__mad")).cast("long"))
      .withColumn("robust_z",
        graft.functions.roundStable(
          when(col("__mad") > 0, col("__dev") / (lit(scale) * col("__mad")))
            .otherwise(lit(null)), 4))
      .drop("__dev")
      .withColumnRenamed("__med", "med")
      .withColumnRenamed("__mad", "mad")
  }

  /** IQR outlier clipping per group (dag:170-177): clip to
    * [Q1 - k·IQR, Q3 + k·IQR] with exact linear-interpolated percentiles
    * (matches pandas `quantile` and DuckDB `quantile_cont`). The reference
    * computes bounds per 10k-row chunk — an artifact of pandas chunking;
    * the semantically-intended unit is the group, which is what we use.
    * Rows with a null key are dropped, as the inner join below drops them.
    *
    * The quartiles come from one of two plans, picked from the input's
    * physical partitioning:
    *   - input already clustered on `keys` (e.g. straight out of a
    *     window keyed on them): the quartiles are unbounded-frame window
    *     aggregates over that clustering. No shuffle, no sort, and the
    *     input is computed once.
    *   - otherwise: one bounds row per group from a keyed aggregation,
    *     joined back. No static broadcast hint — AQE picks the map-side
    *     join at runtime when the bounds side fits, and a caller with a
    *     high-cardinality key keeps a safe shuffle join. A window here
    *     would shuffle every row into one task per key.
    * Both return the keys first, then the input's other columns.
    *
    * At 100 TB: swap `percentile` for `approx_percentile(c, p, err)` —
    * single-pass sketch, same call shape. Kept exact here because the
    * oracle compares exact quantiles.
    */
  def clipOutliersIqr(
      df: DataFrame,
      keys: Seq[String],
      valueCols: Seq[String],
      k: Double = 3.0): DataFrame = {
    val quartiles = valueCols.flatMap { c =>
      Seq(s"__q1_$c" -> expr(s"percentile($c, 0.25)"),
        s"__q3_$c" -> expr(s"percentile($c, 0.75)"))
    }
    val bounded =
      if (org.apache.spark.sql.GraftShims.clusteredOn(df, keys)) {
        val w = Window.partitionBy(keys.map(col): _*)
        df.filter(keys.map(col(_).isNotNull).reduce(_ && _))
          .select(keys.map(col) ++ df.columns.filterNot(keys.contains).map(col) ++
            quartiles.map { case (name, q) => q.over(w).as(name) }: _*)
      } else {
        val bounds = quartiles.map { case (name, q) => q.as(name) }
        df.join(df.groupBy(keys.map(col): _*).agg(bounds.head, bounds.tail: _*), keys)
      }
    valueCols.foldLeft(bounded) { (acc, c) =>
      val iqr = col(s"__q3_$c") - col(s"__q1_$c")
      val lo  = col(s"__q1_$c") - lit(k) * iqr
      val hi  = col(s"__q3_$c") + lit(k) * iqr
      acc.withColumn(c, when(col(c) < lo, lo).when(col(c) > hi, hi).otherwise(col(c)))
    }.drop(valueCols.flatMap(c => Seq(s"__q1_$c", s"__q3_$c")): _*)
  }

  /** Quantile normalization — map every source's value distribution onto
    * the POOLED distribution (the cross-platform alignment standard from
    * genomics, Bolstad 2003, applied to sensor fleets / scraped-source
    * score columns): a value at percent rank p within its source becomes
    * the pooled distribution's p-quantile, so all sources share one
    * scale and downstream thresholds mean the same thing everywhere.
    * Rank-based (monotone within source, distribution-exact across),
    * unlike z-scoring, which only matches two moments.
    *
    * Determinism under ties: percent rank uses `rank()` (min rank — tied
    * values share p), and the pooled index→value map is value-unique by
    * construction (ties permute equal values). Interpolation is the
    * explicit `v_⌊t⌋ + frac·(v_⌊t⌋₊₁ − v_⌊t⌋)` at t = p·(N−1), written
    * out so the oracle replays the identical arithmetic — no reliance on
    * either engine's percentile_cont.
    *
    * Scale note: the per-source rank is a keyed window (parallel across
    * sources); the pooled index is a GLOBAL sort window — exact at audit
    * scale, and at 100 TB the pooled side swaps for an approx-quantile
    * grid (the A50 narrowing) while the per-source side is unchanged.
    * Single-value sources map to the pooled minimum (p = 0, documented).
    */
  def quantileNormalize(df: DataFrame, sourceCol: String, valueCol: Column,
                        digits: Int = 6): DataFrame = {
    val vals = df.select(col(sourceCol).as("__s"),
        valueCol.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val wSrc = Window.partitionBy(col("__s")).orderBy(col("__v"))
    val wSrcAll = Window.partitionBy(col("__s"))
    val ranked = vals
      .withColumn("__r", rank().over(wSrc))
      .withColumn("__n", count(lit(1)).over(wSrcAll))
      .withColumn("__p", when(col("__n") > 1,
        (col("__r") - 1).cast("double") / (col("__n") - 1).cast("double"))
        .otherwise(lit(0.0)))
    val pooled = vals.select(col("__v").as("__pv"))
      .withColumn("__idx", row_number().over(Window.orderBy(col("__pv")))
        .cast("long") - 1)
    val tot = vals.agg(count(lit(1)).as("__ntot"))
    val t = ranked.crossJoin(broadcast(tot))
      .withColumn("__t", col("__p") * (col("__ntot") - 1).cast("double"))
      .withColumn("__ft", floor(col("__t")).cast("long"))
    val p0 = pooled.select(col("__idx").as("__i0"), col("__pv").as("__v0"))
    val p1 = pooled.select(col("__idx").as("__i1"), col("__pv").as("__v1"))
    t.join(p0, col("__ft") === col("__i0"))
      .join(p1, col("__ft") + 1 === col("__i1"), "left")
      .select(col("__s").as(sourceCol),
        graft.functions.roundStable(col("__v"), digits).as("value"),
        graft.functions.roundStable(col("__p"), digits).as("pct"),
        graft.functions.roundStable(col("__v0") +
          (col("__t") - floor(col("__t"))) *
            (coalesce(col("__v1"), col("__v0")) - col("__v0")), digits)
          .as("normalized"))
  }
}
