package graft
package catalog

import org.apache.spark.sql.functions._

import graft.functions.roundStable
import graft.etl.{Aggregates, Clean, Features}

/** The reference air-quality ETL re-expressed (extract, clean,
  * feature-engineer, aggregate, validate) and the data-quality checks
  * around it: profiling, rules, SLOs, sketches and privacy (`graft.etl`).
  */
private[graft] object EtlPipelineQueries {

  val queries: Seq[Query] = Seq(
    Query("q01_agg_daily", (s, dir) =>
      Aggregates.dailySummary(Tables.events(s, dir), "ts", "event_type", "value")
        .orderBy(col("d"), col("event_type")),
      """SELECT CAST(ts AS DATE) AS d, event_type,
        | roundStable(avg(value), 4) AS avg_value,
        | roundStable(max(value), 6) AS max_value,
        | roundStable(min(value), 6) AS min_value,
        | roundStable(sum(value), 4) AS sum_value,
        | count(*) AS n
        |FROM events GROUP BY d, event_type ORDER BY d, event_type""".stripMargin),

    Query("q02_dedup_exact", (s, dir) =>
      Clean.dedupExact(Tables.events(s, dir), Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .orderBy(col("event_id")),
      """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin),

    Query("q03_interpolate", (s, dir) => {
      // Deterministically inject ~2.7% missing values (the testdata has
      // none), then per-user ordered linear interpolation, limit 3 — the
      // reference's interpolate(method='linear', limit=3) per station.
      val ev = Tables.events(s, dir).withColumn("value",
        when(col("event_id") % 37 === 0, lit(null)).otherwise(col("value")))
      Clean.interpolateLinear(ev, "user_id", Seq("ts", "event_id"), "value", maxGap = 3)
        .select(col("event_id"), roundStable(col("value"), 6).as("value_interp"))
        .orderBy(col("event_id"))
    },
      """WITH base AS (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS v,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), t AS (
        |  SELECT event_id, v, rn,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
        |  FROM base
        |)
        |SELECT event_id, roundStable(CASE
        |  WHEN v IS NOT NULL THEN v
        |  WHEN pv IS NOT NULL AND nv IS NOT NULL AND rn - pi <= 3
        |    THEN pv + (nv - pv) * CAST(rn - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE)
        |  WHEN pv IS NOT NULL AND rn - pi <= 3 THEN pv
        |  ELSE NULL END, 6) AS value_interp
        |FROM t ORDER BY event_id""".stripMargin),

    Query("q04_outlier_iqr", (s, dir) =>
      Clean.clipOutliersIqr(Tables.events(s, dir), Seq("event_type"), Seq("value"), k = 3.0)
        .select(col("event_id"), roundStable(col("value"), 6).as("value_clipped"))
        .orderBy(col("event_id")),
      """WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, roundStable(CASE
        |  WHEN e.value < b.q1 - 3.0 * (b.q3 - b.q1) THEN b.q1 - 3.0 * (b.q3 - b.q1)
        |  WHEN e.value > b.q3 + 3.0 * (b.q3 - b.q1) THEN b.q3 + 3.0 * (b.q3 - b.q1)
        |  ELSE e.value END, 6) AS value_clipped
        |FROM events e JOIN b USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    Query("q05_aqi_piecewise", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), roundStable(Features.aqiPm25(col("value")), 6).as("aqi"))
        .orderBy(col("event_id")),
      """SELECT event_id, roundStable(
        | CASE WHEN value IS NULL THEN NULL
        |  WHEN value <= 12.0 THEN (50.0/12.0) * value
        |  WHEN value <= 35.4 THEN 50.0 + ((100.0-50.0)/(35.4-12.1)) * (value - 12.1)
        |  WHEN value <= 55.4 THEN 100.0 + ((150.0-100.0)/(55.4-35.5)) * (value - 35.5)
        |  WHEN value <= 150.4 THEN 150.0 + ((200.0-150.0)/(150.4-55.5)) * (value - 55.5)
        |  ELSE 200.0 + ((300.0-200.0)/(250.4-150.5)) * (value - 150.5)
        | END, 6) AS aqi
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q06_categorize", (s, dir) =>
      Tables.events(s, dir)
        .select(Features.airQualityCategory(Features.aqiPm25(col("value"))).as("category"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("category")),
      """SELECT CASE WHEN aqi IS NULL THEN 'Unknown'
        |  WHEN aqi <= 50.0 THEN 'Good'
        |  WHEN aqi <= 100.0 THEN 'Moderate'
        |  WHEN aqi <= 150.0 THEN 'Unhealthy for Sensitive'
        |  WHEN aqi <= 200.0 THEN 'Unhealthy'
        |  ELSE 'Very Unhealthy' END AS category,
        | count(*) AS n
        |FROM (SELECT
        |  CASE WHEN value IS NULL THEN NULL
        |   WHEN value <= 12.0 THEN (50.0/12.0) * value
        |   WHEN value <= 35.4 THEN 50.0 + ((100.0-50.0)/(35.4-12.1)) * (value - 12.1)
        |   WHEN value <= 55.4 THEN 100.0 + ((150.0-100.0)/(55.4-35.5)) * (value - 35.5)
        |   WHEN value <= 150.4 THEN 150.0 + ((200.0-150.0)/(150.4-55.5)) * (value - 55.5)
        |   ELSE 200.0 + ((300.0-200.0)/(250.4-150.5)) * (value - 150.5)
        |  END AS aqi FROM events) t
        |GROUP BY category ORDER BY category""".stripMargin),

    Query("q07_temporal_features", (s, dir) =>
      Features.withTemporalFeatures(Tables.events(s, dir), "ts")
        .select(col("event_id"), col("hour"), col("weekday"), col("is_weekend"),
          col("is_rush_hour"), col("month"), col("date"))
        .orderBy(col("event_id")),
      """SELECT event_id,
        | CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
        | CAST(EXTRACT(isodow FROM ts) - 1 AS BIGINT) AS weekday,
        | CAST(CASE WHEN EXTRACT(isodow FROM ts) - 1 >= 5 THEN 1 ELSE 0 END AS BIGINT) AS is_weekend,
        | CAST(CASE WHEN EXTRACT(hour FROM ts) IN (7,8,9,17,18,19) THEN 1 ELSE 0 END AS BIGINT) AS is_rush_hour,
        | CAST(EXTRACT(month FROM ts) AS BIGINT) AS month,
        | CAST(ts AS DATE) AS date
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q08_composite_index", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          roundStable(Features.compositeIndex(Seq(
            (col("l_quantity"), 50.0, 0.3),
            (col("l_extendedprice"), 100000.0, 0.3),
            (col("l_discount"), 1.0, 0.2),
            (col("l_tax"), 1.0, 0.2))), 6).as("composite_idx"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber,
        | roundStable((l_quantity/50.0)*0.3 + (l_extendedprice/100000.0)*0.3
        |      + (l_discount/1.0)*0.2 + (l_tax/1.0)*0.2, 6) AS composite_idx
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Query("q09_rolling_mean", (s, dir) =>
      Aggregates.rollingMeanCentered6(Tables.events(s, dir), "user_id",
        Seq("ts", "event_id"), "value", "rolling_avg")
        .select(col("event_id"), roundStable(col("rolling_avg"), 4).as("rolling_avg"))
        .orderBy(col("event_id")),
      """SELECT event_id,
        | roundStable(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING), 4) AS rolling_avg
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q10_corr_matrix", (s, dir) =>
      Aggregates.corrMatrix(Tables.lineitem(s, dir),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .orderBy(col("col_a"), col("col_b")),
      """SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b, roundStable(corr(l_discount, l_extendedprice), 6) AS r FROM lineitem
        |UNION ALL SELECT 'l_discount', 'l_quantity', roundStable(corr(l_discount, l_quantity), 6) FROM lineitem
        |UNION ALL SELECT 'l_discount', 'l_tax', roundStable(corr(l_discount, l_tax), 6) FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', 'l_quantity', roundStable(corr(l_extendedprice, l_quantity), 6) FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', 'l_tax', roundStable(corr(l_extendedprice, l_tax), 6) FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'l_tax', roundStable(corr(l_quantity, l_tax), 6) FROM lineitem
        |ORDER BY col_a, col_b""".stripMargin),

    Query("q11_validate", (s, dir) =>
      Aggregates.validate(Tables.events(s, dir), "user_id", "ts", "value"),
      """SELECT count(*) AS total_records,
        | count(DISTINCT user_id) AS distinct_keys,
        | CAST(min(ts) AS TIMESTAMP) AS min_ts, CAST(max(ts) AS TIMESTAMP) AS max_ts,
        | roundStable(avg(value), 4) AS avg_value,
        | roundStable(100.0 * (count(*) - count(value)) / count(*), 6) AS null_pct
        |FROM events""".stripMargin),

    Query("q12_kpi", (s, dir) =>
      Aggregates.kpis(Tables.events(s, dir), "ts", "value", 50.0),
      """SELECT o.avg_value, o.max_value, d.days_over, d.total_days,
        | roundStable(100.0 * d.days_over / d.total_days, 6) AS pct_days_over
        |FROM
        | (SELECT roundStable(avg(value), 4) AS avg_value, roundStable(max(value), 6) AS max_value FROM events) o,
        | (SELECT count(*) FILTER (WHERE day_avg > 50.0) AS days_over, count(*) AS total_days
        |  FROM (SELECT CAST(ts AS DATE) AS d, avg(value) AS day_avg FROM events GROUP BY d) t) d""".stripMargin),

    Query("q13_worst_key", (s, dir) =>
      Aggregates.worstKey(Tables.events(s, dir), "user_id", "value"),
      """SELECT user_id, roundStable(avg(value), 4) AS avg_value
        |FROM events GROUP BY user_id
        |ORDER BY avg_value DESC, user_id LIMIT 1""".stripMargin),

    Query("q14_hourly_pattern", (s, dir) =>
      Aggregates.hourlyPattern(Tables.events(s, dir), "ts", "value")
        .orderBy(col("hour")),
      """SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
        | roundStable(avg(value), 4) AS avg_value, count(*) AS n
        |FROM events GROUP BY hour ORDER BY hour""".stripMargin),

    Query("q15_dow_quartiles", (s, dir) =>
      Aggregates.dowQuartiles(Tables.events(s, dir), "ts", "value")
        .orderBy(col("weekday")),
      """SELECT CAST(EXTRACT(isodow FROM ts) - 1 AS BIGINT) AS weekday,
        | roundStable(quantile_cont(value, 0.25), 6) AS q1,
        | roundStable(quantile_cont(value, 0.5), 6) AS median,
        | roundStable(quantile_cont(value, 0.75), 6) AS q3,
        | count(*) AS n
        |FROM events GROUP BY weekday ORDER BY weekday""".stripMargin),

    Query("q17_zscore_anomaly", (s, dir) =>
      Aggregates.zscoreAnomalies(Tables.events(s, dir), "event_type", "value", k = 3.0)
        .select(col("event_id"), col("event_type"), roundStable(col("z"), 6).as("z"))
        .orderBy(col("event_id")),
      """WITH st AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, roundStable((e.value - st.mu) / st.sd, 6) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE abs((e.value - st.mu) / st.sd) > 3.0
        |ORDER BY e.event_id""".stripMargin),

    Query("q28_cube", (s, dir) =>
      Features.withTemporalFeatures(Tables.events(s, dir), "ts")
        .cube(col("event_type"), col("weekday"))
        .agg(count(lit(1)).as("n"), roundStable(avg(col("value")), 4).as("avg_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("weekday"), lit(-1L)).as("weekday"),
          col("n"), col("avg_value"))
        .orderBy(col("event_type"), col("weekday")),
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        | COALESCE(weekday, -1) AS weekday,
        | count(*) AS n, roundStable(avg(value), 4) AS avg_value
        |FROM (SELECT event_type, CAST(EXTRACT(isodow FROM ts) - 1 AS BIGINT) AS weekday, value FROM events) t
        |GROUP BY CUBE(event_type, weekday)
        |ORDER BY event_type, weekday""".stripMargin),

    Query("q18_impute_mean", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("value",
        when(col("event_id") % 41 === 0, lit(null)).otherwise(col("value")))
      Clean.imputeMean(ev, Seq("event_type"), Seq("value"))
        .select(col("event_id"), roundStable(col("value"), 4).as("value_imputed"))
        .orderBy(col("event_id"))
    },
      """WITH b AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 41 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |st AS (SELECT event_type, avg(v) AS mu FROM b GROUP BY event_type)
        |SELECT event_id, roundStable(COALESCE(v, mu), 4) AS value_imputed
        |FROM b JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin),

    Query("q21_window_topk", (s, dir) =>
      Aggregates.topNPerGroup(Tables.orders(s, dir), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank").cast("long").as("rank"))
        .orderBy(col("o_custkey"), col("rank")),
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders) t
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin),

    Query("q16_extract_synth", (s, _) => {
      // Distributed synthetic extract (reference extract phase).
      // VERDICT-GATED (r13): the hash noise stays engine content, but
      // the generator CONTRACT is oracle-assertable — exact row/station/
      // hour counts and the exact timestamp span as literal VALUES,
      // plus 1/0s for the documented invariants (per-station row
      // quota, ~2% missingness within [0, 10%], non-negative
      // pollutants, temperature/humidity inside their generator
      // ranges). A generator drifting on any of these breaks the gate.
      val df = etl.Synth.airQuality(s, stations = 5, hours = 72)
      df.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("station")).as("n_stations"),
        countDistinct(col("ts")).as("n_hours"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"),
        (sum(when(col("pm25").isNull, 1L).otherwise(0L)) * 100L <=
          count(lit(1)) * 10L).cast("bigint").as("missing_bounded_ok"),
        (min(col("pm25")) >= 0.0 && min(col("pm10")) >= 0.0 &&
          min(col("no2")) >= 0.0 && min(col("o3")) >= 0.0 &&
          min(col("co")) >= 0.0).cast("bigint").as("nonneg_ok"),
        (min(col("temperature")) >= 10.0 && max(col("temperature")) <= 30.0 &&
          min(col("humidity")) >= 30.0 && max(col("humidity")) <= 80.0)
          .cast("bigint").as("ranges_ok"))
        .crossJoin(df.groupBy(col("station")).agg(count(lit(1)).as("__n"))
          .agg((min(col("__n")) === 72L && max(col("__n")) === 72L)
            .cast("bigint").as("station_quota_ok")))
    },
      // the generator contract as literals: exact row/station/hour
      // counts and the exact timestamp span; invariant checks assert 1
      """SELECT CAST(360 AS BIGINT) AS n_rows,
        | CAST(5 AS BIGINT) AS n_stations,
        | CAST(72 AS BIGINT) AS n_hours,
        | TIMESTAMP '2024-01-01 00:00:00' AS min_ts,
        | TIMESTAMP '2024-01-03 23:00:00' AS max_ts,
        | CAST(1 AS BIGINT) AS missing_bounded_ok,
        | CAST(1 AS BIGINT) AS nonneg_ok,
        | CAST(1 AS BIGINT) AS ranges_ok,
        | CAST(1 AS BIGINT) AS station_quota_ok""".stripMargin),

    Query("q47_grouping_sets", (s, dir) =>
      // explicit grouping sets: (event_type, weekday), (event_type), ()
      Features.withTemporalFeatures(Tables.events(s, dir), "ts")
        .groupingSets(
          Seq(Seq(col("event_type"), col("weekday")), Seq(col("event_type")), Seq()),
          col("event_type"), col("weekday"))
        .agg(count(lit(1)).as("n"), roundStable(sum(col("value")), 4).as("sum_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("weekday"), lit(-1L)).as("weekday"),
          col("n"), col("sum_value"))
        .orderBy(col("event_type"), col("weekday")),
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        | COALESCE(weekday, -1) AS weekday,
        | count(*) AS n, roundStable(sum(value), 4) AS sum_value
        |FROM (SELECT event_type, CAST(EXTRACT(isodow FROM ts) - 1 AS BIGINT) AS weekday, value FROM events) t
        |GROUP BY GROUPING SETS ((event_type, weekday), (event_type), ())
        |ORDER BY event_type, weekday""".stripMargin),

    Query("q45_sessions_batch", (s, dir) =>
      Aggregates.sessionizeBatch(Tables.events(s, dir), "user_id", "ts", "event_id",
        "value", gapMicros = 1800L * 1000000L)
        .select(col("user_id"), col("session_n"), col("session_start"),
          col("session_end"), col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_n")),
      """WITH t AS (
        |  SELECT user_id, ts, event_id, value, epoch_us(ts) AS tu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(CASE WHEN prev IS NULL OR tu - prev > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_n
        |  FROM t)
        |SELECT user_id, session_n,
        | CAST(min(ts) AS TIMESTAMP) AS session_start,
        | CAST(max(ts) AS TIMESTAMP) AS session_end,
        | count(*) AS n_events,
        | roundStable(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, session_n
        |ORDER BY user_id, session_n""".stripMargin),

    Query("q62_validate_sketch", (s, dir) =>
      // the 100 TB swap-in for exact validation: HLL++ cardinality +
      // single-pass approx quartiles, cross-checked in-query against the
      // exact twins. Exact columns compare by value; sketch columns are
      // flattened to scalar 1/0 accuracy verdicts the oracle asserts as
      // literal 1s — raw sketch values are engine-specific and stay out
      // of the compared output. (validateApprox is the production shape;
      // its accuracy is additionally spec-asserted.)
      etl.Aggregates.validateSketchChecked(Tables.events(s, dir), "user_id", "ts", "value"),
      // exact columns computed exactly; sketch-accuracy verdicts asserted
      // as literal 1s (the Spark side computes them from its sketches —
      // a sketch drifting out of tolerance breaks the hash match)
      """SELECT count(*) AS total_records,
        | CAST(min(ts) AS TIMESTAMP) AS min_ts, CAST(max(ts) AS TIMESTAMP) AS max_ts,
        | roundStable(avg(value), 4) AS avg_value,
        | CAST(1 AS BIGINT) AS distinct_ok,
        | CAST(1 AS BIGINT) AS q1_ok,
        | CAST(1 AS BIGINT) AS median_ok,
        | CAST(1 AS BIGINT) AS q3_ok
        |FROM events""".stripMargin),

    Query("q68_clip_approx", (s, dir) =>
      // the same proof for the IQR clip (reference dag:170-177):
      // approx_percentile is SURVEY §5's promised 100 TB constant-swap
      // for clipOutliersIqr's exact quantiles — exact quartiles/bounds
      // compare by value, the sketch side flattens to 1/0 verdicts
      // (rank-band containment + end-to-end clip-decision agreement)
      // the oracle asserts as literal 1s
      etl.Clean.clipApproxChecked(Tables.events(s, dir), "event_type", "value")
        .orderBy(col("event_type")),
      // exact quartiles and derived clip bounds by value
      // (quantile_cont ≡ Spark percentile); sketch verdicts as literal 1s
      """SELECT event_type, count(value) AS n_rows,
        | roundStable(quantile_cont(value, 0.25), 4) AS q1,
        | roundStable(quantile_cont(value, 0.75), 4) AS q3,
        | roundStable(quantile_cont(value, 0.25)
        |   - 3.0 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)), 4) AS lo,
        | roundStable(quantile_cont(value, 0.75)
        |   + 3.0 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)), 4) AS hi,
        | CAST(1 AS BIGINT) AS q1_ok,
        | CAST(1 AS BIGINT) AS q3_ok,
        | CAST(1 AS BIGINT) AS clip_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q50_interpolate_multi", (s, dir) => {
      // Multi-column interpolation, the reference's actual shape
      // (dag:161-167 loops 7 numeric columns per station): two value
      // series with DIFFERENT null patterns share one keyed sort.
      val ev = Tables.events(s, dir)
        .withColumn("value",
          when(col("event_id") % 37 === 0, lit(null)).otherwise(col("value")))
        .withColumn("k2",
          when(col("event_id") % 29 === 0, lit(null))
            .otherwise(get_json_object(col("props"), "$.k").cast("double")))
      Clean.interpolateLinear(ev, "user_id", Seq("ts", "event_id"),
        Seq("value", "k2"), maxGap = 3)
        .select(col("event_id"),
          roundStable(col("value"), 6).as("value_interp"),
          roundStable(col("k2"), 6).as("k2_interp"))
        .orderBy(col("event_id"))
    },
      """WITH base AS (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS v1,
        |         CASE WHEN event_id % 29 = 0 THEN NULL
        |              ELSE CAST(props->>'k' AS DOUBLE) END AS v2,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), t AS (
        |  SELECT event_id, v1, v2, rn,
        |    last_value(v1 IGNORE NULLS) OVER wp AS pv1,
        |    last_value(CASE WHEN v1 IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS pi1,
        |    first_value(v1 IGNORE NULLS) OVER wn AS nv1,
        |    first_value(CASE WHEN v1 IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS ni1,
        |    last_value(v2 IGNORE NULLS) OVER wp AS pv2,
        |    last_value(CASE WHEN v2 IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS pi2,
        |    first_value(v2 IGNORE NULLS) OVER wn AS nv2,
        |    first_value(CASE WHEN v2 IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS ni2
        |  FROM base
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT event_id,
        | roundStable(CASE
        |  WHEN v1 IS NOT NULL THEN v1
        |  WHEN pv1 IS NOT NULL AND nv1 IS NOT NULL AND rn - pi1 <= 3
        |    THEN pv1 + (nv1 - pv1) * CAST(rn - pi1 AS DOUBLE) / CAST(ni1 - pi1 AS DOUBLE)
        |  WHEN pv1 IS NOT NULL AND rn - pi1 <= 3 THEN pv1
        |  ELSE NULL END, 6) AS value_interp,
        | roundStable(CASE
        |  WHEN v2 IS NOT NULL THEN v2
        |  WHEN pv2 IS NOT NULL AND nv2 IS NOT NULL AND rn - pi2 <= 3
        |    THEN pv2 + (nv2 - pv2) * CAST(rn - pi2 AS DOUBLE) / CAST(ni2 - pi2 AS DOUBLE)
        |  WHEN pv2 IS NOT NULL AND rn - pi2 <= 3 THEN pv2
        |  ELSE NULL END, 6) AS k2_interp
        |FROM t ORDER BY event_id""".stripMargin),

    Query("q128_quantile_bins", (s, dir) =>
      // exact equal-frequency discretization fit: 10 ntile bins of value
      // per event_type with deterministic (value, event_id) tiebreak
      etl.Features.quantileBins(Tables.events(s, dir), Seq("event_type"),
          "value", "event_id", nBins = 10)
        .orderBy(col("event_type"), col("bin")),
      // ntile remainder semantics are standard SQL on both engines; the
      // (value, event_id) tiebreak pins every row's bucket
      """WITH t AS (SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS bin
        |  FROM events)
        |SELECT event_type, CAST(bin AS BIGINT) AS bin, count(*) AS n,
        |  min(value) AS lo, max(value) AS hi
        |FROM t GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin),

    Query("q136_mad_outliers", (s, dir) =>
      // robust outlier flags: |v − median| > 3.5·1.4826·MAD per event
      // type — the 50%-breakdown twin of q04's IQR fence
      etl.Clean.madOutliers(Tables.events(s, dir)
            .select("event_id", "event_type", "value"),
          Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"),
          graft.functions.roundStable(col("med"), 6).as("med"),
          graft.functions.roundStable(col("mad"), 6).as("mad"),
          col("is_outlier"), col("robust_z"))
        .orderBy(col("event_id")),
      // two aggregation passes by necessity: deviation median depends
      // on the location median
      """WITH m AS (SELECT event_type, median(value) AS med
        |           FROM events GROUP BY event_type),
        |x AS (SELECT e.event_id, e.event_type, e.value, m.med
        |      FROM events e JOIN m ON e.event_type = m.event_type),
        |d AS (SELECT event_type, median(abs(value - med)) AS mad
        |      FROM x GROUP BY event_type)
        |SELECT x.event_id, x.event_type, x.value,
        |  roundStable(x.med, 6) AS med,
        |  roundStable(d.mad, 6) AS mad,
        |  CAST(abs(x.value - x.med) > 3.5 * 1.4826 * d.mad AS BIGINT)
        |    AS is_outlier,
        |  CASE WHEN d.mad > 0
        |    THEN roundStable(abs(x.value - x.med) / (1.4826 * d.mad), 4)
        |  END AS robust_z
        |FROM x JOIN d ON x.event_type = d.event_type
        |ORDER BY event_id""".stripMargin),

    Query("q150_hist_quantiles", (s, dir) => {
      // incremental quantiles, q138's twin: per-(event_type, day)
      // histogram sketch rows merge by vector addition; the estimate
      // must land within 2 bin widths of the exact interpolated
      // percentile (1/0 verdicts, the q62 discipline)
      val ev = Tables.events(s, dir)
      val sk = etl.Aggregates.histSketch(
        ev.withColumn("day", to_date(col("ts"))),
        Seq("event_type"), "day", "value", bins = 100)
      val est = etl.Aggregates.histQuantiles(sk, Seq("event_type"),
        Seq(0.5, 0.9))
      val exact = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.5)").as("__e50"),
        expr("percentile(value, 0.9)").as("__e90"),
        ((max(col("value")) - min(col("value"))) / 100).as("__w"))
      exact.join(est, "event_type")
        .select(col("event_type"), col("n"),
          graft.functions.roundStable(col("__e50"), 6).as("p50_exact"),
          graft.functions.roundStable(col("__e90"), 6).as("p90_exact"),
          (abs(col("p50") - col("__e50")) <= lit(2.0) * col("__w") + lit(1e-9))
            .cast("long").as("p50_ok"),
          (abs(col("p90") - col("__e90")) <= lit(2.0) * col("__w") + lit(1e-9))
            .cast("long").as("p90_ok"))
        .orderBy(col("event_type"))
    },
      // exact percentiles + n for value comparison; the sketch
      // verdicts are asserted literal 1s (estimates are bin-edge
      // values — deterministic but engine-internal, never output raw)
      """SELECT event_type, count(*) AS n,
        |  roundStable(quantile_cont(value, 0.5), 6) AS p50_exact,
        |  roundStable(quantile_cont(value, 0.9), 6) AS p90_exact,
        |  CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q179_profile", (s, dir) =>
      // one-scan column profile in long form: null/distinct counts and
      // rates per column (exact distincts via Expand; approx HLL flag
      // for very wide tables)
      etl.Profile.profile(Tables.events(s, dir),
          Seq("event_type", "user_id", "value", "props"))
        .orderBy(col("column")),
      // per-column tallies replayed as a UNION ALL over the same scan
      """WITH n AS (SELECT count(*) AS nr FROM events),
        |u AS (
        |  SELECT 'event_type' AS col_name, n.nr AS n_rows,
        |    (SELECT count(*) FROM events WHERE event_type IS NULL) AS n_null,
        |    (SELECT count(DISTINCT event_type) FROM events) AS n_distinct
        |  FROM n
        |  UNION ALL SELECT 'user_id', n.nr,
        |    (SELECT count(*) FROM events WHERE user_id IS NULL),
        |    (SELECT count(DISTINCT user_id) FROM events) FROM n
        |  UNION ALL SELECT 'value', n.nr,
        |    (SELECT count(*) FROM events WHERE value IS NULL),
        |    (SELECT count(DISTINCT value) FROM events) FROM n
        |  UNION ALL SELECT 'props', n.nr,
        |    (SELECT count(*) FROM events WHERE props IS NULL),
        |    (SELECT count(DISTINCT props) FROM events) FROM n)
        |SELECT col_name AS "column", n_rows, n_null, n_distinct,
        |  roundStable(CAST(n_null AS DOUBLE) / n_rows, 6) AS null_rate,
        |  roundStable(CAST(n_distinct AS DOUBLE)
        |    / greatest(n_rows - n_null, 1), 6) AS distinct_rate
        |FROM u ORDER BY "column" """.stripMargin),

    Query("q183_dq_rules", (s, dir) =>
      // the declarative contract gate: five rule kinds (incl. exact
      // uniqueness) evaluated in ONE scan — rules chosen so some PASS
      // and some FAIL on the real feed (a gate that can't fail proves
      // nothing)
      etl.Rules.check(Tables.events(s, dir), Seq(
          etl.Rules.NotNull("user_id"),
          etl.Rules.InRange("value", 0.0, 100.0),
          etl.Rules.InSet("event_type",
            Seq("click", "view", "purchase", "signup")),
          etl.Rules.MatchesRegex("props", "^\\{.*\\}$"),
          etl.Rules.Unique(Seq("event_id"))))
        .orderBy(col("rule"), col("target")),
      // each rule's violation count replayed as its own aggregate over
      // one scan; uniqueness = count(*) - count(DISTINCT key)
      """WITH a AS (SELECT
        |    count(*) AS n,
        |    count(*) FILTER (user_id IS NULL) AS v_nn,
        |    count(*) FILTER (value IS NOT NULL
        |      AND (value < 0.0 OR value > 100.0)) AS v_rng,
        |    count(*) FILTER (event_type IS NOT NULL AND event_type
        |      NOT IN ('click', 'view', 'purchase', 'signup')) AS v_set,
        |    count(*) FILTER (props IS NOT NULL
        |      AND NOT regexp_matches(props, '^\{.*\}$')) AS v_re,
        |    count(*) - count(DISTINCT event_id) AS v_uq
        |  FROM events),
        |u AS (
        |  SELECT 'not_null' AS rule, 'user_id' AS target, v_nn AS v, n FROM a
        |  UNION ALL SELECT 'in_range', 'value', v_rng, n FROM a
        |  UNION ALL SELECT 'in_set', 'event_type', v_set, n FROM a
        |  UNION ALL SELECT 'matches_regex', 'props', v_re, n FROM a
        |  UNION ALL SELECT 'unique', 'event_id', v_uq, n FROM a)
        |SELECT rule, target, CAST(v AS BIGINT) AS n_violations,
        |  CAST(n AS BIGINT) AS n_rows,
        |  roundStable(CAST(v AS DOUBLE) / greatest(n, 1), 6)
        |    AS violation_rate,
        |  v = 0 AS passed
        |FROM u ORDER BY rule, target""".stripMargin),

    Query("q200_target_encode", (s, dir) =>
      // leave-one-out target encoding of event_type by value (m=10):
      // the leakage-guarded categorical encoder; singletons fall out as
      // exactly the global mean with no special case
      etl.Features.targetEncodeLoo(Tables.events(s, dir), "event_type",
          "value", m = 10.0)
        .select(col("event_id"), col("event_type"), col("te"))
        .orderBy(col("event_id")),
      // the identical LOO + smoothing expression tree
      """WITH s AS (SELECT event_type, sum(value) AS sv,
        |    count(value) AS nv FROM events GROUP BY 1),
        |g AS (SELECT sum(value) / count(value) AS g FROM events)
        |SELECT e.event_id, e.event_type,
        |  roundStable(CASE WHEN e.value IS NOT NULL THEN
        |    (s.sv - e.value + 10.0 * g.g) / (s.nv - 1 + 10.0) END, 6)
        |    AS te
        |FROM events e JOIN s USING (event_type) CROSS JOIN g
        |ORDER BY event_id""".stripMargin),

    Query("q223_rfm", (s, dir) =>
      // the customer-value grid: quintile scores by explicit rank
      // arithmetic (never ntile), segment cells with average raw metrics
      etl.Features.rfm(Tables.orders(s, dir), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        .orderBy(col("r_score"), col("f_score"), col("m_score")),
      // same entity rollup, same (rn-1)*5 DIV n + 1 quintile arithmetic
      // on (metric asc, custkey) row_numbers
      """WITH e AS (SELECT o_custkey AS id, max(o_orderdate) AS last_ts,
        |    count(*) AS freq, sum(o_totalprice) AS money
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(o_orderdate) AS anchor FROM orders),
        |r AS (SELECT e.*, a.anchor,
        |    date_diff('day', CAST(e.last_ts AS DATE),
        |      CAST(a.anchor AS DATE)) AS rdays,
        |    count(*) OVER () AS n,
        |    row_number() OVER (ORDER BY e.last_ts, e.id) AS rnr,
        |    row_number() OVER (ORDER BY e.freq, e.id) AS rnf,
        |    row_number() OVER (ORDER BY e.money, e.id) AS rnm
        |  FROM e, a),
        |s AS (SELECT CAST((rnr - 1) * 5 // n + 1 AS INT) AS r_score,
        |    CAST((rnf - 1) * 5 // n + 1 AS INT) AS f_score,
        |    CAST((rnm - 1) * 5 // n + 1 AS INT) AS m_score,
        |    rdays, freq, money FROM r)
        |SELECT r_score, f_score, m_score,
        |  count(*) AS n_entities,
        |  roundStable(avg(rdays), 6) AS avg_recency_days,
        |  roundStable(avg(freq), 6) AS avg_frequency,
        |  roundStable(avg(money), 6) AS avg_monetary
        |FROM s GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),

    Query("q236_fk_audit", (s, dir) =>
      // cross-table referential integrity: per declared FK relation,
      // broken pointers vs null FKs (different diseases, never mixed)
      etl.Rules.fkAudit(Seq(
          ("customer.nationkey->nation", Tables.customer(s, dir),
            col("c_nationkey"), Tables.nation(s, dir), col("n_nationkey")),
          ("lineitem.orderkey->orders", Tables.lineitem(s, dir),
            col("l_orderkey"), Tables.orders(s, dir), col("o_orderkey")),
          ("lineitem.partkey->part", Tables.lineitem(s, dir),
            col("l_partkey"), Tables.part(s, dir), col("p_partkey")),
          ("lineitem.suppkey->supplier", Tables.lineitem(s, dir),
            col("l_suppkey"), Tables.supplier(s, dir), col("s_suppkey")),
          ("nation.regionkey->region", Tables.nation(s, dir),
            col("n_regionkey"), Tables.region(s, dir), col("r_regionkey")),
          ("orders.custkey->customer", Tables.orders(s, dir),
            col("o_custkey"), Tables.customer(s, dir), col("c_custkey"))))
        .orderBy(col("relation")),
      // same per-relation split: nulls are a nullability count, orphans
      // a broken-pointer count against the parent's distinct keys
      """WITH
        |a1 AS (SELECT 'customer.nationkey->nation' AS relation,
        |  sum(CASE WHEN c_nationkey IS NOT NULL THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS nn,
        |  sum(CASE WHEN c_nationkey IS NOT NULL AND p.k IS NULL
        |    THEN 1 ELSE 0 END) AS no
        |  FROM customer LEFT JOIN
        |    (SELECT DISTINCT n_nationkey AS k FROM nation) p
        |    ON c_nationkey = p.k),
        |a2 AS (SELECT 'lineitem.orderkey->orders' AS relation,
        |  sum(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nn,
        |  sum(CASE WHEN l_orderkey IS NOT NULL AND p.k IS NULL
        |    THEN 1 ELSE 0 END) AS no
        |  FROM lineitem LEFT JOIN
        |    (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |    ON l_orderkey = p.k),
        |a3 AS (SELECT 'lineitem.partkey->part' AS relation,
        |  sum(CASE WHEN l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS nn,
        |  sum(CASE WHEN l_partkey IS NOT NULL AND p.k IS NULL
        |    THEN 1 ELSE 0 END) AS no
        |  FROM lineitem LEFT JOIN
        |    (SELECT DISTINCT p_partkey AS k FROM part) p
        |    ON l_partkey = p.k),
        |a4 AS (SELECT 'lineitem.suppkey->supplier' AS relation,
        |  sum(CASE WHEN l_suppkey IS NOT NULL THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS nn,
        |  sum(CASE WHEN l_suppkey IS NOT NULL AND p.k IS NULL
        |    THEN 1 ELSE 0 END) AS no
        |  FROM lineitem LEFT JOIN
        |    (SELECT DISTINCT s_suppkey AS k FROM supplier) p
        |    ON l_suppkey = p.k),
        |a5 AS (SELECT 'nation.regionkey->region' AS relation,
        |  sum(CASE WHEN n_regionkey IS NOT NULL THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS nn,
        |  sum(CASE WHEN n_regionkey IS NOT NULL AND p.k IS NULL
        |    THEN 1 ELSE 0 END) AS no
        |  FROM nation LEFT JOIN
        |    (SELECT DISTINCT r_regionkey AS k FROM region) p
        |    ON n_regionkey = p.k),
        |a6 AS (SELECT 'orders.custkey->customer' AS relation,
        |  sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn,
        |  sum(CASE WHEN o_custkey IS NOT NULL AND p.k IS NULL
        |    THEN 1 ELSE 0 END) AS no
        |  FROM orders LEFT JOIN
        |    (SELECT DISTINCT c_custkey AS k FROM customer) p
        |    ON o_custkey = p.k),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |  UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4
        |  UNION ALL SELECT * FROM a5 UNION ALL SELECT * FROM a6)
        |SELECT relation, CAST(nc AS BIGINT) AS n_child,
        |  CAST(nn AS BIGINT) AS n_null_fk,
        |  CAST(no AS BIGINT) AS n_orphans,
        |  roundStable(CASE WHEN nc > 0
        |    THEN CAST(no AS DOUBLE) / nc END, 6) AS orphan_rate
        |FROM u ORDER BY relation""".stripMargin),

    Query("q296_fd_audit", (s, dir) =>
      // declared-dependency violation audit: g3 (min fraction of rows
      // to delete for det→dep to hold) over lineitem claims + one
      // true key dependency on orders as the zero baseline
      etl.Rules.fdAudit(Tables.lineitem(s, dir), Seq(
          ("l_partkey", "l_suppkey"),
          ("l_orderkey", "l_returnflag"),
          ("l_suppkey", "l_linestatus")))
        .unionByName(etl.Rules.fdAudit(Tables.orders(s, dir),
          Seq(("o_orderkey", "o_custkey"))))
        .orderBy(col("determinant"), col("dependent")),
      // per declared pair: distinct cells -> per-det max/sum -> g3
      """WITH c1 AS (SELECT l_partkey AS det, l_suppkey AS dep, count(*) AS c
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1, 2),
        |d1 AS (SELECT det, max(c) AS mx, sum(c) AS tot, count(*) AS nd
        |  FROM c1 GROUP BY 1),
        |c2 AS (SELECT l_orderkey AS det, l_returnflag AS dep, count(*) AS c
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1, 2),
        |d2 AS (SELECT det, max(c) AS mx, sum(c) AS tot, count(*) AS nd
        |  FROM c2 GROUP BY 1),
        |c3 AS (SELECT l_suppkey AS det, l_linestatus AS dep, count(*) AS c
        |  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1, 2),
        |d3 AS (SELECT det, max(c) AS mx, sum(c) AS tot, count(*) AS nd
        |  FROM c3 GROUP BY 1),
        |c4 AS (SELECT o_orderkey AS det, o_custkey AS dep, count(*) AS c
        |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1, 2),
        |d4 AS (SELECT det, max(c) AS mx, sum(c) AS tot, count(*) AS nd
        |  FROM c4 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'l_partkey' AS determinant, 'l_suppkey' AS dependent,
        |    CAST(count(*) AS BIGINT) AS n_det,
        |    CAST(sum(tot) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS violating_det,
        |    roundStable(1.0 - CAST(sum(mx) AS DOUBLE)
        |      / CAST(sum(tot) AS DOUBLE), 6) AS g3 FROM d1
        |  UNION ALL
        |  SELECT 'l_orderkey', 'l_returnflag', CAST(count(*) AS BIGINT),
        |    CAST(sum(tot) AS BIGINT),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    roundStable(1.0 - CAST(sum(mx) AS DOUBLE)
        |      / CAST(sum(tot) AS DOUBLE), 6) FROM d2
        |  UNION ALL
        |  SELECT 'l_suppkey', 'l_linestatus', CAST(count(*) AS BIGINT),
        |    CAST(sum(tot) AS BIGINT),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    roundStable(1.0 - CAST(sum(mx) AS DOUBLE)
        |      / CAST(sum(tot) AS DOUBLE), 6) FROM d3
        |  UNION ALL
        |  SELECT 'o_orderkey', 'o_custkey', CAST(count(*) AS BIGINT),
        |    CAST(sum(tot) AS BIGINT),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    roundStable(1.0 - CAST(sum(mx) AS DOUBLE)
        |      / CAST(sum(tot) AS DOUBLE), 6) FROM d4)
        |ORDER BY determinant, dependent""".stripMargin),

    Query("q309_profile_drift", (s, dir) => {
      // schema-health tripwire: column profiles of the two month
      // halves side by side, null-rate delta + cardinality ratio
      val e = Tables.events(s, dir)
      etl.Profile.profileDrift(
          e.filter(dayofmonth(col("ts")) <= 15),
          e.filter(dayofmonth(col("ts")) > 15),
          Seq("user_id", "event_type", "value"))
        .orderBy(col("column"))
    },
      // same two one-pass profiles, deltas on the ROUNDED rates (the
      // engine rounds inside profile), same flag thresholds
      """WITH b AS (SELECT count(*) AS n, count(user_id) AS nnu,
        |    count(DISTINCT user_id) AS ndu, count(event_type) AS nne,
        |    count(DISTINCT event_type) AS nde, count(value) AS nnv,
        |    count(DISTINCT value) AS ndv
        |  FROM events WHERE day(ts) <= 15),
        |f AS (SELECT count(*) AS n, count(user_id) AS nnu,
        |    count(DISTINCT user_id) AS ndu, count(event_type) AS nne,
        |    count(DISTINCT event_type) AS nde, count(value) AS nnv,
        |    count(DISTINCT value) AS ndv
        |  FROM events WHERE day(ts) > 15),
        |r AS (
        |  SELECT 'user_id' AS col, b.n AS rb,
        |    roundStable(CASE WHEN b.n > 0 THEN
        |      1.0 * (b.n - b.nnu) / b.n END, 6) AS nlb, b.ndu AS ndb,
        |    f.n AS ra, roundStable(CASE WHEN f.n > 0 THEN
        |      1.0 * (f.n - f.nnu) / f.n END, 6) AS nla, f.ndu AS nda
        |  FROM b, f
        |  UNION ALL
        |  SELECT 'event_type', b.n, roundStable(CASE WHEN b.n > 0 THEN
        |      1.0 * (b.n - b.nne) / b.n END, 6), b.nde,
        |    f.n, roundStable(CASE WHEN f.n > 0 THEN
        |      1.0 * (f.n - f.nne) / f.n END, 6), f.nde FROM b, f
        |  UNION ALL
        |  SELECT 'value', b.n, roundStable(CASE WHEN b.n > 0 THEN
        |      1.0 * (b.n - b.nnv) / b.n END, 6), b.ndv,
        |    f.n, roundStable(CASE WHEN f.n > 0 THEN
        |      1.0 * (f.n - f.nnv) / f.n END, 6), f.ndv FROM b, f),
        |d AS (SELECT *, roundStable(nla - nlb, 6) AS nd,
        |    roundStable(CASE WHEN ndb > 0 THEN 1.0 * nda / ndb END, 6)
        |      AS dr FROM r)
        |SELECT col AS "column", rb AS rows_before, nlb AS null_before,
        |  ndb AS nd_before, ra AS rows_after, nla AS null_after,
        |  nda AS nd_after, nd AS null_delta, dr AS distinct_ratio,
        |  (coalesce(abs(nd) > 0.05, true)
        |    OR coalesce(dr > 2.0 OR dr < 0.5, true)) AS flag
        |FROM d ORDER BY "column"""".stripMargin),

    Query("q318_burn_rate", (s, dir) =>
      // SRE multi-window burn-rate alerting: short window proves it's
      // still happening, long window proves it's real
      etl.Slo.burnRate(
          Tables.events(s, dir).withColumn("cohort", col("user_id") % 5),
          Seq("cohort"), col("ts"),
          isError = col("event_type") === "error", budget = 0.1,
          shortHours = 6, longHours = 24, threshold = 2.0)
        .orderBy(col("cohort"), col("hour")),
      // same hour-index RANGE windows (silent hours widen, not
      // shrink), alert compared on the ROUNDED burns
      """WITH h AS (SELECT user_id % 5 AS cohort,
        |    date_trunc('hour', ts) AS hh, CAST(count(*) AS DOUBLE) AS n,
        |    sum(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END)
        |      AS e
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT *, epoch_us(hh) // 3600000000 AS hi FROM h),
        |w AS (SELECT cohort, hh, n, e,
        |    sum(n) OVER (PARTITION BY cohort ORDER BY hi
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n6,
        |    sum(e) OVER (PARTITION BY cohort ORDER BY hi
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6,
        |    sum(n) OVER (PARTITION BY cohort ORDER BY hi
        |      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS n24,
        |    sum(e) OVER (PARTITION BY cohort ORDER BY hi
        |      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS e24
        |  FROM x),
        |r AS (SELECT cohort, hh, n, e,
        |    roundStable(CASE WHEN n6 > 0 THEN e6 / n6 / 0.1 END, 6)
        |      AS bs,
        |    roundStable(CASE WHEN n24 > 0 THEN e24 / n24 / 0.1 END, 6)
        |      AS bl FROM w)
        |SELECT cohort, hh AS hour, CAST(n AS BIGINT) AS n,
        |  CAST(e AS BIGINT) AS n_errors, bs AS burn_short,
        |  bl AS burn_long,
        |  (coalesce(bs > 2.0, false) AND coalesce(bl > 2.0, false))
        |    AS alert
        |FROM r ORDER BY cohort, hour""".stripMargin),

    Query("q319_incidents", (s, dir) =>
      // failure episodes from sparse severe errors: MTTR/MTBF per
      // cohort with 2h-gap incident merging
      etl.Slo.incidents(
          Tables.events(s, dir).withColumn("cohort", col("user_id") % 5),
          Seq("cohort"), col("ts"),
          isError = col("event_type") === "error" && col("value") > 200,
          gapHours = 2)
        .orderBy(col("cohort")),
      // same variable-gap islands (flag-on-big-gap prefix sum),
      // MTBF from consecutive incident starts
      """WITH eh AS (SELECT DISTINCT user_id % 5 AS cohort,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi
        |  FROM events WHERE event_type = 'error' AND value > 200),
        |m AS (SELECT *, CASE WHEN
        |      lag(hi) OVER (PARTITION BY cohort ORDER BY hi) IS NULL
        |      OR hi - lag(hi) OVER (PARTITION BY cohort ORDER BY hi) > 2
        |    THEN 1 ELSE 0 END AS nw FROM eh),
        |c AS (SELECT *, sum(nw) OVER (PARTITION BY cohort ORDER BY hi
        |    ROWS UNBOUNDED PRECEDING) AS inc FROM m),
        |sp AS (SELECT cohort, inc, min(hi) AS st,
        |    max(hi) - min(hi) + 1 AS dur FROM c GROUP BY 1, 2),
        |b AS (SELECT *, st - lag(st) OVER (PARTITION BY cohort
        |    ORDER BY st) AS btw FROM sp)
        |SELECT cohort, count(*) AS n_incidents,
        |  roundStable(avg(dur), 6) AS mttr_hours,
        |  roundStable(avg(btw), 6) AS mtbf_hours,
        |  CAST(sum(dur) AS BIGINT) AS total_incident_hours
        |FROM b GROUP BY 1 ORDER BY cohort""".stripMargin),

    Query("q320_apdex", (s, dir) =>
      // the one-number UX summary a tail can't hide behind: Apdex at
      // T = 100 per type, value as the latency proxy
      etl.Slo.apdex(Tables.events(s, dir), Seq("event_type"),
          col("value"), t = 100)
        .orderBy(col("event_type")),
      // same conditional tallies, same (sat + tol/2)/n
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_satisfied,
        |  CAST(sum(CASE WHEN value > 100 AND value <= 400 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_tolerating,
        |  roundStable((sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END)
        |    + CAST(sum(CASE WHEN value > 100 AND value <= 400
        |        THEN 1 ELSE 0 END) AS DOUBLE) / 2) / count(*), 6)
        |    AS apdex
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    Query("q362_k_anonymity", (s, dir) =>
      // the pre-release privacy gate: how small do the (nation,
      // mktsegment) equivalence classes get, and how many rows sit in
      // classes below k=10 — the single-out risk share
      etl.Privacy.kAnonymityReport(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 10),
      """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_classes,
        |  CAST(min(n) AS BIGINT) AS k_satisfied,
        |  CAST(10 AS BIGINT) AS k_target,
        |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_at_risk,
        |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  roundStable(CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END)
        |    AS DOUBLE) / sum(n), 6) AS risk_share
        |FROM c""".stripMargin),

    Query("q363_l_diversity", (s, dir) =>
      // the homogeneity-attack screen k-anonymity misses: distinct
      // sensitive values (acctbal band) per QI class, rows below l=3
      etl.Privacy.lDiversityReport(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"),
        sensitiveCol = floor(col("c_acctbal") / 2000).cast("long"), l = 3),
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS s, count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |cl AS (SELECT c_nationkey, c_mktsegment, sum(n) AS rows_,
        |    count(*) AS ldist FROM cells GROUP BY 1, 2)
        |SELECT CAST(sum(rows_) AS BIGINT) AS n_rows, count(*) AS n_classes,
        |  CAST(min(ldist) AS BIGINT) AS l_satisfied,
        |  CAST(3 AS BIGINT) AS l_target,
        |  CAST(sum(CASE WHEN ldist < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_at_risk,
        |  CAST(sum(CASE WHEN ldist < 3 THEN rows_ ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  roundStable(CAST(sum(CASE WHEN ldist < 3 THEN rows_ ELSE 0 END)
        |    AS DOUBLE) / sum(rows_), 6) AS risk_share
        |FROM cl""".stripMargin),

    Query("q366_quantile_norm", (s, dir) =>
      // put every event stream's values on ONE scale: each value maps
      // to the pooled distribution's quantile at its within-source
      // percent rank (rank-exact, unlike z-scoring's two moments)
      etl.Clean.quantileNormalize(Tables.events(s, dir), "event_type",
          col("value"))
        .orderBy(col("event_type"), col("value"), col("pct")),
      // identical min-rank percent, identical explicit interpolation at
      // t = p·(N−1) — no percentile_cont on either side
      """WITH vals AS (SELECT event_type AS s, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |ranked AS (SELECT s, v,
        |    rank() OVER (PARTITION BY s ORDER BY v) AS r,
        |    count(*) OVER (PARTITION BY s) AS n FROM vals),
        |pooled AS (SELECT v AS pv,
        |    row_number() OVER (ORDER BY v) - 1 AS idx FROM vals),
        |tot AS (SELECT count(*) AS nn FROM vals),
        |tr AS (SELECT s, v, CASE WHEN n > 1
        |    THEN CAST(r - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |    ELSE 0.0 END AS p FROM ranked),
        |tt AS (SELECT s, v, p, p * CAST(nn - 1 AS DOUBLE) AS t,
        |    CAST(floor(p * CAST(nn - 1 AS DOUBLE)) AS BIGINT) AS ft
        |  FROM tr, tot)
        |SELECT s AS event_type, roundStable(v, 6) AS value,
        |  roundStable(p, 6) AS pct,
        |  roundStable(p0.pv + (t - floor(t))
        |    * (coalesce(p1.pv, p0.pv) - p0.pv), 6) AS normalized
        |FROM tt JOIN pooled p0 ON p0.idx = tt.ft
        |  LEFT JOIN pooled p1 ON p1.idx = tt.ft + 1
        |ORDER BY event_type, value, pct""".stripMargin),

    Query("q370_theta_overlap", (s, dir) =>
      // audience overlap by theta-sketch set algebra (the operation HLL
      // state can't answer): which value bands share users — exact pair
      // counts + 1/0 verdicts that every sketch estimate is within 5%
      // (the q138 discipline: raw estimates never reach the hash)
      etl.Aggregates.thetaOverlap(
          Tables.events(s, dir).filter(col("value").isNotNull),
          segmentCol = floor(col("value") / 100).cast("long"),
          idCol = col("user_id"))
        .orderBy(col("seg_a"), col("seg_b")),
      // exact pair counts from the same distinct-cell self-join; the
      // sketch verdicts are expected-TRUE literals (the q138 pattern —
      // if an estimate drifts past 5% the Spark side flips its verdict
      // and the hash mismatch surfaces it)
      """WITH cells AS (SELECT DISTINCT
        |    CAST(floor(value / 100) AS BIGINT) AS seg,
        |    CAST(user_id AS VARCHAR) AS aid
        |  FROM events WHERE value IS NOT NULL),
        |sizes AS (SELECT seg, count(*) AS n FROM cells GROUP BY 1),
        |inter AS (SELECT a.seg AS sa, b.seg AS sb, count(*) AS ni
        |  FROM cells a JOIN cells b ON a.aid = b.aid AND a.seg < b.seg
        |  GROUP BY 1, 2),
        |grid AS (SELECT sa.seg AS sa, sb.seg AS sb, sa.n AS na,
        |    sb.n AS nb, coalesce(i.ni, 0) AS ni
        |  FROM sizes sa JOIN sizes sb ON sa.seg < sb.seg
        |  LEFT JOIN inter i ON i.sa = sa.seg AND i.sb = sb.seg)
        |SELECT sa AS seg_a, sb AS seg_b, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b, CAST(ni AS BIGINT) AS n_inter,
        |  CAST(na + nb - ni AS BIGINT) AS n_union,
        |  roundStable(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard,
        |  CAST(1 AS BIGINT) AS inter_ok, CAST(1 AS BIGINT) AS union_ok,
        |  CAST(1 AS BIGINT) AS diff_ok
        |FROM grid ORDER BY seg_a, seg_b""".stripMargin),

    Query("q279_stump", (s, dir) =>
      // which feature best separates high-value events, and where —
      // the tree-root split as pure aggregation over distinct values
      etl.Features.bestStump(Tables.events(s, dir),
          labelCol = col("value") > 250,
          features = Seq(
            "hour" -> hour(col("ts")),
            "weekday" -> weekday(col("ts")),
            "day_of_month" -> dayofmonth(col("ts"))))
        .orderBy(col("feature")),
      // same distinct-value staging, prefix-sum class counts, argmin
      // on rounded impurity
      """WITH f AS (
        |  SELECT 'hour' AS feature, CAST(hour(ts) AS DOUBLE) AS v,
        |    CASE WHEN value > 250 THEN 1 ELSE 0 END AS y FROM events
        |  UNION ALL
        |  SELECT 'weekday', CAST(isodow(ts) - 1 AS DOUBLE),
        |    CASE WHEN value > 250 THEN 1 ELSE 0 END FROM events
        |  UNION ALL
        |  SELECT 'day_of_month', CAST(day(ts) AS DOUBLE),
        |    CASE WHEN value > 250 THEN 1 ELSE 0 END FROM events),
        |c AS (SELECT feature, v, count(*) AS n, sum(y) AS pos
        |  FROM f GROUP BY 1, 2),
        |a1 AS (SELECT *,
        |    sum(n) OVER wc AS cn, sum(pos) OVER wc AS cp
        |  FROM c
        |  WINDOW wc AS (PARTITION BY feature ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |a2 AS (SELECT *,
        |    last_value(cn) OVER wf AS nn, last_value(cp) OVER wf AS pp
        |  FROM a1
        |  WINDOW wf AS (PARTITION BY feature ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |g AS (SELECT feature, v, nn,
        |    roundStable((CAST(cn AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (1.0 - (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          * (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |        - (1.0 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          * (1.0 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)))
        |      + ((CAST(nn AS DOUBLE) - CAST(cn AS DOUBLE))
        |          / CAST(nn AS DOUBLE))
        |        * (1.0 - (CAST(pp - cp AS DOUBLE)
        |            / CAST(nn - cn AS DOUBLE))
        |          * (CAST(pp - cp AS DOUBLE) / CAST(nn - cn AS DOUBLE))
        |          - (1.0 - CAST(pp - cp AS DOUBLE)
        |              / CAST(nn - cn AS DOUBLE))
        |            * (1.0 - CAST(pp - cp AS DOUBLE)
        |              / CAST(nn - cn AS DOUBLE))), 6) AS aft,
        |    roundStable(1.0 - (CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
        |      - (1.0 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (1.0 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
        |      AS bef,
        |    row_number() OVER (PARTITION BY feature ORDER BY
        |      roundStable((CAST(cn AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (1.0 - (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |            * (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |          - (1.0 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
        |            * (1.0 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)))
        |        + ((CAST(nn AS DOUBLE) - CAST(cn AS DOUBLE))
        |            / CAST(nn AS DOUBLE))
        |          * (1.0 - (CAST(pp - cp AS DOUBLE)
        |              / CAST(nn - cn AS DOUBLE))
        |            * (CAST(pp - cp AS DOUBLE)
        |              / CAST(nn - cn AS DOUBLE))
        |            - (1.0 - CAST(pp - cp AS DOUBLE)
        |                / CAST(nn - cn AS DOUBLE))
        |              * (1.0 - CAST(pp - cp AS DOUBLE)
        |                / CAST(nn - cn AS DOUBLE))), 6) ASC, v ASC)
        |      AS rk
        |  FROM a2 WHERE cn < nn)
        |SELECT feature, CAST(nn AS BIGINT) AS n, v AS best_threshold,
        |  bef AS gini_before, aft AS gini_after,
        |  roundStable(bef - aft, 6) AS gain
        |FROM g WHERE rk = 1 ORDER BY feature""".stripMargin),

    Query("q138_hll_distinct", (s, dir) => {
      // incremental distinct-count surface: per-(event_type, day) HLL
      // sketches (the stored artifact — a day aggregates once, forever),
      // range queries union sketch rows instead of rescanning raw data.
      // Output is the q62 discipline: exact cardinality for value
      // comparison + 1/0 verdicts (estimate within 5% of exact; merged
      // dailies within 1% of the direct whole-range sketch) — raw
      // estimates are engine-specific and never reach the output.
      val ev = Tables.events(s, dir)
      val daily = etl.Aggregates.distinctSketchKeyed(
        ev.withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "user_id")
      val merged = etl.Aggregates.sketchRollup(daily, Seq("event_type"))
        .withColumnRenamed("distinct_estimate", "__est_merged")
      val direct = etl.Aggregates.distinctSketch(ev, "event_type", "user_id")
        .select(col("event_type"),
          expr("hll_sketch_estimate(sketch)").as("__est_direct"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      exact.join(merged, "event_type").join(direct, "event_type")
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("__est_merged") - col("exact_distinct")).cast("double") /
            col("exact_distinct") <= 0.05).cast("long").as("est_ok"),
          (abs(col("__est_merged") - col("__est_direct")).cast("double") /
            col("__est_direct") <= 0.01).cast("long").as("merge_ok"))
        .orderBy(col("event_type"))
    },
      // exact cardinality for value comparison; the sketch verdicts are
      // asserted literal 1s (the q62 discipline — raw HLL estimates are
      // engine-specific and never reach the output)
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |  CAST(1 AS BIGINT) AS est_ok,
        |  CAST(1 AS BIGINT) AS merge_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q98_stream_topk", (s, dir) => {
      // D9's streaming heavy-hitter state, driver-gated: three
      // foreachBatch-shaped folds of the token stream (batch 1 folded
      // TWICE — the at-least-once replay), then MG compaction with
      // capacity BELOW the vocabulary so eviction actually fires
      // in-query. Compared rows are the exact top-5 tokens (oracle-
      // computable); the MG contracts collapse to 1/0 verdicts the
      // oracle asserts as literal 1s (q62/q68 discipline): the replayed
      // batch appended zero rows, the state is bounded at capacity, and
      // each top token's retained count is within the N/(capacity+1)
      // undercount bound — with eviction permitted exactly when that
      // bound allows (exact count <= N/(capacity+1)).
      val cap = 16
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        explode(text.TextStats.tokens(col("text"))).as("token"))
        .withColumn("__one", lit(1.0))
      def batch(b: Long) =
        toks.filter(col("doc_id") % 3 === b).select("token", "__one")
      etl.IncrementalAgg.writeState(toks.limit(0).select("token", "__one"),
        Seq("token"), "__one", "q98tk", buckets = 2)
      for (b <- 0L to 2L)
        etl.IncrementalAgg.appendDelta(batch(b), Seq("token"), "__one", "q98tk", batchId = b)
      val rowsBefore = s.table("q98tk_state").count()
      etl.IncrementalAgg.appendDelta(batch(1L), Seq("token"), "__one", "q98tk", batchId = 1)
      val gated = s.table("q98tk_state").count() == rowsBefore
      etl.IncrementalAgg.compactTopK(s, "q98tk", cap)
      val mg = etl.IncrementalAgg.read(s, "q98tk")
        .select(col("token"), col("cnt").as("mg_cnt"))
      val bounded = mg.count() <= cap
      val n = toks.count()
      toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(5)
        .join(mg, Seq("token"), "left")
        .select(col("token").as("tok"), col("cnt"),
          lit(if (gated) 1L else 0L).as("replay_gated"),
          lit(if (bounded) 1L else 0L).as("state_bounded"),
          when(col("mg_cnt").isNull, (col("cnt") <= lit(n / (cap + 1))).cast("long"))
            .otherwise((col("mg_cnt") <= col("cnt") &&
              (col("cnt") - col("mg_cnt")) <= lit(n / (cap + 1))).cast("long"))
            .as("undercount_ok"))
        .orderBy(col("cnt").desc, col("tok"))
    },
      // exact top-5 token counts computed exactly on both sides; the MG
      // streaming-state contracts (replay gate, capacity bound, undercount
      // bound) are Spark-side verdicts the oracle asserts as literal 1s
      """SELECT tok, count(*) AS cnt,
        | CAST(1 AS BIGINT) AS replay_gated,
        | CAST(1 AS BIGINT) AS state_bounded,
        | CAST(1 AS BIGINT) AS undercount_ok
        |FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 5""".stripMargin),

    Query("q79_incremental_agg", (s, dir) => {
      // incremental daily summary, full lifecycle in-query: build from a
      // third of the facts, fold in a second third (batch 1), REPLAY
      // batch 1 (gate → no-op), compact the partial log, replay batch 1
      // AGAIN post-compact (the marker table keeps gating it), fold the
      // final third (batch 2). The folded read must equal the oracle's
      // one-shot aggregate over ALL the facts — O(delta) maintenance ≡
      // full recompute.
      val keys = Seq("d", "event_type")
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("event_type"), to_date(col("ts")).as("d"), col("value"))
      val base = ev.filter(col("event_id") % 3 === 0)
      val d1 = ev.filter(col("event_id") % 3 === 1)
      val d2 = ev.filter(col("event_id") % 3 === 2)
      etl.IncrementalAgg.writeState(base, keys, "value", "q79agg", batchId = 0, buckets = 4)
      etl.IncrementalAgg.appendDelta(d1, keys, "value", "q79agg", batchId = 1)
      etl.IncrementalAgg.appendDelta(d1, keys, "value", "q79agg", batchId = 1)
      etl.IncrementalAgg.compact(s, "q79agg")
      etl.IncrementalAgg.appendDelta(d1, keys, "value", "q79agg", batchId = 1)
      etl.IncrementalAgg.appendDelta(d2, keys, "value", "q79agg", batchId = 2)
      etl.IncrementalAgg.read(s, "q79agg")
        .select(col("event_type"), col("d"), col("cnt"),
          roundStable(col("s"), 4).as("sum_value"),
          // avg from the ROUNDED sum: the raw partial-sum fold and the
          // oracle's single-pass sum can differ in the last ulp, which
          // flips a 4-digit tie; the rounded sums are bit-identical, so
          // an avg derived from them is too
          roundStable(roundStable(col("s"), 4) / col("cnt"), 4).as("avg_value"),
          roundStable(col("mn"), 6).as("min_value"),
          roundStable(col("mx"), 6).as("max_value"))
        .orderBy(col("d"), col("event_type"))
    },
      """SELECT event_type, CAST(ts AS DATE) AS d,
        | count(value) AS cnt,
        | roundStable(sum(value), 4) AS sum_value,
        | roundStable(roundStable(sum(value), 4) / count(value), 4) AS avg_value,
        | roundStable(min(value), 6) AS min_value,
        | roundStable(max(value), 6) AS max_value
        |FROM events GROUP BY event_type, d
        |ORDER BY d, event_type""".stripMargin),
  )
}
