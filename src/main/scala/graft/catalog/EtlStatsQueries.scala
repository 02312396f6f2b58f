package graft
package catalog

import org.apache.spark.sql.functions._

import graft.functions.roundStable

/** Statistical summaries and tests from `graft.etl.Aggregates`: rank
  * and trend tests, quantiles, robust estimators, survival and
  * time-series diagnostics.
  */
private[graft] object EtlStatsQueries {

  val queries: Seq[Query] = Seq(
    Query("q132_mannwhitney", (s, dir) =>
      // rank-based two-sample drift test per event_type between the
      // month halves — the no-normality-assumption sibling of q121;
      // exact average-rank ties + tie-corrected normal approximation
      etl.Aggregates.mannWhitneyU(Tables.events(s, dir), Seq("event_type"),
          isA = dayofmonth(col("ts")) <= 15, col("value"))
        .orderBy(col("event_type")),
      // exact average-rank ties (group by value first), tie-corrected
      // normal approximation — identical fp sequence to the Spark side
      """WITH c AS (SELECT event_type, value AS v,
        |        sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS ca,
        |        sum(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END) AS cb
        |      FROM events GROUP BY event_type, value),
        |w AS (SELECT event_type, ca, cb, ca + cb AS t,
        |        sum(ca + cb) OVER (PARTITION BY event_type ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) - (ca + cb) AS below,
        |        sum(ca) OVER (PARTITION BY event_type) AS na,
        |        sum(cb) OVER (PARTITION BY event_type) AS nb
        |      FROM c),
        |r AS (SELECT event_type,
        |        (CAST(below AS DOUBLE) + CAST(t + 1 AS DOUBLE) / 2) * ca
        |          AS ra,
        |        t * t * t - t AS tie, na, nb
        |      FROM w)
        |SELECT event_type,
        |  roundStable(sum(ra) - CAST(max(na) AS DOUBLE)
        |    * (CAST(max(na) AS DOUBLE) + 1) / 2, 6) AS u_stat,
        |  roundStable((sum(ra) - CAST(max(na) AS DOUBLE)
        |      * (CAST(max(na) AS DOUBLE) + 1) / 2
        |      - CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE) / 2)
        |    / sqrt(CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE) / 12
        |      * ((CAST(max(na) AS DOUBLE) + CAST(max(nb) AS DOUBLE) + 1)
        |        - CAST(sum(tie) AS DOUBLE)
        |          / ((CAST(max(na) AS DOUBLE) + CAST(max(nb) AS DOUBLE))
        |            * (CAST(max(na) AS DOUBLE) + CAST(max(nb) AS DOUBLE)
        |              - 1)))), 6) AS z,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q139_acf", (s, dir) =>
      // periodicity/persistence readout: autocorrelation of value at
      // lags 1-3 per event_type over the (ts, event_id)-ordered series —
      // one keyed window builds all lag columns
      etl.Aggregates.acf(Tables.events(s, dir), Seq("event_type"),
          col("ts"), col("event_id"), col("value"), lags = Seq(1, 2, 3))
        .orderBy(col("event_type")),
      // corr skips null lead pairs on both engines
      """WITH t AS (SELECT event_type, value AS v,
        |    lead(value, 1) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS l1,
        |    lead(value, 2) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS l2,
        |    lead(value, 3) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS l3
        |  FROM events)
        |SELECT event_type,
        |  roundStable(corr(v, l1), 6) AS acf_1,
        |  roundStable(corr(v, l2), 6) AS acf_2,
        |  roundStable(corr(v, l3), 6) AS acf_3,
        |  count(*) AS n
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q154_twap", (s, dir) =>
      // time-weighted daily average per event_type — the
      // irregular-sampling correction of q01's plain mean: each reading
      // holds until the series' next one; the last reading has no
      // holding interval (half-open, the q117 convention)
      etl.Aggregates.twap(Tables.events(s, dir), Seq("event_type"),
          Seq(col("event_type"), to_date(col("ts")).as("day")),
          orderCol = col("ts"), tieCol = col("event_id"),
          valueCol = "value")
        .orderBy(col("event_type"), col("day")),
      // step-hold weights from the series' lead; the last reading has a
      // NULL weight and drops from both sums, but still counts in n and
      // the plain mean
      """WITH t AS (SELECT event_type, CAST(ts AS DATE) AS day, value,
        |        (epoch_us(lead(ts) OVER (PARTITION BY event_type
        |            ORDER BY ts, event_id)) - epoch_us(ts)) / 1e6 AS w
        |      FROM events)
        |SELECT event_type, day,
        |  roundStable(sum(value * w) / sum(w), 6) AS twap,
        |  roundStable(avg(value), 6) AS plain_avg,
        |  roundStable(sum(w), 6) AS covered_secs,
        |  count(*) AS n
        |FROM t GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin),

    Query("q155_gini", (s, dir) =>
      // activity-concentration readout: Gini of per-user event counts
      // within each event_type — is one user absorbing the volume? (the
      // corpus-balance twin of q75's domain mix)
      etl.Aggregates.gini(
          Tables.events(s, dir).groupBy(col("event_type"), col("user_id"))
            .agg(count(lit(1)).as("n_events")),
          Seq("event_type"), "n_events", tieCol = col("user_id"))
        .orderBy(col("event_type")),
      // rank identity G = 2·Σ i·x_(i)/(n·Σx) − (n+1)/n over the
      // (value, user_id)-ascending sort — ties share a value, so the
      // tiebreak order cannot change the sum
      """WITH c AS (SELECT event_type, user_id,
        |        CAST(count(*) AS DOUBLE) AS n_events
        |      FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, n_events,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY n_events, user_id) AS i
        |      FROM c)
        |SELECT event_type,
        |  roundStable(CASE WHEN sum(n_events) > 0 THEN
        |    2.0 * sum(i * n_events) / (count(*) * sum(n_events))
        |      - (count(*) + 1) / CAST(count(*) AS DOUBLE) END, 6) AS gini,
        |  count(*) AS n,
        |  roundStable(sum(n_events), 6) AS total
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q158_rolling_corr", (s, dir) =>
      // trailing-20-row price/quantity co-movement per supplier —
      // full-window rows only (warm-up excluded: small-n conventions
      // differ across engines and a 1-row frame is undefined)
      etl.Aggregates.rollingCorr(
          Tables.lineitem(s, dir).filter(col("l_suppkey") <= 50)
            .withColumn("tie",
              col("l_orderkey") * 10 + col("l_linenumber")),
          Seq("l_suppkey"), orderCol = col("l_shipdate"),
          tieCol = col("tie"), xCol = "l_extendedprice",
          yCol = "l_quantity", window = 20)
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("tie")),
      // the identical moment formula over the identical trailing frame
      // (not the engine's corr() — two engines, two small-n/zero-var
      // conventions); warm-up rows excluded on both sides
      """WITH t AS (SELECT l_suppkey, l_shipdate,
        |        l_orderkey * 10 + l_linenumber AS tie,
        |        CAST(l_extendedprice AS DOUBLE) AS x,
        |        CAST(l_quantity AS DOUBLE) AS y
        |      FROM lineitem WHERE l_suppkey <= 50),
        |w AS (SELECT l_suppkey, l_shipdate, tie,
        |        row_number() OVER win AS rn,
        |        CAST(count(*) OVER winf AS DOUBLE) AS n,
        |        sum(x) OVER winf AS sx, sum(y) OVER winf AS sy,
        |        sum(x * y) OVER winf AS sxy,
        |        sum(x * x) OVER winf AS sxx,
        |        sum(y * y) OVER winf AS syy
        |      FROM t
        |      WINDOW win AS (PARTITION BY l_suppkey
        |          ORDER BY l_shipdate, tie),
        |        winf AS (PARTITION BY l_suppkey ORDER BY l_shipdate, tie
        |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT l_suppkey, l_shipdate, tie,
        |  roundStable(CASE WHEN sqrt((n * sxx - sx * sx)
        |      * (n * syy - sy * sy)) > 0
        |    THEN (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)
        |      * (n * syy - sy * sy)) END, 6) AS rolling_corr
        |FROM w WHERE rn >= 20 ORDER BY l_suppkey, l_shipdate, tie""".stripMargin),

    Query("q159_seasonal_naive", (s, dir) =>
      // forecastability screen: MAE of "same hour yesterday" vs
      // "previous hour" over the hourly-mean series per type; exact-hour
      // self-joins, NOT row lags — a grid gap must not slide the
      // comparison (the q95 lesson)
      etl.Aggregates.seasonalNaiveError(Tables.events(s, dir),
          Seq("event_type"), col("ts"), "value")
        .orderBy(col("event_type")),
      // exact-hour self-joins against the hourly-mean series
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh,
        |        avg(value) AS v
        |      FROM events GROUP BY 1, 2),
        |j AS (SELECT c.event_type, c.v, p24.v AS v24, p1.v AS v1
        |      FROM h c
        |      LEFT JOIN h p24 ON p24.event_type = c.event_type
        |        AND p24.hh + INTERVAL 24 HOUR = c.hh
        |      LEFT JOIN h p1 ON p1.event_type = c.event_type
        |        AND p1.hh + INTERVAL 1 HOUR = c.hh)
        |SELECT event_type,
        |  roundStable(avg(abs(v - v24)), 6) AS mae_24h,
        |  roundStable(avg(abs(v - v1)), 6) AS mae_1h,
        |  roundStable(CASE WHEN avg(abs(v - v1)) > 0
        |    THEN avg(abs(v - v24)) / avg(abs(v - v1)) END, 6) AS mase24,
        |  CAST(count(v24) AS BIGINT) AS n_24h,
        |  CAST(count(v1) AS BIGINT) AS n_1h,
        |  count(*) AS n_hours
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q164_theilsen", (s, dir) =>
      // Theil-Sen robust trend per type: median-of-pairwise-slopes over
      // the hourly-mean series — the 50%-breakdown twin of q118's OLS
      // (one wild reading tilts OLS; here ~29% of hours can be corrupt)
      etl.Aggregates.theilSen(Tables.events(s, dir), Seq("event_type"),
          col("ts"), "value")
        .orderBy(col("event_type")),
      // median of pairwise slopes over the hourly-mean series; x =
      // epoch-hours as double on both engines, identical interpolation
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh,
        |        avg(value) AS v
        |      FROM events GROUP BY 1, 2),
        |hx AS (SELECT event_type, epoch_us(hh) / 3.6e9 AS x, v FROM h),
        |p AS (SELECT a.event_type, (b.v - a.v) / (b.x - a.x) AS s
        |      FROM hx a JOIN hx b ON b.event_type = a.event_type
        |        AND b.x > a.x),
        |sl AS (SELECT event_type, median(s) AS slope, count(*) AS np
        |      FROM p GROUP BY 1)
        |SELECT hx.event_type,
        |  roundStable(max(sl.slope), 6) AS slope_per_hour,
        |  roundStable(median(hx.v - sl.slope * hx.x), 6) AS intercept,
        |  count(*) AS n_hours,
        |  CAST(coalesce(max(sl.np), 0) AS BIGINT) AS n_pairs
        |FROM hx LEFT JOIN sl ON sl.event_type = hx.event_type
        |GROUP BY hx.event_type ORDER BY hx.event_type""".stripMargin),

    Query("q167_trimmed_mean", (s, dir) =>
      // robust-location ladder closed: 10/90 trimmed + winsorized means
      // per type — the mean believes every glitch, the median throws
      // away 98% of the data; these are the standard middle ground
      etl.Aggregates.trimmedStats(Tables.events(s, dir),
          Seq("event_type"), "value", lo = 0.1, hi = 0.9)
        .orderBy(col("event_type")),
      // interpolated exact quantile bounds (quantile_cont ≡ Spark's
      // percentile), then conditional / clamped means over the same scan
      """WITH b AS (SELECT event_type,
        |        quantile_cont(value, 0.1) AS qlo,
        |        quantile_cont(value, 0.9) AS qhi
        |      FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  roundStable(avg(value), 6) AS mean,
        |  roundStable(avg(CASE WHEN value >= qlo AND value <= qhi
        |    THEN value END), 6) AS trimmed_mean,
        |  roundStable(avg(greatest(least(value, qhi), qlo)), 6)
        |    AS winsor_mean,
        |  roundStable(max(qlo), 6) AS q_lo,
        |  roundStable(max(qhi), 6) AS q_hi,
        |  count(value) AS n
        |FROM events e JOIN b ON b.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),

    Query("q172_kaplan_meier", (s, dir) => {
      // time-to-first-error survival per cohort: subject = user, event =
      // the user's first 'error', censored at last sighting if none —
      // the right-censoring KM exists for (calling never-erroring users
      // "errored at last sighting" biases every curve down)
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"), max(col("ts")).as("__last"),
          min(when(col("event_type") === "error", col("ts"))).as("__err"))
      val subj = perUser
        .select((col("user_id") % 3).as("cohort"),
          datediff(to_date(coalesce(col("__err"), col("__last"))),
            to_date(col("__first"))).cast("long").as("dur"),
          col("__err").isNotNull.as("obs"))
      etl.Aggregates.kaplanMeier(subj, Seq("cohort"), "dur", col("obs"))
        .orderBy(col("cohort"), col("t"))
    },
      // identical per-duration reduction, reverse-cumulative at-risk,
      // exp(Σ ln(1−d/n)) survival with the zero-factor pin
      """WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |        min(CASE WHEN event_type = 'error' THEN ts END) AS err
        |      FROM events GROUP BY 1),
        |s AS (SELECT user_id % 3 AS cohort,
        |        date_diff('day', CAST(f AS DATE),
        |          CAST(coalesce(err, l) AS DATE)) AS t,
        |        (err IS NOT NULL) AS obs
        |      FROM u),
        |g AS (SELECT cohort, t,
        |        sum(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
        |        sum(CASE WHEN obs THEN 0 ELSE 1 END) AS c
        |      FROM s GROUP BY 1, 2),
        |w AS (SELECT cohort, t, d, c,
        |        sum(d + c) OVER (PARTITION BY cohort ORDER BY t
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
        |      FROM g),
        |f AS (SELECT cohort, t, d, c, n,
        |        1.0 - CAST(d AS DOUBLE) / n AS fac FROM w)
        |SELECT cohort, t, CAST(n AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
        |  roundStable(CASE WHEN min(fac) OVER win <= 0 THEN 0.0
        |    ELSE exp(sum(CASE WHEN fac > 0 THEN ln(fac) ELSE 0.0 END)
        |      OVER win) END, 6) AS survival
        |FROM f
        |WINDOW win AS (PARTITION BY cohort ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY cohort, t""".stripMargin),

    Query("q174_scalable_median", (s, dir) =>
      // EXACT median via two bounded passes (histogram narrows to the
      // candidate bin, only that sliver ranks) — the oracle's plain
      // median() proves exactness; percentile() would OOM a 100 TB key
      etl.Aggregates.scalableMedian(Tables.events(s, dir),
          Seq("event_type"), "value", bins = 100)
        .orderBy(col("event_type")),
      // the oracle states the CONTRACT (exact interpolated median) —
      // proving the histogram-narrowed two-pass is exact, not approximate
      """SELECT event_type, roundStable(median(value), 6) AS median,
        |  count(value) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    Query("q180_spearman", (s, dir) =>
      // monotone price/quantity association per supplier — the rank
      // correlation q158's Pearson isn't (outlier-proof, catches any
      // monotone relation, not just linear)
      etl.Aggregates.spearman(
          Tables.lineitem(s, dir).filter(col("l_suppkey") <= 50),
          Seq("l_suppkey"), col("l_extendedprice"), col("l_quantity"))
        .orderBy(col("l_suppkey")),
      // identical midrank (rank + (peers-1)/2) and product-moment trees
      """WITH b AS (SELECT l_suppkey AS k, l_extendedprice AS x,
        |        l_quantity AS y FROM lineitem WHERE l_suppkey <= 50),
        |r AS (SELECT k,
        |    CAST(rank() OVER (PARTITION BY k ORDER BY x) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY k, x) AS DOUBLE) - 1) / 2
        |      AS rx,
        |    CAST(rank() OVER (PARTITION BY k ORDER BY y) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY k, y) AS DOUBLE) - 1) / 2
        |      AS ry
        |  FROM b),
        |m AS (SELECT k, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
        |    sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
        |  FROM r GROUP BY 1)
        |SELECT k AS l_suppkey,
        |  roundStable(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
        |    THEN (n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
        |    AS spearman_rho,
        |  CAST(n AS BIGINT) AS n
        |FROM m ORDER BY l_suppkey""".stripMargin),

    Query("q186_kendall", (s, dir) =>
      // concordance between monthly revenue and quantity per supplier —
      // tau-b over the calendar-bounded aggregated series (83 months =
      // 3.4k pairs, however many rows fed them)
      etl.Aggregates.kendallTau(
          Tables.lineitem(s, dir).filter(col("l_suppkey") <= 50),
          Seq("l_suppkey"), date_trunc("month", col("l_shipdate")),
          "l_extendedprice", "l_quantity")
        .orderBy(col("l_suppkey")),
      // same rounded monthly series, same pair enumeration; tau-b
      // denominators are the unequal-pair counts from the SAME join
      """WITH m AS (SELECT l_suppkey AS k,
        |    date_trunc('month', l_shipdate) AS b,
        |    roundStable(avg(l_extendedprice), 6) AS x,
        |    roundStable(avg(l_quantity), 6) AS y
        |  FROM lineitem WHERE l_suppkey <= 50 GROUP BY 1, 2),
        |p AS (SELECT a.k,
        |    sign(b.x - a.x) * sign(b.y - a.y) AS dxy,
        |    CASE WHEN a.x <> b.x THEN 1 ELSE 0 END AS xne,
        |    CASE WHEN a.y <> b.y THEN 1 ELSE 0 END AS yne
        |  FROM m a JOIN m b ON a.k = b.k AND a.b < b.b)
        |SELECT k AS l_suppkey,
        |  roundStable(CASE WHEN sum(xne) > 0 AND sum(yne) > 0 THEN
        |    CAST(sum(CASE WHEN dxy > 0 THEN 1 ELSE 0 END)
        |       - sum(CASE WHEN dxy < 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sqrt(CAST(sum(xne) AS DOUBLE) * sum(yne)) END, 6) AS tau_b,
        |  CAST(sum(CASE WHEN dxy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_concordant,
        |  CAST(sum(CASE WHEN dxy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_discordant,
        |  count(*) AS n_pairs
        |FROM p GROUP BY 1 ORDER BY l_suppkey""".stripMargin),

    Query("q188_weighted_median", (s, dir) =>
      // the price at which half the QUANTITY traded, per return flag —
      // what plain median gets wrong whenever rows carry unequal mass
      etl.Aggregates.weightedMedian(Tables.lineitem(s, dir),
          Seq("l_returnflag"), "l_extendedprice", "l_quantity")
        .orderBy(col("l_returnflag")),
      // lower weighted median: smallest value whose cumulative weight
      // reaches half the total; intra-tie row order is engine-free
      // because min(v) only needs SOME row of the crossing value to
      // qualify, and integral weights sum exactly
      """WITH b AS (SELECT l_returnflag AS k, l_extendedprice AS v,
        |    l_quantity AS w FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity > 0),
        |c AS (SELECT k, v,
        |    sum(w) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY k) AS tw
        |  FROM b)
        |SELECT k AS l_returnflag, roundStable(min(v), 6) AS w_median,
        |  roundStable(max(tw), 6) AS total_weight
        |FROM c WHERE cw >= tw / 2 GROUP BY 1 ORDER BY l_returnflag""".stripMargin),

    Query("q192_ccf", (s, dir) =>
      // does click activity LEAD purchase activity, and by how many
      // hours: lagged cross-correlation of the two hourly mean series
      // at lags -6..6 (exact-hour alignment, gaps drop the pair)
      etl.Aggregates.crossCorr(Tables.events(s, dir), col("ts"),
          isX = col("event_type") === "click",
          isY = col("event_type") === "purchase",
          "value", lags = (-6 to 6).toSeq)
        .orderBy(col("lag")),
      // hourly means per side, int64-micros lag alignment, the shared
      // explicit-moment correlation per lag
      """WITH hx AS (SELECT epoch_us(date_trunc('hour', ts)) AS h,
        |    avg(value) AS x FROM events WHERE event_type = 'click'
        |  GROUP BY 1),
        |hy AS (SELECT epoch_us(date_trunc('hour', ts)) AS h,
        |    avg(value) AS y FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1),
        |lags AS (SELECT unnest(range(-6, 7)) AS lag),
        |p AS (SELECT l.lag, hx.x, hy.y
        |  FROM lags l JOIN hx ON true
        |  JOIN hy ON hy.h = hx.h + l.lag * 3600000000)
        |SELECT CAST(lag AS BIGINT) AS lag,
        |  roundStable(CASE WHEN
        |    (count(*) * sum(x*x) - sum(x) * sum(x))
        |      * (count(*) * sum(y*y) - sum(y) * sum(y)) > 0 THEN
        |    (count(*) * sum(x*y) - sum(x) * sum(y))
        |    / sqrt((count(*) * sum(x*x) - sum(x) * sum(x))
        |         * (count(*) * sum(y*y) - sum(y) * sum(y))) END, 6) AS ccf,
        |  count(*) AS n_hours
        |FROM p GROUP BY 1 ORDER BY lag""".stripMargin),

    Query("q195_pop", (s, dir) =>
      // month-over-month revenue per return flag with EXACT calendar
      // alignment — a missing month yields NULL, never a silent
      // compare-to-two-months-ago
      etl.Aggregates.periodDelta(Tables.lineitem(s, dir),
          Seq("l_returnflag"), col("l_shipdate"), "l_extendedprice",
          unit = "month")
        .orderBy(col("l_returnflag"), col("period")),
      // per-(flag, month) totals, prev month by CALENDAR arithmetic
      """WITH t AS (SELECT l_returnflag AS k,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS period,
        |    roundStable(sum(l_extendedprice), 6) AS value
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT t.k AS l_returnflag, t.period, t.value,
        |  p.value AS prev_value,
        |  roundStable(t.value - p.value, 6) AS delta,
        |  roundStable(CASE WHEN p.value <> 0
        |    THEN (t.value - p.value) / p.value * 100 END, 6) AS pct_change
        |FROM t LEFT JOIN t p ON p.k = t.k
        | AND p.period = CAST(t.period - INTERVAL 1 MONTH AS DATE)
        |ORDER BY l_returnflag, t.period""".stripMargin),

    Query("q197_tail_risk", (s, dir) =>
      // p95 VaR + expected shortfall per type — the SLO readout that
      // distinguishes a fat tail from a near-miss (exact order-stat
      // convention, no interpolation to disagree on)
      etl.Aggregates.tailStats(Tables.events(s, dir), Seq("event_type"),
          "value", tieCol = col("event_id"), p = 0.95)
        .orderBy(col("event_type")),
      // the same ceil(n·(1 − 0.95)) tail cut — (1 − 0.95) spelled as a
      // SUBTRACTION on both sides so the fp literal is identical
      """WITH b AS (SELECT event_type AS k, value AS v, event_id AS tie
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT k, v,
        |    row_number() OVER (PARTITION BY k ORDER BY v DESC, tie DESC)
        |      AS rn,
        |    count(*) OVER (PARTITION BY k) AS n FROM b),
        |t AS (SELECT k, v, n,
        |    CAST(ceil(n * (1 - CAST(0.95 AS DOUBLE))) AS BIGINT) AS kk
        |  FROM r WHERE rn <= ceil(n * (1 - CAST(0.95 AS DOUBLE))))
        |SELECT k AS event_type, roundStable(min(v), 6) AS var_p,
        |  roundStable(avg(v), 6) AS es_p,
        |  max(kk) AS n_tail, max(n) AS n
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin),

    Query("q198_decay", (s, dir) =>
      // recency-weighted activity per user with a 7-day half-life,
      // anchored at each user's own latest event — the feature-store
      // score, closed-form in one aggregation
      etl.Aggregates.decayAgg(Tables.events(s, dir), Seq("user_id"),
          col("ts"), "value", halfLifeSecs = 7L * 86400L)
        .orderBy(col("user_id")),
      // identical exp(ln2 · Δt/halflife) tree with ln 2 PINNED as a
      // literal (libm ln is not correctly rounded across engines)
      """WITH b AS (SELECT user_id, epoch_us(ts) AS tu, value FROM events),
        |m AS (SELECT user_id, tu, value,
        |    max(tu) OVER (PARTITION BY user_id) AS mx FROM b)
        |SELECT user_id,
        |  roundStable(sum(value * exp(0.6931471805599453
        |    * (CAST(tu - mx AS DOUBLE) / 604800000000.0))), 6)
        |    AS decayed_sum,
        |  roundStable(sum(exp(0.6931471805599453
        |    * (CAST(tu - mx AS DOUBLE) / 604800000000.0))), 6)
        |    AS effective_n,
        |  roundStable(sum(value), 6) AS plain_sum,
        |  count(*) AS n
        |FROM m GROUP BY 1 ORDER BY user_id""".stripMargin),

    Query("q208_scalable_quantile", (s, dir) =>
      // EXACT p99 per type via the two-pass histogram narrowing (the
      // q174 machinery at any p) — the oracle's quantile_cont IS the
      // exactness proof; percentile() would buffer a 100 TB key
      etl.Aggregates.scalableQuantile(Tables.events(s, dir),
          Seq("event_type"), "value", p = 0.99, bins = 100)
        .orderBy(col("event_type")),
      // the CONTRACT (exact continuous quantile) — proving the
      // histogram-narrowed two-pass exact, not approximate
      """SELECT event_type,
        |  roundStable(quantile_cont(value, 0.99), 6) AS quantile,
        |  count(value) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    Query("q211_binscatter", (s, dir) =>
      // what does revenue do as quantity rises, per return flag: the
      // equal-mass conditional-mean curve with CIs — the readout a
      // 10^10-point scatter can't draw
      etl.Aggregates.binScatter(Tables.lineitem(s, dir),
          Seq("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          tieCol = col("l_orderkey") * 10 + col("l_linenumber"),
          parts = 10)
        .orderBy(col("l_returnflag"), col("bucket")),
      // the same (x, tie) rank and (rn-1)·parts DIV n equal-mass cut,
      // sample-sd standard errors
      """WITH b AS (SELECT l_returnflag AS k, l_quantity AS x,
        |    l_extendedprice AS y,
        |    l_orderkey * 10 + l_linenumber AS tie
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL),
        |r AS (SELECT k, x, y,
        |    row_number() OVER (PARTITION BY k ORDER BY x, tie) AS rn,
        |    count(*) OVER (PARTITION BY k) AS n FROM b),
        |g AS (SELECT k, CAST((rn - 1) * 10 // n AS BIGINT) AS bucket,
        |    count(*) AS n, avg(x) AS xm, avg(y) AS ym,
        |    stddev_samp(y) / sqrt(CAST(count(*) AS DOUBLE)) AS se
        |  FROM r GROUP BY 1, 2)
        |SELECT k AS l_returnflag, bucket, n,
        |  roundStable(xm, 6) AS x_mean, roundStable(ym, 6) AS y_mean,
        |  roundStable(se, 6) AS y_se,
        |  roundStable(ym - 1.96 * se, 6) AS ci_lo,
        |  roundStable(ym + 1.96 * se, 6) AS ci_hi
        |FROM g ORDER BY l_returnflag, bucket""".stripMargin),

    Query("q213_bootstrap_ci", (s, dir) =>
      // distribution-free CI on the mean via the deterministic Poisson
      // bootstrap (md5-hash draws, pinned CDF thresholds) — 50 replicas,
      // exact order-stat quantiles of the replica means
      etl.Aggregates.bootstrapMeanCi(Tables.events(s, dir),
          Seq("event_type"), "value", idCol = col("event_id"),
          reps = 50, alpha = 0.05)
        .orderBy(col("event_type")),
      // md5 uniforms, pinned Poisson(1) CDF (every threshold CAST to
      // DOUBLE — decimal-literal comparisons are the q197 trap), same
      // replica means and order-stat CI
      """WITH b AS (SELECT event_type, value, event_id,
        |    unnest(range(0, 50)) AS r
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT event_type, value, r,
        |    md5(CAST(event_id AS VARCHAR) || '#' || CAST(r AS VARCHAR))
        |      AS hh FROM b),
        |u AS (SELECT event_type, value, r,
        |    CAST(list_sum([CAST((CASE WHEN unicode(hh[i]) >= 97
        |        THEN unicode(hh[i]) - 87 ELSE unicode(hh[i]) - 48 END)
        |        AS BIGINT) * 16 ** (10 - i) FOR i IN range(1, 11)])
        |      AS BIGINT) / CAST(1099511627776 AS DOUBLE) AS uu
        |  FROM h),
        |w AS (SELECT event_type, value, r,
        |    CASE WHEN uu < CAST(0.36787944117144233 AS DOUBLE) THEN 0
        |         WHEN uu < CAST(0.7357588823428847 AS DOUBLE) THEN 1
        |         WHEN uu < CAST(0.9196986029286058 AS DOUBLE) THEN 2
        |         WHEN uu < CAST(0.9810118431238462 AS DOUBLE) THEN 3
        |         WHEN uu < CAST(0.9963401531726563 AS DOUBLE) THEN 4
        |         WHEN uu < CAST(0.9994058151824183 AS DOUBLE) THEN 5
        |         ELSE 6 END AS wt
        |  FROM u),
        |rep AS (SELECT event_type, r, sum(wt * value) AS sw,
        |    sum(wt) AS w0 FROM w GROUP BY 1, 2),
        |m AS (SELECT event_type, r,
        |    roundStable(CASE WHEN w0 > 0 THEN sw / w0 END, 9) AS mm
        |  FROM rep),
        |lv AS (SELECT event_type, mm, r,
        |    row_number() OVER (PARTITION BY event_type ORDER BY mm, r)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nb
        |  FROM m WHERE mm IS NOT NULL),
        |sel AS (SELECT * FROM lv
        |  WHERE rn = greatest(CAST(ceil(nb
        |      * (CAST(0.05 AS DOUBLE) / 2)) AS BIGINT), 1)
        |   OR rn = CAST(ceil(nb
        |      * (1 - CAST(0.05 AS DOUBLE) / 2)) AS BIGINT)),
        |ci AS (SELECT event_type, roundStable(min(mm), 6) AS ci_lo,
        |    roundStable(max(mm), 6) AS ci_hi,
        |    CAST(max(nb) AS BIGINT) AS n_reps FROM sel GROUP BY 1),
        |pl AS (SELECT event_type, roundStable(avg(value), 6) AS mean,
        |    count(value) AS n FROM events WHERE value IS NOT NULL
        |  GROUP BY 1)
        |SELECT pl.event_type, pl.mean, pl.n, ci.ci_lo, ci.ci_hi, ci.n_reps
        |FROM pl LEFT JOIN ci USING (event_type)
        |ORDER BY event_type""".stripMargin),

    Query("q216_mann_kendall", (s, dir) =>
      // the significance half of the robust-trend pair (Theil-Sen q164
      // estimates the slope; MK says whether a monotone trend is THERE),
      // daily buckets so the pair count is calendar-bounded
      etl.Aggregates.mannKendall(Tables.events(s, dir), Seq("event_type"),
          bucketCol = to_date(col("ts")), valueCol = "value")
        .orderBy(col("event_type")),
      // daily bucket means rounded before comparison, pair sign sum,
      // tie-corrected variance, continuity-corrected z
      """WITH s AS (SELECT event_type, CAST(ts AS DATE) AS b,
        |    roundStable(avg(value), 6) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    CAST(sum(sign(b2.v - a.v)) AS BIGINT) AS s_stat,
        |    count(*) AS np
        |  FROM s a JOIN s b2 ON b2.event_type = a.event_type
        |    AND a.b < b2.b
        |  GROUP BY 1),
        |t AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS t
        |  FROM s GROUP BY event_type, v),
        |g AS (SELECT event_type,
        |    sum(t * (t - 1) * (2 * t + 5)) AS tieterm,
        |    sum(t) AS n FROM t GROUP BY 1)
        |SELECT g.event_type,
        |  p.s_stat,
        |  CAST(g.n AS BIGINT) AS n_buckets,
        |  CAST(coalesce(p.np, 0) AS BIGINT) AS n_pairs,
        |  roundStable(CASE WHEN p.s_stat IS NOT NULL THEN
        |    (g.n * (g.n - 1) * (2 * g.n + 5) - g.tieterm) / 18.0 END, 6)
        |    AS var_s,
        |  roundStable(CASE WHEN p.s_stat IS NOT NULL
        |      AND (g.n * (g.n - 1) * (2 * g.n + 5) - g.tieterm) / 18.0 > 0
        |    THEN CASE
        |      WHEN p.s_stat > 0 THEN (CAST(p.s_stat AS DOUBLE) - 1)
        |        / sqrt((g.n * (g.n - 1) * (2 * g.n + 5) - g.tieterm) / 18.0)
        |      WHEN p.s_stat < 0 THEN (CAST(p.s_stat AS DOUBLE) + 1)
        |        / sqrt((g.n * (g.n - 1) * (2 * g.n + 5) - g.tieterm) / 18.0)
        |      ELSE 0.0 END END, 6) AS z
        |FROM g LEFT JOIN p USING (event_type)
        |ORDER BY event_type""".stripMargin),

    Query("q218_max_drawdown", (s, dir) =>
      // worst peak-to-trough drop per key, order-aware (max-min
      // overstates whenever the min precedes the max), with the
      // earliest-trough determinism contract
      etl.Aggregates.maxDrawdown(Tables.events(s, dir), Seq("event_type"),
          "value", orderCol = col("ts"), tieCol = col("event_id"))
        .orderBy(col("event_type")),
      // cumulative peak window, then the (drawdown desc, time asc)
      // rank picks the earliest worst trough
      """WITH s AS (SELECT event_type, value, ts, event_id,
        |    max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events),
        |d AS (SELECT event_type, ts, peak, peak - value AS dd,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY peak - value DESC, ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM s)
        |SELECT event_type,
        |  roundStable(dd, 6) AS max_dd,
        |  roundStable(CASE WHEN peak > 0 THEN dd / peak END, 6)
        |    AS max_dd_frac,
        |  roundStable(peak, 6) AS peak_value,
        |  ts AS trough_at,
        |  CAST(n AS BIGINT) AS n
        |FROM d WHERE rn = 1 ORDER BY event_type""".stripMargin),

    Query("q219_runs_test", (s, dir) =>
      // Wald-Wolfowitz randomness check against each key's own exact
      // median: too few runs = the series lingers (autocorrelation),
      // too many = oscillation
      etl.Aggregates.runsTest(Tables.events(s, dir), Seq("event_type"),
          "value", orderCol = col("ts"), tieCol = col("event_id"))
        .orderBy(col("event_type")),
      // same exact interpolated median, same tie exclusion, same
      // run-boundary lag
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |f AS (SELECT e.event_type, (e.value > m.med) AS s, e.ts, e.event_id
        |  FROM events e JOIN m USING (event_type) WHERE e.value <> m.med),
        |r AS (SELECT event_type, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR lag(s) OVER w <> s
        |      THEN 1 ELSE 0 END AS nw
        |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS DOUBLE) AS np,
        |    CAST(sum(CASE WHEN s THEN 0 ELSE 1 END) AS DOUBLE) AS nn,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(nw) AS BIGINT) AS r FROM r GROUP BY 1)
        |SELECT event_type,
        |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  r AS n_runs,
        |  roundStable(CASE WHEN n > 1 THEN 1.0 + 2.0 * np * nn / n END, 6)
        |    AS expected_runs,
        |  roundStable(CASE WHEN n > 1
        |      AND 2.0 * np * nn * (2.0 * np * nn - n) / (n * n * (n - 1)) > 0
        |    THEN (CAST(r AS DOUBLE) - (1.0 + 2.0 * np * nn / n))
        |      / sqrt(2.0 * np * nn * (2.0 * np * nn - n)
        |             / (n * n * (n - 1))) END, 6) AS z
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q220_hodges_lehmann", (s, dir) =>
      // the robust center the Wilcoxon test inverts to: median of all
      // Walsh averages over the daily-mean series (calendar-bounded
      // pairs — the Theil-Sen discipline)
      etl.Aggregates.hodgesLehmann(Tables.events(s, dir), Seq("event_type"),
          bucketCol = to_date(col("ts")), valueCol = "value")
        .orderBy(col("event_type")),
      // rounded daily means, i <= j Walsh pairs, interpolated median
      // of the averages
      """WITH s AS (SELECT event_type, CAST(ts AS DATE) AS b,
        |    roundStable(avg(value), 6) AS v FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    quantile_cont((a.v + b2.v) / 2, 0.5) AS hl,
        |    count(*) AS n_pairs
        |  FROM s a JOIN s b2 ON b2.event_type = a.event_type
        |    AND a.b <= b2.b
        |  GROUP BY 1),
        |g AS (SELECT event_type, quantile_cont(v, 0.5) AS med,
        |    count(*) AS n_buckets FROM s GROUP BY 1)
        |SELECT g.event_type, roundStable(p.hl, 6) AS hl_location,
        |  roundStable(g.med, 6) AS series_median,
        |  CAST(g.n_buckets AS BIGINT) AS n_buckets,
        |  CAST(p.n_pairs AS BIGINT) AS n_pairs
        |FROM g JOIN p USING (event_type)
        |ORDER BY event_type""".stripMargin),

    Query("q225_contribution", (s, dir) =>
      // "why did revenue move": per-segment delta decomposition between
      // the pre-1998 and post-1998 halves, ranked by absolute movement
      etl.Aggregates.contribution(Tables.orders(s, dir),
          Seq("o_orderpriority", "o_orderstatus"), "o_totalprice",
          isRef = year(col("o_orderdate")) < 1998, digits = 2)
        .orderBy(col("o_orderpriority"), col("o_orderstatus")),
      // same conditional totals; |delta| ROUNDED before ranking with
      // the full-segment tiebreak
      """WITH b AS (SELECT o_orderpriority, o_orderstatus,
        |    sum(CASE WHEN year(o_orderdate) < 1998 THEN o_totalprice
        |      ELSE 0 END) AS r,
        |    sum(CASE WHEN NOT (year(o_orderdate) < 1998)
        |      THEN o_totalprice ELSE 0 END) AS c
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT *, c - r AS d,
        |    sum(abs(c - r)) OVER () AS ta,
        |    row_number() OVER (ORDER BY roundStable(abs(c - r), 2) DESC,
        |      o_orderpriority, o_orderstatus) AS rk
        |  FROM b)
        |SELECT o_orderpriority, o_orderstatus,
        |  roundStable(r, 2) AS ref_total, roundStable(c, 2) AS cur_total,
        |  roundStable(d, 2) AS delta,
        |  roundStable(CASE WHEN ta > 0 THEN abs(d) / ta END, 2)
        |    AS abs_share,
        |  CAST(rk AS BIGINT) AS rank
        |FROM w ORDER BY o_orderpriority, o_orderstatus""".stripMargin),

    Query("q226_effect_size", (s, dir) =>
      // the magnitude companion to q121's Welch significance on the
      // same A/B split: pooled-SD Cohen's d + Hedges' g
      etl.Aggregates.effectSize(Tables.events(s, dir), Seq("event_type"),
          isA = col("user_id") % 2 === 0, yCol = col("value"))
        .orderBy(col("event_type")),
      // same arm moments, pooled SD, Hedges correction
      """WITH t AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN value END AS a,
        |    CASE WHEN user_id % 2 <> 0 THEN value END AS b
        |  FROM events),
        |g AS (SELECT event_type,
        |    count(a) AS na, count(b) AS nb,
        |    avg(a) AS ma, avg(b) AS mb,
        |    var_samp(a) AS va, var_samp(b) AS vb
        |  FROM t GROUP BY 1),
        |s AS (SELECT *,
        |    CAST(na + nb AS DOUBLE) AS n,
        |    (CAST(na - 1 AS DOUBLE) * va + CAST(nb - 1 AS DOUBLE) * vb)
        |      / (CAST(na + nb AS DOUBLE) - 2) AS pv
        |  FROM g)
        |SELECT event_type,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  roundStable(ma, 6) AS mean_a, roundStable(mb, 6) AS mean_b,
        |  roundStable(CASE WHEN na >= 2 AND nb >= 2 AND pv > 0
        |    THEN (ma - mb) / sqrt(pv) END, 6) AS cohen_d,
        |  roundStable(CASE WHEN na >= 2 AND nb >= 2 AND pv > 0
        |    THEN ((ma - mb) / sqrt(pv)) * (1.0 - 3.0 / (4.0 * n - 9))
        |    END, 6) AS hedges_g
        |FROM s ORDER BY event_type""".stripMargin),

    Query("q228_abc", (s, dir) =>
      // Pareto/ABC customer classification by lifetime spend: the head
      // that carries 80%, the middle to 95%, the tail
      etl.Aggregates.abcClasses(Tables.orders(s, dir), Nil,
          idCol = col("o_custkey"), valueCol = "o_totalprice", digits = 2)
        .orderBy(col("abc_class")),
      // same item rollup, (rounded value desc, id) running total, class
      // from the 9dp-rounded cumulative share BEFORE each item
      """WITH it AS (SELECT o_custkey AS id, sum(o_totalprice) AS v
        |  FROM orders GROUP BY 1),
        |w AS (SELECT id, v,
        |    sum(v) OVER () AS tot,
        |    sum(v) OVER (ORDER BY roundStable(v, 2) DESC, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM it),
        |c AS (SELECT *, roundStable((cum - v) / tot, 9) AS ps FROM w),
        |s AS (SELECT CASE WHEN tot > 0 THEN
        |      CASE WHEN ps < 0.8 THEN 'A' WHEN ps < 0.95 THEN 'B'
        |        ELSE 'C' END END AS abc_class, v, tot FROM c)
        |SELECT abc_class, count(*) AS n_items,
        |  roundStable(sum(v), 2) AS class_total,
        |  roundStable(CASE WHEN max(tot) > 0 THEN sum(v) / max(tot) END,
        |    2) AS share
        |FROM s GROUP BY 1 ORDER BY abc_class""".stripMargin),

    Query("q229_interarrival", (s, dir) =>
      // is the arrival process actually Poisson? CV of gaps and the
      // Goh-Barabasi burstiness the A43 rate monitor's model assumes
      etl.Aggregates.interArrival(Tables.events(s, dir), Seq("event_type"),
          tsCol = col("ts"), tieCol = col("event_id"))
        .orderBy(col("event_type")),
      // same keyed lag gaps in seconds, same spread guards
      """WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id))) / 1e6 AS gap
        |  FROM events)
        |SELECT event_type, count(*) AS n_events, count(gap) AS n_gaps,
        |  roundStable(avg(gap), 6) AS mean_gap_s,
        |  roundStable(CASE WHEN count(gap) >= 2 AND avg(gap) > 0
        |    THEN stddev_samp(gap) / avg(gap) END, 6) AS cv,
        |  roundStable(CASE WHEN count(gap) >= 2 AND avg(gap) > 0
        |    THEN (stddev_samp(gap) - avg(gap))
        |      / (stddev_samp(gap) + avg(gap)) END, 6) AS b_burstiness
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q230_median_ci", (s, dir) =>
      // the median with distribution-free error bars: order-statistic
      // CI (integer ranks — no resampling, no shape assumption)
      etl.Aggregates.quantileCi(Tables.events(s, dir), Seq("event_type"),
          "value", p = 0.5)
        .orderBy(col("event_type")),
      // identical integer rank arithmetic (p = 0.5 keeps every literal
      // an exact double), exact order-stat endpoints, interpolated point
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (SELECT event_type, value, rn, n,
        |    greatest(CAST(ceil(CAST(n AS DOUBLE) * 0.5
        |      - 1.96 * sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5)) AS BIGINT),
        |      1) AS lo,
        |    least(CAST(ceil(CAST(n AS DOUBLE) * 0.5
        |      + 1.96 * sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5)) AS BIGINT),
        |      n) AS hi
        |  FROM r),
        |pk AS (SELECT event_type,
        |    roundStable(min(value), 6) AS ci_lo,
        |    roundStable(max(value), 6) AS ci_hi,
        |    max(lo) AS lo_rank, max(hi) AS hi_rank, max(n) AS n
        |  FROM b WHERE rn = lo OR rn = hi GROUP BY 1),
        |pt AS (SELECT event_type,
        |    roundStable(quantile_cont(value, 0.5), 6) AS point
        |  FROM events GROUP BY 1)
        |SELECT pt.event_type, pt.point, pk.ci_lo, pk.ci_hi,
        |  CAST(pk.lo_rank AS BIGINT) AS lo_rank,
        |  CAST(pk.hi_rank AS BIGINT) AS hi_rank,
        |  CAST(pk.n AS BIGINT) AS n
        |FROM pt JOIN pk USING (event_type)
        |ORDER BY event_type""".stripMargin),

    Query("q232_seasonal_strength", (s, dir) =>
      // which keys have a daily cycle worth modeling: Hyndman
      // seasonal/trend strength over the q88 decomposition staging
      etl.Aggregates.seasonalStrength(Tables.events(s, dir), "event_type",
          "ts", "event_id", "value", halfWindow = 12)
        .orderBy(col("event_type")),
      // the q88 decomposition staging with UNROUNDED components, two
      // guarded variance ratios
      """WITH t AS (SELECT event_type, ts, value,
        |    avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
        |  FROM events),
        |s AS (SELECT event_type, value, value - trend AS detr,
        |    hour(ts) AS hh FROM t),
        |m AS (SELECT event_type AS met, hh AS mhh, avg(detr) AS seas
        |  FROM s GROUP BY 1, 2),
        |j AS (SELECT s.event_type, s.detr, s.detr - m.seas AS resid,
        |    s.value - m.seas AS deseas
        |  FROM s JOIN m ON s.event_type = m.met AND s.hh = m.mhh)
        |SELECT event_type,
        |  roundStable(CASE WHEN var_pop(detr) > 0 THEN
        |    greatest(0.0, 1.0 - var_pop(resid) / var_pop(detr)) END, 6)
        |    AS strength_seasonal,
        |  roundStable(CASE WHEN var_pop(deseas) > 0 THEN
        |    greatest(0.0, 1.0 - var_pop(resid) / var_pop(deseas)) END, 6)
        |    AS strength_trend,
        |  count(*) AS n
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q234_ols2", (s, dir) =>
      // trend CONTROLLING FOR hour-of-day: the two-regressor normal
      // equations (a cycled series reads a biased plain slope)
      etl.Aggregates.ols2(Tables.events(s, dir), Seq("event_type"),
          x1 = (unix_micros(col("ts")) - lit(1704067200000000L))
            .cast("double") / lit(86400000000.0),
          x2 = hour(col("ts")).cast("double"),
          y = col("value"))
        .orderBy(col("event_type")),
      // identical six-moment trees, identical 2x2 solve and guards
      """WITH t AS (SELECT event_type, value AS y,
        |    (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x1,
        |    CAST(hour(ts) AS DOUBLE) AS x2
        |  FROM events)
        |SELECT event_type,
        |  roundStable(CASE WHEN var_pop(x1) * var_pop(x2)
        |      - covar_pop(x1, x2) * covar_pop(x1, x2) > 0 THEN
        |    (covar_pop(x1, y) * var_pop(x2)
        |      - covar_pop(x2, y) * covar_pop(x1, x2))
        |    / (var_pop(x1) * var_pop(x2)
        |      - covar_pop(x1, x2) * covar_pop(x1, x2)) END, 6) AS b1,
        |  roundStable(CASE WHEN var_pop(x1) * var_pop(x2)
        |      - covar_pop(x1, x2) * covar_pop(x1, x2) > 0 THEN
        |    (covar_pop(x2, y) * var_pop(x1)
        |      - covar_pop(x1, y) * covar_pop(x1, x2))
        |    / (var_pop(x1) * var_pop(x2)
        |      - covar_pop(x1, x2) * covar_pop(x1, x2)) END, 6) AS b2,
        |  roundStable(avg(y)
        |    - (CASE WHEN var_pop(x1) * var_pop(x2)
        |        - covar_pop(x1, x2) * covar_pop(x1, x2) > 0 THEN
        |      (covar_pop(x1, y) * var_pop(x2)
        |        - covar_pop(x2, y) * covar_pop(x1, x2))
        |      / (var_pop(x1) * var_pop(x2)
        |        - covar_pop(x1, x2) * covar_pop(x1, x2)) END) * avg(x1)
        |    - (CASE WHEN var_pop(x1) * var_pop(x2)
        |        - covar_pop(x1, x2) * covar_pop(x1, x2) > 0 THEN
        |      (covar_pop(x2, y) * var_pop(x1)
        |        - covar_pop(x1, y) * covar_pop(x1, x2))
        |      / (var_pop(x1) * var_pop(x2)
        |        - covar_pop(x1, x2) * covar_pop(x1, x2)) END) * avg(x2),
        |    6) AS intercept,
        |  roundStable(CASE WHEN var_pop(x1) * var_pop(x2)
        |      - covar_pop(x1, x2) * covar_pop(x1, x2) > 0
        |      AND var_pop(y) > 0 THEN
        |    ((covar_pop(x1, y) * var_pop(x2)
        |      - covar_pop(x2, y) * covar_pop(x1, x2))
        |     / (var_pop(x1) * var_pop(x2)
        |      - covar_pop(x1, x2) * covar_pop(x1, x2)) * covar_pop(x1, y)
        |    + (covar_pop(x2, y) * var_pop(x1)
        |      - covar_pop(x1, y) * covar_pop(x1, x2))
        |     / (var_pop(x1) * var_pop(x2)
        |      - covar_pop(x1, x2) * covar_pop(x1, x2)) * covar_pop(x2, y))
        |    / var_pop(y) END, 6) AS r2,
        |  count(*) AS n
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q237_levene", (s, dir) =>
      // the drift family's SPREAD axis: did the NOISE change between
      // month halves, robust to heavy tails (median-centered deviations)
      etl.Aggregates.levene(Tables.events(s, dir), Seq("event_type"),
          isA = dayofmonth(col("ts")) <= 15, yCol = col("value"))
        .orderBy(col("event_type")),
      // same group medians, same absolute deviations, same two-group F
      """WITH t AS (SELECT event_type, value AS y,
        |    (day(ts) <= 15) AS a FROM events),
        |m AS (SELECT event_type,
        |    quantile_cont(CASE WHEN a THEN y END, 0.5) AS ma,
        |    quantile_cont(CASE WHEN NOT a THEN y END, 0.5) AS mb
        |  FROM t GROUP BY 1),
        |z AS (SELECT t.event_type, t.a,
        |    CASE WHEN a THEN abs(y - ma) ELSE abs(y - mb) END AS z
        |  FROM t JOIN m USING (event_type)),
        |g AS (SELECT event_type,
        |    CAST(count(CASE WHEN a THEN 1 END) AS DOUBLE) AS na,
        |    CAST(count(CASE WHEN NOT a THEN 1 END) AS DOUBLE) AS nb,
        |    avg(CASE WHEN a THEN z END) AS za,
        |    avg(CASE WHEN NOT a THEN z END) AS zb,
        |    sum(z) AS sz,
        |    var_pop(CASE WHEN a THEN z END) AS vza,
        |    var_pop(CASE WHEN NOT a THEN z END) AS vzb
        |  FROM z GROUP BY 1)
        |SELECT event_type,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  roundStable(za, 6) AS mean_absdev_a,
        |  roundStable(zb, 6) AS mean_absdev_b,
        |  roundStable(CASE WHEN na >= 2 AND nb >= 2
        |      AND na * vza + nb * vzb > 0 THEN
        |    (na + nb - 2)
        |      * (na * (za - sz / (na + nb)) * (za - sz / (na + nb))
        |        + nb * (zb - sz / (na + nb)) * (zb - sz / (na + nb)))
        |      / (na * vza + nb * vzb) END, 6) AS f_stat
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q238_rate_mix", (s, dir) =>
      // did average order value move because segment RATES changed, or
      // because traffic SHIFTED between segments? exact two-term split
      etl.Aggregates.rateMix(Tables.orders(s, dir),
          Seq("o_orderpriority"), "o_totalprice",
          isRef = year(col("o_orderdate")) < 1998, digits = 2)
        .orderBy(col("o_orderpriority")),
      // same conditional rollup; a one-sided segment coalesces to the
      // present side's rate so its whole move lands in mix
      """WITH b AS (SELECT o_orderpriority,
        |    sum(CASE WHEN year(o_orderdate) < 1998
        |      THEN o_totalprice END) AS sr,
        |    count(CASE WHEN year(o_orderdate) < 1998 THEN 1 END) AS nr,
        |    sum(CASE WHEN NOT (year(o_orderdate) < 1998)
        |      THEN o_totalprice END) AS sc,
        |    count(CASE WHEN NOT (year(o_orderdate) < 1998) THEN 1 END)
        |      AS nc
        |  FROM orders GROUP BY 1),
        |w AS (SELECT *, sum(nr) OVER () AS tnr, sum(nc) OVER () AS tnc
        |  FROM b),
        |x AS (SELECT o_orderpriority,
        |    CAST(nr AS DOUBLE) / tnr AS shr,
        |    CAST(nc AS DOUBLE) / tnc AS shc,
        |    coalesce(sr / nr, sc / nc) AS rr,
        |    coalesce(sc / nc, sr / nr) AS rc
        |  FROM w)
        |SELECT o_orderpriority,
        |  roundStable(shr, 2) AS share_ref, roundStable(shc, 2) AS share_cur,
        |  roundStable(rr, 2) AS rate_ref, roundStable(rc, 2) AS rate_cur,
        |  roundStable(shc * (rc - rr), 2) AS rate_effect,
        |  roundStable((shc - shr) * rr, 2) AS mix_effect
        |FROM x ORDER BY o_orderpriority""".stripMargin),

    Query("q244_audience_overlap", (s, dir) =>
      // do these segments reach the same people? pairwise user-set
      // intersection/Jaccard/lift over distinct memberships
      etl.Aggregates.audienceOverlap(Tables.events(s, dir),
          entityCol = col("user_id"), catCol = col("event_type"))
        .orderBy(col("cat_a"), col("cat_b")),
      // distinct memberships first, co-membership pairs by entity,
      // lift against total distinct entities
      """WITH m AS (SELECT DISTINCT user_id AS e, event_type AS c
        |  FROM events),
        |sz AS (SELECT c, count(*) AS sz FROM m GROUP BY 1),
        |t AS (SELECT count(DISTINCT e) AS N FROM m),
        |pr AS (SELECT x.c AS cat_a, y.c AS cat_b, count(*) AS n_both
        |  FROM m x JOIN m y ON y.e = x.e AND x.c < y.c GROUP BY 1, 2)
        |SELECT cat_a, cat_b,
        |  CAST(a.sz AS BIGINT) AS n_a, CAST(b.sz AS BIGINT) AS n_b,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  CAST(a.sz + b.sz - n_both AS BIGINT) AS n_union,
        |  roundStable(CAST(n_both AS DOUBLE)
        |    / (a.sz + b.sz - n_both), 6) AS jaccard,
        |  roundStable(CAST(n_both AS DOUBLE) * t.N / (a.sz * b.sz), 6)
        |    AS lift
        |FROM pr JOIN sz a ON a.c = pr.cat_a
        |  JOIN sz b ON b.c = pr.cat_b, t
        |ORDER BY cat_a, cat_b""".stripMargin),

    Query("q245_prop_test", (s, dir) =>
      // the conversion-rate A/B readout: pooled-null z plus the
      // unpooled CI on the rate difference, per cohort
      etl.Aggregates.propTest(Tables.events(s, dir), Seq("event_type"),
          isA = col("user_id") % 2 === 0, isSuccess = col("value") > 250)
        .orderBy(col("event_type")),
      // same conditional counts, pooled-null z, unpooled CI
      """WITH g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS n1,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS n2,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND value > 250
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS s1,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND value > 250
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |x AS (SELECT event_type, n1, n2, s1, s2,
        |    s1 / n1 AS p1, s2 / n2 AS p2,
        |    (s1 + s2) / (n1 + n2) AS pp FROM g)
        |SELECT event_type,
        |  CAST(n1 AS BIGINT) AS n_a, CAST(s1 AS BIGINT) AS succ_a,
        |  CAST(n2 AS BIGINT) AS n_b, CAST(s2 AS BIGINT) AS succ_b,
        |  roundStable(CASE WHEN n1 > 0 THEN p1 END, 6) AS p_a,
        |  roundStable(CASE WHEN n2 > 0 THEN p2 END, 6) AS p_b,
        |  roundStable(CASE WHEN n1 > 0 AND n2 > 0 AND pp > 0 AND pp < 1
        |    THEN (p1 - p2) / sqrt(pp * (1.0 - pp)
        |      * (1.0 / n1 + 1.0 / n2)) END, 6) AS z,
        |  roundStable(CASE WHEN n1 > 0 AND n2 > 0 AND pp > 0 AND pp < 1
        |    THEN (p1 - p2) - 1.96 * sqrt(p1 * (1.0 - p1) / n1
        |      + p2 * (1.0 - p2) / n2) END, 6) AS diff_ci_lo,
        |  roundStable(CASE WHEN n1 > 0 AND n2 > 0 AND pp > 0 AND pp < 1
        |    THEN (p1 - p2) + 1.96 * sqrt(p1 * (1.0 - p1) / n1
        |      + p2 * (1.0 - p2) / n2) END, 6) AS diff_ci_hi
        |FROM x ORDER BY event_type""".stripMargin),

    Query("q246_weighted_quantile", (s, dir) =>
      // the p90 price PER UNIT SOLD: lower-quantile convention (an
      // actual data value — no interpolation to disagree on)
      etl.Aggregates.weightedQuantile(Tables.lineitem(s, dir),
          Seq("l_returnflag"), "l_extendedprice", "l_quantity", p = 0.9)
        .orderBy(col("l_returnflag")),
      // same cumulative-weight threshold, same exclusions
      """WITH b AS (SELECT l_returnflag AS k, l_extendedprice AS v,
        |    l_quantity AS w FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity > 0),
        |c AS (SELECT k, v,
        |    sum(w) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY k) AS tw
        |  FROM b)
        |SELECT k AS l_returnflag, roundStable(min(v), 6) AS w_quantile,
        |  roundStable(max(tw), 6) AS total_weight
        |FROM c WHERE cw >= tw * 0.9 GROUP BY k
        |ORDER BY l_returnflag""".stripMargin),

    Query("q247_km_summary", (s, dir) => {
      // the two numbers a survival curve is quoted by: median survival
      // (NULL = "not reached", an answer) and the restricted mean —
      // q172's staging, summarized
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"), max(col("ts")).as("__last"),
          min(when(col("event_type") === "error", col("ts"))).as("__err"))
      val subj = perUser
        .select((col("user_id") % 3).as("cohort"),
          datediff(to_date(coalesce(col("__err"), col("__last"))),
            to_date(col("__first"))).cast("long").as("dur"),
          col("__err").isNotNull.as("obs"))
      etl.Aggregates.kmSummary(subj, Seq("cohort"), "dur", col("obs"))
        .orderBy(col("cohort"))
    },
      // the q172 curve verbatim, then one lead window integrates the
      // staircase from the same 6dp-rounded survival values
      """WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |        min(CASE WHEN event_type = 'error' THEN ts END) AS err
        |      FROM events GROUP BY 1),
        |s AS (SELECT user_id % 3 AS cohort,
        |        date_diff('day', CAST(f AS DATE),
        |          CAST(coalesce(err, l) AS DATE)) AS t,
        |        (err IS NOT NULL) AS obs
        |      FROM u),
        |g AS (SELECT cohort, t,
        |        sum(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
        |        sum(CASE WHEN obs THEN 0 ELSE 1 END) AS c
        |      FROM s GROUP BY 1, 2),
        |w AS (SELECT cohort, t, d, c,
        |        sum(d + c) OVER (PARTITION BY cohort ORDER BY t
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
        |      FROM g),
        |f AS (SELECT cohort, t, d, c, n,
        |        1.0 - CAST(d AS DOUBLE) / n AS fac FROM w),
        |k AS (SELECT cohort, t, n,
        |        roundStable(CASE WHEN min(fac) OVER win <= 0 THEN 0.0
        |          ELSE exp(sum(CASE WHEN fac > 0 THEN ln(fac)
        |            ELSE 0.0 END) OVER win) END, 6) AS surv
        |      FROM f
        |      WINDOW win AS (PARTITION BY cohort ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |l AS (SELECT cohort, t, surv, n,
        |        lead(t) OVER (PARTITION BY cohort ORDER BY t) AS nxt,
        |        min(t) OVER (PARTITION BY cohort) AS t0
        |      FROM k)
        |SELECT cohort,
        |  CAST(min(CASE WHEN surv <= 0.5 THEN t END) AS BIGINT)
        |    AS median_survival_t,
        |  roundStable(CAST(max(t0) AS DOUBLE)
        |    + sum(surv * CAST(coalesce(nxt, t) - t AS DOUBLE)), 6)
        |    AS rmst,
        |  CAST(max(t) AS BIGINT) AS horizon_t,
        |  roundStable(min(surv), 6) AS final_survival,
        |  CAST(max(n) AS BIGINT) AS n_subjects
        |FROM l GROUP BY cohort ORDER BY cohort""".stripMargin),

    Query("q248_mode", (s, dir) =>
      // busiest weekday per type, deterministic under ties (count desc,
      // value asc) — "the mode" must not depend on partition order
      etl.Aggregates.modeValue(
          Tables.events(s, dir)
            .withColumn("dow", weekday(col("ts")).cast("long")),
          Seq("event_type"), "dow")
        .orderBy(col("event_type")),
      // Monday=0 weekday pin, (count desc, value asc) tiebreak
      """WITH c AS (SELECT event_type, isodow(ts) - 1 AS mode,
        |    count(*) AS mc FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, mode, mc,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY mc DESC, mode) AS rn,
        |    sum(mc) OVER (PARTITION BY event_type) AS tot,
        |    count(*) OVER (PARTITION BY event_type) AS nv
        |  FROM c)
        |SELECT event_type, CAST(mode AS BIGINT) AS mode,
        |  CAST(mc AS BIGINT) AS mode_count,
        |  CAST(nv AS BIGINT) AS n_distinct,
        |  roundStable(CAST(mc AS DOUBLE) / tot, 6) AS mode_share
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin),

    Query("q249_anova", (s, dir) =>
      // is the metric day-of-week sensitive AT ALL — the k-group mean
      // test behind q14/q15's eyeballed profiles, with the η² effect
      // size that keeps a huge-N significant-but-tiny F honest
      etl.Aggregates.anovaF(Tables.events(s, dir), Seq("event_type"),
          factorCol = weekday(col("ts")).cast("long"), yCol = col("value"))
        .orderBy(col("event_type")),
      // same per-(type, dow) moments, same SSB/SSW decomposition
      """WITH c AS (SELECT event_type, isodow(ts) - 1 AS lvl,
        |    CAST(count(value) AS DOUBLE) AS n, sum(value) AS s,
        |    sum(value * value) AS ss
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT event_type, sum(n) AS n, CAST(count(*) AS DOUBLE)
        |      AS k, sum(s) AS s, sum(ss) AS ss, sum(s * s / n) AS sb
        |  FROM c GROUP BY 1)
        |SELECT event_type, CAST(k AS BIGINT) AS k_groups,
        |  CAST(n AS BIGINT) AS n, CAST(k - 1 AS BIGINT) AS df_between,
        |  CAST(n - k AS BIGINT) AS df_within,
        |  roundStable(CASE WHEN k > 1 AND n > k AND (ss - sb) > 0
        |    THEN ((sb - s * s / n) / (k - 1))
        |      / ((ss - sb) / (n - k)) END, 6) AS f_stat,
        |  roundStable(CASE WHEN (ss - s * s / n) > 0
        |    THEN (sb - s * s / n) / (ss - s * s / n) END, 6) AS eta_sq
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q250_mcnemar", (s, dir) =>
      // did the high-value hit rate change between the month's halves
      // for the SAME users — only discordant pairs carry information;
      // pooled-rows z (q245) would wrongly count the concordant ones
      etl.Aggregates.mcnemar(Tables.events(s, dir), Seq("event_type"),
          subjectCol = col("user_id"),
          inFirst = col("ts") < lit("2024-01-16").cast("timestamp"),
          isHit = col("value") > 250)
        .orderBy(col("event_type")),
      // same per-(type, user) phase flags, same discordant-cell χ²
      """WITH p AS (SELECT event_type, user_id,
        |    max(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
        |      END) AS pf,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0
        |      END) AS ps,
        |    max(CASE WHEN ts < TIMESTAMP '2024-01-16' AND value > 250
        |      THEN 1 ELSE 0 END) AS a,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND value > 250
        |      THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS ns,
        |    sum(CASE WHEN pf = 1 AND ps = 1 THEN 1 ELSE 0 END) AS np,
        |    sum(CASE WHEN pf = 1 AND ps = 1 AND a = 1 AND b = 1
        |      THEN 1 ELSE 0 END) AS bh,
        |    sum(CASE WHEN pf = 1 AND ps = 1 AND a = 0 AND b = 0
        |      THEN 1 ELSE 0 END) AS nh,
        |    CAST(sum(CASE WHEN pf = 1 AND ps = 1 AND a = 1 AND b = 0
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS bb,
        |    CAST(sum(CASE WHEN pf = 1 AND ps = 1 AND a = 0 AND b = 1
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS cc
        |  FROM p GROUP BY 1)
        |SELECT event_type, CAST(ns AS BIGINT) AS n_subjects,
        |  CAST(np AS BIGINT) AS n_pairs, CAST(bh AS BIGINT) AS both_hit,
        |  CAST(nh AS BIGINT) AS neither_hit,
        |  CAST(bb AS BIGINT) AS first_only,
        |  CAST(cc AS BIGINT) AS second_only,
        |  roundStable(CASE WHEN bb + cc > 0
        |    THEN (bb - cc) * (bb - cc) / (bb + cc) END, 6) AS chi2,
        |  roundStable(CASE WHEN bb + cc > 0
        |    THEN pow(abs(bb - cc) - 1.0, 2) / (bb + cc) END, 6)
        |    AS chi2_cc
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q251_nelson_aalen", (s, dir) => {
      // the hazard-scale twin of q172's KM curve: cumulative hazard,
      // its Poisson variance, and exp(−H) — same per-user staging
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"), max(col("ts")).as("__last"),
          min(when(col("event_type") === "error", col("ts"))).as("__err"))
      val subj = perUser
        .select((col("user_id") % 3).as("cohort"),
          datediff(to_date(coalesce(col("__err"), col("__last"))),
            to_date(col("__first"))).cast("long").as("dur"),
          col("__err").isNotNull.as("obs"))
      etl.Aggregates.nelsonAalen(subj, Seq("cohort"), "dur", col("obs"))
        .orderBy(col("cohort"), col("t"))
    },
      // q247's per-user staging verbatim; ordered cumulative sums over
      // the same keyed sort are bit-deterministic on both engines
      """WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |        min(CASE WHEN event_type = 'error' THEN ts END) AS err
        |      FROM events GROUP BY 1),
        |s AS (SELECT user_id % 3 AS cohort,
        |        date_diff('day', CAST(f AS DATE),
        |          CAST(coalesce(err, l) AS DATE)) AS t,
        |        (err IS NOT NULL) AS obs
        |      FROM u),
        |g AS (SELECT cohort, t,
        |        sum(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
        |        sum(CASE WHEN obs THEN 0 ELSE 1 END) AS c
        |      FROM s GROUP BY 1, 2),
        |w AS (SELECT cohort, t, d, c,
        |        sum(d + c) OVER (PARTITION BY cohort ORDER BY t
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
        |      FROM g),
        |h AS (SELECT cohort, t, d, c, n,
        |        roundStable(sum(CAST(d AS DOUBLE) / n) OVER win, 6)
        |          AS cum_hazard,
        |        roundStable(sum(CAST(d AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * n)) OVER win, 6) AS hazard_var
        |      FROM w
        |      WINDOW win AS (PARTITION BY cohort ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT cohort, CAST(t AS BIGINT) AS t,
        |  CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
        |  CAST(c AS BIGINT) AS n_censored, cum_hazard, hazard_var,
        |  roundStable(exp(-cum_hazard), 6) AS fh_survival
        |FROM h ORDER BY cohort, t""".stripMargin),

    Query("q298_capture_recapture", (s, dir) =>
      // how many users exist in total per event type, estimated from
      // the first-half/second-half overlap (Chapman): the unobserved
      // audience remainder q244/q280 cannot see
      etl.Aggregates.captureRecapture(Tables.events(s, dir),
          Seq("event_type"), col("user_id"),
          inA = dayofmonth(col("ts")) <= 15,
          inB = dayofmonth(col("ts")) > 15)
        .orderBy(col("event_type")),
      // same per-(type, user) membership flags, same Chapman estimate
      // and Seber variance
      """WITH i AS (SELECT event_type, user_id,
        |    max(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS a,
        |    max(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(sum(a) AS DOUBLE) AS n1,
        |    CAST(sum(b) AS DOUBLE) AS n2, CAST(sum(a * b) AS DOUBLE) AS m
        |  FROM i WHERE a = 1 OR b = 1 GROUP BY 1)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n_a,
        |  CAST(n2 AS BIGINT) AS n_b, CAST(m AS BIGINT) AS n_both,
        |  roundStable((n1 + 1) * (n2 + 1) / (m + 1) - 1, 6) AS n_hat,
        |  roundStable(sqrt((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
        |    / ((m + 1) * (m + 1) * (m + 2))), 6) AS se,
        |  roundStable((n1 + n2 - m)
        |    / ((n1 + 1) * (n2 + 1) / (m + 1) - 1), 6) AS observed_frac
        |FROM s ORDER BY event_type""".stripMargin),

    Query("q300_durbin_watson", (s, dir) =>
      // are the q118 trend residuals serially correlated (DW ≈ 2 =
      // the OLS error bars are honest; DW → 0 = the residuals trend
      // too and the slope CI is overconfident)
      etl.Aggregates.durbinWatson(Tables.events(s, dir),
          Seq("event_type"), col("ts"), "value")
        .orderBy(col("event_type")),
      // same hourly series, same moment fit, same t≥2 lag-sum (the
      // first row's NULL lag drops out of both engines' sums)
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh,
        |    avg(value) AS y FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, epoch_us(hh) / 3.6e9 AS x, y FROM h),
        |f AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg(x) AS mx, avg(y) AS my, covar_pop(y, x) AS cxy,
        |    var_pop(x) AS vx FROM p GROUP BY 1),
        |r AS (SELECT p.event_type,
        |    p.y - (f.my - f.cxy / f.vx * f.mx) - f.cxy / f.vx * p.x AS e,
        |    p.x FROM p JOIN f USING (event_type) WHERE f.vx > 0),
        |d AS (SELECT event_type, e, lag(e) OVER
        |    (PARTITION BY event_type ORDER BY x) AS ep FROM r)
        |SELECT event_type, count(*) AS n_hours,
        |  roundStable(CASE WHEN sum(e * e) > 0 THEN
        |    sum((e - ep) * (e - ep)) / sum(e * e) END, 6) AS dw,
        |  roundStable(CASE WHEN sum(e * e) > 0 THEN
        |    1.0 - sum((e - ep) * (e - ep)) / sum(e * e) / 2 END, 6)
        |    AS rho_hat
        |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin),

    Query("q301_cooks", (s, dir) =>
      // which hours bend the trend line: top-3 Cook's distance per
      // type with leverage and studentized residual
      etl.Aggregates.cooksInfluence(Tables.events(s, dir),
          Seq("event_type"), col("ts"), "value", topN = 3)
        .orderBy(col("event_type"), col("rk")),
      // same residuals; leverage 1/n + (x−mx)²/(n·vx), s² on n−2 df,
      // rank on 6dp-rounded D desc with the hour as tiebreak
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh,
        |    avg(value) AS y FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, hh, epoch_us(hh) / 3.6e9 AS x, y FROM h),
        |f AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg(x) AS mx, avg(y) AS my, covar_pop(y, x) AS cxy,
        |    var_pop(x) AS vx FROM p GROUP BY 1),
        |r AS (SELECT p.event_type, p.hh, p.y, p.x, f.n, f.mx, f.vx,
        |    (f.my - f.cxy / f.vx * f.mx) + f.cxy / f.vx * p.x AS fit,
        |    p.y - (f.my - f.cxy / f.vx * f.mx) - f.cxy / f.vx * p.x AS e
        |  FROM p JOIN f USING (event_type) WHERE f.vx > 0),
        |s AS (SELECT event_type, sum(e * e) AS sse FROM r GROUP BY 1),
        |c AS (SELECT r.*,
        |    1.0 / n + (x - mx) * (x - mx) / (n * vx) AS hl,
        |    CASE WHEN n > 2 THEN sse / (n - 2) END AS s2
        |  FROM r JOIN s USING (event_type)),
        |t AS (SELECT *, CASE WHEN s2 > 0 AND hl < 1 THEN
        |    e / sqrt(s2 * (1.0 - hl)) END AS tt FROM c),
        |dd AS (SELECT *, roundStable(tt * tt * hl / (2.0 * (1.0 - hl)),
        |    6) AS d FROM t),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY d DESC NULLS LAST, x) AS rk FROM dd)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, hh AS t,
        |  roundStable(y, 6) AS y, roundStable(fit, 6) AS fitted,
        |  roundStable(hl, 6) AS leverage, roundStable(tt, 6) AS rstudent,
        |  d AS cooks_d
        |FROM rk WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin),

    Query("q302_breusch_pagan", (s, dir) =>
      // does residual variance drift with time (Koenker LM = n·R² of
      // e² on x): fan-shaped residuals mean one s² understates late-
      // series error
      etl.Aggregates.breuschPagan(Tables.events(s, dir),
          Seq("event_type"), col("ts"), "value")
        .orderBy(col("event_type")),
      // same residuals; Koenker LM = n·corr(e²,x)², signed z
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh,
        |    avg(value) AS y FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, epoch_us(hh) / 3.6e9 AS x, y FROM h),
        |f AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg(x) AS mx, avg(y) AS my, covar_pop(y, x) AS cxy,
        |    var_pop(x) AS vx FROM p GROUP BY 1),
        |r AS (SELECT p.event_type, p.x, f.vx,
        |    p.y - (f.my - f.cxy / f.vx * f.mx) - f.cxy / f.vx * p.x AS e
        |  FROM p JOIN f USING (event_type) WHERE f.vx > 0),
        |g AS (SELECT event_type, count(*) AS n, covar_samp(e*e, x) AS cs,
        |    var_samp(e*e) AS ve, var_samp(x) AS vxs,
        |    covar_pop(e*e, x) AS cex, any_value(vx) AS vxx
        |  FROM r GROUP BY 1),
        |q AS (SELECT *, CASE WHEN ve > 0 AND vxs > 0 THEN
        |    cs / sqrt(ve * vxs) END AS rr FROM g)
        |SELECT event_type, n AS n_hours,
        |  roundStable(CASE WHEN vxx > 0 THEN cex / vxx END, 6)
        |    AS aux_slope,
        |  roundStable(rr * rr, 6) AS r2_aux,
        |  roundStable(n * rr * rr, 6) AS lm,
        |  roundStable(sign(cex) * sqrt(n * rr * rr), 6) AS z
        |FROM q ORDER BY event_type""".stripMargin),

    Query("q306_hurst", (s, dir) =>
      // does averaging buy anything: H ≈ 0.5 = i.i.d. (rollups
      // trustworthy), H → 1 = persistent trends (they aren't)
      etl.Aggregates.hurstExponent(Tables.events(s, dir),
          Seq("event_type"), col("ts"), "value")
        .orderBy(col("event_type")),
      // same hourly index, same complete-block means per level, same
      // ln-ln regression (floor() mirrors Spark's positive-cast trunc)
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh,
        |    avg(value) AS y FROM events GROUP BY 1, 2),
        |i AS (SELECT event_type, y, row_number() OVER
        |    (PARTITION BY event_type ORDER BY hh) - 1 AS t FROM h),
        |e AS (SELECT i.*, m FROM i
        |  CROSS JOIN (SELECT unnest([2, 4, 8, 16]) AS m)),
        |b AS (SELECT event_type, m, CAST(floor(t / m) AS BIGINT) AS blk,
        |    avg(y) AS bm, count(*) AS cnt FROM e GROUP BY 1, 2, 3),
        |l AS (SELECT event_type, m, var_pop(bm) AS v, count(*) AS nb
        |  FROM b WHERE cnt = m GROUP BY 1, 2),
        |g AS (SELECT event_type, ln(CAST(m AS DOUBLE)) AS lx, ln(v) AS ly
        |  FROM l WHERE nb >= 2 AND v > 0)
        |SELECT event_type, count(*) AS n_levels,
        |  roundStable(CASE WHEN var_pop(lx) > 0 THEN
        |    covar_pop(ly, lx) / var_pop(lx) END, 6) AS var_slope,
        |  roundStable(CASE WHEN var_pop(lx) > 0 THEN
        |    1.0 + covar_pop(ly, lx) / var_pop(lx) / 2 END, 6) AS hurst
        |FROM g GROUP BY 1 ORDER BY event_type""".stripMargin),

    Query("q307_wavelet_energy", (s, dir) =>
      // where the variance lives on the scale axis: Haar detail
      // energy + share per dyadic level 1..4
      etl.Aggregates.waveletEnergy(Tables.events(s, dir),
          Seq("event_type"), col("ts"), "value")
        .orderBy(col("event_type"), col("level")),
      // same half-block signed sums, energy = Σd²/2^l with the exact
      // integer divisor, shares over ≤ 4 rows per key
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh,
        |    avg(value) AS y FROM events GROUP BY 1, 2),
        |i AS (SELECT event_type, y, row_number() OVER
        |    (PARTITION BY event_type ORDER BY hh) - 1 AS t FROM h),
        |e AS (SELECT i.*, l, m FROM i CROSS JOIN
        |  (SELECT unnest([1, 2, 3, 4]) AS l, unnest([2, 4, 8, 16]) AS m)),
        |b AS (SELECT event_type, l, m, CAST(floor(t / m) AS BIGINT) AS blk,
        |    sum(CASE WHEN (t % m) * 2 < m THEN y ELSE -y END) AS d,
        |    count(*) AS cnt FROM e GROUP BY 1, 2, 3, 4),
        |lv AS (SELECT event_type, l AS level,
        |    sum(d * d) / CAST(any_value(m) AS DOUBLE) AS e,
        |    count(*) AS n_blocks FROM b WHERE cnt = m GROUP BY 1, 2)
        |SELECT event_type, level, n_blocks, roundStable(e, 6) AS energy,
        |  roundStable(CASE WHEN tot > 0 THEN e / tot END, 6)
        |    AS energy_share
        |FROM (SELECT *, sum(e) OVER (PARTITION BY event_type) AS tot
        |  FROM lv) ORDER BY event_type, level""".stripMargin),

    Query("q316_rank_movers", (s, dir) =>
      // leaderboard diff: top-20 users by |rank displacement| between
      // the month halves — the signal a raw value delta isn't
      etl.Aggregates.rankMovers(Tables.events(s, dir), "user_id",
          col("value"), isBefore = dayofmonth(col("ts")) <= 15,
          topN = 20)
        .orderBy(col("mover_rank")),
      // same rounded-sum ranks per half, inner join on stayers, top-20
      // by |rank delta| with entity tiebreak
      """WITH a AS (SELECT user_id AS entity, day(ts) <= 15 AS b,
        |    roundStable(sum(value), 6) AS v FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY b
        |    ORDER BY v DESC, entity) AS rk FROM a),
        |bb AS (SELECT entity, v AS value_before,
        |    CAST(rk AS BIGINT) AS rank_before FROM r WHERE b),
        |aa AS (SELECT entity, v AS value_after,
        |    CAST(rk AS BIGINT) AS rank_after FROM r WHERE NOT b),
        |j AS (SELECT bb.entity, bb.value_before, bb.rank_before,
        |    aa.value_after, aa.rank_after,
        |    bb.rank_before - aa.rank_after AS rank_delta
        |  FROM bb JOIN aa USING (entity))
        |SELECT entity, value_before, rank_before, value_after,
        |  rank_after, rank_delta, CAST(mr AS BIGINT) AS mover_rank
        |FROM (SELECT j.*,
        |    row_number() OVER (ORDER BY abs(rank_delta) DESC, entity)
        |      AS mr FROM j)
        |WHERE mr <= 20 ORDER BY mr""".stripMargin),

    Query("q321_jarque_bera", (s, dir) =>
      // the cheap normality gate before any Gaussian-assuming CI:
      // JB = n/6(S² + K²/4) from one moments pass
      etl.Aggregates.jarqueBera(Tables.events(s, dir),
          Seq("event_type"), col("value"))
        .orderBy(col("event_type")),
      // same four power sums folded to central moments
      """WITH s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg(value) AS m, avg(value * value) AS e2,
        |    avg(value * value * value) AS e3,
        |    avg(value * value * value * value) AS e4
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |c AS (SELECT event_type, n, e2 - m * m AS m2,
        |    e3 - 3.0 * m * e2 + 2.0 * m * m * m AS m3,
        |    e4 - 4.0 * m * e3 + 6.0 * m * m * e2 - 3.0 * m * m * m * m
        |      AS m4 FROM s),
        |t AS (SELECT event_type, n,
        |    CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END AS sk,
        |    CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS ku FROM c)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  roundStable(sk, 6) AS skewness,
        |  roundStable(ku, 6) AS ex_kurtosis,
        |  roundStable(n / 6 * (sk * sk + ku * ku / 4), 6) AS jb
        |FROM t ORDER BY event_type""".stripMargin),

    Query("q323_grubbs", (s, dir) =>
      // is the worst point actually wild: the single most extreme
      // observation's studentized distance per type, with side
      etl.Aggregates.grubbs(Tables.events(s, dir), Seq("event_type"),
          col("value"))
        .orderBy(col("event_type")),
      // same distinct-value reduction, argmax on rounded G with the
      // low value winning exact ties
      """WITH s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |v AS (SELECT event_type, value AS x FROM events
        |  WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT v.event_type, v.x, s.n, s.mu,
        |    roundStable(CASE WHEN s.sd > 0 AND s.n >= 3 THEN
        |      abs(v.x - s.mu) / s.sd END, 6) AS gg
        |  FROM v JOIN s USING (event_type)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gg DESC NULLS LAST, x) AS rk FROM g)
        |SELECT event_type, CAST(n AS BIGINT) AS n, gg AS g,
        |  roundStable(x, 6) AS extreme_value,
        |  CASE WHEN gg IS NULL THEN NULL WHEN x >= mu THEN 'high'
        |    ELSE 'low' END AS side
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin),

    Query("q333_brown_les", (s, dir) =>
      // the smallest model that can forecast "up and to the right":
      // Brown's double smoothing, latest level/trend/forecast per type
      etl.Aggregates.brownForecast(Tables.events(s, dir), "event_type",
          "ts", "event_id", "value", alpha = 0.3, span = 24,
          horizon = 6)
        .orderBy(col("event_type")),
      // q91's smoothing replayed twice (second pass consumes the
      // ROUNDED first), Brown level/trend closed form on the last row
      """WITH o AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rn,
        |    list(value) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS ll
        |  FROM events),
        |s1 AS (SELECT event_type, rn,
        |    roundStable(list_sum([ll[i+1] * pow(0.7, len(ll)-1-i)
        |        FOR i IN range(0, len(ll))])
        |      / list_sum([pow(0.7, len(ll)-1-i)
        |        FOR i IN range(0, len(ll))]), 6) AS s1
        |  FROM o),
        |s2p AS (SELECT event_type, rn, s1,
        |    list(s1) OVER (PARTITION BY event_type ORDER BY rn
        |      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS l2
        |  FROM s1),
        |s2 AS (SELECT event_type, rn, s1,
        |    roundStable(list_sum([l2[i+1] * pow(0.7, len(l2)-1-i)
        |        FOR i IN range(0, len(l2))])
        |      / list_sum([pow(0.7, len(l2)-1-i)
        |        FOR i IN range(0, len(l2))]), 6) AS s2
        |  FROM s2p),
        |lst AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY rn DESC) AS rk FROM s2)
        |SELECT event_type, CAST(rn AS BIGINT) AS n, s1, s2,
        |  roundStable(2.0 * s1 - s2, 6) AS level,
        |  roundStable(0.3 / 0.7 * (s1 - s2), 6) AS trend,
        |  roundStable((2.0 * s1 - s2) + 0.3 / 0.7 * (s1 - s2), 6)
        |    AS forecast_1,
        |  roundStable((2.0 * s1 - s2) + 6.0 * (0.3 / 0.7 * (s1 - s2)),
        |    6) AS forecast_6
        |FROM lst WHERE rk = 1 ORDER BY event_type""".stripMargin),

    Query("q345_inequality", (s, dir) =>
      // the concentration indices Gini blurs: decomposable Theil,
      // welfare-reading Atkinson, tail-sensitive Palma
      etl.Aggregates.inequality(Tables.events(s, dir),
          Seq("event_type"), col("value"))
        .orderBy(col("event_type")),
      // same positive-only base, Theil via the log identity, same
      // floor cuts (equal-value boundary ties sum identically)
      """WITH b AS (SELECT event_type, value AS x FROM events
        |  WHERE value IS NOT NULL AND value > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY x) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM b),
        |k AS (SELECT *, floor(n * 0.4) AS k40, floor(n * 0.1) AS k10
        |  FROM r),
        |s AS (SELECT event_type, count(*) AS n, avg(x) AS mu,
        |    avg(ln(x)) AS mlx, sum(x * ln(x)) AS sxl,
        |    sum(CASE WHEN rn <= k40 THEN x ELSE 0.0 END) AS b40,
        |    sum(CASE WHEN rn > n - k10 THEN x ELSE 0.0 END) AS t10
        |  FROM k GROUP BY 1)
        |SELECT event_type, n, roundStable(mu, 6) AS mean,
        |  roundStable(sxl / (n * mu) - ln(mu), 6) AS theil,
        |  roundStable(1.0 - exp(mlx) / mu, 6) AS atkinson,
        |  roundStable(CASE WHEN b40 > 0 THEN t10 / b40 END, 6) AS palma
        |FROM s ORDER BY event_type""".stripMargin),

    Query("q359_hill_tail", (s, dir) =>
      // how heavy is each stream's upper tail (Hill/Pareto index from
      // the top-51 order stats) — the POT companion to q263's
      // block-maxima Gumbel; α∈2-4 = p99s are sample-size artifacts
      etl.Aggregates.hillTail(Tables.events(s, dir), Seq("event_type"),
          col("value"), k = 50)
        .orderBy(col("event_type")),
      // identical rank cut at k+1 = 51; ties rank arbitrarily but
      // contribute identical logs, so both engines agree
      """WITH pos AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND value > 0),
        |rk AS (SELECT event_type, v, row_number() OVER (
        |    PARTITION BY event_type ORDER BY v DESC) AS rk FROM pos),
        |f AS (SELECT event_type, count(*) AS m,
        |    sum(CASE WHEN rk <= 50 THEN ln(v) END) AS sl,
        |    min(CASE WHEN rk = 51 THEN v END) AS thr
        |  FROM rk WHERE rk <= 51 GROUP BY 1)
        |SELECT event_type, CAST(50 AS BIGINT) AS k,
        |  roundStable(CASE WHEN m = 51 THEN thr END, 6) AS threshold,
        |  roundStable(CASE WHEN m = 51 THEN sl / 50.0 - ln(thr) END, 6)
        |    AS gamma,
        |  roundStable(CASE WHEN m = 51 AND sl / 50.0 - ln(thr) > 0
        |    THEN 1.0 / (sl / 50.0 - ln(thr)) END, 6) AS alpha
        |FROM f ORDER BY event_type""".stripMargin),

    Query("q285_eb_shrinkage", (s, dir) =>
      // rank users by high-value rate without letting 1/1 beat
      // 498/500: beta-binomial shrinkage with a moments prior
      etl.Aggregates.ebShrinkRates(Tables.events(s, dir),
          itemCols = Seq("user_id"), isSuccess = col("value") > 250)
        .orderBy(col("user_id")),
      // same per-item counts, same moments prior and shrinkage fold
      """WITH i AS (SELECT user_id, count(*) AS n,
        |    sum(CASE WHEN value > 250 THEN 1 ELSE 0 END) AS x
        |  FROM events GROUP BY 1),
        |r AS (SELECT user_id, n, x,
        |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS rr FROM i),
        |s AS (SELECT *, avg(rr) OVER () AS m,
        |    var_samp(rr) OVER () AS v FROM r),
        |t AS (SELECT *, CASE WHEN v > 0
        |      AND m * (1.0 - m) / v - 1.0 > 0
        |    THEN m * (1.0 - m) / v - 1.0 END AS ab FROM s)
        |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
        |  roundStable(rr, 6) AS raw_rate,
        |  roundStable(m * ab, 6) AS alpha,
        |  roundStable((1.0 - m) * ab, 6) AS beta,
        |  roundStable((m * ab + CAST(x AS DOUBLE))
        |    / (ab + CAST(n AS DOUBLE)), 6) AS shrunk_rate
        |FROM t ORDER BY user_id""".stripMargin),

    Query("q286_simpson", (s, dir) =>
      // is the pooled A-vs-B sign a segment-mix artifact — pooled vs
      // direct-standardized diff across weekday strata
      etl.Aggregates.simpsonCheck(Tables.events(s, dir),
          Seq("event_type"), segCol = weekday(col("ts")).cast("long"),
          isA = col("user_id") % 2 === 0, yCol = col("value"))
        .orderBy(col("event_type")),
      // same segment cells, pooled vs size-weighted stratified diff
      """WITH c AS (SELECT event_type, isodow(ts) - 1 AS seg,
        |    count(CASE WHEN user_id % 2 = 0 THEN value END) AS na,
        |    count(CASE WHEN user_id % 2 <> 0 THEN value END) AS nb,
        |    avg(CASE WHEN user_id % 2 = 0 THEN value END) AS ma,
        |    avg(CASE WHEN user_id % 2 <> 0 THEN value END) AS mb,
        |    sum(CASE WHEN user_id % 2 = 0 THEN value END) AS sa,
        |    sum(CASE WHEN user_id % 2 <> 0 THEN value END) AS sb
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS nseg,
        |    sum(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END)
        |      AS nused,
        |    roundStable(sum(sa) / sum(na) - sum(sb) / sum(nb), 6)
        |      AS pooled,
        |    roundStable(sum(CASE WHEN na > 0 AND nb > 0
        |        THEN CAST(na + nb AS DOUBLE) * (ma - mb) END)
        |      / sum(CASE WHEN na > 0 AND nb > 0
        |        THEN CAST(na + nb AS DOUBLE) END), 6) AS stdd
        |  FROM c GROUP BY 1)
        |SELECT event_type, CAST(nseg AS BIGINT) AS n_segments,
        |  CAST(nused AS BIGINT) AS n_segments_used,
        |  pooled AS pooled_diff, stdd AS standardized_diff,
        |  CAST(CASE WHEN pooled IS NOT NULL AND stdd IS NOT NULL
        |    THEN CASE WHEN sign(pooled) <> sign(stdd)
        |      AND sign(pooled) <> 0 AND sign(stdd) <> 0
        |      THEN 1 ELSE 0 END END AS BIGINT) AS reversal
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q283_dominant_period", (s, dir) => {
      // WHAT period does this series actually have: argmax of the ACF
      // over lags 2..48 — the daily cycle should read 24, and a
      // runner-up far below it says the cycle is clean
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hb"))
        .agg(avg(col("value")).as("hv"))
        .filter(col("hv").isNotNull) // all-null hours must not occupy lag positions
      val lags = 2 to 48
      val wide = etl.Aggregates.acf(hourly, Seq("event_type"),
        col("hb"), col("hb"), col("hv"), lags = lags)
      val stackExpr = s"stack(${lags.size}, " +
        lags.map(l => s"$l, acf_$l").mkString(", ") + ") as (lag, acf)"
      val wR = Window.partitionBy(col("event_type"))
        .orderBy(col("acf").desc, col("lag"))
      wide.selectExpr("event_type", stackExpr)
        .filter(col("acf").isNotNull)
        .withColumn("rk", row_number().over(wR))
        .filter(col("rk") <= 2)
        .groupBy(col("event_type"))
        .agg(
          max(when(col("rk") === 1, col("lag"))).cast("long")
            .as("best_lag"),
          max(when(col("rk") === 1, col("acf"))).as("best_acf"),
          max(when(col("rk") === 2, col("lag"))).cast("long")
            .as("runner_lag"),
          max(when(col("rk") === 2, col("acf"))).as("runner_acf"))
        .orderBy(col("event_type"))
    }, {
      // the same 47 leads / corrs, unpivoted and ranked on rounded acf
      val lags = 2 to 48
      val leadCols = lags.map(l =>
        s"lead(v, $l) OVER (PARTITION BY event_type ORDER BY hb, hb) AS ld$l")
        .mkString(",\n    ")
      val corrCols = lags.map(l =>
        s"roundStable(corr(v, ld$l), 6) AS a$l").mkString(",\n    ")
      val unions = lags.map(l =>
        s"SELECT event_type, $l AS lag, a$l AS acf FROM g")
        .mkString("\n  UNION ALL ")
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hb,
         |    avg(value) AS v
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT event_type, v,
         |    $leadCols
         |  FROM h),
         |g AS (SELECT event_type,
         |    $corrCols
         |  FROM w GROUP BY 1),
         |u AS ($unions),
         |r AS (SELECT event_type, lag, acf,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY acf DESC, lag) AS rk
         |  FROM u WHERE acf IS NOT NULL)
         |SELECT event_type,
         |  CAST(max(CASE WHEN rk = 1 THEN lag END) AS BIGINT)
         |    AS best_lag,
         |  max(CASE WHEN rk = 1 THEN acf END) AS best_acf,
         |  CAST(max(CASE WHEN rk = 2 THEN lag END) AS BIGINT)
         |    AS runner_lag,
         |  max(CASE WHEN rk = 2 THEN acf END) AS runner_acf
         |FROM r WHERE rk <= 2 GROUP BY 1
         |ORDER BY event_type""".stripMargin
    }),

    Query("q284_records", (s, dir) => {
      // the nonparametric trend screen: running-max/min breaks vs the
      // distribution-free harmonic expectation
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hb"))
        .agg(avg(col("value")).as("hv"))
      etl.Aggregates.recordCounts(hourly, Seq("event_type"),
          orderCol = col("hb"), tieCol = col("hb"), valueCol = "hv")
        .orderBy(col("event_type"))
    },
      // same running extrema, harmonic expectation over the same ranks
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hb,
        |    avg(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT event_type, hb, v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY hb, hb) AS j,
        |    max(v) OVER (PARTITION BY event_type ORDER BY hb, hb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
        |    min(v) OVER (PARTITION BY event_type ORDER BY hb, hb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
        |  FROM h)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN pmax IS NULL OR v > pmax THEN 1 ELSE 0
        |    END) AS BIGINT) AS records_up,
        |  CAST(sum(CASE WHEN pmin IS NULL OR v < pmin THEN 1 ELSE 0
        |    END) AS BIGINT) AS records_down,
        |  roundStable(sum(1.0 / CAST(j AS DOUBLE)), 6)
        |    AS expected_records,
        |  roundStable(CAST(sum(CASE WHEN pmax IS NULL OR v > pmax
        |    THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sum(1.0 / CAST(j AS DOUBLE)), 6) AS up_ratio,
        |  roundStable(CAST(sum(CASE WHEN pmin IS NULL OR v < pmin
        |    THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sum(1.0 / CAST(j AS DOUBLE)), 6) AS down_ratio
        |FROM a GROUP BY 1 ORDER BY event_type""".stripMargin),

    Query("q281_poststrat", (s, dir) =>
      // re-weight the second half's metric to the first half's
      // event-type mix: the mix-adjusted mean with its SE
      etl.Aggregates.postStratified(Tables.events(s, dir),
          Seq("event_type"), valueCol = col("value"),
          isRef = col("ts") < lit("2024-01-16").cast("timestamp")),
      // same conditional cells, same weighted fold and guards
      """WITH c AS (SELECT event_type,
        |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
        |      END) AS nh_ref,
        |    count(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value
        |      END) AS nh,
        |    avg(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value
        |      END) AS mh,
        |    var_samp(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value
        |      END) AS vh
        |  FROM events GROUP BY 1),
        |s AS (SELECT *, CAST(sum(CASE WHEN nh_ref > 0 THEN nh_ref END)
        |    OVER () AS DOUBLE) AS bigN FROM c)
        |SELECT
        |  CAST(sum(CASE WHEN nh_ref > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_strata,
        |  CAST(sum(CASE WHEN nh_ref > 0 AND nh = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_missing_strata,
        |  CAST(sum(CASE WHEN nh_ref = 0 AND nh > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new_strata,
        |  roundStable(sum(CASE WHEN nh > 0
        |      THEN CAST(nh AS DOUBLE) * mh END)
        |    / sum(CASE WHEN nh > 0 THEN CAST(nh AS DOUBLE) END), 6)
        |    AS raw_mean,
        |  roundStable(CASE WHEN sum(CASE WHEN nh_ref > 0 AND nh = 0
        |      THEN 1 ELSE 0 END) = 0
        |    THEN sum(CASE WHEN nh_ref > 0 AND nh > 0
        |      THEN (CAST(nh_ref AS DOUBLE) / bigN) * mh END) END, 6)
        |    AS ps_mean,
        |  roundStable(CASE WHEN sum(CASE WHEN nh_ref > 0 AND nh = 0
        |      THEN 1 ELSE 0 END) = 0 AND sum(CASE WHEN nh_ref > 0
        |      AND nh > 0 AND nh < 2 THEN 1 ELSE 0 END) = 0
        |    THEN sqrt(sum(CASE WHEN nh_ref > 0 AND nh > 1
        |      THEN (CAST(nh_ref AS DOUBLE) / bigN)
        |        * (CAST(nh_ref AS DOUBLE) / bigN) * vh
        |        / CAST(nh AS DOUBLE) END)) END, 6) AS se
        |FROM s""".stripMargin),

    Query("q276_did", (s, dir) =>
      // before/after × treat/control netting out both the standing
      // difference and the common time trend, per event type
      etl.Aggregates.diffInDiff(Tables.events(s, dir), Seq("event_type"),
          isTreat = col("user_id") % 2 === 0,
          isPost = col("ts") >= lit("2024-01-16").cast("timestamp"),
          yCol = col("value"))
        .orderBy(col("event_type")),
      // same four conditional cells, same independent-cells SE
      """WITH g AS (SELECT event_type,
        |    avg(CASE WHEN user_id % 2 = 0
        |      AND ts >= TIMESTAMP '2024-01-16' THEN value END) AS mtp,
        |    var_samp(CASE WHEN user_id % 2 = 0
        |      AND ts >= TIMESTAMP '2024-01-16' THEN value END) AS vtp,
        |    count(CASE WHEN user_id % 2 = 0
        |      AND ts >= TIMESTAMP '2024-01-16' THEN value END) AS ntp,
        |    avg(CASE WHEN user_id % 2 = 0
        |      AND ts < TIMESTAMP '2024-01-16' THEN value END) AS mtq,
        |    var_samp(CASE WHEN user_id % 2 = 0
        |      AND ts < TIMESTAMP '2024-01-16' THEN value END) AS vtq,
        |    count(CASE WHEN user_id % 2 = 0
        |      AND ts < TIMESTAMP '2024-01-16' THEN value END) AS ntq,
        |    avg(CASE WHEN user_id % 2 <> 0
        |      AND ts >= TIMESTAMP '2024-01-16' THEN value END) AS mcp,
        |    var_samp(CASE WHEN user_id % 2 <> 0
        |      AND ts >= TIMESTAMP '2024-01-16' THEN value END) AS vcp,
        |    count(CASE WHEN user_id % 2 <> 0
        |      AND ts >= TIMESTAMP '2024-01-16' THEN value END) AS ncp,
        |    avg(CASE WHEN user_id % 2 <> 0
        |      AND ts < TIMESTAMP '2024-01-16' THEN value END) AS mcq,
        |    var_samp(CASE WHEN user_id % 2 <> 0
        |      AND ts < TIMESTAMP '2024-01-16' THEN value END) AS vcq,
        |    count(CASE WHEN user_id % 2 <> 0
        |      AND ts < TIMESTAMP '2024-01-16' THEN value END) AS ncq
        |  FROM events GROUP BY 1)
        |SELECT event_type,
        |  CAST(ntp AS BIGINT) AS n_treat_post,
        |  CAST(ntq AS BIGINT) AS n_treat_pre,
        |  CAST(ncp AS BIGINT) AS n_ctrl_post,
        |  CAST(ncq AS BIGINT) AS n_ctrl_pre,
        |  roundStable(mtp, 6) AS m_treat_post,
        |  roundStable(mtq, 6) AS m_treat_pre,
        |  roundStable(mcp, 6) AS m_ctrl_post,
        |  roundStable(mcq, 6) AS m_ctrl_pre,
        |  roundStable(CASE WHEN ntp > 1 AND ntq > 1 AND ncp > 1
        |    AND ncq > 1 THEN (mtp - mtq) - (mcp - mcq) END, 6) AS did,
        |  roundStable(CASE WHEN ntp > 1 AND ntq > 1 AND ncp > 1
        |    AND ncq > 1 THEN sqrt(vtp / ntp + vtq / ntq + vcp / ncp
        |      + vcq / ncq) END, 6) AS se,
        |  roundStable(CASE WHEN ntp > 1 AND ntq > 1 AND ncp > 1
        |    AND ncq > 1 THEN ((mtp - mtq) - (mcp - mcq))
        |      - 1.96 * sqrt(vtp / ntp + vtq / ntq + vcp / ncp
        |        + vcq / ncq) END, 6) AS ci_lo,
        |  roundStable(CASE WHEN ntp > 1 AND ntq > 1 AND ncp > 1
        |    AND ncq > 1 THEN ((mtp - mtq) - (mcp - mcq))
        |      + 1.96 * sqrt(vtp / ntp + vtq / ntq + vcp / ncp
        |        + vcq / ncq) END, 6) AS ci_hi
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q278_vocab_overlap", (s, dir) =>
      // which sources write with the same vocabulary — q244's
      // overlap machinery on (word, source) memberships: the corpus
      // redundancy map between ingestion feeds
      etl.Aggregates.audienceOverlap(
          Tables.documents(s, dir)
            .select(col("source"),
              explode(split(col("text"), " ")).as("word"))
            .filter(col("word") =!= ""),
          entityCol = col("word"), catCol = col("source"))
        .orderBy(col("cat_a"), col("cat_b")),
      // q244's overlap SQL on (word, source) memberships
      """WITH t AS (SELECT source AS c,
        |    unnest(str_split(text, ' ')) AS e FROM documents),
        |m AS (SELECT DISTINCT e, c FROM t WHERE e <> ''),
        |sz AS (SELECT c, count(*) AS sz FROM m GROUP BY 1),
        |tt AS (SELECT count(DISTINCT e) AS N FROM m),
        |pr AS (SELECT x.c AS cat_a, y.c AS cat_b, count(*) AS n_both
        |  FROM m x JOIN m y ON y.e = x.e AND x.c < y.c GROUP BY 1, 2)
        |SELECT cat_a, cat_b,
        |  CAST(a.sz AS BIGINT) AS n_a, CAST(b.sz AS BIGINT) AS n_b,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  CAST(a.sz + b.sz - n_both AS BIGINT) AS n_union,
        |  roundStable(CAST(n_both AS DOUBLE)
        |    / (a.sz + b.sz - n_both), 6) AS jaccard,
        |  roundStable(CAST(n_both AS DOUBLE) * tt.N / (a.sz * b.sz), 6)
        |    AS lift
        |FROM pr JOIN sz a ON a.c = pr.cat_a
        |  JOIN sz b ON b.c = pr.cat_b, tt
        |ORDER BY cat_a, cat_b""".stripMargin),

    Query("q274_retention_halflife", (s, dir) =>
      // "this cohort loses half its actives every H weeks" — the
      // decay-rate summary of q49's triangle, with r² honesty
      etl.Aggregates.retentionHalfLife(Tables.events(s, dir),
          tsCol = col("ts"), entityCol = col("user_id"))
        .orderBy(col("cohort")),
      // q49's staging, then the log-linear fit from moments
      """WITH first AS (SELECT user_id, date_trunc('week', min(ts))
        |    AS cohort FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events),
        |cnt AS (SELECT CAST(cohort AS TIMESTAMP) AS cohort,
        |    CAST(date_diff('day', CAST(cohort AS DATE),
        |      CAST(wk AS DATE)) // 7 AS BIGINT) AS off,
        |    count(DISTINCT user_id) AS active
        |  FROM act JOIN first USING (user_id) GROUP BY 1, 2),
        |b AS (SELECT cohort, off, active,
        |    max(CASE WHEN off = 0 THEN active END)
        |      OVER (PARTITION BY cohort) AS base
        |  FROM cnt),
        |p AS (SELECT cohort,
        |    ln(CAST(active AS DOUBLE) / CAST(base AS DOUBLE)) AS y,
        |    CAST(off AS DOUBLE) AS t
        |  FROM b WHERE off >= 1 AND base > 0 AND active > 0),
        |g AS (SELECT cohort, CAST(count(*) AS DOUBLE) AS n,
        |    sum(t * t) - sum(t) * sum(t) / CAST(count(*) AS DOUBLE)
        |      AS sxx,
        |    sum(y * y) - sum(y) * sum(y) / CAST(count(*) AS DOUBLE)
        |      AS syy,
        |    sum(t * y) - sum(t) * sum(y) / CAST(count(*) AS DOUBLE)
        |      AS sxy
        |  FROM p GROUP BY 1)
        |SELECT cohort, CAST(n AS BIGINT) AS n_weeks,
        |  roundStable(CASE WHEN n > 1 AND sxx > 0 THEN sxy / sxx END,
        |    6) AS slope,
        |  roundStable(CASE WHEN n > 1 AND sxx > 0 AND syy > 0
        |    THEN sxy * sxy / (sxx * syy) END, 6) AS r2,
        |  roundStable(CASE WHEN n > 1 AND sxx > 0 AND sxy / sxx < 0
        |    THEN -0.693147 / (sxy / sxx) END, 6) AS half_life_weeks
        |FROM g ORDER BY cohort""".stripMargin),

    Query("q267_neyman", (s, dir) =>
      // how to spend a 1000-row sampling budget: n_h ∝ N_h·σ_h, the
      // variance-minimizing split; largest-remainder integerization
      etl.Aggregates.neymanAllocation(Tables.events(s, dir),
          Seq("event_type"), "value", totalN = 1000L)
        .orderBy(col("event_type")),
      // same mass/remainder staging; remainders rounded BEFORE ranking
      """WITH c AS (SELECT event_type, count(*) AS n_rows,
        |    coalesce(sqrt(var_samp(value)), 0.0) AS sd
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |s AS (SELECT event_type, n_rows, sd,
        |    CAST(n_rows AS DOUBLE) * sd AS mass FROM c),
        |t AS (SELECT event_type, n_rows, sd, mass,
        |    sum(mass) OVER () AS tot FROM s),
        |r AS (SELECT event_type, n_rows, sd,
        |    CASE WHEN tot > 0 THEN 1000.0 * mass / tot
        |      ELSE 0.0 END AS raw
        |  FROM t),
        |b AS (SELECT event_type, n_rows, sd, raw,
        |    CAST(floor(raw) AS BIGINT) AS base,
        |    roundStable(raw - floor(raw), 6) AS remr FROM r),
        |w AS (SELECT event_type, n_rows, sd, raw, base,
        |    1000 - sum(base) OVER () AS leftv,
        |    row_number() OVER (ORDER BY remr DESC, event_type) AS rk
        |  FROM b),
        |f AS (SELECT event_type, n_rows, sd, raw,
        |    least(n_rows, base + CASE WHEN rk <= leftv THEN 1 ELSE 0
        |      END) AS alloc
        |  FROM w)
        |SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
        |  roundStable(sd, 6) AS sd, roundStable(raw, 6) AS alloc_raw,
        |  CAST(alloc AS BIGINT) AS alloc_n,
        |  roundStable(CAST(alloc AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS sampling_frac
        |FROM f ORDER BY event_type""".stripMargin),

    Query("q268_smd_balance", (s, dir) => {
      // are the two arms comparable BEFORE any claim: standardized
      // mean differences over per-user covariates, one moments pass
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).cast("double").as("n_events"),
          avg(col("value")).as("avg_value"),
          countDistinct(col("event_type")).cast("double").as("n_types"),
          countDistinct(to_date(col("ts"))).cast("double")
            .as("active_days"))
      etl.Aggregates.smdBalance(perUser, isA = col("user_id") % 2 === 0,
          metricCols = Seq("n_events", "avg_value", "n_types",
            "active_days"))
        .orderBy(col("covariate"))
    },
      // same per-user covariates, same conditional moments, unpivoted
      """WITH p AS (SELECT user_id,
        |    CAST(count(*) AS DOUBLE) AS n_events,
        |    avg(value) AS avg_value,
        |    CAST(count(DISTINCT event_type) AS DOUBLE) AS n_types,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
        |      AS active_days
        |  FROM events GROUP BY 1),
        |g AS (SELECT
        |    avg(CASE WHEN user_id % 2 = 0 THEN n_events END) AS ma1,
        |    avg(CASE WHEN user_id % 2 <> 0 THEN n_events END) AS mb1,
        |    var_samp(CASE WHEN user_id % 2 = 0 THEN n_events END) AS va1,
        |    var_samp(CASE WHEN user_id % 2 <> 0 THEN n_events END) AS vb1,
        |    count(CASE WHEN user_id % 2 = 0 THEN n_events END) AS na1,
        |    count(CASE WHEN user_id % 2 <> 0 THEN n_events END) AS nb1,
        |    avg(CASE WHEN user_id % 2 = 0 THEN avg_value END) AS ma2,
        |    avg(CASE WHEN user_id % 2 <> 0 THEN avg_value END) AS mb2,
        |    var_samp(CASE WHEN user_id % 2 = 0 THEN avg_value END) AS va2,
        |    var_samp(CASE WHEN user_id % 2 <> 0 THEN avg_value END) AS vb2,
        |    count(CASE WHEN user_id % 2 = 0 THEN avg_value END) AS na2,
        |    count(CASE WHEN user_id % 2 <> 0 THEN avg_value END) AS nb2,
        |    avg(CASE WHEN user_id % 2 = 0 THEN n_types END) AS ma3,
        |    avg(CASE WHEN user_id % 2 <> 0 THEN n_types END) AS mb3,
        |    var_samp(CASE WHEN user_id % 2 = 0 THEN n_types END) AS va3,
        |    var_samp(CASE WHEN user_id % 2 <> 0 THEN n_types END) AS vb3,
        |    count(CASE WHEN user_id % 2 = 0 THEN n_types END) AS na3,
        |    count(CASE WHEN user_id % 2 <> 0 THEN n_types END) AS nb3,
        |    avg(CASE WHEN user_id % 2 = 0 THEN active_days END) AS ma4,
        |    avg(CASE WHEN user_id % 2 <> 0 THEN active_days END) AS mb4,
        |    var_samp(CASE WHEN user_id % 2 = 0 THEN active_days END)
        |      AS va4,
        |    var_samp(CASE WHEN user_id % 2 <> 0 THEN active_days END)
        |      AS vb4,
        |    count(CASE WHEN user_id % 2 = 0 THEN active_days END) AS na4,
        |    count(CASE WHEN user_id % 2 <> 0 THEN active_days END) AS nb4
        |  FROM p)
        |SELECT covariate, n_a, n_b, mean_a, mean_b, smd, imbalanced
        |FROM (
        |  SELECT 'n_events' AS covariate, na1 AS n_a, nb1 AS n_b,
        |    roundStable(ma1, 6) AS mean_a, roundStable(mb1, 6) AS mean_b,
        |    roundStable(CASE WHEN (va1 + vb1) / 2.0 > 0
        |      THEN (ma1 - mb1) / sqrt((va1 + vb1) / 2.0) END, 6) AS smd,
        |    CAST(CASE WHEN (va1 + vb1) / 2.0 > 0 THEN
        |      CASE WHEN abs(roundStable((ma1 - mb1)
        |        / sqrt((va1 + vb1) / 2.0), 6)) > 0.1
        |      THEN 1 ELSE 0 END END AS BIGINT) AS imbalanced
        |  FROM g
        |  UNION ALL
        |  SELECT 'avg_value', na2, nb2, roundStable(ma2, 6),
        |    roundStable(mb2, 6),
        |    roundStable(CASE WHEN (va2 + vb2) / 2.0 > 0
        |      THEN (ma2 - mb2) / sqrt((va2 + vb2) / 2.0) END, 6),
        |    CAST(CASE WHEN (va2 + vb2) / 2.0 > 0 THEN
        |      CASE WHEN abs(roundStable((ma2 - mb2)
        |        / sqrt((va2 + vb2) / 2.0), 6)) > 0.1
        |      THEN 1 ELSE 0 END END AS BIGINT)
        |  FROM g
        |  UNION ALL
        |  SELECT 'n_types', na3, nb3, roundStable(ma3, 6),
        |    roundStable(mb3, 6),
        |    roundStable(CASE WHEN (va3 + vb3) / 2.0 > 0
        |      THEN (ma3 - mb3) / sqrt((va3 + vb3) / 2.0) END, 6),
        |    CAST(CASE WHEN (va3 + vb3) / 2.0 > 0 THEN
        |      CASE WHEN abs(roundStable((ma3 - mb3)
        |        / sqrt((va3 + vb3) / 2.0), 6)) > 0.1
        |      THEN 1 ELSE 0 END END AS BIGINT)
        |  FROM g
        |  UNION ALL
        |  SELECT 'active_days', na4, nb4, roundStable(ma4, 6),
        |    roundStable(mb4, 6),
        |    roundStable(CASE WHEN (va4 + vb4) / 2.0 > 0
        |      THEN (ma4 - mb4) / sqrt((va4 + vb4) / 2.0) END, 6),
        |    CAST(CASE WHEN (va4 + vb4) / 2.0 > 0 THEN
        |      CASE WHEN abs(roundStable((ma4 - mb4)
        |        / sqrt((va4 + vb4) / 2.0), 6)) > 0.1
        |      THEN 1 ELSE 0 END END AS BIGINT)
        |  FROM g) u
        |ORDER BY covariate""".stripMargin),

    Query("q264_forecast_band", (s, dir) =>
      // the alerting layer on q159's screen: same-hour-yesterday
      // forecast with a distribution-free 95% band, flags on rounded
      etl.Aggregates.forecastBand(Tables.events(s, dir),
          Seq("event_type"), tsCol = col("ts"), valueCol = "value")
        .orderBy(col("event_type"), col("bucket")),
      // exact-hour self-join, per-key exact quantile of |residual|,
      // flags from the identical rounded comparison
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    avg(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |j AS (SELECT c.event_type, c.bucket, c.v, p.v AS f,
        |    c.v - p.v AS r
        |  FROM h c JOIN h p ON p.event_type = c.event_type
        |    AND p.bucket + INTERVAL 24 HOURS = c.bucket),
        |q AS (SELECT event_type, quantile_cont(abs(r), 0.95) AS qr
        |  FROM j GROUP BY 1),
        |w AS (SELECT j.event_type, j.bucket, j.v, j.f, j.r, q.qr
        |  FROM j JOIN q ON q.event_type = j.event_type)
        |SELECT event_type, bucket, roundStable(v, 6) AS actual,
        |  roundStable(f, 6) AS forecast, roundStable(r, 6) AS resid,
        |  roundStable(f - qr, 6) AS band_lo,
        |  roundStable(f + qr, 6) AS band_hi,
        |  CAST(CASE WHEN abs(roundStable(r, 6)) > roundStable(qr, 6)
        |    THEN 1 ELSE 0 END AS BIGINT) AS outside_band
        |FROM w ORDER BY event_type, bucket""".stripMargin),

    Query("q265_adf", (s, dir) => {
      // random walk or mean-reverting — whether mean-based monitors
      // on this series lie; ADF on the hourly-mean series per type
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hb"))
        .agg(avg(col("value")).as("hv"))
      etl.Aggregates.adfTest(hourly, Seq("event_type"),
          orderCol = col("hb"), tieCol = col("hb"), valueCol = "hv")
        .orderBy(col("event_type"))
    },
      // same hourly series, same centered-moment regression
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hb,
        |    avg(value) AS hv
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |l AS (SELECT event_type, CAST(hv AS DOUBLE) AS y,
        |    CAST(lag(hv) OVER (PARTITION BY event_type ORDER BY hb)
        |      AS DOUBLE) AS yl
        |  FROM h),
        |f AS (SELECT event_type, yl, y - yl AS dy
        |  FROM l WHERE yl IS NOT NULL),
        |g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(yl * yl) AS a, sum(yl) AS b, sum(dy * dy) AS c,
        |    sum(dy) AS d, sum(yl * dy) AS e
        |  FROM f GROUP BY 1),
        |m AS (SELECT event_type, n,
        |    a - b * b / n AS sxx, c - d * d / n AS syy,
        |    e - b * d / n AS sxy
        |  FROM g),
        |x AS (SELECT event_type, n, sxx,
        |    sxy / sxx AS beta,
        |    syy - (sxy / sxx) * sxy AS rss
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  roundStable(CASE WHEN sxx > 0 THEN beta END, 6) AS beta,
        |  roundStable(CASE WHEN n > 3 AND sxx > 0 AND rss > 0
        |    THEN beta / sqrt((rss / (n - 2.0)) / sxx) END, 6) AS t_stat,
        |  CAST(CASE WHEN n > 3 AND sxx > 0 AND rss > 0
        |    THEN CASE WHEN beta / sqrt((rss / (n - 2.0)) / sxx) > -2.86
        |      THEN 1 ELSE 0 END END AS BIGINT) AS is_unit_root
        |FROM x ORDER BY event_type""".stripMargin),

    Query("q266_granger", (s, dir) => {
      // does yesterday's error count predict today's purchase value
      // beyond what yesterday's value already does
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(avg(when(col("event_type") === "purchase", col("value")))
          .as("y"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .cast("double").as("x"))
      etl.Aggregates.granger(daily, Nil, orderCol = col("dt"),
        yCol = col("y"), xCol = col("x"))
    },
      // same daily pair, restricted and unrestricted RSS from the one
      // centered-moment pass, 2x2 normal equations closed-form
      """WITH d AS (SELECT CAST(ts AS DATE) AS dt,
        |    avg(CASE WHEN event_type = 'purchase' THEN value END) AS y,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS x
        |  FROM events GROUP BY 1),
        |l AS (SELECT CAST(y AS DOUBLE) AS y,
        |    CAST(lag(y) OVER (ORDER BY dt) AS DOUBLE) AS y1,
        |    CAST(lag(x) OVER (ORDER BY dt) AS DOUBLE) AS x1
        |  FROM d),
        |f AS (SELECT y, y1, x1 FROM l
        |  WHERE y IS NOT NULL AND y1 IS NOT NULL AND x1 IS NOT NULL),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(y * y) - sum(y) * sum(y) / CAST(count(*) AS DOUBLE)
        |      AS syy,
        |    sum(y1 * y1) - sum(y1) * sum(y1) / CAST(count(*) AS DOUBLE)
        |      AS s11,
        |    sum(x1 * x1) - sum(x1) * sum(x1) / CAST(count(*) AS DOUBLE)
        |      AS s22,
        |    sum(y1 * x1) - sum(y1) * sum(x1) / CAST(count(*) AS DOUBLE)
        |      AS s12,
        |    sum(y * y1) - sum(y) * sum(y1) / CAST(count(*) AS DOUBLE)
        |      AS sy1,
        |    sum(y * x1) - sum(y) * sum(x1) / CAST(count(*) AS DOUBLE)
        |      AS sy2
        |  FROM f),
        |m AS (SELECT n, syy, s11, sy1,
        |    s11 * s22 - s12 * s12 AS det,
        |    (sy1 * s22 - sy2 * s12) / (s11 * s22 - s12 * s12) AS b,
        |    (sy2 * s11 - sy1 * s12) / (s11 * s22 - s12 * s12) AS c,
        |    sy2
        |  FROM g),
        |x AS (SELECT n, syy, s11, sy1, det, b, c,
        |    syy - b * sy1 - c * sy2 AS rssu,
        |    syy - sy1 * sy1 / s11 AS rssr
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  roundStable(CASE WHEN n > 3 AND det > 0 AND rssu > 0
        |    AND s11 > 0 AND syy > 0 THEN b END, 6) AS beta_ylag,
        |  roundStable(CASE WHEN n > 3 AND det > 0 AND rssu > 0
        |    AND s11 > 0 AND syy > 0 THEN c END, 6) AS gamma_xlag,
        |  roundStable(CASE WHEN s11 > 0 AND syy > 0
        |    THEN 1.0 - (syy - sy1 * sy1 / s11) / syy END, 6)
        |    AS r2_restricted,
        |  roundStable(CASE WHEN n > 3 AND det > 0 AND rssu > 0
        |    AND s11 > 0 AND syy > 0 THEN 1.0 - rssu / syy END, 6)
        |    AS r2_unrestricted,
        |  roundStable(CASE WHEN n > 3 AND det > 0 AND rssu > 0
        |    AND s11 > 0 AND syy > 0
        |    THEN (rssr - rssu) / (rssu / (n - 3.0)) END, 6) AS f_stat
        |FROM x""".stripMargin),

    Query("q263_gumbel_return", (s, dir) => {
      // "the spike this monitor sees once a quarter / once a decade":
      // Gumbel fit on daily maxima by L-moments, pinned constants
      val dm = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(max(col("value")).as("mx"))
      etl.Aggregates.gumbelReturn(dm, Seq("event_type"), "mx",
          tieCol = col("d"))
        .orderBy(col("event_type"))
    },
      // daily maxima → the l1/l2 staging of q260 (rounded at 6dp) →
      // the fit and return levels from PINNED transcendental constants
      """WITH dm AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    max(value) AS mx
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(mx AS DOUBLE) AS x,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY mx, d) AS DOUBLE) AS i
        |  FROM dm),
        |g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg(x) AS b0, sum((i - 1.0) * x) AS s1
        |  FROM r GROUP BY 1),
        |l AS (SELECT event_type, n,
        |    roundStable(b0, 6) AS l1,
        |    roundStable(CASE WHEN n > 1
        |      THEN 2.0 * (s1 / (n * (n - 1.0))) - b0 END, 6) AS l2
        |  FROM g)
        |SELECT event_type, CAST(n AS BIGINT) AS n, l1, l2,
        |  roundStable(CASE WHEN l2 IS NOT NULL AND l2 > 0
        |    THEN l2 / 0.693147 END, 6) AS beta,
        |  roundStable(CASE WHEN l2 IS NOT NULL AND l2 > 0
        |    THEN l1 - 0.577216 * (l2 / 0.693147) END, 6) AS mu,
        |  roundStable(CASE WHEN l2 IS NOT NULL AND l2 > 0
        |    THEN (l1 - 0.577216 * (l2 / 0.693147))
        |      + (l2 / 0.693147) * 2.250367 END, 6) AS return_10,
        |  roundStable(CASE WHEN l2 IS NOT NULL AND l2 > 0
        |    THEN (l1 - 0.577216 * (l2 / 0.693147))
        |      + (l2 / 0.693147) * 4.600149 END, 6) AS return_100
        |FROM l ORDER BY event_type""".stripMargin),

    Query("q258_tukey", (s, dir) =>
      // WHICH weekdays differ — the post-hoc step q249's single F
      // refuses to answer; q-stats against the pooled within-variance
      etl.Aggregates.tukeyPairs(Tables.events(s, dir), Seq("event_type"),
          factorCol = weekday(col("ts")).cast("long"), yCol = col("value"))
        .orderBy(col("event_type"), col("lvl_a"), col("lvl_b")),
      // same cell moments, MSW via the same per-key window, same
      // se association sqrt(msw/2 * (1/na + 1/nb))
      """WITH c AS (SELECT event_type, isodow(ts) - 1 AS lvl,
        |    CAST(count(value) AS DOUBLE) AS n, avg(value) AS m,
        |    sum(value * value) AS ss, sum(value) AS s
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT event_type, lvl, n, m,
        |    sum(n) OVER wa AS bn,
        |    CAST(count(*) OVER wa AS DOUBLE) AS k,
        |    sum(ss - s * s / n) OVER wa AS ssw
        |  FROM c WINDOW wa AS (PARTITION BY event_type)),
        |x AS (SELECT event_type, lvl, n, m,
        |    CASE WHEN bn > k THEN ssw / (bn - k) END AS msw FROM w)
        |SELECT a.event_type, a.lvl AS lvl_a, b.lvl AS lvl_b,
        |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |  roundStable(a.m - b.m, 6) AS mean_diff,
        |  roundStable(CASE WHEN a.msw > 0 AND a.n > 0 AND b.n > 0
        |    THEN abs(a.m - b.m)
        |      / sqrt(a.msw / 2.0 * (1.0 / a.n + 1.0 / b.n)) END, 6)
        |    AS q_stat
        |FROM x a JOIN x b
        |  ON a.event_type = b.event_type AND a.lvl < b.lvl
        |ORDER BY a.event_type, lvl_a, lvl_b""".stripMargin),

    Query("q260_lmoments", (s, dir) =>
      // the order-statistics distribution fingerprint: L-scale/skew/
      // kurtosis, outlier-robust where moment skew cubes its tails
      etl.Aggregates.lMoments(Tables.events(s, dir), Seq("event_type"),
          "value", tieCol = col("event_id"))
        .orderBy(col("event_type")),
      // same rank weights, same Hosking combinations, same guards
      """WITH r AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS DOUBLE) AS i
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg(x) AS b0,
        |    sum((i - 1.0) * x) AS s1,
        |    sum((i - 1.0) * (i - 2.0) * x) AS s2,
        |    sum((i - 1.0) * (i - 2.0) * (i - 3.0) * x) AS s3
        |  FROM r GROUP BY 1),
        |m AS (SELECT event_type, n, b0,
        |    s1 / (n * (n - 1.0)) AS b1,
        |    s2 / (n * (n - 1.0) * (n - 2.0)) AS b2,
        |    s3 / (n * (n - 1.0) * (n - 2.0) * (n - 3.0)) AS b3
        |  FROM g),
        |l AS (SELECT event_type, n, b0 AS l1,
        |    2.0 * b1 - b0 AS l2,
        |    6.0 * b2 - 6.0 * b1 + b0 AS l3,
        |    20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0 AS l4
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  roundStable(l1, 6) AS l1,
        |  roundStable(CASE WHEN n > 1 THEN l2 END, 6) AS l2,
        |  roundStable(CASE WHEN n > 3 THEN l3 END, 6) AS l3,
        |  roundStable(CASE WHEN n > 3 THEN l4 END, 6) AS l4,
        |  roundStable(CASE WHEN n > 1 AND abs(l1) > 0 THEN l2 / l1
        |    END, 6) AS l_cv,
        |  roundStable(CASE WHEN n > 3 AND abs(l2) > 0 THEN l3 / l2
        |    END, 6) AS l_skew,
        |  roundStable(CASE WHEN n > 3 AND abs(l2) > 0 THEN l4 / l2
        |    END, 6) AS l_kurt
        |FROM l ORDER BY event_type""".stripMargin),

    Query("q255_logrank", (s, dir) => {
      // ARE the two arms' survival curves different — the inferential
      // step after q172 draws them; same per-user staging
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"), max(col("ts")).as("__last"),
          min(when(col("event_type") === "error", col("ts"))).as("__err"))
      val subj = perUser
        .select((col("user_id") % 3).as("cohort"),
          (col("user_id") % 2 === 0).as("ga"),
          datediff(to_date(coalesce(col("__err"), col("__last"))),
            to_date(col("__first"))).cast("long").as("dur"),
          col("__err").isNotNull.as("obs"))
      etl.Aggregates.logRank(subj, Seq("cohort"), "dur", col("obs"),
          isGroupA = col("ga"))
        .orderBy(col("cohort"))
    },
      // q251's staging + arm flag; identical O−E / hypergeometric-V
      // association, zero variance pinned at single-subject times
      """WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |        min(CASE WHEN event_type = 'error' THEN ts END) AS err
        |      FROM events GROUP BY 1),
        |s AS (SELECT user_id % 3 AS cohort, user_id % 2 = 0 AS ga,
        |        date_diff('day', CAST(f AS DATE),
        |          CAST(coalesce(err, l) AS DATE)) AS t,
        |        (err IS NOT NULL) AS obs
        |      FROM u),
        |g AS (SELECT cohort, t,
        |        sum(CASE WHEN ga AND obs THEN 1 ELSE 0 END) AS d1,
        |        sum(CASE WHEN ga AND NOT obs THEN 1 ELSE 0 END) AS c1,
        |        sum(CASE WHEN NOT ga AND obs THEN 1 ELSE 0 END) AS d2,
        |        sum(CASE WHEN NOT ga AND NOT obs THEN 1 ELSE 0 END)
        |          AS c2
        |      FROM s GROUP BY 1, 2),
        |w AS (SELECT cohort, d1, c1, d2, c2,
        |        CAST(sum(d1 + c1) OVER win AS DOUBLE) AS n1,
        |        CAST(sum(d2 + c2) OVER win AS DOUBLE) AS n2,
        |        CAST(d1 + d2 AS DOUBLE) AS d
        |      FROM g
        |      WINDOW win AS (PARTITION BY cohort ORDER BY t
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |x AS (SELECT cohort, d1, c1, d2, c2,
        |        CASE WHEN d > 0 THEN d * n1 / (n1 + n2) END AS e1,
        |        CASE WHEN d > 0 THEN
        |          CASE WHEN n1 + n2 > 1
        |            THEN d * (n1 / (n1 + n2)) * (n2 / (n1 + n2))
        |              * (((n1 + n2) - d) / ((n1 + n2) - 1.0))
        |            ELSE 0.0 END END AS v
        |      FROM w),
        |f AS (SELECT cohort, sum(d1 + c1) AS na, sum(d2 + c2) AS nb,
        |        sum(d1) AS o1, sum(d2) AS o2, sum(e1) AS es,
        |        sum(v) AS vs,
        |        CAST(sum(d1) AS DOUBLE) - sum(e1) AS ome
        |      FROM x GROUP BY 1)
        |SELECT cohort, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b, CAST(o1 AS BIGINT) AS events_a,
        |  CAST(o2 AS BIGINT) AS events_b,
        |  roundStable(es, 6) AS expected_a,
        |  roundStable(CASE WHEN vs > 0 THEN ome / sqrt(vs) END, 6) AS z,
        |  roundStable(CASE WHEN vs > 0 THEN ome * ome / vs END, 6)
        |    AS chi2
        |FROM f ORDER BY cohort""".stripMargin),

    Query("q256_bartlett", (s, dir) =>
      // the q249 ANOVA's assumption check, and a spread-drift readout:
      // are the day-of-week VARIANCES equal per type
      etl.Aggregates.bartlett(Tables.events(s, dir), Seq("event_type"),
          factorCol = weekday(col("ts")).cast("long"), yCol = col("value"))
        .orderBy(col("event_type")),
      // same per-cell moments; per-cell ln guarded INSIDE the fold
      """WITH c AS (SELECT event_type, isodow(ts) - 1 AS lvl,
        |    CAST(count(value) AS DOUBLE) AS n, var_samp(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT event_type, sum(n) AS bn,
        |    CAST(count(*) AS DOUBLE) AS k,
        |    sum(CASE WHEN v IS NOT NULL THEN (n - 1.0) * v END) AS ssw,
        |    sum(CASE WHEN v > 0 THEN (n - 1.0) * ln(v) END) AS lns,
        |    sum(CASE WHEN n > 1 THEN 1.0 / (n - 1.0) END) AS invs,
        |    min(n) AS minn, min(v) AS minv
        |  FROM c GROUP BY 1)
        |SELECT event_type, CAST(k AS BIGINT) AS k_groups,
        |  CAST(bn AS BIGINT) AS n, CAST(k - 1.0 AS BIGINT) AS df,
        |  roundStable(CASE WHEN bn > k THEN ssw / (bn - k) END, 6)
        |    AS pooled_var,
        |  roundStable(CASE WHEN k > 1 AND bn > k AND minn > 1
        |      AND minv > 0 AND ssw / (bn - k) > 0
        |    THEN ((bn - k) * ln(ssw / (bn - k)) - lns)
        |      / (1.0 + (invs - 1.0 / (bn - k)) / (3.0 * (k - 1.0)))
        |    END, 6) AS bartlett_t
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q252_cuped", (s, dir) => {
      // CUPED: each user's first-half mean is the covariate that
      // shrinks the second-half A/B read by exactly rho^2 — one
      // per-user staging agg, then ONE moments agg does theta AND
      // both arm means
      val cut = lit("2024-01-16").cast("timestamp")
      val perUser = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(avg(when(col("ts") < cut, col("value"))).as("x"),
          avg(when(col("ts") >= cut, col("value"))).as("y"))
      etl.Aggregates.cuped(perUser, Seq("event_type"),
          isA = col("user_id") % 2 === 0, yCol = col("y"),
          xCol = col("x"))
        .orderBy(col("event_type"))
    },
      // same per-user halves staging, same one-pass conditional moments
      """WITH p AS (SELECT event_type, user_id,
        |    avg(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value END)
        |      AS x,
        |    avg(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value END)
        |      AS y
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT * FROM p WHERE x IS NOT NULL AND y IS NOT NULL),
        |g AS (SELECT event_type,
        |    count(CASE WHEN user_id % 2 = 0 THEN y END) AS na,
        |    count(CASE WHEN user_id % 2 <> 0 THEN y END) AS nb,
        |    covar_samp(x, y) AS cxy, var_samp(x) AS vx,
        |    var_samp(y) AS vy,
        |    avg(CASE WHEN user_id % 2 = 0 THEN y END) AS ya,
        |    avg(CASE WHEN user_id % 2 <> 0 THEN y END) AS yb,
        |    avg(CASE WHEN user_id % 2 = 0 THEN x END) AS xa,
        |    avg(CASE WHEN user_id % 2 <> 0 THEN x END) AS xb
        |  FROM b GROUP BY 1)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  roundStable(CASE WHEN vx > 0 THEN cxy / vx END, 6) AS theta,
        |  roundStable(ya - yb, 6) AS diff_raw,
        |  roundStable(CASE WHEN vx > 0 AND vy > 0 AND na > 0 AND nb > 0
        |    THEN (ya - yb) - (cxy / vx) * (xa - xb) END, 6) AS diff_adj,
        |  roundStable(CASE WHEN vx > 0 AND vy > 0 AND na > 0 AND nb > 0
        |    THEN (cxy * cxy) / (vx * vy) END, 6) AS var_reduction
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q253_power_mde", (s, dir) =>
      // can this traffic even SEE a 5% move — the pre-ship power
      // check and the flat-test autopsy, from one moments pass
      etl.Aggregates.powerMde(Tables.events(s, dir), Seq("event_type"),
          isA = col("user_id") % 2 === 0, yCol = col("value"))
        .orderBy(col("event_type")),
      // the z-sum pinned as a DOUBLE literal on both engines (a bare
      // DuckDB decimal literal would square exactly, Spark's double
      // wouldn't — the q197 lesson); ceil steps on the 6dp-rounded value
      """WITH g AS (SELECT event_type,
        |    CAST(count(CASE WHEN user_id % 2 = 0 THEN value END)
        |      AS DOUBLE) AS na,
        |    CAST(count(CASE WHEN user_id % 2 <> 0 THEN value END)
        |      AS DOUBLE) AS nb,
        |    var_samp(value) AS s2, avg(value) AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  roundStable(m, 6) AS mean, roundStable(sqrt(s2), 6) AS sd,
        |  roundStable(CASE WHEN na > 1 AND nb > 1 AND s2 > 0
        |    THEN CAST(2.801586 AS DOUBLE)
        |      * sqrt(s2 * (1.0 / na + 1.0 / nb)) END, 6) AS mde_abs,
        |  roundStable(CASE WHEN na > 1 AND nb > 1 AND s2 > 0
        |      AND abs(m) > 0
        |    THEN CAST(2.801586 AS DOUBLE)
        |      * sqrt(s2 * (1.0 / na + 1.0 / nb)) / abs(m) END, 6)
        |    AS mde_rel,
        |  CAST(CASE WHEN na > 1 AND nb > 1 AND s2 > 0
        |      AND abs(m) * 0.05 > 0
        |    THEN ceil(roundStable(2.0 * s2 * CAST(2.801586 AS DOUBLE)
        |      * CAST(2.801586 AS DOUBLE)
        |      / ((abs(m) * 0.05) * (abs(m) * 0.05)), 6)) END AS BIGINT)
        |    AS n_per_arm_needed
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q254_ratio_ci", (s, dir) => {
      // value PER EVENT as a ratio-of-sums over users: the delta
      // method prices the shared-denominator variance a naive mean
      // CI understates
      val perUser = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value")).as("y"), count(col("value")).as("x"))
      etl.Aggregates.ratioMetricCi(perUser, Seq("event_type"),
          numCol = col("y"), denCol = col("x"))
        .orderBy(col("event_type"))
    },
      // same per-user totals, same delta-method quadratic form with the
      // identical greatest(…, 0) clamp
      """WITH p AS (SELECT event_type, user_id, sum(value) AS y,
        |    count(value) AS x
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT * FROM p WHERE y IS NOT NULL AND x IS NOT NULL),
        |g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(y AS DOUBLE)) AS sy, sum(CAST(x AS DOUBLE)) AS sx,
        |    var_samp(CAST(y AS DOUBLE)) AS vy,
        |    var_samp(CAST(x AS DOUBLE)) AS vx,
        |    covar_samp(CAST(x AS DOUBLE), CAST(y AS DOUBLE)) AS cxy,
        |    avg(CAST(x AS DOUBLE)) AS mx
        |  FROM b GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_units,
        |  roundStable(sy, 6) AS num_total,
        |  roundStable(sx, 6) AS den_total,
        |  roundStable(CASE WHEN sx > 0 THEN sy / sx END, 6) AS ratio,
        |  roundStable(CASE WHEN sx > 0 AND n > 1 AND mx > 0
        |    THEN sqrt(greatest(vy - 2.0 * (sy / sx) * cxy
        |      + (sy / sx) * (sy / sx) * vx, 0.0) / n) / mx END, 6)
        |    AS se,
        |  roundStable(CASE WHEN sx > 0 AND n > 1 AND mx > 0
        |    THEN sy / sx - 1.96 * (sqrt(greatest(vy
        |      - 2.0 * (sy / sx) * cxy
        |      + (sy / sx) * (sy / sx) * vx, 0.0) / n) / mx) END, 6)
        |    AS ci_lo,
        |  roundStable(CASE WHEN sx > 0 AND n > 1 AND mx > 0
        |    THEN sy / sx + 1.96 * (sqrt(greatest(vy
        |      - 2.0 * (sy / sx) * cxy
        |      + (sy / sx) * (sy / sx) * vx, 0.0) / n) / mx) END, 6)
        |    AS ci_hi
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q118_ols_trend", (s, dir) => {
      // per-series drift detection: OLS of value on days-since-2024
      // per event_type — one pass, map-side partials, no window/sort.
      // Population moments ≡ SQL regr_slope/regr_intercept; r² = corr².
      val x = (unix_micros(col("ts")) - lit(1704067200000000L)) /
        lit(86400e6)
      etl.Aggregates.olsTrend(Tables.events(s, dir), Seq("event_type"),
          x, col("value"))
        .orderBy(col("event_type"))
    },
      // same population-moment formulas spelled out (≡ regr_slope /
      // regr_intercept / regr_r2), x centered at 2024-01-01
      """WITH t AS (SELECT event_type, value AS y,
        |  (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x
        |  FROM events)
        |SELECT event_type,
        |  roundStable(covar_pop(y, x) / var_pop(x), 6) AS slope,
        |  roundStable(avg(y) - covar_pop(y, x) / var_pop(x) * avg(x), 6)
        |    AS intercept,
        |  roundStable(pow(corr(x, y), 2), 6) AS r2,
        |  count(*) AS n
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q121_welch_ttest", (s, dir) =>
      // the A/B readout: Welch t-test of value between even/odd user
      // cohorts per event_type, conditional aggregates — one pass, no
      // self-join of the arms.
      etl.Aggregates.welchTTest(Tables.events(s, dir), Seq("event_type"),
          col("user_id") % 2 === 0, col("value"))
        .orderBy(col("event_type")),
      // conditional aggregates over the two arms; Welch–Satterthwaite df
      """WITH t AS (SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN value END AS a,
        |    CASE WHEN user_id % 2 <> 0 THEN value END AS b
        |  FROM events),
        |g AS (SELECT event_type,
        |    count(a) AS n_a, count(b) AS n_b,
        |    avg(a) AS ma, avg(b) AS mb,
        |    var_samp(a) / count(a) AS sa, var_samp(b) / count(b) AS sb
        |  FROM t GROUP BY event_type)
        |SELECT event_type, n_a, n_b,
        |  roundStable(ma - mb, 4) AS mean_diff,
        |  roundStable((ma - mb) / sqrt(sa + sb), 4) AS t_stat,
        |  roundStable(pow(sa + sb, 2) /
        |    (pow(sa, 2) / (n_a - 1) + pow(sb, 2) / (n_b - 1)), 4) AS df,
        |  CAST(abs((ma - mb) / sqrt(sa + sb)) > 1.96 AS BIGINT) AS significant
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q88_seasonal", (s, dir) =>
      // additive seasonal decomposition of each event-type series:
      // trend / hour-of-day seasonal / residual — one keyed shuffle for
      // both windows, seasonal means broadcast back
      etl.Aggregates.seasonalDecompose(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value", halfWindow = 12)
        .orderBy(col("event_type"), col("rn")),
      """WITH o AS (SELECT event_type, ts, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events),
        |t AS (SELECT event_type, ts, rn, value,
        |    avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
        |  FROM o),
        |s AS (SELECT event_type, rn, trend, value - trend AS detr, hour(ts) AS hh FROM t),
        |m AS (SELECT event_type AS met, hh AS mhh,
        |    roundStable(avg(detr), 6) AS seasonal
        |  FROM s GROUP BY 1, 2)
        |SELECT s.event_type, CAST(s.rn AS BIGINT) AS rn,
        |  roundStable(s.trend, 6) AS trend,
        |  m.seasonal,
        |  roundStable(s.detr - m.seasonal, 6) AS residual
        |FROM s JOIN m ON s.event_type = m.met AND s.hh = m.mhh
        |ORDER BY s.event_type, s.rn""".stripMargin),

    Query("q89_seasonal_anomaly", (s, dir) => {
      // seasonally-adjusted anomaly detection: flag rows whose residual
      // (after q88's trend+seasonal removal) exceeds 3σ of the key's
      // residual distribution — the upgrade of plain z-scoring (q17)
      // that doesn't fire on rush-hour structure. σ is compared ROUNDED
      // on both sides (the cross-engine boundary discipline).
      val dec = etl.Aggregates.seasonalDecompose(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value", halfWindow = 12)
      val sigma = dec.groupBy(col("event_type"))
        .agg(roundStable(stddev(col("residual")), 6).as("sigma"))
      dec.join(broadcast(sigma), Seq("event_type"))
        .filter(abs(col("residual")) > lit(3.0) * col("sigma"))
        .select(col("event_type"), col("rn"), col("residual"), col("sigma"))
        .orderBy(col("event_type"), col("rn"))
    },
      """WITH o AS (SELECT event_type, ts, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events),
        |t AS (SELECT event_type, ts, rn, value,
        |    avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
        |  FROM o),
        |s AS (SELECT event_type, rn, trend, value - trend AS detr, hour(ts) AS hh FROM t),
        |m AS (SELECT event_type AS met, hh AS mhh,
        |    roundStable(avg(detr), 6) AS seasonal
        |  FROM s GROUP BY 1, 2),
        |r AS (SELECT s.event_type, s.rn,
        |    roundStable(s.detr - m.seasonal, 6) AS residual
        |  FROM s JOIN m ON s.event_type = m.met AND s.hh = m.mhh),
        |g AS (SELECT event_type AS get2, roundStable(stddev_samp(residual), 6) AS sigma
        |  FROM r GROUP BY 1)
        |SELECT r.event_type, CAST(r.rn AS BIGINT) AS rn, r.residual, g.sigma
        |FROM r JOIN g ON r.event_type = g.get2
        |WHERE abs(r.residual) > 3.0 * g.sigma
        |ORDER BY r.event_type, r.rn""".stripMargin),

    Query("q91_ewma", (s, dir) =>
      // exponentially weighted moving average per event-type series
      // (pandas adjust=true, span-truncated): one keyed shuffle, the
      // weighted fold a codegen'd higher-order aggregate over the frame
      etl.Aggregates.ewma(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value", alpha = 0.3, span = 24)
        .orderBy(col("event_type"), col("rn")),
      """WITH o AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |                      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS ll
        |  FROM events)
        |SELECT event_type, CAST(rn AS BIGINT) AS rn, value,
        |  roundStable(list_sum([ll[i+1] * pow(0.7, len(ll)-1-i) FOR i IN range(0, len(ll))])
        |    / list_sum([pow(0.7, len(ll)-1-i) FOR i IN range(0, len(ll))]), 6) AS ewma
        |FROM o ORDER BY event_type, rn""".stripMargin),

    Query("q96_rolling_median", (s, dir) =>
      // robust rolling smoother: trailing 6-row median per key — one
      // keyed shuffle, sort_array over the frame list, parity branch
      etl.Aggregates.rollingMedian(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value", window = 6)
        .orderBy(col("event_type"), col("rn")),
      """WITH o AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    median(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |                        ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS med
        |  FROM events)
        |SELECT event_type, CAST(rn AS BIGINT) AS rn, value,
        |  roundStable(med, 6) AS rolling_median
        |FROM o ORDER BY event_type, rn""".stripMargin),

    Query("q390_mg_guarantee", (s, dir) => {
      // the q62 discipline on the last spec-only sketch family
      // (FreqSketchAgg): per-segment Misra-Gries guarantee verdicts
      // over exact in-query counts. Skew planted (the q81 discipline):
      // 70 % of each segment's rows land on 3 hot items (true counts
      // far above N/(k+1) — the coverage clause is non-vacuous), the
      // rest spread over per-user cold items so the per-segment
      // vocabulary >> capacity 16 and the eviction/merge paths
      // genuinely fire. Survivor identities stay engine content
      // (partition-dependent); the guarantees flatten to 1/0s.
      val ev = Tables.events(s, dir).select(
        col("event_type").as("segment"),
        when(col("user_id") % 10 < 7,
          concat(lit("hot_"), (col("user_id") % 3).cast("string")))
          .otherwise(concat(lit("cold_"), col("user_id").cast("string")))
          .as("item"))
      etl.Aggregates.mgVerdict(ev, "segment", "item", capacity = 16)
        .orderBy(col("segment"))
    },
      // per-segment row counts by value; the three Misra-Gries
      // guarantee clauses (tracked set bounded by capacity, every
      // counter an underestimate by at most N/(k+1), every heavy item
      // present) as literal 1s — survivor identities are engine
      // content and stay out of the compared output
      """SELECT event_type AS segment,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(16 AS BIGINT) AS capacity,
        |  CAST(1 AS BIGINT) AS tracked_bound_ok,
        |  CAST(1 AS BIGINT) AS underestimate_ok,
        |  CAST(1 AS BIGINT) AS coverage_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
