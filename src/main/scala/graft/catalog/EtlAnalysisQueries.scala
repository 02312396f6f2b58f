package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.roundStable

/** Drift detection, model evaluation, experiments, weighting, causal,
  * growth and pricing readouts (`graft.etl`), and rater agreement.
  */
private[graft] object EtlAnalysisQueries {

  /** Continuous-ratings table for q374/q375 (same pooling as q355's
    * nominal one, raw value kept): one rating per (unit, rater), first
    * by (ts, event_id).
    */
  private def contRatingsFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select((col("user_id") % 200).as("unit"),
        col("event_type").as("rater"), col("value").as("rating"),
        col("ts"), col("event_id"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("unit"), col("rater"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("__rn") === 1)
      .select((col("unit") % 3).as("cohort"), col("unit"), col("rater"),
        col("rating"))
  }

  /** Multi-rater ratings table for q355/q356: unit = user_id pooled mod
    * 200 (so several raters rate one unit), rater = event_type, label =
    * coarse value bucket, ONE rating per (unit, rater) picked
    * deterministically (first by ts, event_id); cohort = unit % 3 keys
    * the agreement readouts.
    */
  private def ratingsFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select((col("user_id") % 200).as("unit"),
        col("event_type").as("rater"),
        when(col("value") < 150, "lo").when(col("value") < 300, "mid")
          .otherwise("hi").as("label"),
        col("ts"), col("event_id"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("unit"), col("rater"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("__rn") === 1)
      .select((col("unit") % 3).as("cohort"), col("unit"), col("rater"),
        col("label"))
  }

  /** Labeling-function vote table for q357: same unit pooling, each
    * event_type is an LF, NULL value = abstain (kept — the unit still
    * counts in the coverage denominator).
    */
  private def lfVotesFrame(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select((col("user_id") % 200).as("unit"), col("event_type").as("lf"),
        when(col("value").isNull, lit(null.asInstanceOf[String]))
          .when(col("value") < 150, "lo").when(col("value") < 300, "mid")
          .otherwise("hi").as("label"))

  val queries: Seq[Query] = Seq(
    Query("q125_psi_drift", (s, dir) =>
      // binned feature-drift monitor: PSI of value per event_type,
      // reference = first half of the month, bins fixed from the
      // reference range (current-side outliers clamp into edge bins)
      etl.Drift.psi(Tables.events(s, dir), Seq("event_type"), "value",
          isRef = dayofmonth(col("ts")) <= 15, bins = 10)
        .orderBy(col("event_type")),
      // identical binning: ref-side [lo, hi] fixes 10 equal-width bins,
      // both sides clamp in, add-half smoothing (0.5·bins = 5.0)
      """WITH t AS (SELECT event_type, value,
        |             (day(ts) <= 15) AS ref FROM events),
        |r AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        |      FROM t WHERE ref GROUP BY event_type),
        |b AS (SELECT t.event_type,
        |        CAST(least(greatest(CASE WHEN hi - lo <= 0 THEN 0
        |          ELSE floor((value - lo) / (hi - lo) * 10) END, 0), 9)
        |          AS BIGINT) AS bin,
        |        ref
        |      FROM t JOIN r ON t.event_type = r.event_type),
        |c AS (SELECT event_type, bin,
        |        sum(CASE WHEN ref THEN 1 ELSE 0 END) AS rc,
        |        sum(CASE WHEN ref THEN 0 ELSE 1 END) AS cc
        |      FROM b GROUP BY event_type, bin),
        |w AS (SELECT event_type, rc, cc,
        |        sum(rc) OVER (PARTITION BY event_type) AS nr,
        |        sum(cc) OVER (PARTITION BY event_type) AS nc
        |      FROM c)
        |SELECT event_type,
        |  roundStable(sum(((rc + 0.5) / (nr + 5.0) - (cc + 0.5) / (nc + 5.0))
        |    * ln(((rc + 0.5) / (nr + 5.0)) / ((cc + 0.5) / (nc + 5.0)))), 6)
        |    AS psi,
        |  CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q126_ks_drift", (s, dir) =>
      // distribution-shape drift: exact two-sample KS statistic of value
      // per event_type between the same two month halves — catches shape
      // changes PSI's 10 bins smooth over
      etl.Drift.ksTest(Tables.events(s, dir), Seq("event_type"), "value",
          isA = dayofmonth(col("ts")) <= 15)
        .orderBy(col("event_type")),
      // exact two-sample KS: group by value first (tie handling), then
      // cumulative ECDFs per key and the max absolute gap
      """WITH c AS (SELECT event_type, value AS v,
        |        sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS ca,
        |        sum(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END) AS cb
        |      FROM events GROUP BY event_type, value),
        |w AS (SELECT event_type,
        |        sum(ca) OVER (PARTITION BY event_type ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) AS cua,
        |        sum(cb) OVER (PARTITION BY event_type ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) AS cub,
        |        sum(ca) OVER (PARTITION BY event_type) AS na,
        |        sum(cb) OVER (PARTITION BY event_type) AS nb
        |      FROM c)
        |SELECT event_type,
        |  roundStable(max(abs(CAST(cua AS DOUBLE) / na
        |    - CAST(cub AS DOUBLE) / nb)), 6) AS ks_d,
        |  roundStable(max(abs(CAST(cua AS DOUBLE) / na
        |      - CAST(cub AS DOUBLE) / nb))
        |    * sqrt(CAST(max(na) AS DOUBLE) * max(nb)
        |        / (max(na) + max(nb))), 6) AS ks_scaled,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q131_chi2_indep", (s, dir) =>
      // is the language mix independent of the source? chi-square of
      // the lang × source contingency + Cramér's V effect size — one
      // O(r·c) cell agg, marginals ride windows over the cells
      etl.Drift.chiSquareIndep(Tables.documents(s, dir), "source", "lang"),
      // chi2 over observed cells only, via the identity
      // chi2 = n·(Σ o²/(rt·ct) − 1) — structural zeros need no dense
      // cross of levels
      """WITH cells AS (SELECT source AS a, lang AS b,
        |        CAST(count(*) AS DOUBLE) AS o
        |      FROM documents GROUP BY source, lang),
        |m AS (SELECT a, b, o,
        |        sum(o) OVER (PARTITION BY a) AS rt,
        |        sum(o) OVER (PARTITION BY b) AS ct
        |      FROM cells)
        |SELECT
        |  roundStable((sum(o * o / (rt * ct)) - 1.0) * sum(o), 6) AS chi2,
        |  CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
        |    AS dof,
        |  roundStable(sqrt((sum(o * o / (rt * ct)) - 1.0)
        |    / CAST(least(count(DISTINCT a), count(DISTINCT b)) - 1
        |        AS DOUBLE)), 6) AS cramers_v,
        |  CAST(sum(o) AS BIGINT) AS n
        |FROM m""".stripMargin),

    Query("q133_benford", (s, dir) =>
      // fabricated-data screen: chi-square distance of each event
      // type's first-significant-digit histogram to the Benford
      // expectation (absent digits contribute their expected mass)
      etl.Drift.benford(Tables.events(s, dir), Seq("event_type"), "value")
        .orderBy(col("event_type")),
      // first significant digit by pure arithmetic; absent digits'
      // expected mass folds in as (n − Σ_observed e)
      """WITH t AS (SELECT event_type, abs(value) AS v FROM events
        |           WHERE abs(value) > 0),
        |d AS (SELECT event_type,
        |        CAST(floor(v / pow(10.0, floor(log10(v)))) AS BIGINT) AS dg
        |      FROM t),
        |c AS (SELECT event_type, dg, CAST(count(*) AS DOUBLE) AS o
        |      FROM d GROUP BY event_type, dg),
        |w AS (SELECT event_type, dg, o,
        |        sum(o) OVER (PARTITION BY event_type) AS n FROM c),
        |e AS (SELECT event_type, o, n,
        |        ln(1.0 + 1.0 / dg) / ln(10.0) * n AS ex FROM w)
        |SELECT event_type,
        |  roundStable(sum((o - ex) * (o - ex) / ex) + (max(n) - sum(ex)), 6)
        |    AS benford_chi2,
        |  CAST(max(n) AS BIGINT) AS n,
        |  count(*) AS n_digits_seen
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q151_cusum_twosided", (s, dir) => {
      // both CUSUM sides exercised: a planted −60 (~1.25σ) step from
      // day 23 models sensor degradation — invisible to the upper
      // statistic, alarmed by the lower one; the upper side watches the
      // same series and stays quiet. Oracle replays the identical plant.
      val ev = Tables.events(s, dir).withColumn("value",
        when(dayofmonth(col("ts")) > 22, col("value") - lit(60.0))
          .otherwise(col("value")))
      etl.Drift.cusum(ev, Seq("event_type"), "value",
          orderCol = col("ts"), tieCol = col("event_id"),
          isRef = dayofmonth(col("ts")) <= 15)
        .orderBy(col("event_type"))
    },
      // identical plan with the −60 step planted from day 23 — the
      // lower-side statistic must alarm, the upper stays quiet
      """WITH ev AS (SELECT event_type, ts, event_id,
        |        CASE WHEN day(ts) > 22 THEN value - 60.0 ELSE value END
        |          AS value
        |      FROM events),
        |st AS (SELECT event_type, avg(value) AS mu,
        |         stddev_samp(value) AS sd
        |       FROM ev WHERE day(ts) <= 15 GROUP BY event_type),
        |c AS (SELECT e.event_type, e.ts, e.event_id,
        |        CASE WHEN st.sd > 0 THEN (e.value - st.mu) / st.sd END AS z
        |      FROM ev e JOIN st ON e.event_type = st.event_type
        |      WHERE day(e.ts) > 15),
        |p AS (SELECT event_type, ts, event_id,
        |        sum(z - 0.5) OVER w AS pu,
        |        sum(-z - 0.5) OVER w AS pl
        |      FROM c
        |      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING)),
        |s AS (SELECT event_type, ts,
        |        pu - CASE WHEN min(pu) OVER w < 0
        |          THEN min(pu) OVER w ELSE 0.0 END AS su,
        |        pl - CASE WHEN min(pl) OVER w < 0
        |          THEN min(pl) OVER w ELSE 0.0 END AS sl
        |      FROM p
        |      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING))
        |SELECT event_type,
        |  CAST(sum(CASE WHEN su > 5.0 THEN 1
        |    WHEN su IS NOT NULL THEN 0 END) AS BIGINT) AS n_alarms,
        |  min(CASE WHEN su > 5.0 THEN ts END) AS first_alarm_at,
        |  roundStable(max(su), 6) AS max_s,
        |  CAST(sum(CASE WHEN sl > 5.0 THEN 1
        |    WHEN sl IS NOT NULL THEN 0 END) AS BIGINT) AS n_alarms_lo,
        |  min(CASE WHEN sl > 5.0 THEN ts END) AS first_alarm_lo_at,
        |  roundStable(max(sl), 6) AS max_s_lo,
        |  count(*) AS n_cur
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q152_chi2_keyed", (s, dir) =>
      // the keyed form of q131: per SOURCE, is language independent of
      // document length class? one pass over all sources — the drift
      // family's per-cohort convention applied to the categorical test
      etl.Drift.chiSquareIndep(
          Tables.documents(s, dir).withColumn("len_class",
            when(col("n_chars") >= 300, lit("long")).otherwise(lit("short"))),
          Seq("source"), "lang", "len_class")
        .orderBy(col("source")),
      // per-source contingency: same observed-cells-only identity as
      // q131, marginals partitioned by (source, level)
      """WITH cells AS (SELECT source,
        |        lang AS a,
        |        CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS b,
        |        CAST(count(*) AS DOUBLE) AS o
        |      FROM documents GROUP BY 1, 2, 3),
        |m AS (SELECT source, a, b, o,
        |        sum(o) OVER (PARTITION BY source, a) AS rt,
        |        sum(o) OVER (PARTITION BY source, b) AS ct
        |      FROM cells)
        |SELECT source,
        |  roundStable((sum(o * o / (rt * ct)) - 1.0) * sum(o), 6) AS chi2,
        |  CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
        |    AS dof,
        |  roundStable(CASE WHEN least(count(DISTINCT a),
        |      count(DISTINCT b)) > 1
        |    THEN sqrt((sum(o * o / (rt * ct)) - 1.0)
        |      / CAST(least(count(DISTINCT a), count(DISTINCT b)) - 1
        |          AS DOUBLE)) END, 6) AS cramers_v,
        |  CAST(sum(o) AS BIGINT) AS n
        |FROM m GROUP BY source ORDER BY source""".stripMargin),

    Query("q156_rate_drift", (s, dir) => {
      // volume-axis drift: events-per-hour per type, current vs
      // reference window under the Poisson model — a planted 70%
      // thinning of the error type's current rows must drive its
      // poisson_z strongly negative while the untouched types sit near 0
      val ev = Tables.events(s, dir).filter(
        !(col("event_type") === "error" && dayofmonth(col("ts")) > 15 &&
          col("event_id") % 10 < 7))
      etl.Drift.rateShift(ev, Seq("event_type"), col("ts"),
          isRef = dayofmonth(col("ts")) <= 15)
        .orderBy(col("event_type"))
    },
      // Poisson z over the same planted thinning; window hour-spans from
      // the global extents, one conditional-count agg per key
      """WITH ev AS (SELECT * FROM events WHERE NOT (event_type = 'error'
        |        AND day(ts) > 15 AND event_id % 10 < 7)),
        |sp AS (SELECT
        |        (epoch_us(max(CASE WHEN day(ts) <= 15 THEN ts END)) -
        |         epoch_us(min(CASE WHEN day(ts) <= 15 THEN ts END)))
        |          / 3.6e9 AS hr,
        |        (epoch_us(max(CASE WHEN day(ts) > 15 THEN ts END)) -
        |         epoch_us(min(CASE WHEN day(ts) > 15 THEN ts END)))
        |          / 3.6e9 AS hc
        |      FROM ev),
        |c AS (SELECT event_type,
        |        sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS cr,
        |        sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS cc
        |      FROM ev GROUP BY 1)
        |SELECT event_type,
        |  roundStable(CASE WHEN hr > 0 THEN cr / hr END, 6) AS ref_rate,
        |  roundStable(CASE WHEN hc > 0 THEN cc / hc END, 6) AS cur_rate,
        |  roundStable(CASE WHEN cr > 0 AND hr > 0 AND hc > 0
        |    THEN cc / (cr / hr * hc) END, 6) AS rate_ratio,
        |  roundStable(CASE WHEN cr > 0 AND hr > 0 AND hc > 0
        |    THEN (cc - cr / hr * hc) / sqrt(cr / hr * hc) END, 6)
        |    AS poisson_z,
        |  CAST(cr AS BIGINT) AS n_ref, CAST(cc AS BIGINT) AS n_cur
        |FROM c CROSS JOIN sp ORDER BY event_type""".stripMargin),

    Query("q171_jsd", (s, dir) =>
      // bounded symmetric divergence (the thresholdable twin of q125's
      // PSI): JSD of value per type, ref = first half, ref-frozen bins
      etl.Drift.jsd(Tables.events(s, dir), Seq("event_type"), "value",
          isRef = dayofmonth(col("ts")) <= 15, bins = 10)
        .orderBy(col("event_type")),
      // the q125 binning verbatim; per-bin term
      // (p·ln(p/m) + q·ln(q/m)) / 2 with m = (p+q)/2
      """WITH t AS (SELECT event_type, value,
        |             (day(ts) <= 15) AS ref FROM events),
        |r AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        |      FROM t WHERE ref GROUP BY event_type),
        |b AS (SELECT t.event_type,
        |        CAST(least(greatest(CASE WHEN hi - lo <= 0 THEN 0
        |          ELSE floor((value - lo) / (hi - lo) * 10) END, 0), 9)
        |          AS BIGINT) AS bin,
        |        ref
        |      FROM t JOIN r ON t.event_type = r.event_type),
        |c AS (SELECT event_type, bin,
        |        sum(CASE WHEN ref THEN 1 ELSE 0 END) AS rc,
        |        sum(CASE WHEN ref THEN 0 ELSE 1 END) AS cc
        |      FROM b GROUP BY event_type, bin),
        |w AS (SELECT event_type, rc, cc,
        |        sum(rc) OVER (PARTITION BY event_type) AS nr,
        |        sum(cc) OVER (PARTITION BY event_type) AS nc
        |      FROM c),
        |p AS (SELECT event_type,
        |        (rc + 0.5) / (nr + 5.0) AS p,
        |        (cc + 0.5) / (nc + 5.0) AS q,
        |        nr, nc
        |      FROM w)
        |SELECT event_type,
        |  roundStable(sum((p * ln(p / ((p + q) / 2))
        |    + q * ln(q / ((p + q) / 2))) / 2), 6) AS jsd,
        |  CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q181_pettitt", (s, dir) => {
      // WHERE did the series shift: rank-based changepoint per type over
      // the daily mean series, no reference window needed (the cusum
      // complement); a +50 step planted after day 15 on the error type
      // must localize there with a tiny p, untouched types stay flat
      val ev = Tables.events(s, dir).withColumn("value",
        when(col("event_type") === "error" && dayofmonth(col("ts")) > 15,
          col("value") + 50).otherwise(col("value")))
      etl.Drift.pettitt(ev, Seq("event_type"), to_date(col("ts")), "value")
        .orderBy(col("event_type"))
    },
      // U_t = 2*W_t - t*(n+1) over midranks, argmax with earliest-day
      // tiebreak, the same 2*exp(-6K^2/(n^3+n^2)) significance
      """WITH e AS (SELECT event_type AS k, CAST(ts AS DATE) AS b,
        |    CASE WHEN event_type = 'error' AND day(ts) > 15
        |      THEN value + 50 ELSE value END AS val FROM events),
        |d AS (SELECT k, b, roundStable(avg(val), 6) AS v
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT k, b,
        |    CAST(rank() OVER (PARTITION BY k ORDER BY v) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY k, v) AS DOUBLE) - 1) / 2
        |      AS rr,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY b) AS DOUBLE)
        |      AS t
        |  FROM d),
        |u AS (SELECT k, b, n, t,
        |    2.0 * sum(rr) OVER (PARTITION BY k ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - t * (n + 1) AS uu
        |  FROM r),
        |f AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY abs(uu) DESC, b) AS rk
        |  FROM u WHERE t < n OR n = 1)
        |SELECT k AS event_type,
        |  CASE WHEN n >= 3 THEN b END AS change_at,
        |  roundStable(CASE WHEN n >= 3 THEN abs(uu) END, 6) AS k_stat,
        |  roundStable(CASE WHEN n >= 3 THEN least(
        |    2.0 * exp(-6.0 * uu * uu / (CAST(n AS DOUBLE) * n * n
        |      + CAST(n AS DOUBLE) * n)), 1.0) END, 6) AS p_value,
        |  n AS n_buckets
        |FROM f WHERE rk = 1 ORDER BY event_type""".stripMargin),

    Query("q187_bh_fdr", (s, dir) => {
      // the monitor-fleet capstone: a 150-user Pettitt changepoint
      // battery with a shift planted on every 10th user, then
      // Benjamini-Hochberg at alpha=0.05 — the shifted users must
      // survive FDR control, the quiet ones mostly shouldn't
      val ev = Tables.events(s, dir).withColumn("value",
        when(col("user_id") % 10 === 0 && dayofmonth(col("ts")) > 15,
          col("value") + 80).otherwise(col("value")))
      val battery = etl.Drift.pettitt(ev, Seq("user_id"),
        to_date(col("ts")), "value")
      etl.Drift.bhAdjust(battery.select(col("user_id"), col("p_value")),
          Seq("user_id"), "p_value", alpha = 0.05)
        .orderBy(col("user_id"))
    },
      // the q181 per-user Pettitt battery (shift on every 10th user),
      // then the BH step-up: rank window, suffix-min window, clamp
      """WITH e AS (SELECT user_id AS k, CAST(ts AS DATE) AS b,
        |    CASE WHEN user_id % 10 = 0 AND day(ts) > 15
        |      THEN value + 80 ELSE value END AS val FROM events),
        |d AS (SELECT k, b, roundStable(avg(val), 6) AS v
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT k, b,
        |    CAST(rank() OVER (PARTITION BY k ORDER BY v) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY k, v) AS DOUBLE) - 1) / 2
        |      AS rr,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY b) AS DOUBLE)
        |      AS t
        |  FROM d),
        |u AS (SELECT k, b, n, t,
        |    2.0 * sum(rr) OVER (PARTITION BY k ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - t * (n + 1) AS uu
        |  FROM r),
        |f AS (SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY abs(uu) DESC, b) AS rk
        |  FROM u WHERE t < n OR n = 1),
        |pt AS (SELECT k AS user_id,
        |    roundStable(CASE WHEN n >= 3 THEN least(
        |      2.0 * exp(-6.0 * uu * uu / (CAST(n AS DOUBLE) * n * n
        |        + CAST(n AS DOUBLE) * n)), 1.0) END, 6) AS p_value
        |  FROM f WHERE rk = 1),
        |bh AS (SELECT user_id, p_value,
        |    CAST(row_number() OVER (ORDER BY p_value, user_id) AS BIGINT)
        |      AS rank,
        |    count(*) OVER () AS m
        |  FROM pt WHERE p_value IS NOT NULL),
        |adj AS (SELECT user_id, p_value, rank,
        |    roundStable(least(min(p_value * m / rank) OVER (
        |      ORDER BY p_value DESC, user_id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6)
        |      AS q_value
        |  FROM bh)
        |SELECT user_id, p_value, rank, q_value, q_value <= 0.05 AS rejected
        |FROM adj
        |UNION ALL
        |SELECT user_id, p_value, CAST(NULL AS BIGINT),
        |  CAST(NULL AS DOUBLE), false
        |FROM pt WHERE p_value IS NULL
        |ORDER BY user_id""".stripMargin),

    Query("q202_auc", (s, dir) =>
      // threshold-free ranking power per cohort via the rank identity
      // AUC = (Σranks⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻) — tie-exact midranks, state
      // O(#distinct scores) per key
      etl.MlEval.auc(
          Tables.events(s, dir)
            .withColumn("cohort", (col("user_id") % 5).cast("long")),
          Seq("cohort"), col("value"), col("event_type") === "purchase")
        .orderBy(col("cohort")),
      // the q132 midrank staging, closed by the AUC identity instead
      // of the z statistic
      """WITH c AS (SELECT user_id % 5 AS cohort, value AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS cb
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT cohort, ca, cb, ca + cb AS t,
        |    sum(ca + cb) OVER (PARTITION BY cohort ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) - (ca + cb) AS below,
        |    sum(ca) OVER (PARTITION BY cohort) AS na,
        |    sum(cb) OVER (PARTITION BY cohort) AS nb FROM c),
        |r AS (SELECT cohort,
        |    (CAST(below AS DOUBLE) + CAST(t + 1 AS DOUBLE) / 2) * ca AS ra,
        |    na, nb FROM w)
        |SELECT cohort,
        |  roundStable(CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |    (sum(ra) - CAST(max(na) AS DOUBLE)
        |      * (CAST(max(na) AS DOUBLE) + 1) / 2)
        |    / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) END, 6)
        |    AS auc,
        |  CAST(max(na) AS BIGINT) AS n_pos, CAST(max(nb) AS BIGINT) AS n_neg
        |FROM r GROUP BY 1 ORDER BY cohort""".stripMargin),

    Query("q203_calibration", (s, dir) =>
      // reliability bins + ECE terms for a [0,1] score (value/500
      // clamped): per-bin confidence vs observed rate — map-side
      // equal-width binning, the scale path of the eval family
      etl.MlEval.calibration(Tables.events(s, dir),
          least(col("value") / 500, lit(1.0)),
          col("event_type") === "purchase", bins = 10)
        .orderBy(col("bin")),
      // identical rounded-score binning and per-bin means
      """WITH b AS (SELECT
        |    roundStable(least(value / 500, CAST(1 AS DOUBLE)), 9) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT CAST(least(floor(s * 10), 9) AS BIGINT) AS bin,
        |    count(*) AS n, avg(s) AS conf, avg(y) AS acc FROM b GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM g)
        |SELECT bin, n, roundStable(conf, 6) AS confidence,
        |  roundStable(acc, 6) AS accuracy,
        |  roundStable(CAST(n AS DOUBLE) / tot * abs(acc - conf), 6)
        |    AS ece_term
        |FROM g CROSS JOIN t ORDER BY bin""".stripMargin),

    Query("q204_gains", (s, dir) =>
      // decile gains/lift for the same score: explicit rank-arithmetic
      // buckets (never ntile — engine-specific tie placement)
      etl.MlEval.gainsTable(Tables.events(s, dir),
          least(col("value") / 500, lit(1.0)),
          col("event_type") === "purchase", tieCol = col("event_id"),
          parts = 10)
        .orderBy(col("bucket")),
      // the same (score desc, tie) rank and (rn-1)·parts DIV n buckets
      """WITH b AS (SELECT
        |    roundStable(least(value / 500, CAST(1 AS DOUBLE)), 9) AS s,
        |    event_id AS tie,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT s, y, row_number() OVER (ORDER BY s DESC, tie) AS rn,
        |    count(*) OVER () AS n FROM b),
        |g AS (SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS bucket,
        |    count(*) AS n, sum(y) AS np FROM r GROUP BY 1),
        |t AS (SELECT sum(n) AS tot, sum(np) AS totp FROM g),
        |c AS (SELECT bucket, n, np, sum(np) OVER (ORDER BY bucket
        |    ROWS UNBOUNDED PRECEDING) AS cump FROM g)
        |SELECT c.bucket, c.n, CAST(c.np AS BIGINT) AS n_pos,
        |  roundStable(CASE WHEN totp > 0
        |    THEN CAST(cump AS DOUBLE) / totp END, 6) AS capture_rate,
        |  roundStable(CASE WHEN totp > 0 THEN (CAST(np AS DOUBLE) / c.n)
        |    / (CAST(totp AS DOUBLE) / tot) END, 6) AS lift
        |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin),

    Query("q205_conformal", (s, dir) => {
      // split-conformal upper bound per type at alpha=0.1 (calibrate on
      // even event_ids, check empirical coverage on odd) — a threshold
      // with a finite-sample guarantee instead of a vibe
      val ev = Tables.events(s, dir)
      val thr = etl.MlEval.conformalThreshold(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"),
        col("value"), col("event_id"), alpha = 0.1)
      ev.filter(col("event_id") % 2 === 1)
        .join(thr, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("qhat")).as("qhat"), max(col("n_cal")).as("n_cal"),
          max(col("guaranteed_cov")).as("guaranteed_cov"),
          count(lit(1)).as("n_test"),
          roundStable(avg((col("value") <= col("qhat")).cast("double")), 6)
            .as("test_cov"))
        .orderBy(col("event_type"))
    },
      // the ⌈(n+1)(1−α)⌉ order statistic with (1 − α) spelled as the
      // same IEEE subtraction, then the odd-half coverage check
      """WITH cal AS (SELECT event_type, value AS v, event_id AS tie
        |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
        |r AS (SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, tie)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM cal),
        |k AS (SELECT event_type, v, rn, n,
        |    CAST(ceil((n + 1) * (1 - CAST(0.1 AS DOUBLE))) AS BIGINT) AS kk
        |  FROM r),
        |th AS (SELECT event_type,
        |    roundStable(min(CASE WHEN kk <= n THEN v END), 6) AS qhat,
        |    CAST(max(n) AS BIGINT) AS n_cal,
        |    roundStable(max(CAST(kk AS DOUBLE) / (n + 1)), 6) AS gcov
        |  FROM k WHERE rn = least(kk, n) GROUP BY 1),
        |te AS (SELECT event_type, value FROM events WHERE event_id % 2 = 1)
        |SELECT te.event_type, th.qhat, th.n_cal,
        |  th.gcov AS guaranteed_cov, count(*) AS n_test,
        |  roundStable(avg(CASE WHEN te.value <= th.qhat
        |    THEN 1.0 ELSE 0.0 END), 6) AS test_cov
        |FROM te JOIN th USING (event_type)
        |GROUP BY 1, 2, 3, 4 ORDER BY te.event_type""".stripMargin),

    Query("q209_density_ratio", (s, dir) =>
      // the cure to the drift q125 diagnoses: per-(type, bin)
      // importance weights p/q that make current-window averages
      // estimate reference-window expectations again
      etl.Drift.densityRatio(Tables.events(s, dir), Seq("event_type"),
          "value", isRef = dayofmonth(col("ts")) <= 15, bins = 10)
        .orderBy(col("event_type"), col("bin")),
      // the q125 binning replay closed by p/q instead of the PSI term
      """WITH t AS (SELECT event_type, value,
        |    (day(ts) <= 15) AS ref FROM events),
        |r AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM t WHERE ref GROUP BY event_type),
        |b AS (SELECT t.event_type, r.lo, r.hi,
        |    CAST(least(greatest(CASE WHEN hi - lo <= 0 THEN 0
        |      ELSE floor((value - lo) / (hi - lo) * 10) END, 0), 9)
        |      AS BIGINT) AS bin,
        |    ref
        |  FROM t JOIN r ON t.event_type = r.event_type),
        |c AS (SELECT event_type, bin, min(lo) AS lo, min(hi) AS hi,
        |    sum(CASE WHEN ref THEN 1 ELSE 0 END) AS rc,
        |    sum(CASE WHEN ref THEN 0 ELSE 1 END) AS cc
        |  FROM b GROUP BY event_type, bin),
        |w AS (SELECT event_type, bin, lo, hi, rc, cc,
        |    sum(rc) OVER (PARTITION BY event_type) AS nr,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc
        |  FROM c)
        |SELECT event_type, bin, CAST(rc AS BIGINT) AS ref_n,
        |  CAST(cc AS BIGINT) AS cur_n, lo, hi,
        |  roundStable(((rc + 0.5) / (nr + 5.0))
        |    / ((cc + 0.5) / (nc + 5.0)), 6) AS weight
        |FROM w ORDER BY event_type, bin""".stripMargin),

    Query("q212_psi_quantile", (s, dir) =>
      // the PSI variant risk teams standardize on: reference-DECILE
      // bins (equal mass by construction — an outlier can't stretch
      // the range until drift hides in two bins)
      etl.Drift.psiQuantileBins(Tables.events(s, dir), Seq("event_type"),
          "value", isRef = dayofmonth(col("ts")) <= 15, bins = 10)
        .orderBy(col("event_type")),
      // reference-decile edges as exact order statistics, value > edge
      // counting, the q125 smoothing
      """WITH t AS (SELECT event_type, value,
        |    (day(ts) <= 15) AS ref FROM events),
        |rr AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM t WHERE ref),
        |ed AS (SELECT event_type,
        |    list_sort(list(DISTINCT value)) AS edges
        |  FROM rr WHERE rn IN ((n * 1 + 9) // 10, (n * 2 + 9) // 10,
        |    (n * 3 + 9) // 10, (n * 4 + 9) // 10, (n * 5 + 9) // 10,
        |    (n * 6 + 9) // 10, (n * 7 + 9) // 10, (n * 8 + 9) // 10,
        |    (n * 9 + 9) // 10)
        |  GROUP BY 1),
        |b AS (SELECT t.event_type, t.ref,
        |    len([e FOR e IN ed.edges IF t.value > e]) AS bin
        |  FROM t JOIN ed USING (event_type)),
        |c AS (SELECT event_type, bin,
        |    sum(CASE WHEN ref THEN 1 ELSE 0 END) AS rc,
        |    sum(CASE WHEN ref THEN 0 ELSE 1 END) AS cc
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT event_type, rc, cc,
        |    sum(rc) OVER (PARTITION BY event_type) AS nr,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc
        |  FROM c)
        |SELECT event_type,
        |  roundStable(sum(((rc + 0.5) / (nr + 5.0) - (cc + 0.5) / (nc + 5.0))
        |    * ln(((rc + 0.5) / (nr + 5.0)) / ((cc + 0.5) / (nc + 5.0)))), 6)
        |    AS psi,
        |  CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q215_wasserstein", (s, dir) =>
      // the drift family's magnitude axis: earth-mover distance in the
      // value's own units (KS reads the worst CDF gap, PSI binned mass
      // ratios; W1 says how FAR the mass moved)
      etl.Drift.wasserstein1(Tables.events(s, dir), Seq("event_type"),
          "value", isRef = dayofmonth(col("ts")) <= 15)
        .orderBy(col("event_type")),
      // same construction: (key, value) side counts, cumulative CDFs,
      // each gap weighted by the distance to the next value
      """WITH t AS (SELECT event_type, value AS v,
        |    (day(ts) <= 15) AS ref FROM events),
        |c AS (SELECT event_type, v,
        |    sum(CASE WHEN ref THEN 1 ELSE 0 END) AS rc,
        |    sum(CASE WHEN ref THEN 0 ELSE 1 END) AS cc
        |  FROM t GROUP BY 1, 2),
        |w AS (SELECT event_type, v,
        |    sum(rc) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crc,
        |    sum(cc) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccc,
        |    sum(rc) OVER (PARTITION BY event_type) AS nr,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc,
        |    lead(v) OVER (PARTITION BY event_type ORDER BY v) AS nxt,
        |    max(v) OVER (PARTITION BY event_type)
        |      - min(v) OVER (PARTITION BY event_type) AS rng
        |  FROM c)
        |SELECT event_type,
        |  roundStable(sum(CASE WHEN nr > 0 AND nc > 0 THEN
        |    abs(CAST(crc AS DOUBLE) / nr - CAST(ccc AS DOUBLE) / nc)
        |      * coalesce(nxt - v, 0) END), 6) AS w1,
        |  roundStable(CASE WHEN max(rng) > 0 THEN
        |    sum(CASE WHEN nr > 0 AND nc > 0 THEN
        |      abs(CAST(crc AS DOUBLE) / nr - CAST(ccc AS DOUBLE) / nc)
        |        * coalesce(nxt - v, 0) END) / max(rng) END, 6) AS w1_norm,
        |  CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q217_mutual_info", (s, dir) =>
      // information-theoretic companion to q152's chi2 on the same
      // per-source lang x length contingency: MI in nats + NMI on [0,1]
      etl.Drift.mutualInfo(
          Tables.documents(s, dir).withColumn("len_class",
            when(col("n_chars") >= 300, lit("long")).otherwise(lit("short"))),
          Seq("source"), "lang", "len_class")
        .orderBy(col("source")),
      // observed cells only; marginal entropies fold over the same cell
      // rows via sum_b n_ab = n_a
      """WITH cells AS (SELECT source, lang AS a,
        |    CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS b,
        |    CAST(count(*) AS DOUBLE) AS o
        |  FROM documents GROUP BY 1, 2, 3),
        |m AS (SELECT source, o,
        |    sum(o) OVER (PARTITION BY source) AS n,
        |    sum(o) OVER (PARTITION BY source, a) AS na,
        |    sum(o) OVER (PARTITION BY source, b) AS nb
        |  FROM cells)
        |SELECT source,
        |  roundStable(sum((o / n) * ln(o * n / (na * nb))), 6) AS mi,
        |  roundStable(sum(-(o / n) * ln(na / n)), 6) AS h_a,
        |  roundStable(sum(-(o / n) * ln(nb / n)), 6) AS h_b,
        |  roundStable(CASE WHEN sum(-(o / n) * ln(na / n)) > 0
        |      AND sum(-(o / n) * ln(nb / n)) > 0
        |    THEN sum((o / n) * ln(o * n / (na * nb)))
        |      / sqrt(sum(-(o / n) * ln(na / n))
        |           * sum(-(o / n) * ln(nb / n))) END, 6) AS nmi,
        |  CAST(max(n) AS BIGINT) AS n,
        |  count(*) AS n_cells
        |FROM m GROUP BY source ORDER BY source""".stripMargin),

    Query("q224_qq_shift", (s, dir) =>
      // WHERE in the distribution did it drift: per-decile shift
      // function (KS says THAT, W1 says HOW MUCH, this says WHERE)
      etl.Drift.qqShift(Tables.events(s, dir), Seq("event_type"), "value",
          isRef = dayofmonth(col("ts")) <= 15)
        .orderBy(col("event_type"), col("decile")),
      // same interpolated quantiles both sides, list-indexed per decile
      """WITH t AS (SELECT event_type, value,
        |    (day(ts) <= 15) AS ref FROM events),
        |q AS (SELECT event_type,
        |    quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
        |      0.8, 0.9]) FILTER (WHERE ref) AS qr,
        |    quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
        |      0.8, 0.9]) FILTER (WHERE NOT ref) AS qc
        |  FROM t GROUP BY 1),
        |i AS (SELECT unnest(range(1, 10)) AS d)
        |SELECT event_type, CAST(d AS BIGINT) AS decile,
        |  roundStable(qr[CAST(d AS INT)], 6) AS q_ref,
        |  roundStable(qc[CAST(d AS INT)], 6) AS q_cur,
        |  roundStable(qc[CAST(d AS INT)] - qr[CAST(d AS INT)], 6) AS shift
        |FROM q, i ORDER BY event_type, decile""".stripMargin),

    Query("q231_brier", (s, dir) =>
      // Brier + the exact Murphy decomposition on q202's cohort
      // staging: REL (calibration gap) - RES (separation) + UNC (base
      // rate's own entropy) — catches calibrated-but-useless, ECE can't
      etl.MlEval.brierDecomposition(
          Tables.events(s, dir)
            .withColumn("cohort", (col("user_id") % 5).cast("long")),
          Seq("cohort"), least(col("value") / 500, lit(1.0)),
          col("event_type") === "purchase")
        .orderBy(col("cohort")),
      // distinct-score cells make Murphy an identity:
      // sum(s-y)^2 over a cell = n*s^2 - 2*s*pos + pos since y^2 = y
      """WITH t AS (SELECT CAST(user_id % 5 AS BIGINT) AS cohort,
        |    roundStable(least(value / 500, 1.0), 9) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events),
        |c AS (SELECT cohort, s, CAST(count(*) AS DOUBLE) AS n,
        |    sum(y) AS pos FROM t GROUP BY 1, 2),
        |w AS (SELECT *, sum(n) OVER (PARTITION BY cohort) AS nt,
        |    sum(pos) OVER (PARTITION BY cohort)
        |      / sum(n) OVER (PARTITION BY cohort) AS ybar
        |  FROM c)
        |SELECT cohort,
        |  roundStable(sum(n * s * s - 2.0 * s * pos + pos) / max(nt), 6)
        |    AS brier,
        |  roundStable(sum(n * (s - pos / n) * (s - pos / n)) / max(nt), 6)
        |    AS reliability,
        |  roundStable(sum(n * (pos / n - ybar) * (pos / n - ybar))
        |    / max(nt), 6) AS resolution,
        |  roundStable(max(ybar) * (1.0 - max(ybar)), 6) AS uncertainty,
        |  roundStable(max(ybar), 6) AS base_rate,
        |  CAST(max(nt) AS BIGINT) AS n
        |FROM w GROUP BY cohort ORDER BY cohort""".stripMargin),

    Query("q240_page_hinkley", (s, dir) =>
      // the no-baseline sequential monitor: deviations from the series'
      // OWN running mean (CUSUM's q143 needs a calibrated reference)
      etl.Drift.pageHinkley(Tables.events(s, dir), Seq("event_type"),
          "value", orderCol = col("ts"), tieCol = col("event_id"),
          delta = 1.0, lambda = 200.0)
        .orderBy(col("event_type")),
      // same running-mean deviations, same prefix sums and running
      // mins, same unrounded alarm thresholds
      """WITH o AS (SELECT event_type, ts, event_id, value,
        |    avg(value) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mu
        |  FROM events),
        |m AS (SELECT event_type, ts, event_id,
        |    sum(value - mu - 1.0) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mup,
        |    sum(mu - value - 1.0) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mlo
        |  FROM o),
        |p AS (SELECT event_type, ts,
        |    mup - min(mup) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS php,
        |    mlo - min(mlo) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phl
        |  FROM m)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN php > 200.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms,
        |  min(CASE WHEN php > 200.0 THEN ts END) AS first_alarm_at,
        |  roundStable(max(php), 6) AS max_ph,
        |  CAST(sum(CASE WHEN phl > 200.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms_lo,
        |  min(CASE WHEN phl > 200.0 THEN ts END) AS first_alarm_lo_at,
        |  roundStable(max(phl), 6) AS max_ph_lo,
        |  count(*) AS n
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q294_isotonic", (s, dir) =>
      // monotone (PAV) calibration of the q203 score via the minimax
      // identity — pure relational over the 20-bin reduction
      etl.MlEval.isotonicCalibration(Tables.events(s, dir),
          least(col("value") / 500, lit(1.0)),
          col("event_type") === "purchase", bins = 20)
        .orderBy(col("bin")),
      // the same 20-bin reduction, interval means from inclusive prefix
      // sums, and the minimax identity over (k, i, j) triples
      """WITH b AS (SELECT
        |    roundStable(least(value / 500, CAST(1 AS DOUBLE)), 9) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT CAST(least(floor(s * 20), 19) AS BIGINT) AS bin,
        |    CAST(count(*) AS DOUBLE) AS n, avg(s) AS conf, sum(y) AS pos
        |  FROM b GROUP BY 1),
        |c AS (SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
        |    sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
        |  FROM g),
        |iv AS (SELECT a.bin AS i, j.bin AS j,
        |    (j.cp - (a.cp - a.pos)) / (j.cn - (a.cn - a.n)) AS av
        |  FROM c a JOIN c j ON a.bin <= j.bin),
        |mm AS (SELECT k.bin AS bin, iv.i, min(iv.av) AS m
        |  FROM c k JOIN iv ON iv.i <= k.bin AND k.bin <= iv.j
        |  GROUP BY 1, 2),
        |f AS (SELECT bin, max(m) AS fit FROM mm GROUP BY 1)
        |SELECT g.bin, CAST(g.n AS BIGINT) AS n,
        |  roundStable(g.conf, 6) AS confidence,
        |  roundStable(g.pos / g.n, 6) AS accuracy,
        |  roundStable(f.fit, 6) AS iso_rate
        |FROM g JOIN f USING (bin) ORDER BY bin""".stripMargin),

    Query("q295_dispersion", (s, dir) =>
      // are arrivals Poisson or clumped: variance/mean of per-
      // (user, day) counts per type, Fisher chi-square + z
      etl.Drift.dispersionIndex(Tables.events(s, dir), Seq("event_type"),
          unitCols = Seq(col("user_id"), to_date(col("ts"))))
        .orderBy(col("event_type")),
      // same occupied-unit counts and the identical moment arithmetic
      """WITH u AS (SELECT event_type, user_id, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(c) AS s1, sum(c * c) AS s2 FROM u GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_units,
        |  CAST(s1 AS BIGINT) AS n_events,
        |  roundStable(s1 / n, 6) AS mean_per_unit,
        |  roundStable(CASE WHEN n > 1 AND s1 / n > 0 THEN
        |    ((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) / (s1 / n)
        |    END, 6) AS dispersion,
        |  roundStable(CASE WHEN n > 1 AND s1 / n > 0 THEN
        |    (n - 1) * (((s2 - n * (s1 / n) * (s1 / n)) / (n - 1))
        |      / (s1 / n)) END, 6) AS chi2,
        |  roundStable(CASE WHEN n > 1 AND s1 / n > 0 THEN
        |    sqrt(2.0 * ((n - 1) * (((s2 - n * (s1 / n) * (s1 / n)) / (n - 1))
        |        / (s1 / n))))
        |      - sqrt(2.0 * (n - 1) - 1) END, 6) AS z
        |FROM s ORDER BY event_type""".stripMargin),

    Query("q308_cochran_armitage", (s, dir) =>
      // does the high-value rate RISE across the month (1-df monotone
      // trend — seen long before the omnibus chi-square flags)
      etl.Drift.cochranArmitage(Tables.events(s, dir),
          Seq("event_type"), scoreCol = dayofmonth(col("ts")),
          isSuccess = col("value") > 250)
        .orderBy(col("event_type")),
      // same (key, score) cells, same T / Var fold
      """WITH c AS (SELECT event_type, CAST(day(ts) AS DOUBLE) AS w,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(CASE WHEN value > 250 THEN 1.0 ELSE 0.0 END) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n_groups, sum(n) AS nn,
        |    sum(x) AS xx, sum(w * x) AS wx, sum(w * n) AS wn,
        |    sum(n * w * w) AS wwn FROM c GROUP BY 1)
        |SELECT event_type, n_groups, CAST(nn AS BIGINT) AS n,
        |  CAST(xx AS BIGINT) AS n_success,
        |  roundStable(xx / nn, 6) AS p_bar,
        |  roundStable(wx - xx / nn * wn, 6) AS t_stat,
        |  roundStable(CASE WHEN
        |      xx / nn * (1.0 - xx / nn) * (wwn - wn * wn / nn) > 0 THEN
        |    (wx - xx / nn * wn) / sqrt(xx / nn * (1.0 - xx / nn)
        |      * (wwn - wn * wn / nn)) END, 6) AS z
        |FROM s ORDER BY event_type""".stripMargin),

    Query("q310_negbin", (s, dir) =>
      // once q295 says counts are clumped, NB MoM says HOW clumped and
      // predicts the silent-unit share p^r a Poisson model misses
      etl.Drift.negbinFit(Tables.events(s, dir), Seq("event_type"),
          unitCols = Seq(col("user_id"), to_date(col("ts"))))
        .orderBy(col("event_type")),
      // same occupied-unit moments as q295, MoM inversion + p^r
      """WITH u AS (SELECT event_type, user_id, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(c) AS s1, sum(c * c) AS s2 FROM u GROUP BY 1),
        |m AS (SELECT event_type, n, s1 / n AS mean,
        |    CASE WHEN n > 1 THEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1)
        |      END AS v FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n_units,
        |  roundStable(mean, 6) AS mean,
        |  roundStable(v, 6) AS variance,
        |  roundStable(CASE WHEN n > 1 AND mean > 0 AND v > mean THEN
        |    mean * mean / (v - mean) END, 6) AS r_hat,
        |  roundStable(CASE WHEN n > 1 AND mean > 0 AND v > mean THEN
        |    mean / v END, 6) AS p_hat,
        |  roundStable(CASE WHEN n > 1 AND mean > 0 AND v > mean THEN
        |    pow(mean / v, mean * mean / (v - mean)) END, 6) AS p0_hat
        |FROM m ORDER BY event_type""".stripMargin),

    Query("q322_friedman", (s, dir) =>
      // is one type's daily mean RELIABLY highest day after day:
      // within-day ranks cancel day-level shifts (the nonparametric
      // repeated-measures test)
      etl.Drift.friedman(Tables.events(s, dir),
          blockCol = to_date(col("ts")), treatmentCol = col("event_type"),
          valueCol = col("value"))
        .orderBy(col("treatment")),
      // same rounded cells, complete blocks only, mean ranks on ties,
      // same uncorrected Q
      """WITH cells AS (SELECT CAST(ts AS DATE) AS b, event_type AS t,
        |    roundStable(avg(value), 6) AS v FROM events GROUP BY 1, 2),
        |k AS (SELECT count(DISTINCT t) AS k FROM cells),
        |comp AS (SELECT c.* FROM cells c
        |  JOIN (SELECT b, count(*) AS bc FROM cells GROUP BY 1) x
        |    USING (b), k WHERE x.bc = k.k),
        |r AS (SELECT *, rank() OVER (PARTITION BY b ORDER BY v)
        |    + (count(*) OVER (PARTITION BY b, v) - 1) / 2.0 AS rr
        |  FROM comp),
        |bt AS (SELECT t AS treatment, count(*) AS nb, sum(rr) AS rs
        |  FROM r GROUP BY 1),
        |q AS (SELECT bt.*, 12.0 / (nb * k.k * (k.k + 1))
        |    * sum(rs * rs) OVER () - 3.0 * nb * (k.k + 1) AS qs
        |  FROM bt, k)
        |SELECT treatment, CAST(nb AS BIGINT) AS n_blocks,
        |  roundStable(rs, 6) AS rank_sum,
        |  roundStable(rs / nb, 6) AS mean_rank,
        |  roundStable(qs, 6) AS q_stat
        |FROM q ORDER BY treatment""".stripMargin),

    Query("q324_dau_stickiness", (s, dir) =>
      // DAU/WAU/MAU over the observed-day spine with trailing
      // calendar ranges (silent days still age users out)
      etl.Growth.dauStickiness(Tables.events(s, dir), col("user_id"),
          col("ts"))
        .orderBy(col("day")),
      // same day-spine range join, same conditional distincts
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events),
        |udi AS (SELECT u, d,
        |    datediff('day', DATE '1970-01-01', d) AS di FROM ud),
        |sp AS (SELECT DISTINCT d AS day, di AS si FROM udi),
        |j AS (SELECT sp.day, sp.si, udi.u, udi.di FROM udi
        |  JOIN sp ON udi.di <= sp.si AND udi.di >= sp.si - 29)
        |SELECT day,
        |  count(DISTINCT CASE WHEN di = si THEN u END) AS dau,
        |  count(DISTINCT CASE WHEN di >= si - 6 THEN u END) AS wau,
        |  count(DISTINCT u) AS mau,
        |  roundStable(CAST(count(DISTINCT CASE WHEN di = si THEN u END)
        |    AS DOUBLE) / count(DISTINCT u), 6) AS stickiness
        |FROM j GROUP BY 1 ORDER BY day""".stripMargin),

    Query("q325_growth_accounting", (s, dir) =>
      // weekly new/retained/resurrected/churned identity + quick
      // ratio: is the bucket filling faster than it leaks
      etl.Growth.growthAccounting(Tables.events(s, dir),
          col("user_id"), col("ts"))
        .orderBy(col("week")),
      // same lag/lead lifecycle states, churn landed in the silent
      // week, active-week output spine
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
        |m AS (SELECT *, lag(w) OVER (PARTITION BY u ORDER BY w) AS pv,
        |    lead(w) OVER (PARTITION BY u ORDER BY w) AS nx FROM uw),
        |st AS (SELECT *, CASE WHEN pv IS NULL THEN 'new'
        |    WHEN datediff('day', pv, w) = 7 THEN 'retained'
        |    ELSE 'resurrected' END AS s FROM m),
        |act AS (SELECT w AS week, count(*) AS n_active,
        |    CAST(sum(CASE WHEN s = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN s = 'retained' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN s = 'resurrected' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM st GROUP BY 1),
        |ch AS (SELECT w + 7 AS week, count(*) AS c FROM st
        |  WHERE nx IS NULL OR datediff('day', w, nx) > 7 GROUP BY 1)
        |SELECT a.week, a.n_active, a.n_new, a.n_retained,
        |  a.n_resurrected, coalesce(ch.c, 0) AS n_churned,
        |  roundStable(CASE WHEN coalesce(ch.c, 0) > 0 THEN
        |    CAST(a.n_new + a.n_resurrected AS DOUBLE) / ch.c END, 6)
        |    AS quick_ratio
        |FROM act a LEFT JOIN ch USING (week) ORDER BY week""".stripMargin),

    Query("q326_power_users", (s, dir) =>
      // the engagement histogram a mean DAU hides: users by active-day
      // count with cumulative user/activity shares from the top
      etl.Growth.powerUserCurve(Tables.events(s, dir), col("user_id"),
          col("ts"))
        .orderBy(col("n_days")),
      // same histogram + top-down cumulative shares
      """WITH pu AS (SELECT user_id AS u,
        |    count(DISTINCT CAST(ts AS DATE)) AS nd
        |  FROM events GROUP BY 1),
        |h AS (SELECT nd AS n_days, count(*) AS n_users,
        |    nd * count(*) AS act FROM pu GROUP BY 1),
        |t AS (SELECT sum(n_users) AS tu, sum(act) AS ta FROM h),
        |c AS (SELECT h.*,
        |    sum(n_users) OVER (ORDER BY n_days DESC
        |      ROWS UNBOUNDED PRECEDING) AS cu,
        |    sum(act) OVER (ORDER BY n_days DESC
        |      ROWS UNBOUNDED PRECEDING) AS ca FROM h)
        |SELECT n_days, n_users,
        |  roundStable(CAST(n_users AS DOUBLE) / t.tu, 6) AS user_share,
        |  roundStable(CAST(act AS DOUBLE) / t.ta, 6) AS activity_share,
        |  roundStable(CAST(cu AS DOUBLE) / t.tu, 6) AS cum_user_share,
        |  roundStable(CAST(ca AS DOUBLE) / t.ta, 6)
        |    AS cum_activity_share
        |FROM c, t ORDER BY n_days""".stripMargin),

    Query("q330_msprt", (s, dir) =>
      // always-valid sequential A/B p-value per day: peeking daily at
      // this never inflates false positives (mSPRT, τ = 10)
      etl.Experiment.msprt(Tables.events(s, dir), Seq("event_type"),
          col("ts"), isTreat = col("user_id") % 2 === 0,
          valueCol = col("value"), tau = 10.0)
        .orderBy(col("event_type"), col("day")),
      // same cumulative arm moments, same Λ and running-max p
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1.0 ELSE 0.0 END) AS na,
        |    sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END) AS sa,
        |    sum(CASE WHEN user_id % 2 = 0 THEN value * value ELSE 0.0
        |      END) AS qa,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 0.0 ELSE 1.0 END) AS nb,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 0.0 ELSE value END) AS sb,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 0.0 ELSE value * value
        |      END) AS qb
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT event_type, day,
        |    sum(na) OVER w AS cna, sum(sa) OVER w AS csa,
        |    sum(qa) OVER w AS cqa, sum(nb) OVER w AS cnb,
        |    sum(sb) OVER w AS csb, sum(qb) OVER w AS cqb
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)),
        |m AS (SELECT *,
        |    CASE WHEN cna > 0 THEN csa / cna END AS ma,
        |    CASE WHEN cnb > 0 THEN csb / cnb END AS mb FROM c),
        |m2 AS (SELECT *, (cqa - cna * ma * ma + cqb - cnb * mb * mb)
        |    / (cna + cnb - 2) AS s2 FROM m),
        |l AS (SELECT *, ma - mb AS delta,
        |    CASE WHEN cna >= 2 AND cnb >= 2 AND s2 > 0 THEN
        |      s2 * (1.0 / cna + 1.0 / cnb) END AS vn FROM m2),
        |x AS (SELECT *, sqrt(vn / (vn + 100.0)) * exp(delta * delta
        |    * 100.0 / (2.0 * vn * (vn + 100.0))) AS lam FROM l),
        |y AS (SELECT *, max(lam) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS ml FROM x)
        |SELECT event_type, day, CAST(cna AS BIGINT) AS n_treat,
        |  CAST(cnb AS BIGINT) AS n_control,
        |  roundStable(delta, 6) AS delta, roundStable(lam, 6) AS lambda,
        |  roundStable(least(1.0, 1.0 / ml), 6) AS always_valid_p,
        |  coalesce(1.0 / ml < 0.05, false) AS significant
        |FROM y ORDER BY event_type, day""".stripMargin),

    Query("q331_ucb", (s, dir) =>
      // UCB1 arm scores: which arm the policy would pull next — the
      // exploration bonus is why a rarely-tried arm can outrank
      etl.Experiment.ucb1(Tables.events(s, dir), Seq("event_type"),
          armCol = concat(lit("arm"), col("user_id") % 3),
          isSuccess = col("value") > 250)
        .orderBy(col("event_type"), col("arm")),
      // same cells, same exploration bonus, argmax with arm tiebreak
      """WITH c AS (SELECT event_type,
        |    'arm' || CAST(user_id % 3 AS VARCHAR) AS arm,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(CASE WHEN value > 250 THEN 1.0 ELSE 0.0 END) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT *, sum(n) OVER (PARTITION BY event_type) AS nn
        |  FROM c),
        |u AS (SELECT *, roundStable(x / n + sqrt(2.0 * ln(nn) / n), 6)
        |    AS ucb FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY ucb DESC, arm) AS rk FROM u)
        |SELECT event_type, arm, CAST(n AS BIGINT) AS n,
        |  roundStable(x / n, 6) AS mean, ucb, (rk = 1) AS would_pull
        |FROM r ORDER BY event_type, arm""".stripMargin),

    Query("q332_srm", (s, dir) =>
      // the #1 A/B integrity gate: observed arm counts vs the
      // designed thirds, with per-arm Pearson residuals
      etl.Experiment.srm(Tables.events(s, dir), Seq("event_type"),
          armCol = col("user_id") % 3,
          expected = Seq(("0", 1.0 / 3), ("1", 1.0 / 3), ("2", 1.0 / 3)))
        .orderBy(col("event_type"), col("arm")),
      // same design grid (absent arms materialize at observed 0),
      // same Pearson residuals and GOF fold
      """WITH obs AS (SELECT event_type,
        |    CAST(user_id % 3 AS VARCHAR) AS arm,
        |    CAST(count(*) AS DOUBLE) AS o FROM events GROUP BY 1, 2),
        |design AS (SELECT unnest(['0', '1', '2']) AS arm,
        |    unnest([1.0 / 3, 1.0 / 3, 1.0 / 3]) AS f),
        |grid AS (SELECT DISTINCT obs.event_type, d.arm, d.f
        |  FROM obs, design d),
        |fl AS (SELECT g.event_type, g.arm, g.f, coalesce(o.o, 0.0) AS o
        |  FROM grid g LEFT JOIN obs o ON o.event_type = g.event_type
        |    AND o.arm = g.arm),
        |w AS (SELECT *, sum(o) OVER (PARTITION BY event_type) AS n
        |  FROM fl),
        |r AS (SELECT *, f * n AS e, (o - f * n) / sqrt(f * n) AS res
        |  FROM w)
        |SELECT event_type, arm, CAST(o AS BIGINT) AS observed,
        |  roundStable(e, 6) AS expected,
        |  roundStable(res, 6) AS pearson_residual,
        |  roundStable(sum(res * res) OVER (PARTITION BY event_type), 6)
        |    AS chi2
        |FROM r ORDER BY event_type, arm""".stripMargin),

    Query("q335_last_digit", (s, dir) =>
      // fabrication screen Benford can't see: last-digit uniformity
      // chi-square with the spiked digit named
      etl.Drift.lastDigitUniformity(Tables.events(s, dir),
          Seq("event_type"), col("value"))
        .orderBy(col("event_type")),
      // same materialized 10-digit grid, same GOF fold and argmax
      """WITH c AS (SELECT event_type,
        |    CAST(floor(abs(value)) % 10 AS INTEGER) AS d,
        |    CAST(count(*) AS DOUBLE) AS c FROM events
        |  WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT DISTINCT event_type FROM c),
        |grid AS (SELECT g.event_type, r.d FROM g CROSS JOIN
        |  (SELECT CAST(unnest(range(0, 10)) AS INTEGER) AS d) r),
        |f AS (SELECT grid.event_type, grid.d, coalesce(c.c, 0.0) AS c
        |  FROM grid LEFT JOIN c ON c.event_type = grid.event_type
        |    AND c.d = grid.d),
        |w AS (SELECT *, sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM f),
        |r AS (SELECT *, n / 10 AS e FROM w),
        |x AS (SELECT *, sum((c - e) * (c - e) / e) OVER
        |    (PARTITION BY event_type) AS chi2,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY c DESC, d) AS rk FROM r)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  roundStable(chi2, 6) AS chi2, d AS top_digit,
        |  roundStable(c / n, 6) AS top_share
        |FROM x WHERE rk = 1 ORDER BY event_type""".stripMargin),

    Query("q336_raking", (s, dir) => {
      // IPF: rake the second half's (type × dow) mix to the first
      // half's marginals — the survey-adjustment workhorse
      val e = Tables.events(s, dir)
      val ref = e.filter(dayofmonth(col("ts")) <= 15)
      val cur = e.filter(dayofmonth(col("ts")) > 15)
      etl.Weighting.rake(
          cur.groupBy(col("event_type"), weekday(col("ts")).as("dow"))
            .agg(count(lit(1)).as("n")),
          "event_type", "dow", col("n"),
          rowTargets = ref.groupBy(col("event_type"))
            .agg(count(lit(1)).as("target")),
          colTargets = ref.groupBy(weekday(col("ts")).as("dow"))
            .agg(count(lit(1)).as("target")),
          sweeps = 3)
        .orderBy(col("event_type"), col("dow"))
    },
      // same 3-sweep unroll (row then col), same zero guards
      """WITH cells AS (SELECT event_type, isodow(ts) - 1 AS dow,
        |    CAST(count(*) AS DOUBLE) AS n FROM events
        |  WHERE day(ts) > 15 GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS rt
        |  FROM events WHERE day(ts) <= 15 GROUP BY 1),
        |ct AS (SELECT isodow(ts) - 1 AS dow,
        |    CAST(count(*) AS DOUBLE) AS ct FROM events
        |  WHERE day(ts) <= 15 GROUP BY 1),
        |m0 AS (SELECT c.event_type, c.dow, c.n, rt.rt, ct.ct, c.n AS m
        |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow)),
        |a1 AS (SELECT *, CASE WHEN sum(m) OVER (PARTITION BY event_type)
        |    > 0 THEN m * rt / sum(m) OVER (PARTITION BY event_type)
        |    ELSE m END AS m1 FROM m0),
        |b1 AS (SELECT *, CASE WHEN sum(m1) OVER (PARTITION BY dow) > 0
        |    THEN m1 * ct / sum(m1) OVER (PARTITION BY dow)
        |    ELSE m1 END AS m2 FROM a1),
        |a2 AS (SELECT *, CASE WHEN sum(m2) OVER (PARTITION BY event_type)
        |    > 0 THEN m2 * rt / sum(m2) OVER (PARTITION BY event_type)
        |    ELSE m2 END AS m3 FROM b1),
        |b2 AS (SELECT *, CASE WHEN sum(m3) OVER (PARTITION BY dow) > 0
        |    THEN m3 * ct / sum(m3) OVER (PARTITION BY dow)
        |    ELSE m3 END AS m4 FROM a2),
        |a3 AS (SELECT *, CASE WHEN sum(m4) OVER (PARTITION BY event_type)
        |    > 0 THEN m4 * rt / sum(m4) OVER (PARTITION BY event_type)
        |    ELSE m4 END AS m5 FROM b2),
        |b3 AS (SELECT *, CASE WHEN sum(m5) OVER (PARTITION BY dow) > 0
        |    THEN m5 * ct / sum(m5) OVER (PARTITION BY dow)
        |    ELSE m5 END AS m6 FROM a3),
        |fin AS (SELECT event_type, dow, n, rt, m6,
        |    sum(m6) OVER (PARTITION BY event_type) AS rowsum FROM b3)
        |SELECT event_type, dow, CAST(n AS BIGINT) AS n,
        |  roundStable(m6, 6) AS raked,
        |  roundStable(CASE WHEN n > 0 THEN m6 / n END, 6) AS weight,
        |  roundStable(CASE WHEN rt > 0 THEN abs(rowsum - rt) / rt END,
        |    6) AS row_err
        |FROM fin ORDER BY event_type, dow""".stripMargin),

    Query("q337_ess", (s, dir) => {
      // what the q336 weights COST in precision: Kish ESS and design
      // effect per type over the raked cells
      val e = Tables.events(s, dir)
      val ref = e.filter(dayofmonth(col("ts")) <= 15)
      val cur = e.filter(dayofmonth(col("ts")) > 15)
      val raked = etl.Weighting.rake(
        cur.groupBy(col("event_type"), weekday(col("ts")).as("dow"))
          .agg(count(lit(1)).as("n")),
        "event_type", "dow", col("n"),
        rowTargets = ref.groupBy(col("event_type"))
          .agg(count(lit(1)).as("target")),
        colTargets = ref.groupBy(weekday(col("ts")).as("dow"))
          .agg(count(lit(1)).as("target")),
        sweeps = 3)
      etl.Weighting.essDeff(raked, Seq("event_type"), col("weight"),
          countCol = col("n"))
        .orderBy(col("event_type"))
    },
      // same rake chain, Kish ESS/deff over the ROUNDED weights
      """WITH cells AS (SELECT event_type, isodow(ts) - 1 AS dow,
        |    CAST(count(*) AS DOUBLE) AS n FROM events
        |  WHERE day(ts) > 15 GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS rt
        |  FROM events WHERE day(ts) <= 15 GROUP BY 1),
        |ct AS (SELECT isodow(ts) - 1 AS dow,
        |    CAST(count(*) AS DOUBLE) AS ct FROM events
        |  WHERE day(ts) <= 15 GROUP BY 1),
        |m0 AS (SELECT c.event_type, c.dow, c.n, rt.rt, ct.ct, c.n AS m
        |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow)),
        |a1 AS (SELECT *, CASE WHEN sum(m) OVER (PARTITION BY event_type)
        |    > 0 THEN m * rt / sum(m) OVER (PARTITION BY event_type)
        |    ELSE m END AS m1 FROM m0),
        |b1 AS (SELECT *, CASE WHEN sum(m1) OVER (PARTITION BY dow) > 0
        |    THEN m1 * ct / sum(m1) OVER (PARTITION BY dow)
        |    ELSE m1 END AS m2 FROM a1),
        |a2 AS (SELECT *, CASE WHEN sum(m2) OVER (PARTITION BY event_type)
        |    > 0 THEN m2 * rt / sum(m2) OVER (PARTITION BY event_type)
        |    ELSE m2 END AS m3 FROM b1),
        |b2 AS (SELECT *, CASE WHEN sum(m3) OVER (PARTITION BY dow) > 0
        |    THEN m3 * ct / sum(m3) OVER (PARTITION BY dow)
        |    ELSE m3 END AS m4 FROM a2),
        |a3 AS (SELECT *, CASE WHEN sum(m4) OVER (PARTITION BY event_type)
        |    > 0 THEN m4 * rt / sum(m4) OVER (PARTITION BY event_type)
        |    ELSE m4 END AS m5 FROM b2),
        |b3 AS (SELECT *, CASE WHEN sum(m5) OVER (PARTITION BY dow) > 0
        |    THEN m5 * ct / sum(m5) OVER (PARTITION BY dow)
        |    ELSE m5 END AS m6 FROM a3),
        |w AS (SELECT event_type, n,
        |    roundStable(CASE WHEN n > 0 THEN m6 / n END, 6) AS wt
        |  FROM b3),
        |s AS (SELECT event_type, sum(n) AS cn, sum(n * wt) AS sw,
        |    sum(n * wt * wt) AS sw2 FROM w GROUP BY 1)
        |SELECT event_type, CAST(cn AS BIGINT) AS n,
        |  roundStable(CASE WHEN sw2 > 0 THEN sw * sw / sw2 END, 6)
        |    AS ess,
        |  roundStable(CASE WHEN sw > 0 THEN cn * sw2 / (sw * sw) END,
        |    6) AS deff
        |FROM s ORDER BY event_type""".stripMargin),

    Query("q338_weight_trim", (s, dir) => {
      // the trimming trade-off on the same weights: cap at p80,
      // mass moved vs ESS recovered
      val e = Tables.events(s, dir)
      val ref = e.filter(dayofmonth(col("ts")) <= 15)
      val cur = e.filter(dayofmonth(col("ts")) > 15)
      val raked = etl.Weighting.rake(
        cur.groupBy(col("event_type"), weekday(col("ts")).as("dow"))
          .agg(count(lit(1)).as("n")),
        "event_type", "dow", col("n"),
        rowTargets = ref.groupBy(col("event_type"))
          .agg(count(lit(1)).as("target")),
        colTargets = ref.groupBy(weekday(col("ts")).as("dow"))
          .agg(count(lit(1)).as("target")),
        sweeps = 3)
      etl.Weighting.trimWeights(raked, Seq("event_type"), col("weight"),
          countCol = col("n"), p = 0.8)
        .orderBy(col("event_type"))
    },
      // same rake chain, p80 cap over cell weights, mass/ESS readout
      """WITH cells AS (SELECT event_type, isodow(ts) - 1 AS dow,
        |    CAST(count(*) AS DOUBLE) AS n FROM events
        |  WHERE day(ts) > 15 GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS rt
        |  FROM events WHERE day(ts) <= 15 GROUP BY 1),
        |ct AS (SELECT isodow(ts) - 1 AS dow,
        |    CAST(count(*) AS DOUBLE) AS ct FROM events
        |  WHERE day(ts) <= 15 GROUP BY 1),
        |m0 AS (SELECT c.event_type, c.dow, c.n, rt.rt, ct.ct, c.n AS m
        |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow)),
        |a1 AS (SELECT *, CASE WHEN sum(m) OVER (PARTITION BY event_type)
        |    > 0 THEN m * rt / sum(m) OVER (PARTITION BY event_type)
        |    ELSE m END AS m1 FROM m0),
        |b1 AS (SELECT *, CASE WHEN sum(m1) OVER (PARTITION BY dow) > 0
        |    THEN m1 * ct / sum(m1) OVER (PARTITION BY dow)
        |    ELSE m1 END AS m2 FROM a1),
        |a2 AS (SELECT *, CASE WHEN sum(m2) OVER (PARTITION BY event_type)
        |    > 0 THEN m2 * rt / sum(m2) OVER (PARTITION BY event_type)
        |    ELSE m2 END AS m3 FROM b1),
        |b2 AS (SELECT *, CASE WHEN sum(m3) OVER (PARTITION BY dow) > 0
        |    THEN m3 * ct / sum(m3) OVER (PARTITION BY dow)
        |    ELSE m3 END AS m4 FROM a2),
        |a3 AS (SELECT *, CASE WHEN sum(m4) OVER (PARTITION BY event_type)
        |    > 0 THEN m4 * rt / sum(m4) OVER (PARTITION BY event_type)
        |    ELSE m4 END AS m5 FROM b2),
        |b3 AS (SELECT *, CASE WHEN sum(m5) OVER (PARTITION BY dow) > 0
        |    THEN m5 * ct / sum(m5) OVER (PARTITION BY dow)
        |    ELSE m5 END AS m6 FROM a3),
        |w AS (SELECT event_type, n,
        |    roundStable(CASE WHEN n > 0 THEN m6 / n END, 6) AS wt
        |  FROM b3),
        |cap AS (SELECT event_type, quantile_cont(wt, 0.8) AS cap
        |  FROM w GROUP BY 1),
        |tr AS (SELECT w.event_type, w.n, w.wt, cap.cap,
        |    least(w.wt, cap.cap) AS wc FROM w JOIN cap USING (event_type)),
        |s AS (SELECT event_type, sum(n) AS cn, any_value(cap) AS capv,
        |    sum(n * wt) AS sw, sum(n * wt * wt) AS sw2,
        |    sum(n * wc) AS swt, sum(n * wc * wc) AS swt2,
        |    sum(n * (wt - wc)) AS moved FROM tr GROUP BY 1)
        |SELECT event_type, CAST(cn AS BIGINT) AS n,
        |  roundStable(capv, 6) AS cap,
        |  roundStable(CASE WHEN sw > 0 THEN moved / sw END, 6)
        |    AS mass_trimmed,
        |  roundStable(CASE WHEN sw2 > 0 THEN sw * sw / sw2 END, 6)
        |    AS ess_before,
        |  roundStable(CASE WHEN swt2 > 0 THEN swt * swt / swt2 END, 6)
        |    AS ess_after
        |FROM s ORDER BY event_type""".stripMargin),

    Query("q339_wald_iv", (s, dir) =>
      // encouragement design: ITT rescaled by the first stage — the
      // estimator for "we could only randomize the nudge"
      etl.Causal.waldIv(Tables.events(s, dir), Seq("event_type"),
          instrument = col("user_id") % 2 === 0,
          treated = col("user_id") % 4 === 0, outcome = col("value"))
        .orderBy(col("event_type")),
      // same conditional cell means, same ITT / first-stage ratio
      """WITH s AS (SELECT event_type,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1.0 ELSE 0.0 END) AS n1,
        |    sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END)
        |      AS y1,
        |    sum(CASE WHEN user_id % 2 = 0 AND user_id % 4 = 0 THEN 1.0
        |      ELSE 0.0 END) AS d1,
        |    sum(CASE WHEN user_id % 2 <> 0 THEN 1.0 ELSE 0.0 END) AS n0,
        |    sum(CASE WHEN user_id % 2 <> 0 THEN value ELSE 0.0 END)
        |      AS y0,
        |    sum(CASE WHEN user_id % 2 <> 0 AND user_id % 4 = 0 THEN 1.0
        |      ELSE 0.0 END) AS d0
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT event_type, n1, n0,
        |    CASE WHEN n1 > 0 AND n0 > 0 THEN y1 / n1 - y0 / n0 END
        |      AS itt,
        |    CASE WHEN n1 > 0 AND n0 > 0 THEN d1 / n1 - d0 / n0 END
        |      AS fs FROM s)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n_encouraged,
        |  CAST(n0 AS BIGINT) AS n_control,
        |  roundStable(itt, 6) AS itt, roundStable(fs, 6) AS first_stage,
        |  roundStable(CASE WHEN abs(fs) >= 0.01 THEN itt / fs END, 6)
        |    AS late
        |FROM t ORDER BY event_type""".stripMargin),

    Query("q340_rdd", (s, dir) =>
      // sharp regression discontinuity at minute 30, local linear
      // both sides of the half-hour (a scale-free running variable)
      etl.Causal.rdd(Tables.events(s, dir), Seq("event_type"),
          runningCol = minute(col("ts")), outcomeCol = col("value"),
          cutoff = 30.0, bandwidth = 30.0)
        .orderBy(col("event_type")),
      // same per-side moments in one pass, same centered-intercept fit
      """WITH b AS (SELECT event_type,
        |      CAST(minute(ts) AS DOUBLE) - 30.0 AS x, value AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND abs(CAST(minute(ts) AS DOUBLE) - 30.0) <= 30.0),
        |s AS (SELECT event_type,
        |    sum(CASE WHEN x < 0 THEN 1.0 ELSE 0.0 END) AS nl,
        |    sum(CASE WHEN x < 0 THEN x ELSE 0.0 END) AS sxl,
        |    sum(CASE WHEN x < 0 THEN y ELSE 0.0 END) AS syl,
        |    sum(CASE WHEN x < 0 THEN x * x ELSE 0.0 END) AS sxxl,
        |    sum(CASE WHEN x < 0 THEN x * y ELSE 0.0 END) AS sxyl,
        |    sum(CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END) AS nr,
        |    sum(CASE WHEN x >= 0 THEN x ELSE 0.0 END) AS sxr,
        |    sum(CASE WHEN x >= 0 THEN y ELSE 0.0 END) AS syr,
        |    sum(CASE WHEN x >= 0 THEN x * x ELSE 0.0 END) AS sxxr,
        |    sum(CASE WHEN x >= 0 THEN x * y ELSE 0.0 END) AS sxyr
        |  FROM b GROUP BY 1),
        |f AS (SELECT *,
        |    CASE WHEN nl >= 2 AND nl * sxxl - sxl * sxl > 0 THEN
        |      (nl * sxyl - sxl * syl) / (nl * sxxl - sxl * sxl) END AS bl,
        |    CASE WHEN nr >= 2 AND nr * sxxr - sxr * sxr > 0 THEN
        |      (nr * sxyr - sxr * syr) / (nr * sxxr - sxr * sxr) END AS br
        |  FROM s),
        |g AS (SELECT *, (syl - bl * sxl) / nl AS al,
        |    (syr - br * sxr) / nr AS ar FROM f)
        |SELECT event_type, CAST(nl AS BIGINT) AS n_left,
        |  CAST(nr AS BIGINT) AS n_right,
        |  roundStable(al, 6) AS left_at_cutoff,
        |  roundStable(ar, 6) AS right_at_cutoff,
        |  roundStable(bl, 6) AS slope_left,
        |  roundStable(br, 6) AS slope_right,
        |  roundStable(ar - al, 6) AS jump
        |FROM g ORDER BY event_type""".stripMargin),

    Query("q341_evalue", (s, dir) =>
      // the sensitivity bound an observational RR should ship with:
      // how strong an unmeasured confounder must be to explain it away
      etl.Causal.eValue(Tables.events(s, dir), Seq("event_type"),
          exposed = col("user_id") % 2 === 0,
          outcome = col("value") > 250)
        .orderBy(col("event_type")),
      // same 2×2 cells, protective RRs inverted first
      """WITH s AS (SELECT event_type,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1.0 ELSE 0.0 END) AS n1,
        |    sum(CASE WHEN user_id % 2 = 0 AND value > 250 THEN 1.0
        |      ELSE 0.0 END) AS x1,
        |    sum(CASE WHEN user_id % 2 <> 0 THEN 1.0 ELSE 0.0 END) AS n0,
        |    sum(CASE WHEN user_id % 2 <> 0 AND value > 250 THEN 1.0
        |      ELSE 0.0 END) AS x0
        |  FROM events GROUP BY 1),
        |p AS (SELECT event_type,
        |    CASE WHEN n1 > 0 THEN x1 / n1 END AS p1,
        |    CASE WHEN n0 > 0 THEN x0 / n0 END AS p0 FROM s),
        |r AS (SELECT *, CASE WHEN p0 > 0 AND p1 > 0 THEN p1 / p0 END
        |    AS rr FROM p),
        |e AS (SELECT *, CASE WHEN rr >= 1 THEN rr ELSE 1.0 / rr END
        |    AS rs FROM r)
        |SELECT event_type, roundStable(p1, 6) AS p_exposed,
        |  roundStable(p0, 6) AS p_unexposed, roundStable(rr, 6) AS rr,
        |  roundStable(rs + sqrt(rs * (rs - 1)), 6) AS evalue
        |FROM e ORDER BY event_type""".stripMargin),

    Query("q342_cindex", (s, dir) => {
      // does the user's mean value ORDER time-to-first-error: the
      // survival-world AUC over the q172 subjects
      val subj = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("__f"), max(col("ts")).as("__l"),
          min(when(col("event_type") === "error", col("ts"))).as("__e"),
          avg(col("value")).as("__score"))
        .select((col("user_id") % 3).as("cohort"),
          datediff(to_date(coalesce(col("__e"), col("__l"))),
            to_date(col("__f"))).cast("long").as("dur"),
          col("__e").isNotNull.as("obs"), col("__score"))
      etl.Survival.cIndex(subj, Seq("cohort"), col("dur"), col("obs"),
          col("__score"))
        .orderBy(col("cohort"))
    },
      // same reduced subjects, usable pairs, half-credit score ties
      """WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |    min(CASE WHEN event_type = 'error' THEN ts END) AS err,
        |    avg(value) AS score FROM events GROUP BY 1),
        |s AS (SELECT user_id % 3 AS cohort,
        |    date_diff('day', CAST(f AS DATE),
        |      CAST(coalesce(err, l) AS DATE)) AS t,
        |    (err IS NOT NULL) AS obs, roundStable(score, 6) AS sc
        |  FROM u),
        |p AS (SELECT a.cohort, a.sc AS sa, b.sc AS sb FROM s a
        |  JOIN s b ON a.cohort = b.cohort AND a.obs AND a.t < b.t)
        |SELECT cohort, count(*) AS n_pairs,
        |  roundStable(sum(CASE WHEN sa > sb THEN 1.0
        |    WHEN sa = sb THEN 0.5 ELSE 0.0 END) / count(*), 6)
        |    AS c_index
        |FROM p GROUP BY 1 ORDER BY cohort""".stripMargin),

    Query("q343_survival_summary", (s, dir) => {
      // the scalars a KM curve is read for: RMST(20d) and median
      // survival per cohort ("not reached" stays NULL)
      val subj = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("__f"), max(col("ts")).as("__l"),
          min(when(col("event_type") === "error", col("ts"))).as("__e"))
        .select((col("user_id") % 3).as("cohort"),
          datediff(to_date(coalesce(col("__e"), col("__l"))),
            to_date(col("__f"))).cast("long").as("dur"),
          col("__e").isNotNull.as("obs"))
      etl.Survival.survivalSummary(subj, Seq("cohort"), "dur",
          col("obs"), tau = 20.0)
        .orderBy(col("cohort"))
    },
      // q172's KM chain, then the step integral capped at τ = 20
      """WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |    min(CASE WHEN event_type = 'error' THEN ts END) AS err
        |  FROM events GROUP BY 1),
        |s AS (SELECT user_id % 3 AS cohort,
        |    date_diff('day', CAST(f AS DATE),
        |      CAST(coalesce(err, l) AS DATE)) AS t,
        |    (err IS NOT NULL) AS obs FROM u),
        |g AS (SELECT cohort, t,
        |    sum(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
        |    sum(CASE WHEN obs THEN 0 ELSE 1 END) AS c
        |  FROM s GROUP BY 1, 2),
        |w AS (SELECT cohort, t, d, c,
        |    sum(d + c) OVER (PARTITION BY cohort ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
        |  FROM g),
        |f AS (SELECT cohort, t, 1.0 - CAST(d AS DOUBLE) / n AS fac
        |  FROM w),
        |k AS (SELECT cohort, t,
        |    roundStable(CASE WHEN min(fac) OVER win <= 0 THEN 0.0
        |      ELSE exp(sum(CASE WHEN fac > 0 THEN ln(fac) ELSE 0.0 END)
        |        OVER win) END, 6) AS survival
        |  FROM f WINDOW win AS (PARTITION BY cohort ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cohort
        |      ORDER BY t) AS rn,
        |    coalesce(CAST(lead(t) OVER (PARTITION BY cohort ORDER BY t)
        |      AS DOUBLE), 20.0) AS nt FROM k),
        |q AS (SELECT cohort, t, survival,
        |    survival * (least(nt, 20.0) - least(CAST(t AS DOUBLE), 20.0))
        |      + CASE WHEN rn = 1 THEN least(CAST(t AS DOUBLE), 20.0)
        |        ELSE 0.0 END AS seg FROM r)
        |SELECT cohort, roundStable(sum(seg), 6) AS rmst,
        |  min(CASE WHEN survival <= 0.5 THEN t END) AS median_t,
        |  max(t) AS last_t, min(survival) AS s_last, 20.0 AS tau
        |FROM q GROUP BY 1 ORDER BY cohort""".stripMargin),

    Query("q344_rate_ratio", (s, dir) => {
      // incidence-rate ratio with person-time denominators — what
      // plain proportions get wrong when follow-up differs
      val subj = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("__f"), max(col("ts")).as("__l"),
          min(when(col("event_type") === "error", col("ts"))).as("__e"))
        .select((col("user_id") % 3).as("cohort"),
          (col("user_id") % 2 === 0).as("exp"),
          datediff(to_date(coalesce(col("__e"), col("__l"))),
            to_date(col("__f"))).cast("long").as("dur"),
          col("__e").isNotNull.as("obs"))
      etl.Survival.rateRatio(subj, Seq("cohort"), col("exp"),
          col("dur"), col("obs"))
        .orderBy(col("cohort"))
    },
      // same person-time cells, Poisson log-scale CI
      """WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |    min(CASE WHEN event_type = 'error' THEN ts END) AS err
        |  FROM events GROUP BY 1),
        |s AS (SELECT user_id % 3 AS cohort, user_id % 2 = 0 AS ex,
        |    CAST(date_diff('day', CAST(f AS DATE),
        |      CAST(coalesce(err, l) AS DATE)) AS DOUBLE) AS t,
        |    (err IS NOT NULL) AS obs FROM u),
        |g AS (SELECT cohort,
        |    sum(CASE WHEN ex AND obs THEN 1.0 ELSE 0.0 END) AS d1,
        |    sum(CASE WHEN ex THEN t ELSE 0.0 END) AS t1,
        |    sum(CASE WHEN NOT ex AND obs THEN 1.0 ELSE 0.0 END) AS d0,
        |    sum(CASE WHEN NOT ex THEN t ELSE 0.0 END) AS t0
        |  FROM s GROUP BY 1),
        |r AS (SELECT *, CASE WHEN t1 > 0 THEN d1 / t1 END AS r1,
        |    CASE WHEN t0 > 0 THEN d0 / t0 END AS r0 FROM g),
        |i AS (SELECT *, CASE WHEN r0 > 0 AND r1 > 0 THEN r1 / r0 END
        |    AS irr, CASE WHEN d1 > 0 AND d0 > 0 THEN
        |    sqrt(1.0 / d1 + 1.0 / d0) END AS se FROM r)
        |SELECT cohort, CAST(d1 AS BIGINT) AS events_exposed,
        |  roundStable(t1, 6) AS time_exposed,
        |  CAST(d0 AS BIGINT) AS events_unexposed,
        |  roundStable(t0, 6) AS time_unexposed,
        |  roundStable(irr, 6) AS irr,
        |  roundStable(exp(ln(irr) - 1.96 * se), 6) AS ci_lo,
        |  roundStable(exp(ln(irr) + 1.96 * se), 6) AS ci_hi
        |FROM i ORDER BY cohort""".stripMargin),

    Query("q346_price_index", (s, dir) => {
      // Fisher's ideal index 1996 → 2000 over the matched part basket
      val li = Tables.lineitem(s, dir).join(
        Tables.orders(s, dir).select(col("o_orderkey"),
          year(col("o_orderdate")).as("__y")),
        col("l_orderkey") === col("o_orderkey"))
      etl.Econ.fisherIndex(li, itemCol = col("l_partkey"),
        isBase = col("__y") === 1996, isCurrent = col("__y") === 2000,
        spendCol = col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        qtyCol = col("l_quantity"))
    },
      // same matched-basket unit values, same L/P/F folds
      """WITH li AS (SELECT l.l_partkey AS item,
        |    year(o.o_orderdate) AS y,
        |    l.l_extendedprice * (1.0 - l.l_discount) AS spend,
        |    CAST(l.l_quantity AS DOUBLE) AS qty
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE year(o.o_orderdate) IN (1996, 2000)),
        |c AS (SELECT item,
        |    sum(CASE WHEN y = 1996 THEN spend ELSE 0.0 END) AS s0,
        |    sum(CASE WHEN y = 1996 THEN qty ELSE 0.0 END) AS q0,
        |    sum(CASE WHEN y = 2000 THEN spend ELSE 0.0 END) AS s1,
        |    sum(CASE WHEN y = 2000 THEN qty ELSE 0.0 END) AS q1
        |  FROM li GROUP BY 1),
        |a AS (SELECT count(*) AS n_items,
        |    CAST(sum(CASE WHEN q0 > 0 AND q1 > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_matched,
        |    sum(CASE WHEN q0 > 0 AND q1 > 0 THEN s1 / q1 * q0
        |      ELSE 0.0 END) AS l1,
        |    sum(CASE WHEN q0 > 0 AND q1 > 0 THEN s0 / q0 * q0
        |      ELSE 0.0 END) AS l0,
        |    sum(CASE WHEN q0 > 0 AND q1 > 0 THEN s1 / q1 * q1
        |      ELSE 0.0 END) AS p1,
        |    sum(CASE WHEN q0 > 0 AND q1 > 0 THEN s0 / q0 * q1
        |      ELSE 0.0 END) AS p0
        |  FROM c)
        |SELECT n_items, n_matched,
        |  roundStable(CASE WHEN l0 > 0 THEN l1 / l0 END, 6)
        |    AS laspeyres,
        |  roundStable(CASE WHEN p0 > 0 THEN p1 / p0 END, 6) AS paasche,
        |  roundStable(sqrt((CASE WHEN l0 > 0 THEN l1 / l0 END)
        |    * (CASE WHEN p0 > 0 THEN p1 / p0 END)), 6) AS fisher
        |FROM a""".stripMargin),

    Query("q347_abc_xyz", (s, dir) => {
      // the inventory decision table: Pareto revenue class × demand
      // predictability class over monthly part demand
      val li = Tables.lineitem(s, dir).join(
        Tables.orders(s, dir).select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("__m")),
        col("l_orderkey") === col("o_orderkey"))
      etl.Econ.abcXyz(li, itemCol = col("l_partkey"),
          periodCol = col("__m"),
          revenueCol = col("l_extendedprice") *
            (lit(1.0) - col("l_discount")),
          qtyCol = col("l_quantity"))
        .orderBy(col("abc"), col("xyz"))
    },
      // same rounded-revenue Pareto cut × occupied-period CV classes
      """WITH li AS (SELECT l.l_partkey AS item,
        |    date_trunc('month', o.o_orderdate) AS m,
        |    l.l_extendedprice * (1.0 - l.l_discount) AS r,
        |    CAST(l.l_quantity AS DOUBLE) AS q
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |pp AS (SELECT item, m, sum(r) AS r, sum(q) AS q FROM li
        |  GROUP BY 1, 2),
        |pi AS (SELECT item, roundStable(sum(r), 6) AS rev,
        |    count(*) AS np, avg(q) AS mq, stddev_pop(q) AS sq
        |  FROM pp GROUP BY 1),
        |cl AS (SELECT *,
        |    sum(rev) OVER (ORDER BY rev DESC, item
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(rev) OVER () AS tot,
        |    CASE WHEN np >= 2 AND mq > 0 THEN sq / mq END AS cv
        |  FROM pi),
        |cls AS (SELECT *,
        |    CASE WHEN cum <= tot * 0.8 THEN 'A'
        |      WHEN cum <= tot * 0.95 THEN 'B' ELSE 'C' END AS abc,
        |    CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
        |      ELSE 'Z' END AS xyz FROM cl),
        |cells AS (SELECT abc, xyz, count(*) AS n_items,
        |    roundStable(sum(rev), 6) AS revenue FROM cls GROUP BY 1, 2)
        |SELECT abc, xyz, n_items, revenue,
        |  roundStable(revenue / sum(revenue) OVER (), 6)
        |    AS revenue_share
        |FROM cells ORDER BY abc, xyz""".stripMargin),

    Query("q348_elasticity", (s, dir) =>
      // within-part demand elasticity: item fixed effects absorb the
      // cross-sectional confound; effective price varies via discount
      etl.Econ.elasticityFe(Tables.lineitem(s, dir),
          itemCol = col("l_partkey"),
          priceCol = col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) / col("l_quantity"),
          qtyCol = col("l_quantity")),
      // same within-item demeaning, same pooled moments fold
      """WITH b AS (SELECT l_partkey AS item,
        |    ln(l_extendedprice * (1.0 - l_discount)
        |      / CAST(l_quantity AS DOUBLE)) AS lp,
        |    ln(CAST(l_quantity AS DOUBLE)) AS lq
        |  FROM lineitem
        |  WHERE l_quantity > 0
        |    AND l_extendedprice * (1.0 - l_discount)
        |      / CAST(l_quantity AS DOUBLE) > 0),
        |d AS (SELECT item,
        |    lp - avg(lp) OVER (PARTITION BY item) AS dp,
        |    lq - avg(lq) OVER (PARTITION BY item) AS dq FROM b),
        |s AS (SELECT count(*) AS n, count(DISTINCT item) AS n_items,
        |    sum(dp * dq) AS sxy, sum(dp * dp) AS sxx,
        |    sum(dq * dq) AS syy FROM d)
        |SELECT n, n_items,
        |  roundStable(CASE WHEN sxx > 0 THEN sxy / sxx END, 6)
        |    AS elasticity,
        |  roundStable(CASE WHEN sxx > 0 AND syy > 0 THEN
        |    sxy * sxy / (sxx * syy) END, 6) AS r2_within
        |FROM s""".stripMargin),

    Query("q349_supplier_risk", (s, dir) =>
      // procurement risk screen: per part, how concentrated its spend
      // is across suppliers — HHI, effective suppliers, single-source
      etl.Econ.concentration(
          Tables.lineitem(s, dir).filter(col("l_partkey") <= 400),
          groupCol = col("l_partkey"), memberCol = col("l_suppkey"),
          valueCol = col("l_extendedprice"))
        .orderBy(col("group")),
      // same share cells, same inverse-Simpson fold and top argmax
      """WITH c AS (SELECT l_partkey AS grp, l_suppkey AS m,
        |    sum(CAST(l_extendedprice AS DOUBLE)) AS v FROM lineitem
        |  WHERE l_partkey <= 400 AND l_extendedprice > 0
        |  GROUP BY 1, 2),
        |s AS (SELECT grp, m, v, v / sum(v) OVER (PARTITION BY grp) AS sh,
        |    row_number() OVER (PARTITION BY grp ORDER BY v DESC, m)
        |      AS rk FROM c)
        |SELECT grp AS "group", count(*) AS n_members,
        |  roundStable(sum(sh * sh), 6) AS hhi,
        |  roundStable(1.0 / sum(sh * sh), 6) AS effective_n,
        |  roundStable(max(CASE WHEN rk = 1 THEN sh END), 6)
        |    AS top_share,
        |  (count(*) = 1) AS single_source
        |FROM s GROUP BY 1 ORDER BY "group"""".stripMargin),

    Query("q355_fleiss_kappa", (s, dir) =>
      // multi-rater chance-corrected agreement per cohort (variable
      // rater counts; single-rating units excluded but counted)
      etl.MlEval.fleissKappa(ratingsFrame(s, dir), Seq("cohort"),
          col("unit"), col("label"))
        .orderBy(col("cohort")),
      // the identical ratings derivation (first rating per (unit,
      // rater) by ts), then Fleiss 1971 with variable rater counts;
      // pairable units only in BOTH terms, singles counted visibly
      """WITH r0 AS (SELECT user_id % 200 AS unit, event_type AS rater,
        |    CASE WHEN value < 150 THEN 'lo' WHEN value < 300 THEN 'mid'
        |      ELSE 'hi' END AS label,
        |    row_number() OVER (PARTITION BY user_id % 200, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT unit % 3 AS cohort, unit, label FROM r0 WHERE rn = 1),
        |cells AS (SELECT cohort, unit, label,
        |    CAST(count(*) AS DOUBLE) AS m FROM r GROUP BY 1, 2, 3),
        |units AS (SELECT cohort, unit, sum(m) AS mi,
        |    sum(m * (m - 1)) AS agree FROM cells GROUP BY 1, 2),
        |pu AS (SELECT cohort, unit, mi, agree / (mi * (mi - 1)) AS pi
        |  FROM units WHERE mi >= 2),
        |po AS (SELECT cohort, avg(pi) AS po, count(*) AS nu,
        |    sum(mi) AS nr FROM pu GROUP BY 1),
        |pe AS (SELECT cohort, sum(nc * nc) / (sum(nc) * sum(nc)) AS pe
        |  FROM (SELECT c.cohort, c.label, sum(c.m) AS nc FROM cells c
        |    JOIN pu ON pu.cohort = c.cohort AND pu.unit = c.unit
        |    GROUP BY 1, 2) GROUP BY 1),
        |sg AS (SELECT cohort, sum(CASE WHEN mi < 2 THEN 1 ELSE 0 END)
        |    AS n_single FROM units GROUP BY 1)
        |SELECT sg.cohort, COALESCE(po.nu, CAST(0 AS BIGINT)) AS n_units,
        |  COALESCE(CAST(po.nr AS BIGINT), CAST(0 AS BIGINT)) AS n_ratings,
        |  CAST(sg.n_single AS BIGINT) AS n_single,
        |  roundStable(po.po, 6) AS observed_agreement,
        |  roundStable(pe.pe, 6) AS expected_agreement,
        |  roundStable(CASE WHEN pe.pe < 1
        |    THEN (po.po - pe.pe) / (1.0 - pe.pe) END, 6) AS kappa
        |FROM sg LEFT JOIN po ON sg.cohort = po.cohort
        |  LEFT JOIN pe ON sg.cohort = pe.cohort
        |ORDER BY sg.cohort""".stripMargin),

    Query("q356_krippendorff", (s, dir) =>
      // agreement with missing ratings handled natively — the normal
      // state of a crowd/ensemble label table (nominal metric)
      etl.MlEval.krippendorffAlpha(ratingsFrame(s, dir), Seq("cohort"),
          col("unit"), col("label"))
        .orderBy(col("cohort")),
      // coincidence-matrix identities — D_o and D_e as exact cell
      // folds, no pair enumeration; all-one-label cohorts NULL
      """WITH r0 AS (SELECT user_id % 200 AS unit, event_type AS rater,
        |    CASE WHEN value < 150 THEN 'lo' WHEN value < 300 THEN 'mid'
        |      ELSE 'hi' END AS label,
        |    row_number() OVER (PARTITION BY user_id % 200, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT unit % 3 AS cohort, unit, label FROM r0 WHERE rn = 1),
        |cells AS (SELECT cohort, unit, label,
        |    CAST(count(*) AS DOUBLE) AS m FROM r GROUP BY 1, 2, 3),
        |units AS (SELECT cohort, unit, sum(m) AS mu, sum(m * m) AS sq
        |  FROM cells GROUP BY 1, 2 HAVING sum(m) >= 2),
        |dot AS (SELECT cohort,
        |    sum((mu * mu - sq) / (mu - 1)) AS d_o, count(*) AS n_units
        |  FROM units GROUP BY 1),
        |nc AS (SELECT c.cohort, c.label, sum(c.m) AS nc FROM cells c
        |  JOIN units u ON u.cohort = c.cohort AND u.unit = c.unit
        |  GROUP BY 1, 2),
        |det AS (SELECT cohort, sum(nc) AS n,
        |    (sum(nc) * sum(nc) - sum(nc * nc)) / (sum(nc) - 1) AS d_e
        |  FROM nc GROUP BY 1)
        |SELECT dot.cohort, dot.n_units, CAST(det.n AS BIGINT) AS n_ratings,
        |  roundStable(dot.d_o, 6) AS d_observed,
        |  roundStable(det.d_e, 6) AS d_expected,
        |  roundStable(CASE WHEN det.d_e > 0
        |    THEN 1.0 - dot.d_o / det.d_e END, 6) AS alpha
        |FROM dot JOIN det ON dot.cohort = det.cohort
        |ORDER BY dot.cohort""".stripMargin),

    Query("q357_lf_diagnostics", (s, dir) =>
      // the weak-supervision pre-flight: coverage / overlap / conflict
      // / majority-agreement per labeling function (event_type as LF,
      // NULL value = abstain)
      etl.MlEval.lfDiagnostics(lfVotesFrame(s, dir), col("unit"),
          col("lf"), col("label"))
        .orderBy(col("lf")),
      // min-label vote dedup, per-unit voter/label stats joined back,
      // majority by (count desc, label) — all replayed exactly
      """WITH base AS (SELECT user_id % 200 AS unit, event_type AS lf,
        |    CASE WHEN value IS NULL THEN NULL
        |      WHEN value < 150 THEN 'lo' WHEN value < 300 THEN 'mid'
        |      ELSE 'hi' END AS label
        |  FROM events),
        |nu AS (SELECT CAST(count(DISTINCT unit) AS DOUBLE) AS nu FROM base),
        |votes AS (SELECT unit, lf, min(label) AS label FROM base
        |  WHERE label IS NOT NULL GROUP BY 1, 2),
        |us AS (SELECT unit, count(*) AS nvoters,
        |    count(DISTINCT label) AS nlabels FROM votes GROUP BY 1),
        |maj AS (SELECT unit, label AS mj FROM (
        |    SELECT unit, label, row_number() OVER (PARTITION BY unit
        |      ORDER BY count(*) DESC, label ASC) AS rk
        |    FROM votes GROUP BY unit, label) WHERE rk = 1),
        |agg AS (SELECT v.lf, CAST(count(*) AS DOUBLE) AS nv,
        |    sum(CASE WHEN s.nvoters > 1 THEN 1.0 ELSE 0.0 END) AS ov,
        |    sum(CASE WHEN s.nvoters > 1 AND s.nlabels > 1 THEN 1.0
        |      ELSE 0.0 END) AS cf,
        |    sum(CASE WHEN v.label = m.mj THEN 1.0 ELSE 0.0 END) AS mjc
        |  FROM votes v JOIN us s ON v.unit = s.unit
        |    JOIN maj m ON v.unit = m.unit
        |  GROUP BY 1)
        |SELECT lf, CAST(nv AS BIGINT) AS n_votes,
        |  roundStable(nv / nu.nu, 6) AS coverage,
        |  roundStable(ov / nu.nu, 6) AS overlap,
        |  roundStable(cf / nu.nu, 6) AS conflict,
        |  roundStable(mjc / nv, 6) AS majority_agreement
        |FROM agg, nu ORDER BY lf""".stripMargin),

    Query("q358_logistic", (s, dir) =>
      // in-engine logistic fit (propensity/filter model): P(returned |
      // qty, discount) by 4 Newton rounds, 9 moment sums collected per
      // round, Cramer 3×3 solve — the oracle unrolls the identical
      // recurrence (the q106/q292 iterative-trainer feat, now for MLE)
      etl.MlEval.logisticNewton(Tables.lineitem(s, dir),
        yCol = (col("l_returnflag") === "R").cast("double"),
        x1Col = col("l_quantity"), x2Col = col("l_discount")), {
      // the identical standardization + 4 Newton rounds, each round one
      // MATERIALIZED moment agg + the same Cramer cofactor expansions
      // (same operand order — IEEE-identical); intermediates UNROUNDED
      // (Newton contracts engine-order fp noise, the q292 lesson)
      val iters = 4
      val steps = (1 to iters).map { k =>
        s"""a$k AS MATERIALIZED (SELECT
           |    sum(p * (1.0 - p)) AS h11,
           |    sum(p * (1.0 - p) * x1) AS h12,
           |    sum(p * (1.0 - p) * x2) AS h13,
           |    sum(p * (1.0 - p) * x1 * x1) AS h22,
           |    sum(p * (1.0 - p) * x1 * x2) AS h23,
           |    sum(p * (1.0 - p) * x2 * x2) AS h33,
           |    sum(y - p) AS g0, sum((y - p) * x1) AS g1,
           |    sum((y - p) * x2) AS g2
           |  FROM (SELECT y, x1, x2,
           |      1.0 / (1.0 + exp(-(b0 + b1 * x1 + b2 * x2))) AS p
           |    FROM d, i${k - 1}) t),
           |s$k AS (SELECT *,
           |    h11 * (h22 * h33 - h23 * h23) - h12 * (h12 * h33 - h23 * h13)
           |      + h13 * (h12 * h23 - h22 * h13) AS det FROM a$k),
           |i$k AS (SELECT
           |    b0 + (g0 * (h22 * h33 - h23 * h23) - h12 * (g1 * h33 - h23 * g2)
           |      + h13 * (g1 * h23 - h22 * g2)) / det AS b0,
           |    b1 + (h11 * (g1 * h33 - h23 * g2) - g0 * (h12 * h33 - h23 * h13)
           |      + h13 * (h12 * g2 - g1 * h13)) / det AS b1,
           |    b2 + (h11 * (h22 * g2 - g1 * h23) - h12 * (h12 * g2 - g1 * h13)
           |      + g0 * (h12 * h23 - h22 * h13)) / det AS b2
           |  FROM i${k - 1}, s$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH pu AS MATERIALIZED (SELECT
         |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
         |    CAST(l_quantity AS DOUBLE) AS x1r,
         |    CAST(l_discount AS DOUBLE) AS x2r
         |  FROM lineitem WHERE l_returnflag IS NOT NULL
         |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
         |mo AS MATERIALIZED (SELECT avg(x1r) AS m1,
         |    sqrt(avg(x1r * x1r) - avg(x1r) * avg(x1r)) AS s1,
         |    avg(x2r) AS m2,
         |    sqrt(avg(x2r * x2r) - avg(x2r) * avg(x2r)) AS s2,
         |    count(*) AS n FROM pu),
         |d AS MATERIALIZED (SELECT y, (x1r - m1) / s1 AS x1,
         |    (x2r - m2) / s2 AS x2 FROM pu, mo),
         |i0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
         |$steps
         |SELECT term, beta, n_obs FROM (
         |  SELECT 'intercept' AS term, roundStable(b0, 6) AS beta,
         |    mo.n AS n_obs FROM i$iters, mo
         |  UNION ALL SELECT 'x1', roundStable(b1, 6), mo.n FROM i$iters, mo
         |  UNION ALL SELECT 'x2', roundStable(b2, 6), mo.n FROM i$iters, mo)
         |ORDER BY term""".stripMargin
    }),

    Query("q367_platt", (s, dir) =>
      // the parametric calibrator on q294's exact score/label pairing:
      // isotonic bends to any monotone curve, Platt's 2 params can't
      // overfit thin calibration data — run both, compare
      etl.MlEval.plattScaling(Tables.events(s, dir).filter(col("value").isNotNull),
        scoreCol = least(col("value") / 500, lit(1.0)),
        isPositive = col("event_type") === "purchase"), {
      // the q358 unrolled-Newton oracle at its 2×2 case
      val iters = 4
      val steps = (1 to iters).map { k =>
        s"""a$k AS MATERIALIZED (SELECT
           |    sum(p * (1.0 - p) * s * s) AS h11,
           |    sum(p * (1.0 - p) * s) AS h12,
           |    sum(p * (1.0 - p)) AS h22,
           |    sum((y - p) * s) AS g0, sum(y - p) AS g1
           |  FROM (SELECT s, y,
           |      1.0 / (1.0 + exp(-(a * s + b))) AS p
           |    FROM d, i${k - 1}) t),
           |i$k AS (SELECT
           |    a + (g0 * h22 - h12 * g1) / (h11 * h22 - h12 * h12) AS a,
           |    b + (h11 * g1 - g0 * h12) / (h11 * h22 - h12 * h12) AS b
           |  FROM i${k - 1}, a$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS MATERIALIZED (SELECT
         |    least(CAST(value AS DOUBLE) / 500, 1.0) AS s,
         |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
         |  FROM events WHERE value IS NOT NULL),
         |nn AS (SELECT count(*) AS n FROM d),
         |i0 AS (SELECT 0.0 AS a, 0.0 AS b),
         |$steps
         |SELECT param, value, n_obs FROM (
         |  SELECT 'intercept' AS param, roundStable(b, 6) AS value,
         |    nn.n AS n_obs FROM i$iters, nn
         |  UNION ALL SELECT 'slope', roundStable(a, 6), nn.n
         |  FROM i$iters, nn)
         |ORDER BY param""".stripMargin
    }),

    Query("q372_group_sequential", (s, dir) =>
      // the scheduled-looks interim monitor beside q330's always-valid
      // one: 5 pre-planned looks, cumulative Welch z vs pinned
      // O'Brien-Fleming boundaries (spend alpha conservatively early)
      etl.Experiment.groupSequential(Tables.events(s, dir),
          Seq("event_type"), col("ts"),
          isTreat = col("user_id") % 2 === 0, valueCol = col("value"))
        .orderBy(col("event_type"), col("look")),
      // identical time-slice looks (epoch-micros arithmetic), identical
      // cumulative Welch moments, identical pinned OBF literals
      """WITH base AS (SELECT event_type, value,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS tr,
        |    epoch_us(ts) AS tu,
        |    min(epoch_us(ts)) OVER (PARTITION BY event_type) AS tmin,
        |    max(epoch_us(ts)) OVER (PARTITION BY event_type) AS tmax
        |  FROM events WHERE value IS NOT NULL),
        |lk AS (SELECT event_type, value, tr,
        |    least(CAST(floor(5.0 * CAST(tu - tmin AS DOUBLE)
        |      / CAST(tmax - tmin + 1 AS DOUBLE)) AS BIGINT) + 1, 5)
        |      AS look
        |  FROM base),
        |cells AS (SELECT event_type, look,
        |    sum(CASE WHEN tr = 1 THEN 1.0 ELSE 0.0 END) AS na,
        |    sum(CASE WHEN tr = 1 THEN value ELSE 0.0 END) AS sa,
        |    sum(CASE WHEN tr = 1 THEN value * value ELSE 0.0 END) AS qa,
        |    sum(CASE WHEN tr = 0 THEN 1.0 ELSE 0.0 END) AS nb,
        |    sum(CASE WHEN tr = 0 THEN value ELSE 0.0 END) AS sb,
        |    sum(CASE WHEN tr = 0 THEN value * value ELSE 0.0 END) AS qb
        |  FROM lk GROUP BY 1, 2),
        |c AS (SELECT event_type, look,
        |    sum(na) OVER w AS cna, sum(sa) OVER w AS csa,
        |    sum(qa) OVER w AS cqa, sum(nb) OVER w AS cnb,
        |    sum(sb) OVER w AS csb, sum(qb) OVER w AS cqb
        |  FROM cells WINDOW w AS (PARTITION BY event_type ORDER BY look
        |    ROWS UNBOUNDED PRECEDING)),
        |sc AS (SELECT event_type, look, cna, cnb,
        |    CASE WHEN cna > 0 THEN csa / cna END AS ma,
        |    CASE WHEN cnb > 0 THEN csb / cnb END AS mb,
        |    CASE WHEN cna >= 2 THEN (cqa - cna * (csa / cna)
        |      * (csa / cna)) / (cna - 1) END AS s2a,
        |    CASE WHEN cnb >= 2 THEN (cqb - cnb * (csb / cnb)
        |      * (csb / cnb)) / (cnb - 1) END AS s2b
        |  FROM c),
        |zz AS (SELECT event_type, look, cna, cnb, ma, mb,
        |    CASE WHEN cna >= 2 AND cnb >= 2
        |      AND s2a / cna + s2b / cnb > 0
        |      THEN (ma - mb) / sqrt(s2a / cna + s2b / cnb) END AS z,
        |    CAST(CASE WHEN look = 1 THEN 4.8769
        |      WHEN look = 2 THEN 3.3569 WHEN look = 3 THEN 2.6803
        |      WHEN look = 4 THEN 2.2898 ELSE 2.0310 END AS DOUBLE)
        |      AS boundary
        |  FROM sc)
        |SELECT event_type, look, CAST(cna AS BIGINT) AS n_treat,
        |  CAST(cnb AS BIGINT) AS n_control,
        |  roundStable(ma - mb, 6) AS delta, roundStable(z, 6) AS z,
        |  boundary,
        |  coalesce(abs(roundStable(z, 6)) > boundary, false) AS crossed
        |FROM zz ORDER BY event_type, look""".stripMargin),

    Query("q392_alpha_spending", (s, dir) =>
      // Lan-DeMets spending functions beside q372's pinned OBF table
      // (r15 — the last sketched depth item): OBF-type and Pocock-type
      // spends per look with the Bonferroni-increment crossing rule
      // (conservative by construction; the exact boundary needs MVN
      // recursion neither engine can express — documented); Phi rides
      // a pinned Abramowitz-Stegun approximation both engines replay
      etl.Experiment.alphaSpending(Tables.events(s, dir),
          Seq("event_type"), col("ts"),
          isTreat = col("user_id") % 2 === 0, valueCol = col("value"))
        .orderBy(col("event_type"), col("look")),
      // identical Welch-look machinery as q372, then the pinned
      // Abramowitz-Stegun 26.2.17 upper-tail replayed through an
      // unpivot/pivot (three arguments per row: OBF spend at t_k, at
      // t_{k-1}, and |z|), spends and the Bonferroni-increment
      // crossings recomputed from the same literals
      """WITH base AS (SELECT event_type, value,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS tr,
        |    epoch_us(ts) AS tu,
        |    min(epoch_us(ts)) OVER (PARTITION BY event_type) AS tmin,
        |    max(epoch_us(ts)) OVER (PARTITION BY event_type) AS tmax
        |  FROM events WHERE value IS NOT NULL),
        |lk AS (SELECT event_type, value, tr,
        |    least(CAST(floor(5.0 * CAST(tu - tmin AS DOUBLE)
        |      / CAST(tmax - tmin + 1 AS DOUBLE)) AS BIGINT) + 1, 5)
        |      AS look
        |  FROM base),
        |cells AS (SELECT event_type, look,
        |    sum(CASE WHEN tr = 1 THEN 1.0 ELSE 0.0 END) AS na,
        |    sum(CASE WHEN tr = 1 THEN value ELSE 0.0 END) AS sa,
        |    sum(CASE WHEN tr = 1 THEN value * value ELSE 0.0 END) AS qa,
        |    sum(CASE WHEN tr = 0 THEN 1.0 ELSE 0.0 END) AS nb,
        |    sum(CASE WHEN tr = 0 THEN value ELSE 0.0 END) AS sb,
        |    sum(CASE WHEN tr = 0 THEN value * value ELSE 0.0 END) AS qb
        |  FROM lk GROUP BY 1, 2),
        |c AS (SELECT event_type, look,
        |    sum(na) OVER w AS cna, sum(sa) OVER w AS csa,
        |    sum(qa) OVER w AS cqa, sum(nb) OVER w AS cnb,
        |    sum(sb) OVER w AS csb, sum(qb) OVER w AS cqb
        |  FROM cells WINDOW w AS (PARTITION BY event_type ORDER BY look
        |    ROWS UNBOUNDED PRECEDING)),
        |sc AS (SELECT event_type, look, cna, cnb,
        |    CASE WHEN cna > 0 THEN csa / cna END AS ma,
        |    CASE WHEN cnb > 0 THEN csb / cnb END AS mb,
        |    CASE WHEN cna >= 2 THEN (cqa - cna * (csa / cna)
        |      * (csa / cna)) / (cna - 1) END AS s2a,
        |    CASE WHEN cnb >= 2 THEN (cqb - cnb * (csb / cnb)
        |      * (csb / cnb)) / (cnb - 1) END AS s2b
        |  FROM c),
        |zz AS (SELECT event_type, look, cna, cnb, ma, mb,
        |    CASE WHEN cna >= 2 AND cnb >= 2
        |      AND s2a / cna + s2b / cnb > 0
        |      THEN (ma - mb) / sqrt(s2a / cna + s2b / cnb) END AS z
        |  FROM sc),
        |un AS (SELECT event_type, look, 'k' AS which,
        |         1.959964 / sqrt(look / 5.0) AS x FROM zz
        |       UNION ALL
        |       SELECT event_type, look, 'p',
        |         CASE WHEN look > 1
        |           THEN 1.959964 / sqrt((look - 1) / 5.0) END FROM zz
        |       UNION ALL
        |       SELECT event_type, look, 'z', abs(z) FROM zz),
        |ph AS (SELECT event_type, look, which,
        |    0.3989422804014327 * exp(-0.5 * x * x) *
        |    (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
        |      + t * (-1.821255978 + t * 1.330274429))))) AS pu
        |  FROM (SELECT event_type, look, which, x,
        |          1.0 / (1.0 + 0.2316419 * x) AS t FROM un)),
        |pv AS (SELECT event_type, look,
        |    max(CASE WHEN which = 'k' THEN pu END) AS pu_k,
        |    max(CASE WHEN which = 'p' THEN pu END) AS pu_p,
        |    max(CASE WHEN which = 'z' THEN pu END) AS pu_z
        |  FROM ph GROUP BY 1, 2)
        |SELECT zz.event_type, zz.look, CAST(cna AS BIGINT) AS n_treat,
        |  CAST(cnb AS BIGINT) AS n_control,
        |  roundStable(ma - mb, 6) AS delta, roundStable(z, 6) AS z,
        |  roundStable(2.0 * pu_z, 6) AS p_two,
        |  roundStable(2.0 * pu_k, 6) AS obf_spent,
        |  roundStable(2.0 * pu_k - CASE WHEN zz.look = 1 THEN 0.0
        |    ELSE 2.0 * pu_p END, 6) AS obf_inc,
        |  roundStable(0.05 * ln(1.0 + 1.718281828459045
        |    * (zz.look / 5.0)), 6) AS pocock_spent,
        |  roundStable(0.05 * ln(1.0 + 1.718281828459045 * (zz.look / 5.0))
        |    - CASE WHEN zz.look = 1 THEN 0.0
        |      ELSE 0.05 * ln(1.0 + 1.718281828459045
        |        * ((zz.look - 1) / 5.0)) END, 6) AS pocock_inc,
        |  coalesce(roundStable(2.0 * pu_z, 6) <
        |    roundStable(2.0 * pu_k - CASE WHEN zz.look = 1 THEN 0.0
        |      ELSE 2.0 * pu_p END, 6), false) AS crossed_obf,
        |  coalesce(roundStable(2.0 * pu_z, 6) <
        |    roundStable(0.05 * ln(1.0 + 1.718281828459045 * (zz.look / 5.0))
        |      - CASE WHEN zz.look = 1 THEN 0.0
        |        ELSE 0.05 * ln(1.0 + 1.718281828459045
        |          * ((zz.look - 1) / 5.0)) END, 6), false) AS crossed_pocock
        |FROM zz JOIN pv ON zz.event_type = pv.event_type
        |  AND zz.look = pv.look
        |ORDER BY zz.event_type, zz.look""".stripMargin),

    Query("q374_icc", (s, dir) =>
      // continuous-ratings agreement (the kappa family's ANOVA
      // sibling): how much rating variance is the UNITS vs raters+noise
      etl.MlEval.icc(contRatingsFrame(s, dir), Seq("cohort"),
          col("unit"), col("rating"))
        .orderBy(col("cohort")),
      // identical continuous derivation, one-way ANOVA from cell
      // moments, identical unequal-groups k0 and ratio expressions
      """WITH r0 AS (SELECT user_id % 200 AS unit,
        |    CAST(value AS DOUBLE) AS rating,
        |    row_number() OVER (PARTITION BY user_id % 200, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT unit % 3 AS cohort, unit, rating FROM r0
        |  WHERE rn = 1),
        |ua AS (SELECT cohort, unit, CAST(count(*) AS DOUBLE) AS n,
        |    sum(rating) AS s, sum(rating * rating) AS q
        |  FROM r GROUP BY 1, 2),
        |units AS (SELECT * FROM ua WHERE n >= 2),
        |sg AS (SELECT cohort, CAST(sum(CASE WHEN n < 2 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_single FROM ua GROUP BY 1),
        |g AS (SELECT cohort, sum(n) AS nn, count(*) AS k, sum(s) AS ss,
        |    sum(q - s * s / n) AS ssw, sum(s * s / n) AS sb,
        |    sum(n * n) AS nsq
        |  FROM units GROUP BY 1),
        |m AS (SELECT cohort, k, nn,
        |    (sb - ss * ss / nn) / (CAST(k AS DOUBLE) - 1) AS msb,
        |    ssw / (nn - CAST(k AS DOUBLE)) AS msw,
        |    (nn - nsq / nn) / (CAST(k AS DOUBLE) - 1) AS k0
        |  FROM g)
        |SELECT sg.cohort, COALESCE(m.k, CAST(0 AS BIGINT)) AS n_units,
        |  COALESCE(CAST(m.nn AS BIGINT), CAST(0 AS BIGINT)) AS n_ratings,
        |  sg.n_single,
        |  roundStable(m.msb, 6) AS ms_between,
        |  roundStable(m.msw, 6) AS ms_within,
        |  roundStable(CASE WHEN m.k >= 2
        |      AND m.msb + (m.k0 - 1) * m.msw > 0
        |    THEN (m.msb - m.msw) / (m.msb + (m.k0 - 1) * m.msw) END, 6)
        |    AS icc
        |FROM sg LEFT JOIN m USING (cohort)
        |ORDER BY sg.cohort""".stripMargin),

    Query("q375_cronbach", (s, dir) =>
      // internal consistency of the complete rater panel; incomplete
      // units excluded and counted (ragged α isn't Cronbach's α)
      etl.MlEval.cronbachAlpha(contRatingsFrame(s, dir), Seq("cohort"),
          col("unit"), col("rater"), col("rating"))
        .orderBy(col("cohort")),
      """WITH r0 AS (SELECT user_id % 200 AS unit, event_type AS rater,
        |    CAST(value AS DOUBLE) AS rating,
        |    row_number() OVER (PARTITION BY user_id % 200, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT unit % 3 AS cohort, unit, rater, rating FROM r0
        |  WHERE rn = 1),
        |kk AS (SELECT cohort, CAST(count(DISTINCT rater) AS DOUBLE)
        |    AS kk FROM r GROUP BY 1),
        |ur AS (SELECT cohort, unit, CAST(count(*) AS DOUBLE) AS nr,
        |    sum(rating) AS tot FROM r GROUP BY 1, 2),
        |cu AS (SELECT ur.cohort, ur.unit, ur.tot,
        |    (ur.nr = kk.kk) AS fl FROM ur JOIN kk USING (cohort)),
        |tv AS (SELECT cohort, CAST(count(*) AS DOUBLE) AS m,
        |    avg(tot) AS mt, avg(tot * tot) AS qt
        |  FROM cu WHERE fl GROUP BY 1),
        |iv AS (SELECT cohort, sum(qi - mi * mi) AS vsum FROM (
        |    SELECT r.cohort, r.rater, avg(r.rating) AS mi,
        |      avg(r.rating * r.rating) AS qi
        |    FROM r JOIN cu ON cu.cohort = r.cohort AND cu.unit = r.unit
        |      AND cu.fl
        |    GROUP BY 1, 2) GROUP BY 1),
        |inc AS (SELECT cohort,
        |    CAST(sum(CASE WHEN fl THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_incomplete
        |  FROM cu GROUP BY 1)
        |SELECT kk.cohort,
        |  COALESCE(CAST(tv.m AS BIGINT), CAST(0 AS BIGINT))
        |    AS n_complete_units,
        |  CAST(kk.kk AS BIGINT) AS k_raters, inc.n_incomplete,
        |  roundStable(CASE WHEN kk.kk >= 2 AND tv.m >= 2
        |      AND tv.qt - tv.mt * tv.mt > 0
        |    THEN kk.kk / (kk.kk - 1)
        |      * (1.0 - iv.vsum / (tv.qt - tv.mt * tv.mt)) END, 6)
        |    AS alpha
        |FROM kk JOIN inc USING (cohort)
        |  LEFT JOIN tv USING (cohort) LEFT JOIN iv USING (cohort)
        |ORDER BY kk.cohort""".stripMargin),

    Query("q287_cell_residuals", (s, dir) =>
      // WHICH cells drive the chi-square: Haberman adjusted residuals
      // per (type, weekday) cell with the margin correction
      etl.Drift.cellResiduals(Tables.events(s, dir),
          aCol = col("event_type"), bCol = weekday(col("ts")).cast("long"))
        .orderBy(col("a"), col("b")),
      // same margins, same Haberman denominator association
      """WITH c AS (SELECT event_type AS a, isodow(ts) - 1 AS b,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT a, b, o,
        |    CAST(sum(o) OVER (PARTITION BY a) AS DOUBLE) AS na,
        |    CAST(sum(o) OVER (PARTITION BY b) AS DOUBLE) AS nb,
        |    CAST(sum(o) OVER () AS DOUBLE) AS n
        |  FROM c)
        |SELECT a, CAST(b AS BIGINT) AS b, CAST(o AS BIGINT) AS observed,
        |  roundStable(na * nb / n, 6) AS expected,
        |  roundStable(CASE WHEN sqrt(na * nb / n * (1.0 - na / n)
        |      * (1.0 - nb / n)) > 0
        |    THEN (CAST(o AS DOUBLE) - na * nb / n)
        |      / sqrt(na * nb / n * (1.0 - na / n) * (1.0 - nb / n))
        |    END, 6) AS adj_residual,
        |  CAST(CASE WHEN sqrt(na * nb / n * (1.0 - na / n)
        |      * (1.0 - nb / n)) > 0
        |    THEN CASE WHEN abs(roundStable(
        |        (CAST(o AS DOUBLE) - na * nb / n)
        |        / sqrt(na * nb / n * (1.0 - na / n)
        |          * (1.0 - nb / n)), 6)) > 3.0
        |      THEN 1 ELSE 0 END END AS BIGINT) AS surprising
        |FROM s ORDER BY a, b""".stripMargin),

    Query("q273_binseg", (s, dir) => {
      // WHERE the hourly series changes, up to 3 changepoints — the
      // multi-CP upgrade of q181's single Pettitt; all ordered sums
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hb"))
        .agg(avg(col("value")).as("hv"))
      etl.Drift.binseg(hourly, Seq("event_type"), orderCol = col("hb"),
          tieCol = col("hb"), valueCol = "hv", minSeg = 48)
        .orderBy(col("event_type"), col("segment"), col("split_i"))
    }, {
      // both levels replayed: ordered prefix sums (bit-deterministic),
      // totals from the LAST cumulative row, argmin on rounded cost
      def levelSql(src: String, part: String, segExpr: String) =
        s"""${src}a1 AS (SELECT *,
           |    row_number() OVER (PARTITION BY $part ORDER BY i) AS j,
           |    sum(x) OVER (PARTITION BY $part ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sx,
           |    sum(x * x) OVER (PARTITION BY $part ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sxx
           |  FROM ${src}r),
           |${src}a2 AS (SELECT *,
           |    count(*) OVER (PARTITION BY $part) AS n,
           |    last_value(sx) OVER (PARTITION BY $part ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
           |      FOLLOWING) AS sxn,
           |    last_value(sxx) OVER (PARTITION BY $part ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
           |      FOLLOWING) AS sxxn
           |  FROM ${src}a1),
           |${src}c1 AS (SELECT event_type, $segExpr AS segment, n, i, o, j,
           |    roundStable((sxx - sx * sx / CAST(j AS DOUBLE))
           |      + ((sxxn - sxx) - (sxn - sx) * (sxn - sx)
           |        / (CAST(n AS DOUBLE) - CAST(j AS DOUBLE))), 6)
           |      AS cost,
           |    roundStable(sxxn - sxn * sxn / CAST(n AS DOUBLE), 6)
           |      AS sset
           |  FROM ${src}a2 WHERE j >= 48 AND j <= n - 48),
           |${src}s1 AS (SELECT event_type, segment, n AS n_seg,
           |    i AS split_i, o AS split_at,
           |    roundStable(sset - cost, 6) AS gain,
           |    row_number() OVER (PARTITION BY event_type, segment
           |      ORDER BY cost ASC, j ASC) AS rn
           |  FROM ${src}c1)""".stripMargin
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS o,
         |    avg(value) AS x
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |lr AS (SELECT event_type, o, x,
         |    row_number() OVER (PARTITION BY event_type ORDER BY o, o)
         |      AS i
         |  FROM h),
         |${levelSql("l", "event_type", "'root'")},
         |lpick AS (SELECT * FROM ls1 WHERE rn = 1),
         |rr AS (SELECT lr.event_type, lr.o, lr.x, lr.i,
         |    CASE WHEN lr.i <= p.split_i THEN 'L' ELSE 'R' END AS side
         |  FROM lr JOIN (SELECT event_type, split_i FROM lpick) p
         |    ON p.event_type = lr.event_type),
         |${levelSql("r", "event_type, side", "side")},
         |rpick AS (SELECT * FROM rs1 WHERE rn = 1)
         |SELECT event_type, segment, CAST(n_seg AS BIGINT) AS n_seg,
         |  CAST(split_i AS BIGINT) AS split_i, split_at, gain
         |FROM (SELECT event_type, segment, n_seg, split_i, split_at,
         |    gain FROM lpick
         |  UNION ALL SELECT event_type, segment, n_seg, split_i,
         |    split_at, gain FROM rpick) u
         |ORDER BY event_type, segment, split_i""".stripMargin
    }),

    Query("q275_peaks", (s, dir) => {
      // the incident finder: local maxima of the hourly series that
      // are also robustly high (median + 2.5·1.4826·MAD)
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hb"))
        .agg(avg(col("value")).as("hv"))
      etl.Drift.peaks(hourly, Seq("event_type"), orderCol = col("hb"),
          tieCol = col("hb"), valueCol = "hv", k = 2.5)
        .orderBy(col("event_type"), col("o"))
    },
      // same robust threshold, same plateau convention, rounded flags
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS o,
        |    avg(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_cont(v, 0.5) AS med
        |  FROM h GROUP BY 1),
        |d AS (SELECT h.event_type, o, v, med
        |  FROM h JOIN m ON m.event_type = h.event_type),
        |a AS (SELECT event_type, quantile_cont(abs(v - med), 0.5) AS mad
        |  FROM d GROUP BY 1),
        |x AS (SELECT d.event_type, o, v, med, mad,
        |    lag(v) OVER w AS pv, lead(v) OVER w AS nv
        |  FROM d JOIN a ON a.event_type = d.event_type
        |  WINDOW w AS (PARTITION BY d.event_type ORDER BY o, o))
        |SELECT event_type, o, roundStable(v, 6) AS value,
        |  roundStable(med + 2.5 * CAST(1.4826 AS DOUBLE) * mad, 6)
        |    AS threshold,
        |  roundStable(v - med, 6) AS above_median
        |FROM x
        |WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v >= nv
        |  AND roundStable(v, 6) > roundStable(med
        |    + 2.5 * CAST(1.4826 AS DOUBLE) * mad, 6)
        |ORDER BY event_type, o""".stripMargin),

    Query("q257_xbar_chart", (s, dir) =>
      // the SPC view: daily subgroup means vs pooled-noise limits,
      // rule-1 excursions + rule-4 runs, flagged on rounded values
      etl.Drift.xbarChart(Tables.events(s, dir), Seq("event_type"),
          bucketCol = to_date(col("ts")), valueCol = "value")
        .orderBy(col("event_type"), col("bucket")),
      // same subgroup staging, pooled variance and limits from windows
      // over subgroup rows, flags from the SAME 6dp-rounded values
      """WITH s AS (SELECT event_type, CAST(ts AS DATE) AS bucket,
        |    count(*) AS n, avg(value) AS xb, var_samp(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket, n, xb, v,
        |    sum(xb * CAST(n AS DOUBLE)) OVER wa
        |      / sum(CAST(n AS DOUBLE)) OVER wa AS grand,
        |    sum(CASE WHEN v IS NOT NULL THEN CAST(n AS DOUBLE) - 1.0
        |      END) OVER wa AS pdf,
        |    sum(CASE WHEN v IS NOT NULL
        |      THEN (CAST(n AS DOUBLE) - 1.0) * v END) OVER wa AS pnum
        |  FROM s
        |  WINDOW wa AS (PARTITION BY event_type)),
        |x AS (SELECT event_type, bucket, n,
        |    roundStable(xb, 6) AS xbar, roundStable(grand, 6) AS center,
        |    roundStable(grand + 3.0 * sqrt((CASE WHEN pdf > 0
        |      THEN pnum / pdf END) / CAST(n AS DOUBLE)), 6) AS ucl,
        |    roundStable(grand - 3.0 * sqrt((CASE WHEN pdf > 0
        |      THEN pnum / pdf END) / CAST(n AS DOUBLE)), 6) AS lcl
        |  FROM w),
        |y AS (SELECT event_type, bucket, n, xbar, center, ucl, lcl,
        |    CASE WHEN ucl IS NOT NULL
        |      AND (xbar > ucl OR xbar < lcl) THEN 1 ELSE 0 END AS ooc,
        |    CASE WHEN xbar > center THEN 1 ELSE 0 END AS ab,
        |    CASE WHEN xbar < center THEN 1 ELSE 0 END AS bl
        |  FROM x),
        |z AS (SELECT event_type, bucket, n, xbar, center, ucl, lcl, ooc,
        |    CASE WHEN count(*) OVER w8 = 8 AND (sum(ab) OVER w8 = 8
        |      OR sum(bl) OVER w8 = 8) THEN 1 ELSE 0 END AS run_flag
        |  FROM y
        |  WINDOW w8 AS (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket, CAST(n AS BIGINT) AS n, xbar, center,
        |  ucl, lcl, CAST(ooc AS BIGINT) AS out_of_control,
        |  CAST(run_flag AS BIGINT) AS run_flag
        |FROM z ORDER BY event_type, bucket""".stripMargin),

    Query("q143_cusum", (s, dir) =>
      // online change-point localization: upper CUSUM of value per
      // event_type over the second month-half, reference moments from
      // the first — the drift family's WHEN to q125/q126's THAT
      etl.Drift.cusum(Tables.events(s, dir), Seq("event_type"), "value",
          orderCol = col("ts"), tieCol = col("event_id"),
          isRef = dayofmonth(col("ts")) <= 15)
        .orderBy(col("event_type")),
      // the max(0, S+x) recursion via its running-drawdown closed form:
      // S_t = P_t − min(0, min_{j≤t} P_j) — two cumulative windows per
      // side, lower side substitutes −z. σ≤0 keys carry NULL z → every
      // statistic folds to NULL (the "unmonitorable" contract); the
      // drawdown floor is a null-safe CASE (NULL min ⇒ floor 0 ⇒ NULL−0
      // stays NULL, matching Spark's null-skipping least)
      """WITH st AS (SELECT event_type, avg(value) AS mu,
        |              stddev_samp(value) AS sd
        |            FROM events WHERE day(ts) <= 15 GROUP BY event_type),
        |c AS (SELECT e.event_type, e.ts, e.event_id,
        |        CASE WHEN st.sd > 0 THEN (e.value - st.mu) / st.sd END AS z
        |      FROM events e JOIN st ON e.event_type = st.event_type
        |      WHERE day(e.ts) > 15),
        |p AS (SELECT event_type, ts, event_id,
        |        sum(z - 0.5) OVER w AS pu,
        |        sum(-z - 0.5) OVER w AS pl
        |      FROM c
        |      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING)),
        |s AS (SELECT event_type, ts,
        |        pu - CASE WHEN min(pu) OVER w < 0
        |          THEN min(pu) OVER w ELSE 0.0 END AS su,
        |        pl - CASE WHEN min(pl) OVER w < 0
        |          THEN min(pl) OVER w ELSE 0.0 END AS sl
        |      FROM p
        |      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING))
        |SELECT event_type,
        |  CAST(sum(CASE WHEN su > 5.0 THEN 1
        |    WHEN su IS NOT NULL THEN 0 END) AS BIGINT) AS n_alarms,
        |  min(CASE WHEN su > 5.0 THEN ts END) AS first_alarm_at,
        |  roundStable(max(su), 6) AS max_s,
        |  CAST(sum(CASE WHEN sl > 5.0 THEN 1
        |    WHEN sl IS NOT NULL THEN 0 END) AS BIGINT) AS n_alarms_lo,
        |  min(CASE WHEN sl > 5.0 THEN ts END) AS first_alarm_lo_at,
        |  roundStable(max(sl), 6) AS max_s_lo,
        |  count(*) AS n_cur
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin),
  )
}
