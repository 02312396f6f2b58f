package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.roundStable

/** Queries built from Spark's own relational operators (joins, windows,
  * pivots, rollups, set operations) over the TPC-H tables and events.
  */
private[graft] object RelationalQueries {

  val queries: Seq[Query] = Seq(
    Query("q19_monthly_summary", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(month(col("ts")).cast("long").as("month"), col("event_type"))
        .agg(roundStable(avg(col("value")), 4).as("avg_value"),
          roundStable(max(col("value")), 6).as("max_value"),
          count(lit(1)).as("n"))
        .orderBy(col("month"), col("event_type")),
      """SELECT CAST(EXTRACT(month FROM ts) AS BIGINT) AS month, event_type,
        | roundStable(avg(value), 4) AS avg_value,
        | roundStable(max(value), 6) AS max_value,
        | count(*) AS n
        |FROM events GROUP BY month, event_type ORDER BY month, event_type""".stripMargin),

    Query("q20_join_mstar", (s, dir) => {
      // Star join: fact (orders) shuffles on c_custkey only if customer is
      // big; nation/region are always broadcast. At 100 TB this is one
      // shuffle join + two broadcast joins.
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(roundStable(sum(col("o_totalprice")), 4).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name,
        | roundStable(sum(o_totalprice), 4) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    Query("q22_pivot", (s, dir) => {
      // Conditional aggregation (pivot without the extra distinct-values
      // job): one pass, map-side partials.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(t =>
        roundStable(sum(when(col("event_type") === t, col("value"))), 4).as(t))
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("d"))
    },
      """SELECT CAST(ts AS DATE) AS d,
        | roundStable(sum(value) FILTER (WHERE event_type = 'click'), 4) AS click,
        | roundStable(sum(value) FILTER (WHERE event_type = 'error'), 4) AS error,
        | roundStable(sum(value) FILTER (WHERE event_type = 'purchase'), 4) AS purchase,
        | roundStable(sum(value) FILTER (WHERE event_type = 'signup'), 4) AS signup,
        | roundStable(sum(value) FILTER (WHERE event_type = 'view'), 4) AS "view"
        |FROM events GROUP BY d ORDER BY d""".stripMargin),

    Query("q23_rollup", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(roundStable(sum(col("c_acctbal")), 4).as("acctbal_sum"),
          count(lit(1)).as("n_customers"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("acctbal_sum"), col("n_customers"))
        .orderBy(col("region"), col("nation"))
    },
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
        | roundStable(sum(c_acctbal), 4) AS acctbal_sum, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin),

    Query("q24_semi_anti", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("kind"), col("n"))
      withO.unionByName(withoutO).orderBy(col("kind"))
    },
      """SELECT 'with_orders' AS kind, count(*) AS n FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS kind, count(*) AS n FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY kind""".stripMargin),

    Query("q25_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(roundStable(avg(col("k")), 4).as("avg_k"),
          sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        | roundStable(avg(CAST(props->>'k' AS BIGINT)), 4) AS avg_k,
        | CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        | count(CAST(props->>'k' AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q48_funnel", (s, dir) => {
      // classic ordered funnel: view → click → purchase, first-touch per
      // stage per user, strictly increasing timestamps
      val f = Tables.events(s, dir).groupBy(col("user_id")).agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      f.agg(
        count(when(col("t_view").isNotNull, 1)).as("viewed"),
        count(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1))
          .as("clicked_after_view"),
        count(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_purchase") > col("t_click"), 1)).as("purchased_after_click"))
    },
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        | count(*) FILTER (WHERE t_view IS NOT NULL) AS viewed,
        | count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view) AS clicked_after_view,
        | count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click) AS purchased_after_click
        |FROM f""".stripMargin),

    Query("q49_retention", (s, dir) => {
      // weekly cohort retention: users grouped by first-activity week,
      // counted per week-offset of later activity.
      //
      // Single pass per user: ONE shuffle on user_id computes both the
      // cohort (min ts) and the distinct active weeks (collect_set —
      // bounded: #weeks in the observation window), then one shuffle on
      // (cohort, offset). The naive shape — distinct + groupBy + join +
      // countDistinct — is four shuffles of the same data. count(*)
      // equals countDistinct(user_id) here because a user's distinct
      // weeks map to distinct offsets (weeks are 7 days apart, so
      // floor(days/7) never collides) — each user contributes at most
      // one row per (cohort, offset).
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort"),
          collect_set(date_trunc("week", col("ts"))).as("wks"))
        .select(col("cohort"), explode(col("wks")).as("wk"))
        .groupBy(col("cohort"),
          // Column./ is always fp division — floor+cast pins BIGINT to
          // match the oracle's integer `// 7`
          floor(datediff(to_date(col("wk")), to_date(col("cohort"))) / 7).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("active_users"))
        .orderBy(col("cohort"), col("week_offset"))
    },
      """WITH first AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
        |SELECT CAST(cohort AS TIMESTAMP) AS cohort,
        | CAST(date_diff('day', CAST(cohort AS DATE), CAST(wk AS DATE)) // 7 AS BIGINT) AS week_offset,
        | count(DISTINCT user_id) AS active_users
        |FROM act JOIN first USING (user_id)
        |GROUP BY cohort, week_offset ORDER BY cohort, week_offset""".stripMargin),

    Query("q46_set_ops", (s, dir) => {
      // set algebra over key domains: customers who ordered in both
      // halves of the window (INTERSECT), only the first (EXCEPT), and
      // either (UNION) — counted per set
      val o = Tables.orders(s, dir)
      val mid = "1998-01-01"
      val early = o.filter(col("o_orderdate") < lit(mid)).select(col("o_custkey"))
      val late  = o.filter(col("o_orderdate") >= lit(mid)).select(col("o_custkey"))
      val both    = early.intersect(late).agg(count(lit(1)).as("n"))
        .select(lit("both").as("set_name"), col("n"))
      val onlyE   = early.distinct().exceptAll(late.distinct()).agg(count(lit(1)).as("n"))
        .select(lit("early_only").as("set_name"), col("n"))
      val either  = early.union(late).distinct().agg(count(lit(1)).as("n"))
        .select(lit("either").as("set_name"), col("n"))
      both.unionByName(onlyE).unionByName(either).orderBy(col("set_name"))
    },
      """WITH early AS (SELECT o_custkey FROM orders WHERE o_orderdate < '1998-01-01'),
        |late AS (SELECT o_custkey FROM orders WHERE o_orderdate >= '1998-01-01')
        |SELECT 'both' AS set_name, count(*) AS n FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late) t
        |UNION ALL
        |SELECT 'early_only', count(*) FROM (SELECT DISTINCT o_custkey FROM early EXCEPT SELECT DISTINCT o_custkey FROM late) t
        |UNION ALL
        |SELECT 'either', count(*) FROM (SELECT o_custkey FROM early UNION SELECT o_custkey FROM late) t
        |ORDER BY set_name""".stripMargin),

    Query("q65_session_window", (s, dir) =>
      // Spark's NATIVE session windows (the built-in counterpart of the
      // hand-rolled q45 lag-based sessionization; also the streaming
      // session primitive). Boundary semantics: a new session starts
      // when the gap is >= 30 min (merge iff next < prev_end), which the
      // oracle mirrors with >=.
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          roundStable(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          col("sw.start").as("session_start"),
          col("sw.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
      """WITH t AS (
        |  SELECT user_id, ts, value, epoch_us(ts) AS tu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(CASE WHEN prev IS NULL OR tu - prev >= 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_n
        |  FROM t)
        |SELECT user_id,
        | CAST(min(ts) AS TIMESTAMP) AS session_start,
        | CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        | count(*) AS n_events,
        | roundStable(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, session_n
        |ORDER BY user_id, session_start""".stripMargin),

    Query("q56_tpch_pricing", (s, dir) =>
      // TPC-H Q1 shape: date-filtered multi-aggregate pricing summary.
      // The filter reaches the parquet scan (PushedFilters); aggregation
      // is partial+final over two low-cardinality keys.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          roundStable(sum(col("l_quantity")), 4).as("sum_qty"),
          roundStable(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          roundStable(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
          roundStable(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
          roundStable(avg(col("l_quantity")), 6).as("avg_qty"),
          roundStable(avg(col("l_extendedprice")), 4).as("avg_price"),
          roundStable(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        | roundStable(sum(l_quantity), 4) AS sum_qty,
        | roundStable(sum(l_extendedprice), 4) AS sum_base_price,
        | roundStable(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        | roundStable(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
        | roundStable(avg(l_quantity), 6) AS avg_qty,
        | roundStable(avg(l_extendedprice), 4) AS avg_price,
        | roundStable(avg(l_discount), 6) AS avg_disc,
        | count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Query("q57_promo_share", (s, dir) => {
      // part-dimension join (broadcast) + conditional aggregation:
      // promo revenue share per brand (TPC-H Q14 generalized)
      val li = Tables.lineitem(s, dir)
      val p = broadcast(Tables.part(s, dir))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          roundStable(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))), 4).as("promo_rev"),
          roundStable(sum(rev), 4).as("total_rev"),
          count(lit(1)).as("n"))
        .withColumn("promo_share",
          roundStable(col("promo_rev") / col("total_rev"), 6))
        .orderBy(col("p_brand"))
    },
      """WITH j AS (
        |  SELECT p_brand, p_type, l_extendedprice * (1.0 - l_discount) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (
        |  SELECT p_brand,
        |    roundStable(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0.0 END), 4) AS promo_rev,
        |    roundStable(sum(rev), 4) AS total_rev,
        |    count(*) AS n
        |  FROM j GROUP BY p_brand)
        |SELECT p_brand, promo_rev, total_rev, n,
        | roundStable(promo_rev / total_rev, 6) AS promo_share
        |FROM a ORDER BY p_brand""".stripMargin),

    Query("q58_supplier_revenue", (s, dir) => {
      // two-level dimension chain: lineitem ⋈ supplier ⋈ nation, revenue
      // per nation — both dims broadcast, fact never shuffles before agg
      val li = Tables.lineitem(s, dir)
      val sup = broadcast(Tables.supplier(s, dir))
      val n = broadcast(Tables.nation(s, dir))
      li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(roundStable(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
        | roundStable(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Query("q55_window_suite", (s, dir) => {
      // analytic window battery: lead/lag/ntile/percent_rank/cume_dist
      // over one keyed sort — all five functions share the same window
      // spec, so Catalyst plans ONE shuffle+sort
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"),
          roundStable(percent_rank().over(w), 6).as("pct_rank"),
          roundStable(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | roundStable(percent_rank() OVER w, 6) AS pct_rank,
        | roundStable(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    Query("q161_unpivot", (s, dir) => {
      // melt — the inverse of q22's pivot: wide per-day metrics back to
      // (day, metric, value) long form; Spark's native unpivot explodes
      // map-side, zero shuffles beyond the feeding agg
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.functions.roundStable(avg(col("value")), 6).as("avg_value"),
          max(col("value")).as("max_value"),
          min(col("value")).as("min_value"))
      daily.unpivot(Array(col("day")),
          Array(col("avg_value"), col("max_value"), col("min_value")),
          "metric", "metric_value")
        .orderBy(col("day"), col("metric"))
    },
      // melt replayed as a UNION ALL of the three metric columns
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |        roundStable(avg(value), 6) AS a,
        |        max(value) AS mx, min(value) AS mn
        |      FROM events GROUP BY 1)
        |SELECT day, 'avg_value' AS metric, a AS metric_value FROM d
        |UNION ALL SELECT day, 'max_value', mx FROM d
        |UNION ALL SELECT day, 'min_value', mn FROM d
        |ORDER BY day, metric""".stripMargin),

    Query("q280_hll_overlap", (s, dir) => {
      // audience overlap at sketch scale: inclusion-exclusion over
      // HLL unions, verdict-gated against the exact pair counts (the
      // q62/q138 discipline — estimates are engine-specific, the
      // within-tolerance verdict is not)
      val m = Tables.events(s, dir)
        .select(col("event_type").as("c"), col("user_id").as("e"))
        .distinct()
      val sk = m.groupBy(col("c")).agg(expr("hll_sketch_agg(e)").as("sk"))
      val sa = sk.select(col("c").as("cat_a"), col("sk").as("ska"))
      val sb = sk.select(col("c").as("cat_b"), col("sk").as("skb"))
      val est = sa.crossJoin(sb).filter(col("cat_a") < col("cat_b"))
        .select(col("cat_a"), col("cat_b"),
          (expr("hll_sketch_estimate(ska)") +
            expr("hll_sketch_estimate(skb)") -
            expr("hll_sketch_estimate(hll_union(ska, skb))"))
            .as("__inter_est"))
      val exact = m.as("x").join(m.as("y"), "e")
        .filter(col("x.c") < col("y.c"))
        .groupBy(col("x.c").as("cat_a"), col("y.c").as("cat_b"))
        .agg(count(lit(1)).as("n_both"))
      est.join(exact, Seq("cat_a", "cat_b"), "left")
        .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
        .select(col("cat_a"), col("cat_b"), col("n_both"),
          (abs(col("__inter_est") - col("n_both")) <=
            greatest(col("n_both").cast("double") * lit(0.2), lit(3.0)))
            .cast("long").as("sketch_ok"))
        .orderBy(col("cat_a"), col("cat_b"))
    },
      // exact pair counts + the always-1 verdict the sketch must earn
      """WITH m AS (SELECT DISTINCT event_type AS c, user_id AS e
        |  FROM events),
        |pr AS (SELECT x.c AS cat_a, y.c AS cat_b, count(*) AS n_both
        |  FROM m x JOIN m y ON y.e = x.e AND x.c < y.c GROUP BY 1, 2),
        |allp AS (SELECT a.c AS cat_a, b.c AS cat_b
        |  FROM (SELECT DISTINCT c FROM m) a
        |  JOIN (SELECT DISTINCT c FROM m) b ON a.c < b.c)
        |SELECT allp.cat_a, allp.cat_b,
        |  CAST(coalesce(pr.n_both, 0) AS BIGINT) AS n_both,
        |  CAST(1 AS BIGINT) AS sketch_ok
        |FROM allp LEFT JOIN pr ON pr.cat_a = allp.cat_a
        |  AND pr.cat_b = allp.cat_b
        |ORDER BY allp.cat_a, allp.cat_b""".stripMargin),

    Query("q277_ltv_curve", (s, dir) => {
      // cumulative purchase value per cohort user by week offset —
      // the money twin of q49's activity triangle; ordered cumulative
      // sums are engine-deterministic
      val ev = Tables.events(s, dir)
      val cohorts = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort"))
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.partitionBy(col("cohort")).orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.filter(col("event_type") === "purchase" && col("value").isNotNull)
        .join(cohorts, "user_id")
        .groupBy(col("cohort"),
          floor(datediff(to_date(col("ts")), to_date(col("cohort"))) / 7)
            .cast("long").as("week_offset"))
        .agg(sum(col("value")).as("__rev"))
        .join(cohorts.groupBy(col("cohort"))
          .agg(countDistinct(col("user_id")).as("cohort_users")), "cohort")
        .withColumn("rev", roundStable(col("__rev"), 6))
        .withColumn("cum_rev", roundStable(sum(col("__rev")).over(wCum), 6))
        .withColumn("ltv_per_user", roundStable(
          sum(col("__rev")).over(wCum) /
            col("cohort_users").cast("double"), 6))
        .select(col("cohort"), col("week_offset"), col("cohort_users"),
          col("rev"), col("cum_rev"), col("ltv_per_user"))
        .orderBy(col("cohort"), col("week_offset"))
    },
      // q49's cohort staging on purchases; ordered cumulative revenue
      """WITH c AS (SELECT user_id, date_trunc('week', min(ts))
        |    AS cohort FROM events GROUP BY 1),
        |cu AS (SELECT cohort, count(DISTINCT user_id) AS cohort_users
        |  FROM c GROUP BY 1),
        |r AS (SELECT c.cohort,
        |    CAST(date_diff('day', CAST(c.cohort AS DATE),
        |      CAST(e.ts AS DATE)) // 7 AS BIGINT) AS week_offset,
        |    sum(e.value) AS rev0
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT r.cohort, week_offset, cu.cohort_users, rev0,
        |    sum(rev0) OVER (PARTITION BY r.cohort ORDER BY week_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0
        |  FROM r JOIN cu ON cu.cohort = r.cohort)
        |SELECT CAST(cohort AS TIMESTAMP) AS cohort, week_offset,
        |  CAST(cohort_users AS BIGINT) AS cohort_users,
        |  roundStable(rev0, 6) AS rev, roundStable(cum0, 6) AS cum_rev,
        |  roundStable(cum0 / CAST(cohort_users AS DOUBLE), 6)
        |    AS ltv_per_user
        |FROM w ORDER BY cohort, week_offset""".stripMargin),

    Query("q272_conversion_latency", (s, dir) => {
      // how LONG view→purchase takes, not just whether: exact
      // latency percentiles per cohort + the conversion rate
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("tv"))
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("tp"))
      v.join(p, Seq("user_id"), "left")
        .select((col("user_id") % 3).as("cohort"),
          ((col("tp") - unix_micros(col("tv"))).cast("double") /
            lit(1000000.0)).as("lat"),
          col("tp").isNotNull.as("conv"))
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_viewed"),
          sum(when(col("conv"), 1L).otherwise(0L)).as("n_converted"),
          roundStable(sum(when(col("conv"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)).cast("double"), 6)
            .as("conv_rate"),
          roundStable(expr("percentile(lat, 0.5)"), 6).as("median_s"),
          roundStable(expr("percentile(lat, 0.9)"), 6).as("p90_s"),
          roundStable(avg(col("lat")), 6).as("mean_s"))
        .orderBy(col("cohort"))
    },
      // same two-stage staging, exact latency percentiles in seconds
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tp
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.tv GROUP BY 1),
        |l AS (SELECT v.user_id % 3 AS cohort,
        |    CAST(p.tp - epoch_us(v.tv) AS DOUBLE) / 1000000.0 AS lat,
        |    (p.user_id IS NOT NULL) AS conv
        |  FROM v LEFT JOIN p ON p.user_id = v.user_id)
        |SELECT cohort, count(*) AS n_viewed,
        |  CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_converted,
        |  roundStable(CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS conv_rate,
        |  roundStable(quantile_cont(lat, 0.5), 6) AS median_s,
        |  roundStable(quantile_cont(lat, 0.9), 6) AS p90_s,
        |  roundStable(avg(lat), 6) AS mean_s
        |FROM l GROUP BY 1 ORDER BY cohort""".stripMargin),

    Query("q148_hopping", (s, dir) =>
      // overlapping (hopping) event-time windows in BATCH — the
      // streaming window shape q27's tumbling buckets don't cover:
      // 2 h windows sliding 1 h, so every event lands in exactly two;
      // Spark's window() explodes the assignment map-side
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          graft.functions.roundStable(avg(col("value")), 6).as("avg_value"))
        .select(col("event_type"), col("w.start").as("w_start"),
          col("w.end").as("w_end"), col("n"), col("avg_value"))
        .orderBy(col("event_type"), col("w_start")),
      // each event joins exactly two 2h/1h hopping windows: starts at
      // its hour and the hour before — the UNION ALL replays Spark's
      // window() assignment exactly
      """WITH t AS (SELECT event_type, value,
        |             date_trunc('hour', ts) AS h FROM events),
        |u AS (SELECT event_type, value, h AS ws FROM t
        |      UNION ALL
        |      SELECT event_type, value, h - INTERVAL 1 HOUR AS ws FROM t)
        |SELECT event_type, CAST(ws AS TIMESTAMP) AS w_start,
        |  CAST(ws + INTERVAL 2 HOUR AS TIMESTAMP) AS w_end,
        |  count(*) AS n, roundStable(avg(value), 6) AS avg_value
        |FROM u GROUP BY event_type, ws
        |ORDER BY event_type, w_start""".stripMargin),

    Query("q149_ohlc", (s, dir) => {
      // OHLC downsampling (the telemetry/financial candle): per
      // event_type × hour, open/close by (ts, event_id) order +
      // high/low/volume — two row_number windows over ONE keyed sort,
      // conditional aggs close the bucket
      import org.apache.spark.sql.expressions.Window
      val b = Tables.events(s, dir)
        .withColumn("bucket", date_trunc("hour", col("ts")))
      val wAsc = Window.partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("ts").desc, col("event_id").desc)
      b.withColumn("__rf", row_number().over(wAsc))
        .withColumn("__rl", row_number().over(wDesc))
        .groupBy(col("event_type"), col("bucket"))
        .agg(
          // all four are exact DATA values (no arithmetic) — no
          // rounding needed for engine portability
          max(when(col("__rf") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("__rl") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket"))
    },
      // open/close by (ts, event_id) row order; all four outputs are
      // exact data values — no rounding
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM events)
        |SELECT event_type, CAST(bucket AS TIMESTAMP) AS bucket,
        |  max(CASE WHEN rf = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rl = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin),

    Query("q93_zorder", (s, dir) => {
      // Morton-code computation behind Io.writeZOrdered: interleave the
      // low 8 bits of two key columns — pure shift/and/or fold, one
      // codegen'd projection over the scan. The layout effect (box
      // queries cluster into few files) is spec-asserted in PipelineSpec;
      // this gates the code itself cross-engine.
      val li = Tables.lineitem(s, dir)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.ZOrder.zValue(
          Seq(pmod(col("l_orderkey"), lit(256)), pmod(col("l_partkey"), lit(256))),
          bits = 8).as("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum([(((l_orderkey % 256) >> i) & 1) * (1::BIGINT << (2*i))
        |               + (((l_partkey % 256) >> i) & 1) * (1::BIGINT << (2*i+1))
        |               FOR i IN range(0, 8)]) AS BIGINT) AS zval
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Query("q95_gap_detect", (s, dir) => {
      // sensor-downtime detection over each key's reading series:
      // consecutive events further apart than 2 h become one gap row —
      // the monitoring counterpart of interpolation (q03 fills small
      // gaps; this reports the outages). One keyed window, narrow after.
      // microsecond arithmetic on BOTH sides: second-cast floors and
      // fractional epoch() round differently at the boundary
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .filter(unix_micros(col("next_ts")) - unix_micros(col("ts")) > 7200L * 1000000L)
        .select(col("event_type"), col("ts").as("gap_start"),
          col("next_ts").as("gap_end"),
          (unix_micros(col("next_ts")) - unix_micros(col("ts"))).as("gap_usecs"))
        .orderBy(col("event_type"), col("gap_start"))
    },
      """WITH o AS (SELECT event_type, ts, event_id,
        |    lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_ts
        |  FROM events)
        |SELECT event_type, ts AS gap_start, next_ts AS gap_end,
        |  epoch_us(next_ts) - epoch_us(ts) AS gap_usecs
        |FROM o WHERE epoch_us(next_ts) - epoch_us(ts) > 7200000000::BIGINT
        |ORDER BY event_type, gap_start""".stripMargin),
  )
}
