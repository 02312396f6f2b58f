package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.roundStable
import graft.etl.Aggregates
import ProcessState.memoOnce

/** Graph, temporal-join, interval, CDC and entity-resolution operators
  * (`graft.operators`).
  */
private[graft] object OperatorQueries {

  /** Supplier co-purchasing graph for the triangle queries: an edge per
    * supplier pair sharing a part in lineitem, restricted to high-volume
    * line items — shared-part graphs are near-complete unrestricted, and
    * the cut keeps wedge volume bench-sane at sf0.1 while leaving a rich
    * triangle structure. Src < dst by construction.
    */
  private def supplierGraph(s: SparkSession, dir: String): DataFrame = {
    // the l_quantity cut keeps the co-purchasing graph SPARSE (~16%
    // density at sf0.1 vs near-complete without it) — a complete graph
    // makes triangle counting degenerate and the wedge join needlessly
    // heavy. The supplier join exists to keep the graph surface honest
    // (suppliers are the declared node domain even when every l_suppkey
    // resolves).
    val sp = Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45)
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct()
    sp.as("r1").join(sp.as("r2"),
        col("r1.pk") === col("r2.pk") && col("r1.sk") < col("r2.sk"))
      .select(col("r1.sk").as("src"), col("r2.sk").as("dst"))
  }

  /** q111/q112's shared dimension fold: the SCD2 chain over the orders
    * feed as a bare SELECT (no ORDER BY) so both oracles reuse it.
    */
  private val scd2DimSql: String =
    """WITH u0 AS (SELECT o_custkey AS cust, o_orderdate AS ts,
      |             min(o_orderpriority) AS seg
      |           FROM orders GROUP BY 1, 2),
      |c1 AS (SELECT cust, ts, seg,
      |         lag(seg) OVER (PARTITION BY cust ORDER BY ts) AS prev
      |       FROM u0),
      |ch AS (SELECT cust, ts, seg,
      |         row_number() OVER (PARTITION BY cust ORDER BY ts) AS rn
      |       FROM c1 WHERE prev IS NULL OR prev <> seg),
      |surv AS (SELECT * FROM ch WHERE NOT (rn = 1 AND seg = '1-URGENT')),
      |vers AS (SELECT cust, seg, CAST(ts AS DATE) AS valid_from,
      |           CAST(lead(ts) OVER (PARTITION BY cust ORDER BY ts) AS DATE)
      |             AS valid_to
      |         FROM surv),
      |firstnew AS (SELECT cust, min(valid_from) AS close_at
      |             FROM vers GROUP BY 1)
      |SELECT cust, seg, valid_from, valid_to FROM vers
      |UNION ALL
      |SELECT c_custkey AS cust, '1-URGENT' AS seg,
      |  DATE '1990-01-01' AS valid_from, f.close_at AS valid_to
      |FROM customer LEFT JOIN firstnew f ON c_custkey = f.cust""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q26_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val o  = Tables.orders(s, dir)
      operators.AsOfJoin.latestAtOrBefore(
        ev, o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        carryCol = "o_orderdate", outCol = "asof_date")
        .select(col("event_id"), col("asof_date"))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, CAST(max(o.o_orderdate) AS TIMESTAMP) AS asof_date
        |FROM events e
        |LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin),

    Query("q67_range_join", (s, dir) => {
      // interval join WITHOUT the BroadcastNestedLoopJoin cliff: per
      // shipment, count orders placed in the 2-day window ending at the
      // ship date. RangeJoin.binned keys points by time bin and explodes
      // each interval over its overlapping bins — an equi-join + exact
      // filter (plan-spec-asserted no BNLJ); the oracle is the naive
      // BETWEEN join.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
          col("l_shipdate") <= lit("1995-04-30").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_shipdate"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderdate").as("lo"),
          (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("hi"))
      operators.RangeJoin.binned(li, ord, "l_shipdate", "lo", "hi",
          binMicros = 2L * 86400L * 1000000L)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n_recent_orders"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
        |  count(*) AS n_recent_orders
        |FROM lineitem l JOIN orders o
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate <= o.o_orderdate + INTERVAL 1 DAY
        |WHERE l.l_shipdate >= TIMESTAMP '1995-03-01'
        |  AND l.l_shipdate <= TIMESTAMP '1995-04-30'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("q53_salted_agg", (s, dir) =>
      // Two-phase salted aggregation under the DRIVER oracle (not just
      // specs): result must equal a plain GROUP BY regardless of the salt.
      // Salt derives from the deterministic event_id so the partial stage
      // is reproducible under task retry (no RNG anywhere in the plan).
      operators.Skew.saltedSum(Tables.events(s, dir), Seq("event_type"), "value", buckets = 8,
        saltFrom = Some("event_id"))
        .select(col("event_type"),
          roundStable(col("sum_value"), 4).as("sum_value"),
          col("n"),
          roundStable(col("avg_value"), 6).as("avg_value"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        | roundStable(CAST(sum(value) AS DOUBLE), 4) AS sum_value,
        | count(*) AS n,
        | roundStable(CAST(sum(value) AS DOUBLE) / count(*), 6) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q54_asof_forward", (s, dir) => {
      // forward as-of join: earliest order at or after each event
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val o  = Tables.orders(s, dir)
      operators.AsOfJoin.earliestAtOrAfter(
        ev, o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        carryCol = "o_orderdate", outCol = "asof_next")
        .select(col("event_id"), col("asof_next"))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, CAST(min(o.o_orderdate) AS TIMESTAMP) AS asof_next
        |FROM events e
        |LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin),

    Query("q102_fuzzy_match", (s, dir) =>
      // edit-distance record linkage over the distinct part names:
      // lossless length-band blocking (dist >= |len diff|) restores an
      // equi-join where bare levenshtein <= d would plan a nested-loop
      // cross; the banded levenshtein(threshold) verifies in O(d·len).
      operators.FuzzyJoin.fuzzyPairs(Tables.part(s, dir), "p_name",
          maxDist = 3)
        .orderBy(col("s_a"), col("s_b")),
      // the blocking CONTRACT replayed: length band [l_a, l_a+3] with
      // the strict (length, lex) orientation, then exact levenshtein
      """WITH n AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL),
        |l AS (SELECT s, length(s) AS len FROM n)
        |SELECT a.s AS s_a, b.s AS s_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM l a JOIN l b
        |  ON b.len BETWEEN a.len AND a.len + 3
        | AND (a.len < b.len OR a.s < b.s)
        |WHERE levenshtein(a.s, b.s) <= 3
        |ORDER BY s_a, s_b""".stripMargin),

    Query("q106_pagerank", (s, dir) => {
      // PageRank over the symmetrized customer↔supplier trade graph
      // (distinct (cust, supp) pairs via lineitem⋈orders, both
      // directions so no node dangles). 10 rounds, damping 0.85; the
      // oracle unrolls the identical recurrence as 10 chained CTEs.
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst")))
      operators.PageRank.run(edges, "src", "dst", iters = 10)
        .select(col("node"), roundStable(col("rank"), 6).as("rank_r"))
        .orderBy(col("node"))
    }, {
      // the recurrence unrolled as 10 chained CTEs (a recursive CTE can
      // reference the working table only once; the contribution join
      // needs it twice) — identical fp expression tree as the operator
      val iterCtes = (1 to 10).map { i =>
        s"""r$i AS (SELECT nodes.node,
           |        (CAST(1 AS DOUBLE) - 0.85) / st.n + 0.85 * coalesce(c.s, CAST(0 AS DOUBLE)) AS rank
           |       FROM nodes CROSS JOIN st
           |       LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
           |                  FROM e JOIN r${i - 1} r ON e.src = r.node
           |                  JOIN deg ON deg.node = e.src
           |                  GROUP BY 1) c ON c.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         |             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |st AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST(1 AS DOUBLE) / st.n AS rank FROM nodes CROSS JOIN st),
         |$iterCtes
         |SELECT node, roundStable(rank, 6) AS rank_r FROM r10 ORDER BY node""".stripMargin
    }),

    Query("q110_fuzzy_deletion", (s, dir) =>
      // the SELECTIVE small-distance linkage path: symmetric-deletion
      // (FastSS) blocking at d<=2 — near-singleton key groups instead
      // of everything-of-one-length, removing the quadratic-within-band
      // cliff on uniform-length corpora (q102 is the general-d band).
      // Output contract identical; the oracle is the brute force
      // restricted to the provably-lossless length band.
      operators.FuzzyJoin.fuzzyPairsDeletion(Tables.part(s, dir), "p_name",
          maxDist = 2)
        .orderBy(col("s_a"), col("s_b")),
      // output contract of the deletion blocking: every unordered pair
      // within d<=2, (length, lex)-oriented — brute force restricted to
      // the lossless band
      """WITH n AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL),
        |l AS (SELECT s, length(s) AS len FROM n)
        |SELECT a.s AS s_a, b.s AS s_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM l a JOIN l b
        |  ON b.len BETWEEN a.len AND a.len + 2
        | AND (a.len < b.len OR a.s < b.s)
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY s_a, s_b""".stripMargin),

    Query("q111_scd2_merge", (s, dir) => {
      // SCD Type-2 merge: version each customer's priority tier from the
      // orders feed (one update per (cust, date), min-priority tie-fold).
      // Initial dim opens everyone at '1-URGENT' so first updates that
      // re-state it exercise the open-row collapse; consecutive equal
      // priorities collapse in-chain. Closed history passes through
      // shuffle-free; only open rows join the batch.
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("cust"), lit("1-URGENT").as("seg"))
      val dim = operators.Scd2.init(cust, Seq("cust"), Seq("seg"),
        epoch = "1990-01-01")
      val ups = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("cust"), col("o_orderdate").as("ts"))
        .agg(min(col("o_orderpriority")).as("seg"))
      operators.Scd2.merge(dim, ups, Seq("cust"), Seq("seg"), "ts")
        .select(col("cust"), col("seg"), col("valid_from"), col("valid_to"),
          col("is_current").cast("long").as("cur"))
        .orderBy(col("cust"), col("valid_from"))
    },
      // the SCD2 fold replayed: consecutive-dedupe per key, first
      // surviving update collapsed against the '1-URGENT' open baseline,
      // survivors chained by lead(), baseline closed at the first new
      // version's valid_from
      s"""SELECT cust, seg, valid_from, valid_to,
         |  CAST(valid_to IS NULL AS BIGINT) AS cur
         |FROM ($scd2DimSql) dim
         |ORDER BY cust, valid_from""".stripMargin),

    Query("q112_temporal_join", (s, dir) => {
      // point-in-time fact enrichment: each order joined to the customer
      // priority-tier version valid at its own order date (half-open
      // intervals — an order on a version's first day sees the new
      // version, including the version it itself created). Key-driven
      // sort-merge join; the interval test is a residual, never a BNLJ.
      // The dim BUILD is q111's timed surface — here it lands once per
      // process (a dimension is a maintained table, not a per-query
      // recompute) and the timed body measures the steady-state join.
      val dimPath = memoOnce(s"q112dim|$dir") {
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey").as("cust"), lit("1-URGENT").as("seg"))
        val dim0 = operators.Scd2.init(cust, Seq("cust"), Seq("seg"),
          epoch = "1990-01-01")
        val ups = Tables.orders(s, dir)
          .groupBy(col("o_custkey").as("cust"), col("o_orderdate").as("ts"))
          .agg(min(col("o_orderpriority")).as("seg"))
        val p = java.nio.file.Files.createTempDirectory("graft_q112dim").toString
        operators.Scd2.merge(dim0, ups, Seq("cust"), Seq("seg"), "ts")
          .write.mode("overwrite").parquet(p)
        p
      }
      val facts = Tables.orders(s, dir).select(col("o_orderkey").as("okey"),
        col("o_custkey").as("cust"), col("o_orderdate").as("ts"))
      operators.Scd2.temporalJoin(facts, s.read.parquet(dimPath),
          Seq("cust"), "ts")
        .orderBy(col("okey"))
    },
      // each order matched to the one half-open version interval covering
      // its date — the dim fold shared verbatim with q111's oracle
      s"""SELECT o.o_orderkey AS okey, d.cust, o.o_orderdate AS ts, d.seg
         |FROM orders o JOIN ($scd2DimSql) d
         |  ON o.o_custkey = d.cust
         | AND o.o_orderdate >= d.valid_from
         | AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
         |ORDER BY okey""".stripMargin),

    Query("q113_table_diff", (s, dir) => {
      // snapshot reconciliation: diff orders against a drifted replica
      // (1/97 of keys dropped, 1/101 prices bumped, 1/103 re-keyed in as
      // additions). Output is O(drift): one full-outer SMJ on the key,
      // identical rows vanish, changed rows name their columns.
      val a = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      val b = a.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 101 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
        .unionByName(a.filter(col("o_orderkey") % 103 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
      operators.TableDiff.diff(a, b, Seq("o_orderkey"))
        .select(col("o_orderkey").as("okey"), col("status"),
          concat_ws(",", col("changed_cols")).as("cols"))
        .orderBy(col("okey"))
    },
      // the same drifted replica rebuilt, full-outer joined, statuses by
      // presence flags, changed columns named via null-skipping concat_ws
      """WITH a AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |           FROM orders),
        |b AS (SELECT o_orderkey, o_custkey,
        |        CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
        |             ELSE o_totalprice END AS o_totalprice,
        |        o_orderstatus
        |      FROM a WHERE o_orderkey % 97 <> 0
        |      UNION ALL
        |      SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
        |        o_orderstatus
        |      FROM a WHERE o_orderkey % 103 = 0),
        |j AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS okey,
        |        a.o_orderkey IS NULL AS only_b, b.o_orderkey IS NULL AS only_a,
        |        a.o_custkey IS DISTINCT FROM b.o_custkey AS c1,
        |        a.o_totalprice IS DISTINCT FROM b.o_totalprice AS c2,
        |        a.o_orderstatus IS DISTINCT FROM b.o_orderstatus AS c3
        |      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
        |SELECT okey,
        |  CASE WHEN only_b THEN 'added' WHEN only_a THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  CASE WHEN only_b OR only_a THEN ''
        |       ELSE concat_ws(',', CASE WHEN c1 THEN 'o_custkey' END,
        |              CASE WHEN c2 THEN 'o_totalprice' END,
        |              CASE WHEN c3 THEN 'o_orderstatus' END) END AS cols
        |FROM j WHERE only_b OR only_a OR c1 OR c2 OR c3
        |ORDER BY okey""".stripMargin),

    Query("q116_cdc_apply", (s, dir) => {
      // the warehouse family composed end-to-end: yesterday's snapshot
      // vs today's drifted replica → TableDiff extracts the change feed
      // (added/changed carry today's values; removed become TOMBSTONES)
      // → Scd2.merge applies it — changed keys close + reopen, removed
      // keys close with no successor, added keys open, untouched keys
      // pass through open.
      val a = Tables.customer(s, dir)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))
      val b = a.filter(col("cust") % 97 =!= 0)
        .withColumn("seg", when(col("cust") % 11 === 0,
          concat(col("seg"), lit("_V2"))).otherwise(col("seg")))
        .unionByName(a.filter(col("cust") % 103 === 0)
          .select((col("cust") + 5000000L).as("cust"), col("seg")))
      val d = operators.TableDiff.diff(a, b, Seq("cust"))
      val ts = to_date(lit("2024-06-01"))
      val upserts = d.filter(col("status").isin("added", "changed"))
        .select("cust").join(b, Seq("cust"))
        .select(col("cust"), col("seg"), ts.as("ts"), lit(false).as("del"))
      val tombs = d.filter(col("status") === "removed")
        .select(col("cust"), lit(null).cast("string").as("seg"),
          ts.as("ts"), lit(true).as("del"))
      val dim0 = operators.Scd2.init(a, Seq("cust"), Seq("seg"),
        epoch = "1990-01-01")
      operators.Scd2.merge(dim0, upserts.unionByName(tombs), Seq("cust"),
          Seq("seg"), "ts", deleteCol = Some("del"))
        .select(col("cust"), col("seg"), col("valid_from"), col("valid_to"),
          col("is_current").cast("long").as("cur"))
        .orderBy(col("cust"), col("valid_from"))
    },
      // the composition replayed: change feed as joins, tombstoned keys
      // close the baseline, upserted keys close + reopen at the feed ts
      """WITH a AS (SELECT c_custkey AS cust, c_mktsegment AS seg FROM customer),
        |b AS (SELECT cust,
        |        CASE WHEN cust % 11 = 0 THEN seg || '_V2' ELSE seg END AS seg
        |      FROM a WHERE cust % 97 <> 0
        |      UNION ALL
        |      SELECT cust + 5000000, seg FROM a WHERE cust % 103 = 0),
        |up AS (SELECT b.cust, b.seg FROM b LEFT JOIN a ON b.cust = a.cust
        |       WHERE a.cust IS NULL OR a.seg <> b.seg),
        |rem AS (SELECT a.cust FROM a LEFT JOIN b ON a.cust = b.cust
        |        WHERE b.cust IS NULL),
        |touched AS (SELECT cust FROM up UNION SELECT cust FROM rem)
        |SELECT a.cust, a.seg, DATE '1990-01-01' AS valid_from,
        |  CASE WHEN t.cust IS NOT NULL THEN DATE '2024-06-01' END AS valid_to,
        |  CAST(t.cust IS NULL AS BIGINT) AS cur
        |FROM a LEFT JOIN touched t ON a.cust = t.cust
        |UNION ALL
        |SELECT cust, seg, DATE '2024-06-01' AS valid_from,
        |  CAST(NULL AS DATE) AS valid_to, CAST(1 AS BIGINT) AS cur
        |FROM up
        |ORDER BY cust, valid_from""".stripMargin),

    Query("q117_interval_merge", (s, dir) => {
      // interval union per user: each event opens a 10-minute activity
      // horizon; overlapping/touching horizons collapse to maximal
      // coverage islands. One shuffle total — the closing groupBy on
      // (user, island) reuses the window's HashPartitioning(user)
      // distribution (plan-gated: exactly one Exchange).
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
      operators.Intervals.mergeIntervals(iv, Seq("user_id"), "s", "e")
        .select(col("user_id"), col("s").as("start_ts"),
          col("e").as("end_ts"), col("n_rows").as("n_events"))
        .orderBy(col("user_id"), col("start_ts"))
    },
      // the same sweep: break where start exceeds the running max end
      // of strictly-preceding rows, islands = running break count
      """WITH iv AS (SELECT user_id, ts AS s,
        |              ts + INTERVAL 10 MINUTE AS e FROM events),
        |m AS (SELECT user_id, s, e,
        |        CASE WHEN s <= max(e) OVER (PARTITION BY user_id
        |               ORDER BY s, e
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             THEN 0 ELSE 1 END AS brk
        |      FROM iv),
        |g AS (SELECT user_id, s, e,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS UNBOUNDED PRECEDING) AS island
        |      FROM m)
        |SELECT user_id, CAST(min(s) AS TIMESTAMP) AS start_ts,
        |  CAST(max(e) AS TIMESTAMP) AS end_ts, count(*) AS n_events
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, start_ts""".stripMargin),

    Query("q123_interval_gaps", (s, dir) => {
      // the complement of q117: maximal UNCOVERED spans strictly inside
      // each user's activity range — the downtime report. Derived from
      // the same one-shuffle island sweep + one more keyed window.
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
      operators.Intervals.gaps(iv, Seq("user_id"), "s", "e")
        .orderBy(col("user_id"), col("gap_start"))
    },
      // islands first (identical sweep), then each island's end pairs
      // with the NEXT island's start per user
      """WITH iv AS (SELECT user_id, ts AS s,
        |              ts + INTERVAL 10 MINUTE AS e FROM events),
        |m AS (SELECT user_id, s, e,
        |        CASE WHEN s <= max(e) OVER (PARTITION BY user_id
        |               ORDER BY s, e
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             THEN 0 ELSE 1 END AS brk
        |      FROM iv),
        |g AS (SELECT user_id, s, e,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS UNBOUNDED PRECEDING) AS island
        |      FROM m),
        |isl AS (SELECT user_id, min(s) AS s, max(e) AS e
        |        FROM g GROUP BY user_id, island),
        |nx AS (SELECT user_id, CAST(e AS TIMESTAMP) AS gap_start,
        |         CAST(lead(s) OVER (PARTITION BY user_id ORDER BY s)
        |           AS TIMESTAMP) AS gap_end
        |       FROM isl)
        |SELECT * FROM nx WHERE gap_end IS NOT NULL
        |ORDER BY user_id, gap_start""".stripMargin),

    Query("q124_interval_coverage", (s, dir) => {
      // de-overlapped covered duration per user — the uptime metric a
      // naive sum(e − s) double-counts wherever horizons overlap.
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
      operators.Intervals.coverage(iv, Seq("user_id"), "s", "e")
        .orderBy(col("user_id"))
    },
      // sum of de-overlapped island spans in microseconds; BIGINT casts
      // because DuckDB widens integer sums to HUGEINT
      """WITH iv AS (SELECT user_id, ts AS s,
        |              ts + INTERVAL 10 MINUTE AS e FROM events),
        |m AS (SELECT user_id, s, e,
        |        CASE WHEN s <= max(e) OVER (PARTITION BY user_id
        |               ORDER BY s, e
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             THEN 0 ELSE 1 END AS brk
        |      FROM iv),
        |g AS (SELECT user_id, s, e,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS UNBOUNDED PRECEDING) AS island
        |      FROM m),
        |isl AS (SELECT user_id, min(s) AS s, max(e) AS e,
        |          count(*) AS n FROM g GROUP BY user_id, island)
        |SELECT user_id,
        |  CAST(sum(epoch_us(e) - epoch_us(s)) AS BIGINT) AS covered_us,
        |  count(*) AS n_islands, CAST(sum(n) AS BIGINT) AS n_rows
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin),

    Query("q129_triangles", (s, dir) =>
      // graph cohesion over the supplier co-purchasing graph (suppliers
      // sharing a high-volume part; the quantity cut keeps edge density
      // bench-sane — the unrestricted shared-part graph is near-complete):
      // global triangle census via degree-oriented wedge enumeration
      operators.Triangles.census(supplierGraph(s, dir), "src", "dst"),
      // identical degree-(deg, id) orientation so n_wedges (an
      // orientation-dependent quantity) matches, not just the
      // orientation-invariant triangle count
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT r1.sk AS a, r2.sk AS b
        |      FROM sp r1 JOIN sp r2 ON r1.pk = r2.pk AND r1.sk < r2.sk),
        |deg AS (SELECT v, count(*) AS deg FROM
        |          (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t
        |        GROUP BY v),
        |o AS (SELECT CASE WHEN da.deg < db.deg
        |               OR (da.deg = db.deg AND e.a < e.b)
        |             THEN e.a ELSE e.b END AS u,
        |             CASE WHEN da.deg < db.deg
        |               OR (da.deg = db.deg AND e.a < e.b)
        |             THEN e.b ELSE e.a END AS w
        |      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
        |wed AS (SELECT x.u, x.w AS p, y.w AS q
        |        FROM o x JOIN o y ON x.u = y.u AND x.w < y.w),
        |cc AS (SELECT least(u, w) AS p, greatest(u, w) AS q FROM o)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM wed) AS n_wedges,
        |  (SELECT count(*) FROM wed JOIN cc USING (p, q)) AS n_triangles""".stripMargin),

    Query("q130_clustering_coef", (s, dir) =>
      // the node-level view: per-supplier triangle participation and
      // local clustering coefficient over the same graph
      operators.Triangles.perVertex(supplierGraph(s, dir), "src", "dst")
        .orderBy(col("v")),
      // triangle corners explode back out; every triangle credits all
      // three vertices; coefficient = 2T / deg(deg−1)
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT r1.sk AS a, r2.sk AS b
        |      FROM sp r1 JOIN sp r2 ON r1.pk = r2.pk AND r1.sk < r2.sk),
        |deg AS (SELECT v, count(*) AS deg FROM
        |          (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t
        |        GROUP BY v),
        |o AS (SELECT CASE WHEN da.deg < db.deg
        |               OR (da.deg = db.deg AND e.a < e.b)
        |             THEN e.a ELSE e.b END AS u,
        |             CASE WHEN da.deg < db.deg
        |               OR (da.deg = db.deg AND e.a < e.b)
        |             THEN e.b ELSE e.a END AS w
        |      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
        |wed AS (SELECT x.u, x.w AS p, y.w AS q
        |        FROM o x JOIN o y ON x.u = y.u AND x.w < y.w),
        |cc AS (SELECT least(u, w) AS p, greatest(u, w) AS q FROM o),
        |tri AS (SELECT u, p, q FROM wed JOIN cc USING (p, q)),
        |pv AS (SELECT v, count(*) AS n_triangles FROM
        |         (SELECT u AS v FROM tri UNION ALL SELECT p FROM tri
        |          UNION ALL SELECT q FROM tri) t
        |       GROUP BY v)
        |SELECT deg.v, deg.deg,
        |  CAST(coalesce(pv.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  roundStable(CASE WHEN deg.deg >= 2
        |    THEN 2.0 * coalesce(pv.n_triangles, 0)
        |      / (deg.deg * (deg.deg - 1)) ELSE 0.0 END, 6)
        |    AS clustering_coef
        |FROM deg LEFT JOIN pv ON pv.v = deg.v ORDER BY deg.v""".stripMargin),

    Query("q137_kcore", (s, dir) =>
      // dense-community filter: 4-core of the supplier co-purchasing
      // graph by iterative peeling (≤ 6 rounds, early-stopped at the
      // fixpoint — the oracle unrolls the same 6 peels)
      operators.KCore.core(supplierGraph(s, dir), "src", "dst",
          k = 4, maxPeels = 6)
        .orderBy(col("v")), {
      // the same 6 peel rounds unrolled (the q106 discipline for
      // iterative fixpoints): each round drops vertices of degree < 4
      // from the previous round's edge set; the Spark side early-stops
      // at the fixpoint, which by definition equals the unrolled result
      // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // each peel references the previous level ~5× — inlined, e6
      // expands to 5^6 scans of the base tables (observed as an
      // open-file explosion)
      val peels = (0 until 6).map { i =>
        s"""d$i AS MATERIALIZED (SELECT v, count(*) AS deg FROM
           |          (SELECT a AS v FROM e$i UNION ALL SELECT b FROM e$i) t
           |        GROUP BY v),
           |e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
           |      WHERE a NOT IN (SELECT v FROM d$i WHERE deg < 4)
           |        AND b NOT IN (SELECT v FROM d$i WHERE deg < 4))""".stripMargin
      }.mkString(",\n")
      s"""WITH sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
         |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |  WHERE l_quantity > 45),
         |e0 AS MATERIALIZED (SELECT DISTINCT r1.sk AS a, r2.sk AS b
         |       FROM sp r1 JOIN sp r2 ON r1.pk = r2.pk AND r1.sk < r2.sk),
         |$peels
         |SELECT v, count(*) AS core_deg FROM
         |  (SELECT a AS v FROM e6 UNION ALL SELECT b FROM e6) t
         |GROUP BY v ORDER BY v""".stripMargin
    }),

    Query("q140_transitions", (s, dir) =>
      // first-order Markov structure of user behavior: observed
      // event-type transition counts + row-normalized P(next | state)
      operators.Sequences.transitionMatrix(Tables.events(s, dir),
          "user_id", col("ts"), col("event_id"), "event_type")
        .orderBy(col("state"), col("next")),
      // last event per user has no successor and drops; the normalizing
      // window rides the O(#states²) aggregated rows
      """WITH t AS (SELECT event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next
        |  FROM events),
        |c AS (SELECT state, next, count(*) AS n FROM t
        |      WHERE next IS NOT NULL GROUP BY state, next)
        |SELECT state, next, n,
        |  roundStable(CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY state), 6) AS p
        |FROM c ORDER BY state, next""".stripMargin),

    Query("q141_session_paths", (s, dir) =>
      // funnel discovery: gap-sessionize (30 min, the q45 contract),
      // render each session's ordered event-type path, count identical
      // paths — top 50 navigation patterns
      operators.Sequences.sessionPaths(Tables.events(s, dir), "user_id",
          "ts", col("event_id"), "event_type", gapMicros = 1800L * 1000000L)
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(50),
      // same gap-sessionization as q45 (cumulative break flags), path
      // order pinned by (ts, event_id)
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM s),
        |p AS (SELECT user_id, sess,
        |        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |      FROM g GROUP BY user_id, sess)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 50""".stripMargin),

    Query("q153_adamic_adar", (s, dir) => {
      // neighborhood link prediction over a THIN supplier co-purchasing
      // graph (quantity > 48 — wedge volume through unoriented centers
      // is Σ C(deg,2), so this query thins the q129 graph rather than
      // paying ~4× its wedge count): top-5 predicted partners per
      // supplier by Adamic–Adar, hub centers excluded above maxDeg
      val sp = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 48)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
      val edges = sp.as("r1").join(sp.as("r2"),
          col("r1.pk") === col("r2.pk") && col("r1.sk") < col("r2.sk"))
        .select(col("r1.sk").as("src"), col("r2.sk").as("dst"))
      operators.LinkPrediction.adamicAdarTopK(edges, "src", "dst",
          k = 5, maxDeg = 500)
        .orderBy(col("u"), col("rank"))
    },
      // the same wedge enumeration through capped-degree centers,
      // existing edges anti-joined, aa ROUNDED before the rank cut
      """WITH sp AS (SELECT DISTINCT l.l_suppkey AS sk, l.l_partkey AS pk
        |      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |      WHERE l.l_quantity > 48),
        |e AS (SELECT r1.sk AS a, r2.sk AS b FROM sp r1 JOIN sp r2
        |      ON r1.pk = r2.pk AND r1.sk < r2.sk GROUP BY 1, 2),
        |deg AS (SELECT w, count(*) AS deg FROM
        |        (SELECT a AS w FROM e UNION ALL SELECT b FROM e)
        |      GROUP BY 1),
        |adj AS (SELECT j.w, j.n, d.deg FROM
        |        (SELECT a AS w, b AS n FROM e
        |         UNION ALL SELECT b AS w, a AS n FROM e) j
        |      JOIN deg d ON j.w = d.w WHERE d.deg <= 500),
        |ps AS (SELECT x.n AS u, y.n AS v,
        |        count(*) AS common_neighbors,
        |        sum(1.0 / ln(x.deg)) AS aa_raw
        |      FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
        |      GROUP BY 1, 2),
        |pred AS (SELECT u, v, common_neighbors,
        |        roundStable(aa_raw, 6) AS aa
        |      FROM ps WHERE NOT EXISTS
        |        (SELECT 1 FROM e WHERE e.a = ps.u AND e.b = ps.v)),
        |bth AS (SELECT u, v, common_neighbors, aa FROM pred
        |      UNION ALL
        |      SELECT v AS u, u AS v, common_neighbors, aa FROM pred),
        |r AS (SELECT u, v, common_neighbors, aa,
        |        row_number() OVER (PARTITION BY u ORDER BY aa DESC, v)
        |          AS rank
        |      FROM bth)
        |SELECT u, v, common_neighbors, aa, rank
        |FROM r WHERE rank <= 5 ORDER BY u, rank""".stripMargin),

    Query("q160_asof_tolerance", (s, dir) =>
      // as-of with a staleness horizon (pandas merge_asof tolerance):
      // the latest order price at or before each event, but only within
      // 7 days — a customer quiet for months attaches NULL instead of a
      // silently fossilized carry-forward
      operators.AsOfJoin.latestAtOrBeforeWithin(
          Tables.events(s, dir).select(col("event_id"), col("user_id"),
            col("ts")),
          Tables.orders(s, dir),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          carryCol = "o_totalprice", outCol = "asof_price",
          toleranceSecs = 7L * 86400L)
        .select(col("event_id"), col("asof_price"))
        .orderBy(col("event_id")),
      // latest in-horizon order per event (ties at the max date take the
      // max price — the backward as-of convention), NULL beyond 7 days
      """WITH j AS (SELECT e.event_id, o.o_totalprice,
        |        row_number() OVER (PARTITION BY e.event_id
        |          ORDER BY o.o_orderdate DESC, o.o_totalprice DESC) AS rn
        |      FROM events e JOIN orders o ON o.o_custkey = e.user_id
        |        AND o.o_orderdate <= e.ts
        |        AND epoch_us(e.ts) - epoch_us(o.o_orderdate)
        |          <= 604800000000)
        |SELECT e2.event_id, j.o_totalprice AS asof_price
        |FROM events e2 LEFT JOIN j
        |  ON j.event_id = e2.event_id AND j.rn = 1
        |ORDER BY e2.event_id""".stripMargin),

    Query("q162_asof_nearest", (s, dir) =>
      // nearest-direction as-of within 7 days: whichever of the latest
      // at-or-before / earliest at-or-after order is CLOSER in time —
      // aligning two irregular clocks where "before" alone discards a
      // measurement taken seconds later; exact-tie distances go backward
      operators.AsOfJoin.nearestWithin(
          Tables.events(s, dir).select(col("event_id"), col("user_id"),
            col("ts")),
          Tables.orders(s, dir),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          carryCol = "o_totalprice", outCol = "near_price",
          toleranceSecs = 7L * 86400L)
        .select(col("event_id"), col("near_price"))
        .orderBy(col("event_id")),
      // global min |Δt| within tolerance; distance ties backward (fwd=0
      // first), equal-time ties to the side's value convention (max
      // backward / min forward — the q54/q160 contracts)
      """WITH j AS (SELECT e.event_id, o.o_totalprice,
        |        abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)) AS ad,
        |        CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END AS fwd
        |      FROM events e JOIN orders o ON o.o_custkey = e.user_id
        |        AND abs(epoch_us(e.ts) - epoch_us(o.o_orderdate))
        |          <= 604800000000),
        |r AS (SELECT event_id, o_totalprice,
        |        row_number() OVER (PARTITION BY event_id ORDER BY ad, fwd,
        |          CASE WHEN fwd = 0 THEN -o_totalprice
        |               ELSE o_totalprice END) AS rn
        |      FROM j)
        |SELECT e2.event_id, r.o_totalprice AS near_price
        |FROM events e2 LEFT JOIN r
        |  ON r.event_id = e2.event_id AND r.rn = 1
        |ORDER BY e2.event_id""".stripMargin),

    Query("q163_label_prop", (s, dir) => {
      // synchronous min-tie label propagation over the trade graph, 3
      // rounds — community structure INSIDE the connected component
      // (q66 answers reachability; this finds the dense clusters);
      // deterministic by construction, oracle unrolls the same rounds
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = cs.unionByName(
        cs.select(col("dst").as("src"), col("src").as("dst")))
      operators.LabelProp.run(edges, "src", "dst", rounds = 3)
        .orderBy(col("node"))
    }, {
      // 3 synchronous rounds unrolled (the q106/q146 feat): per round,
      // per-node argmax of neighbor-label counts, ties to the min label
      val roundCtes = (1 to 3).map { i =>
        s"""l$i AS (SELECT n.node, coalesce(b.label, n.label) AS label
           |      FROM l${i - 1} n LEFT JOIN (
           |        SELECT e.src AS node, l.label,
           |          row_number() OVER (PARTITION BY e.src
           |            ORDER BY count(*) DESC, l.label) AS rn
           |        FROM e JOIN l${i - 1} l ON l.node = e.dst
           |        GROUP BY e.src, l.label) b
           |      ON b.node = n.node AND b.rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         |             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$roundCtes
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin
    }),

    Query("q166_name_match", (s, dir) =>
      // Jaro-Winkler record linkage over part names (first-char-blocked
      // pairs, native codegen'd expression — Spark has no similarity
      // function beyond levenshtein; DuckDB replays its built-in)
      operators.FuzzyJoin.jaroWinklerPairs(
          Tables.part(s, dir).filter(col("p_partkey") <= 600)
            .select(col("p_name")),
          "p_name", minSim = 0.88)
        .orderBy(col("s_a"), col("s_b")),
      // DuckDB's built-in jaro_winkler_similarity replays the native
      // expression; identical first-char blocking on both sides
      """WITH n AS (SELECT DISTINCT p_name AS s FROM part
        |      WHERE p_partkey <= 600)
        |SELECT a.s AS s_a, b.s AS s_b,
        |  roundStable(jaro_winkler_similarity(a.s, b.s), 6) AS jw
        |FROM n a JOIN n b ON substr(a.s, 1, 1) = substr(b.s, 1, 1)
        |  AND a.s < b.s
        |WHERE roundStable(jaro_winkler_similarity(a.s, b.s), 6) >= 0.88
        |ORDER BY s_a, s_b""".stripMargin),

    Query("q168_modularity", (s, dir) => {
      // Newman modularity of the nation partition over the trade graph:
      // is same-nation trade denser than chance? (the quality readout
      // any community labeling plugs into — q163's labels included)
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = cs.unionByName(
        cs.select(col("dst").as("src"), col("src").as("dst")))
      val cust = Tables.customer(s, dir)
        .select(concat(lit("c"), col("c_custkey")).as("node"),
          col("c_nationkey").as("nat"))
      val supp = Tables.supplier(s, dir)
        .select(concat(lit("s"), col("s_suppkey")).as("node"),
          col("s_nationkey").as("nat"))
      operators.LabelProp.modularity(edges, "src", "dst",
          cust.unionByName(supp), "node", "nat")
        .orderBy(col("label"))
    },
      // per-nation census over the symmetrized trade graph; x*x (not
      // power()) for the null-model term, matching the engine
      """WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
        |             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |lab AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node,
        |          c_nationkey AS nat FROM customer
        |        UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |          s_nationkey FROM supplier),
        |el AS (SELECT ls.nat AS lsrc, ld.nat AS ldst FROM e
        |       JOIN lab ls ON ls.node = e.src
        |       JOIN lab ld ON ld.node = e.dst),
        |m2 AS (SELECT count(*) AS m2 FROM el),
        |d AS (SELECT lsrc AS label, count(*) AS dc FROM el GROUP BY 1),
        |i AS (SELECT lsrc AS label, count(*) AS ic FROM el
        |      WHERE lsrc = ldst GROUP BY 1),
        |nn AS (SELECT nat AS label, count(*) AS n_nodes FROM lab GROUP BY 1)
        |SELECT nn.label, nn.n_nodes,
        |  CAST(coalesce(i.ic, 0) / 2 AS BIGINT) AS internal_edges,
        |  CAST(coalesce(d.dc, 0) AS BIGINT) AS degree_sum,
        |  roundStable(CAST(coalesce(i.ic, 0) AS DOUBLE) / m2.m2
        |    - (CAST(coalesce(d.dc, 0) AS DOUBLE) / m2.m2)
        |      * (CAST(coalesce(d.dc, 0) AS DOUBLE) / m2.m2), 6) AS q_contrib
        |FROM nn LEFT JOIN d ON d.label = nn.label
        |LEFT JOIN i ON i.label = nn.label CROSS JOIN m2
        |ORDER BY nn.label""".stripMargin),

    Query("q170_sssp", (s, dir) => {
      // multi-source BFS blast radius: hop distance from nation-0
      // customers out to 4 rounds over the trade graph — the distance
      // axis next to q66 reachability / q163 density / q106 centrality
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = cs.unionByName(
        cs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.customer(s, dir)
        .filter(col("c_nationkey") === 0)
        .select(concat(lit("c"), col("c_custkey")).as("node"))
      operators.Bfs.hops(edges, "src", "dst", seeds, "node", rounds = 4)
        .orderBy(col("node"))
    }, {
      // min-plus relaxation unrolled 4 rounds (the q106/q163 feat)
      val roundCtes = (1 to 4).map { i =>
        s"""d$i AS (SELECT node, min(dist) AS dist FROM (
           |        SELECT node, dist FROM d${i - 1}
           |        UNION ALL SELECT e.dst AS node, d.dist + 1 AS dist
           |        FROM e JOIN d${i - 1} d ON d.node = e.src) GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         |             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |d0 AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node,
         |         CAST(0 AS BIGINT) AS dist
         |       FROM customer WHERE c_nationkey = 0),
         |$roundCtes
         |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4
         |ORDER BY node""".stripMargin
    }),

    Query("q177_assoc_rules", (s, dir) =>
      // directed association rules over order baskets with the full
      // support/confidence/lift triple — q147's cosine ranks recs, these
      // are what a RULE needs to be acted on (lift kills the popularity
      // confound); lift >= 2 and >= 3 shared baskets
      operators.MarketBasket.assocRules(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minCount = 3L, minLift = 2.0)
        .orderBy(col("antecedent"), col("consequent")),
      // identical metric triple; lift filtered on the ROUNDED value
      // (the q94 discipline)
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |      FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk) AS nb FROM b),
        |p0 AS (SELECT x.it AS a, y.it AS c, count(*) AS n_ab
        |      FROM b x JOIN b y ON y.bk = x.bk AND x.it < y.it
        |      GROUP BY 1, 2 HAVING count(*) >= 3),
        |p AS (SELECT a, c, n_ab FROM p0
        |      UNION ALL SELECT c, a, n_ab FROM p0),
        |f AS (SELECT it, count(*) AS n FROM b GROUP BY 1)
        |SELECT p.a AS antecedent, p.c AS consequent, p.n_ab,
        |  roundStable(CAST(p.n_ab AS DOUBLE) / nb.nb, 6) AS support,
        |  roundStable(CAST(p.n_ab AS DOUBLE) / fa.n, 6) AS confidence,
        |  roundStable((CAST(p.n_ab AS DOUBLE) / fa.n)
        |    / (CAST(fc.n AS DOUBLE) / nb.nb), 6) AS lift
        |FROM p JOIN f fa ON fa.it = p.a JOIN f fc ON fc.it = p.c
        |CROSS JOIN nb
        |WHERE roundStable((CAST(p.n_ab AS DOUBLE) / fa.n)
        |    / (CAST(fc.n AS DOUBLE) / nb.nb), 6) >= 2.0
        |ORDER BY antecedent, consequent""".stripMargin),

    Query("q178_skew_report", (s, dir) =>
      // the measurement half of the salting module: top-10 heaviest
      // users with share and skew factor — the "which keys die at 100x"
      // readout that picks saltedSum/saltedJoin targets
      operators.Skew.skewReport(Tables.events(s, dir), Seq("user_id"),
          topN = 10)
        .orderBy(col("rank")),
      // top-10 by (count DESC, key) with global share / mean factors
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT sum(n) AS tt, count(*) AS kk, max(n) AS mx FROM c),
        |r AS (SELECT user_id, n,
        |        row_number() OVER (ORDER BY n DESC, user_id) AS rank
        |      FROM c)
        |SELECT user_id, CAST(rank AS BIGINT) AS rank, n,
        |  roundStable(CAST(n AS DOUBLE) / tt, 6) AS share,
        |  roundStable(CAST(n AS DOUBLE) / (CAST(tt AS DOUBLE) / kk), 6)
        |    AS skew_factor,
        |  roundStable(CAST(mx AS DOUBLE) / (CAST(tt AS DOUBLE) / kk), 6)
        |    AS max_skew_factor
        |FROM r CROSS JOIN t WHERE rank <= 10 ORDER BY rank""".stripMargin),

    Query("q189_interval_overlap", (s, dir) => {
      // which browsing sessions were hit by an error session: the
      // interval×interval grid join (canonical-cell dedup, no distinct)
      // over per-user 6h-gap sessions of each type
      val ev = Tables.events(s, dir)
      def sess(t: String) = etl.Aggregates.sessionizeBatch(
        ev.filter(col("event_type") === t), "user_id", "ts", "event_id",
        "value", gapMicros = 6L * 3600L * 1000000L)
        .select(col("user_id"), col("session_start"), col("session_end"))
      operators.Intervals.overlapJoin(sess("click"), sess("error"),
          Seq("user_id"), "session_start", "session_end",
          binMicros = 86400L * 1000000L)
        .orderBy(col("user_id"), col("start_l"), col("start_r"))
    },
      // the q45 sessionize replay per type, then the plain overlap
      // predicate — the grid join's canonical-cell dedup must emit each
      // overlapping pair exactly once
      """WITH t AS (
        |  SELECT user_id, event_type, ts, value, epoch_us(ts) AS tu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev,
        |    event_id
        |  FROM events WHERE event_type IN ('click', 'error')),
        |s AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(CASE WHEN prev IS NULL OR tu - prev > 21600000000
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_n
        |  FROM t),
        |g AS (SELECT user_id, event_type, session_n,
        |    CAST(min(ts) AS TIMESTAMP) AS st, CAST(max(ts) AS TIMESTAMP) AS en
        |  FROM s GROUP BY 1, 2, 3)
        |SELECT a.user_id, a.st AS start_l, a.en AS end_l,
        |  b.st AS start_r, b.en AS end_r,
        |  CAST(least(epoch_us(a.en), epoch_us(b.en))
        |    - greatest(epoch_us(a.st), epoch_us(b.st)) AS BIGINT)
        |    AS overlap_us
        |FROM g a JOIN g b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'error'
        | AND epoch_us(a.st) <= epoch_us(b.en)
        | AND epoch_us(b.st) <= epoch_us(a.en)
        |ORDER BY a.user_id, start_l, start_r""".stripMargin),

    Query("q190_ppr", (s, dir) => {
      // personalized PageRank: importance AS SEEN FROM customers 1-5 —
      // restart mass on the seed set only, 5 rounds over the q106
      // symmetrized trade graph; the oracle unrolls the same recurrence
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = cs.unionByName(
        cs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = o.filter(col("o_custkey") <= 5)
        .select(concat(lit("c"), col("o_custkey")).as("node")).distinct()
      operators.PageRank.personalized(edges, "src", "dst", seeds, "node",
          iters = 5)
        .select(col("node"), roundStable(col("rank"), 6).as("rank_r"))
        .filter(col("rank_r") > 0)
        .orderBy(col("node"))
    }, {
      // the q106 unroll with restart mass on the seed set only
      val iterCtes = (1 to 5).map { i =>
        s"""r$i AS (SELECT sv.node,
           |        (CAST(1 AS DOUBLE) - 0.85) * sv.s + 0.85 * coalesce(c.s, CAST(0 AS DOUBLE)) AS rank
           |       FROM sv
           |       LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
           |                  FROM e JOIN r${i - 1} r ON e.src = r.node
           |                  JOIN deg ON deg.node = e.src
           |                  GROUP BY 1) c ON c.node = sv.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         |             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         |seeds AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
         |          FROM orders WHERE o_custkey <= 5),
         |ns AS (SELECT count(*) AS n FROM seeds),
         |sv AS (SELECT nodes.node,
         |         CASE WHEN seeds.node IS NOT NULL
         |           THEN CAST(1 AS DOUBLE) / ns.n ELSE CAST(0 AS DOUBLE) END AS s
         |       FROM nodes CROSS JOIN ns
         |       LEFT JOIN seeds ON seeds.node = nodes.node),
         |r0 AS (SELECT node, s AS rank FROM sv),
         |$iterCtes
         |SELECT node, roundStable(rank, 6) AS rank_r FROM r5
         |WHERE roundStable(rank, 6) > 0 ORDER BY node""".stripMargin
    }),

    Query("q193_attribution", (s, dir) => {
      // linear multi-touch credit: every click in the 7 days before a
      // purchase shares the credit equally; orphan purchases surface
      // with NULL touch and full unattributed credit
      val ev = Tables.events(s, dir)
      operators.Attribution.linear(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          Seq("user_id"), "event_id", "ts", "event_id", "ts",
          windowSecs = 7L * 86400L)
        .orderBy(col("conv_id"), col("touch_id"))
    },
      // per-user window join, per-conversion touch count, 1/n credit,
      // first/last position flags, orphan conversions via anti-join
      """WITH c AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT c.user_id, c.conv_id, c.conv_ts, t.touch_id,
        |    t.touch_ts
        |  FROM c JOIN t ON t.user_id = c.user_id
        |   AND epoch_us(t.touch_ts) <= epoch_us(c.conv_ts)
        |   AND epoch_us(t.touch_ts) > epoch_us(c.conv_ts) - 604800000000),
        |w AS (SELECT *, count(*) OVER (PARTITION BY conv_id) AS n_touches,
        |    row_number() OVER (PARTITION BY conv_id
        |      ORDER BY touch_ts, touch_id) AS rn
        |  FROM m)
        |SELECT user_id, conv_id, conv_ts, touch_id, touch_ts,
        |  CAST(n_touches AS BIGINT) AS n_touches,
        |  roundStable(1.0 / n_touches, 6) AS weight,
        |  rn = 1 AS is_first, rn = n_touches AS is_last
        |FROM w
        |UNION ALL
        |SELECT c.user_id, c.conv_id, c.conv_ts,
        |  CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
        |  CAST(0 AS BIGINT), 1.0, false, false
        |FROM c WHERE conv_id NOT IN (SELECT conv_id FROM m)
        |ORDER BY conv_id, touch_id""".stripMargin),

    Query("q194_band_join", (s, dir) => {
      // duplicate-payment screen: order pairs whose totals agree within
      // $1 — the numeric band join (cell + adjacent-cell equi join,
      // integer-cents band so no fp boundary flake)
      val o = Tables.orders(s, dir)
      operators.RangeJoin.band(
          o.select(col("o_orderkey").as("key_a"),
            col("o_totalprice").as("price_a")),
          o.select(col("o_orderkey").as("key_b"),
            col("o_totalprice").as("price_b")),
          "price_a", "price_b", eps = 1.0, scale = 100L)
        .filter(col("key_a") < col("key_b"))
        .select(col("key_a"), col("key_b"), col("price_a"), col("price_b"),
          roundStable(abs(col("price_a") - col("price_b")), 2).as("diff"))
        .orderBy(col("key_a"), col("key_b"))
    },
      // the band replayed in integer cents — the SAME rounding the
      // engine's cells use, so the boundary is exact on both sides
      """SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
        |  a.o_totalprice AS price_a, b.o_totalprice AS price_b,
        |  roundStable(abs(a.o_totalprice - b.o_totalprice), 2) AS diff
        |FROM orders a JOIN orders b
        |  ON abs(CAST(round(a.o_totalprice * 100) AS BIGINT)
        |       - CAST(round(b.o_totalprice * 100) AS BIGINT)) <= 100
        | AND a.o_orderkey < b.o_orderkey
        |ORDER BY key_a, key_b""".stripMargin),

    Query("q196_golden", (s, dir) =>
      // golden profile per user: modal event type, most recent props,
      // peak value — each rule with a deterministic total tiebreak
      operators.Survivorship.golden(
          Tables.events(s, dir).select(col("user_id"), col("event_type"),
            col("props"), col("value"), col("ts")),
          "user_id", Seq(
            operators.Survivorship.MostFrequent("event_type"),
            operators.Survivorship.Latest("props", "ts"),
            operators.Survivorship.MaxVal("value")))
        .select(col("user_id"), col("event_type"), col("props"),
          col("value"), col("n_members"))
        .orderBy(col("user_id")),
      // each rule replayed as its ordered pick: modal = (count, value)
      // max, latest = (ts, value) max, peak = plain max
      """WITH m AS (SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type DESC) AS rn
        |    FROM events WHERE event_type IS NOT NULL
        |    GROUP BY user_id, event_type) t WHERE rn = 1),
        |l AS (SELECT user_id, props FROM (
        |    SELECT user_id, props, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, props DESC) AS rn
        |    FROM events WHERE props IS NOT NULL) t WHERE rn = 1),
        |g AS (SELECT user_id, max(value) AS value,
        |    count(*) AS n_members FROM events GROUP BY 1)
        |SELECT g.user_id, m.event_type, l.props, g.value, g.n_members
        |FROM g LEFT JOIN m USING (user_id) LEFT JOIN l USING (user_id)
        |ORDER BY user_id""".stripMargin),

    Query("q206_assortativity", (s, dir) => {
      // one graph-census scalar: do trade hubs attach to hubs? —
      // decides whether saltBuckets matters before ten PageRank rounds
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = cs.unionByName(
        cs.select(col("dst").as("src"), col("src").as("dst")))
      operators.Assortativity.degreeAssortativity(edges, "src", "dst")
    },
      // endpoint degrees over the symmetrized edge list, explicit
      // moment Pearson
      """WITH e0 AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
        |x AS (SELECT CAST(dj.d AS DOUBLE) AS x, CAST(dk.d AS DOUBLE) AS y
        |  FROM e JOIN deg dj ON dj.node = e.src
        |  JOIN deg dk ON dk.node = e.dst)
        |SELECT roundStable(CASE WHEN
        |    (count(*) * sum(x*x) - sum(x) * sum(x))
        |      * (count(*) * sum(y*y) - sum(y) * sum(y)) > 0 THEN
        |    (count(*) * sum(x*y) - sum(x) * sum(y))
        |    / sqrt((count(*) * sum(x*x) - sum(x) * sum(x))
        |         * (count(*) * sum(y*y) - sum(y) * sum(y))) END, 6)
        |    AS assortativity,
        |  count(*) AS n_edges
        |FROM x""".stripMargin),

    Query("q227_neighbor_jaccard", (s, dir) => {
      // the complementary link-prediction normalization to q153's AA on
      // the same thin graph: what FRACTION of their worlds overlap
      val sp = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 48)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
      val edges = sp.as("r1").join(sp.as("r2"),
          col("r1.pk") === col("r2.pk") && col("r1.sk") < col("r2.sk"))
        .select(col("r1.sk").as("src"), col("r2.sk").as("dst"))
      operators.LinkPrediction.jaccardTopK(edges, "src", "dst",
          k = 5, maxDeg = 500)
        .orderBy(col("u"), col("rank"))
    },
      // q153's wedge skeleton; union size from the UNCAPPED degree
      // table, jaccard rounded before the rank cut
      """WITH sp AS (SELECT DISTINCT l.l_suppkey AS sk, l.l_partkey AS pk
        |      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |      WHERE l.l_quantity > 48),
        |e AS (SELECT r1.sk AS a, r2.sk AS b FROM sp r1 JOIN sp r2
        |      ON r1.pk = r2.pk AND r1.sk < r2.sk GROUP BY 1, 2),
        |deg AS (SELECT w, count(*) AS deg FROM
        |        (SELECT a AS w FROM e UNION ALL SELECT b FROM e)
        |      GROUP BY 1),
        |adj AS (SELECT j.w, j.n, d.deg FROM
        |        (SELECT a AS w, b AS n FROM e
        |         UNION ALL SELECT b AS w, a AS n FROM e) j
        |      JOIN deg d ON j.w = d.w WHERE d.deg <= 500),
        |ps AS (SELECT x.n AS u, y.n AS v, count(*) AS cn
        |      FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
        |      GROUP BY 1, 2),
        |pred AS (SELECT ps.u, ps.v, ps.cn AS common_neighbors,
        |        roundStable(CAST(ps.cn AS DOUBLE)
        |          / (du.deg + dv.deg - ps.cn), 6) AS jaccard
        |      FROM ps JOIN deg du ON du.w = ps.u
        |        JOIN deg dv ON dv.w = ps.v
        |      WHERE NOT EXISTS
        |        (SELECT 1 FROM e WHERE e.a = ps.u AND e.b = ps.v)),
        |bth AS (SELECT u, v, common_neighbors, jaccard FROM pred
        |      UNION ALL
        |      SELECT v AS u, u AS v, common_neighbors, jaccard FROM pred),
        |r AS (SELECT u, v, common_neighbors, jaccard,
        |        row_number() OVER (PARTITION BY u
        |          ORDER BY jaccard DESC, v) AS rank
        |      FROM bth)
        |SELECT u, v, common_neighbors, jaccard, rank
        |FROM r WHERE rank <= 5 ORDER BY u, rank""".stripMargin),

    Query("q233_concurrency", (s, dir) =>
      // capacity census: how many user sessions were open AT ONCE —
      // sweep-line over the q45 session intervals, half-open semantics
      operators.Intervals.concurrency(
        Aggregates.sessionizeBatch(Tables.events(s, dir), "user_id",
          "ts", "event_id", "value", gapMicros = 1800L * 1000000L),
        Nil, "session_start", "session_end"),
      // same sessionization, same (t, delta) sweep order — ends before
      // starts at an instant (half-open), tie-group levels deterministic
      """WITH st AS (SELECT user_id, ts, event_id, epoch_us(ts) AS eu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |sx AS (SELECT user_id, ts,
        |    sum(CASE WHEN prev IS NULL OR eu - prev > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM st),
        |ses AS (SELECT user_id, sess, min(ts) AS st, max(ts) AS en
        |  FROM sx GROUP BY 1, 2),
        |pts AS (SELECT epoch_us(st) AS t, 1 AS d FROM ses
        |  UNION ALL SELECT epoch_us(en), -1 FROM ses),
        |sw AS (SELECT t, d,
        |    sum(d) OVER (ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lvl,
        |    lead(t) OVER (ORDER BY t, d) AS nxt
        |  FROM pts),
        |m AS (SELECT max(lvl) AS mx FROM sw)
        |SELECT CAST(m.mx AS BIGINT) AS max_concurrency,
        |  roundStable(CASE WHEN max(sw.t) > min(sw.t) THEN
        |    sum(sw.lvl * CAST(nxt - sw.t AS DOUBLE))
        |      / CAST(max(sw.t) - min(sw.t) AS DOUBLE) END, 6)
        |    AS avg_concurrency,
        |  CAST(count(*) // 2 AS BIGINT) AS n_intervals,
        |  make_timestamp(min(CASE WHEN sw.lvl = m.mx THEN sw.t END))
        |    AS peak_at
        |FROM sw, m GROUP BY m.mx""".stripMargin),

    Query("q241_degree_census", (s, dir) => {
      // the pre-flight that decides whether salting will matter: degree
      // extremes, power-law alpha (CSN MLE), hub endpoint share
      val sp = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 48)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
      val edges = sp.as("r1").join(sp.as("r2"),
          col("r1.pk") === col("r2.pk") && col("r1.sk") < col("r2.sk"))
        .select(col("r1.sk").as("src"), col("r2.sk").as("dst"))
      operators.Triangles.degreeCensus(edges, "src", "dst")
    },
      // q153's graph prologue, one degree rollup, CSN alpha with
      // d_min pinned to 1 (every ln(2d) term positive)
      """WITH sp AS (SELECT DISTINCT l.l_suppkey AS sk, l.l_partkey AS pk
        |      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |      WHERE l.l_quantity > 48),
        |e AS (SELECT r1.sk AS a, r2.sk AS b FROM sp r1 JOIN sp r2
        |      ON r1.pk = r2.pk AND r1.sk < r2.sk GROUP BY 1, 2),
        |deg AS (SELECT w, count(*) AS deg FROM
        |        (SELECT a AS w FROM e UNION ALL SELECT b FROM e)
        |      GROUP BY 1)
        |SELECT count(*) AS n_nodes,
        |  CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
        |  CAST(min(deg) AS BIGINT) AS min_deg,
        |  CAST(max(deg) AS BIGINT) AS max_deg,
        |  roundStable(CAST(sum(deg) AS DOUBLE) / count(*), 6) AS mean_deg,
        |  roundStable(1.0 + CAST(count(*) AS DOUBLE)
        |    / sum(ln(CAST(deg AS DOUBLE) / 0.5)), 6) AS alpha_mle,
        |  roundStable(CAST(max(deg) AS DOUBLE) / sum(deg), 6)
        |    AS hub_endpoint_share
        |FROM deg""".stripMargin),

    Query("q315_streaks", (s, dir) =>
      // gaps-and-islands engagement summary: longest consecutive-day
      // run per user with bounds, island count, total active days
      operators.Sequences.longestStreak(Tables.events(s, dir),
          Seq("user_id"), to_date(col("ts")))
        .orderBy(col("user_id")),
      // same day − row_number island trick, longest island with
      // earliest-start tiebreak
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS dd
        |  FROM events),
        |i AS (SELECT user_id, dd,
        |    datediff('day', DATE '1970-01-01', dd) - row_number() OVER
        |      (PARTITION BY user_id ORDER BY dd) AS grp FROM d),
        |isl AS (SELECT user_id, grp, count(*) AS len, min(dd) AS st,
        |    max(dd) AS en FROM i GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, st) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS ni,
        |    sum(len) OVER (PARTITION BY user_id) AS tot FROM isl)
        |SELECT user_id, CAST(len AS BIGINT) AS max_streak_days,
        |  st AS streak_start, en AS streak_end,
        |  CAST(ni AS BIGINT) AS n_islands,
        |  CAST(tot AS BIGINT) AS n_active_days
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin),

    Query("q317_skyline", (s, dir) =>
      // Pareto frontier: parts where no other part is both cheaper
      // and larger
      operators.Sequences.skyline2D(Tables.part(s, dir), "p_partkey",
          minCol = col("p_retailprice").cast("double"),
          maxCol = col("p_size").cast("long"))
        .orderBy(col("x"), col("y"), col("p_partkey")),
      // same sort-filter skyline over the distinct value grid, ids
      // joined back
      """WITH pts AS (SELECT DISTINCT CAST(p_retailprice AS DOUBLE) AS x,
        |    CAST(p_size AS BIGINT) AS y FROM part),
        |s AS (SELECT *, max(y) OVER (ORDER BY x ASC, y DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS my
        |  FROM pts),
        |sky AS (SELECT x, y FROM s WHERE my IS NULL OR y > my)
        |SELECT p.p_partkey, sky.x, sky.y FROM part p
        |JOIN sky ON CAST(p.p_retailprice AS DOUBLE) = sky.x
        |  AND CAST(p.p_size AS BIGINT) = sky.y
        |ORDER BY x, y, p_partkey""".stripMargin),

    Query("q334_fellegi_sunter", (s, dir) => {
      // probabilistic record linkage over brand-blocked part pairs:
      // per-field log-likelihood ratios, summed
      val p = Tables.part(s, dir).filter(col("p_partkey") <= 300)
      val w1 = element_at(split(col("p_name"), " "), 1)
      val a = p.select(col("p_partkey").as("id_a"),
        col("p_brand").as("brand"), col("p_type").as("__ta"),
        w1.as("__ca"), col("p_size").as("__za"))
      val b = p.select(col("p_partkey").as("id_b"),
        col("p_brand").as("brand"), col("p_type").as("__tb"),
        w1.as("__cb"), col("p_size").as("__zb"))
      operators.FuzzyJoin.fellegiSunter(
          a.join(b, "brand").filter(col("id_a") < col("id_b")),
          Seq(("type", col("__ta") === col("__tb"), 0.9, 0.05),
                ("name1", col("__ca") === col("__cb"), 0.8, 0.1),
            ("size", col("__za") === col("__zb"), 0.85, 0.15)))
        .select(col("id_a"), col("id_b"), col("n_agree"),
          col("match_weight"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // same brand-blocked pairs, same per-field log-likelihood sums
      """WITH p AS (SELECT p_partkey, p_brand, p_type,
        |    str_split(p_name, ' ')[1] AS w1, p_size FROM part
        |  WHERE p_partkey <= 300),
        |j AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS at,
        |    CASE WHEN a.w1 = b.w1 THEN 1 ELSE 0 END
        |      AS ac,
        |    CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS az
        |  FROM p a JOIN p b ON a.p_brand = b.p_brand
        |    AND a.p_partkey < b.p_partkey)
        |SELECT id_a, id_b, CAST(at + ac + az AS BIGINT) AS n_agree,
        |  roundStable(
        |    CASE WHEN at = 1 THEN ln(0.9 / 0.05)
        |      ELSE ln(0.1 / 0.95) END
        |    + CASE WHEN ac = 1 THEN ln(0.8 / 0.1)
        |      ELSE ln(0.2 / 0.9) END
        |    + CASE WHEN az = 1 THEN ln(0.85 / 0.15)
        |      ELSE ln(0.15 / 0.85) END, 6) AS match_weight
        |FROM j ORDER BY id_a, id_b""".stripMargin),

    Query("q364_join_skew", (s, dir) =>
      // the join pre-flight q199's single-table report can't answer:
      // which keys AMPLIFY when the self-join runs (n_l × n_r on one
      // reduce task) — decides broadcast vs salt vs pre-agg without
      // materializing one output row
      operators.Skew.joinSkewReport(Tables.events(s, dir),
        Tables.events(s, dir), "user_id", topN = 20),
      """WITH l AS (SELECT user_id, count(*) AS n_left FROM events
        |  GROUP BY 1),
        |r AS (SELECT user_id, count(*) AS n_right FROM events GROUP BY 1),
        |k AS (SELECT l.user_id, n_left, n_right,
        |    n_left * n_right AS out_rows
        |  FROM l JOIN r USING (user_id)),
        |t AS (SELECT sum(out_rows) AS tt, count(*) AS kk FROM k)
        |SELECT user_id,
        |  CAST(row_number() OVER (ORDER BY out_rows DESC, user_id)
        |    AS BIGINT) AS rank,
        |  n_left, n_right, CAST(out_rows AS BIGINT) AS out_rows,
        |  roundStable(CAST(out_rows AS DOUBLE) / tt, 6) AS out_share,
        |  CAST(tt AS BIGINT) AS total_out_rows, kk AS n_matching_keys
        |FROM k, t ORDER BY out_rows DESC, user_id LIMIT 20""".stripMargin),

    Query("q376_pagerank_dangling", (s, dir) => {
      // PageRank on the RAW (un-symmetrized) customer→supplier graph:
      // every supplier is a dangling sink, so the default run leaks
      // ~all rank mass by round 10 — redistributeDangling teleports
      // the sink mass uniformly each round (Page et al.), conserving
      // Σrank = 1. The oracle unrolls the identical recurrence with a
      // per-round dangling-mass CTE.
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      operators.PageRank.run(edges, "src", "dst", iters = 10,
          redistributeDangling = true)
        .select(col("node"), roundStable(col("rank"), 6).as("rank_r"))
        .orderBy(col("node"))
    }, {
      // the dangling-mass recurrence unrolled: per round, m = rank mass
      // sitting on sinks (÷ n) as a scalar CTE, then the identical
      // fp tree base + d·(contrib + m) the operator builds
      val iterCtes = (1 to 10).map { i =>
        s"""m$i AS MATERIALIZED (SELECT (SELECT coalesce(sum(rank), CAST(0 AS DOUBLE))
           |          FROM r${i - 1} JOIN dang USING (node))
           |         / (SELECT n FROM st) AS mn),
           |r$i AS MATERIALIZED (SELECT nodes.node,
           |        (CAST(1 AS DOUBLE) - 0.85) / st.n
           |          + 0.85 * (coalesce(c.s, CAST(0 AS DOUBLE)) + m$i.mn) AS rank
           |       FROM nodes CROSS JOIN st CROSS JOIN m$i
           |       LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
           |                  FROM e JOIN r${i - 1} r ON e.src = r.node
           |                  JOIN deg ON deg.node = e.src
           |                  GROUP BY 1) c ON c.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         |             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |st AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         |dang AS MATERIALIZED (SELECT nodes.node FROM nodes LEFT JOIN deg USING (node)
         |         WHERE deg.deg IS NULL),
         |r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / st.n AS rank FROM nodes CROSS JOIN st),
         |$iterCtes
         |SELECT node, roundStable(rank, 6) AS rank_r FROM r10 ORDER BY node""".stripMargin
    }),

    Query("q261_ktruss", (s, dir) =>
      // edge-level cohesion one notch above q137's k-core: every
      // surviving tie is embedded in >= 2 triangles (4-truss, <= 3
      // peels — the oracle unrolls the same rounds)
      operators.KTruss.truss(supplierGraph(s, dir), "src", "dst",
          k = 4, maxPeels = 3)
        .orderBy(col("a"), col("b")), {
      // the q137 unrolling discipline, on EDGES: each round recomputes
      // per-edge triangle support (common-neighbor count over the
      // adjacency) and keeps support >= 2; the inner join drops
      // zero-support edges exactly as the Spark coalesce-filter does.
      // AS MATERIALIZED for the same 5^n-inlining reason as q137
      val peels = (0 until 3).map { i =>
        s"""n$i AS MATERIALIZED (SELECT a AS v, b AS u FROM e$i
           |      UNION ALL SELECT b, a FROM e$i),
           |s$i AS MATERIALIZED (SELECT x.v AS a, y.v AS b,
           |        count(*) AS sup
           |      FROM n$i x JOIN n$i y ON x.u = y.u AND x.v < y.v
           |      JOIN e$i e ON e.a = x.v AND e.b = y.v
           |      GROUP BY 1, 2),
           |e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
           |      JOIN s$i s ON s.a = e.a AND s.b = e.b
           |      WHERE s.sup >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
         |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |  WHERE l_quantity > 45),
         |e0 AS MATERIALIZED (SELECT DISTINCT r1.sk AS a, r2.sk AS b
         |       FROM sp r1 JOIN sp r2 ON r1.pk = r2.pk AND r1.sk < r2.sk),
         |$peels,
         |nf AS MATERIALIZED (SELECT a AS v, b AS u FROM e3
         |      UNION ALL SELECT b, a FROM e3),
         |sf AS MATERIALIZED (SELECT x.v AS a, y.v AS b, count(*) AS sup
         |      FROM nf x JOIN nf y ON x.u = y.u AND x.v < y.v
         |      JOIN e3 e ON e.a = x.v AND e.b = y.v
         |      GROUP BY 1, 2)
         |SELECT e.a, e.b, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
         |FROM e3 e LEFT JOIN sf s ON s.a = e.a AND s.b = e.b
         |ORDER BY e.a, e.b""".stripMargin
    }),

    Query("q262_markov_entropy", (s, dir) =>
      // HOW PREDICTABLE is the next event given this one — the
      // information summary of q140's transition matrix, with the
      // modal successor under the q248 tiebreak
      operators.Sequences.markovEntropy(Tables.events(s, dir), "user_id",
          orderCol = col("ts"), tieCol = col("event_id"),
          stateCol = col("event_type"))
        .orderBy(col("state")),
      // same lead pairs, same -p ln p fold over the cell table
      """WITH p AS (SELECT event_type AS s,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nx
        |  FROM events),
        |c AS (SELECT s AS state, nx AS next, count(*) AS n
        |  FROM p WHERE nx IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT state, next, n,
        |    sum(n) OVER (PARTITION BY state) AS tot,
        |    row_number() OVER (PARTITION BY state
        |      ORDER BY n DESC, next) AS rk
        |  FROM c)
        |SELECT state, CAST(max(tot) AS BIGINT) AS n_transitions,
        |  count(*) AS n_next_states,
        |  roundStable(sum(-(CAST(n AS DOUBLE) / tot)
        |    * ln(CAST(n AS DOUBLE) / tot)), 6) AS h_cond,
        |  max(CASE WHEN rk = 1 THEN next END) AS top_next,
        |  roundStable(max(CASE WHEN rk = 1
        |    THEN CAST(n AS DOUBLE) / tot END), 6) AS top_share
        |FROM w GROUP BY state ORDER BY state""".stripMargin),

    Query("q259_funnel_window", (s, dir) =>
      // view→click→purchase with the WHOLE chain inside 3 days —
      // "viewed in January, bought in June" must not count (q48's
      // first-touch funnel has no clock)
      operators.Sequences.windowFunnel(Tables.events(s, dir), "user_id",
          tsCol = col("ts"), tieCol = col("event_id"),
          typeCol = col("event_type"),
          steps = Seq("view", "click", "purchase"),
          windowMicros = 3L * 86400L * 1000000L)
        .orderBy(col("depth")),
      // same two stacked running-max windows over the same (us, id)
      // sort; window arithmetic in integer microseconds
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |    event_id FROM events),
        |s AS (SELECT user_id, event_type, us, event_id,
        |    max(CASE WHEN event_type = 'view' THEN us END) OVER w AS v1
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT user_id, event_type, us, v1,
        |    max(CASE WHEN event_type = 'click' AND v1 IS NOT NULL
        |      AND us - v1 <= 259200000000 THEN v1 END) OVER w AS v2s
        |  FROM s
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS d1,
        |    max(CASE WHEN event_type = 'click' AND v1 IS NOT NULL
        |      AND us - v1 <= 259200000000 THEN 1 ELSE 0 END) AS d2,
        |    max(CASE WHEN event_type = 'purchase' AND v2s IS NOT NULL
        |      AND us - v2s <= 259200000000 THEN 1 ELSE 0 END) AS d3
        |  FROM t GROUP BY 1)
        |SELECT CAST(d1 + d2 + d3 AS BIGINT) AS depth,
        |  count(*) AS n_entities
        |FROM d GROUP BY 1 ORDER BY depth""".stripMargin),

    Query("q146_hits", (s, dir) => {
      // hubs & authorities over the directed customer→supplier trade
      // graph (supplier ids offset — cust/supp key spaces overlap);
      // 5 L1-normalized rounds, oracle unrolls the identical recurrence
      val e = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      operators.Hits.run(e, "src", "dst", iters = 5)
        .select(col("node"),
          graft.functions.roundStable(col("hub"), 6).as("hub"),
          graft.functions.roundStable(col("authority"), 6).as("authority"))
        .orderBy(col("node"))
    }, {
      // 5 rounds unrolled (the q106 discipline); MATERIALIZED is
      // load-bearing — each round references the previous ~3×
      val rounds = (1 to 5).map { i =>
        s"""ar$i AS MATERIALIZED (SELECT e.dst AS node, sum(h.h) AS a
           |  FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
           |an$i AS MATERIALIZED (SELECT node,
           |  a / (SELECT sum(a) FROM ar$i) AS a FROM ar$i),
           |hr$i AS MATERIALIZED (SELECT e.src AS node, sum(a.a) AS h
           |  FROM e JOIN an$i a ON e.dst = a.node GROUP BY e.src),
           |h$i AS MATERIALIZED (SELECT node,
           |  h / (SELECT sum(h) FROM hr$i) AS h FROM hr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src,
         |    l_suppkey + 1000000 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |n AS MATERIALIZED (SELECT src AS node FROM e
         |                   UNION SELECT dst FROM e),
         |h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM n),
         |$rounds
         |SELECT n.node, roundStable(coalesce(h5.h, 0.0), 6) AS hub,
         |  roundStable(coalesce(an5.a, 0.0), 6) AS authority
         |FROM n LEFT JOIN h5 ON n.node = h5.node
         |LEFT JOIN an5 ON n.node = an5.node
         |ORDER BY n.node""".stripMargin
    }),

    Query("q147_cooccur", (s, dir) =>
      // "customers also bought": item-item cosine over order baskets,
      // pair volume bounded by basket size, top-3 per item
      operators.MarketBasket.cooccurTopK(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", k = 3)
        .orderBy(col("item"), col("rank")),
      // canonical pairs once (a < b), symmetric expansion, cosine of
      // binary basket-incidence vectors, rounded BEFORE the rank
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |p AS (SELECT x.it AS a, y.it AS c, count(*) AS n_ab
        |      FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
        |      GROUP BY x.it, y.it HAVING count(*) >= 2),
        |s AS (SELECT a, c, n_ab FROM p
        |      UNION ALL SELECT c, a, n_ab FROM p),
        |f AS (SELECT it, count(*) AS n FROM b GROUP BY it),
        |sc AS (SELECT s.a AS item, s.c AS rec, s.n_ab,
        |        roundStable(CAST(s.n_ab AS DOUBLE)
        |          / sqrt(CAST(fa.n AS DOUBLE) * fc.n), 6) AS score
        |      FROM s JOIN f fa ON fa.it = s.a JOIN f fc ON fc.it = s.c)
        |SELECT item, rec, n_ab, score, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT sc.*, row_number() OVER (PARTITION BY item
        |    ORDER BY score DESC, rec) AS rank FROM sc) t
        |WHERE rank <= 3 ORDER BY item, rank""".stripMargin),

    Query("q84_salted_join", (s, dir) => {
      // the skew-splitting join identity, oracle-gated: events join a
      // 5-row per-type dimension through Skew.saltedJoin (left salted
      // from the row-unique event_id, dim exploded buckets×) must equal
      // the plain join bit-for-bit. The hot-key shape this exists for:
      // 5 join keys over the whole fact table → salting turns 5 reduce
      // groups into 5×8
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("event_type"))
        .agg(roundStable(avg(col("value")), 6).as("type_avg"))
      operators.Skew.saltedJoin(ev, dim, "event_type", buckets = 8,
        saltFrom = Some("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          roundStable(sum(col("value") - col("type_avg")), 4).as("dev_sum"))
        .orderBy(col("event_type"))
    },
      """WITH dim AS (SELECT event_type,
        |    roundStable(avg(value), 6) AS type_avg
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |  roundStable(sum(e.value - d.type_avg), 4) AS dev_sum
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
  )
}
