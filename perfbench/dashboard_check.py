"""Output check of the dashboard calls of aq_pipeline: each call's result,
as the harness collected it in the last pass, is compared with the same
analysis run in DuckDB over the same landed parquet.

The seed changes the dashboard's input, so its expected values cannot be
stored with the benchmark; DuckDB, an independent engine, computes them
on every run instead. Rows are matched on their keys, so the check is
order-insensitive. A value matches when it is within one unit of the last
decimal the call rounds to (1e-9 for unrounded values).
"""
import json

import duckdb
import pandas as pd

THRESHOLD = 35.0  # bad-day threshold on daily-mean PM2.5; AqPipeline.DayThreshold
NUMERIC = ["pm25", "pm10", "no2", "o3", "co", "temperature", "humidity"]

# call -> (DuckDB SQL over `landed`, key columns, {value column: tolerance})
EXPECTED = {
    "etl.rolling_mean": (
        """SELECT reading_id, avg(pm25) OVER (PARTITION BY station ORDER BY ts, reading_id
                  ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING) AS pm25_roll6 FROM landed""",
        ["reading_id"], {"pm25_roll6": 1e-9}),
    "etl.dow_quartiles": (
        """SELECT isodow(ts) - 1 AS weekday, quantile_cont(pm25, 0.25) AS q1,
                  quantile_cont(pm25, 0.5) AS median, quantile_cont(pm25, 0.75) AS q3,
                  count(*) AS n FROM landed GROUP BY 1""",
        ["weekday"], {"q1": 1e-6, "median": 1e-6, "q3": 1e-6, "n": 0}),
    "etl.kpis": (
        f"""WITH daily AS (SELECT CAST(ts AS DATE) AS d, avg(pm25) AS day_avg FROM landed GROUP BY 1),
                days AS (SELECT count(*) FILTER (WHERE day_avg > {THRESHOLD}) AS days_over,
                                count(*) AS total_days FROM daily)
            SELECT avg(pm25) AS avg_value, max(pm25) AS max_value, days_over, total_days,
                   100.0 * days_over / total_days AS pct_days_over
            FROM landed, days GROUP BY days_over, total_days""",
        [], {"avg_value": 1e-4, "max_value": 1e-6, "days_over": 0, "total_days": 0,
             "pct_days_over": 1e-6}),
    "etl.corr": (
        " UNION ALL ".join(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, corr({a}, {b}) AS r FROM landed"
            for a in NUMERIC for b in NUMERIC if a < b),
        ["col_a", "col_b"], {"r": 1e-6}),
}


def check(landed_dir, results_path):
    """One {"name", "ok", "detail"} per dashboard call; `results_path` holds
    the harness's collected results as {call: [row, ...]}."""
    with open(results_path) as f:
        results = json.load(f)
    # parquet and ICU are built in; never fetch an extension
    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW landed AS SELECT * FROM read_parquet('{landed_dir}/**/*.parquet')")
    out = []
    for name, (sql, keys, tols) in EXPECTED.items():
        try:
            exp = con.sql(sql).df()
            got = pd.DataFrame(results[name])
            out.append(compare(name, exp, got, keys, tols))
        except Exception as e:  # a check that cannot run is a failed check
            out.append({"name": name, "ok": False, "detail": f"check error: {e}"})
    return out


def compare(name, exp, got, keys, tols):
    if len(exp) != len(got):
        return {"name": name, "ok": False, "detail": f"{len(got)} rows, expected {len(exp)}"}
    if keys:
        exp = exp.sort_values(keys).reset_index(drop=True)
        got = got.sort_values(keys).reset_index(drop=True)
        for k in keys:
            if list(exp[k].astype(str)) != list(got[k].astype(str)):
                return {"name": name, "ok": False, "detail": f"key column {k} differs"}
    bad = 0
    for col, tol in tols.items():
        for e, g in zip(exp[col], got[col]):
            e_null, g_null = e is None or e != e, g is None or g != g
            if e_null or g_null:
                bad += e_null != g_null
            elif abs(float(e) - float(g)) > tol:
                bad += 1
    return {"name": name, "ok": bad == 0,
            "detail": f"{len(got)} rows, {bad} values beyond tolerance"}
