"""Correctness checks, run outside the timed region on the outputs of the
first warm-up pass (streaming_gates) or of every window (maef_pipeline).

Query jobs are compared exactly against DuckDB running the query's
`SparkEntry.oracleSql` over the same generated tables: column sets, row
counts, and every value after sorting columns by name and rows by all
columns (the comparison the repo's oracle gate makes). Expected results
are computed once per input and SQL text and cached.

A `maef_pipeline` window passes when
  1. the Loader replay equals the native attribution row for row;
  2. sum(ihc) per conversion is 1 within the 4-decimal rounding of each row;
  3. the upserted table equals the last-wins union of the windows so far;
  4. the report equals DuckDB evaluating the reference reporting SQL over
     the generated tables plus the loaded attribution.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
MAEF_TABLES = ["conversions", "session_sources", "session_costs"]

# Reference reporting (src/etl/reporting.py) as MaefReporting computes it
# with fanout=false and exact sums: DECIMAL(28,12) sums rounded to
# DECIMAL(28,6). DuckDB's decimal-to-decimal cast truncates, so half an
# ulp is added before it to round half up like Spark.
REPORT_SQL = """
WITH ar AS (
  SELECT COALESCE(NULLIF(s.channel_name, ''), 'unknown') AS channel_name,
         COALESCE(NULLIF(s.event_date, ''), c.conv_date) AS date,
         COALESCE(a.ihc, 0.0) AS ihc,
         COALESCE(c.revenue, 0.0) * COALESCE(a.ihc, 0.0) AS attributed_revenue
  FROM attribution a
  JOIN session_sources s ON a.session_id = s.session_id
  JOIN conversions c ON a.conv_id = c.conv_id
  WHERE a.session_id IS NOT NULL AND a.session_id <> ''
    AND s.channel_name IS NOT NULL AND s.event_date IS NOT NULL),
cc AS (
  SELECT COALESCE(NULLIF(s.channel_name, ''), 'unknown') AS channel_name,
         COALESCE(NULLIF(s.event_date, ''), '1970-01-01') AS date,
         COALESCE(k.cost, 0.0) AS cost
  FROM session_sources s LEFT JOIN session_costs k ON s.session_id = k.session_id
  WHERE s.channel_name IS NOT NULL AND s.event_date IS NOT NULL),
rev AS (
  SELECT channel_name, date,
         COALESCE(CAST(SUM(CAST(ihc AS DECIMAL(28,12))) + 0.0000005 AS DECIMAL(28,6))::DOUBLE, 0.0) AS ihc,
         COALESCE(CAST(SUM(CAST(attributed_revenue AS DECIMAL(28,12))) + 0.0000005 AS DECIMAL(28,6))::DOUBLE, 0.0) AS ihc_revenue
  FROM ar GROUP BY 1, 2),
cost AS (
  SELECT channel_name, date,
         COALESCE(CAST(SUM(CAST(cost AS DECIMAL(28,12))) + 0.0000005 AS DECIMAL(28,6))::DOUBLE, 0.0) AS cost
  FROM cc GROUP BY 1, 2)
SELECT r.channel_name, r.date, COALESCE(k.cost, 0.0) AS cost, r.ihc, r.ihc_revenue
FROM rev r LEFT JOIN cost k ON r.channel_name = k.channel_name AND r.date = k.date
WHERE r.channel_name <> 'unknown'
  AND r.date >= (SELECT MIN(conv_date) FROM conversions)
"""


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want):
    """None when equal, else a one-line description of the first difference."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = canon(got), canon(want)
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    return f"{col} row {i}: {x!r} != {y!r}"
            elif x != y:
                return f"{col} row {i}: {x!r} != {y!r}"
    return None


def _views(con, data_dir, tables):
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else pd.read_parquet(path)


def check(workload, data_dir, out_dir, cache_dir):
    """Returns {"checked": [names], "failed": ["name: reason", ...]}."""
    if workload == "maef_pipeline":
        return check_maef(data_dir, out_dir)
    os.makedirs(cache_dir, exist_ok=True)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    data_key = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            data_key.update(hashlib.sha256(f.read()).digest())
    con = duckdb.connect()
    _views(con, data_dir, TABLES)
    checked, failed = [], []
    for name, sql in oracle.items():
        checked.append(name)
        res = os.path.join(out_dir, "results", name)
        if not os.path.isdir(res):
            failed.append(f"{name}: no output")
            continue
        key = hashlib.sha256(data_key.digest() + sql.encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{name}-{key}.pkl")
        try:
            if os.path.exists(cached):
                want = pd.read_pickle(cached)
            else:
                want = con.execute(sql).fetchdf()
                want.to_pickle(cached)
            err = compare(_read(res), want)
        except Exception as e:  # an oracle or read error is a failed check
            err = f"{type(e).__name__}: {str(e)[:200]}"
        if err:
            failed.append(f"{name}: {err}")
    return {"checked": checked, "failed": failed}


def check_maef(data_dir, out_dir):
    con = duckdb.connect()
    _views(con, data_dir, MAEF_TABLES)
    checked, failed = [], []
    union = {}
    names = sorted(os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "results", "w*")))
    for name in names:
        d = os.path.join(out_dir, "results", name)
        checked.append(name)
        try:
            native = _read(f"{d}/native")
            loaded = _read(f"{d}/loaded")
            err = compare(loaded, native)
            if err:
                failed.append(f"{name}: loader replay differs from native attribution: {err}")
            sums = loaded.groupby("conv_id").agg(s=("ihc", "sum"), n=("ihc", "size"))
            bad = sums[(sums.s - 1.0).abs() > 0.00005 * sums.n + 1e-9]
            if len(bad):
                failed.append(f"{name}: {len(bad)} conversions with sum(ihc) != 1, "
                              f"e.g. {bad.index[0]}={bad.s.iloc[0]}")
            for r in loaded.itertuples(index=False):
                union[(r.conv_id, r.session_id)] = r.ihc
            table = _read(f"{d}/table")
            want = pd.DataFrame([(c, s, v) for (c, s), v in union.items()],
                                columns=["conv_id", "session_id", "ihc"])
            err = compare(table, want)
            if err:
                failed.append(f"{name}: upserted table differs from last-wins union: {err}")
            con.register("attribution", loaded)
            want = con.execute(REPORT_SQL).fetchdf()
            con.unregister("attribution")
            got = _read(f"{d}/report")[["channel_name", "date", "cost", "ihc", "ihc_revenue"]]
            err = compare(got, want)
            if err:
                failed.append(f"{name}: report differs from the reporting SQL: {err}")
        except Exception as e:
            failed.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
    return {"checked": checked, "failed": failed}
