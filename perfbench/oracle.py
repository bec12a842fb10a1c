"""Oracle gate: each query's Spark output against its DuckDB oracle SQL
(`SparkEntry.oracleSql`), run over the same generated tables.

Columns are compared sorted by name and rows as sorted multisets, with
exact values, the way the repository's oracle gate compares them.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _canonical(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        # array-valued cells are unhashable and unsortable: compare as tuples
        if df[c].dtype == object and df[c].map(
                lambda v: hasattr(v, "__len__") and not isinstance(v, (str, bytes))).any():
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__iter__")
                              and not isinstance(v, (str, bytes)) else v)
    return df


def _compare(oracle, spark):
    o, s = _canonical(oracle), _canonical(spark)
    if list(o.columns) != list(s.columns):
        return f"columns: oracle {list(o.columns)} spark {list(s.columns)}"
    if len(o) != len(s):
        return f"rows: oracle {len(o)} spark {len(s)}"
    o = o.sort_values(by=list(o.columns), ignore_index=True)
    s = s.sort_values(by=list(s.columns), ignore_index=True)
    try:
        pd.testing.assert_frame_equal(o, s, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + str(e).splitlines()[-1][:200]
    return None


def check(data_dir, results_dir, oracle_json, queries):
    """{query: {"ok", "rows", "detail"}} for every query of the workload."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for p in glob.glob(os.path.join(data_dir, "*.parquet")):
            name = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        with open(oracle_json) as fh:
            sqls = json.load(fh)
        out = {}
        for q in queries:
            files = sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))
            if q not in sqls:
                out[q] = {"ok": False, "rows": 0, "detail": "no oracle SQL"}
                continue
            if not files:
                out[q] = {"ok": False, "rows": 0, "detail": "no Spark output"}
                continue
            spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            try:
                detail = _compare(con.execute(sqls[q]).df(), spark)
            except duckdb.Error as e:
                detail = f"oracle error: {e}"
            out[q] = {"ok": detail is None, "rows": len(spark), "detail": detail}
        return out
    finally:
        con.close()
