"""DuckDB oracle check of dumped Spark results.

Each query's oracle SQL (the engine's ``SparkEntry.oracleSql``) runs in
DuckDB over the same parquet tables. The Spark result, written as parquet,
must equal it: same column names (compared sorted by name), same row count,
and row by row the same values. Doubles must be bit-equal (NaN equals NaN;
-0.0 differs from 0.0); other types compare by their string form.
"""
import json

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _floats_equal(a, b):
    a = a.to_numpy(dtype=np.float64, na_value=np.nan)
    b = b.to_numpy(dtype=np.float64, na_value=np.nan)
    both_nan = np.isnan(a) & np.isnan(b)
    same = (a == b) & (np.signbit(a) == np.signbit(b))
    return bool(np.all(both_nan | same))


def compare(oracle_df, spark_df):
    """None when equal, else a one-line reason."""
    o = oracle_df[sorted(oracle_df.columns)]
    s = spark_df[sorted(spark_df.columns)]
    if list(o.columns) != list(s.columns):
        return f"columns differ: oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"row count differs: oracle={len(o)} spark={len(s)}"
    o, s = o.reset_index(drop=True), s.reset_index(drop=True)
    for c in o.columns:
        if pd.api.types.is_float_dtype(o[c]) and pd.api.types.is_float_dtype(s[c]):
            if not _floats_equal(o[c], s[c]):
                return f"column {c} differs"
        elif not o[c].astype(str).equals(s[c].astype(str)):
            return f"column {c} differs"
    return None


def check(tables_dir, dump_dir, names):
    """{name: None if the dumped result matches its oracle, else reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(f"{dump_dir}/oracle_sql.json") as f:
        sql = json.load(f)
    out = {}
    for name in names:
        try:
            odf = con.sql(sql[name]).df()
            sdf = con.sql(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").df()
            out[name] = compare(odf, sdf)
        except Exception as e:  # an oracle or read error is a failed check
            out[name] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return out
