"""DuckDB oracle check of the batch workloads' warm-up outputs.

Each gate with an oracle has its DuckDB twin SQL in `oracle_sql.json`
(the program's `SparkEntry.oracleSql`). The twin runs over the same
generated tables, and the two results are compared in canonical order
(columns by name, rows by value). A column whose dtype family differs
(integer against float) is a mismatch even when the values agree, and
floats compare with a relative tolerance of 1e-6.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _family(dtype):
    if np.issubdtype(dtype, np.floating):
        return "float"
    if np.issubdtype(dtype, np.integer):
        return "int"
    if np.issubdtype(dtype, np.bool_):
        return "bool"
    return str(dtype)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if isinstance(v, (list, np.ndarray, dict)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_df, oracle_df):
    """None when the two results match, else why they differ."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != oracle {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"{len(spark_df)} rows != oracle {len(oracle_df)} rows"
    s, o = _canon(spark_df), _canon(oracle_df)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if _family(sv.dtype) != _family(ov.dtype):
            return f"column {c}: dtype {sv.dtype} != oracle {ov.dtype}"
        if _family(sv.dtype) == "float":
            ok = np.allclose(sv.to_numpy(float), ov.to_numpy(float),
                             rtol=1e-6, atol=1e-9, equal_nan=True)
        else:
            ok = sv.equals(ov) or bool((sv.astype(str) == ov.astype(str)).all())
        if not ok:
            return f"column {c} differs from the oracle"
    return None


def check(data_dir, out_dir):
    """Compare every gate output in `out_dir/outputs` that has an oracle;
    returns {gate: reason} for the gates that do not match."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    failures = {}
    for gate, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(out_dir, "outputs", gate, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            why = compare(got, con.execute(sql).df())
        except Exception as e:  # a broken output or oracle is a failed gate
            why = f"oracle check failed: {type(e).__name__}: {e}"
        if why:
            failures[gate] = f"oracle mismatch: {why}"
    con.close()
    return failures
