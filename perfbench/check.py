"""Output checks, run after the timed region.

An "oracle" check runs the query's DuckDB oracle SQL over the same
tables and compares it with the parquet the query wrote, through the
canonical hash of tools/local_verify.py (columns sorted by name, rows
sorted, doubles rounded to 1e-9).

A "lab2" check compares the Lab2Pipeline sink files with Lab2Queries'
q54 (matches) and q55 (accuracy) oracle SQL, and checks that the Task 2
category matrix is square, symmetric and has a unit diagonal.
"""
import glob
import hashlib
import os
import re

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype in ("float64", "float32"):
            df[c] = df[c].astype("float64").round(9)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, list) or
                type(v).__name__ == "ndarray" else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df):
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.9f").encode()).hexdigest()[:16]


def same(got, exp):
    g, e = canon(got), canon(exp)
    return list(g.columns) == list(e.columns) and len(g) == len(e) and digest(g) == digest(e)


def _read_parquet_dir(path):
    return pq.read_table(path).to_pandas()


def _one_file(path, pattern):
    files = sorted(glob.glob(os.path.join(path, pattern)))
    if len(files) != 1:
        raise ValueError(f"{path}: expected one {pattern} file, found {len(files)}")
    return files[0]


def _lab2(con, out, sql):
    q54, q55 = sql
    if not same(_read_parquet_dir(os.path.join(out, "results")), con.execute(q54).fetchdf()):
        return "matches differ from the q54 oracle"
    text = open(_one_file(os.path.join(out, "accuracy"), "part-*")).read().strip()
    m = re.fullmatch(r"\(accuracy, ([0-9.eE+-]+)\)", text)
    want = con.execute(q55).fetchdf()["accuracy"].iloc[0]
    if not m or abs(float(m.group(1)) - float(want)) > 1e-9:
        return f"accuracy {text!r} differs from the q55 oracle {want}"
    mat = pd.read_csv(_one_file(os.path.join(out, "heatmap"), "part-*.csv"))
    keys = [str(k) for k in mat["l_id"]]
    if keys != list(mat.columns[1:]):
        return "category matrix is not square over one key set"
    vals = mat.iloc[:, 1:].to_numpy(dtype=float)
    if abs(vals - vals.T).max() > 1e-6:
        return "category matrix is not symmetric"
    if abs(vals.diagonal() - 1.0).max() > 1e-6:
        return "category matrix diagonal is not 1"
    return None


def run_checks(checks, tables):
    """Return (number checked, list of failure messages)."""
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for name, path in tables.items():
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    failures = []
    for c in checks:
        try:
            if c["kind"] == "lab2":
                why = _lab2(con, c["out"], c["sql"])
            else:
                got = _read_parquet_dir(c["out"])
                why = None if same(got, con.execute(c["sql"][0]).fetchdf()) \
                    else "output differs from the oracle"
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check error: {e}"
        if why:
            failures.append(f"{c['op']} ({c['out']}): {why}")
    return len(checks), failures
