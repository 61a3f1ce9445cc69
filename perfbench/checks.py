"""Output checks for every op of a run, made after the JVM has exited.

- Keys with oracle SQL (SparkEntry.oracleSql) are compared with DuckDB
  over the same input tables, the way tools/compare.py does: columns
  sorted by name, equal dtypes, equal values in order.
- Keys without oracle SQL must be non-empty and give the same content
  hash every time they run for the same inputs, across runs of this
  checkout (run.py keeps the hashes in a file).
- A subset op must leave a destination with no orphan on any FK edge,
  holding every forced row, and a delta op may only add rows.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def parquet_files(path):
    # Spark numbers part files by partition, so name order is the
    # result's row order
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def read_output(con, path):
    files = parquet_files(path)
    if not files:
        raise ValueError(f"no parquet output under {path}")
    return con.execute(f"SELECT * FROM read_parquet({files!r})").df()


def content_hash(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    h = hashlib.sha256()
    h.update(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    h.update(pd.util.hash_pandas_object(df.astype(str), index=False).values.tobytes())
    return h.hexdigest()


def compare(spark_df, duck_df):
    """None when equal, else the first difference (compare.py's rules)."""
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            return f"dtype[{c}] {s[c].dtype} vs {d[c].dtype}"
        if not s[c].equals(d[c]):
            return f"value[{c}]"
    return None


def table_views(con, data_dir):
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")


def check_query_ops(result, hash_store, run_key):
    """{op id: failure reason} for the query ops of a run."""
    con = duckdb.connect()
    table_views(con, result["data_dir"])
    failures = {}
    for op in result["ops"]:
        if not op["ok"]:
            failures[op["id"]] = f"threw: {op['error']}"
            continue
        key = op["key"]
        try:
            df = read_output(con, op["out"])
        except Exception as ex:  # noqa: BLE001 - any unreadable output fails the op
            failures[op["id"]] = f"unreadable output: {ex}"
            continue
        if key in result["oracle"]:
            try:
                diff = compare(df, con.execute(result["oracle"][key]).df())
            except Exception as ex:  # noqa: BLE001
                diff = f"oracle failed: {ex}"
            if diff:
                failures[op["id"]] = f"oracle mismatch: {diff}"
        else:
            if df.empty:
                failures[op["id"]] = "empty output"
                continue
            h = content_hash(df)
            ref = hash_store.setdefault(f"{run_key}/{key}", h)
            if h != ref:
                failures[op["id"]] = f"content hash {h[:12]} differs from {ref[:12]}"
    return failures


def check_subset_ops(result, forced):
    """{op id: failure reason} for the subset ops of a run, a fresh op
    then delta ops into the same destination; forced[i] is
    {table: (pk column, [values])} for the i-th op."""
    con = duckdb.connect()
    failures, previous = {}, None
    for i, op in enumerate(result["ops"]):
        if not op["ok"]:
            failures[op["id"]] = f"threw: {op['error']}"
            previous = None
            continue
        reasons = []
        if op["orphans"] != 0:
            reasons.append(f"validateDest reported {op['orphans']} orphans")
        dest = op["out"]
        present = [t for t in TABLES if os.path.isdir(os.path.join(dest, f"{t}.parquet"))]
        if set(present) != set(TABLES):
            reasons.append(f"destination lacks {sorted(set(TABLES) - set(present))}")
        for t in present:
            files = parquet_files(os.path.join(dest, f"{t}.parquet"))
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
        counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in present}
        for fk in result["fks"]:
            if fk["child"] not in present or fk["parent"] not in present:
                continue
            on = " AND ".join(f"p.{p} = c.{c}" for c, p in zip(fk["child_cols"], fk["parent_cols"]))
            not_null = " AND ".join(f"c.{c} IS NOT NULL" for c in fk["child_cols"])
            n = con.execute(
                f"SELECT count(*) FROM {fk['child']} c WHERE {not_null} AND NOT EXISTS "
                f"(SELECT 1 FROM {fk['parent']} p WHERE {on})").fetchone()[0]
            if n:
                reasons.append(f"{n} orphans on {fk['child']}->{fk['parent']}")
        for t, (col, values) in forced[i].items():
            if t in present:
                found = con.execute(
                    f"SELECT count(DISTINCT {col}) FROM {t} WHERE {col} IN "
                    f"({', '.join(str(v) for v in values)})").fetchone()[0]
                if found != len(set(values)):
                    reasons.append(f"forced {t} rows missing ({found}/{len(set(values))})")
        if counts.get("lineitem", 0) == 0:
            reasons.append("empty lineitem")
        if previous:
            shrunk = [t for t in previous if counts.get(t, 0) < previous[t]]
            if shrunk:
                reasons.append(f"delta removed rows from {shrunk}")
        if reasons:
            failures[op["id"]] = "; ".join(reasons)
        previous = counts
    return failures


def load_hashes(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def save_hashes(path, hashes):
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
