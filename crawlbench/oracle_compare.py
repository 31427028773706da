"""Compares the catalogue's Spark results with their oracle SQL run in DuckDB.

Each query's check-pass result is a parquet dir `<check_dir>/<query>/` next to
`<check_dir>/<query>.sql`. A query fails when its SQL throws, its result
cannot be read, or the two results differ after normalisation: columns
sorted by name, cells rendered as text (floats by repr, NaN as "nan"), rows
sorted. The oracle's normalised answer depends only on the SQL text and the
input tables, so it is cached under `cache_dir`, keyed by a hash of both.
"""
import glob
import hashlib
import json
import math
import os
from collections import namedtuple

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

Comparison = namedtuple("Comparison", "attempted failed failures")


def norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def normed(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, sorted(tuple(norm_cell(r[i]) for i in idx) for r in rel.fetchall())


def tables_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            with open(path, "rb") as f:
                h.update(t.encode() + f.read())
    return h.hexdigest()


def oracle_answer(con, sql, cache_dir, digest):
    """The oracle's normalised (columns, rows), cached per SQL and tables."""
    path = None
    if cache_dir:
        key = hashlib.sha256((digest + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [tuple(r) for r in rows]
    cols, rows = normed(con.sql(sql))
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump([cols, rows], f)
        os.replace(path + ".tmp", path)
    return cols, rows


def compare_query(con, sql, parquet_files, cache_dir=None, digest=""):
    """None when equal, else a one-line reason."""
    oc, orows = oracle_answer(con, sql, cache_dir, digest)
    sc, srows = normed(con.sql(f"SELECT * FROM read_parquet({parquet_files!r})"))
    if oc != sc:
        return f"schema oracle={oc} spark={sc}"
    if orows != srows:
        diff = next((a, b) for a, b in zip(orows + [None], srows + [None]) if a != b)
        return f"rows oracle={len(orows)} spark={len(srows)} first-diff={diff}"
    return None


def compare_dir(data_dir, check_dir, cache_dir=None):
    digest = tables_digest(data_dir)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    attempted = failed = 0
    failures = []
    for sql_file in sorted(glob.glob(os.path.join(check_dir, "*.sql"))):
        name = os.path.basename(sql_file)[:-4]
        attempted += 1
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        try:
            with open(sql_file) as f:
                reason = compare_query(con, f.read(), files, cache_dir, digest)
        except Exception as e:  # a query that cannot be run or read fails
            reason = f"error {type(e).__name__}: {e}"
        if reason:
            failed += 1
            failures.append(f"{name}: {reason}")
    return Comparison(attempted, failed, failures)
