"""Output check for `curate`: each key's Spark result (written by the
harness's set-up pass, outside the timed region) must fingerprint-match the
key's `SparkEntry.oracleSql` run in DuckDB over the same input tables.

The oracle's fingerprint depends only on the SQL text and the tables, so it
is kept in a cache directory keyed by a hash of both: the first run in a
checkout runs the oracle (about 40 s at sf0.1 on 4 vCPUs), later runs reuse
its fingerprints. The Spark result is fingerprinted on every run.
"""
import hashlib
import os

import duckdb
import pandas as pd

from stats import fingerprint

TABLES = ["events", "documents", "embeddings"]


def _oracle_key(data_dir, sql):
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:32]


def _oracle_fingerprint(con, data_dir, sql, cache_dir):
    path = os.path.join(cache_dir, _oracle_key(data_dir, sql))
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read()
    want = fingerprint(con.sql(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(want)
    os.replace(tmp, path)
    return want


def oracle_mismatches(data_dir, results_dir, oracle_sql, cache_dir):
    """Return {key: reason} for every key whose result differs."""
    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        bad = {}
        for key, sql in sorted(oracle_sql.items()):
            try:
                want = _oracle_fingerprint(con, data_dir, sql, cache_dir)
            except Exception as e:  # the oracle itself failed
                bad[key] = f"oracle error: {str(e)[:200]}"
                continue
            path = os.path.join(results_dir, key)
            try:
                got = fingerprint(pd.read_parquet(path))
            except Exception as e:
                bad[key] = f"result unreadable: {str(e)[:200]}"
                continue
            if got != want:
                bad[key] = f"fingerprint {got} != oracle {want}"
        return bad
    finally:
        con.close()
