#!/usr/bin/env python3
"""Output checks of one benchmark run, made after its timed window.

Read workloads: every query's result from the untimed results pass after
the window (parquet under `results/<name>`) against the query's DuckDB oracle from
`SparkEntry.oracleSql`, with `scripts/check.py`'s type checks and
canonical column order, then rows sorted on every column (the oracle
gate hashes rows in sorted order), compared exactly.

Ingest: the final store against a last-writer-wins recomputation over
every delivered row (the latest batch wins per post_id), pushed through
q05's transform oracle; each batch's high-water mark against the
recomputed store; one row per key, each in its created_datetime's
date partition.
"""
import glob
import importlib.util
import os
from datetime import datetime, timedelta

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _repo_check():
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(ROOT, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _frame(rc, rel, side, name):
    rc.check_types(rel, side, name)
    df = rc.canon(rel.df())
    return df.sort_values(list(df.columns), ignore_index=True) if len(df.columns) else df


def compare(rc, got_rel, want_rel, name):
    """None when equal, else the reason."""
    try:
        got = _frame(rc, got_rel, "spark", name)
        want = _frame(rc, want_rel, "oracle", name)
    except AssertionError as e:
        return str(e)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e)[:300]
    return None


def check_reads(rc, con, res, work):
    failures = []
    for name, sql in sorted(res["oracle_sql"].items()):
        files = os.path.join(work, "results", name, "*.parquet")
        if not sql:
            failures.append(f"{name}: no oracle")
        elif not glob.glob(files):
            failures.append(f"{name}: no result")
        else:
            try:
                why = compare(rc, con.sql(f"SELECT * FROM '{files}'"), con.sql(sql), name)
            except duckdb.Error as e:
                why = f"error: {e}"
            if why:
                failures.append(f"{name}: {why}")
    return failures


def check_ingest(rc, con, res, work):
    failures = []
    con.sql(f"""CREATE VIEW deliveries AS SELECT * FROM read_parquet(
        '{work}/batches/*/*.parquet', hive_partitioning = true)""")
    con.sql("""CREATE VIEW delivered_latest AS
        SELECT * EXCLUDE (batch, rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY post_id ORDER BY batch DESC) AS rn
          FROM deliveries) WHERE rn = 1""")
    con.sql(f"CREATE TABLE expected AS {res['posts_oracle_sql']}")
    con.sql(f"""CREATE VIEW store AS SELECT * FROM read_parquet(
        '{work}/store/*/*.parquet', hive_partitioning = true)""")
    cols = [c for c in con.sql("SELECT * FROM expected").columns if c != "technologies"]
    got = con.sql(f"""SELECT {', '.join(cols)}, CASE WHEN len(technologies) = 0
        THEN '' ELSE array_to_string(technologies, '|') END AS technologies FROM store""")
    why = compare(rc, got, con.sql("SELECT * FROM expected"), "store")
    if why:
        failures.append(f"store: {why}")
    bad = con.sql("""SELECT count(*) - count(DISTINCT post_id),
        count(*) FILTER (WHERE CAST(dt AS DATE) <> CAST(created_datetime AS DATE))
        FROM store""").fetchone()
    if bad != (0, 0):
        failures.append(f"store: {bad[0]} duplicate keys, {bad[1]} rows in a wrong partition")
    for d, got_hwm in enumerate(res["passes"][-1]["hwm"]):
        now = datetime(2024, 1, 1) + timedelta(days=d + 1)
        want = con.execute("""SELECT coalesce(max(created_datetime), ?::TIMESTAMP - INTERVAL 7 DAY)
            FROM expected WHERE created_datetime < ? AND created_datetime >= ?::TIMESTAMP - INTERVAL 30 DAY""",
                           [now, now, now]).fetchone()[0]
        if datetime.fromisoformat(got_hwm) != want:
            failures.append(f"hwm_batch_{d}: {got_hwm} vs {want}")
    return failures


def verify(res, work, data):
    """Names and reasons of every mismatch (empty when all outputs match)."""
    rc = _repo_check()
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql("SET enable_progress_bar = false")
    con.sql(f"SET temp_directory = '{work}/duckdb_tmp'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    if "posts_oracle_sql" in res:
        return check_ingest(rc, con, res, work)
    return check_reads(rc, con, res, work)
