"""Output checks, run after the timed region. Every timed output is
compared with DuckDB; a wrong output counts as a failed operation.

- dashboard: each response body against the request's SQL twin.
- crawl: each read-back against its twin over a DuckDB replay of the
  batches landed so far, and the final raw table and rollup against a
  recomputation from the generated batch files.
- curation: an order-insensitive hash of each result against the
  pinned hash of the query's oracle SQL (expected/curation.json).
"""
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

def connect(data_dir):
    """DuckDB over the generated tables, one view per parquet file."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in tables(data_dir):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def tables(data_dir):
    return sorted(f[:-8] for f in os.listdir(data_dir) if f.endswith(".parquet"))


# ------------------------------------------------- row-level comparisons

def _same(got, want):
    if want is None or (isinstance(want, float) and math.isnan(want)):
        return got is None
    if got is None:
        return False
    if isinstance(want, dt.datetime):
        g = dt.datetime.fromisoformat(str(got).replace("Z", "+00:00"))
        if g.tzinfo is not None:
            g = g.astimezone(dt.timezone.utc).replace(tzinfo=None)
        # Spark's JSON writer keeps milliseconds
        return g == want.replace(microsecond=want.microsecond // 1000 * 1000)
    if isinstance(want, bool):
        return got is want
    if isinstance(want, int):
        return isinstance(got, int) and got == want
    if isinstance(want, (float, decimal.Decimal)):
        return isinstance(got, (int, float)) and float(got) == float(want)
    return got == want


def rows_match(json_rows, cursor_rows, columns):
    """True when JSON objects (Spark's toJSON, nulls omitted) equal the
    DuckDB rows position by position, column by column."""
    if len(json_rows) != len(cursor_rows):
        return False
    for obj, row in zip(json_rows, cursor_rows):
        if set(obj) - set(columns):
            return False
        if not all(_same(obj.get(c), v) for c, v in zip(columns, row)):
            return False
    return True


def run_twin(con, sql, cache):
    if sql not in cache:
        cur = con.execute(sql)
        cache[sql] = ([d[0] for d in cur.description], cur.fetchall())
    return cache[sql]


# RestServer returns at most its maxRows rows per response, the first
# ones of the ordered result (PostgREST's default limit)
SERVER_MAX_ROWS = 10000


def check_dashboard(data_dir, requests, ops):
    """Indices of request ops whose body differs from the twin's rows."""
    con = connect(data_dir)
    cache, wrong = {}, set()
    for i, op in enumerate(ops):
        if op.get("error"):
            continue
        chk = op["check"]
        cols, rows = run_twin(con, requests[chk["index"]]["twin"], cache)
        if not rows_match(json.loads(chk["body"]), rows[:SERVER_MAX_ROWS], cols):
            wrong.add(i)
    return wrong


# ---------------------------------------------------------------- crawl

RAW_COLS = "ts TIMESTAMP, unit BIGINT, kind VARCHAR, value DOUBLE, quality VARCHAR"
ROLLUP_SQL = ("SELECT kind, date_trunc('hour', ts) AS bucket, count(*) AS n, "
              "sum(CAST(value AS DECIMAL(28,2))) AS total FROM raw GROUP BY 1, 2")


def _insert(con, rows):
    if rows:
        con.executemany("INSERT INTO raw VALUES (?, ?, ?, ?, ?)",
                        [tuple(r) + (None,) * (5 - len(r)) for r in rows])


def check_crawl(batches, ops, n_batches, warehouse):
    """Replay the first ``n_batches`` in DuckDB. Returns (indices of
    wrong ops, whether the final tables match)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE TABLE raw ({RAW_COLS})")
    con.execute(f"CREATE VIEW rollup AS {ROLLUP_SQL}")
    reads = {}
    for i, op in enumerate(ops):
        if op["kind"] == "read":
            reads.setdefault(op["check"].get("batch"), []).append((i, op))
    wrong = set()
    for b in batches[:n_batches]:
        _insert(con, b["_rows"])
        if "revision" in b:
            r = b["revision"]
            con.execute("DELETE FROM raw WHERE ts >= ? AND ts < ?",
                        [dt.datetime.fromisoformat(r["lo"]), dt.datetime.fromisoformat(r["hi"])])
            _insert(con, r["_rows"])
        if "drift" in b:
            _insert(con, b["drift"]["_rows"])
        for i, op in reads.get(b["index"], []):
            if op.get("error"):
                continue
            spec = b["reads"][op["check"]["read"]]
            cur = con.execute(spec["twin"])
            cols = [d[0] for d in cur.description]
            got = [json.loads(line) for line in op["check"]["rows"]]
            if not rows_match(got, cur.fetchall(), cols):
                wrong.add(i)
    want_raw = con.execute(
        "SELECT ts, unit, kind, value, quality FROM raw ORDER BY ALL").fetchall()
    want_roll = con.execute(f"SELECT * FROM ({ROLLUP_SQL}) ORDER BY ALL").fetchall()
    got = duckdb.connect()
    got.execute("SET TimeZone = 'UTC'")
    src = (f"read_parquet('{warehouse}/{{t}}/**/*.parquet', "
           "hive_partitioning = true, union_by_name = true)")
    quality = "quality" if any("drift" in b for b in batches[:n_batches]) else "NULL"
    got_raw = got.execute(
        f"SELECT ts::TIMESTAMP, unit, kind, value, {quality} "
        f"FROM {src.format(t='raw')} ORDER BY ALL").fetchall()
    got_roll = got.execute(
        f"SELECT kind, bucket::TIMESTAMP, n, total "
        f"FROM {src.format(t='rollup')} ORDER BY ALL").fetchall()
    return wrong, got_raw == want_raw and got_roll == want_roll


# ------------------------------------------------------------- curation

def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (float, np.floating)):
        return repr(float(v) + 0.0)  # -0.0 == 0.0, as in the oracle rule
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    return repr(v)


def frame_hash(df):
    """Order-insensitive hash of a result under scripts/check.py's rule:
    columns compared by sorted name, dtypes must agree, values exactly."""
    df = df.reindex(sorted(df.columns), axis=1)
    head = "|".join(f"{c}:{t}" for c, t in zip(df.columns, df.dtypes))
    rows = sorted("\x1f".join(_canon(v) for v in row)
                  for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256(head.encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def dump_hash(dump_dir):
    files = sorted(glob.glob(f"{dump_dir}/*.parquet"))
    return frame_hash(pd.concat([pd.read_parquet(p) for p in files]).reset_index(drop=True))


def oracle_hashes(data_dir, oracle_sql):
    con = connect(data_dir)
    return {name: frame_hash(con.execute(sql).df()) for name, sql in oracle_sql.items()}


def data_fingerprint(data_dir):
    """Content hash of the generated tables (DuckDB's row hash)."""
    con = connect(data_dir)
    parts = []
    for t in tables(data_dir):
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        n, h = con.execute(f"SELECT count(*), sum(hash({', '.join(cols)})) FROM {t}").fetchone()
        parts.append(f"{t}:{n}:{h}")
    return hashlib.sha256(";".join(parts).encode()).hexdigest()[:32]


def check_curation(ops, expected):
    wrong = set()
    for i, op in enumerate(ops):
        if op.get("error"):
            continue
        chk = op["check"]
        if "dump" not in chk or dump_hash(chk["dump"]) != expected.get(chk["name"]):
            wrong.add(i)
    return wrong
