"""Seeded input generators for the three workloads.

Everything here is a pure function of its seed: the same seed gives the
same tables, requests, batches and query order, byte for byte. The
engine only ever sees the files and plans written from these values.

- ``write_tables``: the star-schema/LLM-pipeline parquet tables
  (customer, orders, events, documents, embeddings) in the layout of
  the engine's contract tables. The tables use a fixed data seed, so the
  pinned curation hashes stay valid; ``--seed`` drives the workload.
- ``dashboard_requests``: PostgREST, RPC and Grafana-panel requests,
  each with an ANSI-SQL twin for DuckDB.
- ``crawl_plan``: crawler batches (German CSV, XML drift batches,
  revision re-sends) plus read-back queries with SQL twins.
- ``curation_order``: the seeded order of the curation queries.
"""
import datetime as dt
import json
import os
import random
import re
import urllib.parse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EPOCH = dt.datetime(2024, 1, 1)
DAYS = 30
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

CURATION_QUERIES = [
    "q235_dbscan", "q238_incremental_components", "q250_curation_pipeline",
    "q183_jaccard_prefix_join", "q192_image_dedup_pipeline",
    "q110_training_mix_pipeline", "q232_cluster_safe_split",
    "q70_dup_clusters", "q107_semantic_dedup", "q55_ann_ivf",
]


def fmt_ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


# ---------------------------------------------------------------- tables

ALL_TABLES = ["customer", "orders", "events", "documents", "embeddings"]


def write_tables(out_dir, scale, tables):
    """Write the named contract tables at ``scale`` (1.0 = TPC-H SF1 row
    counts for the star tables). Each table draws from its own random
    stream, so its content does not depend on which others are written."""
    for name in tables:
        rng = np.random.default_rng([DATA_SEED, ALL_TABLES.index(name)])
        cols = globals()[f"_{name}"](rng, scale)
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def _customer(rng, scale):
    n = int(150_000 * scale)
    return {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    }


def _orders(rng, scale):
    n = int(1_500_000 * scale)
    days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    odate = (np.datetime64("1995-01-01", "us")
             + rng.integers(0, days + 1, n).astype("timedelta64[D]"))
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(int(150_000 * scale), 1), n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }


def _events(rng, scale):
    n = int(1_000_000 * scale)
    ts = np.sort(rng.integers(0, DAYS * 86400 * 1_000_000, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * scale), 10), n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(20.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, scale):
    """Random texts over a 31-word vocabulary; 5 % are copies of an
    earlier text with " dup" appended (the near-duplicates)."""
    n = int(50_000 * scale)
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    lang_idx = rng.choice(5, n, p=[0.41, 0.15, 0.14, 0.15, 0.15])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[lang_idx]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, scale):
    """Unit vectors in 64 dimensions around ten weak cluster centers."""
    n = int(20_000 * scale)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = rng.normal(size=(n, 64)) + 0.5 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


# ------------------------------------------------------------- dashboard
#
# The panel traffic is derived from the reference's provisioned
# dashboards (all 69 panel and template-variable queries of its nine
# Grafana dashboards, committed at CORPUS): every corpus query is put
# into one of the classes below, and a block of requests holds one
# panel request per corpus query, of that query's class. Each class is
# replayed as one template over the generated tables. What the corpus
# does not hold is an assumption, marked ASSUMED.
#
# PANEL_MIX is corpus_mix() of CORPUS, pinned here so that the workload
# does not change with that test resource; a test checks they agree.

CORPUS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "src", "test", "resources", "graft", "grafana_rawsql.json")
RPC_NAME = "generation_by_year_status"
PANEL_MIX = {
    ("panel_avg", False): 19, ("panel_avg", True): 13,
    ("panel_static", False): 9, ("panel_static", True): 7,
    ("panel_template", False): 6, ("panel_template", True): 2,
    ("panel_rate", False): 6, ("panel_sum", False): 2, ("panel_sum", True): 1,
    ("panel_rows", True): 3, ("panel_bucket", False): 1,
}

# ASSUMED: there is no request log of the reference. PostgREST reads
# are taken as one request in four (23 next to the 69 panels of a
# block): aggregate table reads, a few raw-row reads, and RPC calls.
API_MIX = {"rest_agg": 12, "rest_rows": 4, "rpc": 7}

# ASSUMED: the panel's resolution in Grafana's interval rule (Grafana
# sets maxDataPoints to the panel's width in pixels).
MAX_DATA_POINTS = 1000
# Grafana's quick ranges up to the 30 days of generated events. ASSUMED:
# narrow windows are the most used, weighted 1/rank, narrowest first.
RANGES_S = [300, 900, 1800, 3600, 3 * 3600, 6 * 3600, 12 * 3600, 86400,
            2 * 86400, 7 * 86400, 30 * 86400]
# ASSUMED: dashboards are looked at throughout the last day of data, so
# "now" falls on a whole minute within it.
NOW_SPAN_MIN = 24 * 60


def panel_class(sql):
    """The class of one corpus query: time-grouped panels by their
    aggregate (an interval rate, an average, or another sum), the
    time_bucket panel, time-filtered raw rows, and the queries with no
    time macro (template-variable lists and dimension panels)."""
    if "$__timeGroup" in sql:
        if "$__interval_ms" in sql:
            return "panel_rate"
        return "panel_avg" if re.search(r"\bavg\s*\(", sql, re.I) else "panel_sum"
    if "time_bucket(" in sql:
        return "panel_bucket"
    return "panel_rows" if "$__timeFilter" in sql else "panel_static"


def uses_variable(sql):
    """Whether a corpus query filters on a template variable."""
    return re.search(r"\$\{?[A-Za-z]", sql.replace("$__", "")) is not None


def corpus_mix(path=CORPUS):
    """Panel requests per block: {(class, uses a variable): count}."""
    with open(path) as f:
        corpus = json.load(f)
    mix = {}
    for e in corpus:
        cls = "panel_template" if e["panel"].startswith("template:") else panel_class(e["sql"])
        key = (cls, uses_variable(e["sql"]))
        mix[key] = mix.get(key, 0) + 1
    return mix


def block_mix():
    """The shapes of one block of requests, with their counts."""
    mix = dict(PANEL_MIX)
    mix.update({(k, False): v for k, v in API_MIX.items()})
    return mix


def round_interval_ms(ms):
    """Grafana's roundInterval: the nice interval next to ``ms``."""
    steps = [(15, 10), (35, 20), (75, 50), (150, 100), (350, 200), (750, 500),
             (1500, 1000), (3500, 2000), (7500, 5000), (12500, 10000),
             (17500, 15000), (25000, 20000), (45000, 30000), (90000, 60000),
             (210000, 120000), (450000, 300000), (750000, 600000),
             (1050000, 900000), (1500000, 1200000), (2700000, 1800000),
             (5400000, 3600000), (9000000, 7200000), (16200000, 10800000),
             (32400000, 21600000), (86400000, 43200000),
             (604800000, 86400000), (1814400000, 604800000),
             (3628800000, 2592000000)]
    for below, interval in steps:
        if ms < below:
            return interval
    return 31536000000


def interval_literal(ms):
    """A Grafana interval literal and the bucket width in seconds the
    engine gives it (below one second it floors to 1 s)."""
    for unit, size in (("d", 86400000), ("h", 3600000), ("m", 60000), ("s", 1000)):
        if ms % size == 0:
            return f"{ms // size}{unit}", ms // 1000
    return f"{ms}ms", max(1, ms // 1000)


def _window(rng):
    """A Grafana relative range "now-<width> to now"."""
    weights = [1 / (i + 1) for i in range(len(RANGES_S))]
    width = rng.choices(RANGES_S, weights=weights)[0]
    now = EPOCH + dt.timedelta(days=DAYS) - dt.timedelta(minutes=rng.randrange(NOW_SPAN_MIN))
    return now - dt.timedelta(seconds=width), now


def _bucket_sql(col, secs):
    """DuckDB form of the engine's epoch-floor bucket (time_bucket_s)."""
    return (f"make_timestamp(CAST(floor(epoch({col}) / {secs}) AS BIGINT)"
            f" * {secs} * 1000000)")


# exact sums and averages: Spark and DuckDB add doubles in different
# orders, so the checked forms add decimals
SUM = "CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE)"
AVG = f"{SUM} / CAST(count(value) AS DOUBLE)"

# one template per class: (Grafana SQL, DuckDB twin); the twin's
# {bucket} and {ims} stand for the expanded $__interval, {where} for
# the expanded time filter, {var} for the template-variable filter
PANELS = {
    "panel_rate": (
        'SELECT $__timeGroupAlias(ts,$__interval),\n'
        f'  {SUM} / ($__interval_ms/1000/3600) AS "load"\n'
        'FROM events\nWHERE $__timeFilter(ts){var}\nGROUP BY 1\nORDER BY 1',
        f'SELECT {{bucket}} AS "time", {SUM} / ({{ims}}/1000/3600) AS "load" '
        'FROM events WHERE {where}{var} GROUP BY 1 ORDER BY 1'),
    "panel_avg": (
        'SELECT $__timeGroupAlias(ts,$__interval),\n'
        f'  {AVG} AS "value"\n'
        'FROM events\nWHERE $__timeFilter(ts){var}\nGROUP BY 1\nORDER BY 1',
        f'SELECT {{bucket}} AS "time", {AVG} AS "value" '
        'FROM events WHERE {where}{var} GROUP BY 1 ORDER BY 1'),
    "panel_sum": (
        'SELECT $__timeGroupAlias(ts,$__interval),\n  event_type AS metric,\n'
        f'  {SUM} AS "value"\n'
        'FROM events\nWHERE $__timeFilter(ts){var}\nGROUP BY 1,2\nORDER BY 1,2',
        f'SELECT {{bucket}} AS "time", event_type AS metric, {SUM} AS "value" '
        'FROM events WHERE {where}{var} GROUP BY 1, 2 ORDER BY 1, 2'),
    "panel_rows": (
        'SELECT ts AS "time", value\nFROM events\nWHERE $__timeFilter(ts){var}\n'
        'ORDER BY 1, 2',
        'SELECT ts AS "time", value FROM events WHERE {where}{var} ORDER BY 1, 2'),
    # the corpus's time_bucket panel filters on a fixed literal, with no
    # time range, and has no ORDER BY; one is added for the check
    "panel_bucket": (
        "SELECT time_bucket('1 hour', ts) AS hourly_ts,\n"
        f"  {AVG} AS avg_value\n"
        "FROM events\nWHERE event_type = '{etype}'\nGROUP BY hourly_ts\nORDER BY 1",
        f"SELECT {_bucket_sql('ts', 3600)} AS hourly_ts, {AVG} AS avg_value "
        "FROM events WHERE event_type = '{etype}' GROUP BY 1 ORDER BY 1"),
    "panel_template": (
        "SELECT DISTINCT o_orderpriority FROM orders{where_var} ORDER BY 1",
        "SELECT DISTINCT o_orderpriority FROM orders{where_var} ORDER BY 1"),
    "panel_static": (
        "SELECT o_orderpriority AS priority, count(*) AS n,\n"
        "  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total\n"
        "FROM orders{where_var}\nGROUP BY 1\nORDER BY 1",
        "SELECT o_orderpriority AS priority, count(*) AS n, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total "
        "FROM orders{where_var} GROUP BY 1 ORDER BY 1"),
}


def _panel(rng, shape, with_var):
    """One Grafana panel request: POST /sql with the range, interval and
    template variable as URL parameters, and its DuckDB twin."""
    lo, hi = _window(rng)
    f, t = fmt_ts(lo), fmt_ts(hi)
    interval, secs = interval_literal(
        round_interval_ms(int((hi - lo).total_seconds() * 1000) // MAX_DATA_POINTS))
    etype = rng.choice(EVENT_TYPES)
    status = rng.choice(STATUSES)
    body, twin = PANELS[shape]
    fill = dict(var=" AND event_type = '$etype'" if with_var else "",
                where_var=" WHERE o_orderstatus = '$status'" if with_var else "",
                etype=etype)
    body = body.format(**fill)
    twin = twin.format(bucket=_bucket_sql("ts", secs), ims=secs * 1000,
                       where=f"ts BETWEEN TIMESTAMP '{f}' AND TIMESTAMP '{t}'",
                       var=f" AND event_type = '{etype}'" if with_var else "",
                       where_var=f" WHERE o_orderstatus = '{status}'" if with_var else "",
                       etype=etype)
    q = [("from", f), ("to", t), ("interval", interval)]
    if with_var:
        q += [("var_etype", etype), ("var_status", status)]
    return dict(method="POST", path="/sql?" + urllib.parse.urlencode(q), body=body), twin


def _api(rng, shape):
    """One PostgREST request (a table read or an RPC call) and its twin."""
    lo, hi = _window(rng)
    f, t = fmt_ts(lo), fmt_ts(hi)
    if shape == "rest_agg":
        types = sorted(rng.sample(EVENT_TYPES, rng.randint(2, 5)))
        limit = rng.randint(3, 5)
        q = [("select", "event_type,event_id.count(),value.max(),value.min()"),
             ("ts", f"gte.{f}"), ("ts", f"lt.{t}"),
             ("event_type", "in.(" + ",".join(types) + ")"),
             ("order", "event_type"), ("limit", str(limit))]
        inlist = ",".join(f"'{x}'" for x in types)
        twin = (f"SELECT event_type, count(event_id) AS event_id_count, "
                f"max(value) AS value_max, min(value) AS value_min "
                f"FROM events WHERE ts >= TIMESTAMP '{f}' AND ts < TIMESTAMP '{t}' "
                f"AND event_type IN ({inlist}) GROUP BY 1 ORDER BY 1 LIMIT {limit}")
        return dict(method="GET", path="/events?" + urllib.parse.urlencode(q), body=""), twin
    if shape == "rest_rows":
        et = rng.choice(EVENT_TYPES)
        limit = rng.randint(10, 50)
        q = [("select", "event_id,ts,user_id,value"),
             ("event_type", f"eq.{et}"), ("ts", f"gte.{f}"),
             ("order", "ts.desc,event_id.desc"), ("limit", str(limit))]
        twin = (f"SELECT event_id, ts, user_id, value FROM events "
                f"WHERE event_type = '{et}' AND ts >= TIMESTAMP '{f}' "
                f"ORDER BY ts DESC, event_id DESC LIMIT {limit}")
        return dict(method="GET", path="/events?" + urllib.parse.urlencode(q), body=""), twin
    min_total = rng.choice([50_000, 100_000, 200_000, 400_000])
    yr = rng.randint(1995, 2001)
    limit = rng.randint(10, 60)
    q = [("min_total", str(min_total)), ("yr", f"gte.{yr}"),
         ("order", "yr,status,priority"), ("limit", str(limit))]
    s = "CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)"
    twin = (f"SELECT * FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, "
            f"o_orderstatus AS status, o_orderpriority AS priority, "
            f"{s} AS total_production FROM orders GROUP BY 1, 2, 3 "
            f"HAVING {s} >= {min_total}) t WHERE yr >= {yr} "
            f"ORDER BY yr, status, priority LIMIT {limit}")
    return dict(method="GET", path=f"/rpc/{RPC_NAME}?" + urllib.parse.urlencode(q),
                body=""), twin


def dashboard_requests(seed, n, mix=None):
    """``n`` requests: dicts with method, path, body, twin (DuckDB SQL)
    and shape. Requests come in blocks holding each (shape, uses a
    template variable) of ``mix`` (default: ``block_mix()``) as often as
    its count; only the order within a block is seeded."""
    mix = block_mix() if mix is None else mix
    rng = random.Random(seed)
    out, block = [], []
    for _ in range(n):
        if not block:
            # each shape's requests are spread evenly over the block, at
            # seeded offsets, so a run sees close to the block's
            # proportions however many requests it completes
            keyed = [((j + rng.random()) / c, k) for k, c in sorted(mix.items())
                     for j in range(c)]
            block = [k for _, k in sorted(keyed, reverse=True)]
        shape, with_var = block.pop()
        req, twin = (_panel(rng, shape, with_var) if shape.startswith("panel_")
                     else _api(rng, shape))
        req.update(shape=shape, twin=twin)
        out.append(req)
    return out


# ----------------------------------------------------------------- crawl
#
# Batch sizes follow the reference crawlers (see SURVEY.md §2.9): each
# batch is one forward chunk of one day (entsog.py and gie_crawler.py
# pull per day), at quarter-hour resolution (smard, the VEA load
# profiles), for the 13 countries of the entsoe load panel's filter.
# Each batch re-crawls from the last Sunday 22:00 to pick up revised
# values, as smard.py does. What the sources do not fix is marked
# ASSUMED.

KINDS = ["solar", "wind", "load", "storage"]
CRAWL_START = dt.datetime(2024, 3, 1)
SLICE = dt.timedelta(days=1)
STEP = dt.timedelta(minutes=15)
UNITS = 13
# one read-back round per batch is a refresh of a mean-sized reference
# dashboard (69 corpus queries over 9 dashboards, about 8 panels)
READS_PER_BATCH = 8
# ASSUMED: landings arrive as 1, 2 or 4 files, and 1 in 50 readings of
# the previous day arrives late
FANOUT = [1, 2, 4]
LATE_SHARE = 50
# ASSUMED: 5 % of re-crawled readings are gone in the revision
REVISION_DROP = 0.05
# ASSUMED: the second source (XML, with a quality column the first one
# lacks) reports hourly for a quarter of the units
DRIFT_UNITS = UNITS // 4


def _german(v):
    if v is None:
        return "N.A."
    s = f"{v:,.2f}"  # 1,234.56
    return s.replace(",", "_").replace(".", ",").replace("_", ".")


def _readings(rng, lo, hi, units):
    """Rows (ts, unit, kind, value): one reading per unit every quarter
    hour in [lo, hi). Timestamps carry seconds, so rollup buckets
    straddle batches through the late rows."""
    rows = []
    for u in range(units):
        kind = KINDS[u % len(KINDS)]
        t = lo
        while t < hi:
            v = None if rng.random() < 0.01 else round(rng.uniform(0, 5000), 2)
            rows.append((t + dt.timedelta(seconds=rng.randrange(0, 60)), u, kind, v))
            t += STEP
    return rows


def _late(rng, lo, units, n):
    """``n`` late readings for the day before ``lo``, never sent before."""
    out = []
    for _ in range(n):
        t = lo - SLICE + dt.timedelta(seconds=rng.randrange(0, int(SLICE.total_seconds())))
        u = rng.randrange(units)
        out.append((t, u, KINDS[u % len(KINDS)], round(rng.uniform(0, 5000), 2)))
    return out


def recrawl_from(lo):
    """The last Sunday 22:00 before ``lo``, where a re-crawl starts."""
    sunday = (lo - dt.timedelta(days=(lo.weekday() + 1) % 7)).replace(
        hour=22, minute=0, second=0, microsecond=0)
    return sunday if sunday < lo else sunday - dt.timedelta(days=7)


def _csv(rows):
    lines = ["Zeitstempel;Einheit;Art;Wert"]
    for t, u, kind, v in rows:
        lines.append(f"{t.strftime('%d.%m.%Y %H:%M:%S')};{u};{kind};{_german(v)}")
    return "\n".join(lines) + "\n"


def _xml(rows):
    parts = ["<?xml version=\"1.0\" encoding=\"UTF-8\"?>", "<Messwerte>"]
    for t, u, kind, v, q in rows:
        parts.append(f"<Messwert><Zeitstempel>{t.strftime('%Y-%m-%d %H:%M:%S')}"
                     f"</Zeitstempel><Einheit>{u}</Einheit><Art>{kind}</Art>"
                     f"<Wert>{v:.2f}</Wert><Qualitaet>{q}</Qualitaet></Messwert>")
    parts.append("</Messwerte>")
    return "\n".join(parts) + "\n"


# untimed batches that build the table before timing; the second
# still runs faster than the first, so both are warm-up
PREHISTORY = 2


def crawl_plan(seed, n_batches, units=UNITS, reads_per_batch=READS_PER_BATCH):
    """Batches in landing order, one day each. Each has the German-CSV
    ``csv`` text and its landing fan-out ``files``; a ``revision`` (the
    re-crawl from the last Sunday 22:00 up to the day, re-sent with
    revised values, some readings gone); a ``drift`` payload (XML rows
    carrying an extra column); and ``reads``: read-back queries with
    DuckDB twins. The first PREHISTORY batches are set-up: batch 0's
    drift is the one that evolves the table schema, so every timed batch
    does the same kind of work. Fields starting with ``_`` hold the
    generated rows for the checks."""
    rng = random.Random(seed * 7919 + 17)
    fanout = list(FANOUT)
    rng.shuffle(fanout)
    batches = []
    for i in range(n_batches):
        lo = CRAWL_START + i * SLICE
        rows = _readings(rng, lo, lo + SLICE, units)
        if i:
            rows += _late(rng, lo, units, len(rows) // LATE_SHARE)
        b = dict(index=i, timed=i >= PREHISTORY, lo=fmt_ts(lo), hi=fmt_ts(lo + SLICE),
                 files=fanout[i % len(fanout)], csv=_csv(rows), rows=len(rows), _rows=rows)
        wlo = max(recrawl_from(lo), CRAWL_START)
        if wlo < lo:
            rev = [r for r in _readings(rng, wlo, lo, units) if rng.random() > REVISION_DROP]
            b["revision"] = dict(csv=_csv(rev), lo=fmt_ts(wlo), hi=fmt_ts(lo),
                                 rows=len(rev), _rows=rev)
        drows = [(lo + dt.timedelta(hours=h, seconds=rng.randrange(0, 60)), units + u,
                  KINDS[u % len(KINDS)], round(rng.uniform(0, 5000), 2),
                  rng.choice(["A", "B", "X"]))
                 for u in range(DRIFT_UNITS) for h in range(24)]
        b["drift"] = dict(xml=_xml(drows), rows=len(drows), _rows=drows)
        # the set-up batches read more, to warm the read path's JIT
        b["reads"] = _crawl_reads(rng, lo, units, reads_per_batch if b["timed"] else 16)
        batches.append(b)
    return batches


def _crawl_reads(rng, lo, units, k):
    reads = []
    hi = lo + SLICE
    f, t = fmt_ts(lo), fmt_ts(hi)
    shapes = ["rest_agg", "rest_rows", "panel_rollup", "panel_group"] * (k // 4)
    rng.shuffle(shapes)
    for shape in shapes:
        if shape == "rest_agg":
            reads.append(dict(shape=shape, table="raw",
                              query=f"select=kind,unit.count(),value.max()&ts=gte.{f}&order=kind",
                              twin=(f"SELECT kind, count(unit) AS unit_count, max(value) AS value_max "
                                    f"FROM raw WHERE ts >= TIMESTAMP '{f}' GROUP BY 1 ORDER BY 1")))
        elif shape == "rest_rows":
            u = rng.randrange(units)
            reads.append(dict(shape=shape, table="raw",
                              query=(f"select=ts,unit,value&unit=eq.{u}&ts=gte.{f}"
                                     f"&order=ts.desc,value.desc&limit=10"),
                              twin=(f"SELECT ts, unit, value FROM raw WHERE unit = {u} "
                                    f"AND ts >= TIMESTAMP '{f}' "
                                    f"ORDER BY ts DESC, value DESC NULLS FIRST LIMIT 10")))
        elif shape == "panel_rollup":
            reads.append(dict(shape=shape, table="rollup", sql=(
                "SELECT bucket AS \"time\", kind, n, CAST(total AS DOUBLE) AS total\n"
                "FROM rollup WHERE $__timeFilter(bucket) ORDER BY 1, 2"),
                **{"from": f, "to": t, "interval": "1h"},
                twin=(f"SELECT bucket AS \"time\", kind, n, CAST(total AS DOUBLE) AS total "
                      f"FROM rollup WHERE bucket BETWEEN TIMESTAMP '{f}' AND TIMESTAMP '{t}' "
                      f"ORDER BY 1, 2")))
        else:
            kind = rng.choice(KINDS)
            f2 = fmt_ts(lo - dt.timedelta(days=1))
            reads.append(dict(shape=shape, table="rollup", sql=(
                "SELECT $__timeGroupAlias(bucket, 6h), sum(n) AS n\n"
                f"FROM rollup WHERE $__timeFilter(bucket) AND kind = '{kind}'\n"
                "GROUP BY 1 ORDER BY 1"),
                **{"from": f2, "to": t, "interval": "1h"},
                twin=(f"SELECT {_bucket_sql('bucket', 21600)} AS \"time\", "
                      f"CAST(sum(n) AS BIGINT) AS n FROM rollup "
                      f"WHERE bucket BETWEEN TIMESTAMP '{f2}' AND TIMESTAMP '{t}' "
                      f"AND kind = '{kind}' GROUP BY 1 ORDER BY 1")))
    return reads


# -------------------------------------------------------------- curation

# run once, untimed, before the timed batch: the cheapest queries that
# cover the machinery the ten share (connected components, similarity
# joins, vector kernels)
CURATION_WARMUP = ["q70_dup_clusters", "q183_jaccard_prefix_join",
                   "q107_semantic_dedup", "q55_ann_ivf"]


def curation_order(seed, batches):
    """``batches`` seeded permutations of the ten curation queries."""
    rng = random.Random(seed * 104729 + 3)
    out = []
    for _ in range(batches):
        order = list(CURATION_QUERIES)
        rng.shuffle(order)
        out.append(order)
    return out
