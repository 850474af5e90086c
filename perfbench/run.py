#!/usr/bin/env python3
"""Dashboard / crawl / curation benchmark for the Spark engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Builds the engine with the harness (perfbench/build.sbt, outputs in
.bench_build/), generates the workload's inputs from the seed, runs one
JVM at Spark local[nproc] that sets up, warms up and then measures,
checks every timed output against DuckDB, and prints the result as the
last line of stdout. The dashboard measures for ``--seconds``; the crawl
lands a fixed number of batches for ``--seconds`` (one per
CRAWL_BATCH_S), so every run does the same work. ``--trace 1`` runs the
same workload with per-layer tracing and prints the per-layer metrics
instead; spans are written to .bench_runs/spans-<workload>-<seed>.jsonl.

``--pin`` regenerates expected/curation.json (the curation oracle
hashes) from the generated tables.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
EXPECTED = os.path.join(HERE, "expected", "curation.json")

# tables each workload reads, and their scale (1.0 = TPC-H SF1 counts):
# the dashboard reads sf0.1 events/orders; the curation tables stay at
# sf0.01, where the DuckDB oracles that pin their hashes still finish
TABLES = {"dashboard": (0.1, ["events", "orders", "embeddings"]),
          "crawl": (0.0, []),
          "curation": (0.01, ["customer", "documents", "embeddings"])}
# the engine's own heap setting (the root build.sbt's -Xmx), with the
# JVM's default collector and sizing
JVM_MEMORY = [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]
DEADLINE_S = 170        # whole run, build excluded
N_REQUESTS = 6000
DASHBOARD_WARMUP = 3    # blocks holding each request shape once
# crawl lands a fixed number of timed batches per --seconds, so every
# run does the same work; the measured time is what they take
CRAWL_BATCH_S = 4.0
CRAWL_SAFETY = 3.0      # a crawl run stops, failed, at this many --seconds
CURATION_BATCHES = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build in this checkout. Returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    digest = source_digest()
    stamp = os.path.join(BUILD, "source.sha256")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    if not (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file)):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        # sbt's global base lives in .bench_build, so its launcher resolves
        # sbt itself again: point it at the machine's repository list
        repos = os.path.expanduser("~/.sbt/repositories")
        if "sbt.repository.config" not in opts and os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = opts
        log("building (sbt) ...")
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={BUILD}/sbt-global", "writeClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        log(f"built in {time.time() - t0:.0f} s")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(cp_file) as f:
        return ":".join(line for line in f.read().splitlines() if line)


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


# ---------------------------------------------------------------- plans

def crawl_batches(seconds):
    """Timed crawl batches for a run of ``seconds``."""
    return max(1, round(seconds / CRAWL_BATCH_S))


def write_plan(workload, seed, root, data, seconds):
    """Generate the workload's inputs under ``root``. Returns (plan dict
    for the JVM, generator-side state the checks need)."""
    plan = {"workload": workload, "root": root, "data": data}
    if workload == "dashboard":
        reqs = gen.dashboard_requests(seed, N_REQUESTS)
        strip = lambda r: {k: r[k] for k in ("method", "path", "body")}  # noqa: E731
        shapes = gen.block_mix()
        warm = gen.dashboard_requests(seed + 1_000_003, DASHBOARD_WARMUP * len(shapes),
                                      mix=dict.fromkeys(shapes, 1))
        plan.update(requests=[strip(r) for r in reqs], warmup=[strip(r) for r in warm],
                    rpc_name=gen.RPC_NAME)
        return plan, reqs
    if workload == "crawl":
        def land(batches):
            d = os.path.join(root, "incoming")
            os.makedirs(d)
            for b in batches:
                for key, payload, ext in (("", b, "csv"), ("revision", b.get("revision"), "csv"),
                                          ("drift", b.get("drift"), "xml")):
                    if payload is None:
                        continue
                    p = os.path.join(d, f"b{b['index']:04d}{'-' + key if key else ''}.{ext}")
                    with open(p, "w", encoding="utf-8") as f:
                        f.write(payload.pop(ext))
                    payload[ext] = p
                    payload["_bytes"] = os.path.getsize(p)
        batches = gen.crawl_plan(seed, gen.PREHISTORY + crawl_batches(seconds))
        land(batches)
        plan.update(batches=_public(batches))
        return plan, batches
    plan.update(batches=gen.curation_order(seed, CURATION_BATCHES),
                warmup=gen.CURATION_WARMUP)
    return plan, None


def _public(batches):
    """Batches as the JVM sees them: generator-only fields (prefixed _)
    dropped at every level."""
    def clean(v):
        if isinstance(v, dict):
            return {k: clean(x) for k, x in v.items() if not k.startswith("_")}
        if isinstance(v, list):
            return [clean(x) for x in v]
        return v
    return clean(batches)


# ------------------------------------------------------------------ run

def run_jvm(classpath, plan, root, timeout):
    plan_path = os.path.join(root, "plan.json")
    out_path = os.path.join(root, "out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_MEMORY, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", plan_path, out_path]
    launch_ms = time.time() * 1000
    with open(os.path.join(root, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: JVM run timed out")
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(out_path) as f:
        return json.load(f), launch_ms


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["dashboard", "crawl", "curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="regenerate expected/curation.json and exit")
    a = ap.parse_args()
    if not a.pin and not a.workload:
        ap.error("--workload is required")
    started = time.time()
    classpath = build()
    t_build = time.time()

    os.makedirs(RUNS, exist_ok=True)
    root = os.path.join(RUNS, f"{a.workload or 'pin'}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    os.makedirs(data)
    try:
        t0 = time.time()
        scale, tables = TABLES["curation" if a.pin else a.workload]
        gen.write_tables(data, scale, tables)
        if a.pin:
            return pin(classpath, root, data)
        plan, state = write_plan(a.workload, a.seed, root, data, a.seconds)
        gen_s = time.time() - t0
        deadline = a.seconds * (CRAWL_SAFETY if a.workload == "crawl" else 1)
        plan.update(deadline_s=deadline, trace=a.trace, cpus=len(os.sched_getaffinity(0)))
        out, launch_ms = run_jvm(classpath, plan, root,
                                 DEADLINE_S - (time.time() - t_build))
        result, diag = evaluate(a, plan, state, out, gen_s, launch_ms, root)
        diag["env"].update(git_sha=git_sha(), source_sha256=source_digest()[:16],
                           seed=a.seed, build_s=round(t_build - started, 1),
                           total_s=round(time.time() - started, 1))
        print(json.dumps(diag))
        print(json.dumps(result))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def evaluate(a, plan, state, out, gen_s, launch_ms, root):
    ops = out["ops"]
    w = a.workload
    if w == "dashboard":
        wrong = checks.check_dashboard(plan["data"], state, ops)
        primary = ops
        lat = [o["ms"] for o in ops]
        work = len(ops)
    elif w == "crawl":
        n = out["extra"]["batches"]
        wrong, final_ok = checks.check_crawl(state, ops, n, out["extra"]["warehouse"])
        primary = [o for o in ops if o["kind"] == "batch"]
        lat = [o["ms"] for o in ops if o["kind"] == "read"]
        work = out["extra"]["rows"]
    else:
        with open(EXPECTED) as f:
            expected = json.load(f)
        if expected["data_fingerprint"] != checks.data_fingerprint(plan["data"]):
            raise SystemExit("perfbench: generated tables differ from the pinned ones; "
                             "rerun with --pin")
        wrong = checks.check_curation(ops, expected["hashes"])
        primary = ops
        lat = [o["ms"] for o in ops]
        work = len(ops)
    # curation's batch wall also holds the untimed result dumps, so its
    # rate is taken over the query walls alone
    timed_s = sum(lat) / 1000 if w == "curation" else out["timed_s"]
    failed = stats.fail_count(ops, wrong)
    attempted = len(ops)
    if w == "crawl":
        # the final tables, and landing every planned batch
        attempted += 2
        failed += (not final_ok) + (out["extra"]["batches"] < out["extra"]["planned"])
    s = stats.summarize(lat)
    boot_s = (out["main_epoch_ms"] - launch_ms) / 1000
    setup_s = gen_s + boot_s + out["setup_ms"] / 1000 + out["warmup_ms"] / 1000
    e2e = {
        "setup_s": (setup_s, "s"),
        "retained_heap_mb": (out["retained_heap_mb"], "MB"),
        "op_p50_ms": (s["p50"], "ms"),
        "op_p75_ms": (s["p75"], "ms"),
        "throughput_per_s": (work / timed_s, "1/s"),
    }
    diag = {"workload": w, "samples": s, "timed_s": out["timed_s"],
            "peak_rss_mb": out["peak_rss_mb"],
            "primary_ms": [round(o["ms"], 1) for o in primary][:200],
            "setup": {"gen_s": gen_s, "boot_s": boot_s,
                      "session_ms": out["setup_ms"], "warmup_ms": out["warmup_ms"]},
            "extra": {k: v for k, v in out["extra"].items() if k != "warehouse"},
            "failed_ops": sorted(wrong | {i for i, o in enumerate(ops) if o.get("error")})[:20],
            "errors": [o["error"] for o in ops if o.get("error")][:5],
            "env": dict(out["env"], cpus=plan["cpus"], jvm=JVM_MEMORY,
                        data_scale=TABLES[w][0])}
    if a.trace:
        metrics = per_layer(w, state, out, ops, primary, lat, root, a.seed, diag)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: (v, units[k]) for k, v in metrics.items()}
        diag["trace_e2e"] = {k: v[0] for k, v in e2e.items()}
    else:
        metrics = e2e
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, diag


def per_layer(w, state, out, ops, primary, lat, root, seed, diag):
    """The per-layer metrics of a traced run; also puts each layer's
    self time per op into ``diag``."""
    spans = []
    with open(os.path.join(root, "spans.jsonl")) as f:
        for line in f:
            spans.append(json.loads(line))
    timed_spans = [s for s in spans if s["op"] >= 0]
    os.makedirs(RUNS, exist_ok=True)
    shutil.copy(os.path.join(root, "spans.jsonl"),
                os.path.join(RUNS, f"spans-{w}-{seed}.jsonl"))
    m = stats.layer_metrics(ops, len(primary), timed_spans)
    m.update({k: 0.0 for k in ("expressions.cosine_mrows_per_s",
                               "expressions.decimalfold_mrows_per_s")})
    m.update(out.get("extra_trace", {}))
    # rows examined per row returned, over the ops that return rows
    input_rows = sum(o["trace"].get("sources.input_rows", 0.0) for o in ops
                     if o["kind"] != "batch")
    if w == "dashboard":
        result_rows = sum(len(json.loads(o["check"]["body"])) for o in ops if "body" in o["check"])
    elif w == "crawl":
        result_rows = sum(len(o["check"].get("rows", [])) for o in ops if o["kind"] == "read")
    else:
        result_rows = sum(_dump_rows(o["check"].get("dump")) for o in ops)
    m["sources.rows_per_result_row"] = input_rows / max(result_rows, 1)
    m["streaming.fresh_p50_ms"] = 0.0
    m["ingest.write_amp"] = 0.0
    m["ingest.files_per_partition"] = 0.0
    if w == "crawl":
        n = out["extra"]["batches"]
        m["streaming.fresh_p50_ms"] = statistics.median(
            o["check"]["fresh_ms"] for o in primary if "fresh_ms" in o["check"])
        in_bytes = sum(p["_bytes"] for b in state[:n] if b["timed"]
                       for p in (b, b.get("revision"), b.get("drift")) if p)
        out_b = sum(o["trace"].get("ingest.output_b", 0.0) for o in ops)
        m["ingest.write_amp"] = out_b / max(in_bytes, 1)
        m["ingest.files_per_partition"] = out["extra"]["raw_files"] / max(out["extra"]["raw_partitions"], 1)
    m["trace.op_p50_ms"] = statistics.median(lat)
    m["jvm.peak_rss_mb"] = out["peak_rss_mb"]
    layer_self = stats.layer_self_ms(timed_spans)
    diag["self_ms_per_op"] = {k: v / max(len(primary), 1) for k, v in layer_self.items()}
    return m


def _dump_rows(d):
    if not d:
        return 0
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for f in os.listdir(d) if f.endswith(".parquet"))


def pin(classpath, root, data):
    plan = {"workload": "oracle-sql", "root": root, "data": data, "trace": 0,
            "deadline_s": 0, "names": gen.CURATION_QUERIES}
    out, _ = run_jvm(classpath, plan, root, DEADLINE_S)
    missing = [n for n, sql in out.items() if not sql]
    if missing:
        raise SystemExit(f"perfbench: no oracle SQL for {missing}")
    hashes = checks.oracle_hashes(data, out)
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump({"regenerate": "python3 perfbench/run.py --pin",
                   "data_scale": TABLES["curation"][0],
                   "data_fingerprint": checks.data_fingerprint(data),
                   "hashes": dict(sorted(hashes.items()))}, f, indent=1)
        f.write("\n")
    log(f"pinned {len(hashes)} hashes to {EXPECTED}")


if __name__ == "__main__":
    main()
