#!/usr/bin/env python3
"""graft benchmark: one workload per call, in a fresh JVM.

    python3 perfbench/run.py --workload {ingest,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first call builds the engine from
`src/main/scala` together with the harness in `perfbench/src` (sbt,
offline) and reuses that build while the sources are unchanged. Inputs
are generated from the seed before the JVM starts; the JVM only sees the
generated files. The outputs are checked (DuckDB oracles through
`scripts/selfcheck.py` for the query workloads, the generator's own
expectation for ingest). The last stdout line is one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
The exit code is non-zero when a check fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

QUERY_MIX = ("q1_pricing_summary q3_shipping_priority q5_region_revenue "
             "q6_forecast_revenue q8_market_share q18_large_orders evt_sessionize "
             "evt_latest_per_key evt_debounce evt_funnel evt_percentiles "
             "evt_error_burst evt_change_detect evt_upsert_latest file_meta_extract "
             "file_pattern_filter bsi_testid_time content_policy kafka_envelope_key").split()

# Workload set-up; perfbench/WORKLOADS.md states the same figures.
WORKLOADS = {
    "query_mix": {"queries": QUERY_MIX, "sf": 0.03, "docs": 1500, "embeddings": 600},
    "ingest": {"warm_files": 24, "backlog_files": 96, "paced_files_per_s": 3.0,
               "records_per_file": 40, "max_files_per_trigger": 24},
}
# A traced query run fails unless the layers' self times cover this
# share of the op wall time.
COVERAGE = (0.95, 1.05)
TIMEOUT_S = 170
JVM_MB = 3072


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, _, fs in sorted(os.walk(top)):
            if "target" in d.split(os.sep):
                continue
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    out = os.path.join(HERE, "target")
    stamp_f, cp_f = os.path.join(out, "bench.stamp"), os.path.join(out, "bench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read() == stamp:
                with open(cp_f) as g:
                    return g.read().strip()
    log("perfbench: building engine + harness (sbt, offline)")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        out, _ = p.communicate(timeout=840)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        log("\n".join(out.splitlines()[-40:]))
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- launch

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_MB}m", "-XX:+UseParallelGC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            tail(work)
            fail("benchmark process timed out", 3)
    if p.returncode != 0:
        tail(work)
        fail(f"benchmark process exited {p.returncode}", 3)
    with open(args["out"]) as f:
        return json.load(f)


def tail(work, n=25):
    try:
        with open(f"{work}/jvm.log", errors="replace") as f:
            lines = f.read().splitlines()
        log("\n".join(l[:300] for l in lines[-n:]))
    except OSError:
        pass


# ---------------------------------------------------------------- stats

def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics. Unlike a single order statistic it does not
    jump when the quantile falls in a gap between clusters of values,
    as it does in a mix of queries with different costs."""
    import numpy as np
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    if n == 0:
        return float("nan")
    if n == 1:
        return float(s[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    x = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, x, cdf)
    edges[0], edges[-1] = 0.0, 1.0
    return float(np.dot(np.diff(edges), s))


def median(xs):
    return hd_quantile(xs, 0.5)


def tail_pct(xs):
    """The highest percentile with at least 10 samples beyond it,
    (n-10)/n; (Harrell-Davis value, percentile, n)."""
    n = len(xs)
    p = max(0.5, (n - 10) / n) if n > 10 else 1.0
    return (hd_quantile(xs, p) if p < 1.0 else max(xs, default=float("nan"))), \
        round(100.0 * p, 1), n


# ---------------------------------------------------------------- checks

def check_queries(data, work, names):
    """DuckDB oracle compare of each warm-up dump (scripts/selfcheck.py)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"),
                        data, f"{work}/dump"] + names,
                       capture_output=True, text=True, timeout=600)
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            name = line[5:].split(":")[0].split(".")[0]
            bad.setdefault(name, line[:240])
    passed = {l.split()[1] for l in p.stdout.splitlines() if l.startswith("PASS ")}
    for n in names:
        if n not in passed and n not in bad:
            bad[n] = f"FAIL {n}: no verdict from selfcheck"
    return bad


def check_ingest(work, expect):
    import duckdb
    con = duckdb.connect()
    got = con.execute(
        f"SELECT file_date, file_time, folder, pack, name, checksum, compress, folder_time, "
        f"size, compress_size FROM read_parquet('{work}/upsert/*/*.parquet', "
        f"hive_partitioning = true)").fetchall()
    problems, seen = [], set()
    exp = expect["rows"]
    for r in got:
        key = "|".join([str(r[0]), str(r[1]), r[2], r[3], r[4]])
        if key in seen:
            problems.append(f"duplicate primary key {key}")
            continue
        seen.add(key)
        e = exp.get(key)
        if e is None:
            problems.append(f"unexpected row {key}")
            continue
        for col, v in (("checksum", r[5]), ("compress", r[6]), ("folder_time", r[7]),
                       ("size", r[8])):
            if e[col] != v:
                problems.append(f"{key}: {col} expected {e[col]} got {v}")
        if e["compress"] and e["compress_size"] != r[9]:
            problems.append(f"{key}: compress_size expected {e['compress_size']} got {r[9]}")
    missing = len(set(exp) - seen)
    if missing:
        problems.append(f"{missing} expected rows missing from the upsert table")
    n_env = con.execute(f"SELECT count(*) FROM read_parquet('{work}/envelope/*.parquet')") \
        .fetchone()[0]
    if n_env != expect["envelopes"]:
        problems.append(f"envelope count expected {expect['envelopes']} got {n_env}")
    return problems


# ---------------------------------------------------------------- workloads

def query_workload(seed, seconds, trace, cp, work, deadline):
    import gen
    w = WORKLOADS["query_mix"]
    data = f"{work}/data"
    gen.write_tables(data, seed, w["sf"], w["docs"], w["embeddings"])
    r = run_jvm(cp, {"workload": "query_mix", "data": data, "work": work, "seed": seed,
                     "seconds": seconds, "trace": trace, "out": f"{work}/result.json",
                     "queries": ",".join(w["queries"])},
                work, deadline)
    bad = check_queries(data, work, w["queries"])
    for q, info in r["warm"].items():
        if "error" in info:
            bad.setdefault(q, f"FAIL {q}: warm-up error {info['error']}")
    ops = r["ops"]
    failed = sum(1 for o in ops if not o["ok"] or o["q"] in bad)
    ms = [o["ms"] for o in ops if o["ok"] and not o["traced"]]
    tail_v, tail_p, n = tail_pct(ms)
    e2e = {
        "setup_s": (r["setup_s"], "s", 1),
        "latency_p50_ms": (median(ms), "ms", len(ms)),
        "latency_tail_ms": (tail_v, "ms", n, f"p{tail_p}"),
        "throughput_per_s": (len(ops) / r["timed_s"], "1/s", len(ops)),
        # every op is a read: the same samples as latency_p50_ms
        "read_p50_ms": (median(ms), "ms", len(ms), "same samples as latency_p50_ms"),
    }
    layers = {k[len("layer."):]: v for k, v in r.items() if k.startswith("layer.")}
    problems = list(bad.values())
    if trace:
        layers["trace.overhead_pct"] = paired_overhead(ops)
        share = layers["trace.self_sum_share"]
        if not COVERAGE[0] <= share <= COVERAGE[1]:
            problems.append(f"layer self times cover {share:.4f} of op wall time, "
                            f"outside {COVERAGE[0]}-{COVERAGE[1]}")
    layers.update(common_layers(r))
    layers["Par.warm_overlap"] = r["par_task_s"] / r["par_wall_s"]
    return e2e, layers, len(ops), failed, problems


def paired_overhead(ops):
    """Traced vs untraced ops of the same run: the per-query medians,
    summed, as a percent difference."""
    by = {}
    for o in ops:
        if o["ok"]:
            by.setdefault(o["q"], ([], []))[0 if o["traced"] else 1].append(o["ms"])
    t = sum(median(a) for a, b in by.values() if a and b)
    u = sum(median(b) for a, b in by.values() if a and b)
    return 100.0 * (t / u - 1.0) if u else 0.0


def common_layers(r):
    return {
        "GraftSession.start_s": r["session_start_s"],
        "Memo.persisted_frames.setup": r.get("persisted_setup", 0),
        "Memo.persisted_frames.end": r["persisted_end"],
        "Memo.frames_added_in_serve": r["persisted_end"] - r.get("persisted_setup", 0),
        "Memo.cached_mb": r["cached_mb"],
    }


def batch_of_file(ckpt):
    """Input file name -> micro-batch id, from the checkpoint's source
    log (file -> log offset) and offset log (batch -> log offset)."""
    by_offset = {}
    src = os.path.join(ckpt, "sources", "0")
    for f in sorted(os.listdir(src)):
        if not f.split(".")[0].isdigit() or f.startswith("."):
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                by_offset.setdefault(e["batchId"], []).append(os.path.basename(e["path"]))
    out = {}
    offs = os.path.join(ckpt, "offsets")
    for f in os.listdir(offs):
        if f.isdigit():
            with open(os.path.join(offs, f)) as fh:
                log_offset = json.loads(fh.read().splitlines()[-1])["logOffset"]
            for name in by_offset.get(log_offset, []):
                out[name] = int(f)
    return out


def ingest_workload(seed, seconds, trace, cp, work, deadline):
    import gen
    w = WORKLOADS["ingest"]
    n_paced = max(2, int(round(w["paced_files_per_s"] * seconds)))
    expect = gen.write_ingest(work, seed, w["warm_files"] + w["backlog_files"] + n_paced,
                              w["records_per_file"])
    with open(f"{work}/plugins.ini", "w") as f:
        f.write(gen.PLUGINS_INI)
    r = run_jvm(cp, {"workload": "ingest", "work": work, "seed": seed, "seconds": seconds,
                     "trace": trace, "out": f"{work}/result.json",
                     "warm_files": w["warm_files"], "backlog_files": w["backlog_files"],
                     "files_per_s": w["paced_files_per_s"],
                     "max_files_per_trigger": w["max_files_per_trigger"],
                     "recent_days": ",".join(gen.recent_days())}, work, deadline)
    problems = check_ingest(work, expect)
    fb = batch_of_file(f"{work}/ckpt")
    ends = {b["id"]: b["end_ns"] for b in r["batches"] if b["kind"] == "end"}
    commits, placed = [], []
    paced_batches = len({fb[s["file"]] for s in r["schedule"]})
    for s in r["schedule"]:
        end = ends[fb[s["file"]]]
        commits.append((end - s["due_ns"]) / 1e6)
        placed.append((s["placed_ns"], end))
    reads = r["reads_ms"]
    backlog_records = w["backlog_files"] * w["records_per_file"]
    # staged files are named by sequence number (gen.write_ingest)
    drain_batches = len({fb[f"batch-{i:05d}.parquet"] for i in
                         range(w["warm_files"], w["warm_files"] + w["backlog_files"])})
    tail_v, tail_p, n = tail_pct(commits)
    e2e = {
        "setup_s": (r["setup_s"], "s", 1),
        # files committed by one batch share its end time
        "latency_p50_ms": (median(commits), "ms", len(commits), f"{paced_batches} batches"),
        "latency_tail_ms": (tail_v, "ms", n, f"p{tail_p}, {paced_batches} batches"),
        # one timing of the whole drain, over this many micro-batches
        "throughput_per_s": (backlog_records / r["drain_s"], "1/s", drain_batches,
                             f"{backlog_records} records"),
        "read_p50_ms": (median(reads), "ms", len(reads)),
    }
    table = [os.path.join(d, f) for d, _, fs in os.walk(f"{work}/upsert") for f in fs
             if f.endswith(".parquet")]
    layers = {k[len("layer."):]: v for k, v in r.items() if k.startswith("layer.")}
    layers.update(common_layers(r))
    layers["sources.table_files"] = len(table)
    layers["sources.stored_bytes_per_input_byte"] = \
        sum(os.path.getsize(p) for p in table) / expect["content_bytes"]
    layers["generator.late_ms"] = max((s["placed_ns"] - s["due_ns"]) / 1e6
                                      for s in r["schedule"])
    layers["streaming.backlog_files"] = max(
        sum(1 for p2, e2 in placed if p2 <= p < e2) for p, _ in placed)
    if trace:
        prog = [p for p in r["progress"] if p["rows"] > 0]
        def total(k):
            return sum(p.get(k, 0) for p in prog)
        n_b = max(len(prog), 1)
        ups = [b for b in r["batches"] if b["kind"] == "upsert"]
        envs = [b for b in r["batches"] if b["kind"] == "envelope"]
        layers["streaming.batches"] = len(prog)
        # the source is scanned once per plugin, so numInputRows counts
        # each record once per plugin; records come from the file count
        layers["streaming.records_per_batch"] = expect["records"] / n_b
        layers["streaming.trigger_ms"] = total("triggerExecution") / n_b
        layers["streaming.plan_ms"] = total("queryPlanning") / n_b
        layers["streaming.offsets_ms"] = total("latestOffset") / n_b
        layers["streaming.wal_commit_ms"] = total("walCommit") / n_b
        layers["streaming.add_batch_ms"] = total("addBatch") / n_b
        layers["sources.upsert_ms"] = statistics.mean(b["ms"] for b in ups)
        layers["sources.envelope_ms"] = statistics.mean(b["ms"] for b in envs)
        # the sinks' Spark work: exec time is the two sinks' wall time
        exec_ms = layers["sources.upsert_ms"] + layers["sources.envelope_ms"]
        layers["operators.exec_ms"] = exec_ms
        layers["operators.busy_share"] = layers["operators.task_busy_ms"] / (exec_ms * r["cores"])
        layers["sources.upsert_partitions"] = statistics.mean(b["partitions"] for b in ups)
        layers["plugins.kept_share"] = sum(b["rows"] for b in envs) / expect["records"]
        in_bytes = sum(os.path.getsize(f"{work}/watch/{f}") for f in fb)
        layers["sources.upsert_write_amp"] = sum(r["upsert_bytes_written"]) / in_bytes
        named = (sum(b["ms"] for b in ups + envs) + total("queryPlanning")
                 + total("latestOffset") + total("walCommit") + total("commitOffsets")
                 + total("getBatch"))
        layers["trace.self_sum_share"] = named / max(total("triggerExecution"), 1)
        layers["trace.overhead_pct"] = 100.0 * r["trace_extra_s"] / (
            r["drain_s"] + r["paced_s"])
    attempted = expect["records"]
    failed = expect["records"] if problems else 0
    return e2e, layers, attempted, failed, problems


# Per-layer metric names, the same set on every workload. A layer that
# a workload never calls reports 0 there.
PER_LAYER = [
    "GraftSession.start_s", "Par.warm_overlap", "Memo.persisted_frames.setup", "Memo.persisted_frames.end",
    "Memo.frames_added_in_serve", "Memo.cached_mb", "SparkEntry.build_ms",
    "SparkEntry.self_ms", "Tables.self_ms",
    "Tables.resolve_ms.lineitem", "Tables.resolve_ms.orders", "Tables.resolve_ms.customer",
    "Tables.resolve_ms.supplier", "Tables.resolve_ms.nation", "Tables.resolve_ms.region",
    "Tables.resolve_ms.events", "Tables.resolve_ms.documents",
    "plans.analysis_ms", "plans.optimize_ms", "plans.physical_ms", "plans.exchanges",
    "plans.scans", "operators.exec_ms", "operators.orchestration_ms", "operators.jobs", "operators.stages",
    "operators.tasks", "operators.task_busy_ms", "operators.busy_share",
    "operators.task_wait_ms", "operators.shuffle_write_bytes", "operators.shuffle_read_bytes",
    "operators.spill_bytes", "operators.gc_ms",
    "streaming.batches", "streaming.records_per_batch", "streaming.trigger_ms",
    "streaming.plan_ms", "streaming.offsets_ms", "streaming.wal_commit_ms",
    "streaming.add_batch_ms", "streaming.backlog_files", "plugins.kept_share",
    "sources.upsert_ms", "sources.envelope_ms", "sources.upsert_write_amp",
    "sources.upsert_partitions", "sources.table_files", "sources.stored_bytes_per_input_byte",
    "generator.late_ms", "trace.overhead_pct", "trace.self_sum_share", "trace.harness_ms",
]
LAYER_UNITS = {"s": "s", "ms": "ms", "bytes": "bytes", "mb": "MB", "pct": "%"}


def unit_of(name):
    """Unit from the name's last `_suffix` of its metric part
    (`Tables.resolve_ms.lineitem` -> ms)."""
    for part in reversed(name.split(".")):
        u = LAYER_UNITS.get(part.rsplit("_", 1)[-1])
        if u:
            return u
    return "ratio" if any(t in name for t in ("share", "overlap", "amp", "per_input")) else "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + TIMEOUT_S - 10
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "ingest":
        e2e, layers, attempted, failed, problems = ingest_workload(
            a.seed, a.seconds, a.trace, cp, work, deadline)
    else:
        e2e, layers, attempted, failed, problems = query_workload(
            a.seed, a.seconds, a.trace, cp, work, deadline)
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace}")
    for name, v in e2e.items():
        extra = f", {v[3]}" if len(v) > 3 else ""
        print(f"  {name:<18} {v[0]:>12.4f} {v[1]:<4} (n={v[2]}{extra})")
    print(f"  {'failed_ratio':<18} {failed / max(attempted, 1):>12.4f} ratio "
          f"({failed} of {attempted} ops)")
    if a.trace:
        for k in PER_LAYER:
            print(f"  {k:<38} {layers.get(k, 0.0):>14.4f} {unit_of(k)}")
    for p in problems[:10]:
        print(f"  CHECK FAILED: {p}")
    values = ({k: (layers.get(k, 0.0), unit_of(k)) for k in PER_LAYER} if a.trace
              else {k: v[:2] for k, v in e2e.items()})
    # a metric with no samples (every op failed) is reported as 0; the run
    # is then marked incorrect anyway
    metrics = {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
               for k, (v, u) in values.items()}
    ok = not problems and failed == 0 and all(math.isfinite(v) for v, _ in values.values())
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
