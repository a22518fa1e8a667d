#!/usr/bin/env python3
"""The repository benchmark: one seeded, closed-loop workload per call.

  python3 perfbench/run.py --workload etl_bulk|txlog_mixed \
      --seed N --seconds S --trace 0|1 [--tiny]

Run from the root of a checkout. It builds the engine and the harness from
source (sbt, once per source state), generates the workload's inputs from
the seed under perfbench/.work/, runs the harness JVM at local[<cores/2>],
checks every job's output against DuckDB, and prints one JSON object as
the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (from a run that, after its set-up, runs the same ops three
times from fresh state: untraced, traced, untraced). A run's inputs
and outputs live under perfbench/.work/run-<pid>/ and are removed at the
end; the build stays in sbt's target directories.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "job_s_p50": "s",
    "commit_s_p50": "s", "commit_s_p90": "s",
    "ok_ratio": "ratio", "write_amp": "ratio", "peak_live_heap_mb": "MB",
}
TRACE_LAYERS = ["bench", "operators", "sources", "plans", "streaming",
                "spark.job", "spark.stage", "spark.task"]
PER_LAYER = {
    "core.session_s": "s", "core.process_cpu_s": "s/op",
    "core.pinned_mb_max": "MB",
    "sources.scan_s": "s", "sources.input_mb": "MB/op",
    "sources.input_rows": "rows/op",
    "sources.txlog_append_s": "s", "sources.txlog_merge_s": "s",
    "sources.txlog_delete_dv_s": "s", "sources.txlog_update_dv_s": "s",
    "sources.txlog_optimize_s": "s", "sources.txlog_checkpoint_s": "s",
    "sources.txlog_snapshot_s": "s", "sources.txlog_live_files": "count",
    "sources.txlog_log_files": "count", "sources.txlog_log_kb": "KB",
    "sources.pruned_file_ratio": "ratio", "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "plans.analysis_ms": "ms", "plans.optimizer_ms": "ms",
    "plans.planning_ms": "ms", "plans.graft_rule_ms": "ms",
    "plans.graft_rule_effective_ratio": "ratio", "plans.sql_call_ms": "ms",
    "plans.cosine_ns_per_pair": "ns", "plans.normalize_text_ns_per_row": "ns",
    "functions.tokens_ns_per_row": "ns", "functions.quality_ns_per_row": "ns",
    "functions.portable_hash_ns_per_row": "ns",
    "operators.task_cpu_s": "s/op", "operators.task_run_s": "s/op",
    "operators.gc_s": "s/op", "operators.core_util": "ratio",
    "operators.shuffle_write_mb": "MB/op", "operators.shuffle_read_mb": "MB/op",
    "operators.shuffle_records": "count/op", "operators.fetch_wait_s": "s/op",
    "operators.spill_mb": "MB/op", "operators.task_skew": "ratio",
    "operators.stages_per_job": "count", "operators.tasks_per_job": "count",
    "streaming.window_s": "s", "streaming.lag_versions": "count",
    "streaming.rows_per_window": "rows",
    **{f"trace.self_ms.{l}": "ms/op" for l in TRACE_LAYERS},
    "trace.overhead_pct": "%",
    "box.cpu_st_s": "s", "box.cpu_mt_s": "s", "box.io_w_mbps": "MB/s",
    "box.io_r_mbps": "MB/s", "box.gc_probe_ms": "ms", "box.shuffle_s": "s",
}

# input tables each registry job reads, for rows consumed per second
JOB_TABLES = {
    "q_tpch_q1": ["lineitem"],
    "q_tpch_q5": ["region", "nation", "orders", "lineitem", "customer",
                  "supplier"],
    "q_tpch_q18": ["lineitem", "orders", "customer"],
    "q_sort_total": ["orders"], "q_salted_join": ["events"],
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE_S = 170  # every run ends (or is killed) well inside 180 s


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads: both build definitions and
    every source file of the engine and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness; return the runtime classpath.
    Cached per source digest, so only the first run of a checkout builds."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: no engine sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    stamp = os.path.join(WORK, "build", source_digest() + ".cp")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=700)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f}s")
    shutil.rmtree(os.path.dirname(stamp), ignore_errors=True)
    os.makedirs(os.path.dirname(stamp))
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(cp, workload, seed, seconds, trace, data, run_dir, budget):
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *[a for p in JVM_OPENS for a in ("--add-opens",
                                                    f"{p}=ALL-UNNAMED")],
           # a fixed heap (no resizing) and few collector and compiler
           # threads, so the JVM's own threads do not crowd the tasks
           "-Xms3g", "-Xmx3g", "-XX:ParallelGCThreads=2",
           "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--data", data,
           "--work", os.path.join(run_dir, "work"),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--seed", str(seed), "--out", out]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog,
                             stderr=subprocess.STDOUT)

        def stop(signum, _frame):  # never leave the JVM behind
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness exceeded {budget:.0f}s")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed (exit {rc})")
    return json.load(open(out))


def _alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def p90(xs):
    """90th percentile, interpolated between order statistics (numpy's
    default), so it does not rest on the single slowest sample."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def dir_bytes(d, pred=lambda name: True):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs if pred(f))


def self_times(spans_path, n_ops):
    """Self time per layer, ms per traced op: a span's duration minus the
    part of it its children cover."""
    spans = [json.loads(l) for l in open(spans_path)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    total = {l: 0.0 for l in TRACE_LAYERS}
    for s in spans:
        covered, cur = 0, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        if s["layer"] in total:
            total[s["layer"]] += max(0, s["end"] - s["start"] - covered) / 1e6
    return {f"trace.self_ms.{l}": v / max(1, n_ops) for l, v in total.items()}


def metrics_end_to_end(res, meta, ops, data):
    window = [o for o in ops if o["phase"] != "warm"]
    wl = res["workload"]
    if wl == "txlog_mixed":
        plan = json.load(open(os.path.join(data, "ops.json")))["ops"]
        reads = [o for o in window if o["kind"] == "read"]
        commits = [(o["i"], o["lat_s"]) for o in window if o["kind"] == "write"]
        batch = meta["params"]["batch_rows"]
        rows = {o["i"]: batch if "batch" in plan[o["i"]] else
                len(plan[o["i"]].get("keys", [])) for o in window}
        user = meta["tables"]["base"]["bytes"] + sum(
            os.path.getsize(os.path.join(data, plan[o["i"]]["batch"]))
            for o in ops if "batch" in plan[o["i"]])
    else:
        reads = window
        commits = [(o["i"], o["commit_s"]) for o in window]
        t = meta["tables"]
        rows = {o["i"]: sum(t[n]["rows"] for n in JOB_TABLES[o["name"]])
                for o in window}
        user = sum(dir_bytes(o["batch"], lambda f: f.endswith(".parquet"))
                   for o in ops)
    # Every window cycle runs the same op kinds, whose latencies differ by
    # kind: the window's median op would jump between kinds when they cross.
    # So each cycle gives one sample (its rows per second, its mean read and
    # mean write latency) and the metric is the median over the cycles.
    first = min(rows) // res["cycle"]

    def per_cycle(pairs):
        out = [[] for _ in res["cycles_s"]]
        for i, x in pairs:
            out[i // res["cycle"] - first].append(x)
        return out

    def mean_per_cycle(pairs):  # a cycle whose ops all failed has no mean
        return [statistics.fmean(c) for c in per_cycle(pairs) if c]
    cycle_rows = [sum(c) for c in per_cycle(rows.items())]
    return {
        "setup_s": res["setup_s"],
        "rows_per_s": statistics.median(
            n / s for n, s in zip(cycle_rows, res["cycles_s"])),
        "job_s_p50": statistics.median(mean_per_cycle(
            (o["i"], o["lat_s"]) for o in reads)),
        "commit_s_p50": statistics.median(mean_per_cycle(commits)),
        "commit_s_p90": p90([x for _, x in commits]),
        "write_amp": dir_bytes(res["table_dir"]) / user,
        "peak_live_heap_mb": res["peak_live_heap_mb"],
    }


def metrics_per_layer(res, ops, run_dir):
    layer = dict(res["layer"])
    layer["core.session_s"] = res["session_s"]
    layer["core.process_cpu_s"] = res["window_cpu_s"] / len(
        [o for o in ops if o["phase"] != "warm"])
    # passes 1..3 ran the same ops from the same state: untraced, traced,
    # untraced; the traced one is compared with the mean of the other two
    # (ops that failed in any pass are left out)
    lat = {}
    for o in ops:
        if o["phase"] != "warm":
            lat.setdefault(o["i"], {})[o["pass"]] = o["lat_s"]
    same = [v for v in lat.values() if len(v) == 3]
    log("op seconds per pass (untraced, traced, untraced): " + ", ".join(
        f"{sum(v[p] for v in same):.3f}" for p in (1, 2, 3)))
    traced = [o for o in ops if o["phase"] == "traced"]
    layer["trace.overhead_pct"] = 100.0 * (
        2 * sum(v[2] for v in same) / sum(v[1] + v[3] for v in same) - 1.0)
    layer.update(self_times(os.path.join(run_dir, "work", "spans.jsonl"),
                            len(traced)))
    return layer


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes: seconds of work, not a measurement")
    a = ap.parse_args()

    cp = build()
    t_start = time.time()  # the 180 s run limit excludes a checkout's build
    # one directory per run; leftovers of runs that were killed go first
    for d in os.listdir(WORK):
        pid = d[4:] if d.startswith("run-") else ""
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result = measure(a, cp, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def measure(a, cp, run_dir, t_start):
    data = os.path.join(run_dir, "data")
    t0 = time.time()
    meta = gen.generate(a.workload, a.seed, data, tiny=a.tiny)
    log(f"inputs generated in {time.time() - t0:.1f}s: " + ", ".join(
        f"{k}={v['rows']} rows/{v['bytes']} B"
        for k, v in meta["tables"].items()))

    budget = DEADLINE_S - (time.time() - t_start) - 15
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data,
                  run_dir, budget)
    ops = res["ops"]
    if a.workload == "txlog_mixed":
        bad, notes = check.check_txlog(res, data, ops)
    else:
        bad, notes = check.check_registry(res, data, ops)
    for n in res["failures"] + notes:
        log(f"FAIL {n}")
    failed = len(res["failures"]) + len(bad)
    attempted = res["attempted"]
    if a.trace:
        metrics, units = metrics_per_layer(res, ops, run_dir), PER_LAYER
    else:
        metrics = metrics_end_to_end(res, meta, ops, data)
        metrics["ok_ratio"] = 1.0 - failed / attempted
        units = END_TO_END
    log(f"{a.workload} seed={a.seed}: {len(ops)} ops checked, "
        f"{attempted} attempted, {failed} failed; window "
        f"{sum(res['windows_s']):.1f}s; setup {res['setup_s']:.1f}s")
    for k in units:
        log(f"  {k:36s} {metrics[k]:14.6g} {units[k]}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}


if __name__ == "__main__":
    main()
