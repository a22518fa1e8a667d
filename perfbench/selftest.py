#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-size pass of every workload, untraced
and traced, asserting that

  * every metric BENCHMARK.json names is emitted with the unit it declares
    (end-to-end metrics untraced, per-layer metrics traced), and no other;
  * no job failed or returned a wrong output (failed == 0, ok_ratio == 1).

  python3 perfbench/selftest.py [workload ...]

Run from the root of a checkout; takes a few minutes (each pass pays JVM
start and a cold warm-up). Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"selftest: {workload} trace={trace} exited "
                         f"{p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, (w, trace, sorted(set(got) ^ set(want)),
                                 {k for k in want if got.get(k) != want[k]})
            assert all(isinstance(v["value"], (int, float))
                       for v in r["metrics"].values()), (w, trace)
            assert r["attempted"] >= 1 and r["failed"] == 0 and r["correct"], \
                (w, trace, r["attempted"], r["failed"])
            if trace == 0:
                assert r["metrics"]["ok_ratio"]["value"] == 1.0, (w, r)
            print(f"selftest: {w} trace={trace} ok ({r['attempted']} ops)",
                  flush=True)
    print("selftest: all passed")


if __name__ == "__main__":
    main()
