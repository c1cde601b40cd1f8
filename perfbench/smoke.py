#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the small fixture scale.

    python3 perfbench/smoke.py

For each workload: one short untraced run must pass its checks and print
every end-to-end metric with its unit and every named figure of the report;
one traced run must print every per-layer metric with its unit; and one run
with a corrupted expected value must fail its check and exit non-zero.
Last, ``operator-hot`` with ``--known-failures`` must pass its exact oracle
checks; it fails while ``q122_pagerank`` misses its oracle (see README.md).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "sync-daily": ["sync_total_s", "sync_noop_s", "forget_s", "space_amp",
                   "read_p50_s", "read_p90_s"],
    "operator-hot": ["graph_s", "quantile_s", "dedup_s"],
}
COMMON = ["setup_s", "live_heap_peak_mb", "failed_ratio"]


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "0", "--scale", "smoke", "--seconds", "1",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    return p, lines, last


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(cond, what):
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in NAMED:
        p, lines, last = run(w, "--trace", "0")
        expect(p.returncode == 0 and last and last["correct"],
               f"{w}: untraced run passes its checks")
        if last:
            for m in spec["end_to_end"]:
                got = last["metrics"].get(m["name"], {})
                expect(got.get("unit") == m["unit"] and got["value"] > 0,
                       f"{w}: {m['name']} printed in {m['unit']}")
        for name in NAMED[w] + COMMON:
            expect(any(l.split()[:1] == [name] and len(l.split()) >= 3
                       for l in lines), f"{w}: report names {name}")
        p, lines, last = run(w, "--trace", "1")
        expect(p.returncode == 0 and last and last["correct"],
               f"{w}: traced run passes its checks")
        if last:
            missing = [m["name"] for m in spec["per_layer"]
                       if last["metrics"].get(m["name"], {}).get("unit")
                       != m["unit"]]
            expect(not missing, f"{w}: every per-layer metric printed "
                   f"with its unit (missing: {missing[:5]})")
        p, lines, last = run(w, "--trace", "0", "--corrupt")
        expect(p.returncode != 0 and last and not last["correct"],
               f"{w}: a corrupted expected value fails the check")
    p, lines, last = run("operator-hot", "--trace", "0", "--known-failures")
    bad = [l for l in p.stderr.splitlines() if "FAILED" in l]
    expect(p.returncode == 0 and last and last["correct"],
           "operator-hot --known-failures: every gate query equals its "
           f"DuckDB oracle {bad}")
    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
