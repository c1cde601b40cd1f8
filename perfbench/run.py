#!/usr/bin/env python3
"""Repository benchmark: warehouse sync, analyst reads and hot operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload sync-daily --seed 1 --seconds 10 \\
        --trace 0

``--workload all`` runs every workload in turn and prints a report for
each. The first run builds the library and the benchmark program from
source with sbt (offline); later runs reuse the build until a source file
changes. Fixtures are generated from ``--seed`` once and reused. Every
output is checked; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``, and the exit
code is non-zero when any check failed. ``--known-failures`` adds to
``operator-hot`` the gate queries that miss their DuckDB oracle, so the
run fails while they do. See ``perfbench/README.md``.
"""
import argparse
import fcntl
import glob
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

WORKLOADS = ["sync-daily", "operator-hot"]

END_TO_END = [("setup_s", "s"), ("batch_s", "s"), ("call_p50_s", "s"),
              ("call_p90_s", "s"), ("live_heap_peak_mb", "MB")]

# JVM flags a SparkSession needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail_setup(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp():
    """Content hash of every input of the build."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                  recursive=True) +
        glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                  recursive=True) +
        [os.path.join(HERE, "build.sbt"),
         os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(work):
    """Compile the library and the benchmark program into one jar; reuses a
    build of the same sources. Returns the jar."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail_setup("library sources not found; run from a checkout of the "
                   "repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail_setup("sbt and java are required")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    jar = os.path.join(work, "perfbench.jar")
    stamp_file = os.path.join(work, "build.stamp")
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if (os.path.exists(stamp_file) and os.path.exists(jar) and
                open(stamp_file).read() == stamp):
            return jar
        for f in (stamp_file, jar):
            if os.path.exists(f):
                os.remove(f)
        log("building the library and the benchmark program (sbt compile)")
        t0 = time.time()
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=600)
        if out.returncode != 0 or not os.path.isdir(classes):
            sys.stderr.write(out.stdout[-4000:])
            fail_setup("build failed")
        with zipfile.ZipFile(jar, "w") as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, classes))
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
    return jar


def spark_home():
    """$SPARK_HOME, else the first Spark installation (a bin/spark-submit
    next to a jars directory) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail_setup("Spark not found: set SPARK_HOME or put an installation's "
               "bin directory on PATH")


def spark_jars():
    return os.path.join(spark_home(), "jars", "*")


def fixtures_for(work, seed, scale):
    import fixtures
    out = os.path.join(work, "fixtures", f"{scale}-{seed}")
    with open(os.path.join(work, "fixtures.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return fixtures.generate(seed, out, scale)


def run_jvm(jar, fx, work, workload, seconds, trace, known_failures,
            tag):
    cores = max(1, min(4, os.cpu_count() or 1))
    wdir = os.path.join(work, "runs", workload)
    shutil.rmtree(wdir, ignore_errors=True)
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(wdir, "result.json")
    errlog = os.path.join(work, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(errlog), exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{jar}{os.pathsep}{spark_jars()}", "perfbench.Main",
            "--workload", workload, "--fixtures", fx, "--work", wdir,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--out", out,
            "--known-failures", str(int(known_failures))])
    with open(errlog, "w") as err:
        try:
            proc = subprocess.run(cmd, cwd=wdir, stdin=subprocess.DEVNULL,
                                  stdout=err, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(errlog) as f:
            tail = [l for l in f.read().splitlines()
                    if "ERROR" in l or "Exception" in l or "FAILED" in l]
        sys.stderr.write("\n".join(tail[-20:]) + "\n")
        log(f"benchmark JVM exited with {code}; log: {errlog}")
        return None
    with open(out) as f:
        res = json.load(f)
    res["results_dir"] = os.path.join(wdir, "results")
    return res


# --- operator-hot oracle ----------------------------------------------------

def _cell(v):
    if hasattr(v, "tolist") and not isinstance(v, str):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, v)
    if isinstance(v, tuple):
        return (2, tuple(_key(x) for x in v))
    return (3, repr(v))


def _rows(table):
    """Columns sorted by name, rows sorted."""
    df = table.to_pandas()
    cols = sorted(df.columns)
    rows = [tuple(_cell(x) for x in r)
            for r in df[cols].itertuples(index=False)]
    return cols, sorted(rows, key=_key)


def oracle_check(res, fx, corrupt=False):
    """Compare each warm-up result with its DuckDB oracle (cached per
    fixture set), cell for cell and bit for bit, as the gate's hash does.
    Returns the failure messages."""
    import duckdb
    import pyarrow.parquet as pq
    rdir = res["results_dir"]
    with open(os.path.join(rdir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    cache_dir = os.path.join(fx, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    bad = []
    for q, sql in sorted(sqls.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{q}-{key}.parquet")
        if not os.path.exists(cached):
            if con is None:
                con = duckdb.connect()
                for t in glob.glob(os.path.join(fx, "tables", "*.parquet")):
                    name = os.path.basename(t)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                                f"read_parquet('{t}')")
            pq.write_table(con.sql(sql).arrow(), cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        wcols, want = _rows(pq.read_table(cached))
        if corrupt:
            want = want[1:]
        path = os.path.join(rdir, q)
        if not os.path.isdir(path):
            bad.append(f"{q}: no result")
            continue
        cols, got = _rows(pq.read_table(path))
        if cols != wcols or got != want:
            diff = next((f"{x} vs {y}" for x, y in zip(got, want) if x != y),
                        f"{len(got)} vs {len(want)} rows")
            bad.append(f"{q}: result differs from the DuckDB oracle "
                       f"(first difference: {diff})")
    return bad


# --- metrics ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def summarize(res, workload):
    """End-to-end metrics from the untraced samples, per-layer metrics from
    the traced part, and the workload's named figures for the report."""
    untraced = [s for s in res["samples"] if not s["traced"]]

    def of(kinds, samples=untraced):
        return [s["s"] for s in samples if s["kind"] in kinds]

    named = {}
    if workload == "sync-daily":
        batch_kinds = ("sync", "sync-noop", "forget")
        batch = sum(of(batch_kinds, res["samples"]))
        calls = [s["s"] for s in untraced if s["op"].startswith("read/")]
        named["sync_total_s"] = (sum(of(("sync", "sync-noop"),
                                        res["samples"])), "s", 1)
        noop = of(("sync-noop",), res["samples"])
        named["sync_noop_s"] = (median(noop), "s", len(noop))
        fg = of(("forget",), res["samples"])
        named["forget_s"] = (median(fg), "s", len(fg))
        named["space_amp"] = (res["space_amp"], "ratio", 1)
        named["read_p50_s"] = (median(calls), "s", len(calls))
        named["read_p90_s"] = (pct(calls, 0.9), "s", len(calls))
    else:
        calls = [s["s"] for s in untraced]
        batch = 0.0
        for fam in ("graph", "quantile", "dedup"):
            qs = [q["name"] for q in res["queries"] if q["family"] == fam]
            meds = [median(of((q,))) for q in qs]
            n = min(len(of((q,))) for q in qs)
            named[f"{fam}_s"] = (sum(meds), "s", n)
            batch += sum(meds)
    named["setup_s"] = (res["setup_s"], "s", 1)
    named["live_heap_peak_mb"] = (res["heap_peak_mb"], "MB", 1)
    e2e = dict(setup_s=res["setup_s"], batch_s=batch,
               call_p50_s=median(calls), call_p90_s=pct(calls, 0.9),
               live_heap_peak_mb=res["heap_peak_mb"])
    layers = dict(res["layers"])
    if res["traced_iters"]:
        fetch = res["fetch"]
        layers["pipeline.Sync.fetch_useful_ratio"] = (
            fetch["fetched"] / fetch["planned"] if fetch["planned"] else 0.0)
        # the traced block or pass against its untraced neighbours
        per_iter = {}
        for s in res["samples"]:
            if not s["op"].startswith(("sync/", "forget/")):
                per_iter.setdefault(s["iter"], [0.0, s["traced"]])
                per_iter[s["iter"]][0] += s["s"]
        on = [v for v, t in per_iter.values() if t]
        off = [v for v, t in per_iter.values() if not t]
        layers["trace.overhead_ratio"] = median(on) / median(off)
    return e2e, named, layers


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def run_one(args, built, work, workload):
    fx = fixtures_for(work, args.seed, args.scale)
    if args.corrupt:
        fx = corrupt_copy(fx, work)
    tag = f"{workload}-{args.seed}-t{args.trace}"
    t0 = time.time()
    res = run_jvm(built, fx, work, workload, args.seconds, args.trace,
                  args.known_failures, tag)
    if res is None:
        return None
    failures = list(res["failures"])
    attempted = res["attempted"]
    if workload == "operator-hot":
        bad = oracle_check(res, fx, corrupt=args.corrupt)
        attempted += len(res["queries"])
        failures += bad
        for b in bad:
            log(f"FAILED: {b}")
    e2e, named, layers = summarize(res, workload)
    failed = len(failures)
    named["failed_ratio"] = (failed / max(1, attempted), "ratio", attempted)
    print(f"== {workload} seed={args.seed} trace={args.trace} "
          f"({time.time() - t0:.1f} s)")
    for k, (v, unit, n) in named.items():
        print(f"  {k:<20} {v:12.4f} {unit:<6} (n={n})")
    for k, unit in END_TO_END:
        if k not in named:
            print(f"  {k:<20} {e2e[k]:12.4f} {unit}")
    if args.trace:
        for k in sorted(layers):
            print(f"  {k:<44} {layers[k]:16.3f}")
        names = per_layer_names()
        metrics = {k: dict(value=layers.get(k, 0.0), unit=u)
                   for k, u in names}
    else:
        metrics = {k: dict(value=e2e[k], unit=u) for k, u in END_TO_END}
    return dict(correct=failed == 0, attempted=attempted, failed=failed,
                metrics=metrics)


def corrupt_copy(fx, work):
    """A copy of the fixtures with one expected value off by one, for the
    smoke test's negative check."""
    dst = os.path.join(work, "fixtures-corrupt")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(fx, dst)
    p = os.path.join(dst, "truth.json")
    with open(p) as f:
        truth = json.load(f)
    truth["tables"]["fact"]["rows"] += 1
    with open(p, "w") as f:
        json.dump(truth, f)
    return dst


def main():
    # a terminated run unwinds through subprocess.run, which kills and
    # reaps the child it is waiting on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "smoke"], default="bench")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected value (the check must fail)")
    ap.add_argument("--known-failures", action="store_true",
                    help="add the gate queries that miss their DuckDB "
                         "oracle to operator-hot")
    args = ap.parse_args()
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    built = build(work)
    results = []
    for w in (WORKLOADS if args.workload == "all" else [args.workload]):
        r = run_one(args, built, work, w)
        if r is None:
            sys.exit(1)
        results.append(r)
    out = results[-1] if len(results) == 1 else dict(
        correct=all(r["correct"] for r in results),
        attempted=sum(r["attempted"] for r in results),
        failed=sum(r["failed"] for r in results),
        metrics={f"{w}.{k}": v for w, r in zip(WORKLOADS, results)
                 for k, v in r["metrics"].items()})
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
