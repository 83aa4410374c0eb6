#!/usr/bin/env python3
"""The repo benchmark: one workload, one closed-loop run, one result line.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It builds the engine and the harness from
source (perfbench/build.sbt; skipped while the sources are unchanged), runs
the harness JVM on local[N] with N = nproc over the tables in
perfbench/data, checks every entry's output fingerprint against
perfbench/expected.json and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). The line before it is the run's
self-describing record; the full record, with per-entry times, is written
under .bench_build/records/.

--write-expected merges this run's fingerprints into expected.json instead
of checking them (used when the expected outputs are re-taken).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("olap", "corpus")
LAYERS = ("operators.relational", "operators.text", "operators.pipeline",
          "dedup", "similarity", "multimodal", "sources.write", "sources.read")
# seconds the whole run may take; the first run in a checkout also builds
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# samples the tail percentile leaves above it
TAIL_BEYOND = 10

END_TO_END = {"sweep_s": "s", "entry_p50_s": "s", "entry_tail_s": "s",
              "setup_s": "s"}
LAYER_METRICS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                 "task_s": "s", "util": "ratio", "input_mb": "MB",
                 "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
                 "shuffle_amp": "ratio", "spill_mb": "MB", "plan_s": "s"}
EXTRA_LAYER = {"plans.plan_s": "s", "SessionCaches.build_s": "s",
               "SessionCaches.entries": "count",
               "GraftSession.job_overhead_s": "s", "jvm.gc_s": "s",
               "jvm.heap_peak_mb": "MB", "trace.overhead_s": "s"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the engine's build names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def build():
    """Compile engine + harness unless the sources match the last build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return digest
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, stdout=log,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S,
                           env=dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars()))
    if r.returncode != 0:
        fail("build failed, see .bench_build/build.log", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def load_1m():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def run_harness(args, deadline):
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    raw = os.path.join(tmp, "raw.json")
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx4g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Harness", args.workload,
            str(args.seed), str(args.seconds), str(args.trace), DATA, raw])
    log = os.path.join(BUILD, f"{args.workload}-{args.seed}-t{args.trace}.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=fh,
                               stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {log}", 4)
    if r.returncode != 0 or not os.path.exists(raw):
        fail(f"harness exited {r.returncode}, see {log}", 4)
    with open(raw) as fh:
        rec = json.load(fh)
    shutil.rmtree(tmp, ignore_errors=True)
    return rec


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check(rec, write_expected):
    """Entries that threw in a pass or whose fingerprint is off expected."""
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    bad = {}
    for p in rec["passes"]:
        for name, err in p["errors"].items():
            bad.setdefault(name, f"threw: {err}")
    for name, e in rec["entries"].items():
        if "error" in e:
            bad.setdefault(name, f"check threw: {e['error']}")
            continue
        # entries without a DuckDB oracle are checked by row count only
        got = {"rows": e["rows"], "hash": e["hash"] if e["oracle"] else None}
        if write_expected:
            expected[name] = got
        elif name not in expected:
            bad.setdefault(name, "no expected fingerprint")
        elif expected[name] != got:
            bad.setdefault(name, f"fingerprint {got} != {expected[name]}")
    if write_expected:
        with open(EXPECTED, "w") as fh:
            json.dump(dict(sorted(expected.items())), fh, indent=1)
            fh.write("\n")
    return bad


def quantile(values, p, steps=200):
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p, (n+1)(1-p))
    weighted mean of all order statistics. On a few dozen samples from a
    gappy distribution it moves far less from run to run than the single
    order statistic does."""
    s = sorted(values)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    weights = []
    for i in range(n):
        # midpoint rule for the Beta density over [i/n, (i+1)/n]
        ts = [(i + (k + 0.5) / steps) / n for k in range(steps)]
        weights.append(sum(t ** (a - 1) * (1 - t) ** (b - 1) for t in ts))
    return sum(w * x for w, x in zip(weights, s)) / sum(weights)


def end_to_end(rec):
    """From the untraced warm passes. The entry quantiles pool the first
    `quantile_passes` of them (the harness times at least that many), and
    the tail percentile is fixed by the workload's size, so a change that
    fits another pass into --seconds is judged at the same percentile as
    its parent."""
    timed = [p for p in rec["passes"] if p["kind"] == "timed"]
    k = rec["quantile_passes"]
    samples = [t for p in timed[:k] for t in p["times"].values()]
    n = k * len(rec["order"])
    tail_p = (n - TAIL_BEYOND) / n
    metrics = {"sweep_s": median([p["wall_s"] for p in timed]),
               "entry_p50_s": quantile(samples, 0.5),
               "entry_tail_s": quantile(samples, tail_p),
               "setup_s": rec["setup_s"]}
    notes = {"warmup_s": rec["passes"][0]["wall_s"],
             "passes_timed": len(timed), "entry_samples": len(samples),
             "entry_tail_percentile": round(100.0 * tail_p, 1),
             "entry_tail_beyond": TAIL_BEYOND}
    return metrics, notes


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["kind"] == "traced"]
    layer_of = {n: e["layer"] for n, e in rec["entries"].items()}
    cores = rec["cores"]

    def one(p):
        m = {}
        for layer in LAYERS:
            names = [n for n in rec["order"] if layer_of[n] == layer]
            c = {k: sum(p["counters"].get(n, {}).get(k, 0) for n in names)
                 for k in ("jobs", "tasks", "task_ms", "input_bytes",
                           "shuffle_write_bytes", "shuffle_read_bytes",
                           "spill_bytes", "plan_ms")}
            wall = sum(p["times"].get(n, 0.0) for n in names)
            task_s = c["task_ms"] / 1e3
            m.update({
                f"{layer}.wall_s": wall, f"{layer}.jobs": c["jobs"],
                f"{layer}.tasks": c["tasks"], f"{layer}.task_s": task_s,
                f"{layer}.util": task_s / (wall * cores) if wall else 0.0,
                f"{layer}.input_mb": c["input_bytes"] / 1e6,
                f"{layer}.shuffle_write_mb": c["shuffle_write_bytes"] / 1e6,
                f"{layer}.shuffle_read_mb": c["shuffle_read_bytes"] / 1e6,
                f"{layer}.shuffle_amp":
                    c["shuffle_read_bytes"] / c["shuffle_write_bytes"]
                    if c["shuffle_write_bytes"] else 0.0,
                f"{layer}.spill_mb": c["spill_bytes"] / 1e6,
                f"{layer}.plan_s": c["plan_ms"] / 1e3})
        m["plans.plan_s"] = sum(m[f"{la}.plan_s"] for la in LAYERS)
        m["SessionCaches.build_s"] = sum(
            t for n, t in p["times"].items() if rec["entries"][n]["shared"])
        m["SessionCaches.entries"] = p["cache_entries"]
        m["jvm.gc_s"] = p["gc_s"]
        m["jvm.heap_peak_mb"] = p["heap_peak_mb"]
        return m

    # passes: warm-up, untraced, traced, untraced
    metrics = one(traced[0])
    metrics["GraftSession.job_overhead_s"] = median(rec["probe_s"])
    plain = [p["wall_s"] for p in rec["passes"] if p["kind"] == "timed"]
    metrics["trace.overhead_s"] = traced[0]["wall_s"] - statistics.mean(plain)
    return metrics


def units():
    u = dict(END_TO_END)
    for layer in LAYERS:
        u.update({f"{layer}.{k}": v for k, v in LAYER_METRICS.items()})
    u.update(EXTRA_LAYER)
    return u


def check_spec(u):
    """The metric names and units must be the ones BENCHMARK.json declares."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"]
                for m in spec["end_to_end"] + spec["per_layer"]}
    if declared != u:
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(declared.items()) ^ set(u.items()))}", 5)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true")
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("run from the root of a checkout of the engine")
    if not os.path.isdir(DATA):
        fail(f"no input tables under {DATA}")
    u = units()
    check_spec(u)
    load = load_1m()
    digest = build()
    # a first run in a fresh checkout builds; the harness still gets 120 s
    deadline = max(deadline, time.time() + 120)
    rec = run_harness(args, deadline)

    bad = check(rec, args.write_expected)
    e2e, notes = end_to_end(rec)
    metrics = per_layer(rec) if args.trace else e2e
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "traced": bool(args.trace),
        "nproc": len(os.sched_getaffinity(0)), "cores": rec["cores"],
        "commit": git_commit(), "source_sha256": digest,
        "jdk": rec["jdk"], "spark": rec["spark"],
        "heap_max_mb": rec["heap_max_mb"],
        "load_1m_before": load, "load_contaminated": load > 1.0,
        **notes,
        "sweep_untraced_s": e2e["sweep_s"],
        "failed_entries": bad}
    if args.trace:
        record["trace_overhead_s"] = metrics["trace.overhead_s"]
    full = dict(record, metrics=metrics, raw=rec)
    with open(os.path.join(BUILD, "records", f"{args.workload}-{args.seed}-"
                           f"t{args.trace}-{int(time.time())}.json"), "w") as fh:
        json.dump(full, fh)
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps({
        "correct": not bad, "attempted": len(rec["order"]),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u[k]}
                    for k, v in metrics.items()}}, separators=(",", ":")))


if __name__ == "__main__":
    main()
