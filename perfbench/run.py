#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, run from the root of a
checkout.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), starts one `local[4]`
Spark JVM (graft.perfbench.Main) that sets up the workload's inputs, measures
for --seconds, and digests every output. This script compares the digests
with perfbench/goldens.json, prints each figure by name and unit, and ends
with one JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Exits non-zero, without that line, when the build or the run
fails. A digest mismatch, a golden the run did not produce or an exception
makes the line say `"correct": false`, and the script then exits 1.

`--record-goldens` rewrites goldens.json from the run's digests instead of
checking them (for a deliberate change of inputs or of expected outputs).
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
from statistics import median
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["curation_ops", "warehouse"]
GOLDENS = os.path.join(HERE, "goldens.json")
# One run has 180 s, or 900 s when it builds; the JVM gets all of it but the
# few seconds this script needs afterwards, so that a slower program reads as
# a slower run for as long as possible before it reads as a failed one.
RUN_LIMIT_S, BUILD_RUN_LIMIT_S, AFTER_JVM_S = 180, 900, 4

# Java options the repository's build.sbt gives every forked run.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def gmean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def run_jvm(args, root, work, started):
    classes, built = build.ensure(root)
    timeout = started + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - AFTER_JVM_S - time.monotonic()
    cp = os.pathsep.join([os.path.abspath(classes), os.path.join(build.spark_jars(root), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    log_path = work + ".log"
    launch_ms = int(time.time() * 1000)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Duser.language=en", "-Duser.country=US",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--out", out, "--launch-ms", str(launch_ms)])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = f"timeout after {timeout:.0f} s"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"[perfbench] full log: {log_path}", file=sys.stderr)
        fail(f"benchmark JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def check(res, record):
    """Compare digests with the goldens; return the number of failed
    operations and print every failure. Every golden under the run's key
    prefixes must have been produced: one that was not counts as failed."""
    goldens = {"digests": {}, "known_defects": {}}
    if os.path.exists(GOLDENS):
        with open(GOLDENS) as f:
            goldens = json.load(f)
    prefixes = tuple(res["golden_prefixes"])
    if not prefixes:
        fail("the run names no golden key prefixes")
    failed = len(res["failures"])
    for f in res["failures"]:
        print(f"[perfbench] FAILED {f['key']}: {f['error']}", file=sys.stderr)
    if record:
        for kind in ("digests", "known_defects"):
            goldens[kind] = {k: v for k, v in goldens[kind].items() if not k.startswith(prefixes)}
        for key, seen in res["digests"].items():
            if len(seen) != 1:
                fail(f"{key} gave different digests within one run: {seen}")
            goldens["digests"][key] = next(iter(seen))
        goldens["known_defects"].update(
            {k: v for k, v in res["known_defects"].items() if not v.startswith("no longer fails")})
        for kind in ("digests", "known_defects"):
            goldens[kind] = dict(sorted(goldens[kind].items()))
        with open(GOLDENS, "w") as f:
            json.dump(goldens, f, indent=1)
            f.write("\n")
        return failed
    for key, seen in res["digests"].items():
        want = goldens["digests"].get(key)
        for digest, n in seen.items():
            if digest != want:
                failed += n
                print(f"[perfbench] MISMATCH {key}: got {digest}, golden {want}", file=sys.stderr)
    for key, got in res["known_defects"].items():
        want = goldens["known_defects"].get(key)
        if got.startswith("no longer fails"):
            print(f"[perfbench] known defect {key} {got}: give it a golden and time it", file=sys.stderr)
        elif got != want:
            failed += 1
            print(f"[perfbench] FAILED {key}: {got}, expected the known defect {want}", file=sys.stderr)
    for kind, seen in (("digests", res["digests"]), ("known_defects", res["known_defects"])):
        for key, want in goldens[kind].items():
            if key.startswith(prefixes) and key not in seen:
                failed += 1
                print(f"[perfbench] MISSING {key}: the run produced no result, golden {want}",
                      file=sys.stderr)
    return failed


def figures(res):
    """The workload's figures by name and unit, for people reading the log."""
    ops, passes = res["op_samples"], res["pass_samples"]
    rows = [("setup_s", res["setup_s"], "s", 1)]
    for name, fig in res["figures"].items():
        rows.append((name, median(fig["values"]), fig["unit"], len(fig["values"])))
    if ops:
        rows += [("query_p50_s", median(ops), "s", len(ops)), ("query_gmean_s", gmean(ops), "s", len(ops)),
                 ("query_p90_s", p90(ops), "s", len(ops)),
                 ("pass_s", passes[0], "s", 1), ("passes_s", sum(passes), "s", len(passes))]
    known = len(res["known_defects"]) * len(passes)
    attempted = res["attempted"] + known
    rows += [("peak_cached_mb", res["peak_cached_mb"], "MB", 1),
             ("ops_failed_share", (len(res["failures"]) + known) / attempted, "1", attempted)]
    for name, value, unit, n in rows:
        print(f"[perfbench] {res['workload']} {name} = {value:.4f} {unit} (n={n})")
    by_key = {}
    for key, secs in zip(res["op_keys"], ops):
        by_key.setdefault(key, []).append(secs)
    for key, xs in sorted(by_key.items()):
        print(f"[perfbench] {res['workload']} op {key} median {median(xs):.4f} s (n={len(xs)})")
    for key, err in res["known_defects"].items():
        print(f"[perfbench] {res['workload']} known defect {key}: {err}")


def per_layer(res, names, spans_path):
    """Layer figures summed over the run's passes, all traced; writes their
    spans to `spans_path` and prints the reconciliation."""
    with open(spans_path, "w") as f:
        json.dump(res["spans"], f)
    layers = dict(res["layers"])
    wall = sum(res["pass_samples"])
    top = layers.get("trace.top_s", 0.0)
    layers.update({
        "spark.floor.empty_job_s": res["empty_job_s"],
        "spark.cache.peak_mb": res["peak_cached_mb"],
        "trace.wall_s": wall,
        "trace.unattributed_s": wall - top,
    })
    w = res["workload"]
    print(f"[perfbench] {w} reconcile: layer spans {top:.4f} s + unattributed {wall - top:.4f} s "
          f"= traced wall {wall:.4f} s ({len(res['pass_samples'])} passes; spans in {spans_path})")
    print(f"[perfbench] {w} tracing overhead: trace.wall_s minus passes_s of untraced runs")
    return {name: layers.get(name, 0.0) for name in names}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args()

    started = time.monotonic()
    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "sql/analytics"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, root, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = check(res, args.record_goldens)
    figures(res)
    # metric names and units come from BENCHMARK.json; a layer the workload
    # does not execute reads 0
    kind = "per_layer" if args.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[kind]}
    if args.trace:
        values = per_layer(res, declared, work + ".spans.json")
    else:
        ops = res["op_samples"]
        if not ops:
            fail("no operation completed")
        values = {"setup_s": res["setup_s"], "query_gmean_s": gmean(ops), "query_p90_s": p90(ops),
                  "pass_s": res["pass_samples"][0], "peak_cached_mb": res["peak_cached_mb"]}
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in declared.items()}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
