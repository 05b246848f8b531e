"""Runs one benchmark workload and prints its metrics.

    python3 graftbench/run.py --workload pk_serve --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark if their sources changed (build.py),
runs the workload in one JVM, checks every op against the workload's
model, and prints one JSON line last: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics of BENCHMARK.json with `--trace 0`,
its per-layer metrics with `--trace 1`). Runs are bounded by a fixed
amount of work per workload; `--seconds` is about the time that work
takes, and a run that takes far longer is stopped and fails.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import trace_summary  # noqa: E402

ROOT = build.ROOT
HEAP = "2g"
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
OPS = ("upsert", "lookup", "freshness", "poll", "query")
EXIT_GRACE_S = 10
MAX_RUN_S = 165


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(classpath, workload, seed, trace, run_dir, timeout):
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false",
            # C1 only: short runs get no JIT trend; C1's default 48 MB code
            # cache fills mid-run and disables the compiler, hence 240 MB
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", classpath, "graftbench.Main", workload, str(seed),
              str(trace), run_dir])
    log_path = os.path.join(run_dir, "jvm.log")
    raw = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, cwd=run_dir)
        # a watchdog bounds the whole run; a JVM that printed its result
        # but does not exit within EXIT_GRACE_S is stopped
        watchdog = threading.Timer(timeout, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("GRAFTBENCH_RAW "):
                    raw = json.loads(line[len("GRAFTBENCH_RAW "):])
                    watchdog.cancel()
                    watchdog = threading.Timer(EXIT_GRACE_S, proc.kill)
                    watchdog.start()
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if raw is None:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"run: JVM exited {proc.returncode} without a result "
                         f"(timeout {timeout} s)\n{tail}")
    return raw


def end_to_end(raw):
    """Every end-to-end metric from one run's raw measurements."""
    s = {op: raw[f"samples_{op}"] for op in OPS}
    for op in ("upsert", "lookup", "freshness", "query"):
        if not s[op]:
            raise SystemExit(f"run: no {op} samples; the workload mix is broken")
    return {
        "setup_s": raw["setup_s"],
        "upsert_p50_ms": statistics.median(s["upsert"]),
        "lookup_p50_ms": statistics.median(s["lookup"]),
        "freshness_p50_ms": statistics.median(s["freshness"]),
        "query_p50_ms": statistics.median(s["query"]),
        "ingest_rows_per_s": raw["rows_upserted"] / raw["measured_s"],
        "space_amp": raw["space_amp"],
        "heap_retained_mb": raw["heap_retained_mb"],
        "ok_ratio": (raw["attempted"] - raw["failed"]) / raw["attempted"],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        raise SystemExit(f"run: unknown workload {args.workload}; known: {names}")
    classpath = build.build()
    run_dir = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    # the work is fixed; a run this far over its usual time is broken,
    # and the cap keeps a broken run within 180 s
    started = time.time()
    raw = run_jvm(classpath, args.workload, args.seed, args.trace, run_dir,
                  timeout=min(MAX_RUN_S, max(60, 6 * args.seconds)))
    raw["wall_s"] = time.time() - started

    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(raw, fh)

    if args.trace:
        values = trace_summary.per_layer(os.path.join(run_dir, "spans.jsonl"), raw)
        wanted = bench["per_layer"]
        print(trace_summary.overhead_line(raw, trace_summary.untraced_baseline(results, raw)),
              file=sys.stderr)
    else:
        values = end_to_end(raw)
        wanted = bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"run: metrics not produced: {missing}")
    for f in raw["failures"]:
        print(f"check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
