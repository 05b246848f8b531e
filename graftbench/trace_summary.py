"""Turns a traced run's span dump into per-layer metrics.

    python3 graftbench/trace_summary.py .bench_build/graftbench/runs/pk_serve-1-t1

prints the self time of each layer over the measured phase and the
tracing overhead: the traced op medians against those of an untraced
run of the same workload and seed, when one is on disk. `run.py
--trace 1` calls `per_layer` for its metrics and prints the overhead to
standard error.

The dump (`spans.jsonl`) holds one JSON object per line:
- `span`: a call from the benchmark into a layer (name, layer, parent,
  request id, wall-clock ms);
- `job`: a Spark job with its task metrics, tied to the span that was
  active when it was submitted;
- `stage`: a stage's task count and its max and median task time;
- `plan`: one Catalyst phase of a query execution;
- `scan`: the files and rows one execution's scans read;
- `counter`: a value measured at a layer boundary.
Plans and scans arrive after the fact, so they are placed in the
innermost span that was open when they started.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

MB = 1048576.0
TIMED_OPS = ("upsert", "lookup", "poll", "query")
STAGES = ("exact", "shingle_sign", "lsh_verify", "components", "quality")
FORMATS = ("iceberg", "delta", "paimon", "hudi")
LAYERS = ("core", "streaming", "connector", "pipeline", "plans", "spark", "bench")


def load(path):
    recs = {"span": [], "job": [], "stage": [], "plan": [], "scan": [], "counter": []}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs[r["kind"]].append(r)
    return recs


def union_ms(intervals):
    """Length of the union of (t0, t1) intervals."""
    total, end = 0.0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


class Trace:
    def __init__(self, recs):
        self.counters = {c["name"]: c["value"] for c in recs["counter"]}
        t0 = self.counters.get("measured_t0", float("-inf"))
        t1 = self.counters.get("measured_t1", float("inf"))
        self.window = (t0, t1)
        self.spans = {s["id"]: s for s in recs["span"]}
        inside = lambda t: t0 <= t <= t1  # noqa: E731
        self.measured = [s for s in recs["span"] if inside(s["t0"])]
        self.jobs = [j for j in recs["job"] if inside(j["t0"])]
        self.stages = [s for s in recs["stage"] if inside(s["t0"])]
        self.plans = [p for p in recs["plan"] if inside(p["t0"])]
        self.scans = [s for s in recs["scan"] if inside(s["t"])]
        for p in self.plans:
            p["span"] = self.innermost(p["t0"])
        for s in self.scans:
            s["span"] = self.innermost(s["t"])

    def innermost(self, t):
        best = None
        for s in self.measured:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best["id"] if best else -1

    def top(self, span_id):
        """The top-level op span that `span_id` runs under, or None."""
        s = self.spans.get(span_id)
        while s is not None and s["parent"] != -1:
            s = self.spans.get(s["parent"])
        return s

    def op_of(self, rec):
        s = self.top(rec["span"])
        return s["name"] if s else None

    def named(self, name):
        return [s for s in self.measured if s["name"] == name]

    def mean_ms(self, name):
        xs = [s["t1"] - s["t0"] for s in self.named(name)]
        return statistics.mean(xs) if xs else 0.0

    def job_sum(self, field, op=None):
        return sum(j[field] for j in self.jobs if op is None or self.op_of(j) == op)

    def self_ms(self):
        """Self time per layer: each span's duration minus what its child
        spans, jobs and planning phases cover; jobs count as `spark`,
        planning as `plans`, measured time outside every span as `bench`."""
        children = {}
        for s in self.measured:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
        for j in self.jobs + self.plans:
            children.setdefault(j["span"], []).append((j["t0"], j["t1"]))
        layer = dict.fromkeys(LAYERS, 0.0)
        for s in self.measured:
            cover = [(max(a, s["t0"]), min(b, s["t1"])) for a, b in children.get(s["id"], [])]
            own = (s["t1"] - s["t0"]) - union_ms([c for c in cover if c[1] > c[0]])
            layer[s["layer"]] = layer.get(s["layer"], 0.0) + max(0.0, own)
        layer["spark"] = union_ms([(j["t0"], j["t1"]) for j in self.jobs])
        layer["plans"] = union_ms([(p["t0"], p["t1"]) for p in self.plans])
        top = [(s["t0"], s["t1"]) for s in self.measured if s["parent"] == -1]
        layer["bench"] = (self.window[1] - self.window[0]) - union_ms(top)
        return layer


def per_layer(spans_path, raw):
    """Every per-layer metric of one traced run."""
    t = Trace(load(spans_path))
    c = t.counters
    cycles = max(1.0, c.get("measured_cycles", 0))
    probes = max(1.0, c.get("probes", 0))
    n = {op: len(t.named(op)) for op in TIMED_OPS}
    rows = max(1.0, c.get("rows_upserted", 0))
    per = lambda v, d: v / d if d else 0.0  # noqa: E731

    upsert_driver = []
    for s in t.named("upsert"):
        cover = [(j["t0"], j["t1"]) for j in t.jobs + t.plans
                 if t.top(j["span"]) is s]
        upsert_driver.append((s["t1"] - s["t0"]) - union_ms(cover))

    m = {
        "core.upsert_driver_ms": statistics.mean(upsert_driver) if upsert_driver else 0.0,
        "core.manifest_read_ms": c.get("manifest_read_ms", 0) / probes,
        "core.manifest_bytes": c.get("manifest_bytes", 0),
        "core.log_files": c.get("log_files", 0) / probes,
        "core.listing_ms": c.get("listing_ms", 0) / probes,
        "core.rows_read_per_lookup": per(t.job_sum("records_read", "lookup"), c.get("lookup_keys", 0)),
        "core.compact_ms": t.mean_ms("compact"),
        "core.vacuum_ms": t.mean_ms("vacuum"),
        "core.write_amp": per(sum(t.job_sum("bytes_written", op)
                                  for op in ("upsert", "compact", "vacuum")),
                              c.get("input_bytes", 0)),
        "core.commit_conflicts": c.get("commit_conflicts", 0),
        "core.append_ms": t.mean_ms("append"),
        "merge.state_rows_per_upsert": t.job_sum("records_read", "upsert") / rows,
        "merge.shuffle_mb_per_upsert": per(t.job_sum("shuffle_write", "upsert") / MB, n["upsert"]),
        "merge.spill_mb_per_upsert": per(t.job_sum("spill", "upsert") / MB, n["upsert"]),
        "merge.changes_per_row": c.get("committed_rows", 0) / rows,
        "plans.codegen_compiles_per_cycle": c.get("codegen_compiles", 0) / cycles,
        "connector.rows_read_per_query": per(per(t.job_sum("records_read", "query"), n["query"]),
                                             c.get("live_rows", 0)),
        "connector.files_read_per_query": per(sum(s["files"] for s in t.scans
                                                  if t.op_of(s) == "query"), n["query"]),
        "streaming.poll_ms": t.mean_ms("poll"),
        "streaming.poll_rows": per(c.get("poll_rows", 0), n["poll"]),
        "pipeline.candidate_pairs": c.get("candidate_pairs", 0),
        "pipeline.verified_pairs": c.get("verified_pairs", 0),
        "pipeline.verify_yield": per(c.get("verified_pairs", 0), c.get("candidate_pairs", 0)),
        "pipeline.keep_ratio": per(c.get("dedup_kept_docs", 0), c.get("dedup_input_docs", 0)),
        "pipeline.docs_per_s": per(raw["docs_deduped"], raw["dedup_s"]),
        "spark.jobs_per_cycle": len(t.jobs) / cycles,
        "spark.tasks_per_cycle": t.job_sum("tasks") / cycles,
        "spark.busy_core_share": per(t.job_sum("run_ms"),
                                     (t.window[1] - t.window[0]) * c.get("nproc", 1)),
        "spark.cpu_ratio": per(t.job_sum("cpu_ms"), t.job_sum("run_ms")),
        "spark.stage_skew": 0.0,
        "spark.shuffle_mb": t.job_sum("shuffle_write") / MB,
        "jvm.gc_ms_per_cycle": c.get("gc_ms", 0) / cycles,
    }
    for f in FORMATS:
        m[f"core.tier_{f}_ms"] = t.mean_ms(f"tier_{f}")
    for op in TIMED_OPS:
        phases = sum(p["t1"] - p["t0"] for p in t.plans if t.op_of(p) == op)
        m[f"plans.planning_ms_per_{op}"] = per(phases, n[op])
    for st in STAGES:
        m[f"pipeline.{st}_ms"] = t.mean_ms(st)
    if t.stages:
        slow = max(t.stages, key=lambda s: s["t1"] - s["t0"])
        m["spark.stage_skew"] = per(slow["max_task_ms"], slow["median_task_ms"])
    for layer, ms in t.self_ms().items():
        m[f"trace.self_{layer}_ms"] = ms
    m.update(sample_metrics(raw))
    return m


def sample_metrics(raw):
    """Sample counts, drift and tail percentile of every timed op."""
    m = {}
    for op in ("upsert", "lookup", "poll", "query", "freshness"):
        xs = raw[f"samples_{op}"]
        m[f"bench.samples_{op}"] = len(xs)
        m[f"bench.drift_{op}"] = stats.drift(xs)
        pct, value = stats.tail_percentile(xs)
        m[f"bench.tail_pct_{op}"] = pct
        m[f"bench.tail_{op}_ms"] = value
    return m


def overhead_pct(traced, untraced):
    """Mean change of the timed ops' medians, traced over untraced, in %."""
    diffs = []
    for op in TIMED_OPS:
        a, b = traced[f"samples_{op}"], untraced[f"samples_{op}"]
        if a and b:
            diffs.append(statistics.median(a) / statistics.median(b) - 1)
    return 100 * statistics.mean(diffs) if diffs else 0.0


def untraced_baseline(results_dir, raw):
    """The untraced result of the same workload and seed, or None: another
    seed's medians differ by more than the overhead to be measured."""
    same = os.path.join(results_dir, f"{raw['workload']}-{raw['seed']}-t0.json")
    if not os.path.exists(same):
        return None
    with open(same) as fh:
        return json.load(fh)


def overhead_line(raw, base):
    if base is None:
        return (f"tracing overhead: no untraced run of {raw['workload']} seed {raw['seed']} "
                f"on disk; run it with --trace 0 first")
    return (f"tracing overhead on op medians: {overhead_pct(raw, base):+.1f} % "
            f"(against the untraced run of the same seed)")


def main(argv):
    if len(argv) != 1:
        raise SystemExit(__doc__)
    run_dir = argv[0]
    name = os.path.basename(os.path.normpath(run_dir))
    results = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(run_dir))), "results")
    with open(os.path.join(results, name + ".json")) as fh:
        raw = json.load(fh)
    t = Trace(load(os.path.join(run_dir, "spans.jsonl")))
    total = t.window[1] - t.window[0]
    print(f"{raw['workload']} seed {raw['seed']}: measured {total / 1000:.2f} s")
    for layer, ms in sorted(t.self_ms().items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<10} {ms:10.1f} ms  {100 * ms / total:5.1f} %")
    print(overhead_line(raw, untraced_baseline(results, raw)))


if __name__ == "__main__":
    main(sys.argv[1:])
