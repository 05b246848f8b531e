"""Steadiness report: runs one workload N times with different seeds and
reports, per end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median, flagging every spread above the metric's bound (and
marking those above a third of it).

    python3 graftbench/steady.py --workload pk_serve --runs 10 --first-seed 1

Each run's result line is appended to
`.bench_build/graftbench/steady/<workload>.jsonl`; `--report-only`
re-reads that file instead of running.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def report(spec, results):
    """Lines of the report; the second value is True when a spread
    exceeds its bound (setup_s excepted, as in the acceptance check)."""
    lines, over = [], False
    lines.append(f"{'metric':<22}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>8}")
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        med, q1, q3, spr = stats.spread(values)
        flag = ""
        if spr > m["bound"] and m["name"] != "setup_s":
            flag, over = "  OVER BOUND", True
        elif spr > m["bound"] / 3:
            flag = "  above a third of bound"
        lines.append(f"{m['name']:<22}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}"
                     f"{spr:>9.4f}{m['bound']:>8}{flag}")
    failed = sum(r["failed"] for r in results)
    lines.append(f"{len(results)} runs, {failed} failed ops, "
                 f"all correct: {all(r['correct'] for r in results)}")
    return lines, over


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args(argv)
    spec = run.spec()
    out_dir = os.path.join(build.OUT, "steady")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}.jsonl")
    if not args.report_only:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, cwd=build.ROOT)
            if res.returncode != 0:
                raise SystemExit(f"seed {seed} failed:\n{res.stderr[-2000:]}")
            with open(path, "a") as fh:
                fh.write(res.stdout.strip().splitlines()[-1] + "\n")
            print(f"seed {seed} done", file=sys.stderr)
    with open(path) as fh:
        results = [json.loads(line) for line in fh if line.strip()]
    lines, over = report(spec, results)
    print("\n".join(lines))
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
