"""A/A steadiness check: two sets of runs of one commit, compared metric by
metric against the bounds in ``BENCHMARK.json``.

    python3 perfbench/aa.py --seeds 10 --sets 2 [--workloads hot_entities ...]
    python3 perfbench/aa.py --results .perfbench_work/aa/results.jsonl

Each run is ``run.py --workload W --seed S --seconds <run_seconds>``; set k
uses seeds k*1000+1 .. k*1000+N, so no run reuses another's seed. Results
append to a JSONL file (one line per run), so an interrupted check can be
analysed with ``--results``. For every workload and end-to-end metric it
prints the median, the quartile spread (Q3-Q1)/median of each set and the
change of the second set's median against the first, and fails when a
spread, or a worsening, exceeds the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def analyse(rows: list[dict], bench: dict) -> bool:
    by = defaultdict(list)  # (set, workload, metric) -> values
    for r in rows:
        for m, v in r["result"]["metrics"].items():
            by[(r["set"], r["workload"], m)].append(v["value"])
    ok = True
    sets = sorted({r["set"] for r in rows})
    print(f"{'workload':<18} {'metric':<14} " + " ".join(
        f"{'median' + str(s):>12} {'spread' + str(s):>8}" for s in sets) + "   change  bound")
    for w in [x["name"] for x in bench["workloads"]]:
        for spec in bench["end_to_end"]:
            m, bound = spec["name"], spec["bound"]
            cols, medians = [], []
            for s in sets:
                vals = by.get((s, w, m), [])
                if len(vals) < 2:
                    cols.append(f"{'-':>12} {'-':>8}")
                    medians.append(None)
                    continue
                q1, q2, q3 = quartiles(vals)
                spread = (q3 - q1) / q2
                if spread > bound:
                    ok = False
                cols.append(f"{q2:>12.5g} {spread:>8.3f}")
                medians.append(q2)
            change = ""
            if len(medians) > 1 and None not in medians[:2]:
                rel = (medians[1] - medians[0]) / medians[0]
                worse = rel if spec["better"] == "lower" else -rel
                if worse > bound:
                    ok = False
                change = f"{rel:+8.3f}"
            print(f"{w:<18} {m:<14} " + " ".join(cols) + f" {change:>8} {bound:>6}")
    return ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10, help="runs per workload and set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="*", help="default: all in BENCHMARK.json")
    ap.add_argument("--results", help="analyse this JSONL file instead of running")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.results:
        with open(args.results) as f:
            rows = [json.loads(line) for line in f]
    else:
        out = os.path.join(ROOT, ".perfbench_work", "aa", "results.jsonl")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        names = args.workloads or [w["name"] for w in bench["workloads"]]
        rows = []
        with open(out, "a") as f:
            for s in range(1, args.sets + 1):
                for i in range(1, args.seeds + 1):
                    for w in names:
                        seed = s * 1000 + i
                        t0 = time.monotonic()
                        res = run_one(w, seed, bench["run_seconds"])
                        wall = time.monotonic() - t0
                        row = {"set": s, "workload": w, "seed": seed, "wall_s": wall, "result": res}
                        f.write(json.dumps(row) + "\n")
                        f.flush()
                        rows.append(row)
                        print(f"set {s} {w} seed {seed} ({wall:.0f} s): correct={res['correct']} " + " ".join(
                            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    ok = analyse(rows, bench)
    if not all(r["result"]["correct"] for r in rows):
        print("some runs failed their output checks")
        ok = False
    print("A/A check", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
