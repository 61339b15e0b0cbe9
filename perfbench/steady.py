"""Steadiness report: is every end-to-end metric steady within its bound?

    python3 perfbench/steady.py --runs 5 --sets 2
    python3 perfbench/steady.py --workloads curate --runs 5 --sets 1
    python3 perfbench/steady.py --report .bench_run/steady/results.jsonl

Runs ``run.py`` ``runs × sets`` times per workload, each with another seed,
round-robin over the workloads so that drift in the host's load reaches
every workload alike.  Every result line is appended to
``.bench_run/steady/results.jsonl``.  For each workload and metric the
report gives the run count, median and quartiles, and the spread
``(q3 - q1) / median`` against the metric's bound from BENCHMARK.json; with
two sets it also gives how much worse the second set's median is than the
first's.  A metric is flagged ``WIDE`` when its spread exceeds a third of
its bound (``setup_s`` excepted: only its median shift is judged) and
``SHIFT`` when the second median is worse by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "wall_s": wall,
                "error": proc.stderr[-2000:]}
    return {"workload": workload, "seed": seed, "wall_s": wall,
            **json.loads(lines[-1])}


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    if not first:
        return 0.0
    delta = (second - first) if better == "lower" else (first - second)
    return delta / abs(first)


def report(spec: dict, results: list[dict], sets: int) -> bool:
    """Print the table; True when nothing is flagged."""
    ok = True
    for wl in [w["name"] for w in spec["workloads"]]:
        rows = [r for r in results if r["workload"] == wl]
        if not rows:
            continue
        bad = [r for r in rows if "error" in r or not r.get("correct")]
        walls = [r["wall_s"] for r in rows]
        print(f"\n== {wl}: {len(rows)} runs, {len(bad)} failed or incorrect,"
              f" wall median {statistics.median(walls) if walls else 0:.1f}"
              f" s, max {max(walls) if walls else 0:.1f} s")
        ok &= not bad
        print(f"{'metric':<14} {'n':>3} {'median':>11} {'q1':>11} "
              f"{'q3':>11} {'spread':>7} {'bound':>6} {'shift':>7}  flag")
        good = [r for r in rows if "error" not in r]
        per_set = max(1, len(good) // sets)
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in good]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            shift = None
            if sets > 1 and len(vals) >= 2 * per_set:
                first = statistics.median(vals[:per_set])
                second = statistics.median(vals[per_set:2 * per_set])
                shift = worse_by(first, second, m["better"])
            flags = []
            if m["name"] != "setup_s" and spread > m["bound"] / 3:
                flags.append("WIDE")
            if shift is not None and shift > m["bound"]:
                flags.append("SHIFT")
            ok &= not flags
            shift_s = "" if shift is None else f"{shift:+7.3f}"
            print(f"{m['name']:<14} {len(vals):>3} {med:>11.4g} {q1:>11.4g} "
                  f"{q3:>11.4g} {spread:>7.3f} {m['bound']:>6.2f} "
                  f"{shift_s:>7}  {' '.join(flags)}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", help="comma-separated (default: all)")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--report", help="re-report a results.jsonl file")
    args = ap.parse_args()
    spec = load_spec()
    if args.report:
        with open(args.report, encoding="utf-8") as fh:
            results = [json.loads(line) for line in fh]
    else:
        names = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
        out_dir = os.path.join(ROOT, ".bench_run", "steady")
        os.makedirs(out_dir, exist_ok=True)
        results = []
        seed = args.first_seed
        with open(os.path.join(out_dir, "results.jsonl"), "a",
                  encoding="utf-8") as fh:
            for _ in range(args.runs * args.sets):
                for wl in names:
                    r = run_once(spec, wl, seed)
                    results.append(r)
                    fh.write(json.dumps(r) + "\n")
                    fh.flush()
                    print(f"{wl} seed={seed} wall={r['wall_s']:.1f}s "
                          f"{'ERROR' if 'error' in r else r['metrics']}",
                          flush=True)
                seed += 1
    return 0 if report(spec, results, args.sets) else 1


if __name__ == "__main__":
    sys.exit(main())
