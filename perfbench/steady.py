"""Same-code steadiness check: run every workload over two sets of seeds
and compare.

    python3 perfbench/steady.py --seeds 5 --sets 2

Runs ``run.py`` once per (set, workload, seed), one process at a time,
from the checkout root. Set ``k`` uses seeds ``first + k*seeds`` onwards,
so no seed repeats. For each workload and end-to-end metric it prints
each set's median and spread (interquartile range over median, from
``statistics.quantiles(values, n=4)``), the spread over all runs, the
drift of the last set's median from the first's, and the metric's bound
from ``BENCHMARK.json``. A metric passes when its spread over all runs
and its drift, either way, both stay within the bound. The raw results
go to ``.perfbench/steady.json``.
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


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def drift(first: float, second: float, better: str) -> float:
    """How much worse the second median is, as a share of the first
    (negative when it is better)."""
    change = second / first - 1.0
    return change if better == "lower" else -change


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed "
                         f"({proc.returncode}):\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    details = next((json.loads(x[len("details "):]) for x in lines
                    if x.startswith("details ")), {})
    return {"workload": workload, "seed": seed, "set": None, "wall_s": wall,
            "result": result, "details": details}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=5, help="seeds per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    runs = []
    for k in range(args.sets):
        for w in workloads:
            for i in range(args.seeds):
                seed = args.first_seed + k * args.seeds + i
                r = run_once(w, seed, bench["run_seconds"])
                r["set"] = k
                runs.append(r)
                res = r["result"]
                print(f"set {k} {w} seed {seed}: correct={res['correct']} "
                      f"failed={res['failed']} wall={r['wall_s']:.1f}s "
                      f"load={r['details'].get('loadavg_before')}",
                      flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steady.json"), "w") as fh:
        json.dump(runs, fh, indent=1)

    ok = all(r["result"]["correct"] for r in runs)
    print(f"\n{'workload':18s} {'metric':12s} {'med set0':>12s} "
          f"{'med set1':>12s} {'iqr0':>6s} {'iqr1':>6s} {'iqr all':>7s} "
          f"{'drift':>6s} {'bound':>5s}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r["result"]["metrics"][name]["value"] for r in runs
                     if r["workload"] == w and r["set"] == k]
                    for k in range(args.sets)]
            every = [v for s in sets for v in s]
            meds = [statistics.median(s) for s in sets]
            spreads = [spread(s) if len(s) > 1 else 0.0 for s in sets]
            total = spread(every) if len(every) > 1 else 0.0
            d = drift(meds[0], meds[-1], m["better"])
            good = abs(d) <= bound and total <= bound
            ok &= good
            print(f"{w:18s} {name:12s} {meds[0]:12.4f} {meds[-1]:12.4f} "
                  f"{spreads[0]:6.3f} {spreads[-1]:6.3f} {total:7.3f} "
                  f"{d:+6.3f} {bound:5.2f}  {'ok' if good else 'OUT'}")
    print("\nall within bounds" if ok else "\nsome metric is out of bounds")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
