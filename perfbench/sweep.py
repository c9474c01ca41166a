"""Run ``run.py`` once per workload and seed, each in a fresh process, and
summarise every metric across the seeds: median, quartiles and the spread
(quartile distance as a share of the median).

    python3 perfbench/sweep.py                         # every workload, seed 1
    python3 perfbench/sweep.py --seeds 1-10 --workloads olap pipeline
    python3 perfbench/sweep.py --seeds 1-10 --trace 1 --out baseline.json

Run from the repository root. Prints one line per run while it goes, then
one line per workload and metric. ``--out`` also writes the summary as
JSON.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[float, dict | None]:
    """Wall seconds of one run and its result line, or None if it failed."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]  # fmt: skip
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(proc.stderr[-3000:], file=sys.stderr)
        return wall, None
    return wall, json.loads(lines[-1])


def summarise(values: list[float]) -> dict:
    out = {"n": len(values), "median": stats.median(values)}
    if len(values) >= 2:
        out["q1"], _, out["q3"] = statistics.quantiles(values, n=4)
        out["spread"] = stats.spread(values) if out["median"] else None
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=list(WORKLOADS))
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    results: dict[str, dict[str, list[float]]] = {w: {} for w in args.workloads}
    ok = True
    for seed in seeds(args.seeds):
        for w in args.workloads:
            wall, res = run_once(w, seed, args.seconds, args.trace)
            if res is None or not res["correct"]:
                ok = False
            shown = {k: round(v["value"], 4) for k, v in (res or {}).get("metrics", {}).items()}
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res and res['correct']} "
                  f"failed={res and res['failed']}/{res and res['attempted']} {shown}", flush=True)  # fmt: skip
            results[w].setdefault("run_wall_s", []).append(wall)
            for k, v in (res or {}).get("metrics", {}).items():
                results[w].setdefault(k, []).append(v["value"])
            if res is not None:
                results[w].setdefault("failed_frac", []).append(stats.failed_frac(res["failed"], res["attempted"]))
    summary = {w: {k: summarise(v) for k, v in m.items()} for w, m in results.items()}
    for w, m in summary.items():
        for k, s in m.items():
            extra = f" q1={s['q1']:.4f} q3={s['q3']:.4f} spread={s['spread']}" if "q1" in s else ""
            print(f"{w:10s} {k:28s} n={s['n']} median={s['median']:.4f}{extra}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
