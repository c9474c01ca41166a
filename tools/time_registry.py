"""Time EVERY registered query at a given SF through the bench's noop-sink
protocol (min-of-N, full-column materialization) and print one JSON object
{name: sec}. Ranking tool for the optimization rounds — finds the heavy
non-bench queries the headline set doesn't see.

Usage:
    python tools/time_registry.py                      # all queries, sf0.1, min-of-2
    python tools/time_registry.py --sf /root/testdata/sf0.01
    python tools/time_registry.py --reps 1 name1 name2 # just the named queries
    python tools/time_registry.py --out /tmp/t.json

Streaming queries (stream_*) run through the same fn(spark, sf_dir) call;
they return batch-finite DataFrames under availableNow semantics like the
driver's check, so timing them is comparable run-over-run.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = __file__.rsplit("/tools/", 1)[0]
sys.path.insert(0, REPO)

from _argv import pop_flag  # noqa: E402


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    sf_dir = pop_flag(args, "--sf", sf_dir, "a data directory")
    reps = pop_flag(args, "--reps", 2, "an integer", int)
    out = pop_flag(args, "--out", None, "an output path")
    bad = [a for a in args if a.startswith("-")]
    if bad:
        print(f"unknown flags: {bad}", file=sys.stderr)
        return 2

    from utils_spark.plans import release_scratch_caches
    from utils_spark.registry import load_all
    from utils_spark.session import get_spark

    registry = load_all()
    names = args or list(registry)
    missing = [n for n in names if n not in registry]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="utils_spark_time_registry")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the noop write path once (same rationale as bench.py)
    registry["grouped_quantiles"].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {}
    for n, name in enumerate(names, 1):
        qd = registry[name]
        spark.sparkContext.setJobDescription(f"time_registry: {name}")
        runs = []
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                qd.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs.append(time.perf_counter() - t0)
                # per-run work, not warm-cache reads (r16 — same fix as
                # bench.py): release operator scratch persists between reps
                release_scratch_caches()
            timings[name] = round(min(runs), 4)
        except Exception as exc:  # record, keep ranking the rest
            timings[name] = -1.0
            print(f"# {name} FAILED: {exc}", file=sys.stderr)
        print(f"# [{n}/{len(names)}] {name}: {timings[name]:.3f}s", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)
    spark.stop()

    payload = json.dumps(dict(sorted(timings.items(), key=lambda kv: -kv[1])))
    if out:
        with open(out, "w") as f:
            f.write(payload)
    print(payload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
