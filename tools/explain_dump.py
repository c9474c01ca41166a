"""Dump `.explain("formatted")` for named registry queries to files.

Usage:
    python tools/explain_dump.py --dir plans/r15 --suffix _before name1 name2
    python tools/explain_dump.py --dir plans/r15 --suffix _after --sf /root/testdata/sf0.1 name1

Writes <dir>/<name><suffix>.txt per query. The plan is the pre-execution
plan (AdaptiveSparkPlan isFinalPlan=false) — the judged artifact for plan
claims (Exchange count, join strategy, PushedFilters, codegen spans).
"""

from __future__ import annotations

import os
import sys

REPO = __file__.rsplit("/tools/", 1)[0]
sys.path.insert(0, REPO)

from _argv import pop_flag  # noqa: E402


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    out_dir = "plans/r15"
    sf_dir = pop_flag(args, "--sf", sf_dir, "a data directory")
    out_dir = pop_flag(args, "--dir", out_dir, "an output directory")
    suffix = pop_flag(args, "--suffix", "", "a file-name suffix")
    bad = [a for a in args if a.startswith("-")]
    if bad or not args:
        print(f"unknown flags or no queries: {bad}", file=sys.stderr)
        return 2

    from utils_spark.registry import load_all
    from utils_spark.session import get_spark

    registry = load_all()
    missing = [n for n in args if n not in registry]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="utils_spark_explain_dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args:
        df = registry[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path} ({len(plan.splitlines())} lines)", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
