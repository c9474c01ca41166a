"""Per-stage wall-time decomposition for named registry queries.

For each named query: run once to warm codegen/broadcast paths, then run
again and print every NEW completed stage's wall time (completion -
submission), executorRunTime sum, task count, input/shuffle bytes, and
the head of the stage name — the empirical "where does the time go"
table the optimization guide (§1.1) starts from. Also prints the gap
between the query wall and the sum of stage walls (driver/scheduling/
planning time that no stage accounts for).

    python tools/stage_times.py grouped_quantiles pairwise_ks
    python tools/stage_times.py --sf /root/testdata/sf0.01 louvain_communities
    python tools/stage_times.py --cold ...   # report the FIRST run instead
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

REPO = __file__.rsplit("/tools/", 1)[0]
sys.path.insert(0, REPO)

from _argv import pop_flag  # noqa: E402


def stages(ui_url: str, app_id: str, status: str = "complete") -> list[dict]:
    with urllib.request.urlopen(f"{ui_url}/api/v1/applications/{app_id}/stages?status={status}") as r:
        return json.load(r)


def _parse_ts(ts: str) -> float:
    # REST timestamps look like 2026-08-17T22:40:42.123GMT
    from datetime import datetime

    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    cold = "--cold" in args
    if cold:
        args.remove("--cold")
    sf_dir = pop_flag(args, "--sf", sf_dir, "a data directory")
    if not args or any(a.startswith("-") for a in args):
        print(__doc__, file=sys.stderr)
        return 2

    from utils_spark.registry import load_all
    from utils_spark.session import get_spark

    reg = load_all()
    spark = get_spark(app_name="stage_times", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui_url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    for name in args:
        fn = reg[name].fn
        runs = 1 if cold else 2
        for rep in range(runs):
            seen = {s["stageId"] for s in stages(ui_url, app_id)}
            spark.sparkContext.setJobDescription(f"stage_times: {name} rep{rep}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
        new = [s for s in stages(ui_url, app_id) if s["stageId"] not in seen]
        new.sort(key=lambda s: s["stageId"])
        print(f"\n== {name}  wall={wall:.3f}s  ({len(new)} stages) ==")
        tot_stage_wall = 0.0
        for s in new:
            sub = _parse_ts(s["submissionTime"]) if "submissionTime" in s else None
            done = _parse_ts(s["completionTime"]) if "completionTime" in s else None
            sw = (done - sub) if sub and done else 0.0
            tot_stage_wall += sw
            nm = s.get("description") or s["name"]
            print(
                f"  stage {s['stageId']:>4} wall={sw*1000:7.0f}ms run={s['executorRunTime']:>6}ms "
                f"cpu={s.get('executorCpuTime', 0)//1_000_000:>6}ms tasks={s['numCompleteTasks']:>3} "
                f"in={s['inputBytes']:>10} sw={s['shuffleWriteBytes']:>8} sr={s['shuffleReadBytes']:>8} "
                f"| {nm[:70]}"
            )
        print(f"  sum(stage walls)={tot_stage_wall:.3f}s  driver/sched gap={wall - tot_stage_wall:.3f}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
