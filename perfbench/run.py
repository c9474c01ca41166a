"""Run one benchmark workload against ``utils_spark`` and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Run from the repository root. One run, in this one process:

1. sets up as the program starts: ``get_spark`` on ``local[<cores>]``,
   which launches the JVM, plus ``registry.load_all``. Spark's local,
   temporary and output directories go under ``.perfbench_work/<run>/`` in
   the repository root, which is removed at the end;
2. makes the workload's warm-up passes over the tables in ``data/``, in
   list order, the first of them cold; then starts timed passes, in an
   order the seed fixes, until ``--seconds`` have passed;
3. hashes what each query of the first warm-up pass and of the last timed
   pass put out, and compares it with its DuckDB oracle's (``oracle.py``).

With ``--trace 0`` the last line reports the end-to-end metrics. With
``--trace 1`` the timed passes alternate between traced and untraced. The
traced ones are split into layers (spans, Spark counters per job group,
``/proc``), the spans and their self times are written to
``.perfbench_out/``, and the last line reports the per-layer metrics,
including the tracing overhead.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import oracle  # noqa: E402
import probe  # noqa: E402
import stats  # noqa: E402
from workloads import LAYER_EFFECTS, WORKLOADS  # noqa: E402

# The repository's sf0.01 test tables, the same bytes in every run; the
# seed fixes the query order of each timed pass, not the data.
DATA = os.path.join(HERE, "data")
END_TO_END = {"setup_s": "s", "warmup_s": "s", "pass_s": "s", "cpu_s": "s"}
EXECUTING_LAYERS = ("queries.build", "operators.action", "io.write")


def unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    return "ratio" if metric.endswith("skew") else "count"


class Run:
    def __init__(self, workload, seed: int, seconds: float, traced: bool, work: str):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checked: list[tuple[str, str]] = []  # (query, output hash)
        self.spark = None
        self.spans = None
        self.probe = None
        self.passes: list[dict] = []

    # ------------------------------------------------------------ set-up

    def _isolate(self) -> dict[str, str]:
        """Point every directory Spark and Python write to into the run's
        work directory; returns the Spark conf that does so."""
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # Python workers unpickle functions of utils_spark, whatever their cwd
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TZ"] = "UTC"  # collected timestamps then match DuckDB's
        time.tzset()
        tempfile.tempdir = tmp
        return {
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    def setup(self) -> None:
        """The program's cold start: ``get_spark``, which launches the JVM,
        then ``registry.load_all``."""
        conf = self._isolate()
        cores = len(os.sched_getaffinity(0))  # what nproc prints
        t0 = time.perf_counter()
        from utils_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.w.name}", cpus=cores, extra_conf=conf)
        t1 = time.perf_counter()
        from utils_spark import io, plans, registry

        self.registry = registry.load_all()
        t2 = time.perf_counter()
        self.session_s, self.registry_s = t1 - t0, t2 - t1
        self.spark.sparkContext.setLogLevel("ERROR")
        self.io, self.plans = io, plans
        self.tree = probe.ProcessTree(self.spark.sparkContext._gateway.proc.pid)
        missing = [q for q in self.w.queries if q not in self.registry]
        if missing:
            raise KeyError(f"queries not in the registry: {missing}")

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ------------------------------------------------------------ layers

    def _layer(self, name: str, fn, *args, calls: dict | None):
        """Call ``fn`` as one layer step. When ``calls`` is given (a traced
        pass), the call runs under a span and its own job group, and its
        duration, Spark counters and streaming batches go to ``calls``."""
        if calls is None:
            return fn(*args)
        with self.spans.span(name) as rec:
            group = f"perfbench-{rec['id']}"
            mark = self.probe.streams.mark()
            first_job = self.probe.next_job_id()
            self.probe.set_group(group)
            start = time.time()
            try:
                return fn(*args)
            finally:
                end = time.time()
                self.probe.set_group("perfbench-idle")
                self.probe.settle()
                run_ids, batches = self.probe.streams.since(mark)
                c = self.probe.counters([group, *run_ids], first_job)
                rec["jobs"] = c.jobs
                calls.setdefault(name, []).append((start, end, c, batches))

    def _out(self, query: str) -> str:
        return os.path.join(self.work, "out", query)

    def _sink(self, df, query: str) -> None:
        if self.w.sink == "parquet":
            self.io.write_parquet(df, self._out(query))
        else:
            df.write.mode("overwrite").format("noop").save()

    def run_query(self, query: str, calls: dict | None):
        """Build one query, run its sink and release its scratch caches.
        Returns ``(latency, cpu, df)`` for the build and the sink, or None
        if it raised."""
        self.attempted += 1
        try:
            cpu0 = self.tree.cpu_s()
            t0 = time.perf_counter()
            df = self._layer("queries.build", self.registry[query].fn, self.spark, DATA, calls=calls)
            action = "io.write" if self.w.sink == "parquet" else "operators.action"
            self._layer(action, self._sink, df, query, calls=calls)
            latency = time.perf_counter() - t0
            cpu = self.tree.cpu_s() - cpu0
            if calls is not None:
                calls.setdefault("plans.cached_mb", []).append(self.probe.cached_mb())
                if self.w.sink == "parquet":
                    calls.setdefault("io.written_mb", []).append(_du_mb(self._out(query)))
            self._layer("plans.release", self.plans.release_scratch_caches, calls=calls)
        except Exception as exc:  # a failed query is counted; the run goes on
            self.failed += 1
            self.errors.append(f"{query}: {exc!r}"[:500])
            return None
        return latency, cpu, df

    def run_pass(self, traced: bool, shuffle: bool = True) -> dict:
        order = self.rng.sample(self.w.queries, len(self.w.queries)) if shuffle else self.w.queries
        calls: dict | None = {} if traced else None
        span = self.spans.span("pass") if traced else contextlib.nullcontext()
        if traced:
            gc0, py0 = self.probe.gc_s(), self.tree.python_cpu_s()
            self.tree.reset_peak_rss()
        jit0, cg0 = probe.jit_s(self.spark), probe.codegen_compiles(self.spark)
        t0 = time.perf_counter()
        done = {}
        with span:
            if traced:
                for table in self.w.tables:
                    self._layer("io.load_table", self.io.load_table, self.spark, DATA, table, calls=calls)
            for q in order:
                with self.spans.span("query", query=q) if traced else contextlib.nullcontext():
                    done[q] = self.run_query(q, calls)
        result = {
            "wall": time.perf_counter() - t0,
            "jit": probe.jit_s(self.spark) - jit0,
            "codegen": probe.codegen_compiles(self.spark) - cg0,
            "latencies": {q: r[0] for q, r in done.items() if r is not None},
            "cpu": {q: r[1] for q, r in done.items() if r is not None},
            "frames": {q: r[2] for q, r in done.items() if r is not None},
        }
        if traced:
            result["layers"] = {
                **layer_metrics(calls),
                "jvm.gc_s": self.probe.gc_s() - gc0,
                "jvm.jit_s": result["jit"],
                "codegen.compiles": result["codegen"],
                "python.cpu_s": self.tree.python_cpu_s() - py0,
                "process.peak_rss_mb": self.tree.peak_rss_mb(),
            }
        return result

    def hash_outputs(self, p: dict) -> None:
        """Hash what each query of pass ``p`` put out, for ``check``: the
        files ``io.write_parquet`` wrote, or, for the noop sink, which keeps
        nothing, the rows of the same DataFrame collected again. Runs after
        the pass, outside its timings."""
        for q, df in p.pop("frames").items():
            try:
                out = self.spark.read.parquet(self._out(q)) if self.w.sink == "parquet" else df
                self.checked.append((q, oracle.value_hash(out.collect(), out.columns)))
            except Exception as exc:
                self.failed += 1
                self.errors.append(f"{q}: output unreadable: {exc!r}"[:500])

    # ------------------------------------------------------------ the run

    def execute(self) -> dict:
        marks = [time.perf_counter()]
        self.setup()
        if self.traced:
            self.spans = probe.Spans(f"{self.w.name}-{self.seed}-{os.getpid()}")
            self.probe = probe.SparkProbe(self.spark)
            self.probe.set_group("perfbench-idle")
        marks.append(time.perf_counter())
        # Warm-up passes run the queries in list order, so every run starts
        # its timed passes from the same JIT state. The first, cold, pass is
        # warmup_s; the JIT keeps compiling for several passes after it.
        self.warm = []
        for i in range(self.w.warmup_passes):
            p = self.run_pass(traced=False, shuffle=False)
            if i == 0:
                self.hash_outputs(p)
            p.pop("frames", None)
            self.warm.append(p)
        marks.append(time.perf_counter())
        ticks0 = probe.host_ticks()
        # a traced run needs an untraced pass too, for the tracing overhead
        while time.perf_counter() - marks[-1] < self.seconds or len(self.passes) < 1 + self.traced:
            if self.passes:
                self.passes[-1].pop("frames")
            self.passes.append(self.run_pass(traced=self.traced and len(self.passes) % 2 == 0))
        marks.append(time.perf_counter())
        ticks1 = probe.host_ticks()
        self.steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        self.hash_outputs(self.passes[-1])
        self.peak_rss_mb = self.tree.peak_rss_mb()
        self.check()
        marks.append(time.perf_counter())
        self.phases = dict(zip(("setup", "warmup", "timed", "check"), (b - a for a, b in zip(marks, marks[1:]))))
        return self.metrics()

    def check(self) -> None:
        """Compare each hashed output with its DuckDB oracle's. The oracle
        runs in a subprocess while Spark shuts down. A mismatch fails the
        execution that put the output out."""
        sql = {q: self.registry[q].oracle for q in self.w.queries}
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            expected = pool.submit(oracle.oracle_hashes, DATA, list(self.io.TABLES), sql)
            self.close()
            want = expected.result()
        wrong = mismatches(self.checked, want)
        self.failed += len(wrong)
        self.errors += wrong

    def metrics(self) -> dict:
        untraced = [p for p in self.passes if "layers" not in p]
        if not self.traced:
            values = {
                "setup_s": self.session_s + self.registry_s,
                "warmup_s": sum(self.warm[0]["latencies"].values()),
                "pass_s": sum_of_medians(untraced, "latencies"),
                "cpu_s": sum_of_medians(untraced, "cpu"),
            }
            return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        traced = [p for p in self.passes if "layers" in p]
        values = {
            "session.start_s": self.session_s,
            "registry.load_s": self.registry_s,
        }
        for m in LAYER_EFFECTS:
            if m not in values and m != "trace.overhead_s":
                values[m] = stats.median([p["layers"][m] for p in traced])
        values["trace.overhead_s"] = sum_of_medians(traced, "latencies") - sum_of_medians(untraced, "latencies")
        return {k: {"value": v, "unit": unit(k)} for k, v in values.items()}


def sum_of_medians(passes: list[dict], key: str) -> float:
    """Sum over queries of each query's median ``key`` (its latency or its
    CPU seconds) across ``passes``; a query that raised has no sample."""
    samples: dict[str, list[float]] = {}
    for p in passes:
        for q, t in p[key].items():
            samples.setdefault(q, []).append(t)
    return stats.sum_of_medians(samples) if samples else float("nan")


def mismatches(checked: list[tuple[str, str]], want: dict[str, str]) -> list[str]:
    """One message per hashed output that differs from its oracle's hash.
    An execution that raised was never hashed, so it fails only once."""
    return [f"{q}: output {got[:16]} != oracle {want[q][:80]}" for q, got in checked if got != want[q]]


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024 * 1024)


def layer_metrics(calls: dict) -> dict:
    """Per-pass layer metrics from the traced layer calls of one pass.
    ``calls`` maps a layer name to one ``(start, end, JobCounters, batches)``
    per call, and ``plans.cached_mb`` and ``io.written_mb`` to one size per
    query."""

    def durations(*names):
        return sum(end - start for n in names for start, end, _, _ in calls.get(n, []))

    def counters(*names):
        return [c for n in names for _, _, c, _ in calls.get(n, [])]

    executed = counters(*EXECUTING_LAYERS)
    batches = [b for _, _, _, bs in calls.get("queries.build", []) for b in bs]
    last_batch = {b["run_id"]: b for b in batches}
    return {
        "io.load_table_s": durations("io.load_table"),
        "io.schema_jobs": sum(c.jobs for c in counters("io.load_table")),
        "io.write_s": durations("io.write"),
        "io.written_mb": sum(calls.get("io.written_mb", [])),
        "queries.build_s": durations("queries.build"),
        "queries.build_jobs": sum(c.jobs for c in counters("queries.build")),
        "operators.action_s": durations("operators.action", "io.write"),
        "operators.jobs": sum(c.jobs for c in executed),
        "operators.stages": sum(c.stages for c in executed),
        "operators.tasks": sum(c.tasks for c in executed),
        "operators.executor_run_s": sum(c.executor_run_s for c in executed),
        "operators.executor_cpu_s": sum(c.executor_cpu_s for c in executed),
        "operators.shuffle_read_mb": sum(c.shuffle_read_mb for c in executed),
        "operators.shuffle_write_mb": sum(c.shuffle_write_mb for c in executed),
        "operators.spill_mb": sum(c.spill_mb for c in executed),
        "operators.task_skew": max((c.task_skew for c in executed), default=0.0),
        # time inside the program's calls that no Spark job covers
        "spark.gap_s": sum(
            stats.uncovered(start, end, c.intervals)
            for n in (*EXECUTING_LAYERS, "io.load_table", "plans.release")
            for start, end, c, _ in calls.get(n, [])
        ),
        "plans.release_s": durations("plans.release"),
        "plans.cached_mb": sum(calls.get("plans.cached_mb", [])),
        "streaming.batches": len(batches),
        "streaming.trigger_ms": sum(b["trigger_ms"] for b in batches),
        "streaming.commit_ms": sum(b["commit_ms"] for b in batches),
        "streaming.state_rows": sum(b["state_rows"] for b in last_batch.values()),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = run.execute()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)

    untraced = [p for p in run.passes if "layers" not in p]
    n = len(untraced)
    pct = stats.supported_percentile(n)
    if pct is None:
        tail = f"{n} samples support no percentile above the median"
    else:
        totals = [sum(p["latencies"].values()) for p in untraced]
        tail = f"p{pct} of pass totals = {stats.percentile(totals, pct):.4f} s"
    print(f"# workload={args.workload} seed={args.seed} timed passes={len(run.passes)}")
    print(f"# pass_s: sum of per-query medians over {n} untraced passes; {tail}")
    print(f"# failed_frac={stats.failed_frac(run.failed, run.attempted):.4f} ({run.failed}/{run.attempted})")
    for e in run.errors:
        print(f"# error: {e}")
    print("# phases: " + ", ".join(f"{k}={v:.2f}s" for k, v in run.phases.items()))
    print(f"# host steal during the timed passes: {100 * run.steal:.1f}% of CPU time")
    print("# pass wall s/JIT s/codegen compiles: " + ", ".join(f"{p['wall']:.2f}/{p['jit']:.2f}/{p['codegen']}" for p in run.warm + run.passes))
    samples = {"setup_s": 1, "warmup_s": 1, "pass_s": n, "cpu_s": n}
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.4f} {v['unit']}" + (f" (n={samples[k]})" if k in samples else ""))
    if not run.traced:
        print(f"# peak_rss_mb = {run.peak_rss_mb:.1f} MB (JVM + Python workers over the run; not bounded, see README)")
    if run.traced:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        self_s = stats.self_times(run.spans.spans)
        with open(os.path.join(out_dir, f"spans-{run_id}.json"), "w") as f:
            json.dump({"spans": run.spans.spans, "self_s": self_s}, f)
        print("# self time by span: " + ", ".join(f"{k}={v:.3f}s" for k, v in sorted(self_s.items())))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            },
            allow_nan=False,  # a metric with no samples fails the run
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
