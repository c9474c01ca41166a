"""The benchmark's workloads and what each layer metric should move.

Every workload is one closed-loop client: a single driver thread that
sends the next query only when the previous one has finished, on
``local[<cores>]``. Each runs a fixed list of registered queries over the
same tables; the seed fixes the order of the queries within each pass.
``README.md`` here says why there are two workloads and not the four first
planned.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # the tables the queries read, for io.load_table
    sink: str  # "noop" or "parquet" (io.write_parquet to a per-run directory)
    warmup_passes: int  # passes before timing, the cold one included; the JIT settles over them


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap",
            "many short JVM-only jobs: per-job floor, load_table schema jobs, codegen; no Python workers, caches, writes, loops or streams",
            # 59 generated classes, well below Spark's codegen cache of 100:
            # near that size, whether passes recompile varies by JVM (README.md)
            (
                "grouped_quantiles",
                "multiway_join_revenue",
                "pseudobulk_sum",
                "tumbling_window",
                "asof_join",
            ),
            ("customer", "events", "lineitem", "nation", "orders", "region"),
            "noop",
            6,
        ),
        Workload(
            "pipeline",
            "write path, scratch caches, eager build-time jobs, Python workers and streaming state, all of which olap bypasses",
            (
                "minhash_lsh_pairs",
                "denoised_feature_selection",
                "stream_stateful_dedup",
            ),
            ("documents", "events", "lineitem"),
            "parquet",
            3,
        ),
    )
}

# per-layer metric -> (the end-to-end metric it should move, on which workload)
LAYER_EFFECTS = {
    "session.start_s": ("setup_s", "both"),
    "registry.load_s": ("setup_s", "both"),
    "io.load_table_s": ("pass_s, warmup_s", "olap; little on pipeline"),
    "io.schema_jobs": ("pass_s, warmup_s", "olap; little on pipeline"),
    "io.write_s": ("pass_s", "pipeline; zero on olap"),
    "io.written_mb": ("pass_s", "pipeline; zero on olap"),
    "queries.build_s": ("pass_s", "pipeline (eager cache and stream jobs run inside the build)"),
    "queries.build_jobs": ("pass_s", "pipeline"),
    "operators.action_s": ("pass_s", "olap"),
    "operators.jobs": ("pass_s", "olap"),
    "operators.stages": ("pass_s", "olap"),
    "operators.tasks": ("pass_s", "olap"),
    "operators.executor_run_s": ("cpu_s, pass_s", "pipeline"),
    "operators.executor_cpu_s": ("cpu_s, pass_s", "pipeline"),
    "operators.shuffle_read_mb": ("cpu_s, pass_s", "pipeline"),
    "operators.shuffle_write_mb": ("cpu_s, pass_s", "pipeline"),
    "operators.spill_mb": ("cpu_s, pass_s", "pipeline"),
    "operators.task_skew": ("cpu_s, pass_s", "pipeline"),
    "spark.gap_s": ("pass_s", "olap, pipeline"),
    "plans.release_s": ("pass_s", "pipeline; about zero on olap"),
    "plans.cached_mb": ("pass_s", "pipeline; about zero on olap"),
    "python.cpu_s": ("cpu_s", "pipeline; zero on olap"),
    "jvm.gc_s": ("pass_s", "pipeline"),
    "jvm.jit_s": ("warmup_s, cpu_s, pass_s", "both; falls pass by pass"),
    "codegen.compiles": ("cpu_s, pass_s", "both; zero after the cold pass while the codegen cache holds the workload"),
    "process.peak_rss_mb": ("none: it is not bounded, because G1 heap sizing makes it swing", "both"),
    "streaming.batches": ("pass_s", "pipeline; zero on olap"),
    "streaming.trigger_ms": ("pass_s", "pipeline; zero on olap"),
    "streaming.commit_ms": ("pass_s", "pipeline; zero on olap"),
    "streaming.state_rows": ("pass_s", "pipeline; zero on olap"),
    "trace.overhead_s": ("pass_s of the traced run", "both"),
}
