"""Spark counters read per job group stay exact after the status store
has dropped its oldest stages (``spark.ui.retainedStages``, 1000)."""

import pytest

from probe import CountersLost, SparkProbe

SHUFFLES = 24  # stages per job: one per shuffle, plus the last
PARTITIONS = 2


def _job(sc):
    """One JVM-only job of SHUFFLES + 1 stages of PARTITIONS tasks each."""
    items = sc._jvm.java.util.ArrayList()
    for i in range(8):
        items.add(i)
    rdd = sc._jsc.parallelize(items, PARTITIONS)
    for _ in range(SHUFFLES):
        rdd = rdd.repartition(PARTITIONS)
    return rdd.count()


def test_per_group_counters_survive_stage_retention(spark):
    sc = spark.sparkContext
    retained = int(sc.getConf().get("spark.ui.retainedStages", "1000"))
    probe = SparkProbe(spark)
    first_jobs = []
    stages_run = 0
    while stages_run <= retained + SHUFFLES + 1:
        group = f"g{len(first_jobs)}"
        first_jobs.append(probe.next_job_id())
        probe.set_group(group)
        assert _job(sc) == 8
        probe.set_group("idle")
        probe.settle()
        c = probe.counters([group], first_jobs[-1])
        assert (c.jobs, c.stages, c.tasks) == (1, SHUFFLES + 1, (SHUFFLES + 1) * PARTITIONS)
        assert len(c.intervals) == 1
        stages_run += c.stages
    assert stages_run > 1000
    # the store has dropped the first group's stages by now: reading that
    # group raises instead of reporting zeros
    with pytest.raises(CountersLost):
        probe.counters(["g0"], first_jobs[0])
