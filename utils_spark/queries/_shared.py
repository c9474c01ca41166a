"""Spark-side DataFrame shapes that several registered queries share.

Each function is one decision many queries have to agree on — the day
bucket, how a daily series is packed, the pair-join contract — kept in
one place so the queries cannot drift apart. Each emits exactly the
expressions its call sites used to spell out, so the plans are
unchanged; the oracle SQL stays in each query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.io import load_table


def event_day() -> Column:
    """Calendar day of `events.ts` — the Spark twin of the oracles'
    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)."""
    return F.to_date(F.date_trunc("day", "ts"))


def daily_by_type(events: DataFrame, *aggs: Column) -> DataFrame:
    """Daily rollup per event type: (event_type, day, *aggs)."""
    return events.groupBy("event_type", event_day().alias("day")).agg(*aggs)


def daily_counts(events: DataFrame) -> DataFrame:
    """(event_type, day, n): the daily event count per type as a double."""
    return daily_by_type(events, F.count("*").cast("double").alias("n"))


def daily_value_series(events: DataFrame) -> DataFrame:
    """(event_type, vals, n): each type's daily mean `value`, packed in day
    order into one array, with its length. Callers apply their own
    minimum-length guards."""
    daily = daily_by_type(events, F.avg("value").alias("v"))
    return daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "v"))), lambda s: s["v"]
        ).alias("vals")
    ).withColumn("n", F.size("vals"))


def daily_lag_groups(events: DataFrame) -> GroupedData:
    """Daily counts grouped by (event_type, lag) for lags 1..7: rows
    (n, lv) pair each day's count with the count `lag` days earlier, next
    to the series' mean `mu`, length `cnt` and sum of squared deviations
    `ss` (broadcast from a per-series aggregate)."""
    daily = daily_counts(events)
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"),
        F.count("*").alias("cnt"),
        (F.sum(F.col("n") * F.col("n")) - F.count("*") * F.avg("n") * F.avg("n")).alias("ss"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "n", *[F.lag("n", k).over(w).alias(f"l{k}") for k in range(1, 8)]
    )
    stacked = lagged.select(
        "event_type",
        "n",
        F.expr(
            "stack(7, " + ", ".join(f"{k}, l{k}" for k in range(1, 8)) + ") AS (lag, lv)"
        ),
    ).filter(F.col("lv").isNotNull())
    return stacked.join(F.broadcast(stats), "event_type").groupBy("event_type", "lag")


def type_pairs(df: DataFrame) -> DataFrame:
    """Unordered pairs of `df`'s rows by event type, the sides aliased "a"
    and "b" (a.event_type < b.event_type)."""
    # broadcast the (tiny, one-row-per-type) build side so the inequality
    # pair join plans as a bounded BroadcastNestedLoopJoin, never a
    # CartesianProduct (registry-wide plan audit contract)
    a, b = df.alias("a"), df.alias("b")
    return a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type"))


def value_series_pairs(events: DataFrame) -> DataFrame:
    """(type_a, type_b, av, bv, n, m): every unordered pair of event types
    with both daily value series (`daily_value_series`) and their lengths."""
    return type_pairs(daily_value_series(events)).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.vals").alias("av"),
        F.col("b.vals").alias("bv"),
        F.col("a.n").alias("n"),
        F.col("b.n").alias("m"),
    )


def with_margins(obs: DataFrame) -> DataFrame:
    """(event_type, dow, o, row_tot, col_tot, n): a contingency table's
    cells `o` with their row, column and grand totals."""
    return obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )


def cust_supp_edges(spark: SparkSession, sf_dir: str, cust: Column, supp: Column) -> DataFrame:
    """Distinct customer–supplier edges through orders ⋈ lineitem, projected
    as (cust, supp) — two expressions over `o_custkey` and `l_suppkey`."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(cust, supp).distinct()


def planted_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vec): 4-d vectors planting 5-member micro-clusters
    (vec_id // 5) on a 50-wide grid, 10000 apart, members 0..4 apart."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    q = (F.col("vec_id") / 5).cast("long")  # micro-cluster id (vec_id // 5)
    m = F.pmod(F.col("vec_id"), F.lit(5)).cast("double")  # member offset 0..4
    return e.select(
        "vec_id",
        F.array(
            (F.pmod(q, F.lit(50)) * 10000.0 + m).cast("double"),
            ((q / 50).cast("long") * 10000.0).cast("double"),
            F.lit(0.0),
            F.lit(0.0),
        ).alias("vec"),
    )


def embedding8(spark: SparkSession, sf_dir: str, below: int) -> DataFrame:
    """(vec_id, vec): the first 8 embedding dims as doubles, vec_id < below."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < below)
        .select(
            "vec_id",
            F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("vec"),
        )
    )
