"""Query registry — the single source of truth for the engine's query surface.

Each registered query pairs:
  * a Spark callable ``(spark, sf_dir) -> DataFrame`` (the engine under test)
  * an optional DuckDB-runnable ANSI-SQL oracle string with IDENTICAL output
    column names (the driver sorts columns by name before value-hashing)

``__spark_entry__.py`` re-exports this registry through the driver contract
(``queries()`` / ``oracle_sql()``), and ``tests/test_parity.py`` replicates
the driver's oracle comparison locally.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None → rows-only check
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import every query module (side effect: registration) and return the registry.

    Deliberately EAGER over all modules: measured 0.06 s for the 15 query
    modules when they held 185 queries (vs 0.29 s for the pyspark import
    itself; there are 273 now), and
    the driver contract's ``oracle_sql()`` needs every module's oracle
    strings regardless — a lazy per-module registry would save nothing
    while adding a name→module index to keep in sync (evaluated round 6).
    """
    # imports deferred so `import utils_spark` stays cheap
    from utils_spark.queries import (  # noqa: F401
        advanced,
        aggregates,
        composite,
        coverage,
        multimodal,
        pipelines,
        relational,
        scalepath,
        stats,
        streaming_live,
        temporal,
        text,
        tpch_shapes,
        vector,
        windows,
    )

    return REGISTRY
