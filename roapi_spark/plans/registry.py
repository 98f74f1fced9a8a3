"""Query registry: every implemented operator from SURVEY.md §2 registers a
named query (Spark DataFrame builder) and, when SQL-expressible, a DuckDB
oracle SQL string computing the same result with identical column names.

The driver (and our local harness in roapi_spark/testing/oracle.py) runs the
Spark builder and the oracle side by side and compares row-count + schema +
order-insensitive value hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None  # None => non-SQL-expressible, rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        # fail loud on duplicate names: a silent override would swap a
        # query's semantics (and its oracle) out from under every
        # consumer — corpus_report, bench, the driver's correctness rows
        prev = QUERIES.get(name)
        if prev is not None and (
            prev.builder.__module__ != fn.__module__
            or prev.builder.__qualname__ != fn.__qualname__
        ):  # same-module re-exec (test reloads) is fine; a second module
            # claiming the name is not
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(existing: {prev.builder.__module__})"
            )
        QUERIES[name] = QuerySpec(name=name, builder=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every module that registers queries, then return the registry."""
    import roapi_spark.functions.crawl  # noqa: F401
    import roapi_spark.functions.dedup  # noqa: F401
    import roapi_spark.functions.formats  # noqa: F401
    import roapi_spark.functions.multimodal  # noqa: F401
    import roapi_spark.functions.pq  # noqa: F401
    import roapi_spark.functions.quality  # noqa: F401
    import roapi_spark.functions.selection  # noqa: F401
    import roapi_spark.functions.similarity  # noqa: F401
    import roapi_spark.functions.text  # noqa: F401
    import roapi_spark.functions.tokenizers  # noqa: F401
    import roapi_spark.plans.analytics  # noqa: F401
    import roapi_spark.plans.coverage  # noqa: F401
    import roapi_spark.plans.frontends  # noqa: F401
    import roapi_spark.plans.timeseries  # noqa: F401
    import roapi_spark.plans.tpch_extra  # noqa: F401
    import roapi_spark.plans.tpch_more  # noqa: F401

    return QUERIES
