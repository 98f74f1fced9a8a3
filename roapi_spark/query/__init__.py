"""Table-query planning shared by the REST and GraphQL frontends
(reference: columnq/src/query/mod.rs).

Each frontend only parses its own syntax into the arguments of
:func:`plan_table_query`, which builds the plan in the reference's fixed
order: filters -> projection -> sort -> limit/page (rest.rs:64-155,
graphql.rs:226-345).

- filter ops: ``eq``, ``lt``, ``lte``/``lteq``, ``gt``, ``gte``/``gteq``
  (rest.rs:60-115, graphql.rs:103-148); each predicate is its own
  ``filter``, so they AND;
- sort is **nulls first in both directions** (query/mod.rs:6-20).
  Spark's desc defaults to nulls-last, so desc_nulls_first is explicit;
- ``limit``/``page`` apply after the sort: skip = (page-1)*limit.

The planner only *builds* a DataFrame chain — Catalyst still pushes the
predicates into the scan, so a query over a 100 TB table reads only the
matching row groups / partitions.
"""

from __future__ import annotations

import operator
from collections.abc import Iterable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FILTER_OPS = {
    "eq": operator.eq,
    "lt": operator.lt,
    "lte": operator.le,
    "lteq": operator.le,
    "gt": operator.gt,
    "gte": operator.ge,
    "gteq": operator.ge,
}


def sort_column(name: str, descending: bool) -> Column:
    """One order-by key, nulls first either way."""
    col = F.col(name)
    return col.desc_nulls_first() if descending else col.asc_nulls_first()


def plan_table_query(
    df: DataFrame,
    filters: Iterable[tuple[str, str, Any]] = (),
    columns: Sequence[str] | None = None,
    sort: Sequence[tuple[str, bool]] = (),
    limit: int | None = None,
    page: int = 1,
) -> DataFrame:
    """``filters`` are ``(column, op, value)`` with ``op`` a key of
    :data:`FILTER_OPS` (the frontends reject other ops with their own
    error); ``sort`` is ``(column, descending)`` pairs."""
    for name, op, value in filters:
        df = df.filter(FILTER_OPS[op](F.col(name), F.lit(value)))
    if columns is not None:
        df = df.select(*columns)
    if sort:
        df = df.orderBy(*(sort_column(name, desc) for name, desc in sort))
    if limit is not None:
        if page > 1:
            df = df.offset((page - 1) * limit)
        df = df.limit(limit)
    return df
