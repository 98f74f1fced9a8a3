"""REST query-param frontend (reference: columnq/src/query/rest.rs).

Parses the params into :func:`roapi_spark.query.plan_table_query`:
- ``filter[col]`` / ``filter[col]eq`` / lt / lte|lteq / gt / gte|gteq
  (rest.rs:60-115); values are SQL-ish literals: quoted -> string,
  otherwise int then float then bare string (rest.rs:23-51).
- ``columns=c1,c2`` projection (rest.rs:117-123).
- ``sort=c1,-c2,+c3`` — ``-`` desc, bare/``+`` asc.
- ``limit=N&page=P`` (rest.rs:139-153).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame

from roapi_spark.query import FILTER_OPS, plan_table_query, sort_column

FILTER_RE = re.compile(r"^filter\[(?P<col>[^\]]+)\](?P<op>\w*)$")


class RestQueryError(ValueError):
    pass


def parse_literal(raw: str) -> Any:
    """SQL-ish literal parse (reference tokenizes via sqlparser,
    rest.rs:23-51): quoted string, else int, else float, else bare string;
    true/false -> boolean."""
    s = raw.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in ("'", '"'):
        return s[1:-1]
    low = s.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    return s


def _sort_keys(sort_param: str) -> list[tuple[str, bool]]:
    keys = []
    for token in sort_param.split(","):
        token = token.strip()
        if token:
            desc = token.startswith("-")
            keys.append((token[1:] if desc else token.removeprefix("+"), desc))
    return keys


def sort_columns(sort_param: str) -> list[Column]:
    """``sort=c1,-c2,+c3`` -> order-by columns, nulls first both ways."""
    return [sort_column(name, desc) for name, desc in _sort_keys(sort_param)]


def rest_query_to_df(df: DataFrame, params: dict[str, str]) -> DataFrame:
    filters = []
    for key, raw in params.items():
        m = FILTER_RE.match(key)
        if not m:
            continue
        op = m.group("op") or "eq"
        if op not in FILTER_OPS:
            raise RestQueryError(f"unsupported filter op in {key!r}")
        filters.append((m.group("col"), op, parse_literal(raw)))
    columns = None
    if "columns" in params:
        columns = [c.strip() for c in params["columns"].split(",") if c.strip()]
    limit = int(params["limit"]) if "limit" in params else None
    return plan_table_query(
        df,
        filters,
        columns,
        _sort_keys(params.get("sort", "")),
        limit,
        int(params.get("page", "1")) if limit is not None else 1,
    )
