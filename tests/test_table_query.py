"""REST and GraphQL are two syntaxes over one table-query planner
(roapi_spark.query.plan_table_query): the same filters, projection, sort
and limit/page spelled in either must return the same rows in the same
order, over columns that hold nulls."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from roapi_spark.query.graphql import graphql_to_df
from roapi_spark.query.rest import rest_query_to_df

ROWS = [
    (1, "a", 10.0, 3),
    (2, "b", None, 1),
    (3, "a", 5.0, None),
    (4, None, 7.5, 3),
    (5, "c", 2.0, 2),
    (6, "b", 7.5, None),
    (7, None, None, 1),
    (8, "a", 0.5, 2),
]
COLS = ["id", "cat", "val", "n"]
VALUES = {
    "cat": st.sampled_from(["a", "b", "c"]),
    "val": st.sampled_from([0.5, 2.0, 5.5, 7.5, 10.0]),
    "n": st.integers(0, 4),
}
OPS = ["", "eq", "lt", "lte", "lteq", "gt", "gte", "gteq"]  # "" = REST's bare filter[c]


@pytest.fixture(scope="module")
def table(spark):
    return spark.createDataFrame(ROWS, "id int, cat string, val double, n int")


def _rest_value(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(v)


def _gql_value(v) -> str:
    return f'"{v}"' if isinstance(v, str) else str(v)


@st.composite
def table_queries(draw):
    filters = []
    for col, op in draw(
        st.lists(st.tuples(st.sampled_from(list(VALUES)), st.sampled_from(OPS)),
                 max_size=3, unique=True)
    ):
        filters.append((col, op, draw(VALUES[col])))
    extra = draw(st.lists(st.sampled_from(COLS[1:]), unique=True))
    columns = ["id", *extra] if draw(st.booleans()) else None
    keys = [c for c in (columns or COLS)[1:] if draw(st.booleans())]
    sort = [(c, draw(st.booleans())) for c in keys] + [("id", draw(st.booleans()))]
    limit = draw(st.none() | st.integers(1, 5))
    page = draw(st.none() | st.integers(1, 3))
    return filters, columns, sort, limit, page


def _rest_params(filters, columns, sort, limit, page) -> dict[str, str]:
    params = {f"filter[{c}]{op}": _rest_value(v) for c, op, v in filters}
    if columns is not None:
        params["columns"] = ",".join(columns)
    params["sort"] = ",".join(
        ("-" if desc else "+" if i % 2 else "") + c for i, (c, desc) in enumerate(sort)
    )
    if limit is not None:
        params["limit"] = str(limit)
    if page is not None:
        params["page"] = str(page)
    return params


def _graphql(filters, columns, sort, limit, page) -> str:
    per_col: dict[str, list[str]] = {}
    for c, op, v in filters:
        per_col.setdefault(c, []).append(f"{op or 'eq'}: {_gql_value(v)}")
    fields = ", ".join(f"{c}: {{{', '.join(ops)}}}" for c, ops in per_col.items())
    args = [f"filter: {{{fields}}}"] if fields else []
    args.append(
        "sort: ["
        + ", ".join(
            f'{{field: "{c}", order: "desc"}}' if desc else f'{{field: "{c}"}}'
            for c, desc in sort
        )
        + "]"
    )
    if limit is not None:
        args.append(f"limit: {limit}")
    if page is not None:
        args.append(f"page: {page}")
    return f"{{ t({', '.join(args)}) {{ {' '.join(columns or COLS)} }} }}"


@settings(max_examples=25, deadline=None)
@given(table_queries())
def test_rest_and_graphql_plan_the_same_rows(table, q):
    rest = rest_query_to_df(table, _rest_params(*q))
    gql = graphql_to_df({"t": table}, _graphql(*q))
    assert rest.columns == gql.columns == (q[1] or COLS)
    assert rest.collect() == gql.collect()
