"""GraphQL frontend (reference: columnq/src/query/graphql.rs).

Parses one query into :func:`roapi_spark.query.plan_table_query`:
- single operation; first selection Field names the table
  (graphql.rs:150-224);
- ``filter:`` argument — object form ``{col: {gt: 3, lteq: 5}}`` (multiple
  ops per column ANDed) or bare literal ``{col: "x"}`` meaning equality
  (graphql.rs:103-148); literal types Bool/String/Int/Float
  (graphql.rs:80-101);
- the selection set is the projection;
- ``sort: [{field: "c", order: "desc"}]`` (graphql.rs:37-78);
- ``limit:`` / ``page:`` (graphql.rs:303-342).

Parsing uses graphql-core (public PyPI), the Python analogue of the
reference's graphql_parser crate.
"""

from __future__ import annotations

from typing import Any

from graphql import parse
from graphql.language import ast as gql_ast
from pyspark.sql import DataFrame

from roapi_spark.query import FILTER_OPS, plan_table_query


class GraphQLQueryError(ValueError):
    pass


def _value(node: gql_ast.ValueNode) -> Any:
    if isinstance(node, gql_ast.IntValueNode):
        return int(node.value)
    if isinstance(node, gql_ast.FloatValueNode):
        return float(node.value)
    if isinstance(node, gql_ast.StringValueNode):
        return node.value
    if isinstance(node, gql_ast.BooleanValueNode):
        return node.value
    if isinstance(node, gql_ast.NullValueNode):
        return None
    if isinstance(node, gql_ast.EnumValueNode):
        return node.value
    raise GraphQLQueryError(f"unsupported literal: {node.kind}")


def _filters(obj: gql_ast.ValueNode) -> list[tuple[str, str, Any]]:
    if not isinstance(obj, gql_ast.ObjectValueNode):
        raise GraphQLQueryError("filter must be an object")
    out = []
    for field in obj.fields:
        col = field.name.value
        val = field.value
        if isinstance(val, gql_ast.ObjectValueNode):
            # operator form: {col: {gt: 3, lteq: 5}} — ops ANDed
            for op_field in val.fields:
                op = op_field.name.value
                if op not in FILTER_OPS:
                    raise GraphQLQueryError(f"unsupported filter op: {op}")
                out.append((col, op, _value(op_field.value)))
        else:
            # bare literal = equality (graphql.rs:140-146)
            out.append((col, "eq", _value(val)))
    return out


def _sort(snode: gql_ast.ValueNode) -> list[tuple[str, bool]]:
    if not isinstance(snode, gql_ast.ListValueNode):
        raise GraphQLQueryError("sort must be a list")
    keys = []
    for item in snode.values:
        if not isinstance(item, gql_ast.ObjectValueNode):
            raise GraphQLQueryError("sort entries must be objects")
        fields = {f.name.value: _value(f.value) for f in item.fields}
        name = fields.get("field")
        if not name:
            raise GraphQLQueryError("sort entry missing field")
        keys.append((name, str(fields.get("order", "asc")).lower() == "desc"))
    return keys


def graphql_to_df(tables: dict[str, DataFrame], query: str) -> DataFrame:
    doc = parse(query)
    ops = [d for d in doc.definitions if isinstance(d, gql_ast.OperationDefinitionNode)]
    if len(ops) != 1:
        raise GraphQLQueryError("expected exactly one operation")
    selections = ops[0].selection_set.selections
    if len(selections) != 1 or not isinstance(selections[0], gql_ast.FieldNode):
        raise GraphQLQueryError("expected exactly one root field (the table)")
    field: gql_ast.FieldNode = selections[0]
    table_name = field.name.value
    if table_name not in tables:
        raise GraphQLQueryError(f"table not found: {table_name}")

    args = {a.name.value: a.value for a in field.arguments or []}
    filters = _filters(args["filter"]) if "filter" in args else []
    columns = [
        s.name.value
        for s in (field.selection_set.selections if field.selection_set else ())
        if isinstance(s, gql_ast.FieldNode)
    ]
    sort = _sort(args["sort"]) if "sort" in args else []
    limit = int(_value(args["limit"])) if "limit" in args else None
    page = int(_value(args["page"])) if limit is not None and "page" in args else 1
    return plan_table_query(
        tables[table_name], filters, columns or None, sort, limit, page
    )
