"""Hand-computed goldens for schema inference, mirroring the reference's
Tests/Analyze_scheme.Tests.ps1 cases (SURVEY.md §5): 8-way type detection,
nested object paths, array element histograms, occurrence counting,
majority-vote type conflicts."""

from __future__ import annotations

import pytest

from nosql_to_sql_migration_tool_spark.operators.infer import (
    JSON_TYPES,
    explode_json_paths,
    infer_schema,
    schema_stats,
)
from nosql_to_sql_migration_tool_spark.plans.audit import python_stage_count

DOCS = [
    # flat fields (Analyze_scheme.Tests.ps1:43-56)
    (1, '{"name": "Alice", "age": 30, "active": true, "score": 1.5}'),
    # nested object (:58-71)
    (2, '{"name": "Bob", "address": {"city": "Gent", "zip": "9000"}}'),
    # primitive array (:73-83)
    (3, '{"name": "Carol", "tags": ["x", "yy", "zzz"]}'),
    # array of objects (array_index semantics)
    (4, '{"name": "Dan", "items": [{"sku": "A1", "qty": 2}, {"sku": "B2", "qty": 5}]}'),
    # type conflict: age as string; null value
    (5, '{"name": "Eve", "age": "thirty", "nick": null}'),
    (6, '{"name": "Fay", "age": 41}'),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, doc string")


def test_explode_paths_types(spark):
    rows = explode_json_paths(_docs_df(spark), "doc", "doc_id").collect()
    by = {(r.doc_id, r.path): r for r in rows}
    assert by[(1, "name")].dtype == "string"
    assert by[(1, "age")].dtype == "integer"
    assert by[(1, "active")].dtype == "boolean"
    assert by[(1, "score")].dtype == "number"
    assert by[(2, "address")].dtype == "object"
    assert by[(2, "address.city")].dtype == "string"
    assert by[(3, "tags")].dtype == "array"
    assert by[(5, "nick")].dtype == "null"
    # array elements: one row per element under path[]
    tag_rows = [r for r in rows if r.path == "tags[]"]
    assert sorted(r.str_len for r in tag_rows) == [1, 2, 3]
    assert by[(4, "items[].sku")] is not None
    assert by[(4, "items[].qty")].dtype == "integer"


def test_schema_stats_goldens(spark):
    stats = {
        r.path: r
        for r in infer_schema(_docs_df(spark), "doc", "doc_id").collect()
    }
    # occurrence counting over all docs (:125-133)
    assert stats["name"].n_docs == 6 and stats["name"].n_values == 6
    # majority vote: age = {integer:2, string:1} -> integer
    assert stats["age"].majority_type == "integer"
    assert stats["age"].n_docs == 3
    # VARCHAR sizing: max string length
    assert stats["name"].max_len == 5  # Alice/Carol
    assert stats["age"].max_len == 6  # "thirty"
    # array-of-objects: 2 elements in 1 doc
    assert stats["items[]"].n_docs == 1 and stats["items[]"].n_values == 2
    assert stats["items[].sku"].n_values == 2
    # nested leaf paths
    assert stats["address.city"].majority_type == "string"
    # null-only field
    assert stats["nick"].majority_type == "null"


def test_majority_tie_breaks_deterministically(spark):
    df = spark.createDataFrame(
        [
            (1, '{"x": 1, "y": [true, null, 2, false, null]}'),
            (2, '{"x": "a"}'),
        ],
        "doc_id long, doc string",
    )
    stats = {r.path: r for r in infer_schema(df, "doc", "doc_id").collect()}
    # 1-1 tie -> lexicographically largest type name wins (pinned rule)
    assert stats["x"].majority_type == "string"
    # boolean 2, null 2, integer 1: the tie among the top counts only
    assert stats["y[]"].majority_type == "null"


def test_inference_walks_the_documents_once(spark):
    # every consumer of the path stream shares one mapInPandas walk
    assert python_stage_count(infer_schema(_docs_df(spark), "doc", "doc_id")) == 1


def test_schema_stats_rejects_unknown_dtype(spark):
    assert "datetime" not in JSON_TYPES
    paths = spark.createDataFrame(
        [(1, "x", "integer", None, "1"), (2, "x", "datetime", None, "t")],
        "doc_id long, path string, dtype string, str_len int, sample string",
    )
    with pytest.raises(Exception, match="dtype outside"):
        schema_stats(paths).collect()


def test_sample_bound_limits_walk(spark):
    stats = infer_schema(
        _docs_df(spark), "doc", "doc_id", sample_docs=2
    ).collect()
    by = {r.path: r for r in stats}
    assert by["name"].n_docs == 2  # only the bounded sample was walked


def test_props_oracle_recurses_like_the_operator(spark):
    """The infer_props_schema oracle is now a RECURSIVE DuckDB walk
    (queries.py _INFER_PROPS_ORACLE); on deeply nested documents it must
    reproduce the Spark operator's exploded stats exactly — closing the
    round-1/round-2 gap where the flat-only oracle would have gone
    silently wrong on nested props data."""
    import duckdb

    from nosql_to_sql_migration_tool_spark.queries import _INFER_PROPS_ORACLE

    nested = [
        (1, '{"a": 1, "b": {"c": "hi", "d": [1, 2]}, '
            '"e": ["x", {"f": true}], "g": null}'),
        (2, '{"a": 2.5, "b": {"c": "longer string"}, "e": []}'),
        (3, '{"a": "typed-conflict", '
            '"h": {"deep": {"deeper": [{"z": 9}]}}}'),
        (4, None),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, " + ("NULL" if j is None else f"'{j}'") + ")"
            for i, j in nested
        )
        + ") t(event_id, props)"
    )
    duck_stats = (
        con.sql(_INFER_PROPS_ORACLE)
        .df()
        .sort_values("path")
        .reset_index(drop=True)
    )
    sp = (
        infer_schema(
            spark.createDataFrame(nested, "event_id long, props string"),
            "props",
            "event_id",
        )
        .toPandas()
        .sort_values("path")
        .reset_index(drop=True)
    )
    cols = ["path", "n_docs", "n_values", "max_len", "majority_type"]
    assert sp[cols].astype(str).equals(duck_stats[cols].astype(str))
