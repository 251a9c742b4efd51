"""Validation-suite unit tests mirroring the reference's
Tests/Data_Migration.Tests.ps1 cases (which actually test
Migration_Validation): PASSED/PARTIAL/FAILED verdicts, normalization
semantics in comparisons, and missing-row reporting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nosql_to_sql_migration_tool_spark.fixtures import dirty_customer_target
from nosql_to_sql_migration_tool_spark.operators.validation import (
    compare_records,
    count_reconcile,
    validation_sample,
    validation_verdict,
)
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def test_passed_when_counts_match_and_samples_clean(spark):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    row = validation_verdict(customer, customer, "c_custkey").collect()[0]
    assert row["status"] == "PASSED"
    assert row["issues"] == 0
    assert row["samples_failed"] == 0


def test_partial_and_failed_branches(spark):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    dirty = dirty_customer_target(customer)
    partial = validation_verdict(
        customer, dirty, "c_custkey", sample_size=100
    ).collect()[0]
    assert partial["status"] == "PARTIAL"  # most samples still pass
    assert partial["issues"] > 0

    # corrupt every row -> FAILED
    wrecked = customer.withColumn("c_name", F.lit("wrong"))
    failed = validation_verdict(
        customer, wrecked, "c_custkey", sample_size=20
    ).collect()[0]
    assert failed["status"] == "FAILED"
    assert failed["samples_failed"] == 20


def test_count_mismatch_is_an_issue_even_with_clean_samples(spark):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    truncated = customer.filter(F.col("c_custkey") > 100)
    # sample last-N keys: all present and identical -> samples pass,
    # but the count mismatch alone must forbid PASSED
    row = validation_verdict(
        customer, truncated, "c_custkey", sample_size=10
    ).collect()[0]
    assert not row["count_match"] if "count_match" in row else True
    assert row["samples_failed"] == 0
    assert row["issues"] == 1
    assert row["status"] == "PARTIAL"  # passed(10) > failed(0), issues>0


# Verdict rows of eleven source/target cases, computed by the one-pass
# join + aggregate verdict that the driver-folded sample verdict
# replaced, and committed here as literals.
_KV = "k long, v string"
_KVX = "k long, v string, x double"
_ABC = [(1, "a"), (2, "b"), (3, "c")]
VERDICT_CASES = {
    "passed": (
        lambda c, df: (c, c, "c_custkey", 10),
        [150, 150, 10, 10, 0, 0, "PASSED"],
    ),
    "partial": (
        lambda c, df: (c, dirty_customer_target(c), "c_custkey", 100),
        [150, 145, 100, 87, 13, 14, "PARTIAL"],
    ),
    "failed": (
        lambda c, df: (
            c, c.withColumn("c_name", F.lit("wrong")), "c_custkey", 20
        ),
        [150, 150, 20, 0, 20, 20, "FAILED"],
    ),
    "truncated_target": (
        lambda c, df: (c, c.filter(F.col("c_custkey") > 100), "c_custkey", 10),
        [150, 49, 10, 10, 0, 1, "PARTIAL"],
    ),
    "dup_source_keys": (
        lambda c, df: (
            df([(1, "a"), (2, "b"), (2, "b2"), (3, "c")], _KV),
            df(_ABC, _KV), "k", 3,
        ),
        [4, 3, 3, 2, 1, 2, "PARTIAL"],
    ),
    "dup_target_keys": (
        lambda c, df: (
            df(_ABC, _KV),
            df([(1, "a"), (2, "b"), (2, "x"), (3, "c")], _KV), "k", 10,
        ),
        [3, 4, 3, 2, 1, 2, "PARTIAL"],
    ),
    "null_values": (
        lambda c, df: (
            df([(1, None, 1.5), (2, "b", None), (3, "c", 2.0),
                (4, None, None)], _KVX),
            df([(1, None, 1.5), (2, "b", 7.0), (3, "", 2.0),
                (4, "", None)], _KVX),
            "k", 10,
        ),
        [4, 4, 4, 2, 2, 2, "FAILED"],
    ),
    "null_target_keys": (
        lambda c, df: (
            df(_ABC, _KV), df([(None, "a"), (2, "b"), (3, "c")], _KV), "k", 10
        ),
        [3, 3, 3, 2, 1, 1, "PARTIAL"],
    ),
    "sample_over_rows": (
        lambda c, df: (c, dirty_customer_target(c), "c_custkey", 1000),
        [150, 145, 150, 131, 19, 20, "PARTIAL"],
    ),
    "sample_zero": (
        lambda c, df: (c, c, "c_custkey", 0),
        [150, 150, 0, 0, 0, 0, "PASSED"],
    ),
    "all_null_key_sample": (
        lambda c, df: (
            df([(None, "a"), (None, "b"), (1, "b")], _KV),
            df([(None, "a"), (1, "b")], _KV), "k", 2,
        ),
        [3, 2, 2, 1, 1, 2, "FAILED"],
    ),
}
VERDICT_SCHEMA = [
    ("source_count", "bigint", False),
    ("target_count", "bigint", False),
    ("samples_validated", "bigint", False),
    ("samples_passed", "bigint", False),
    ("samples_failed", "bigint", False),
    ("issues", "bigint", False),
    ("status", "string", False),
]


@pytest.mark.parametrize("case", sorted(VERDICT_CASES))
def test_verdict_rows_match_committed_cases(spark, case):
    build, expected = VERDICT_CASES[case]
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    source, target, key, n = build(customer, spark.createDataFrame)
    verdict = validation_verdict(source, target, key, sample_size=n)
    assert [
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in verdict.schema.fields
    ] == VERDICT_SCHEMA
    assert list(verdict.collect()[0]) == expected
    # the same row from a caller that already holds the count and sample
    known = validation_verdict(
        source, target, key, sample_size=n,
        source_count=source.count(),
        sample=validation_sample(source, key, n),
    )
    assert list(known.collect()[0]) == expected


def test_compare_records_normalization_semantics(spark):
    # bool -> "1"/"0", null -> "", trailing whitespace trimmed, ts format
    src = spark.createDataFrame(
        [(1, True, None, "x ", "2024-01-02 03:04:05")],
        "k long, b boolean, n string, s string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    tgt = spark.createDataFrame(
        [(1, 1, "", "x", "2024-01-02 03:04:05")],
        "k long, b int, n string, s string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    diffs = compare_records(src, tgt, "k").collect()
    assert diffs == []  # all equal after normalization

    tgt2 = spark.createDataFrame(
        [(1, False, "v", "x", "2024-01-02 03:04:06")],
        "k long, b boolean, n string, s string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["field"]: (r["source_value"], r["target_value"])
        for r in compare_records(src, tgt2, "k").collect()
    }
    assert got["b"] == ("1", "0")
    assert got["n"] == ("", "v")
    assert got["ts"] == ("2024-01-02 03:04:05", "2024-01-02 03:04:06")


def test_missing_rows_reported_once(spark):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    dirty = dirty_customer_target(customer)
    diffs = compare_records(customer, dirty, "c_custkey")
    missing = diffs.filter(F.col("status") == "MISSING_IN_TARGET")
    expected = customer.filter(F.col("c_custkey") % 31 == 0).count()
    assert missing.count() == expected
    assert missing.filter(F.col("field") != "_row").count() == 0


def test_count_reconcile(spark):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    row = count_reconcile(customer, customer.limit(10)).collect()[0]
    assert row["source_count"] > row["target_count"]
    assert not row["count_match"]


def test_profile_columns_counts_nulls_and_distincts(spark):
    from pyspark.sql import functions as F

    from nosql_to_sql_migration_tool_spark.operators.validation import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "x long, y string"
    )
    prof = {
        r["col_name"]: (r["n_nulls"], r["n_distinct"])
        for r in profile_columns(df, ["x", "y"]).collect()
    }
    assert prof == {"x": (1, 3), "y": (1, 2)}
    # single scan: exactly one aggregate over the source, no union of scans
    plan = (
        profile_columns(df, ["x", "y"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("LogicalRDD") == 1


def test_stratified_sample_empty_bounds_returns_nothing(spark):
    from nosql_to_sql_migration_tool_spark.operators.relational import (
        stratified_sample,
    )
    from nosql_to_sql_migration_tool_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    assert stratified_sample(customer, "c_mktsegment", {}, "c_custkey").count() == 0
