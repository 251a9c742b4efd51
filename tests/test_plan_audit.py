"""Public plan-audit API (plans/audit.py): each detector exercised
against a hand-built plan known to contain (and known NOT to contain)
its target shape."""

from __future__ import annotations

import re

from pyspark.sql import Window, functions as F

from nosql_to_sql_migration_tool_spark.plans.audit import (
    broadcast_count,
    cartesian_products,
    global_windows,
    plan_report,
    pushed_filters,
    python_stage_count,
    python_stage_count_in,
    read_schemas,
    shuffle_count,
)
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def test_pushdown_and_pruning_detectors(spark):
    df = (
        load_table(spark, SF_DIR_SMOKE, "customer")
        .filter(F.col("c_custkey") == 100)
        .select("c_custkey", "c_name")
    )
    assert any("EqualTo(c_custkey,100)" in f for f in pushed_filters(df))
    schemas = read_schemas(df)
    assert schemas and all("c_acctbal" not in s for s in schemas)
    # a bare scan pushes nothing
    assert pushed_filters(load_table(spark, SF_DIR_SMOKE, "customer")) == []


def test_shuffle_and_broadcast_counters(spark):
    orders = load_table(spark, SF_DIR_SMOKE, "orders")
    nation = load_table(spark, SF_DIR_SMOKE, "nation")
    agg = orders.groupBy("o_orderstatus").count()
    assert shuffle_count(agg) >= 1
    assert shuffle_count(orders.select("o_orderkey")) == 0
    joined = orders.join(
        F.broadcast(nation),
        orders.o_custkey == nation.n_nationkey,
    )
    assert broadcast_count(joined) == 1


def test_cartesian_detector(spark):
    a = spark.range(3)
    b = spark.range(3).withColumnRenamed("id", "id2")
    # force a true cartesian (no broadcast hint, crossJoin)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert cartesian_products(a.crossJoin(b)) >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert cartesian_products(a.join(b, a.id == b.id2)) == 0


def test_global_window_detector(spark):
    df = load_table(spark, SF_DIR_SMOKE, "orders")
    bad = df.withColumn(
        "rk", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    good = df.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
        ),
    )
    assert global_windows(bad) == 1
    assert global_windows(good) == 0


def test_python_stage_detector(spark):
    import pandas as pd

    df = spark.range(10)
    def ident(it):
        for pdf in it:
            yield pdf

    py = df.mapInPandas(ident, "id long")
    assert python_stage_count(py) >= 1
    assert python_stage_count(df.selectExpr("id + 1")) == 0


def test_python_stage_detector_counts_map_in_arrow(spark):
    """Spark 4.1 prints a mapInArrow node as ``MapInArrow``, older
    releases as ``PythonMapInArrow``: both count as Python stages."""
    assert python_stage_count_in("+- MapInArrow (3)") == 1
    assert python_stage_count_in("+- PythonMapInArrow (3)") == 1

    def ident(it):
        yield from it

    df = spark.range(10).mapInArrow(ident, "id long")
    assert python_stage_count(df) == 1


def test_plan_report_shape(spark):
    rep = plan_report(
        load_table(spark, SF_DIR_SMOKE, "orders").groupBy("o_orderstatus").count()
    )
    assert set(rep) == {
        "pushed_filters",
        "read_schemas",
        "shuffles",
        "broadcasts",
        "python_stages",
        "cartesian_products",
        "global_windows",
    }
    assert rep["cartesian_products"] == 0 and rep["global_windows"] == 0


def test_pushed_filters_with_nested_brackets(spark):
    df = load_table(spark, SF_DIR_SMOKE, "orders").filter(
        F.col("o_orderstatus").isin("O", "F")
    )
    got = pushed_filters(df)
    # the In list survives intact (not truncated at its inner bracket)
    assert any(re.search(r"In\(o_orderstatus, \[[FO],[FO]\]\)", f)
               for f in got), got
