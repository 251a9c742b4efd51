"""Tests of the traced-run machinery: the event-log folder on the sf0.001
fixture tables, the call meter, and the metric catalog against
BENCHMARK.json. Run with ``python -m pytest perfbench -q`` from the
repository root (separately from ``tests/``: the folder test needs its
own session with the event log enabled)."""

from __future__ import annotations

import json
import os
import sys
import threading
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from nosql_to_sql_migration_tool_spark.sources.registry import (  # noqa: E402
    DEFAULT_SF_DIR as SF_DIR,  # the sf0.001 fixture tables
)
from perfbench import report  # noqa: E402
from perfbench.trace import CallMeter, Span, Tracer, _union_s, fold_event_log  # noqa: E402


def test_union_clips_and_merges_intervals():
    assert _union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert _union_s([], 0, 1) == 0


def test_call_meter_counts_outermost_calls_and_restores():
    import types

    pkg = types.ModuleType("fakepkg_meter")
    mod = types.ModuleType("fakepkg_meter.fs")

    def inner():
        return 1

    def outer():
        return mod.inner() + 1

    inner.__module__ = outer.__module__ = mod.__name__
    mod.inner, mod.outer = inner, outer
    user = types.ModuleType("fakepkg_meter.user")
    user.outer = outer  # a ``from fs import outer`` binding elsewhere
    sys.modules.update({pkg.__name__: pkg, mod.__name__: mod, user.__name__: user})
    try:
        meter = CallMeter()
        meter.install(mod, "fakepkg_meter", ("inner", "outer"))
        assert user.outer() == 2 and mod.inner() == 1
        assert meter.calls == 2  # outer (inner nested, not counted) + inner
        meter.uninstall()
        assert user.outer is outer and mod.inner is inner
    finally:
        for name in (pkg.__name__, mod.__name__, user.__name__):
            sys.modules.pop(name, None)


def test_catalog_matches_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    from perfbench.workloads import WORKLOADS

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.E2E
    listed = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert listed.items() <= report.PER_LAYER.items()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is not None:
        pytest.skip("a session without the event log is already running")
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"fixture tables missing: {SF_DIR}")
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-trace-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .getOrCreate()
    )
    from nosql_to_sql_migration_tool_spark.sources.registry import load_table

    tracer = Tracer(spark.sparkContext)
    customer = load_table(spark, SF_DIR, "customer")

    def passthrough(batches):
        yield from batches

    with tracer.span("op", op=0):
        with tracer.span("shuffle"):
            customer.groupBy("c_nationkey").count().collect()
        with tracer.span("python"):
            customer.select("c_custkey").mapInPandas(passthrough, "c_custkey long").count()
        with tracer.span("threaded"):  # no job group: attributed by time
            t = threading.Thread(target=customer.count)
            t.start()
            t.join(timeout=120)
            assert not t.is_alive()
    spark.stop()
    fold_event_log(str(log_dir), tracer.spans)
    return {s.name: s for s in tracer.spans}


def test_fold_attributes_jobs_to_spans(traced_session):
    spans = traced_session
    shuffle, python, threaded, op = (
        spans[n].counters for n in ("shuffle", "python", "threaded", "op")
    )
    assert shuffle["jobs"] >= 1 and shuffle["tasks"] >= 1
    assert shuffle["shuffle_write_mb"] > 0 and shuffle["python_task_s"] == 0
    assert python["jobs"] >= 1 and python["python_task_s"] > 0
    assert threaded["jobs"] >= 1
    assert op["jobs"] == shuffle["jobs"] + python["jobs"] + threaded["jobs"]
    assert op["failed_tasks"] == 0
    for s in spans.values():
        assert 0 <= s.counters["driver_gap_s"] <= s.wall_s
        assert s.counters["active_s"] <= s.wall_s + 1e-6


def test_span_metrics_fold_layer_counters():
    root = Span("r", "op", None, 1, 0.0, 10.0, {"jobs": 7, "task_s": 3.0})
    gate = Span("g", "ingest_stream.gate", "r", 1, 1.0, 4.0,
                {"jobs": 5, "tasks": 9, "task_s": 2.0, "driver_gap_s": 1.5})
    out = report.span_metrics(root, [gate])
    assert out["ingest_stream.gate.busy_s"] == 3.0
    assert out["ingest_stream.gate.jobs_per_cycle"] == 5
    assert out["op.jobs"] == 7
    assert set(out) <= set(report.PER_LAYER)
