"""The benchmark in ``perfbench/`` changes only with the benchmark itself,
yet it imports engine functions at module level and calls them by
position. An engine change that drops, renames or narrows one of them
must fail here, in the tier-1 suite, and not first when the benchmark
runs."""

from __future__ import annotations

import importlib
import inspect


def test_perfbench_modules_import():
    run = importlib.import_module("perfbench.run")
    workloads = importlib.import_module("perfbench.workloads")
    assert callable(run.main)
    assert {"migrate_full", "sync_recent"} <= set(workloads.WORKLOADS)


def test_perfbench_sync_mirror_call_shape_binds():
    """``SyncRecent.run_traced`` calls ``apply_changes_to_path(spark,
    target, diff, key, partition)``."""
    from perfbench.workloads import apply_changes_to_path

    inspect.signature(apply_changes_to_path).bind(
        "spark", "target", "diff", "key", "partition"
    )
