"""The hadoop_fs shim is the single allowed crossing into Spark's
private JVM handles — these tests pin both its behavior and the
containment contract (no `_jvm`/`_jsc`/`_jdf` anywhere else in the
package)."""

from __future__ import annotations

import re
from pathlib import Path

from nosql_to_sql_migration_tool_spark.hadoop_fs import (
    delete_paths,
    path_exists,
)

PKG = Path(__file__).resolve().parent.parent / "nosql_to_sql_migration_tool_spark"


def test_private_jvm_api_contained_to_shim():
    offenders = []
    for py in PKG.rglob("*.py"):
        if py.name == "hadoop_fs.py":
            continue
        if re.search(r"_jvm|_jsc|_jdf|_jsparkSession", py.read_text()):
            offenders.append(str(py))
    assert not offenders, offenders


def test_delete_paths_removes_dirs_and_tolerates_absent(spark, tmp_path):
    d1 = tmp_path / "p=1"
    d1.mkdir()
    (d1 / "part-0.parquet").write_bytes(b"x")
    d2 = tmp_path / "p=2"  # never created
    assert path_exists(spark, str(d1))
    assert not path_exists(spark, str(d2))
    removed = delete_paths(spark, [str(d1), str(d2)])
    assert removed == 1
    assert not d1.exists()


def test_list_files_and_rename(spark, tmp_path):
    """list_files returns (path, size) of plain files only, honoring the
    suffix filter; rename_path moves a directory atomically."""
    from nosql_to_sql_migration_tool_spark.hadoop_fs import (
        list_files,
        path_exists,
        rename_path,
    )

    src = str(tmp_path / "dir_a")
    spark.range(100).write.mode("overwrite").parquet(src)
    files = list_files(spark, src, suffix=".parquet")
    assert files and all(p.endswith(".parquet") and s > 0 for p, s in files)
    # _SUCCESS marker is a file but filtered by suffix
    all_files = list_files(spark, src)
    assert len(all_files) >= len(files)

    dst = str(tmp_path / "dir_b")
    assert rename_path(spark, src, dst)
    assert not path_exists(spark, src)
    assert spark.read.parquet(dst).count() == 100


def test_try_read_parquet_probe_semantics(spark, tmp_path):
    """VERDICT r14 what's-wrong #1: the exists probe. None for a missing
    path (the FS check — no blind read, no JVM stack trace), None for an
    existing-but-parquet-empty directory (what a takedown that purges a
    whole sink leaves behind — the regression the r15 conversion hit),
    and the real frame otherwise."""
    from nosql_to_sql_migration_tool_spark.hadoop_fs import try_read_parquet

    missing = str(tmp_path / "never_written")
    assert try_read_parquet(spark, missing) is None

    empty = tmp_path / "emptied_sink"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    assert try_read_parquet(spark, str(empty)) is None

    real = str(tmp_path / "real_store")
    spark.range(7).write.parquet(real)
    got = try_read_parquet(spark, real)
    assert got is not None and got.count() == 7


def test_run_concurrent_jobs_inherit_caller_job_group(spark):
    """Jobs submitted from run_concurrent's pool threads carry the
    caller's job group, so they can be attributed and cancelled."""
    import time

    from nosql_to_sql_migration_tool_spark.hadoop_fs import run_concurrent

    sc = spark.sparkContext
    group = "test-run-concurrent-group"
    sc.setJobGroup(group, "run_concurrent inheritance")
    try:
        run_concurrent(
            lambda: spark.range(10).count(), lambda: spark.range(20).count()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store asynchronously
    deadline = time.monotonic() + 30
    while len(sc.statusTracker().getJobIdsForGroup(group)) < 2:
        assert time.monotonic() < deadline, "pool-thread jobs left the group"
        time.sleep(0.1)
