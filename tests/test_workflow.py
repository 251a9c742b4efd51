"""End-to-end workflow tests: schemaless JSON -> inferred schema -> DDL
script -> typed parse -> normalized parquet tables -> validation
(Invoke-FullMigration parity), then incremental sync rounds over the
written store (Invoke-IncrementalMigration parity)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nosql_to_sql_migration_tool_spark.fixtures import (
    changed_customer_source,
    ragged_documents,
)
from nosql_to_sql_migration_tool_spark.operators.cdc import (
    load_state,
    save_state,
    snapshot_state,
)
from nosql_to_sql_migration_tool_spark.operators.infer import (
    explode_json_paths,
    schema_stats,
    spark_schema_from_stats,
)
from nosql_to_sql_migration_tool_spark.operators.validation import (
    validation_sample,
    validation_verdict,
)
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from nosql_to_sql_migration_tool_spark.workflow import (
    full_migration,
    incremental_migration,
)
from tests.conftest import SF_DIR_SMOKE


def test_spark_schema_from_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, '{"name": "A", "age": 3, "address": {"city": "G"}, '
                '"tags": ["x"], "items": [{"sku": "S", "qty": 1}]}'),
            (2, '{"name": "B", "score": 1.5, "ok": true}'),
        ],
        "doc_id long, doc string",
    )
    stats = [
        r.asDict()
        for r in schema_stats(explode_json_paths(docs, "doc", "doc_id")).collect()
    ]
    schema = spark_schema_from_stats(stats)
    ddl = schema.simpleString()
    assert "name:string" in ddl and "age:bigint" in ddl
    assert "score:double" in ddl and "ok:boolean" in ddl
    assert "address:struct<city:string>" in ddl
    assert "tags:array<string>" in ddl
    assert "items:array<struct<qty:bigint,sku:string>>" in ddl


def test_full_migration_end_to_end(spark, tmp_path):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    docs = ragged_documents(customer)
    out = str(tmp_path / "migrated")
    report = full_migration(
        spark,
        docs,
        doc_col="doc",
        id_col="doc_id",
        table_name="people",
        output_dir=out,
        dialect="mysql",
        sample_size=1000,
    )
    assert set(report.tables) == {
        "people",
        "people_address",
        "people_tags",
        "people_items",
    }
    assert report.tables["people"] == docs.count()
    # child tables only for docs that have the structure
    n_with_addr = docs.filter(F.col("doc").contains('"address"')).count()
    assert report.tables["people_address"] == n_with_addr
    assert report.tables["people_tags"] > 0
    assert report.tables["people_items"] > 0
    # each count is the committed write's own observation: it must match
    # a fresh read of the table on disk
    for name, n in report.tables.items():
        assert n == spark.read.parquet(f"{out}/{name}.parquet").count(), name

    ddl = open(report.ddl_path).read()
    assert ddl.count("CREATE TABLE") == 4
    assert "`array_index` INT NOT NULL" in ddl  # mysql dialect

    assert report.validation["status"] == "PASSED"

    # written child tables carry parent FK + ordinal
    tags = spark.read.parquet(f"{out}/people_tags.parquet")
    assert set(tags.columns) == {"people_doc_id", "array_index", "value"}


def test_full_migration_empty_child_table_reports_zero(spark, tmp_path):
    """A child table whose write commits no rows still reports 0 (its
    observation completes with an empty count) instead of blocking."""
    import threading

    docs = spark.createDataFrame(
        [
            # a mixed-element array infers as array<struct> but parses
            # to NULL, so the child table comes out empty
            (1, '{"name": "a", "tags": [{"x": 1}, 2]}'),
            (2, '{"name": "b"}'),
        ],
        "doc_id long, doc string",
    )
    out = str(tmp_path / "empty_child")
    result = {}

    def run():
        result["report"] = full_migration(
            spark, docs, "doc", "doc_id", "t", out
        )

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "full_migration blocked on an empty table"
    report = result["report"]
    assert report.tables == {"t": 2, "t_tags": 0}
    assert spark.read.parquet(f"{out}/t_tags.parquet").count() == 0
    assert report.validation["status"] == "PASSED"


def _settled_job_ids(spark) -> set[int]:
    """Every job id the status store knows, read once the listener bus
    has stopped adding any (job-start events land asynchronously)."""
    import time

    tracker = spark.sparkContext.statusTracker()
    prev = None
    while True:
        cur = set(tracker.getJobIdsForGroup(None))
        if cur == prev:
            return cur
        prev = cur
        time.sleep(0.3)


def _ddl_columns(ddl: str) -> dict[str, dict[str, str]]:
    """table -> column -> the rest of its ANSI DDL line (type + flags)."""
    tables: dict[str, dict[str, str]] = {}
    for block in ddl.split("CREATE TABLE ")[1:]:
        name, body = block.split(" (\n", 1)
        tables[name] = {
            line.split('"')[1]: line.split('" ', 1)[1].rstrip(",")
            for line in body.split("\n")
            if line.startswith('    "')
        }
    return tables


def test_full_migration_ddl_declares_key_and_typed_fks(spark, tmp_path):
    """The exported DDL loads as written: the main table declares the key
    column, typed from the frame's key type, and every child table's FK
    column carries that same type."""
    docs = [
        (1, '{"name": "a", "address": {"city": "x"}, "tags": ["t"]}'),
        (2, '{"name": "b", "items": [{"sku": "s"}]}'),
    ]
    for key_type, sql in (("long", "INT"), ("string", "VARCHAR(255)")):
        report = full_migration(
            spark,
            spark.createDataFrame(docs, f"doc_id {key_type}, doc string"),
            "doc", "doc_id", "people", str(tmp_path / key_type),
        )
        ddl = _ddl_columns(open(report.ddl_path).read())
        assert ddl["people"]["doc_id"] == f"{sql} PRIMARY KEY", key_type
        children = set(ddl) - {"people"}
        assert children == {"people_address", "people_tags", "people_items"}
        for child in children:
            assert ddl[child]["people_doc_id"] == f"{sql} NOT NULL", child


def test_full_migration_not_null_counts_every_sampled_doc(spark, tmp_path):
    """NOT NULL means present in every sampled document: the same flags
    with the sample below or above the document count, and a NULL
    document in the sample counts against every field."""
    docs = [
        (1, '{"name": "a", "age": 1}'),
        (2, '{"name": "b"}'),
        (3, '{"name": "c"}'),
    ]

    def main_columns(rows, sample_size, out):
        report = full_migration(
            spark,
            spark.createDataFrame(rows, "doc_id long, doc string").coalesce(1),
            "doc", "doc_id", "t", str(tmp_path / out),
            sample_size=sample_size,
        )
        return _ddl_columns(open(report.ddl_path).read())["t"]

    expected = {
        "age": "INT",
        "doc_id": "INT PRIMARY KEY",
        "name": "VARCHAR(255) NOT NULL",
    }
    assert main_columns(docs, 2, "below") == expected
    assert main_columns(docs, 100, "above") == expected
    with_null = main_columns(docs + [(4, None)], 100, "null_doc")
    assert with_null == {**expected, "name": "VARCHAR(255)"}


# Jobs of one full_migration of the sf0.001 ragged fixture: two
# inference jobs (one of them counts the sample), four self-counting
# table writes with the last-N validation sample collected beside them,
# and one scan of the main table read back with its known schema that
# answers the whole target side of the verdict. A verdict that counted
# and sampled the source again after the writes ran 12; two walks of
# the inference stream, a separate sample count and an inferring
# read-back ran 16; the sequential write-then-read-back-count loop and
# the two-branch verdict ran 31.
FULL_MIGRATION_JOB_CEILING = 8


def test_full_migration_job_ceiling(spark, tmp_path):
    """Driver-latency guard: concurrent self-counting writes beside the
    validation sample, then a one-scan verdict, keep one migration to a
    fixed number of jobs."""
    docs = ragged_documents(load_table(spark, SF_DIR_SMOKE, "customer"))

    def migrate(out):
        return full_migration(
            spark, docs, "doc", "doc_id", "people", str(tmp_path / out),
            dialect="mysql", sample_size=1000,
        )

    migrate("warm")  # warm caches/codegen
    before = _settled_job_ids(spark)
    report = migrate("migrated")
    jobs = len(_settled_job_ids(spark) - before)
    assert report.validation["status"] == "PASSED"
    assert jobs <= FULL_MIGRATION_JOB_CEILING, jobs


def test_verdict_with_known_count_and_sample_is_one_job(spark, tmp_path):
    """Given the source count and the last-N sample, the verdict is one
    scan of the target on disk, the count included."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    path = str(tmp_path / "customer.parquet")
    customer.write.parquet(path)
    target = spark.read.schema(customer.schema).parquet(path)
    n = customer.count()
    sample = validation_sample(customer, "c_custkey", 10)

    before = _settled_job_ids(spark)
    row = validation_verdict(
        customer, target, "c_custkey", source_count=n, sample=sample
    ).collect()[0]
    jobs = len(_settled_job_ids(spark) - before)
    assert row["status"] == "PASSED"
    assert (row["target_count"], row["samples_validated"]) == (n, 10)
    assert jobs == 1, jobs


def test_full_migration_write_failure_surfaces_after_sample(
    spark, tmp_path, monkeypatch
):
    """A table write that fails re-raises its own error once the sample
    running beside it has settled; no unfilled write observation is
    read first."""
    from pyspark.sql import DataFrameWriter

    from nosql_to_sql_migration_tool_spark import workflow

    class WriteFailed(Exception):
        pass

    real_parquet = DataFrameWriter.parquet
    real_sample = workflow.last_n_sample
    settled = []

    def failing_parquet(self, path, *args, **kwargs):
        if path.endswith("people_tags.parquet"):
            raise WriteFailed(path)
        return real_parquet(self, path, *args, **kwargs)

    def recorded_sample(*args, **kwargs):
        rows = real_sample(*args, **kwargs)
        settled.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    monkeypatch.setattr(workflow, "last_n_sample", recorded_sample)
    docs = ragged_documents(load_table(spark, SF_DIR_SMOKE, "customer"))
    with pytest.raises(WriteFailed, match="people_tags"):
        full_migration(
            spark, docs, "doc", "doc_id", "people", str(tmp_path / "out")
        )
    assert settled == [10]


def test_run_workflow_multi_collection(spark, tmp_path):
    import json

    from nosql_to_sql_migration_tool_spark.workflow import (
        run_migration_workflow,
    )

    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    docs = ragged_documents(customer)
    report_path = str(tmp_path / "workflow_report.json")
    reports = run_migration_workflow(
        spark,
        {"alpha": docs.limit(50), "beta": docs.limit(30)},
        "FullMigration",
        str(tmp_path / "wf"),
        doc_col="doc",
        id_col="doc_id",
        report_path=report_path,
        sample_size=50,
    )
    assert set(reports) == {"alpha", "beta"}
    assert reports["alpha"].tables["alpha"] == 50
    assert reports["beta"].tables["beta"] == 30
    written = json.load(open(report_path))
    assert written["alpha"]["validation"]["status"] == "PASSED"


def test_incremental_migration_rounds(spark, tmp_path):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    out = str(tmp_path / "inc")

    first = incremental_migration(
        spark, customer, "c_custkey", "customer", out, "c_nationkey"
    )
    assert first.operation == "InitialLoad"
    assert first.tables["customer"] == customer.count()

    changed = changed_customer_source(customer)
    second = incremental_migration(
        spark, changed, "c_custkey", "customer", out, "c_nationkey"
    )
    assert second.operation == "IncrementalSync"
    assert set(second.validation) == {"NEW", "UPDATED", "DELETED", "UNCHANGED"}
    assert second.tables["customer"] == changed.count()

    # a third run with the same source is a no-op sync
    third = incremental_migration(
        spark, changed, "c_custkey", "customer", out, "c_nationkey"
    )
    assert set(third.validation) == {"UNCHANGED"}


def test_incremental_migration_rebuilds_lost_state(spark, tmp_path):
    """A sync whose ``sync_state_<t>`` is gone must classify against the
    target on disk, not treat every source row as NEW and union the
    source onto the kept target (which duplicated every key)."""
    import shutil

    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    out = tmp_path / "lost_state"
    incremental_migration(
        spark, customer, "c_custkey", "customer", str(out), "c_nationkey"
    )
    shutil.rmtree(out / "sync_state_customer")

    changed = changed_customer_source(customer)
    report = incremental_migration(
        spark, changed, "c_custkey", "customer", str(out), "c_nationkey"
    )
    assert report.operation == "IncrementalSync"
    target = spark.read.parquet(str(out / "customer.parquet"))
    assert target.count() == target.select("c_custkey").distinct().count()
    assert report.tables["customer"] == changed.count()
    got = target.select(*changed.columns)
    assert got.exceptAll(changed).count() == 0
    assert changed.exceptAll(got).count() == 0
    # the rebuilt state carries the partition and is persisted, so the
    # next round is a no-op
    assert load_state(spark, str(out / "sync_state_customer")).columns == [
        "c_custkey", "row_hash", "c_nationkey",
    ]
    again = incremental_migration(
        spark, changed, "c_custkey", "customer", str(out), "c_nationkey"
    )
    assert set(again.validation) == {"UNCHANGED"}


@pytest.mark.parametrize("lost", ["deleted", "two_column"])
def test_incremental_migration_rebuilds_state_with_source_types(
    spark, tmp_path, lost
):
    """A state that is missing, or lacks the partition column, is rebuilt
    from the target read with the source's schema. Read with inferred
    types, a string partition with digit values (``"01"``) came back as
    an int: a missing state then classified unchanged rows UPDATED, and a
    two-column state's round deleted the unchanged row next to an
    updated one."""
    import shutil

    schema = "k long, v string, p string"
    rows = [(1, "a", "01"), (2, "b", "01"), (3, "c", "02"), (4, "d", "10")]
    first = spark.createDataFrame(rows, schema)
    out = str(tmp_path / lost)
    state_path = f"{out}/sync_state_t"
    incremental_migration(spark, first, "k", "t", out, "p")
    if lost == "deleted":
        shutil.rmtree(state_path)
    else:
        save_state(snapshot_state(first, "k"), state_path)

    source = spark.createDataFrame([(1, "A", "01"), *rows[1:]], schema)
    report = incremental_migration(spark, source, "k", "t", out, "p")
    assert report.validation == {"UPDATED": 1, "UNCHANGED": 3}
    on_disk = spark.read.schema(schema).parquet(f"{out}/t.parquet")
    assert report.tables == {"t": 4} == {"t": on_disk.count()}
    got = on_disk.select(*source.columns)
    assert got.exceptAll(source).isEmpty()
    assert source.exceptAll(got).isEmpty()


def test_incremental_migration_counts_match_disk_over_rounds(spark, tmp_path):
    """Each round's reported target count is the apply's own count, never
    a read-back: it must equal a fresh on-disk count, and the target must
    equal the round's source, across a round with an UPDATED row moving
    to another partition, a round that empties a partition and a
    no-change round."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    out = str(tmp_path / "rounds")
    target_path = f"{out}/customer.parquet"
    # a key the changed source keeps, so the move round sees it UPDATED
    moved_key = customer.filter(
        (F.col("c_nationkey") == 1) & (F.col("c_custkey") % 11 != 0)
    ).first()["c_custkey"]
    moved = customer.withColumn(
        "c_nationkey",
        F.when(F.col("c_custkey") == moved_key, F.lit(2)).otherwise(
            F.col("c_nationkey")
        ),
    )
    emptied = moved.filter(F.col("c_nationkey") != 3)
    rounds = [
        ("InitialLoad", customer, None),
        ("IncrementalSync", changed_customer_source(customer), None),
        ("IncrementalSync", moved, None),
        ("IncrementalSync", emptied, None),
        ("IncrementalSync", emptied, {"UNCHANGED"}),
    ]
    for operation, source, kinds in rounds:
        report = incremental_migration(
            spark, source, "c_custkey", "customer", out, "c_nationkey"
        )
        assert report.operation == operation
        if kinds is not None:
            assert set(report.validation) == kinds
        on_disk = spark.read.parquet(target_path)
        assert report.tables["customer"] == on_disk.count() == source.count()
        got = on_disk.select(*source.columns)
        assert got.exceptAll(source).isEmpty()
        assert source.exceptAll(got).isEmpty()
    assert moved_key in {
        r["c_custkey"]
        for r in spark.read.parquet(f"{target_path}/c_nationkey=2").collect()
    }
    assert not os.path.exists(f"{target_path}/c_nationkey=3")


# Jobs of one warm incremental_migration sync round on the sf0.001
# customer fixture: the state read, one diff checkpoint that also counts
# the changes and names the touched partitions, one rewrite that reads
# and replaces only the touched partitions, and the state write. The
# round that scanned every target partition to find the touched ones ran
# 12; the one that also evaluated the lazy diff four times and read the
# target back to count it ran 30.
INCREMENTAL_SYNC_JOB_CEILING = 8


def test_incremental_sync_job_ceiling(spark, tmp_path):
    """Driver-latency guard: one sync round evaluates the hash diff once
    and never reads the target back to count it."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    changed = changed_customer_source(customer)
    out = str(tmp_path / "inc")

    def sync_round(source):
        return incremental_migration(
            spark, source, "c_custkey", "customer", out, "c_nationkey"
        )

    sync_round(customer)
    sync_round(changed)  # warm caches/codegen
    before = _settled_job_ids(spark)
    report = sync_round(customer)
    jobs = len(_settled_job_ids(spark) - before)
    assert report.operation == "IncrementalSync"
    assert set(report.validation) == {"NEW", "UPDATED", "DELETED", "UNCHANGED"}
    assert jobs <= INCREMENTAL_SYNC_JOB_CEILING, jobs


def test_incremental_sync_never_reads_untouched_partitions(spark, tmp_path):
    """The sync state carries each key's partition, so a round reads only
    the partitions its changes touch: with an untouched partition's files
    unreadable, a round that changes one row of another partition still
    succeeds, reports the right count and leaves that partition equal to
    the source."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    out = str(tmp_path / "scoped")
    target_path = f"{out}/customer.parquet"
    incremental_migration(
        spark, customer, "c_custkey", "customer", out, "c_nationkey"
    )
    garbled = glob.glob(f"{target_path}/c_nationkey=5/part-*")
    assert garbled
    for path in garbled:
        with open(path, "wb") as fh:
            fh.write(b"not a parquet file")

    key = customer.filter(F.col("c_nationkey") == 1).first()["c_custkey"]
    source = customer.withColumn(
        "c_name",
        F.when(F.col("c_custkey") == key, F.lit("renamed")).otherwise(
            F.col("c_name")
        ),
    )
    report = incremental_migration(
        spark, source, "c_custkey", "customer", out, "c_nationkey"
    )
    rows = customer.count()
    assert report.validation == {"UPDATED": 1, "UNCHANGED": rows - 1}
    assert report.tables["customer"] == rows
    want = source.filter(F.col("c_nationkey") == 1).drop("c_nationkey")
    got = spark.read.parquet(f"{target_path}/c_nationkey=1").select(*want.columns)
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()


def test_incremental_migration_upgrades_two_column_state(spark, tmp_path):
    """A ``(key, row_hash)`` state written by an older round is never
    misread: its round rebuilds the state from the target, leaves the
    target equal to the source and persists a three-column state, so the
    next round reuses it within the job ceiling."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    out = str(tmp_path / "legacy")
    target_path = f"{out}/customer.parquet"
    state_path = f"{out}/sync_state_customer"

    def sync_round(source):
        return incremental_migration(
            spark, source, "c_custkey", "customer", out, "c_nationkey"
        )

    def assert_target_is(source, report):
        on_disk = spark.read.parquet(target_path)
        assert report.tables["customer"] == on_disk.count() == source.count()
        got = on_disk.select(*source.columns)
        assert got.exceptAll(source).isEmpty()
        assert source.exceptAll(got).isEmpty()

    sync_round(customer)
    save_state(
        snapshot_state(spark.read.parquet(target_path), "c_custkey"), state_path
    )
    assert load_state(spark, state_path).columns == ["c_custkey", "row_hash"]

    changed = changed_customer_source(customer)
    report = sync_round(changed)
    assert set(report.validation) == {"NEW", "UPDATED", "DELETED", "UNCHANGED"}
    assert_target_is(changed, report)
    assert load_state(spark, state_path).columns == [
        "c_custkey", "row_hash", "c_nationkey",
    ]

    before = _settled_job_ids(spark)
    report = sync_round(customer)
    jobs = len(_settled_job_ids(spark) - before)
    assert set(report.validation) == {"NEW", "UPDATED", "DELETED", "UNCHANGED"}
    assert jobs <= INCREMENTAL_SYNC_JOB_CEILING, jobs
    assert_target_is(customer, report)


def test_incremental_migration_rejects_null_keys(spark, tmp_path):
    """A NULL key never matches in the diff's full-outer join or the
    apply's anti-join, so every round would insert its row again (three
    rounds left six NULL-key rows). The initial load refuses it and
    leaves nothing behind, and a sync round refuses it before writing,
    leaving the target and the state as they were."""
    schema = "k long, v string, p int"
    with_null = spark.createDataFrame(
        [(1, "a", 1), (None, "b", 1), (3, "c", 2)], schema
    )
    out = str(tmp_path / "nulls")
    with pytest.raises(Exception, match="NULL key"):
        incremental_migration(spark, with_null, "k", "t", out, "p")

    first = incremental_migration(
        spark, spark.createDataFrame([(1, "a", 1), (3, "c", 2)], schema),
        "k", "t", out, "p",
    )
    assert first.operation == "InitialLoad"
    assert first.tables == {"t": 2}

    def on_disk():
        return (
            sorted(spark.read.parquet(f"{out}/t.parquet").collect()),
            sorted(load_state(spark, f"{out}/sync_state_t").collect()),
        )

    before = on_disk()
    with pytest.raises(ValueError, match="NULL key"):
        incremental_migration(spark, with_null, "k", "t", out, "p")
    assert on_disk() == before


def test_clean_corpus_pipeline(spark):
    """End-to-end corpus cleaning: quality gate -> exact dedup -> near
    dedup -> decontamination -> packing, with monotone shrinking counts
    and windows only over survivors."""
    from pyspark.sql import functions as F

    from nosql_to_sql_migration_tool_spark.fixtures import (
        duplicated_documents,
    )
    from nosql_to_sql_migration_tool_spark.pipeline import clean_corpus
    from nosql_to_sql_migration_tool_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    docs = duplicated_documents(load_table(spark, SF_DIR_SMOKE, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    clean, windows, rep = clean_corpus(docs, eval_set, report=True)

    assert rep is not None
    assert (
        rep.n_input >= rep.n_quality >= rep.n_exact >= rep.n_near
        >= rep.n_clean > 0
    )
    # exact dedup actually removed the planted byte-identical copies
    assert rep.n_exact < rep.n_quality
    # every window row is a surviving document, exactly once
    assert windows.count() == rep.n_clean
    assert windows.join(clean, "doc_id", "left_anti").count() == 0
    # eval members that survived this far are heavily contaminated by
    # construction (they ARE the eval set) and must have been dropped
    assert clean.filter(F.col("doc_id") % 97 == 0).count() == 0


def test_clean_corpus_keep_best_policy(spark):
    """keep_best survivorship yields one doc per near-dup component —
    same component count as greedy on this fixture (planted dups only),
    but the kept ids may differ because the LONGEST copy wins."""
    from pyspark.sql import functions as F

    from nosql_to_sql_migration_tool_spark.fixtures import (
        duplicated_documents,
    )
    from nosql_to_sql_migration_tool_spark.pipeline import clean_corpus
    from nosql_to_sql_migration_tool_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    docs = duplicated_documents(load_table(spark, SF_DIR_SMOKE, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    greedy, _, _ = clean_corpus(docs, eval_set)
    best, windows, _ = clean_corpus(docs, eval_set, keep_best=True)
    assert best.count() == greedy.count()
    assert windows.join(best, "doc_id", "left_anti").count() == 0
    # no surviving doc is a near-dup of another survivor
    from nosql_to_sql_migration_tool_spark.operators.dedup import (
        near_dup_pairs,
    )

    assert near_dup_pairs(best).count() == 0
