"""End-to-end CDC apply + state persistence round-trips (the reference's
sync cycle: Sync.ps1:179-247 apply, :296-349 state persistence), proving
on real parquet that (a) apply reproduces the source, (b) the persisted
state drives a correct second sync, (c) partition-scoped apply rewrites
ONLY touched partition directories."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nosql_to_sql_migration_tool_spark.fixtures import (
    changed_customer_source,
    regional_changed_customer_source,
)
from nosql_to_sql_migration_tool_spark.operators.cdc import (
    apply_changes,
    apply_changes_to_path,
    load_state,
    save_state,
    snapshot_state,
    sync,
)
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_apply_roundtrip_and_state_persistence(spark, tmp_path):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    source = changed_customer_source(customer)
    state_path = str(tmp_path / "sync_state")

    # no persisted state -> full-sync fallback (Sync.ps1:62-65)
    assert load_state(spark, state_path) is None

    save_state(snapshot_state(customer, "c_custkey"), state_path)
    state = load_state(spark, state_path)
    assert state is not None and state.columns == ["c_custkey", "row_hash"]

    diff, new_state = sync(source, state, "c_custkey")
    # a two-column state carries nothing into the diff or the new state
    assert diff.columns == [*source.columns, "row_hash", "change_type"]
    assert new_state.columns == ["c_custkey", "row_hash"]
    applied = apply_changes(customer, diff, "c_custkey")
    assert _same_rows(applied, source)

    # persist the post-sync state; a second sync against the SAME source
    # must classify everything UNCHANGED (the idempotence contract)
    save_state(new_state, state_path)
    diff2, _ = sync(source, load_state(spark, state_path), "c_custkey")
    counts = {
        r["change_type"]: r["n"]
        for r in diff2.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"UNCHANGED"}


def test_partition_scoped_apply_touches_only_changed_dirs(spark, tmp_path):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    target_path = str(tmp_path / "customer_target")
    customer.write.partitionBy("c_nationkey").parquet(target_path)

    before = {}
    for d in os.listdir(target_path):
        if d.startswith("c_nationkey="):
            full = os.path.join(target_path, d)
            before[d] = sorted(os.listdir(full))

    source = regional_changed_customer_source(customer)
    state = snapshot_state(customer, "c_custkey", "c_nationkey")
    diff, _ = sync(source, state, "c_custkey")
    apply_changes_to_path(spark, target_path, diff, "c_custkey", "c_nationkey")

    changed_dirs = set()
    for d, files in before.items():
        full = os.path.join(target_path, d)
        if sorted(os.listdir(full)) != files:
            changed_dirs.add(d)
    # only the hot nations (0-4) were rewritten
    assert changed_dirs
    assert all(
        int(d.split("=")[1]) < 5 for d in changed_dirs
    ), changed_dirs

    # and the applied store now equals the source exactly
    result = spark.read.parquet(target_path).select(*source.columns)
    assert _same_rows(result, source)


def test_apply_removes_fully_deleted_partition_dir(spark, tmp_path):
    """A diff that deletes EVERY row of a partition (and adds none) must
    remove that partition's directory — dynamic overwrite alone would
    leave the old files in place because no output row targets it."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    target_path = str(tmp_path / "customer_target")
    customer.write.partitionBy("c_nationkey").parquet(target_path)
    assert os.path.isdir(os.path.join(target_path, "c_nationkey=3"))

    # source = customer minus ALL of nation 3 → every nation-3 row DELETED
    source = customer.filter(F.col("c_nationkey") != 3)
    state = snapshot_state(customer, "c_custkey", "c_nationkey")
    diff, _ = sync(source, state, "c_custkey")
    apply_changes_to_path(spark, target_path, diff, "c_custkey", "c_nationkey")

    assert not os.path.exists(os.path.join(target_path, "c_nationkey=3"))
    result = spark.read.parquet(target_path).select(*source.columns)
    assert _same_rows(result, source)


def _escaped_partition_case(spark, tmp_path):
    """A target partitioned on ``p`` with escaped and NULL partition
    values, and a source that empties ``x:y`` and NULL and moves key 3
    from ``a/b`` to ``plain`` (so ``a/b`` keeps key 6 only)."""
    target = spark.createDataFrame(
        [(1, "x:y", "a"), (2, "x:y", "b"), (3, "a/b", "c"), (4, None, "d"),
         (5, "plain", "e"), (6, "a/b", "f")],
        "k long, p string, v string",
    )
    target_path = str(tmp_path / "tgt")
    target.write.partitionBy("p").parquet(target_path)
    source = spark.createDataFrame(
        [(3, "plain", "c"), (5, "plain", "e"), (6, "a/b", "f")],
        "k long, p string, v string",
    )
    return target, target_path, source


def test_apply_removes_emptied_partitions_with_escaped_names(spark, tmp_path):
    """Spark percent-escapes partition values in directory names (``x:y``
    is stored as ``p=x%3Ay``, ``a/b`` as ``p=a%2Fb``) and writes NULL to
    the hive default partition. Emptying such partitions must still
    remove their directories, and the returned count must match disk."""
    target, target_path, source = _escaped_partition_case(spark, tmp_path)
    assert {"p=x%3Ay", "p=a%2Fb", "p=__HIVE_DEFAULT_PARTITION__"} <= set(
        os.listdir(target_path)
    )

    diff, _ = sync(source, snapshot_state(target, "k", "p"), "k")
    n = apply_changes_to_path(spark, target_path, diff, "k", "p")

    assert sorted(d for d in os.listdir(target_path) if d.startswith("p=")) == [
        "p=a%2Fb", "p=plain",
    ]
    result = spark.read.parquet(target_path).select(*source.columns)
    assert n == result.count() == 3
    assert _same_rows(result, source)


def test_apply_with_partition_carrying_state(spark, tmp_path):
    """A diff against a ``(key, row_hash, partition)`` state carries each
    departing key's old partition as ``__old_<p>``, and applying it
    reproduces the source. The new state keeps the partition column with
    the source's values. A diff against a two-column state is refused."""
    target, target_path, source = _escaped_partition_case(spark, tmp_path)

    two_column, _ = sync(source, snapshot_state(target, "k"), "k")
    with pytest.raises(ValueError, match="__old_p"):
        apply_changes_to_path(spark, target_path, two_column, "k", "p")

    state = snapshot_state(target, "k", "p")
    assert state.columns == ["k", "row_hash", "p"]
    diff, new_state = sync(source, state, "k")
    assert "__old_p" in diff.columns
    assert sorted(new_state.select("k", "p").collect()) == sorted(
        source.select("k", "p").collect()
    )
    apply_changes_to_path(spark, target_path, diff, "k", "p")
    result = spark.read.parquet(target_path).select(*source.columns)
    assert _same_rows(result, source)


def test_full_sync_with_no_state_classifies_all_new(spark):
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    diff, new_state = sync(customer, None, "c_custkey")
    assert (
        diff.filter(F.col("change_type") != "NEW").count() == 0
    )
    assert new_state.count() == customer.count()


def test_merge_gate_reports_unavailable_clearly(spark):
    """The MERGE INTO path activates only when a transactional table
    format is on the classpath; in this container the gate must be
    closed with an actionable error, and the fallback path stays the
    documented apply_changes_to_path."""
    from nosql_to_sql_migration_tool_spark.operators.cdc import (
        merge_available,
        merge_changes,
    )

    if merge_available():
        pytest.skip("delta runtime present: covered by test_merge_into_delta")
    with pytest.raises(RuntimeError, match="apply_changes_to_path"):
        merge_changes(spark, "/tmp/nowhere", None, "k")


@pytest.mark.skipif(
    not __import__(
        "nosql_to_sql_migration_tool_spark.operators.cdc",
        fromlist=["merge_available"],
    ).merge_available(),
    reason="no Delta runtime in container (documented gate)",
)
def test_merge_into_delta(spark, tmp_path):
    """Exercised the day the environment provides delta-spark: MERGE
    applies NEW/UPDATED/DELETED in one atomic commit and matches the
    parquet-rewrite fallback's semantics."""
    from nosql_to_sql_migration_tool_spark.operators.cdc import merge_changes

    target = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    ).write.format("delta").save(target)
    diff = spark.createDataFrame(
        [(2, "B", "UPDATED"), (3, None, "DELETED"), (4, "d", "NEW")],
        ["k", "v", "change_type"],
    )
    merge_changes(spark, target, diff, "k")
    got = sorted(
        spark.read.format("delta").load(target).collect(),
        key=lambda r: r.k,
    )
    assert [(r.k, r.v) for r in got] == [(1, "a"), (2, "B"), (4, "d")]


def test_merge_spec_parity_with_partition_scoped_rewrite(spark, tmp_path):
    """VERDICT r5 #7: the MERGE INTO when-ladder (merge_changes' spec —
    matched+DELETED drop, matched+UPDATED replace, not-matched+NEW
    insert) and the partition-scoped parquet rewrite must produce
    IDENTICAL tables for any diff produced by sync() (whose
    classification is consistent with the target by construction). The
    spec is replayed literally row-by-row here, so if a Delta jar ever
    appears, activating merge_changes is a flag flip with proven
    semantics."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    source = regional_changed_customer_source(customer)
    target_path = str(tmp_path / "tgt")
    customer.write.partitionBy("c_nationkey").parquet(target_path)

    diff, _state = sync(
        source, snapshot_state(customer, "c_custkey", "c_nationkey"), "c_custkey"
    )

    # (a) partition-scoped rewrite (the shipping fallback)
    apply_changes_to_path(
        spark, target_path, diff, "c_custkey", "c_nationkey"
    )
    fallback = spark.read.parquet(target_path)

    # (b) the MERGE spec replayed literally on the original target
    tgt = {r["c_custkey"]: r.asDict() for r in customer.collect()}
    for r in diff.collect():
        k, ch = r["c_custkey"], r["change_type"]
        row = {c: r[c] for c in customer.columns}
        if k in tgt and ch == "DELETED":
            del tgt[k]
        elif k in tgt and ch == "UPDATED":
            tgt[k] = row
        elif k not in tgt and ch == "NEW":
            tgt[k] = row
    spec = spark.createDataFrame(list(tgt.values()), customer.schema)

    assert _same_rows(
        fallback.select(*customer.columns), spec
    ), "merge-spec and partition-scoped rewrite diverged"


def test_maintain_aggregate_equals_recompute(spark):
    from nosql_to_sql_migration_tool_spark.fixtures import (
        changed_customer_source,
    )
    from nosql_to_sql_migration_tool_spark.operators.cdc import (
        maintain_aggregate,
    )
    from nosql_to_sql_migration_tool_spark.sources.registry import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR_SMOKE

    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    source = changed_customer_source(customer)
    maintained = {
        r["c_nationkey"]: (r["n_rows"], r["sum_measure"])
        for r in maintain_aggregate(
            customer, source, "c_custkey", "c_nationkey", "c_acctbal"
        ).collect()
    }
    recomputed = {
        r["c_nationkey"]: (r["n_rows"], r["sum_measure"])
        for r in source.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.coalesce(F.col("c_acctbal"), F.lit(0)).cast(
                    "decimal(18,2)"
                )
            )
            .cast("double")
            .alias("sum_measure"),
        )
        .collect()
    }
    assert maintained == recomputed


def test_maintain_aggregate_group_move_and_drop(spark):
    from nosql_to_sql_migration_tool_spark.operators.cdc import (
        maintain_aggregate,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0)],
        "k long, g string, m double",
    )
    # key 1 moves a->b with new measure; key 2 deleted (group a empties);
    # key 4 arrives in c with NULL measure (counts, adds 0).
    new = spark.createDataFrame(
        [(1, "b", 4.0), (3, "b", 7.0), (4, "c", None)],
        "k long, g string, m double",
    )
    got = {
        r["g"]: (r["n_rows"], r["sum_measure"])
        for r in maintain_aggregate(old, new, "k", "g", "m").collect()
    }
    assert got == {"b": (2, 11.0), "c": (1, 0.0)}  # 'a' dropped at 0


def test_maintain_aggregate_property_random_churn(spark):
    """Randomized pin of the IVM invariant: for arbitrary keyed old/new
    snapshots — including NULL groups, NULL measures, group moves,
    pure inserts and pure deletes — delta maintenance must equal the
    full recompute. Few examples, real Spark jobs (the per-example cost
    is the join pipeline, so the sample count stays small; the
    fixture-based tests above pin the named edge cases
    deterministically)."""
    import random

    from pyspark.sql import functions as F

    from nosql_to_sql_migration_tool_spark.operators.cdc import (
        maintain_aggregate,
    )

    rng = random.Random(20260814)
    groups = ["a", "b", "c", None]
    for _ in range(6):
        old_rows = [
            (k, rng.choice(groups), rng.choice([None, 1.25, -3.5, 10.0]))
            for k in rng.sample(range(20), rng.randint(0, 12))
        ]
        # new snapshot: each old key survives/mutates with p=.5, plus
        # fresh keys
        new_rows = [
            (k, rng.choice(groups), rng.choice([None, 1.25, 7.75]))
            for (k, _, _) in old_rows
            if rng.random() < 0.5
        ] + [
            (k, rng.choice(groups), rng.choice([None, 2.0]))
            for k in rng.sample(range(20, 30), rng.randint(0, 5))
        ]
        old = spark.createDataFrame(old_rows, "k long, g string, m double")
        new = spark.createDataFrame(new_rows, "k long, g string, m double")
        maintained = {
            r["g"]: (r["n_rows"], r["sum_measure"])
            for r in maintain_aggregate(old, new, "k", "g", "m").collect()
        }
        recomputed = {
            r["g"]: (r["n_rows"], r["sum_measure"])
            for r in new.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.coalesce(F.col("m"), F.lit(0)).cast("decimal(18,2)")
                )
                .cast("double")
                .alias("sum_measure"),
            )
            .collect()
        }
        assert maintained == recomputed, (old_rows, new_rows)


def test_maintain_aggregate_duplicate_key_guard(spark):
    """ADVICE r6: a duplicate key fans out the full_outer join and
    silently multiplies deltas — validate_unique_key=True must raise on
    either side; unique inputs must pass the guard unchanged."""
    import pytest

    from nosql_to_sql_migration_tool_spark.operators.cdc import (
        maintain_aggregate,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0)], "k long, g string, m double"
    )
    new_dup = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 3.0)], "k long, g string, m double"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        maintain_aggregate(
            old, new_dup, "k", "g", "m", validate_unique_key=True
        )
    with pytest.raises(ValueError, match="old_snapshot"):
        maintain_aggregate(
            new_dup, old, "k", "g", "m", validate_unique_key=True
        )
    ok = maintain_aggregate(
        old, old, "k", "g", "m", validate_unique_key=True
    ).collect()
    assert {(r["g"], r["n_rows"]) for r in ok} == {("a", 2)}


def test_partition_scoped_apply_leaves_session_conf_untouched(spark, tmp_path):
    """Round 7: apply_changes_to_path used to SET session-level
    partitionOverwriteMode=dynamic and never restore it, silently
    flipping every later overwrite in the session (the rollup
    compaction's static per-hour rewrite then leaked stale batch dirs).
    Dynamic mode must be a per-write option; the session conf must come
    out exactly as it went in."""
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    target_path = str(tmp_path / "tgt")
    customer.write.partitionBy("c_nationkey").parquet(target_path)
    key_conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key_conf, "static")
    source = changed_customer_source(customer)
    diff, _state = sync(
        source, snapshot_state(customer, "c_custkey", "c_nationkey"), "c_custkey"
    )
    apply_changes_to_path(spark, target_path, diff, "c_custkey", "c_nationkey")
    assert spark.conf.get(key_conf, "static") == before
    got = spark.read.parquet(target_path).select(*source.columns)
    assert _same_rows(got, source)
