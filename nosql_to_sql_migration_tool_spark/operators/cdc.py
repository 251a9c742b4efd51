"""Snapshot-diff CDC — the reference's incremental sync, as one join.

The reference classifies every source document against a persisted
``{_id → md5}`` state and the target key-set using driver-side hashtable
probes (``Start-IncrementalSync``, private/Sync.ps1:125-163):

- key in state/target, hash differs   -> UPDATED
- key in state/target, hash equal     -> UNCHANGED
- key not in target                   -> NEW
- target key absent from the source   -> DELETED

Here the whole classification is a single full-outer join on the key plus
a ``when`` ladder — one shuffle, fully distributed, no driver-side state.
At 100 TB the state side is a narrow ``(key, row_hash)`` projection; when
it is small relative to the source (steady-state syncs) AQE selects a
broadcast join automatically.

State persistence (reference: sync_state_<t>.json, Sync.ps1:296-349) is a
parquet state table — ``save_state`` / ``load_state`` below. A whole
round onto a partitioned parquet target is ``initial_load`` (first run)
or ``sync_to_path`` (every later run); both ``workflow.py`` and the
streaming analogue (foreachBatch upsert + checkpoint, availableNow
trigger, ``streaming/cdc_stream.py``) call them.

Like the reference's per-document metadata, the state those two write
is ``(key, row_hash, partition)``. ``snapshot_diff`` carries every state
column beyond key and hash as ``__old_<c>``, so a round's diff already
knows each DELETED/UPDATED key's old partition: the diff's own
checkpoint yields the touched partitions, and the target is read only
in those directories. A two-column state (written by an older round)
yields a diff without ``__old_<partition>``; that round takes the
target-wide aggregate of ``apply_changes_to_path`` and writes a
three-column state.
"""

from __future__ import annotations

from functools import partial
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from nosql_to_sql_migration_tool_spark.functions.hashing import row_hash, scalar_columns
from nosql_to_sql_migration_tool_spark.hadoop_fs import (
    delete_paths,
    list_dirs,
    run_concurrent,
    try_read_parquet,
)

CHANGE_TYPES = ("NEW", "UPDATED", "DELETED", "UNCHANGED")


def save_state(state: DataFrame, path: str) -> None:
    """Persist the sync state between runs (Save-SyncState,
    Sync.ps1:331-349): ``(key, row_hash)`` followed by any carried
    columns, such as the partition column. Each file's rows are sorted
    by the carried columns (a local sort, no extra job), so a partition
    column encodes as a few runs instead of one value per row."""
    carried = state.columns[2:]
    if carried:
        state = state.sortWithinPartitions(*carried)
    state.write.mode("overwrite").parquet(path)


def load_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Load persisted sync state; ``None`` (missing/unreadable state)
    means the caller falls back to a full sync — the reference's
    corrupt-state fallback (Get-SyncState, Sync.ps1:296-329)."""
    return try_read_parquet(spark, path)


def with_row_hash(
    df: DataFrame,
    cols: list[str] | None = None,
    hash_col: str = "row_hash",
) -> DataFrame:
    """Attach the canonical MD5 row hash (Get-DocumentHash parity,
    Sync.ps1:351-393). Hash covers key-sorted top-level scalars only."""
    return df.withColumn(hash_col, row_hash(df, cols))


def snapshot_state(
    df: DataFrame,
    key: str,
    partition_col: str | None = None,
    hash_col: str = "row_hash",
) -> DataFrame:
    """Build the persisted sync state from a snapshot: ``(key, row_hash)``,
    plus ``partition_col`` when given, so that a later round knows each
    key's partition without reading the target.

    Replaces the reference's DocumentHashes map (Sync.ps1:296-349)."""
    carried = [partition_col] if partition_col else []
    return with_row_hash(df, hash_col=hash_col).select(key, hash_col, *carried)


def snapshot_diff(
    source: DataFrame,
    state: DataFrame,
    key: str,
    hash_col: str = "row_hash",
    change_col: str = "change_type",
) -> DataFrame:
    """Classify every key as NEW / UPDATED / DELETED / UNCHANGED.

    ``source`` is the current snapshot (full schema); ``state`` is the
    persisted ``(key, row_hash, ...)``. Returns all source columns + the
    key (non-null even for DELETED rows) + every other state column
    ``c`` as ``__old_<c>`` (NULL for NEW rows) + ``change_type``.
    """
    src = with_row_hash(source, hash_col=hash_col).withColumnRenamed(key, f"__src_{key}")
    carried = [c for c in state.columns if c not in (key, hash_col)]
    st = state.select(
        F.col(key).alias(f"__st_{key}"),
        F.col(hash_col).alias(f"__st_{hash_col}"),
        *[F.col(c).alias(f"__old_{c}") for c in carried],
    )
    joined = src.join(
        st, src[f"__src_{key}"] == st[f"__st_{key}"], "full_outer"
    )
    change = (
        F.when(st[f"__st_{key}"].isNull(), F.lit("NEW"))
        .when(src[f"__src_{key}"].isNull(), F.lit("DELETED"))
        .when(F.col(hash_col) != F.col(f"__st_{hash_col}"), F.lit("UPDATED"))
        .otherwise(F.lit("UNCHANGED"))
    )
    data_cols = [c for c in source.columns if c != key]
    return joined.select(
        F.coalesce(F.col(f"__src_{key}"), F.col(f"__st_{key}")).alias(key),
        *data_cols,
        F.col(hash_col),
        *[f"__old_{c}" for c in carried],
        change.alias(change_col),
    )


def apply_changes(
    target: DataFrame,
    diff: DataFrame,
    key: str,
    change_col: str = "change_type",
) -> DataFrame:
    """MERGE semantics on an immutable store: rewrite the target snapshot as
    (target minus DELETED minus UPDATED) union (NEW union UPDATED).

    Vanilla parquet has no ACID MERGE; the reference applies per-row
    INSERT/UPDATE/DELETE DML (Sync.ps1:179-247). The distributed
    equivalent is an anti-join + union — one shuffle on the key, and the
    unchanged majority of the target is rewritten without modification.
    On a transactional table format this operator maps 1:1 onto MERGE.
    """
    changed_keys = diff.filter(
        F.col(change_col).isin("UPDATED", "DELETED")
    ).select(key)
    upserts = diff.filter(F.col(change_col).isin("NEW", "UPDATED")).select(
        *target.columns
    )
    kept = target.join(changed_keys, key, "left_anti")
    return kept.unionByName(upserts)


def merge_available() -> bool:
    """Whether a transactional table format with MERGE INTO is on the
    classpath. Gated on Delta Lake's python binding (`delta-spark`) —
    absent from this container (verified rounds 3-5), so the gate stays
    closed here and ``merge_changes`` below is exercised the day the
    deployment provides the jar (tests skip-if-absent)."""
    try:
        from delta.tables import DeltaTable  # noqa: F401

        return True
    except ImportError:
        return False


def merge_changes(
    spark: SparkSession,
    target_path: str,
    diff: DataFrame,
    key: str,
    change_col: str = "change_type",
) -> None:
    """ACID ``MERGE INTO`` apply — the 1:1 mapping of the reference's
    REPLACE/UPDATE/DELETE DML (Sync.ps1:601-705) onto a transactional
    table format, replacing the snapshot/partition rewrite fallback
    (``apply_changes*``) with a single atomic, conflict-checked commit:

        MERGE INTO target t USING diff s ON t.key = s.key
        WHEN MATCHED AND s.change = 'DELETED' THEN DELETE
        WHEN MATCHED AND s.change = 'UPDATED' THEN UPDATE SET data cols
        WHEN NOT MATCHED AND s.change = 'NEW' THEN INSERT data cols

    At 100 TB this is the steady-state shape: the engine rewrites only
    the files containing matched keys (data skipping / file pruning),
    and concurrent writers serialize through the table log instead of
    racing a directory overwrite. Raises ``RuntimeError`` when no MERGE
    runtime is present (``merge_available``)."""
    if not merge_available():
        raise RuntimeError(
            "MERGE INTO needs a transactional table format on the "
            "classpath (delta-spark); use apply_changes_to_path for "
            "vanilla parquet"
        )
    from delta.tables import DeltaTable

    tgt = DeltaTable.forPath(spark, target_path)
    data_cols = [c for c in tgt.toDF().columns]
    sets = {c: F.col(f"s.{c}") for c in data_cols}
    (
        tgt.alias("t")
        .merge(diff.alias("s"), f"t.{key} = s.{key}")
        .whenMatchedDelete(condition=f"s.{change_col} = 'DELETED'")
        .whenMatchedUpdate(
            condition=f"s.{change_col} = 'UPDATED'", set=sets
        )
        .whenNotMatchedInsert(
            condition=f"s.{change_col} = 'NEW'", values=sets
        )
        .execute()
    )


def apply_changes_partitioned(
    target: DataFrame,
    diff: DataFrame,
    key: str,
    partition_col: str,
    change_col: str = "change_type",
) -> tuple[DataFrame, DataFrame]:
    """Partition-scoped MERGE: ``(rows_to_write, touched_partitions)``.

    The scale fix for ``apply_changes``' full-snapshot rewrite: only
    partitions containing a NEW/UPDATED/DELETED row are recomputed, and
    ``rows_to_write`` is their complete new content — written with
    dynamic partition overwrite, the unchanged majority of a 100 TB
    target is never read or rewritten. Touched partitions come from the
    source side for NEW/UPDATED rows and from a target semi-join for
    DELETED/UPDATED keys (a DELETED row's partition value exists only in
    the target).
    """
    upsert_parts = diff.filter(
        F.col(change_col).isin("NEW", "UPDATED")
    ).select(partition_col)
    gone_keys = diff.filter(
        F.col(change_col).isin("DELETED", "UPDATED")
    ).select(key)
    gone_parts = target.join(gone_keys, key, "left_semi").select(partition_col)
    touched = upsert_parts.union(gone_parts).distinct()
    scoped_target = target.join(F.broadcast(touched), partition_col, "left_semi")
    return apply_changes(scoped_target, diff, key, change_col), touched


_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_dir_value(col: str):
    """The value Spark names a partition directory after, before path
    escaping: the string cast, with NULL and '' both mapped to the hive
    default partition."""
    return F.coalesce(
        F.nullif(F.col(col).cast("string"), F.lit("")), F.lit(_DEFAULT_PARTITION)
    )


def _round_aggregates(
    diff: DataFrame, key: str, partition_col: str, change_col: str
) -> list:
    """What one pass over a diff tells its round: the rows per change
    type, the NULL keys and — when the diff carries the state's
    partition as ``__old_<partition_col>`` — the directory values of the
    partitions it touches (arriving rows' new partitions, departing rows'
    old ones)."""
    change = F.col(change_col)
    aggs = [F.count_if(change == t).alias(t) for t in CHANGE_TYPES]
    aggs.append(F.count_if(F.col(key).isNull()).alias("__null_keys"))
    old_part = f"__old_{partition_col}"
    if old_part in diff.columns:
        for name, kinds, col in (
            ("__arriving", ("NEW", "UPDATED"), partition_col),
            ("__departing", ("DELETED", "UPDATED"), old_part),
        ):
            aggs.append(
                F.collect_set(
                    F.when(change.isin(*kinds), _partition_dir_value(col))
                ).alias(name)
            )
    return aggs


def _checked_round(
    seen: dict, key: str
) -> tuple[dict[str, int], set[str] | None, int]:
    """``(change counts, touched partition dirs, new row count)`` from a
    diff's ``_round_aggregates``; the touched set is ``None`` when the
    diff does not carry the old partition. A NULL key never matches in
    the diff's join or the apply's anti-join, so every round would
    insert its row again: refuse it before anything is written."""
    if seen["__null_keys"]:
        raise ValueError(
            f"{seen['__null_keys']} source rows have a NULL key {key!r}; "
            "a NULL key never matches the sync state or the target"
        )
    counts = {t: seen[t] for t in CHANGE_TYPES}
    touched = (
        set(seen["__arriving"]) | set(seen["__departing"])
        if "__arriving" in seen
        else None
    )
    return counts, touched, counts["NEW"] + counts["UPDATED"] + counts["UNCHANGED"]


def _rewrite_partitions(
    spark,
    target_path: str,
    diff: DataFrame,
    key: str,
    partition_col: str,
    schema: StructType,
    touched: set[str],
    change_col: str,
) -> int:
    """Replace the partitions whose directory values are ``touched`` with
    their new content: the rows read from exactly those directories minus
    the DELETED/UPDATED keys, plus the NEW/UPDATED rows.

    The directories are found by listing the target once and unescaping
    the names: Spark percent-escapes partition values in paths (``x:y``
    is stored as ``p=x%3Ay``), so a path is never formatted from a
    value. They are read with the known ``schema`` and the target as
    ``basePath``, so no partition discovery or footer-schema job runs
    and no untouched partition is opened. The same job overwrites the
    directories it reads: a dynamic overwrite stages its output and
    swaps directories in only at job commit, after every read finished
    (a static overwrite would delete the target before reading it).

    Dynamic overwrite only replaces partitions PRESENT in the written
    data — a partition whose every row was DELETED gets no output rows,
    so its old directory would silently survive. Touched partitions that
    received no output are therefore removed explicitly through the
    Hadoop FileSystem API (works on any Hadoop-supported store).

    Returns the rows written, which the write observes along with the
    partitions it writes to."""
    if not touched:
        return 0
    schema = StructType(
        [f for f in schema if f.name != partition_col] + [schema[partition_col]]
    )
    prefix = f"{partition_col}="
    dir_names = {
        unquote(name[len(prefix):]): name
        for name in list_dirs(spark, target_path)
        if name.startswith(prefix)
    }
    change = F.col(change_col)
    rows = diff.filter(change.isin("NEW", "UPDATED")).select(*schema.names)
    dirs = [f"{target_path}/{dir_names[v]}" for v in touched if v in dir_names]
    if dirs:
        gone = diff.filter(change.isin("DELETED", "UPDATED")).select(key)
        # the changed keys are broadcast: their checkpoint carries no size
        # estimate, so Spark would otherwise shuffle both sides
        kept = (
            spark.read.schema(schema)
            .option("basePath", target_path)
            .parquet(*dirs)
            .join(F.broadcast(gone), key, "left_anti")
        )
        rows = kept.unionByName(rows)
    written = Observation()
    # One task per partition value writes one file per touched directory;
    # without the shuffle every scan split reading a directory adds a file.
    # Dynamic mode is pinned PER WRITE, not via session conf: a
    # session-level set would flip every later overwrite in the session
    # to dynamic (the rollup compaction's static overwrite then leaked
    # stale batch_id dirs).
    (
        rows.repartition(partition_col)
        .observe(
            written,
            F.count(F.lit(1)).alias("n"),
            F.collect_set(_partition_dir_value(partition_col)).alias("dirs"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )
    emptied = touched - set(written.get["dirs"])
    if emptied:
        delete_paths(
            spark, (f"{target_path}/{dir_names[v]}" for v in emptied if v in dir_names)
        )
    return written.get["n"]


def apply_changes_to_path(
    spark,
    target_path: str,
    diff: DataFrame,
    key: str,
    partition_col: str,
    change_col: str = "change_type",
) -> int:
    """Apply a diff in place on a partitioned parquet directory and return
    the target's new row count.

    Uses dynamic partition overwrite so only touched partition
    directories are read and replaced (the reference's per-row DML,
    Sync.ps1:179-247, becomes one scoped write, ``_rewrite_partitions``).
    ``diff`` is read several times, so callers pass it materialized
    (``sync_to_path`` checkpoints it once). A production deployment on
    object storage would use a transactional table format's MERGE
    instead.

    A diff against a three-column state carries each departing key's old
    partition (``__old_<partition_col>``): one aggregate over the diff
    gives the touched partitions and the new row count (the new state's
    size, which mirrors the target), and the target is never scanned
    beyond the touched directories.

    A diff without it (a two-column state) drives one target-side
    aggregate instead: the target is scanned once, projected to key and
    partition columns, left-joined to the broadcast DELETED/UPDATED
    keys, unioned with the source-side NEW/UPDATED partitions and
    grouped by partition directory. Its metadata-sized result gives, per
    partition, the on-disk row count and whether a change touches it;
    the count returned is untouched on-disk rows plus the rows written.
    """
    if f"__old_{partition_col}" in diff.columns:
        seen = diff.agg(*_round_aggregates(diff, key, partition_col, change_col))
        _, touched, rows = _checked_round(seen.first().asDict(), key)
        schema = StructType(
            [
                f
                for f in diff.schema
                if f.name not in (change_col, "row_hash")
                and not f.name.startswith("__old_")
            ]
        )
        _rewrite_partitions(
            spark, target_path, diff, key, partition_col, schema, touched, change_col
        )
        return rows

    target = spark.read.parquet(target_path)
    change = F.col(change_col)
    gone = diff.filter(change.isin("DELETED", "UPDATED")).select(
        key, F.lit(True).alias("__gone")
    )
    on_disk = (
        target.select(key, partition_col)
        .join(F.broadcast(gone), key, "left")
        .select(
            partition_col,
            F.lit(1).alias("__rows"),
            F.col("__gone").isNotNull().alias("__touched"),
        )
    )
    arriving = diff.filter(change.isin("NEW", "UPDATED")).select(
        partition_col, F.lit(0).alias("__rows"), F.lit(True).alias("__touched")
    )
    parts = (
        on_disk.unionByName(arriving)
        .groupBy(_partition_dir_value(partition_col).alias("__dir"))
        .agg(F.sum("__rows").alias("__rows"), F.max("__touched").alias("__touched"))
        .collect()
    )
    untouched_rows = sum(r["__rows"] for r in parts if not r["__touched"])
    touched = {r["__dir"] for r in parts if r["__touched"]}
    return untouched_rows + _rewrite_partitions(
        spark, target_path, diff, key, partition_col, target.schema, touched, change_col
    )


def sync(
    source: DataFrame,
    state: DataFrame | None,
    key: str,
    hash_col: str = "row_hash",
) -> tuple[DataFrame, DataFrame]:
    """One incremental-sync round: ``(diff, new_state)``.

    With no prior state every row classifies as NEW (full sync fallback,
    Sync.ps1:62-65). New state carries the source's hashes forward —
    the reference's carry-forward of unchanged hashes (Sync.ps1:250-256)
    is implicit because hashes are recomputed from the source snapshot.
    The new state keeps the columns the old state carried beyond key and
    hash (the partition column), with the source's current values.
    """
    if state is None:
        diff = with_row_hash(source, hash_col=hash_col).withColumn(
            "change_type", F.lit("NEW")
        )
        carried = []
    else:
        diff = snapshot_diff(source, state, key, hash_col=hash_col)
        carried = [c for c in state.columns if c not in (key, hash_col)]
    new_state = (
        diff.filter(F.col("change_type") != "DELETED").select(key, hash_col, *carried)
    )
    return diff, new_state


def diff_counts(diff: DataFrame, change_col: str = "change_type") -> DataFrame:
    """Sync-report counters (Export-SyncReport, Sync.ps1:720-772)."""
    return (
        diff.groupBy(change_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(change_col)
    )


def initial_load(
    spark: SparkSession,
    source: DataFrame,
    key: str,
    target_path: str,
    state_path: str,
    partition_col: str,
) -> int:
    """First sync round: write the partitioned target and seed the
    ``(key, row_hash, partition)`` state from the same snapshot; returns
    the rows written. The two writes go to disjoint paths and run
    concurrently. The target write counts its own rows, so the target is
    never read back to be counted. A NULL key fails both writes: it
    would never match the state, so every later round would insert it
    again. A failed load removes what it left behind, so that the next
    run is a first round again."""
    keyed = source.withColumn(
        key,
        F.when(
            F.col(key).isNull(),
            F.raise_error(F.lit(f"initial_load: NULL key {key!r} in the source")),
        ).otherwise(F.col(key)),
    )
    loaded = Observation()
    try:
        run_concurrent(
            partial(
                keyed.observe(loaded, F.count(F.lit(1)).alias("n"))
                .write.partitionBy(partition_col)
                .parquet,
                target_path,
            ),
            partial(save_state, snapshot_state(keyed, key, partition_col), state_path),
        )
    except Exception:
        delete_paths(spark, (target_path, state_path))
        raise
    return loaded.get["n"]


def sync_to_path(
    spark: SparkSession,
    source: DataFrame,
    key: str,
    target_path: str,
    state_path: str,
    partition_col: str,
) -> tuple[dict[str, int], int]:
    """One incremental-sync round onto an existing partitioned parquet
    target: ``({change_type: rows}, new target row count)``.

    The hash diff is evaluated exactly once, by one eager
    ``localCheckpoint``. That job also observes the change counts, the
    NULL keys (which fail the round before anything is written) and, as
    the state carries each key's partition, the touched partition
    directories. The apply reads only those directories
    (``_rewrite_partitions``), and the new state (``change_type !=
    DELETED``, with the source's partition values) reads the
    materialization. The new row count is that state's size, which
    mirrors the target. The apply commits before the state is saved, so
    a failed apply leaves the old state to re-diff against.

    A two-column state from an older round goes through
    ``apply_changes_to_path``'s target-wide aggregate once, and the
    round then writes a three-column state. A kept target whose state is
    missing gets its state rebuilt from the target snapshot: classifying
    every source row NEW would union them onto the target and duplicate
    every key.
    """
    state = load_state(spark, state_path)
    if state is None:
        state = snapshot_state(spark.read.parquet(target_path), key, partition_col)
    diff, _ = sync(source, state, key)
    seen = Observation()
    diff = diff.observe(
        seen, *_round_aggregates(diff, key, partition_col, "change_type")
    ).localCheckpoint(eager=True)
    counts, touched, rows = _checked_round(seen.get, key)
    if touched is None:
        rows = apply_changes_to_path(spark, target_path, diff, key, partition_col)
    else:
        _rewrite_partitions(
            spark, target_path, diff, key, partition_col, source.schema, touched,
            "change_type",
        )
    save_state(
        diff.filter(F.col("change_type") != "DELETED").select(
            key, "row_hash", partition_col
        ),
        state_path,
    )
    return {t: n for t, n in counts.items() if n}, rows


def maintain_aggregate(
    old_snapshot: DataFrame,
    new_source: DataFrame,
    key: str,
    group_col: str,
    measure_col: str,
    validate_unique_key: bool = False,
) -> DataFrame:
    """Incremental view maintenance for a grouped (count, sum)
    aggregate: given the OLD snapshot and the NEW source, produce the
    new ``(group, n_rows, sum_measure)`` by applying per-group DELTAS
    to the old aggregate instead of re-aggregating the world — the
    continuous-aggregate discipline of ``streaming/rollup.py`` applied
    to the CDC batch path.

    Per churned key the delta is: departure ``(-1, -old_measure)`` from
    the old group, arrival ``(+1, +new_measure)`` to the new group —
    group MOVES decompose into both, UNCHANGED rows (same group, same
    measure) contribute nothing and are filtered before the shuffle.

    Scale shape: at 100 TB the old aggregate is a PERSISTED
    metadata-sized table and the diff comes from a change feed, so
    maintenance cost is one join bounded by churn + one combinable
    delta aggregate over churned rows only — never a re-scan of the
    snapshot. (Here the old aggregate is computed from the fixture
    snapshot because nothing persists between driver runs; the delta
    path is the part under test, oracle-proved equal to a full
    recompute of the new source.)

    Determinism: measures accumulate as DECIMAL(18,2) (order-free);
    NULL measures count as 0 so a group of NULLs maintains to 0, not
    NULL. Groups whose count reaches zero drop out, matching the
    recompute.

    PRECONDITION (ADVICE r6): ``key`` must be unique in BOTH snapshots.
    A duplicate key fans out the full_outer join, multiplying its
    departure/arrival deltas and silently corrupting the aggregate.
    ``validate_unique_key=True`` adds one cheap groupBy-count guard per
    side (a separate job, run before the maintenance plan) and raises
    ``ValueError`` on the first duplicate found.
    """
    if validate_unique_key:
        for side, df in (("old_snapshot", old_snapshot), ("new_source", new_source)):
            dup = (
                df.groupBy(key)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"maintain_aggregate: duplicate key {key}="
                    f"{dup[0][key]!r} in {side} — the full_outer join "
                    "would fan out and multiply deltas"
                )
    dec = lambda c: F.coalesce(c, F.lit(0)).cast("decimal(18,2)")  # noqa: E731
    # Presence flags, not group-NULL checks: a live row whose GROUP
    # value is NULL must still contribute its departure/arrival.
    old = old_snapshot.select(
        F.col(key).alias("__k"),
        F.col(group_col).alias("__g_old"),
        dec(F.col(measure_col)).alias("__m_old"),
        F.lit(True).alias("__old_present"),
    )
    new = new_source.select(
        F.col(key).alias("__k"),
        F.col(group_col).alias("__g_new"),
        dec(F.col(measure_col)).alias("__m_new"),
        F.lit(True).alias("__new_present"),
    )
    joined = old.join(new, "__k", "full_outer")
    both = F.coalesce(F.col("__old_present"), F.lit(False)) & F.coalesce(
        F.col("__new_present"), F.lit(False)
    )
    changed = joined.filter(
        ~(
            both
            & F.col("__g_old").eqNullSafe(F.col("__g_new"))
            & F.col("__m_old").eqNullSafe(F.col("__m_new"))
        )
    )
    departures = changed.filter(F.col("__old_present")).select(
        F.col("__g_old").alias(group_col),
        F.lit(-1).cast("long").alias("__dn"),
        (-F.col("__m_old")).alias("__dm"),
    )
    arrivals = changed.filter(F.col("__new_present")).select(
        F.col("__g_new").alias(group_col),
        F.lit(1).cast("long").alias("__dn"),
        F.col("__m_new").alias("__dm"),
    )
    deltas = (
        departures.unionByName(arrivals)
        .groupBy(group_col)
        .agg(F.sum("__dn").alias("__dn"), F.sum("__dm").alias("__dm"))
    )
    old_agg = old.groupBy(F.col("__g_old").alias(group_col)).agg(
        F.sum(F.lit(1)).alias("__dn"), F.sum("__m_old").alias("__dm")
    )
    # Merge by UNION + groupBy, not a join on the group column: a JOIN
    # key never matches NULL to NULL, so a NULL-valued group's old
    # aggregate and its delta would land in two separate output rows;
    # groupBy treats NULL as one group (caught by the randomized IVM
    # property test).
    merged = (
        old_agg.unionByName(deltas)
        .groupBy(group_col)
        .agg(
            F.sum("__dn").alias("n_rows"),
            F.sum("__dm").alias("__sum"),
        )
    )
    return merged.filter(F.col("n_rows") > 0).select(
        group_col,
        "n_rows",
        F.col("__sum").cast("double").alias("sum_measure"),
    )
