"""The reference's relational query surface (SURVEY.md §2B) as composable
DataFrame operators.

The reference executes these shapes as embedded SQL strings against
MySQL/SQL Server (counts, key projections, point lookups, duplicate
detection, pagination) and as driver-side hashtable probes (the three CDC
joins). Each is one declarative Spark plan here — Catalyst handles
pushdown/pruning; joins on a key shuffle once and broadcast automatically
when one side is small (AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nosql_to_sql_migration_tool_spark.operators.cdc import with_row_hash


def count_rows(df: DataFrame) -> DataFrame:
    """SELECT COUNT(*) (reference: Migration_Validation.ps1:78-80)."""
    return df.agg(F.count(F.lit(1)).alias("n"))


def project_keys(df: DataFrame, key: str) -> DataFrame:
    """Target key-set scan (Get-AllSQLRecords, Sync.ps1:509-541) — column
    pruning makes this a single-column parquet read."""
    return df.select(key)


def point_lookup(df: DataFrame, key: str, value) -> DataFrame:
    """SELECT * WHERE key = ? (Get-SQLRecord, Migration_Validation.ps1:221-264).
    Predicate pushes into the scan."""
    return df.filter(F.col(key) == F.lit(value))


def null_key_count(df: DataFrame, key: str) -> DataFrame:
    """Integrity check (a): NULL primary keys
    (Test-DataIntegrity, Migration_Validation.ps1:382-384)."""
    return df.filter(F.col(key).isNull()).agg(F.count(F.lit(1)).alias("n"))


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """Integrity check (b): GROUP BY key HAVING count > 1
    (Migration_Validation.ps1:391-398). Map-side partial aggregation makes
    this one narrow shuffle of (key, partial-count) pairs at any scale."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def tail_sample(df: DataFrame, order_key: str, n: int) -> DataFrame:
    """Deterministic 'last N' sample — the reference samples the tail of a
    collection (`Get-MdbcData -Last N`, Analyze_scheme.ps1:62). Spark: sort
    descending + limit; Catalyst plans a TakeOrderedAndProject (no full
    sort at scale)."""
    return df.orderBy(F.col(order_key).desc()).limit(n)


def paginate(df: DataFrame, order_key: str, skip: int, first: int) -> DataFrame:
    """Skip/first pagination (Get-MdbcData -Skip/-First,
    Data_Migration.ps1:117-119) via native offset+limit on a sorted scan.

    The reference pages through the whole collection this way — an O(n²)
    skip-scan it uses as its extraction loop. In Spark that loop is
    replaced by one partitioned scan; this operator exists for the
    *query* surface (a page of results), where a bounded offset is fine.
    Unbounded driver-side paging over a 100 TB table would be the same
    anti-pattern as the reference's — use ``scan_after`` instead."""
    return df.orderBy(F.col(order_key)).offset(skip).limit(first)


def scan_after(df: DataFrame, order_key: str, last_seen, first: int) -> DataFrame:
    """Cursor (key-range) pagination — the scale-correct extraction loop
    the reference's O(n²) skip-scan (Data_Migration.ps1:117-119) should
    have been: WHERE key > last_seen ORDER BY key LIMIT n.

    Each page is a pushed-down range predicate (min/max-pruned at the
    parquet scan) + TakeOrderedAndProject, so page cost is O(page), not
    O(rows skipped) — the total extraction over a 100 TB table stays
    linear instead of quadratic."""
    return (
        df.filter(F.col(order_key) > F.lit(last_seen))
        .orderBy(F.col(order_key))
        .limit(first)
    )


def deterministic_sample(df: DataFrame, key: str, hex_bound: str = "1a") -> DataFrame:
    """Reproducible pseudo-random sample: keep rows whose md5(key) is
    lexicographically below ``hex_bound`` (p ≈ int(hex_bound,16)/16^len).
    Unlike ``df.sample`` this is stable across engines, runs and
    partitionings — the sampling contract a validation pipeline needs.
    Default '1a' ≈ 10.2%."""
    return df.filter(
        F.md5(F.col(key).cast("string")) < F.lit(hex_bound)
    )


def new_keys(source: DataFrame, target_keys: DataFrame, key: str) -> DataFrame:
    """Source∖Target anti-semi-join: documents not yet in the target
    (Sync.ps1:147-154, hand-rolled hash-set probe in the reference)."""
    return source.join(target_keys.select(key), key, "left_anti")


def deleted_keys(target_keys: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """Target∖Source anti-join: rows deleted upstream (Sync.ps1:157-163)."""
    return target_keys.select(key).join(source.select(key), key, "left_anti")


def updated_rows(
    source: DataFrame, state: DataFrame, key: str, hash_col: str = "row_hash"
) -> DataFrame:
    """Source⋈State equi-join + hash inequality: changed rows
    (Sync.ps1:130-145)."""
    src = with_row_hash(source, hash_col=hash_col)
    st = state.select(F.col(key), F.col(hash_col).alias("__state_hash"))
    return (
        src.join(st, key, "inner")
        .filter(F.col(hash_col) != F.col("__state_hash"))
        .drop("__state_hash")
    )


def insert_missing_columns(target: DataFrame, rows: DataFrame) -> DataFrame:
    """NULL-filled insert: append rows that may lack target columns
    (Invoke-InsertDocument NULL-fills the full column list,
    Sync.ps1:584-599). ``unionByName(allowMissingColumns=True)`` NULL-fills
    both directions — also the add-only schema-drift path (Sync.ps1:441-469)."""
    return target.unionByName(rows, allowMissingColumns=True)


def delete_by_keys(target: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """DELETE WHERE key IN (...) (Invoke-DeleteDocument, Sync.ps1:690-718)
    as a left anti-join — one shuffle, broadcast when the key list is small."""
    return target.join(keys.select(key), key, "left_anti")


def upsert_last_wins(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """REPLACE INTO semantics (Invoke-DocumentMigration,
    Data_Migration.ps1:246-247): idempotent load keeps one row per key,
    last-writer-wins by ``order_col``. ``max_by`` over a struct of all
    columns = single shuffle, no window sort."""
    data_cols = [c for c in df.columns if c != key]
    packed = df.groupBy(key).agg(
        F.max_by(F.struct(*data_cols), F.col(order_col)).alias("__row")
    )
    return packed.select(key, *[F.col(f"__row.{c}").alias(c) for c in data_cols])


def stratified_sample(
    df: DataFrame, strata_col: str, bounds: dict[str, str], key: str
) -> DataFrame:
    """Per-stratum deterministic sample: each stratum gets its own
    md5(key) hex bound (so e.g. a rare class can be kept at 100% while a
    dominant class is cut to 5% — the class-rebalancing primitive of a
    training-data pipeline). Strata absent from ``bounds`` are dropped.

    Pure narrow filter — no shuffle, no per-group windows; the same
    rows survive under any partitioning or engine (the md5 contract of
    ``deterministic_sample``)."""
    expr = None
    for stratum, bound in sorted(bounds.items()):
        cond = (F.col(strata_col) == stratum) & (
            F.md5(F.col(key).cast("string")) < F.lit(bound)
        )
        expr = cond if expr is None else expr | cond
    return df.filter(expr if expr is not None else F.lit(False))
