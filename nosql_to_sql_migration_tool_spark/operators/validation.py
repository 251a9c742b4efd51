"""Migration validation — the reference's ``Test-MigrationValidation``
suite (private/Migration_Validation.ps1:1-219) as distributed plans.

The reference validates per sampled document with a point lookup + field
loop (``Compare-DocumentToRecord``, :266-324). ``compare_records`` diffs
whole tables in ONE broadcast-friendly left join; per-field diffs come
from an explode over a (field, source_norm, target_norm) struct array —
all JVM-side expressions using the shared comparison canon
(``Normalize-ValueForComparison`` parity, functions/normalize.py).

The verdict is bound by driver latency, so it is split by what each side
needs: ``validation_sample`` collects the normalized last-N source rows
in one job (it needs only the source, so a migration runs it beside its
table writes), and ``validation_verdict`` answers the whole target side
— its row count and the rows of the sampled keys — in one scan, then
folds the ≤N sample on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Row, functions as F

from nosql_to_sql_migration_tool_spark.functions.normalize import (
    normalize_for_comparison,
)

MISSING_ROW_FIELD = "_row"


def _normalized(
    df: DataFrame, key: str, cols: list[str], prefix: str = ""
) -> DataFrame:
    """``key`` and each of ``cols`` in the comparison canon, named
    ``<prefix><col>``."""
    types = {f.name: f.dataType for f in df.schema.fields}
    return df.select(
        F.col(key),
        *[
            normalize_for_comparison(F.col(c), types[c]).alias(prefix + c)
            for c in cols
        ],
    )


def compare_records(
    source: DataFrame,
    target: DataFrame,
    key: str,
    cols: list[str] | None = None,
) -> DataFrame:
    """Per-field diff of source vs target rows after normalization.

    Output: ``(key, field, source_value, target_value, status)`` with one
    ``MISSING_IN_TARGET`` row per source row absent from the target
    (field ``_row``; reference: "Document $id not found in SQL",
    Migration_Validation.ps1:119-123) and one ``MISMATCH`` row per
    normalized-unequal field (:301-315). Matching rows emit nothing.
    """
    if cols is None:
        cols = [c for c in source.columns if c != key and c in target.columns]
    # __present is NULL for a source row absent from the target
    joined = _normalized(source, key, cols, "__s_").join(
        _normalized(target, key, cols, "__t_").withColumn("__present", F.lit(1)),
        key,
        "left",
    )

    field_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("field"),
                F.col(f"__s_{c}").alias("source_value"),
                F.col(f"__t_{c}").alias("target_value"),
            )
            for c in cols
        ]
    )
    present = joined.filter(F.col("__present").isNotNull())
    mismatches = (
        present.select(key, F.explode(field_structs).alias("d"))
        .filter(F.col("d.source_value") != F.col("d.target_value"))
        .select(
            key,
            F.col("d.field").alias("field"),
            F.col("d.source_value").alias("source_value"),
            F.col("d.target_value").alias("target_value"),
            F.lit("MISMATCH").alias("status"),
        )
    )
    missing = joined.filter(F.col("__present").isNull()).select(
        key,
        F.lit(MISSING_ROW_FIELD).alias("field"),
        F.lit(None).cast("string").alias("source_value"),
        F.lit(None).cast("string").alias("target_value"),
        F.lit("MISSING_IN_TARGET").alias("status"),
    )
    return mismatches.unionByName(missing)


def count_reconcile(source: DataFrame, target: DataFrame) -> DataFrame:
    """Step 1 of validation: source vs target row counts
    (Migration_Validation.ps1:66-94)."""
    s = source.agg(F.count(F.lit(1)).alias("source_count"))
    t = target.agg(F.count(F.lit(1)).alias("target_count"))
    return s.crossJoin(t).withColumn(
        "count_match", F.col("source_count") == F.col("target_count")
    )


def validation_sample(
    source: DataFrame,
    key: str,
    sample_size: int,
    cols: list[str] | None = None,
) -> list[Row]:
    """The last-N sample by key (Get-MdbcData -Last, :104) in one job:
    rows of ``key`` and each compared field (default: every other source
    column) in the comparison canon, normalized in the JVM."""
    if cols is None:
        cols = [c for c in source.columns if c != key]
    last_n = source.orderBy(F.col(key).desc()).limit(sample_size)
    return _normalized(last_n, key, cols).collect()


_VERDICT_COUNTS = (
    "source_count",
    "target_count",
    "samples_validated",
    "samples_passed",
    "samples_failed",
    "issues",
)
# An inline table is a local relation: collecting the verdict row runs
# no job.
_VERDICT_SQL = "VALUES ({}, :status) AS verdict({}, status)".format(
    ", ".join(f"CAST(:{c} AS BIGINT)" for c in _VERDICT_COUNTS),
    ", ".join(_VERDICT_COUNTS),
)


def validation_verdict(
    source: DataFrame,
    target: DataFrame,
    key: str,
    sample_size: int = 10,
    cols: list[str] | None = None,
    *,
    source_count: int | None = None,
    sample: list[Row] | None = None,
) -> DataFrame:
    """Full validation verdict as one row:
    ``(source_count, target_count, samples_validated, samples_passed,
    samples_failed, issues, status)``.

    Sample = last-N by key (Get-MdbcData -Last, :104). Verdict logic
    (:164-176): PASSED when no issues (count match, no failed samples);
    PARTIAL when passed > failed; else FAILED. ``issues`` counts the
    count-mismatch (1 if any) plus one per failed sample, mirroring the
    reference's Issues list length.

    A caller that already knows ``source_count`` and holds ``sample``
    (``validation_sample`` over the same ``cols``) pays ONE job: a scan
    of the target that counts every row (an ``Observation`` below the
    key filter) and collects the rows of the sampled keys. Either left
    out costs one more job over the source. A sample key fails when the
    target has no row for it, or when any field pair of any of its
    target rows is unequal (a NULL comparison is not a mismatch, as in
    ``compare_records``); ``samples_failed`` counts DISTINCT failing
    keys, a NULL key (which matches no target row) once.
    ``samples_validated`` is ``min(N, source_count)``, the size of a
    last-N sample, so a target that repeats a key never counts for it.
    Returns a one-row frame of the driver-side values.
    """
    if cols is None:
        cols = [c for c in source.columns if c != key and c in target.columns]
    if source_count is None:
        source_count = source.count()
    if sample is None:
        sample = validation_sample(source, key, sample_size, cols)

    keys = list(dict.fromkeys(r[key] for r in sample if r[key] is not None))
    if keys:
        counted = Observation()
        # the count sits below the key filter, so it sees every target row
        scan = target.observe(counted, F.count(F.lit(1)).alias("n")).filter(
            F.col(key).isin(keys)
        )
        hits = _normalized(scan, key, cols).collect()
        target_count = counted.get["n"]
    else:
        # An empty IN list folds the filter away, observation included.
        hits, target_count = [], target.count()

    by_key: dict = {}
    for t in hits:
        by_key.setdefault(t[key], []).append(t)

    def fails(s: Row) -> bool:
        found = by_key.get(s[key], [])
        return not found or any(
            s[c] is not None and t[c] is not None and s[c] != t[c]
            for t in found
            for c in cols
        )

    samples_failed = len({s[key] for s in sample if fails(s)})
    samples_validated = min(sample_size, source_count)
    samples_passed = samples_validated - samples_failed
    issues = int(source_count != target_count) + samples_failed
    if issues == 0:
        status = "PASSED"
    elif samples_passed > samples_failed:
        status = "PARTIAL"
    else:
        status = "FAILED"
    return target.sparkSession.sql(
        _VERDICT_SQL,
        args={
            "source_count": source_count,
            "target_count": target_count,
            "samples_validated": samples_validated,
            "samples_passed": samples_passed,
            "samples_failed": samples_failed,
            "issues": issues,
            "status": status,
        },
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column data profile ``(col_name, n_nulls, n_distinct)`` in ONE
    scan: all 2xN aggregates compute in a single combinable pass, then a
    ``stack`` unpivots the one result row to long format — never N
    separate scans of a 100 TB table. The profiling step a migration
    plans VARCHAR sizing and nullability from (reference:
    Migration_Validation.ps1 integrity counters generalized)."""
    aggs = []
    for c in cols:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"__nn_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
    one = df.agg(*aggs)
    stack = ", ".join(f"'{c}', __nn_{c}, __nd_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col_name, n_nulls, n_distinct)"
    )
