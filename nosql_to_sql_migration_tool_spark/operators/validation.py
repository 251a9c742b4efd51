"""Migration validation — the reference's ``Test-MigrationValidation``
suite (private/Migration_Validation.ps1:1-219) as distributed plans.

The reference validates per sampled document with a point lookup + field
loop (``Compare-DocumentToRecord``, :266-324). Here the whole sample
compares in ONE broadcast-friendly left join; per-field diffs come from an
explode over a (field, source_norm, target_norm) struct array — all
JVM-side expressions using the shared comparison canon
(``Normalize-ValueForComparison`` parity, functions/normalize.py).

At scale: the sample side is tiny (reference default 10 docs) so AQE
broadcasts it; comparing *full* tables with the same operator is one
shuffle join with per-field predicates fused into codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nosql_to_sql_migration_tool_spark.functions.normalize import (
    normalize_for_comparison,
)

MISSING_ROW_FIELD = "_row"


def _normalized_join(
    source: DataFrame,
    target: DataFrame,
    key: str,
    cols: list[str] | None,
) -> tuple[DataFrame, list[str]]:
    """``source LEFT JOIN target`` on ``key`` with every compared field
    normalized to the comparison canon: ``(key, __s_<c>..., __present,
    __t_<c>...)``, where ``__present`` is NULL for a source row absent
    from the target. Returns the joined frame and the compared fields."""
    if cols is None:
        cols = [c for c in source.columns if c != key and c in target.columns]
    src_types = {f.name: f.dataType for f in source.schema.fields}
    tgt_types = {f.name: f.dataType for f in target.schema.fields}

    src = source.select(
        F.col(key),
        *[
            normalize_for_comparison(F.col(c), src_types[c]).alias(f"__s_{c}")
            for c in cols
        ],
    )
    tgt = target.select(
        F.col(key),
        F.lit(1).alias("__present"),
        *[
            normalize_for_comparison(F.col(c), tgt_types[c]).alias(f"__t_{c}")
            for c in cols
        ],
    )
    return src.join(tgt, key, "left"), cols


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
    joined, cols = _normalized_join(source, target, key, cols)

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


def validation_verdict(
    source: DataFrame,
    target: DataFrame,
    key: str,
    sample_size: int = 10,
    cols: list[str] | None = None,
) -> DataFrame:
    """Full validation verdict as one row:
    ``(source_count, target_count, samples_validated, samples_passed,
    samples_failed, issues, status)``.

    Sample = last-N by key (Get-MdbcData -Last, :104). Verdict logic
    (:164-176): PASSED when no issues (count match, no failed samples);
    PARTIAL when passed > failed; else FAILED. ``issues`` counts the
    count-mismatch (1 if any) plus one per failed sample, mirroring the
    reference's Issues list length.

    One pass: the ≤N sample left-joins the target once, one aggregate
    counts the failing sample keys, and that row cross-joins the count
    reconciliation. ``samples_validated`` is ``min(N, source_count)``,
    the size of a last-N sample, so the join (which fans out when the
    target repeats a key) is never counted for it.
    """
    sample = source.orderBy(F.col(key).desc()).limit(sample_size)
    joined, cols = _normalized_join(sample, target, key, cols)
    # A sample row fails when it is absent from the target or any field
    # pair compares unequal — exactly the rows ``compare_records`` emits
    # for (a NULL comparison is not a mismatch, as in its filter).
    # samples_failed counts DISTINCT failing keys; the struct wrapper
    # keeps a NULL key countable.
    failed_row = F.col("__present").isNull()
    for c in cols:
        failed_row = failed_row | F.coalesce(
            F.col(f"__s_{c}") != F.col(f"__t_{c}"), F.lit(False)
        )
    failed = joined.agg(
        F.count_distinct(F.when(failed_row, F.struct(key))).alias(
            "samples_failed"
        )
    )
    base = (
        count_reconcile(source, target)
        .crossJoin(failed)
        # the sample is the last ``sample_size`` rows of ``source``
        .withColumn(
            "samples_validated",
            F.least(F.lit(sample_size), F.col("source_count")).cast("long"),
        )
        .withColumn(
            "samples_passed",
            F.col("samples_validated") - F.col("samples_failed"),
        )
        .withColumn(
            "issues",
            F.when(F.col("count_match"), F.lit(0)).otherwise(F.lit(1))
            + F.col("samples_failed"),
        )
    )
    status = (
        F.when(F.col("issues") == 0, F.lit("PASSED"))
        .when(F.col("samples_passed") > F.col("samples_failed"), F.lit("PARTIAL"))
        .otherwise(F.lit("FAILED"))
    )
    return base.select(
        "source_count",
        "target_count",
        "samples_validated",
        "samples_passed",
        "samples_failed",
        "issues",
        status.alias("status"),
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
