"""Distributed schema inference over schemaless documents.

Reproduces the reference's sample-based inference (``Get-MongoDBSchema`` +
``Analyze-DocumentStructure``, private/Analyze_scheme.ps1:101-228) as a
two-stage distributed job:

1. **Path explosion** — each document is walked recursively into
   ``(doc id, path, dtype, str_len)`` rows. Path conventions match the
   reference (Analyze_scheme.ps1:160,206): dots for nested fields
   (``address.city``), ``[]`` for array elements (``tags[]``,
   ``items[].sku``). The walk over *arbitrary* ragged JSON is the one step
   Catalyst cannot express, so it runs as an Arrow-batched ``mapInPandas``
   (vectorized transfer, ~constant per-batch Python overhead) — never a
   row-at-a-time UDF.
2. **Stats aggregation** — everything else is ONE built-in JVM
   aggregate per path: occurrence counts, one count per JSON type
   (``JSON_TYPES``) from which the **majority-vote** type is picked
   (Sql_Schema_Generator.ps1:416 — unlike Spark's own least-common-
   supertype JSON inference), max string length for VARCHAR sizing
   (Sql_Schema_Generator.ps1:427-433), and bounded distinct samples
   (≤3, Analyze_scheme.ps1:163-171). Because the path stream has one
   consumer, the Python walk runs once per inference: a second
   aggregate over the same stream would re-run the walk in its own
   Python-worker job.

Scale: the exploded stream is (paths-per-doc × docs) narrow rows; stats
aggregate with map-side partial combine, so the shuffle carries only
per-partition partials. Inference over a *sample* (the reference defaults
to 100 docs) is ``df.limit(n)`` / ``df.sample(f)`` upstream of this
operator — composability for free.

Type classification (JSON values; Get-FieldType parity,
Analyze_scheme.ps1:230-267): null/boolean/integer/number/string/array/
object. ``boolean`` is tested before ``integer`` (Python bools are ints).
Datetimes only exist in typed columns in JSON-land and are classified by
schema when inferring over typed DataFrames.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

PATHS_SCHEMA = "doc_id long, path string, dtype string, str_len int, sample string"

# Every dtype ``_classify`` emits, sorted: the majority vote compares
# (count, name) structs, so a tie goes to the largest name.
JSON_TYPES = ("array", "boolean", "integer", "null", "number", "object", "string")


def _classify(value) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, int):
        return "integer"
    if isinstance(value, float):
        return "number"
    if isinstance(value, str):
        return "string"
    if isinstance(value, list):
        return "array"
    if isinstance(value, dict):
        return "object"
    return "string"


def _walk(value, path: str, doc_id, out: list) -> None:
    dtype = _classify(value)
    if dtype == "object":
        if path:  # the document root itself is not a field
            out.append((doc_id, path, "object", None, None))
        for key, child in value.items():
            _walk(child, f"{path}.{key}" if path else key, doc_id, out)
    elif dtype == "array":
        out.append((doc_id, path, "array", None, None))
        for element in value:
            _walk(element, f"{path}[]", doc_id, out)
    else:
        str_len = len(value) if dtype == "string" else None
        sample = None if value is None else str(value)[:64]
        out.append((doc_id, path, dtype, str_len, sample))


def explode_json_paths(
    df: DataFrame, doc_col: str, id_col: str
) -> DataFrame:
    """Stage 1: documents → (doc_id, path, dtype, str_len) rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for doc_id, doc in zip(pdf[id_col], pdf[doc_col]):
                if doc is None:
                    continue
                try:
                    parsed = json.loads(doc)
                except (ValueError, TypeError):
                    continue
                _walk(parsed, "", doc_id, rows)
            yield pd.DataFrame(
                rows, columns=["doc_id", "path", "dtype", "str_len", "sample"]
            )

    return df.select(
        F.col(id_col).cast("long").alias(id_col), doc_col
    ).mapInPandas(gen, PATHS_SCHEMA)


def schema_stats(
    paths: DataFrame, n_samples: int = 0, with_type_set: bool = False
) -> DataFrame:
    """Stage 2: per-path statistics.

    Output: ``path, n_docs, n_values, majority_type, max_len`` and, when
    ``n_samples`` > 0, ``samples`` (bounded distinct values are only
    meaningful for debugging/display — they are excluded from the
    deterministic query surface). ``with_type_set`` adds the full type
    *presence* set (sorted) — the reference's ArrayElementTypes histogram
    keys, needed by the DDL planner's element-type priority rule
    (Sql_Schema_Generator.ps1:383-392).

    Majority vote ties break toward the lexicographically largest type
    name — a pinned, deterministic rule (the reference's sort is
    unstable on ties, Sql_Schema_Generator.ps1:416).
    """
    counts = {t: F.col(f"__n_{t}") for t in JSON_TYPES}
    aggs = [
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_values"),
        F.max("str_len").cast("long").alias("max_len"),
        *(F.count_if(F.col("dtype") == t).alias(f"__n_{t}") for t in JSON_TYPES),
    ]
    if n_samples > 0:
        aggs.append(
            F.slice(F.sort_array(F.collect_set("sample")), 1, n_samples).alias(
                "samples"
            )
        )
    if with_type_set:
        aggs.append(F.sort_array(F.collect_set("dtype")).alias("type_set"))
    stats = paths.groupBy("path").agg(*aggs)

    majority = F.greatest(
        *(F.struct(n.alias("n"), F.lit(t).alias("dtype")) for t, n in counts.items())
    )["dtype"]
    # A dtype outside JSON_TYPES would be counted by no column and the
    # vote would silently pick among the rest: fail the query instead.
    typed = sum(counts.values(), F.lit(0))
    majority_type = F.when(
        typed != F.col("n_values"),
        F.raise_error(
            F.concat(
                F.lit("schema_stats: path "),
                F.col("path"),
                F.lit(f" has a dtype outside {', '.join(JSON_TYPES)}"),
            )
        ),
    ).otherwise(majority)
    return stats.select(
        *(c for c in stats.columns if not c.startswith("__n_")),
        majority_type.alias("majority_type"),
    )


def spark_schema_from_stats(stats: list[dict]):
    """Inferred path stats -> a Spark ``StructType`` for ``from_json``:
    majority-vote scalar types (reference's type resolution,
    Sql_Schema_Generator.ps1:416), nested objects from dotted paths,
    arrays from ``[]`` paths. The bridge from schemaless inference to a
    typed parse in the full-migration workflow."""
    import re

    from pyspark.sql import types as T

    by_path = {s["path"]: s for s in stats}

    def scalar_type(mt: str) -> T.DataType:
        return {
            "string": T.StringType(),
            "integer": T.LongType(),
            "number": T.DoubleType(),
            "boolean": T.BooleanType(),
            "null": T.StringType(),
        }.get(mt, T.StringType())

    def build(prefix: str) -> T.StructType:
        fields = []
        for path in sorted(by_path):
            if not path.startswith(prefix):
                continue
            rest = path[len(prefix):]
            # direct children only: a bare name (no dots, no [] markers)
            if not re.fullmatch(r"[^.\[\]]+", rest):
                continue
            full = prefix + rest
            mt = by_path[full]["majority_type"]
            if mt == "object":
                dtype: T.DataType = build(f"{full}.")
            elif mt == "array":
                elem = by_path.get(f"{full}[]")
                emt = elem["majority_type"] if elem else "string"
                dtype = T.ArrayType(
                    build(f"{full}[].") if emt == "object" else scalar_type(emt)
                )
            else:
                dtype = scalar_type(mt)
            fields.append(T.StructField(rest, dtype))
        return T.StructType(fields)

    return build("")


def infer_schema(
    df: DataFrame, doc_col: str, id_col: str, sample_docs: int | None = None
) -> DataFrame:
    """Sample-based inference pipeline: ``Get-MongoDBSchema`` parity.

    ``sample_docs`` bounds the Python-side document walk (the reference
    defaults to 100 docs, Analyze_scheme.ps1:41) — the explicit guard that
    keeps a careless caller from walking a full 100 TB table through
    ``mapInPandas``. ``None`` = caller already bounded the input (the
    declared test queries run the full small fixture deliberately)."""
    if sample_docs is not None:
        df = df.limit(sample_docs)
    return schema_stats(explode_json_paths(df, doc_col, id_col))
