"""Character-bigram language-model quality scoring — the KenLM-style
"perplexity filter" of CCNet/Wikipedia-reference pipelines (Wenzek et
al. 2020), restated Spark-first with a PINNED integer surprisal table
so two engines replay the identical model bit-for-bit.

Reference analogue: none — the migration tool has no text analytics;
this extends the SURVEY.md §2C north-star "quality scoring" surface
beyond rule-based signals (``text.py:quality_scores``) to a trained
model score.

Scale shape (the Lloyd's / mini-BPE pin-and-replay discipline):

- TRAINING is one distributed bigram-count groupBy (map-side
  combinable; the key space is bounded by charset², not corpus size)
  collected to the driver — a metadata-sized model like k-means
  centroids, PQ codebooks, or the BPE merge table;
- the MODEL is pinned as ``(bigram, surprisal_microbits)`` integer
  rows: surprisal = -log2(count(c1c2) / count(c1·)) computed ONCE at
  training time, scaled by 1e6 and rounded to int. Query-time scoring
  never touches libm — it is pure table lookup + integer sum, so the
  cross-engine hash contract holds exactly (the same reason
  ``token_rarity`` avoids ln());
- SCORING is an Arrow-batch pass (``mapInArrow`` over exactly the id
  and text columns): the pinned integer table replays as a Python dict
  built once per task, each doc's surprisal sums as exact ints, and
  the only shuffle is the per-document duplicate-id merge, combinable
  map-side. At 100 TB this is linear and batch-parallel; the r15
  JVM fold was interpreted (HOF lambda, outside codegen) and measured
  4.7x slower (see ``charlm_score``).

Score semantics: ``bits_per_char = mean surprisal over the doc's
(overlapping) char bigrams`` — the log2 cross-entropy of the doc under
the bigram model; unseen bigrams pay a pinned FLOOR surprisal (one bit
above the rarest trained bigram), so gibberish scores high and fluent
corpus-like text scores low, the exact signal the CCNet filter
thresholds on.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def char_bigrams(text: Column) -> Column:
    """Array of the text's overlapping character bigrams (length-1
    entries never occur because callers filter ``char_length >= 2``;
    the guard keeps ANSI ``sequence`` from seeing an empty range)."""
    n = F.char_length(text)
    return F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.substring(text, i, 2),
    )


def char_bigrams_sql(expr: str) -> str:
    """DuckDB twin of ``char_bigrams`` (``range(1, n)`` is exclusive of
    ``n``, matching Spark's inclusive ``sequence(1, n-1)``)."""
    return (
        f"list_transform(range(1, length({expr})), i -> substr({expr}, i, 2))"
    )


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed (bigram, n) histogram over the corpus — key space is
    charset²-bounded, so the groupBy is map-side combinable and the
    result is metadata-sized regardless of corpus size."""
    return (
        df.filter(F.char_length(F.col(text_col)) >= 2)
        .select(F.explode(char_bigrams(F.col(text_col))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def learn_char_lm(
    df: DataFrame, text_col: str = "text", top_k: int = 256
) -> tuple[list[tuple[str, int]], int]:
    """Train the bigram LM and return the PINNED model:
    ``([(bigram, surprisal_microbits)], floor_microbits)``.

    surprisal(c1c2) = -log2(count(c1c2) / count(c1·)) where count(c1·)
    sums every trained bigram starting with c1 (derived from the same
    histogram, so learner and normalizer can never disagree). The table
    keeps the ``top_k`` most frequent bigrams (count DESC, bigram ASC —
    deterministic); everything else pays ``floor`` = the table's max
    surprisal + 1,000,000 microbits (one extra bit — strictly worse
    than any trained bigram). Values are round()ed to integer microbits
    at TRAINING time; scoring replays integers only.

    Driver traffic is bounded by top_k + |charset|, NOT by the full
    histogram: the conditional's denominators (per-first-char totals)
    aggregate distributively to charset-many rows, and the table rows
    come back through a TakeOrdered top-k — so even a unicode corpus
    whose bigram histogram is millions of rows ships only model-sized
    data to the driver (the Lloyd's-sample discipline).
    """
    hist = bigram_counts(df, text_col)
    prefix = {
        r["__c1"]: r["__pn"]
        for r in hist.groupBy(
            F.substring("bigram", 1, 1).alias("__c1")
        )
        .agg(F.sum("n").alias("__pn"))
        .collect()
    }
    ranked = (
        hist.orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(top_k)
        .collect()
    )
    table = [
        (r["bigram"], round(-math.log2(r["n"] / prefix[r["bigram"][0]]) * 1_000_000))
        for r in ranked
    ]
    floor = (max(su for _, su in table) if table else 0) + 1_000_000
    return table, floor


def charlm_score(
    df: DataFrame,
    model: list[tuple[str, int]],
    floor: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with ``>= 2`` chars:
    ``(id, n_bigrams, bits_per_char)``. The per-document surprisal sum
    is LONG microbits (exact, order-free); the single division + round
    happens once per document, identically on both engines.

    r16 optimization (guide §4.2, VERDICT r15 next #3): the r15 form
    folded the bigram array with ``F.aggregate`` — higher-order-
    function lambdas evaluate INTERPRETED, outside whole-stage codegen,
    and the decomposition put that fold's floor at 1.65 s with a
    constant term (the 256-entry map-literal lookup adding ~0.6 s);
    every JVM restructure measured at the same floor (explode + map
    2.25 s, explode + broadcast join 2.23 s — OPTIMIZATION_r16.md
    "charlm_doc_scores").
    Scoring now runs in ``mapInArrow``: text crosses the boundary as
    Arrow batches (only the two needed columns, selected explicitly per
    guide §4.1), the pinned model is a plain Python dict built once per
    task from the plan-shipped literal, and the per-doc loop sums
    exact ints — measured 2.24 -> 0.47 s at 32 cores and 2.26 -> 0.48 s
    at 8 (hash-identical; Python code points == Spark/DuckDB substring
    semantics, and Python int addition is the same order-free LONG
    sum). The JVM keeps the length filter, the duplicate-id merge
    groupBy and the final arithmetic, so the oracle contract is
    untouched."""
    import pyarrow as pa

    from pyspark.sql import types as T

    lm = {bg: int(su) for bg, su in model}
    floor_i = int(floor)

    def _score(batches):
        get = lm.get  # model dict built once per task, lookups bound
        for b in batches:
            ns: list[int] = []
            sus: list[int] = []
            for t in b.column(1):
                s = t.as_py()
                n = len(s) - 1
                ns.append(n)
                sus.append(sum(get(s[i : i + 2], floor_i) for i in range(n)))
            yield pa.record_batch(
                [b.column(0), pa.array(ns, pa.int64()), pa.array(sus, pa.int64())],
                names=[id_col, "__n", "__su"],
            )

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("__n", T.LongType()),
            T.StructField("__su", T.LongType()),
        ]
    )
    row = (
        df.filter(F.char_length(F.col(text_col)) >= 2)
        .select(F.col(id_col), F.col(text_col))
        .mapInArrow(_score, out_schema)
    )
    return row.groupBy(id_col).agg(
        F.sum("__n").alias("n_bigrams"),
        F.round(
            F.sum("__su").cast("double")
            / (F.lit(1_000_000.0) * F.sum("__n")),
            6,
        ).alias("bits_per_char"),
    )


def charlm_score_sql(
    model: list[tuple[str, int]],
    floor: int,
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin of ``charlm_score`` — the pinned model replayed as a
    VALUES join (LEFT JOIN + coalesce = the map-miss floor)."""
    values = ",\n  ".join(
        f"('{_sql_quote(bg)}', {su}::BIGINT)" for bg, su in model
    )
    return f"""
WITH __lm(bg, su) AS (VALUES
  {values}
),
__bgs AS (
  SELECT {id_expr} AS doc_id,
         unnest({char_bigrams_sql(text_expr)}) AS bg
  FROM {table} WHERE length({text_expr}) >= 2
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(CAST(sum(coalesce(l.su, {floor}::BIGINT)) AS DOUBLE)
             / (1000000.0 * count(*)), 6) AS bits_per_char
FROM __bgs b LEFT JOIN __lm l ON b.bg = l.bg
GROUP BY doc_id
"""
