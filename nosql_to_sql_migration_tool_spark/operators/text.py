"""Text-analysis operators over document corpora — the LLM-data-pipeline
surface (SURVEY.md §2C / M7c): token counting, quality scoring, language
ID, document fingerprinting.

Everything is built-in Column expressions (split / regexp_count /
higher-order array functions / md5) — zero Python UDFs, so the whole
per-document pipeline stays inside whole-stage codegen and scales as a
pure map over a 100 TB corpus: no shuffle for per-doc stats, one
map-side-combinable shuffle for corpus aggregates.

Each operator has a DuckDB SQL twin (``*_sql``) built from the same
pinned definitions so oracles can never drift: tokens = whitespace split
of trimmed text; regex tokens = ``[A-Za-z0-9]+`` runs; ratios rounded to
6 dp; shingle fingerprint = lexicographic min of md5 over 3-token
shingles (a 1-permutation MinHash — operators/dedup.py generalizes it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import DecimalType

TOKEN_RE = "[A-Za-z0-9]+"
PUNCT_RE = "[^A-Za-z0-9\\s]"
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on")
SHINGLE_K = 3

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "is"),
    "de": ("der", "die", "und", "nicht"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "y", "las"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text -> empty array."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def tokens_sql(expr: str) -> str:
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex(trim({expr}), '\\s+') END"
    )


_tokens_sql = tokens_sql  # internal alias


def _in_list(words: tuple[str, ...]):
    """Single-arg higher-order-function lambda (an extra defaulted arg
    would make PySpark bind the element *index* to it)."""
    return lambda t: t.isin(*words)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: token counts (whitespace + regex), punctuation
    ratio, stopword ratio, and a composite quality score — the
    length/punct/stopword heuristics of corpus quality filtering."""
    text = F.col(text_col)
    # r15 optimization (guide §1.2 per-task work; the with_shingles
    # materialize-first discipline applied here too): project the token
    # array ONCE and reference the column — handing ``tokens(text)``
    # straight to size/filter/ratio exprs inlined the regex split into
    # every reference (23 splits in quality_filtered_docs' plan; 13
    # after, measured −22% on the row). CollapseProject keeps the
    # two-step shape because the producer is non-cheap and referenced
    # more than once. Same expressions over the same array —
    # bit-identical output.
    base = df.withColumn("__ts_toks", tokens(text))
    toks = F.col("__ts_toks")
    n_ws = F.size(toks)
    n_re = F.regexp_count(text, F.lit(TOKEN_RE))
    punct = F.regexp_count(text, F.lit(PUNCT_RE))
    punct_ratio = F.round(
        punct * F.lit(1.0) / F.greatest(F.length(text), F.lit(1)), 6
    )
    stop = F.size(F.filter(toks, _in_list(STOPWORDS)))
    stop_ratio = F.round(stop * F.lit(1.0) / F.greatest(n_ws, F.lit(1)), 6)
    quality = F.round(
        F.least(F.lit(1.0), n_ws / F.lit(100.0))
        * (F.lit(1.0) - punct_ratio)
        * (F.lit(1.0) - F.lit(0.5) * stop_ratio),
        6,
    )
    return base.select(
        *[F.col(c) for c in df.columns],
        n_ws.alias("n_ws_tokens"),
        n_re.alias("n_re_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def text_stats_sql(text_expr: str) -> dict[str, str]:
    """DuckDB expressions for every with_text_stats output column."""
    toks = _tokens_sql(text_expr)
    n_ws = f"len({toks})"
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    punct_ratio = (
        f"round(len(regexp_extract_all({text_expr}, '{PUNCT_RE}')) * 1.0 / "
        f"greatest(length({text_expr}), 1), 6)"
    )
    stop_ratio = (
        f"round(len(list_filter({toks}, t -> t IN ({stop_list}))) * 1.0 / "
        f"greatest({n_ws}, 1), 6)"
    )
    return {
        "n_ws_tokens": f"CAST({n_ws} AS INT)",
        "n_re_tokens": f"CAST(len(regexp_extract_all({text_expr}, '{TOKEN_RE}')) AS INT)",
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": (
            f"round(least(1.0, {n_ws} / 100.0) * (1.0 - {punct_ratio}) * "
            f"(1.0 - 0.5 * {stop_ratio}), 6)"
        ),
    }


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram(1) marker-token language ID: score each language by marker
    hits, argmax with deterministic (score, lang) tie-break, 'unknown'
    when nothing matches."""
    # r15 optimization: same materialize-the-token-array-once shape as
    # with_text_stats (each language's marker filter used to inline its
    # own regex split of the text).
    base = df.withColumn("__lg_toks", tokens(F.col(text_col)))
    toks = F.col("__lg_toks")
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, _in_list(words))).alias("s"),
                F.lit(lang).alias("l"),
            )
            for lang, words in LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scored)
    guess = F.when(best["s"] == 0, F.lit("unknown")).otherwise(best["l"])
    return base.select(
        *[F.col(c) for c in df.columns], guess.alias("lang_guess")
    )


def lang_guess_sql(text_expr: str) -> str:
    toks = _tokens_sql(text_expr)
    structs = ", ".join(
        "{'s': len(list_filter(%s, t -> t IN (%s))), 'l': '%s'}"
        % (toks, ", ".join(f"'{w}'" for w in words), lang)
        for lang, words in LANG_MARKERS.items()
    )
    return (
        f"CASE WHEN list_max([{structs}]).s = 0 THEN 'unknown' "
        f"ELSE list_max([{structs}]).l END"
    )


def shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-shingles over an ALREADY-MATERIALIZED token array
    column. Callers must project the token array first (``with_shingles``
    does) — handing in ``tokens(text)`` directly inlines the split into
    every slice reference and re-tokenizes the text ~n times per row
    (measured 5x slower at sf0.1)."""
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(n >= k, F.array_distinct(shingles)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "__shingles",
    k: int = SHINGLE_K,
    keep: tuple[str, ...] | None = None,
) -> DataFrame:
    """Project (kept columns, shingle array): tokens materialized once in
    an intermediate projection, shingles built from the column."""
    kept = list(keep) if keep is not None else [c for c in df.columns]
    return df.select(
        *kept, tokens(F.col(text_col)).alias("__toks")
    ).select(*kept, shingles_from_tokens(F.col("__toks"), k).alias(out_col))


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    distinct: bool = True,
) -> DataFrame:
    """Shingles as ROWS ``(id, __s)``, built explode-FIRST: the Generate
    node explodes a cheap integer sequence (start offsets) and the
    shingle string assembles AFTER it in a whole-stage-codegen
    projection over the materialized token array.

    Exploding a computed shingle array instead (``shingle_sets`` ->
    ``explode``) lets CollapseProject inline the whole array expression
    into the Generate, which drops it out of codegen — measured ~4x
    slower at sf0.1. Use this form whenever the consumer wants shingle
    rows (min-aggregates, equi-joins); keep ``shingle_sets`` for array
    consumers (Jaccard set intersection) and for persisted shared
    projections. ``distinct=False`` skips the per-doc dedup shuffle for
    consumers where duplicates are harmless (min/minhash aggregation).

    Short texts (< k tokens) contribute their whole-text shingle —
    identical semantics to ``shingles_from_tokens``."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    long_docs = (
        toked.where(n >= k)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(1), F.size(F.col("__toks")) - F.lit(k - 1))
            ).alias("__i"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__i"), k)
            ).alias("__s"),
        )
    )
    short_docs = toked.where(n < k).select(
        F.col(id_col), F.concat_ws(" ", F.col("__toks")).alias("__s")
    )
    rows = long_docs.unionByName(short_docs)
    return rows.dropDuplicates([id_col, "__s"]) if distinct else rows


def word_shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles; texts shorter than k tokens collapse to
    one whole-text shingle. Convenience single-expression form — for hot
    paths use ``with_shingles`` (see ``shingles_from_tokens`` note)."""
    return shingles_from_tokens(tokens(text), k)


def word_shingles_sql(text_expr: str, k: int = SHINGLE_K) -> str:
    toks = _tokens_sql(text_expr)
    n = f"len({toks})"
    shingles = (
        f"list_distinct(list_transform(generate_series(1, {n} - {k - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')))"
    )
    return (
        f"CASE WHEN {n} >= {k} THEN {shingles} "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


def with_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Document fingerprints: ``exact_fp`` (md5 of whitespace-canonical
    lowercased text — exact-dedup key) and ``shingle_fp`` (lexicographic
    min md5 over 3-token shingles — a rolling 1-permutation MinHash that
    survives local edits).

    The shingle min is computed explode-then-aggregate (shingles built
    once, codegen-friendly, map-side combinable min) and joined back to
    the cheap per-row exact hash — the same restructure that made the
    12-permutation MinHash 10x faster (operators/dedup.py). ``shingles``
    optionally supplies a precomputed ``(id, __sh)`` projection shared
    with sibling queries over the same corpus."""
    text = F.col(text_col)
    canon = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    exact = df.select("*", F.md5(canon).alias("exact_fp"))
    if shingles is not None:
        sh_src = shingles.select(
            F.col(id_col), F.explode("__sh").alias("__s")
        )
    else:
        sh_src = shingle_rows(df, text_col, id_col, distinct=False)
    shingle_min = sh_src.groupBy(id_col).agg(
        F.min(F.md5(F.col("__s"))).alias("shingle_fp")
    )
    return exact.join(shingle_min, id_col)


def fingerprints_sql(text_expr: str) -> dict[str, str]:
    toks = _tokens_sql(text_expr)
    n = f"len({toks})"
    shingle = (
        f"list_min(list_transform(generate_series(1, {n} - {SHINGLE_K - 1}), "
        f"i -> md5(array_to_string(list_slice({toks}, i, i + {SHINGLE_K - 1}), ' '))))"
    )
    return {
        "exact_fp": (
            f"md5(regexp_replace(lower(trim({text_expr})), '\\s+', ' ', 'g'))"
        ),
        "shingle_fp": (
            f"CASE WHEN {n} >= {SHINGLE_K} THEN {shingle} "
            f"ELSE md5(array_to_string({toks}, ' ')) END"
        ),
    }


def bigram_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus bigram histogram: consecutive token pairs (order-preserving,
    NOT distinct per doc — language-model-style counts), one combinable
    count shuffle. Tokens materialize once per row before the slice map
    (the ``shingles_from_tokens`` lesson)."""
    toks_df = df.select(tokens(F.col(text_col)).alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    bigrams = toks_df.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, 2)),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def assign_training_windows(
    df: DataFrame,
    budget_tokens: int = 256,
    n_buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk training-window assignment: documents hash into
    ``n_buckets`` independent streams, order by id within a stream, and
    each doc lands in window ``floor(exclusive_cumsum_tokens / budget)``
    — the standard LLM-batching approximation (concatenate the stream,
    split into fixed token windows; a doc may straddle two windows).
    Output ``(id, bucket, window_id, n_tokens, offset)``.

    Scale: the cumulative sum is a per-bucket window — one shuffle on
    bucket, in-partition sort by id; buckets bound partition width and
    parallelism, there is never a global sort. Deterministic given ids.
    """
    with_counts = df.select(
        F.col(id_col),
        (F.col(id_col) % n_buckets).alias("bucket"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return with_counts.select(
        id_col,
        "bucket",
        F.floor(pre / F.lit(budget_tokens)).alias("window_id"),
        "n_tokens",
        (pre % F.lit(budget_tokens)).alias("offset"),
    )


def assign_training_windows_sql(
    budget_tokens: int = 256, n_buckets: int = 16, table: str = "documents"
) -> str:
    toks = _tokens_sql("text")
    return f"""
WITH t AS (
  SELECT doc_id, doc_id % {n_buckets} AS bucket,
         len({toks}) AS n_tokens
  FROM {table}
),
c AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
    PARTITION BY bucket ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM t
)
SELECT doc_id, bucket,
       CAST(floor(pre / {budget_tokens}) AS BIGINT) AS window_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(pre % {budget_tokens} AS BIGINT) AS offset
FROM c
"""


def token_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus token histogram: explode tokens, count per token. The
    canonical map-side-combinable aggregate — one narrow shuffle of
    (token, partial count) at any corpus size."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def tfidf_scores(
    docs: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword relevance scores: per-document sum over the query terms of
    ``tf * (N / df)`` — raw-frequency TF, reciprocal document frequency
    (log-free so both engines compute bit-identical doubles; ln() libm
    rounding differs across engines). Per-term scores round to 6 dp and
    sum in exact DECIMAL, so term-accumulation order can never flip a
    digit.

    Plan: the term filter prunes the exploded token stream immediately
    (only query-term rows survive the explode — the stream is |terms| *
    matching docs, not the corpus token count); df and N are tiny
    broadcast aggregates. One combinable shuffle on (doc, term), one on
    doc."""
    term_lits = [F.lit(t) for t in terms]
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    ).where(F.col("__tok").isin(*term_lits))
    tf = tok.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    per_term = (
        tf.join(F.broadcast(dfreq), "__tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.round(
                F.col("__tf") * (F.col("__n") / F.col("__df")), 6
            )
            .cast(DecimalType(18, 6))
            .alias("__score"),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.round(F.sum("__score").cast("double"), 6).alias("score")
    )


def bigram_lift(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Collocation strength for the corpus's frequent bigrams:
    ``lift = c_ab * N / (c_a * c_b)`` with N = total token occurrences
    (the log-free PMI — ln() libm rounding differs across engines; the
    ratio preserves ranking). Every input is an exact integer count, so
    the one double division is correctly rounded and bit-identical on
    any engine; 6-dp round + (lift, bigram) ordering make the top-N
    deterministic.

    Plan: unigram histogram + bigram histogram (both combinable
    shuffles over the same token stream), bigrams join their two
    unigram counts via broadcast (the min_count filter shrinks the
    bigram side first), TakeOrderedAndProject for the top-N. The
    unigram histogram is CACHED: the plan references it three times
    (N scalar, left-word join, right-word join) and Catalyst builds
    each reference as its own scan+explode+agg subplan — caching the
    vocab-sized table cuts the query from four corpus tokenizations
    to two (measured ~3x at sf0.1). Vocabulary is millions of rows at
    100 TB corpus scale — executor-memory-sized, safe to cache."""
    uni = (
        df.select(F.explode(tokens(F.col(text_col))).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    ).cache()
    n_tok = uni.agg(F.sum("__c").alias("__n"))
    bi = bigram_frequencies(df, text_col, min_count=min_count)
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    ua = uni.select(F.col("__tok").alias("__t1"), F.col("__c").alias("__c1"))
    ub = uni.select(F.col("__tok").alias("__t2"), F.col("__c").alias("__c2"))
    return (
        bi.withColumn("__w1", w1)
        .withColumn("__w2", w2)
        .join(F.broadcast(ua), F.col("__w1") == F.col("__t1"))
        .join(F.broadcast(ub), F.col("__w2") == F.col("__t2"))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "bigram",
            F.col("cnt"),
            F.round(
                F.col("cnt") * F.lit(1.0) * F.col("__n")
                / (F.col("__c1") * F.col("__c2")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "bigram")
        .limit(top_n)
    )


# Gopher-style repetition / quality rule thresholds (Rae et al. 2021,
# "Scaling Language Models" §A1.1 quality filtering; C4's heuristics are
# the same family). Values are module constants so the Spark plan and
# the DuckDB oracle can never disagree on a boundary.
GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 100_000
GOPHER_MEAN_LEN_LO = 2.0
GOPHER_MEAN_LEN_HI = 12.0
GOPHER_TOP_BIGRAM_MAX = 0.20
GOPHER_DUP_5GRAM_MAX = 0.30


def _gram_rows(df: DataFrame, k: int, text_col: str, id_col: str) -> DataFrame:
    """Non-distinct k-gram rows (id, __g) for docs with >= k tokens —
    explode-first over an integer sequence (the ``shingle_rows`` lesson);
    shorter docs contribute NO grams (repetition ratios must not count a
    degenerate whole-text gram as '100% repeated')."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    return (
        toked.where(F.size("__toks") >= k)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - F.lit(k - 1))
            ).alias("__i"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), k)).alias(
                "__g"
            ),
        )
    )


def repetition_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style per-document repetition metrics + keep flag:

    - ``n_tokens``, ``mean_token_len`` — length rules (pure map);
    - ``top_bigram_share`` — fraction of bigram occurrences taken by the
      most frequent bigram (template/boilerplate signal);
    - ``dup_5gram_frac`` — fraction of 5-gram occurrences that are
      repeats of an earlier 5-gram in the same doc (looping generation);
    - ``keep`` (0/1) — AND of the threshold rules above. INT rather than
      BOOLEAN so the cross-engine hash never depends on bool rendering.

    Plan: per-row stats stay in codegen; each gram family is one
    explode -> count shuffle keyed by (doc, gram) then a combinable
    per-doc aggregate that reuses the same hash partitioning. Docs
    shorter than k contribute no grams and coalesce to share 0.0 —
    short docs are judged by the length rule, not fake repetition. At
    100 TB both shuffles carry (id, gram-hash, count) rows only."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    base = toked.select(
        F.col(id_col),
        n.cast("int").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.col("__toks"), F.lit(0), lambda acc, x: acc + F.length(x)
            )
            * F.lit(1.0)
            / F.greatest(n, F.lit(1)),
            6,
        ).alias("mean_token_len"),
    )
    bi = (
        _gram_rows(df, 2, text_col, id_col)
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            F.round(
                F.max("__c") * F.lit(1.0) / F.sum("__c"), 6
            ).alias("top_bigram_share")
        )
    )
    fv = (
        _gram_rows(df, 5, text_col, id_col)
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            F.round(
                (F.sum("__c") - F.count(F.lit(1)))
                * F.lit(1.0)
                / F.sum("__c"),
                6,
            ).alias("dup_5gram_frac")
        )
    )
    joined = (
        base.join(bi, id_col, "left")
        .join(fv, id_col, "left")
        .withColumn(
            "top_bigram_share", F.coalesce("top_bigram_share", F.lit(0.0))
        )
        .withColumn(
            "dup_5gram_frac", F.coalesce("dup_5gram_frac", F.lit(0.0))
        )
    )
    keep = (
        F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & F.col("mean_token_len").between(
            GOPHER_MEAN_LEN_LO, GOPHER_MEAN_LEN_HI
        )
        & (F.col("top_bigram_share") <= GOPHER_TOP_BIGRAM_MAX)
        & (F.col("dup_5gram_frac") <= GOPHER_DUP_5GRAM_MAX)
    )
    return joined.withColumn("keep", keep.cast("int"))


def repetition_flags_sql(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB twin of ``repetition_flags`` (same constants, same
    rounding, same left-join/coalesce shape)."""
    toks = _tokens_sql(text_expr)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS t FROM {table}),
base AS (
  SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
         round(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
               * 1.0 / greatest(len(t), 1), 6) AS mean_token_len
  FROM t
),
bg AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
    FROM t WHERE len(t) >= 2
  ) GROUP BY doc_id, g
),
bga AS (
  SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_share
  FROM bg GROUP BY doc_id
),
fg AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
           i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS g
    FROM t WHERE len(t) >= 5
  ) GROUP BY doc_id, g
),
fga AS (
  SELECT doc_id, round((sum(c) - count(*)) * 1.0 / sum(c), 6) AS dup_5gram_frac
  FROM fg GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.mean_token_len,
       coalesce(bga.top_bigram_share, 0.0) AS top_bigram_share,
       coalesce(fga.dup_5gram_frac, 0.0) AS dup_5gram_frac,
       CAST(b.n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
            AND b.mean_token_len BETWEEN {GOPHER_MEAN_LEN_LO} AND {GOPHER_MEAN_LEN_HI}
            AND coalesce(bga.top_bigram_share, 0.0) <= {GOPHER_TOP_BIGRAM_MAX}
            AND coalesce(fga.dup_5gram_frac, 0.0) <= {GOPHER_DUP_5GRAM_MAX}
            AS INT) AS keep
FROM base b
LEFT JOIN bga ON b.doc_id = bga.doc_id
LEFT JOIN fga ON b.doc_id = fga.doc_id
"""


def bigram_lift_sql(
    text_expr: str, min_count: int = 5, top_n: int = 50
) -> str:
    toks = _tokens_sql(text_expr)
    return f"""
WITH tok AS (
  SELECT unnest({toks}) AS tok FROM documents
),
uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
n AS (SELECT sum(c) AS n FROM uni),
bi AS (
  SELECT bigram, count(*) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bigram
    FROM (SELECT {toks} AS t FROM documents) WHERE len(t) >= 2
  ) GROUP BY bigram HAVING count(*) >= {min_count}
)
SELECT bigram, cnt,
       round(cnt * 1.0 * n.n / (u1.c * u2.c), 6) AS lift
FROM bi
JOIN uni u1 ON str_split(bi.bigram, ' ')[1] = u1.tok
JOIN uni u2 ON str_split(bi.bigram, ' ')[2] = u2.tok
CROSS JOIN n
ORDER BY lift DESC, bigram LIMIT {top_n}
"""


def token_rarity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean inverse corpus frequency — the log-free
    perplexity proxy of CCNet-style LM quality filtering: documents made
    of corpus-common tokens score near 0, documents of corpus-unique
    tokens score 1. ``(id, n_tokens, rarity)`` where
    ``rarity = round(sum(round(1/freq(t), 6)) / n_tokens, 6)`` over the
    doc's token occurrences. ln()-free on purpose: libm log rounding
    differs across engines, while 1/freq is IEEE-exact division and the
    6-dp round + DECIMAL accumulation makes the sum order-independent
    (the tfidf_scores contract).

    Plan: one exploded token stream feeds BOTH the corpus histogram and
    the per-doc join — Spark computes the explode twice (self-join), but
    each side is a narrow (id, token) projection; the histogram side is
    map-side combinable and vocabulary-sized, so the join broadcasts at
    steady state (AQE) or shuffles on the token otherwise. Zero-token
    documents produce no output row (no occurrences to average)."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    freq = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    weight = (
        F.round(F.lit(1.0) / F.col("__cnt"), 6)
        .cast(DecimalType(18, 6))
        .alias("__w")
    )
    return (
        tok.join(freq, "__tok")
        .select(F.col(id_col), weight)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("__w").cast("double") / F.count(F.lit(1)), 6
            ).alias("rarity"),
        )
    )


def token_rarity_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin of ``token_rarity`` (1.0 cast to DOUBLE — DuckDB's
    bare 1.0 literal is DECIMAL and decimal division semantics differ
    from Spark's double division)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH __tok AS (
  SELECT {id_expr} AS doc_id, unnest({toks}) AS tok FROM {table}
),
__freq AS (
  SELECT tok, count(*) AS cnt FROM __tok GROUP BY tok
)
SELECT t.doc_id, count(*) AS n_tokens,
       round(CAST(sum(CAST(round(CAST(1.0 AS DOUBLE) / f.cnt, 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*),
             6) AS rarity
FROM __tok t JOIN __freq f ON t.tok = f.tok
GROUP BY t.doc_id
"""


def adaptive_quality_filter(
    df: DataFrame,
    keep_frac: float = 0.7,
    domain_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain adaptive quality cutoff: keep each domain's top
    ``keep_frac`` of documents by quality score (ties by id) — the
    per-source threshold pass of corpus curation, where a single global
    cutoff would empty low-resource domains. Rank-based on purpose:
    an interpolated percentile threshold is float-fragile across
    engines, while ``rank <= ceil(keep_frac * n_domain)`` is integer-
    exact. Output ``(id, domain, quality_score)``.

    Plan: one shuffle on the domain; both the rank and the domain count
    come from the same window partition (no second aggregate or join).
    Partition width is the largest domain's row count — the same
    contract (and the same two-phase escape hatch) as every per-group
    top-k here."""
    scored = with_text_stats(df, text_col).select(
        F.col(id_col), F.col(domain_col), "quality_score"
    )
    w = Window.partitionBy(domain_col)
    rn = F.row_number().over(
        w.orderBy(F.col("quality_score").desc(), F.col(id_col))
    )
    n = F.count(F.lit(1)).over(w)
    return (
        scored.withColumn("__rn", rn)
        .withColumn("__n", n)
        .filter(
            F.col("__rn")
            <= F.ceil(F.lit(keep_frac) * F.col("__n").cast("double"))
        )
        .select(id_col, domain_col, "quality_score")
    )


def adaptive_quality_filter_sql(
    keep_frac: float = 0.7,
    table: str = "documents",
    domain_col: str = "lang",
) -> str:
    """DuckDB twin of ``adaptive_quality_filter``."""
    q = text_stats_sql("text")["quality_score"]
    return f"""
WITH __scored AS (
  SELECT doc_id, {domain_col}, {q} AS quality_score FROM {table}
),
__ranked AS (
  SELECT doc_id, {domain_col}, quality_score,
         row_number() OVER (PARTITION BY {domain_col}
           ORDER BY quality_score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY {domain_col}) AS n
  FROM __scored
)
SELECT doc_id, {domain_col}, quality_score
FROM __ranked
WHERE rn <= ceil({keep_frac} * CAST(n AS DOUBLE))
"""


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    df_cap: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows: DataFrame | None = None,
) -> DataFrame:
    """Document near-dup pairs by idf-weighted shingle cosine — the
    WEIGHTED complement of Jaccard near-dup: shared rare shingles count
    for much more than shared boilerplate, so templated documents that
    Jaccard over-merges separate cleanly. With distinct shingles the
    vector is binary and the weight is pure idf, so both the numerator
    and the norms are sums of the same per-shingle ``round(idf², 6)``
    DECIMAL terms — order-free exact accumulation, one definition.

    Candidate generation is rare-shingle blocking (the prefix-filter
    idea): only shingles in ``2..df_cap`` documents emit pairs, so
    per-shingle pair fan-out is ≤ df_cap² and total candidate volume is
    linear in the corpus for a fixed cap — never all-pairs. Recall
    contract: a pair is only found if it shares at least one rare
    shingle (near-dups share many; two documents built entirely from
    corpus-common shingles are invisible, by design).

    Plan: one shingle-row projection feeds df counts, weights, norms
    and candidates; the scoring join is candidates ⋈ weights(a) ⋈
    weights(b, same shingle) — shuffles keyed on doc ids, row volume
    Σ_cand |shingles(a)|. Output ``(id_a, id_b, cos_sim)``. ``rows``
    lets callers hand in a persisted distinct (id, __s) projection
    (e.g. exploded from the dedup family's shared shingle sets)."""
    from pyspark.sql.types import DecimalType

    if rows is None:
        rows = shingle_rows(df, text_col, id_col, distinct=True)
    dfreq = rows.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    nn = df.agg(F.count(F.lit(1)).alias("__n"))
    idf = F.col("__n").cast("double") / F.col("__df")
    w = (
        rows.join(dfreq, "__s")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col(id_col),
            "__s",
            F.round(idf * idf, 6).cast(DecimalType(18, 6)).alias("__w2"),
        )
    )
    n2 = w.groupBy(id_col).agg(F.sum("__w2").alias("__n2"))
    rare = dfreq.filter(
        (F.col("__df") >= 2) & (F.col("__df") <= df_cap)
    ).select("__s")
    rare_rows = rows.join(rare, "__s")
    cand = (
        rare_rows.select(F.col(id_col).alias("id_a"), "__s")
        .join(rare_rows.select(F.col(id_col).alias("id_b"), "__s"), "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    wa = w.select(F.col(id_col).alias("id_a"), "__s", "__w2")
    wb = w.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb"))
    num = (
        cand.join(wa, "id_a")
        .join(
            wb,
            (wb.id_b == cand.id_b) & (F.col("__sb") == F.col("__s")),
        )
        .groupBy(cand.id_a, cand.id_b)
        .agg(F.sum("__w2").alias("__num"))
    )
    na = n2.select(F.col(id_col).alias("id_a"), F.col("__n2").alias("__na"))
    nb = n2.select(F.col(id_col).alias("id_b"), F.col("__n2").alias("__nb"))
    cos = F.round(
        F.col("__num").cast("double")
        / (
            F.sqrt(F.col("__na").cast("double"))
            * F.sqrt(F.col("__nb").cast("double"))
        ),
        6,
    )
    return (
        num.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def tfidf_cosine_pairs_sql(
    table: str = "documents",
    threshold: float = 0.8,
    df_cap: int = 5,
) -> str:
    """DuckDB twin of ``tfidf_cosine_pairs``."""
    cos = (
        "round(CAST(num AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * "
        "sqrt(CAST(nb.n2 AS DOUBLE))), 6)"
    )
    return f"""
WITH __rows AS (
  SELECT doc_id, unnest({word_shingles_sql('text')}) AS s FROM {table}
),
__dfreq AS (SELECT s, count(*) AS df FROM __rows GROUP BY s),
__nn AS (SELECT count(*) AS n FROM {table}),
__w AS (
  SELECT r.doc_id, r.s,
         CAST(round((CAST(n AS DOUBLE)/df)*(CAST(n AS DOUBLE)/df), 6)
              AS DECIMAL(18,6)) AS w2
  FROM __rows r JOIN __dfreq USING (s), __nn
),
__n2 AS (SELECT doc_id, sum(w2) AS n2 FROM __w GROUP BY doc_id),
__rare AS (SELECT s FROM __dfreq WHERE df BETWEEN 2 AND {df_cap}),
__cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM __rows a JOIN __rows b USING (s) JOIN __rare USING (s)
  WHERE a.doc_id < b.doc_id
),
__num AS (
  SELECT c.id_a, c.id_b, sum(wa.w2) AS num
  FROM __cand c
  JOIN __w wa ON wa.doc_id = c.id_a
  JOIN __w wb ON wb.doc_id = c.id_b AND wb.s = wa.s
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, {cos} AS cos_sim
FROM __num
JOIN __n2 na ON na.doc_id = __num.id_a
JOIN __n2 nb ON nb.doc_id = __num.id_b
WHERE {cos} >= {threshold}
"""


# GPT-2-style pretokenizer approximation: contraction suffixes, then
# space-prefixed letter runs, digit runs, and punctuation runs. Plain
# alternation + character classes only, so Java regex (Spark) and RE2
# (DuckDB) match byte-identically — no lookarounds, no \p classes.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+"


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pretokens — the scaling-law token count proxy
    (whitespace tokens undercount: punctuation and contractions are
    separate tokens to a BPE tokenizer). One regexp projection,
    shuffle-free."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def bpe_token_count_sql(expr: str) -> str:
    """DuckDB twin (RE2 ``regexp_extract_all`` length)."""
    pat = BPE_TOKEN_RE.replace("'", "''")
    return f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS INT)"


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (round 10): the text-side complement of the
# embedding ANN family — top-k document retrieval for a term query over an
# inverted-index shape. Okapi BM25 with the Robertson +1 idf
# (ln((N - df + 0.5)/(df + 0.5) + 1), always positive), k1 = 1.2, b = 0.75.
#
# Cross-engine determinism: every input to the float pipeline is an exact
# integer (tf, df, doc/corpus token counts), every float op (IEEE divide,
# multiply, add) is bit-identical across engines given bit-identical
# inputs, and the ONE transcendental — ln — is rounded to 6 decimals the
# moment it is computed: raw JVM Math.log vs DuckDB libm log differ in the
# last ulp on ~8% of inputs (measured), but round(ln(...), 6) is bit-equal
# over ln's FINITE input domain here ((N - df + 0.5)/(df + 0.5) + 1 for
# df in 1..N), which tests/test_text_retrieval.py pins exhaustively for
# corpus sizes through 100k docs. Per-term contributions are
# then rounded to integer MICROS and summed as BIGINTs — an order-free
# integer fold, the repo's standard defense against float sum
# non-associativity — so the final score is bit-stable under any
# partitioning and replayable in SQL.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_term_micros(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared scoring core: per (document, term) BM25 contribution in
    integer micros — ``(id, __tok, __micros)``. Query-independent given
    the term universe, so a query BATCH computes it once over the union
    of its terms (``bm25_batch_topk``)."""
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    ).select(
        id_col,
        F.size("__t").alias("__len"),
        F.explode("__t").alias("__tok"),
    )
    corpus_stats = (
        df.select(F.size(tokens(F.col(text_col))).alias("__l"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n_docs"),
            F.sum("__l").cast("long").alias("__total_tokens"),
        )
    )
    postings = (
        toked.filter(F.col("__tok").isin(*terms))
        .groupBy(id_col, "__tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__tf"),
            F.max("__len").cast("long").alias("__len"),
        )
    )
    dfreq = postings.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    k1 = F.lit(BM25_K1)
    b = F.lit(BM25_B)
    scored = (
        postings.join(F.broadcast(dfreq), "__tok")
        .join(F.broadcast(corpus_stats))
        .withColumn(
            "__avgdl",
            F.col("__total_tokens").cast("double")
            / F.col("__n_docs").cast("double"),
        )
        .withColumn(
            "__idf",
            F.round(
                F.log(
                    (
                        F.col("__n_docs").cast("double")
                        - F.col("__df").cast("double")
                        + F.lit(0.5)
                    )
                    / (F.col("__df").cast("double") + F.lit(0.5))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
        .withColumn(
            "__contrib",
            F.col("__idf")
            * (F.col("__tf").cast("double") * (k1 + F.lit(1.0)))
            / (
                F.col("__tf").cast("double")
                + k1
                * (
                    F.lit(1.0)
                    - b
                    + b * F.col("__len").cast("double") / F.col("__avgdl")
                )
            ),
        )
        .withColumn(
            "__micros",
            F.round(F.col("__contrib") * F.lit(1_000_000.0), 0).cast("long"),
        )
    )
    return scored.select(id_col, "__tok", "__micros")


def bm25_scores(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BM25 score for a bag-of-terms query:
    ``(doc_id, n_hit_terms, score_micro)`` — ``score_micro`` is the
    BM25 score in integer micros (sum of per-term micro contributions).
    Only documents containing at least one query term appear.

    100 TB shape: the token explode filters to QUERY TERMS before any
    shuffle (posting fan-in is bounded by |terms| x docs-with-term, the
    inverted-index probe cost, never the corpus token count); df/N/avgdl
    are term- and corpus-bounded aggregates broadcast to the scoring
    join; the per-doc fold is one combinable integer sum."""
    return (
        _bm25_term_micros(df, terms, text_col, id_col)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.sum("__micros").cast("long").alias("score_micro"),
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 retrieval with deterministic ties (score desc, id
    asc) — Spark plans the global ORDER BY + LIMIT as TakeOrdered
    (per-partition top-k then a k-sized merge), never a full sort."""
    return (
        bm25_scores(df, terms, text_col, id_col)
        .orderBy(F.col("score_micro").desc(), F.col(id_col))
        .limit(k)
    )


def bm25_idf_sql(n_docs: str, dfreq: str) -> str:
    """The idf expression (DuckDB) — exposed separately so the
    exhaustive-domain parity test pins exactly what the oracle uses."""
    return (
        f"round(ln((CAST({n_docs} AS DOUBLE) - CAST({dfreq} AS DOUBLE) + 0.5)"
        f" / (CAST({dfreq} AS DOUBLE) + 0.5) + 1.0), 6)"
    )


def bm25_topk_sql(
    docs_sql: str,
    terms: tuple[str, ...],
    k: int = 20,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of ``bm25_topk`` — identical integer inputs, IEEE
    float steps, micro rounding and integer fold."""
    toks = tokens_sql(text_expr)
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH docs AS ({docs_sql}),
toked AS (SELECT doc_id, {toks} AS t FROM docs),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS total_tokens
  FROM toked
),
postings AS (
  SELECT doc_id, tok,
         CAST(count(*) AS BIGINT) AS tf,
         CAST(max(len) AS BIGINT) AS len
  FROM (
    SELECT doc_id, len(t) AS len, unnest(t) AS tok FROM toked
  )
  WHERE tok IN ({term_list})
  GROUP BY doc_id, tok
),
dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY tok
),
contrib AS (
  SELECT p.doc_id,
         CAST(round(
           {bm25_idf_sql('s.n_docs', 'd.df')}
           * (CAST(p.tf AS DOUBLE) * ({BM25_K1} + 1.0))
           / (CAST(p.tf AS DOUBLE)
              + {BM25_K1} * (1.0 - {BM25_B}
                 + {BM25_B} * CAST(p.len AS DOUBLE)
                   / (CAST(s.total_tokens AS DOUBLE)
                      / CAST(s.n_docs AS DOUBLE))))
           * 1000000.0, 0) AS BIGINT) AS micros
  FROM postings p
  JOIN dfreq d USING (tok)
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_hit_terms,
       CAST(sum(micros) AS BIGINT) AS score_micro
FROM contrib
GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Vocabulary growth curve (round 10): the Heaps-law dataset statistic a
# corpus pipeline reads before fixing a tokenizer vocabulary — how many NEW
# token types each slab of corpus contributes and the cumulative type count
# in corpus order. "Corpus order" is id order (deterministic and
# partition-free); a type's arrival point is min(doc_id), one combinable
# aggregate, so the whole curve costs one token shuffle + bucket-bounded
# metadata work — no global window (cumulative counts go through
# ranking.bucketed_cumsum's offset decomposition).
# ---------------------------------------------------------------------------


def vocab_growth(
    df: DataFrame,
    bucket_docs: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per corpus slab (``floor(id / bucket_docs)``): ``(bucket, n_docs,
    n_tokens, new_types, cum_types)`` — ``new_types`` counts token types
    whose FIRST occurrence (min id) lands in the slab, ``cum_types`` is
    the running vocabulary size. Empty-text docs count toward n_docs
    with zero tokens."""
    from nosql_to_sql_migration_tool_spark.operators.ranking import (
        bucketed_cumsum,
    )

    bkt = (F.col(id_col) / F.lit(bucket_docs)).cast("long")
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    arrivals = (
        toks.groupBy("__tok")
        .agg(F.min(id_col).alias("__first_id"))
        .groupBy(
            (F.col("__first_id") / F.lit(bucket_docs))
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    slabs = df.groupBy(bkt.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("n_tokens"),
    )
    joined = slabs.join(arrivals, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
    )
    return bucketed_cumsum(
        joined,
        (F.col("bucket") / F.lit(8)).cast("long"),
        [F.col("bucket")],
        "new_types",
        out_col="cum_types",
        # bucket-slab counts: corpus/100 rows derived from two corpus
        # aggregations — staging beats re-running both (guide §2.4)
        materialize_input=True,
    ).select("bucket", "n_docs", "n_tokens", "new_types", "cum_types")


def vocab_growth_sql(
    docs_sql: str,
    bucket_docs: int = 100,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of ``vocab_growth`` (window over the handful of
    buckets — metadata scale, fine in the oracle)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
toked AS (SELECT doc_id, {toks} AS t FROM docs),
arrivals AS (
  SELECT CAST(min_id // {bucket_docs} AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS new_types
  FROM (
    SELECT tok, min(doc_id) AS min_id
    FROM (SELECT doc_id, unnest(t) AS tok FROM toked)
    GROUP BY tok
  )
  GROUP BY 1
),
slabs AS (
  SELECT CAST(doc_id // {bucket_docs} AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS n_tokens
  FROM toked
  GROUP BY 1
)
SELECT s.bucket, s.n_docs, s.n_tokens,
       CAST(coalesce(a.new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(coalesce(a.new_types, 0)) OVER (
         ORDER BY s.bucket ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS cum_types
FROM slabs s LEFT JOIN arrivals a USING (bucket)
"""


def bm25_batch_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    n_salts: int = 16,
) -> DataFrame:
    """Batched BM25 retrieval: top-k documents for EVERY query in a
    query table ``(query_id, terms: array<string>)`` — the many-query
    sibling of ``bm25_topk`` (the text twin of ``similarity.knn_join``).
    Output ``(query_id, rank, doc_id, n_hit_terms, score_micro)``.

    Scale shape: per-(doc, term) contributions are computed ONCE over
    the UNION of all queries' terms (they are query-independent), then
    joined to the broadcast (query, term) membership — a query batch is
    small by construction. The grouped top-k runs in the same salted
    two-phase as ``knn_join`` so no window partition ever holds all
    docs matching one query: local top-k per (query, salt) keeps
    n_salts*k survivors, the final rank orders those few rows. Exact
    for any salt count; deterministic ties (score desc, doc id asc)."""
    from pyspark.sql import Window

    qterms = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.explode(F.array_distinct(F.col(terms_col))).alias("__tok"),
    )
    # driver-bounded metadata: the term universe of one query BATCH
    # (queries are small by construction — same contract as knn_join's
    # broadcast query side), needed as literals for the pre-shuffle
    # posting filter
    union_terms = tuple(
        r[0] for r in qterms.select("__tok").distinct().collect()
    )
    if not union_terms:
        raise ValueError("query table contributes no terms")
    contribs = _bm25_term_micros(df, union_terms, text_col, id_col)
    scored = (
        contribs.join(F.broadcast(qterms), "__tok")
        .groupBy("__qid", id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.sum("__micros").cast("long").alias("score_micro"),
        )
        .withColumn(
            "__salt", F.crc32(F.col(id_col).cast("string")) % n_salts
        )
    )
    local_w = Window.partitionBy("__qid", "__salt").orderBy(
        F.col("score_micro").desc(), F.col(id_col)
    )
    survivors = (
        scored.withColumn("__r", F.row_number().over(local_w))
        .where(F.col("__r") <= k)
        .drop("__r", "__salt")
    )
    final_w = Window.partitionBy("__qid").orderBy(
        F.col("score_micro").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(final_w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            "rank",
            id_col,
            "n_hit_terms",
            "score_micro",
        )
    )


def bm25_batch_topk_sql(
    docs_sql: str,
    queries_sql: str,
    k: int = 10,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of ``bm25_batch_topk``; ``queries_sql`` must yield
    ``(query_id, term)`` rows (the exploded membership)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
qterms AS (SELECT DISTINCT query_id, term FROM ({queries_sql})),
toked AS (SELECT doc_id, {toks} AS t FROM docs),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS total_tokens
  FROM toked
),
postings AS (
  SELECT doc_id, tok,
         CAST(count(*) AS BIGINT) AS tf,
         CAST(max(len) AS BIGINT) AS len
  FROM (
    SELECT doc_id, len(t) AS len, unnest(t) AS tok FROM toked
  )
  WHERE tok IN (SELECT term FROM qterms)
  GROUP BY doc_id, tok
),
dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY tok
),
contrib AS (
  SELECT p.doc_id, p.tok,
         CAST(round(
           {bm25_idf_sql('s.n_docs', 'd.df')}
           * (CAST(p.tf AS DOUBLE) * ({BM25_K1} + 1.0))
           / (CAST(p.tf AS DOUBLE)
              + {BM25_K1} * (1.0 - {BM25_B}
                 + {BM25_B} * CAST(p.len AS DOUBLE)
                   / (CAST(s.total_tokens AS DOUBLE)
                      / CAST(s.n_docs AS DOUBLE))))
           * 1000000.0, 0) AS BIGINT) AS micros
  FROM postings p
  JOIN dfreq d USING (tok)
  CROSS JOIN stats s
),
scored AS (
  SELECT q.query_id, c.doc_id,
         CAST(count(*) AS BIGINT) AS n_hit_terms,
         CAST(sum(c.micros) AS BIGINT) AS score_micro
  FROM contrib c JOIN qterms q ON q.term = c.tok
  GROUP BY q.query_id, c.doc_id
),
ranked AS (
  SELECT query_id, doc_id, n_hit_terms, score_micro,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY score_micro DESC, doc_id
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, n_hit_terms, score_micro
FROM ranked WHERE rank <= {k}
"""


def phrase_match(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-phrase search: ``(doc_id, n_occurrences, first_pos)``
    for every document containing the phrase as consecutive whitespace
    tokens — the positional complement of BM25's bag-of-terms scoring.
    The n-gram projection compares against ONE literal before any
    shuffle (Catalyst folds the equality into the generate/filter
    stage), so shuffle volume is matching occurrences only; the fold is
    one combinable groupBy. 0-based token positions."""
    words = phrase.split()
    if not words:
        raise ValueError("empty phrase")
    n = len(words)
    target = " ".join(words)
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    ).where(F.size("__t") >= n)
    grams = toked.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(__t) - {n - 1}), "
                f"i -> array_join(slice(__t, i, {n}), ' '))"
            )
        ).alias("__pos", "__g"),
    ).where(F.col("__g") == target)
    return grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("__pos").cast("long").alias("first_pos"),
    )


def phrase_match_sql(
    docs_sql: str, phrase: str, text_expr: str = "text"
) -> str:
    """DuckDB twin of ``phrase_match``."""
    words = phrase.split()
    n = len(words)
    target = " ".join(words).replace("'", "''")
    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
toked AS (SELECT doc_id, {toks} AS t FROM docs),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + {n - 1}), ' ') AS g
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {n} + 2)) AS i
    FROM toked WHERE len(t) >= {n}
  )
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM grams WHERE g = '{target}'
GROUP BY doc_id
"""


def doc_duplication_rate(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplication (memorization-risk) rate: the fraction
    of a document's k-gram occurrences that also appear in at least one
    OTHER document — ``(doc_id, n_grams, n_duplicated, dup_rate)``.
    Ranks individual documents by how much of their text exists
    elsewhere in the corpus (the per-doc complement of the pairwise
    containment/substring operators: no pair enumeration, so it stays
    linear even for boilerplate grams shared by thousands of docs).

    Shape: the exploded grams combine straight into per-(gram, doc)
    occurrence counts (map-side combinable), a count window over the
    gram partition reads ``n docs containing g`` as a plain row count,
    and one per-doc combinable fold recovers both totals from the
    counts; dup_rate = round(dup/total, 6) — cross-engine-exact
    rational. Docs shorter than k tokens report zero grams and NULL
    dup_rate.

    r16 optimization (guide §2.3/§2.4): the r15 shape derived the
    exploded gram frame TWICE (once for the df groupBy, once for the
    rejoin) and shuffled every raw occurrence row by gram string for
    the join. Folding occurrences to (g, id, cnt) first means the
    tokenize+explode runs once and the only gram-keyed exchange carries
    one row per (gram, doc); n_grams = Σ cnt and n_duplicated =
    Σ cnt·[ndocs>1] are the same integers by commutativity, and
    ndocs = count_distinct(id) = rows in the (g, id) group — measured
    2.00 -> 1.24 s min-of-4 (hash-identical, OPTIMIZATION_r16.md
    "doc_duplication_rate")."""
    from pyspark.sql import Window

    grams = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t")
    ).select(
        "id",
        F.explode(
            F.when(
                F.size("__t") >= k,
                F.expr(
                    f"transform(sequence(1, size(__t) - {k - 1}), "
                    f"i -> array_join(slice(__t, i, {k}), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    cnt = grams.groupBy("g", "id").agg(F.count(F.lit(1)).alias("__cnt"))
    flagged = cnt.withColumn(
        "__ndocs", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    per_doc = flagged.groupBy("id").agg(
        F.sum("__cnt").cast("long").alias("n_grams"),
        F.sum(
            F.when(F.col("__ndocs") > 1, F.col("__cnt")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_duplicated"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_duplicated", F.lit(0))
            .cast("long")
            .alias("n_duplicated"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(
                    F.col("n_duplicated").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                ),
            ).alias("dup_rate"),
        )
    )


def doc_duplication_rate_sql(
    docs_sql: str, k: int = 5, text_expr: str = "text"
) -> str:
    """DuckDB twin of ``doc_duplication_rate``."""
    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
toked AS (SELECT doc_id AS id, {toks} AS t FROM docs),
grams AS (
  SELECT id, array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS g
  FROM (
    SELECT id, t, unnest(range(1, len(t) - {k} + 2)) AS i
    FROM toked WHERE len(t) >= {k}
  )
),
gdf AS (SELECT g, count(DISTINCT id) AS ndocs FROM grams GROUP BY g),
per_doc AS (
  SELECT id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_duplicated
  FROM grams JOIN gdf USING (g)
  GROUP BY id
)
SELECT d.id AS doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.n_duplicated, 0) AS BIGINT) AS n_duplicated,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN round(CAST(p.n_duplicated AS DOUBLE)
                       / CAST(p.n_grams AS DOUBLE), 6)
       END AS dup_rate
FROM toked d LEFT JOIN per_doc p USING (id)
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility by group (round 11): the dataset statistic a pipeline
# reads before budgeting compute per language/source — how many BPE-ish
# tokens each whitespace token becomes (fertility > 1.2 on a slice usually
# means the tokenizer underserves it). Two shuffle-free per-row projections
# (whitespace count, regex pretoken count) and one combinable group
# aggregate; ratios pinned round(.,6) from exact BIGINT sums.
# ---------------------------------------------------------------------------


def token_fertility_by(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Per group: ``(group, n_docs, ws_tokens, bpe_tokens, fertility)``
    where fertility = bpe_tokens / ws_tokens rounded 6 dp (0.0 for a
    group with no whitespace tokens). One corpus pass, one combinable
    aggregate — the shuffle carries one row per group."""
    per_row = df.select(
        F.col(group_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("__ws"),
        bpe_token_count(F.col(text_col)).cast("long").alias("__bpe"),
    )
    agg = per_row.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__ws").cast("long").alias("ws_tokens"),
        F.sum("__bpe").cast("long").alias("bpe_tokens"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        F.when(F.col("ws_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("bpe_tokens").cast("double")
                / F.col("ws_tokens").cast("double"),
                6,
            )
        )
        .alias("fertility"),
    )


def token_fertility_by_sql(
    docs_sql: str,
    group_expr: str,
    text_expr: str = "text",
    out_col: str | None = None,
) -> str:
    """DuckDB twin of ``token_fertility_by``. ``out_col`` names the
    group column when ``group_expr`` is not a plain identifier (the
    ``linear_count_by_sql`` alias contract)."""
    if out_col is None:
        if not group_expr.replace("_", "").isalnum():
            raise ValueError(
                "token_fertility_by_sql: group_expr is not a plain "
                "column name; pass out_col explicitly"
            )
        out_col = group_expr
    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
per_row AS (
  SELECT {group_expr} AS grp,
         CAST(len({toks}) AS BIGINT) AS ws,
         CAST({bpe_token_count_sql(text_expr)} AS BIGINT) AS bpe
  FROM docs
),
agg AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ws) AS BIGINT) AS ws_tokens,
         CAST(sum(bpe) AS BIGINT) AS bpe_tokens
  FROM per_row GROUP BY grp
)
SELECT grp AS {out_col}, n_docs, ws_tokens, bpe_tokens,
       CASE WHEN ws_tokens = 0 THEN 0.0
            ELSE round(CAST(bpe_tokens AS DOUBLE)
                       / CAST(ws_tokens AS DOUBLE), 6)
       END AS fertility
FROM agg
"""


# ---------------------------------------------------------------------------
# Token entropy (round 12): the distribution-shape quality signal the
# length/ratio family (text_stats, gopher flags) cannot see — a document
# whose tokens are one phrase looped 500 times passes every length filter
# but has near-zero unigram entropy. H = ln(n) - (sum_c c*ln(c))/n over the
# per-doc token counts; the classic repetition/gibberish detector, and the
# entropy term of many quality classifiers.
#
# Cross-engine determinism (the BM25/DSIR discipline): every ln is rounded
# 6 dp AT THE SOURCE and folded to integer micros (c * ln_micro(c) is an
# exact BIGINT product, summed order-free), the ONE division of two exact
# BIGINTs is a single IEEE op, and its round(.,0) re-pins the result —
# so entropy_micro is a pure integer function of the token multiset,
# bit-replayable in DuckDB.
# ---------------------------------------------------------------------------


def _ln_micro(c: Column) -> Column:
    """round(ln(c), 6) in integer micros — exact BIGINT."""
    return (
        F.round(F.round(F.log(c.cast("double")), 6) * F.lit(1_000_000.0), 0)
        .cast("long")
    )


def _ln_micro_sql(expr: str) -> str:
    return (
        f"CAST(round(round(ln(CAST({expr} AS DOUBLE)), 6) * 1000000.0, 0) "
        f"AS BIGINT)"
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per document: ``(id, n_tokens, n_types, entropy_micro)`` where
    entropy_micro is the unigram Shannon entropy (nats) in integer
    micros — 0 for a single-type doc, NULL for an empty one, maximal
    ln(n_tokens) when every token is distinct. Plan shape: one token
    explode into a combinable (doc, token) count, one per-doc combinable
    fold — the same two-shuffle skeleton as every linear text operator
    here, so it walks a 100 TB corpus without any per-doc sort or
    window."""
    counts = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(tokens(F.col(text_col))).alias("__tok"),
        )
        .groupBy("__id", "__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    per_doc = counts.groupBy("__id").agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("__c") * _ln_micro(F.col("__c")))
        .cast("long")
        .alias("__s"),
    )
    scored = per_doc.select(
        "__id",
        "n_tokens",
        "n_types",
        (
            _ln_micro(F.col("n_tokens"))
            - F.round(
                F.col("__s").cast("double")
                / F.col("n_tokens").cast("double"),
                0,
            ).cast("long")
        ).alias("entropy_micro"),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.col("entropy_micro"),
        )
    )


def token_entropy_sql(docs_sql: str, text_expr: str = "text") -> str:
    """DuckDB twin of ``token_entropy`` (identical ln pin and integer
    folds)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
toked AS (SELECT doc_id AS id, unnest({toks}) AS tok FROM docs),
counts AS (
  SELECT id, tok, CAST(count(*) AS BIGINT) AS c
  FROM toked GROUP BY id, tok
),
per_doc AS (
  SELECT id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * {_ln_micro_sql('c')}) AS BIGINT) AS s
  FROM counts GROUP BY id
),
scored AS (
  SELECT id, n_tokens, n_types,
         {_ln_micro_sql('n_tokens')}
           - CAST(round(CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0)
                  AS BIGINT) AS entropy_micro
  FROM per_doc
)
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.n_types, 0) AS BIGINT) AS n_types,
       s.entropy_micro
FROM docs d LEFT JOIN scored s ON d.doc_id = s.id
"""
