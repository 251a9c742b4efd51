"""Training-data preparation operators: deterministic train/val/test
splits, global corpus shuffling, vocabulary coverage, and length-bucketed
batch assembly — the steps between a cleaned corpus and a training run.

Scale contract: every split/shuffle decision is a pure function of the
row's own key (md5), so assignment is one embarrassingly-parallel
projection — no global sort, no driver-side state, reproducible across
clusters and engines. The only shuffles here are the explicitly chosen
ones: vocabulary aggregation (combinable) and the batch-numbering
window (partitioned by length bucket, never a single global partition).

Reference analogue: the migration tool's deterministic validation
sampling (`private/Validation.ps1` sample selection); these generalize
that idea to the split/shuffle/batch surface an LLM data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nosql_to_sql_migration_tool_spark.operators.text import tokens

SPLIT_BUCKETS = 100


def split_bucket(key_col: str) -> F.Column:
    """Deterministic 0..99 bucket from the md5 of the row key: the first
    8 hex digits parsed as an integer, mod 100. Pure projection, stable
    across engines (both parse hex with ``conv``-equivalents) and across
    any partitioning of the data."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % SPLIT_BUCKETS
    )


def split_bucket_sql(key_expr: str) -> str:
    """DuckDB mirror of ``split_bucket`` (from_hex has no 32-bit parse;
    a 8-hex-digit literal fits in BIGINT via hex cast)."""
    return (
        f"CAST(('0x' || substring(md5(CAST({key_expr} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {SPLIT_BUCKETS}"
    )


def with_split(
    df: DataFrame,
    key_col: str,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Assign every row to train/val/test by its hash bucket:
    ``[0, train_pct)`` -> train, ``[train_pct, train_pct+val_pct)`` ->
    val, rest -> test. Adding data never moves an existing row between
    splits (assignment depends only on the key), which is the property
    that keeps eval sets stable as a 100 TB corpus grows."""
    b = split_bucket(key_col)
    return df.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def shuffle_positions(
    df: DataFrame, key_col: str, salt: str = "epoch0"
) -> DataFrame:
    """Deterministic global shuffle order: position = rank of
    ``md5(salt|key)``. A different ``salt`` gives an independent
    permutation per epoch without touching the data.

    The rank is computed DISTRIBUTED (operators/ranking.py): the first
    two hex chars of the md5 are a free uniform 256-way monotonic
    bucketing, each bucket ranks in parallel, bucket offsets are the
    only driver traffic — no single-partition global window anywhere,
    so the permutation materializes at any corpus size. Output is
    bit-identical to ``row_number() OVER (ORDER BY md5, key)``."""
    from nosql_to_sql_migration_tool_spark.operators.ranking import (
        bucketed_rank,
    )

    m = F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string")))
    with_m = df.select(F.col(key_col), m.alias("__m"))
    ranked = bucketed_rank(
        with_m,
        F.substring(F.col("__m"), 1, 2),
        [F.col("__m"), F.col(key_col)],
        out_col="position",
    )
    return ranked.select("position", F.col(key_col))


def vocab_coverage(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """One-row coverage report for a top-N frequency vocabulary:
    total token occurrences, occurrences covered by the vocabulary, and
    the OOV rate (exact integer counts; the rate is one deterministic
    division rounded to 6 dp).

    Plan: one combinable token histogram, a top-N (count desc, token)
    TakeOrdered for the vocabulary, then a broadcast semi-join marks
    covered occurrences inside the SAME aggregation pass over the
    histogram — the corpus is scanned once."""
    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("__tok"))
    hist = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    vocab = (
        hist.orderBy(F.col("__cnt").desc(), "__tok")
        .limit(vocab_size)
        .select(F.col("__tok").alias("__v"))
        .withColumn("__in", F.lit(1))
    )
    return (
        hist.join(F.broadcast(vocab), hist.__tok == vocab.__v, "left")
        .agg(
            F.sum("__cnt").alias("total_tokens"),
            F.sum(F.when(F.col("__in") == 1, F.col("__cnt")).otherwise(0)).alias(
                "covered_tokens"
            ),
        )
        .select(
            "total_tokens",
            "covered_tokens",
            F.round(
                (F.col("total_tokens") - F.col("covered_tokens"))
                * F.lit(1.0)
                / F.col("total_tokens"),
                6,
            ).alias("oov_rate"),
        )
    )


def length_bucketed_batches(
    docs: DataFrame,
    batch_size: int = 8,
    bucket_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Group documents of similar token length into fixed-size batches
    (the padding-minimizing batching trick): bucket = token count /
    ``bucket_tokens``, batch = consecutive ``batch_size`` docs within
    the bucket in deterministic (n_tokens, id) order. Output
    ``(doc_id, n_tokens, len_bucket, batch_id)``.

    The numbering window partitions by bucket — dozens of buckets, each
    a fraction of the corpus — never one global partition; at extreme
    scale the same assignment runs per-shard with a shard offset."""
    sized = docs.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    ).withColumn(
        "len_bucket",
        F.floor(F.col("n_tokens") / bucket_tokens).cast("int"),
    )
    w = Window.partitionBy("len_bucket").orderBy("n_tokens", id_col)
    return sized.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("int"),
    )


# ---------------------------------------------------------------------------
# Temperature-weighted domain mixture sampling — rebalance a multi-domain
# corpus toward flatter domain proportions (the alpha-smoothed sampling of
# multilingual/multi-source LM training) with a deterministic hash keep
# decision per row.
# ---------------------------------------------------------------------------

MIXTURE_HASH_SPAN = 4294967296.0  # 2^32: md5's first 8 hex digits


def domain_mixture_rates(
    df: DataFrame,
    domain_col: str = "lang",
    budget_frac: float = 0.8,
) -> DataFrame:
    """Per-domain sampling rates ``(domain, n_docs, rate)`` for an
    alpha=0.5 temperature-smoothed target mixture: domain weight
    ``w = sqrt(n)`` (sqrt is IEEE-correctly-rounded, so both engines
    compute the identical double; a general ``pow`` is not), target
    share ``w / sum(w)``, and ``rate = min(1, budget*N*share / n)`` so
    the expected kept volume is ``budget_frac * N`` with over-
    represented domains down-sampled hardest. The 6-dp round + DECIMAL
    sum of weights makes ``sum(w)`` accumulation-order-free — the whole
    rate table is bit-reproducible under any partitioning.

    Plan: one combinable group-by on the domain (domains are few), a
    1-row total aggregate cross-joined back (broadcast) — metadata-sized
    at any corpus scale."""
    from pyspark.sql.types import DecimalType

    per = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))
    per = per.select(
        domain_col,
        "n_docs",
        F.round(F.sqrt(F.col("n_docs")), 6)
        .cast(DecimalType(18, 6))
        .alias("__w"),
    )
    tot = per.agg(
        F.sum("__w").alias("__tw"), F.sum("n_docs").alias("__n")
    )
    rate = F.round(
        F.least(
            F.lit(1.0),
            (
                F.lit(budget_frac)
                * F.col("__n").cast("double")
                * (F.col("__w").cast("double") / F.col("__tw").cast("double"))
            )
            / F.col("n_docs").cast("double"),
        ),
        6,
    )
    return per.crossJoin(F.broadcast(tot)).select(
        domain_col, "n_docs", rate.alias("rate")
    )


def apply_mixture_rates(
    df: DataFrame,
    rates: DataFrame,
    domain_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a (domain, rate) table: keep a row iff
    ``md5(id)[:8] < hex(floor(rate * 2^32))`` — the deterministic
    keep-fraction idiom of ``split_bucket``, but against a COMPUTED
    bound, so the hex bound is built with ``lpad(lower(hex(...)), 8)``
    on both engines. ``rate >= 1`` short-circuits (its bound would be 9
    hex digits). Output ``(id, domain)``. Stateless given the rate
    table, so it streams unchanged (streaming/cdc_stream.py's ingest
    twin joins the same broadcast table against a readStream)."""
    bound = F.lpad(
        F.lower(
            F.hex(
                F.floor(F.col("rate") * F.lit(MIXTURE_HASH_SPAN)).cast(
                    "bigint"
                )
            )
        ),
        8,
        "0",
    )
    keep = (F.col("rate") >= 1.0) | (
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < bound
    )
    return (
        df.join(F.broadcast(rates.select(domain_col, "rate")), domain_col)
        .filter(keep)
        .select(id_col, domain_col)
    )


def domain_mixture_sample(
    df: DataFrame,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    budget_frac: float = 0.8,
) -> DataFrame:
    """``apply_mixture_rates`` against rates derived from the corpus
    itself. Plan: two metadata-sized aggregates for the rate table,
    broadcast back, pure filter projection — no data shuffle at any
    scale."""
    rates = domain_mixture_rates(df, domain_col, budget_frac)
    return apply_mixture_rates(df, rates, domain_col, id_col)


def _mixture_rates_cte(
    table: str, domain_col: str, budget_frac: float
) -> str:
    return f"""
__per AS (
  SELECT {domain_col} AS domain, count(*) AS n_docs,
         CAST(round(sqrt(count(*)), 6) AS DECIMAL(18,6)) AS w
  FROM {table} GROUP BY {domain_col}
),
__tot AS (SELECT sum(w) AS tw, sum(n_docs) AS n FROM __per),
__rates AS (
  SELECT domain, n_docs,
         round(least(CAST(1.0 AS DOUBLE),
           ({budget_frac} * CAST(n AS DOUBLE)
             * (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)))
           / CAST(n_docs AS DOUBLE)), 6) AS rate
  FROM __per, __tot
)"""


def domain_mixture_sample_sql(
    table: str = "documents",
    domain_col: str = "lang",
    id_expr: str = "doc_id",
    budget_frac: float = 0.8,
) -> str:
    """DuckDB twin of ``domain_mixture_sample``."""
    return f"""
WITH {_mixture_rates_cte(table, domain_col, budget_frac)}
SELECT t.{id_expr} AS {id_expr}, t.{domain_col} AS {domain_col}
FROM {table} t JOIN __rates r ON t.{domain_col} = r.domain
WHERE r.rate >= 1.0
   OR substr(md5(CAST(t.{id_expr} AS VARCHAR)), 1, 8) <
      lpad(lower(to_hex(CAST(floor(r.rate * {MIXTURE_HASH_SPAN}) AS BIGINT))), 8, '0')
"""


def token_budget_selection(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy data selection under a global token budget: rank documents
    by quality (ties by id), take the prefix whose inclusive running
    token total stays within ``budget`` — the deterministic "best docs
    until the budget is spent" selection of dataset curation.

    The running total is an exact global cumsum in (quality DESC, id)
    order computed WITHOUT a single-partition window
    (operators/ranking.py:bucketed_cumsum): quality lives in [0, 1], so
    ``floor((1 - quality) * 32)`` is a free monotone bucketing; each
    bucket cumsums in parallel and only the 33 bucket totals visit the
    driver. Token counts are integers, so the decomposed sum is
    bit-identical to the windowed form at any parallelism.

    Output ``(id, quality_score, n_tokens, cum_tokens)`` for the
    selected documents."""
    from nosql_to_sql_migration_tool_spark.operators.ranking import (
        bucketed_cumsum,
    )
    from nosql_to_sql_migration_tool_spark.operators.text import (
        with_text_stats,
    )

    scored = with_text_stats(docs, text_col).select(
        F.col(id_col),
        "quality_score",
        F.col("n_ws_tokens").alias("n_tokens"),
    )
    bucket = F.floor(
        (F.lit(1.0) - F.col("quality_score")) * F.lit(32)
    ).cast("long")
    cum = bucketed_cumsum(
        scored,
        bucket,
        [F.col("quality_score").desc(), F.col(id_col)],
        "n_tokens",
        out_col="cum_tokens",
        # per-doc (id, quality, tokens) is 3 narrow columns — cheaper
        # to stage once than to re-tokenize the corpus for the second
        # consumer (guide §2.4/§5)
        materialize_input=True,
    )
    return cum.filter(F.col("cum_tokens") <= budget).select(
        id_col, "quality_score", "n_tokens", "cum_tokens"
    )


def token_budget_selection_sql(
    budget: int, table: str = "documents"
) -> str:
    """DuckDB twin of ``token_budget_selection`` — the plain windowed
    cumsum the bucketed decomposition is bit-identical to."""
    from nosql_to_sql_migration_tool_spark.operators.text import (
        text_stats_sql,
    )

    stats = text_stats_sql("text")
    return f"""
WITH __scored AS (
  SELECT doc_id, {stats['quality_score']} AS quality_score,
         {stats['n_ws_tokens']} AS n_tokens
  FROM {table}
),
__cum AS (
  SELECT doc_id, quality_score, n_tokens,
         CAST(sum(n_tokens) OVER (
           ORDER BY quality_score DESC, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM __scored
)
SELECT doc_id, quality_score, n_tokens, cum_tokens
FROM __cum WHERE cum_tokens <= {budget}
"""


def sequence_packing(
    docs: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "epoch0",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    layout): documents are laid end-to-end in the deterministic epoch
    shuffle order (rank of ``md5(salt|id)``) and the token stream is cut
    into fixed ``seq_len`` chunks. Each document is assigned the chunk
    its FIRST token lands in plus its offset inside that chunk — exactly
    what a loader needs to materialize packed sequences (a doc may
    straddle into following chunks; start position determines the rest).

    Output ``(id, n_tokens, bin_id, bin_offset)``.

    Scale: token counts are one projection; the global running offset is
    the exact distributed cumsum of ``operators/ranking.py``
    (``bucketed_cumsum`` over the md5-prefix bucketing — no
    single-partition window), so the packing layout materializes at any
    corpus size and is bit-identical to the windowed form. A different
    ``salt`` repacks for a new epoch without touching the data."""
    from nosql_to_sql_migration_tool_spark.operators.ranking import (
        bucketed_cumsum,
    )

    m = F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    counted = docs.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        m.alias("__m"),
    )
    cum = bucketed_cumsum(
        counted,
        F.substring(F.col("__m"), 1, 2),
        [F.col("__m"), F.col(id_col)],
        "n_tokens",
        out_col="__cum",
    )
    start = F.col("__cum") - F.col("n_tokens")
    return cum.select(
        id_col,
        "n_tokens",
        F.floor(start / F.lit(seq_len)).cast("long").alias("bin_id"),
        (start % F.lit(seq_len)).cast("long").alias("bin_offset"),
    )


def sequence_packing_sql(
    seq_len: int, table: str = "documents", salt: str = "epoch0"
) -> str:
    """DuckDB twin of ``sequence_packing`` — the single-window cumsum
    form the bucketed decomposition is bit-identical to."""
    from nosql_to_sql_migration_tool_spark.operators.text import tokens_sql

    return f"""
WITH __t AS (
  SELECT doc_id,
         CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens,
         md5('{salt}|' || CAST(doc_id AS VARCHAR)) AS m
  FROM {table}
),
__c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY m, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
  FROM __t
)
SELECT doc_id, n_tokens,
       CAST(floor(start * 1.0 / {seq_len}) AS BIGINT) AS bin_id,
       start % {seq_len} AS bin_offset
FROM __c
"""


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the fixed-context split that
    feeds a training pipeline BEFORE packing: each document's token
    stream becomes chunks of ``chunk_tokens`` starting every ``stride``
    tokens (overlap = chunk_tokens - stride preserves cross-boundary
    context). One row per chunk: ``(id, chunk_idx, n_tokens,
    chunk_fp)`` where chunk_fp is the md5 of the chunk's joined tokens
    (the dedup/provenance key chunk stores index on).

    Pure explode of a generated start-offset array — per-doc work is
    O(n_tokens), shuffle-free (no window, no join); empty documents
    yield no chunks. The 100 TB shape: chunking is a projection, so it
    pipelines with the scan."""
    if stride < 1 or chunk_tokens < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n - 1, F.lit(stride)).cast("array<int>")
    )
    base = df.select(
        F.col(id_col), toks.alias("__t"), F.posexplode(starts).alias(
            "chunk_idx", "__s"
        )
    )
    piece = F.slice(F.col("__t"), F.col("__s") + 1, chunk_tokens)
    return base.select(
        id_col,
        "chunk_idx",
        F.size(piece).alias("n_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_fp"),
    )


def chunk_documents_sql(
    table: str,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin of ``chunk_documents``."""
    from nosql_to_sql_migration_tool_spark.operators.text import tokens_sql

    toks = tokens_sql(text_expr)
    return f"""
WITH tok AS (
  SELECT {id_expr} AS doc_id, {toks} AS t FROM {table}
),
st AS (
  SELECT doc_id, t,
         unnest(CASE WHEN len(t) <= 0 THEN CAST([] AS INT[])
                ELSE CAST(range(0, len(t), {stride}) AS INT[]) END) AS s,
         generate_subscripts(CASE WHEN len(t) <= 0 THEN CAST([] AS INT[])
                ELSE CAST(range(0, len(t), {stride}) AS INT[]) END, 1) - 1
           AS chunk_idx
  FROM tok
)
SELECT doc_id, chunk_idx,
       len(list_slice(t, s + 1, s + {chunk_tokens})) AS n_tokens,
       md5(array_to_string(list_slice(t, s + 1, s + {chunk_tokens}), ' '))
         AS chunk_fp
FROM st
"""


def split_leakage(
    pairs: DataFrame, splits: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cross-split contamination audit (round 7): given verified
    near-dup pairs and a split assignment, count pairs per unordered
    split combination — a (train, test) row is LEAKAGE (the eval set
    contains near-copies of training docs; Lee et al. 2022's
    deduplication-for-eval argument), a (train, train) row is merely
    internal redundancy. Two broadcast-sized joins against the pair set
    (pairs ≪ corpus by construction) + one combinable groupBy over at
    most 6 split combinations — cost is bounded by the PAIR set, never
    the corpus, so the audit rides along any split refresh at 100 TB."""
    sa = splits.select(
        F.col(id_col).alias("id_a"), F.col("split").alias("__s_a")
    )
    sb = splits.select(
        F.col(id_col).alias("id_b"), F.col("split").alias("__s_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("__s_a", "__s_b").alias("split_a"),
            F.greatest("__s_a", "__s_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaked"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Split assignment that CANNOT leak across near-duplicates: the
    hash key is the document's near-dup COMPONENT label (from
    ``dedup.near_dup_components`` / the twostar variant), so every
    member of a transitive near-dup group lands on the same side by
    construction — the root cause of split leakage (a near-copy of an
    eval doc in train) is removed at assignment time instead of audited
    after the fact. Docs without a component row (singletons, when the
    labels frame only covers paired docs) key on their own id, which is
    exactly the component label they would have received.

    Same stability contract as ``with_split``: assignment depends only
    on (component) key, so growing the corpus never moves an existing
    group between splits — unless new data JOINS two groups, which is a
    real identity change and re-keys the merged group once. One
    broadcast-or-shuffle join + a pure projection; composes with
    ``split_leakage`` (the audit should report zero (train,test) pairs)
    and ``substring_cross_leakage`` for the substring-level residual."""
    comp = components.select(
        F.col(id_col),
        F.col("component_id").cast("string").alias("__comp"),
    )
    keyed = docs.join(comp, id_col, "left").withColumn(
        "__split_key",
        F.coalesce(F.col("__comp"), F.col(id_col).cast("string")),
    )
    return with_split(keyed, "__split_key", train_pct, val_pct).drop(
        "__comp", "__split_key"
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (round 11): select raw-corpus documents
# whose hashed unigram distribution looks like a TARGET corpus (Xie et al.
# 2023, "Data Selection for Language Models via Importance Resampling").
# Features are md5-hashed token buckets (the paper's hashed n-grams), so the
# per-bucket ratio table is ALWAYS n_buckets rows — broadcastable at any
# corpus size — and every document's weight is one broadcast join + a
# combinable sum over its own tokens. Determinism follows the BM25 pin:
# ln(...) is rounded to 6 dp AT THE SOURCE (raw ln differs Spark-vs-DuckDB
# in the last ulp), then folded to integer micros.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 8192


def _dsir_bucket(tok, n_buckets: int):
    """md5-hex bucket of a token — the ``lc_bucket``/``cms_bucket``
    integer convention (``operators/sketches.py``), kept local to avoid
    a sketches import for one expression."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def _dsir_bucket_sql(expr: str, n_buckets: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT) "
        f"% {n_buckets}"
    )


def _bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int
) -> DataFrame:
    return (
        df.select(
            F.explode(tokens(F.col(text_col))).alias("__tok")
        )
        .select(_dsir_bucket(F.col("__tok"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def dsir_bucket_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """The importance model: per hashed-token bucket, target and raw
    occurrence counts plus the add-one-smoothed log probability ratio in
    integer micros —

        lr_micro = round(ln( ((ct+1) * (Nr+B)) / ((cr+1) * (Nt+B)) ), 6)
                   * 1e6

    (B = n_buckets). The relation is at most B rows regardless of corpus
    size — the point of hashing — so it broadcasts; counts stay exact
    BIGINTs and the single ln is 6-dp-rounded at the source, making
    every downstream weight a pure integer fold."""
    ct = _bucket_counts(target, text_col, n_buckets)
    cr = _bucket_counts(raw, text_col, n_buckets)
    joined = (
        ct.select("bucket", F.col("c").alias("ct"))
        .join(
            cr.select("bucket", F.col("c").alias("cr")), "bucket", "full"
        )
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
            F.coalesce("cr", F.lit(0)).cast("long").alias("cr"),
        )
    )
    nt = target.select(
        F.coalesce(F.sum(F.size(tokens(F.col(text_col)))), F.lit(0))
        .cast("long")
        .alias("__nt")
    )
    nr = raw.select(
        F.coalesce(F.sum(F.size(tokens(F.col(text_col)))), F.lit(0))
        .cast("long")
        .alias("__nr")
    )
    b = float(n_buckets)
    lr = F.round(
        F.log(
            (
                (F.col("ct") + F.lit(1)).cast("double")
                * (F.col("__nr") + F.lit(b)).cast("double")
            )
            / (
                (F.col("cr") + F.lit(1)).cast("double")
                * (F.col("__nt") + F.lit(b)).cast("double")
            )
        ),
        6,
    )
    return (
        joined.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            "ct",
            "cr",
            F.round(lr * F.lit(1_000_000.0), 0)
            .cast("long")
            .alias("lr_micro"),
        )
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    ratios: DataFrame | None = None,
) -> DataFrame:
    """Per raw document: ``(id, n_tokens, weight_micro)`` where
    weight_micro is the summed bucket log-ratio over the document's
    token occurrences — the DSIR importance log-weight in integer
    micros (higher = more target-like). Docs with no tokens weigh 0.

    Plan shape: one token explode, a per-(doc, bucket) combinable
    count, a BROADCAST join against the ≤ n_buckets ratio table, and a
    per-doc sum — no corpus-sized shuffle beyond the (doc, bucket)
    fold, which is what survives 100 TB. Pass a persisted ``ratios``
    (from ``dsir_bucket_ratios``) to reuse the model across selection
    rounds — the production shape; it derives inline when omitted."""
    if ratios is None:
        ratios = dsir_bucket_ratios(raw, target, text_col, n_buckets)
    doc_buckets = (
        raw.select(
            F.col(id_col),
            F.explode(tokens(F.col(text_col))).alias("__tok"),
        )
        .select(
            id_col, _dsir_bucket(F.col("__tok"), n_buckets).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # LEFT join + coalesce (ADVICE r11): a persisted ``ratios`` built
    # on an older corpus snapshot may lack buckets that new docs hash
    # to; an inner join silently dropped those (doc, bucket) rows from
    # BOTH sums, corrupting n_tokens (documented as the doc's token
    # count). Unseen buckets contribute zero weight instead.
    scored = (
        doc_buckets.join(
            F.broadcast(ratios.select("bucket", "lr_micro")),
            "bucket",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.col("tf") * F.coalesce(F.col("lr_micro"), F.lit(0))
            )
            .cast("long")
            .alias("weight_micro"),
        )
    )
    return (
        raw.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("weight_micro", F.lit(0))
            .cast("long")
            .alias("weight_micro"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n_docs: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    ratios: DataFrame | None = None,
) -> DataFrame:
    """Deterministic top-``n_docs`` importance selection: highest
    ``weight_micro`` first, md5-free id tie-break — the greedy
    (temperature-0) form of DSIR's resampling step, which is the
    reproducible choice for a data pipeline (sampled variants change
    the corpus under reruns). Plans as TakeOrdered over the weight
    relation."""
    w = dsir_weights(raw, target, text_col, id_col, n_buckets, ratios)
    return w.orderBy(F.col("weight_micro").desc(), F.col(id_col)).limit(
        n_docs
    )


def dsir_weights_sql(
    raw_sql: str,
    target_sql: str,
    text_expr: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> str:
    """DuckDB twin of ``dsir_weights`` (inline-ratio form): identical
    bucket hash, exact BIGINT counts, the same 6-dp-rounded single ln
    and integer-micro fold."""
    from nosql_to_sql_migration_tool_spark.operators.text import tokens_sql

    toks = tokens_sql(text_expr)
    b = float(n_buckets)
    return f"""
WITH raw AS ({raw_sql}),
target AS ({target_sql}),
rtok AS (SELECT doc_id, {toks} AS t FROM raw),
ttok AS (SELECT {toks} AS t FROM target),
ct AS (
  SELECT {_dsir_bucket_sql('tok', n_buckets)} AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS tok FROM ttok) GROUP BY 1
),
cr AS (
  SELECT {_dsir_bucket_sql('tok', n_buckets)} AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS tok FROM rtok) GROUP BY 1
),
nt AS (SELECT CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS n FROM ttok),
nr AS (SELECT CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS n FROM rtok),
ratios AS (
  SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
         CAST(round(round(ln(
           ((CAST(coalesce(ct.c, 0) AS DOUBLE) + 1.0)
              * (CAST(nr.n AS DOUBLE) + {b}))
           / ((CAST(coalesce(cr.c, 0) AS DOUBLE) + 1.0)
              * (CAST(nt.n AS DOUBLE) + {b}))
         ), 6) * 1000000.0, 0) AS BIGINT) AS lr_micro
  FROM ct FULL JOIN cr ON ct.bucket = cr.bucket, nt, nr
),
doc_buckets AS (
  SELECT doc_id, {_dsir_bucket_sql('tok', n_buckets)} AS bucket,
         CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM rtok)
  GROUP BY 1, 2
),
scored AS (
  SELECT d.doc_id,
         CAST(sum(d.tf) AS BIGINT) AS n_tokens,
         CAST(sum(d.tf * coalesce(r.lr_micro, 0)) AS BIGINT)
           AS weight_micro
  FROM doc_buckets d LEFT JOIN ratios r USING (bucket)
  GROUP BY d.doc_id
)
SELECT raw.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.weight_micro, 0) AS BIGINT) AS weight_micro
FROM raw LEFT JOIN scored s ON raw.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (round 11): quality-weighted corpus
# subsampling via the A-RES exponential-key trick (Efraimidis & Spirakis
# 2006) with md5-derived uniforms — so the "random" sample is a pure
# function of (id, weight): reproducible across engines, reruns and any
# partitioning, and it grows stably (adding docs never reshuffles the keys
# of existing ones — the with_split contract applied to weighted choice).
# ---------------------------------------------------------------------------

_WS_DENOM = float(1 << 52)  # 13 md5 hex chars -> exact 52-bit double


def _sample_uniform(id_col: str):
    """u in (0, 1]: the first 13 md5 hex chars of the id as a 52-bit
    integer, +1, over 2^52 — exactly representable as a double, so both
    engines see the bit-identical uniform."""
    v = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
    ).cast("long")
    return (v + F.lit(1)).cast("double") / F.lit(_WS_DENOM)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """The ``n`` rows with the largest ``ln(u_id) / weight`` — exactly a
    weighted random sample WITHOUT replacement drawn once and frozen
    (A-RES keys; u^(1/w) order == ln(u)/w order). Rows with weight <= 0
    or NULL are never sampled. Returns ``(id, weight, key_micro)``;
    ranking is on the integer micro key with an id tie-break, so
    selection is bit-deterministic and SQL-replayable.

    Determinism: u is md5-derived (exact 52-bit double), the ONE ln is
    rounded 6 dp at the source (the BM25/DSIR pin), and the division by
    the caller's weight is a single IEEE op — identical inputs, identical
    key. Weights must themselves be cross-engine-stable values (integers
    or already-6-dp-rounded doubles — the caller's contract).

    Scale shape: one shuffle-free key projection + a global top-n that
    plans as TakeOrdered (per-partition heap, n-row merge) — the same
    cost as any top-k, with no random-number state to coordinate."""
    keyed = (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .select(
            F.col(id_col),
            F.col(weight_col),
            F.round(
                F.round(F.log(_sample_uniform(id_col)), 6)
                / F.col(weight_col).cast("double")
                * F.lit(1_000_000.0),
                0,
            )
            .cast("long")
            .alias("key_micro"),
        )
    )
    return keyed.orderBy(F.col("key_micro").desc(), F.col(id_col)).limit(n)


def _plain_ident(expr: str, what: str, out_col: str | None) -> str:
    """The linear_count_by_sql out_col guard (ADVICE r10/r11):
    ``<expr> AS <expr>`` is invalid SQL for any non-identifier
    expression, so default the output alias to the expression only
    when it IS a plain column name."""
    if out_col is not None:
        return out_col
    # ADVICE r12: isalnum() admitted digit-leading strings ('123'),
    # which render as invalid ``expr AS 123`` — isidentifier() is the
    # actual plain-column-name test.
    if not expr.isidentifier():
        raise ValueError(
            f"{what} is not a plain column name; pass its out column "
            "explicitly"
        )
    return expr


def weighted_sample_sql(
    rows_sql: str,
    weight_expr: str,
    n: int,
    id_expr: str = "doc_id",
    id_out: str | None = None,
    weight_out: str | None = None,
) -> str:
    """DuckDB twin of ``weighted_sample`` (identical md5 uniform, 6-dp
    ln pin, integer micro key, id tie-break). ``id_out``/``weight_out``
    name the output columns when the corresponding expression is not a
    plain identifier (ADVICE r11: ``expr AS expr`` is invalid SQL)."""
    id_out = _plain_ident(id_expr, "weighted_sample_sql: id_expr", id_out)
    weight_out = _plain_ident(
        weight_expr, "weighted_sample_sql: weight_expr", weight_out
    )
    u = (
        f"(CAST(concat('0x', substr(md5(CAST({id_expr} AS VARCHAR)), 1, "
        f"13)) AS BIGINT) + 1) / {_WS_DENOM}"
    )
    return f"""
WITH rows_in AS ({rows_sql}),
keyed AS (
  SELECT {id_expr} AS {id_out}, {weight_expr} AS {weight_out},
         CAST(round(round(ln({u}), 6)
                    / CAST({weight_expr} AS DOUBLE) * 1000000.0, 0)
              AS BIGINT) AS key_micro
  FROM rows_in
  WHERE {weight_expr} IS NOT NULL AND {weight_expr} > 0
)
SELECT * FROM keyed ORDER BY key_micro DESC, {id_out} LIMIT {n}
"""


# ---------------------------------------------------------------------------
# Data recipe planner (round 11): the per-source token table a training run
# fixes before launch — how many tokens to draw from each domain for a
# target budget, with sqrt-temperature smoothing (the domain_mixture_rates
# convention) and an explicit repetition cap (no domain repeats more than
# max_epochs). One grouped aggregate over the corpus; everything after is
# metadata-sized arithmetic, bit-reproducible cross-engine (sqrt is
# IEEE-correctly-rounded, shares/epochs round 6 dp, token counts stay
# BIGINT).
# ---------------------------------------------------------------------------


def data_recipe(
    df: DataFrame,
    target_tokens: int,
    max_epochs: float = 2.0,
    domain_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per domain: ``(domain, avail_tokens, share, desired_tokens,
    planned_tokens, epochs, capped)`` where share is the
    sqrt(avail)-smoothed target mixture, desired = share * target,
    planned = min(desired, max_epochs * avail) and epochs =
    planned / avail. ``capped = 1`` marks domains whose desired draw
    exceeded the repetition cap — the planner deliberately reports the
    shortfall (sum(desired - planned)) instead of silently
    redistributing it, so the recipe a run trains on is exactly the
    table reviewed. Plan: one combinable (domain, tokens) aggregate;
    the per-domain arithmetic runs on a domains-sized relation."""
    from pyspark.sql.types import DecimalType

    per = df.groupBy(domain_col).agg(
        F.sum(F.size(tokens(F.col(text_col))))
        .cast("long")
        .alias("avail_tokens")
    ).select(
        domain_col,
        "avail_tokens",
        F.round(F.sqrt(F.col("avail_tokens")), 6)
        .cast(DecimalType(18, 6))
        .alias("__w"),
    )
    tot = per.agg(F.sum("__w").alias("__tw"))
    share = F.round(
        F.col("__w").cast("double") / F.col("__tw").cast("double"), 6
    )
    out = per.crossJoin(F.broadcast(tot)).select(
        domain_col,
        "avail_tokens",
        share.alias("share"),
    )
    desired = F.round(F.col("share") * F.lit(float(target_tokens)), 0).cast(
        "long"
    )
    # FLOOR, not round: max_epochs is a hard repetition bound, so the
    # planned draw must never exceed max_epochs * avail
    cap = F.floor(
        F.lit(float(max_epochs)) * F.col("avail_tokens").cast("double")
    ).cast("long")
    out = out.select(
        domain_col,
        "avail_tokens",
        "share",
        desired.alias("desired_tokens"),
        F.least(desired, cap).alias("planned_tokens"),
    )
    return out.select(
        domain_col,
        "avail_tokens",
        "share",
        "desired_tokens",
        "planned_tokens",
        F.round(
            F.col("planned_tokens").cast("double")
            / F.col("avail_tokens").cast("double"),
            6,
        ).alias("epochs"),
        (F.col("desired_tokens") > F.col("planned_tokens"))
        .cast("int")
        .alias("capped"),
    )


def data_recipe_sql(
    docs_sql: str,
    target_tokens: int,
    max_epochs: float = 2.0,
    domain_expr: str = "lang",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of ``data_recipe`` (same DECIMAL weight sum, 6-dp
    share/epochs rounds, BIGINT token arithmetic)."""
    from nosql_to_sql_migration_tool_spark.operators.text import tokens_sql

    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
per AS (
  SELECT {domain_expr} AS domain,
         CAST(sum(len({toks})) AS BIGINT) AS avail_tokens,
         CAST(round(sqrt(CAST(sum(len({toks})) AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS w
  FROM docs GROUP BY 1
),
tot AS (SELECT sum(w) AS tw FROM per),
shares AS (
  SELECT domain, avail_tokens,
         round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share
  FROM per, tot
),
sized AS (
  SELECT domain, avail_tokens, share,
         CAST(round(share * {float(target_tokens)}, 0) AS BIGINT)
           AS desired_tokens,
         least(
           CAST(round(share * {float(target_tokens)}, 0) AS BIGINT),
           CAST(floor({float(max_epochs)} * CAST(avail_tokens AS DOUBLE))
                AS BIGINT)
         ) AS planned_tokens
  FROM shares
)
SELECT domain AS {domain_expr}, avail_tokens, share, desired_tokens,
       planned_tokens,
       round(CAST(planned_tokens AS DOUBLE)
             / CAST(avail_tokens AS DOUBLE), 6) AS epochs,
       CAST(desired_tokens > planned_tokens AS INT) AS capped
FROM sized
"""
