"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard
(SURVEY.md §2C / M7a; north_star LLM-data-pipeline surface).

The scale contract: near-dup detection NEVER compares all pairs. MinHash
signatures band into ``N_BANDS`` buckets and only same-bucket documents
join — candidate generation is an equi-join on (band index, band hash),
one shuffle keyed by bucket, linear in corpus size for bounded bucket
width. Exact Jaccard then verifies the (few) candidates. This is the
standard shingle→minhash→band→bucket-join pipeline at any corpus size.

Cross-engine determinism: every hash is md5-hex and every "min" is the
*lexicographic* min of md5 strings — a valid uniform permutation that
both Spark and DuckDB compute byte-identically (no 64-bit integer hex
casts, which the two engines do differently). All expressions are
JVM-side; no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from nosql_to_sql_migration_tool_spark.operators.text import (
    shingle_rows,
    tokens,
    tokens_sql,
    with_shingles,
    word_shingles,
    word_shingles_sql,
)

N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SIMHASH_BITS = 32  # one bit per md5 hex digit position
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")

# Bucket-width cap for every band bucket-join (VERDICT r4 item 4): one
# degenerate band hash (empty/boilerplate text, low-entropy simhash
# bytes) otherwise makes a hot bucket whose self-join is quadratic in
# that bucket. Buckets wider than this split into ceil(w/B) salt cells
# (deterministic md5(id) salt) and candidates generate only within a
# cell, bounding per-bucket join work at ~B² regardless of corpus.
# Recall note: a pair in a salted bucket survives via THAT band with
# probability ~1/cells — but any of the other bands still catches it,
# so only pairs whose EVERY shared band is degenerate lose recall.
MAX_BUCKET_WIDTH = 256
_MAX_SALT_CELLS = 256  # salt source is one md5 byte (0..255)


def _hex_val(ch: Column) -> Column:
    # hex digit -> 0..15 via ascii() — identical in Spark and DuckDB
    # (no engine-specific hex->int casts).
    a = F.ascii(ch)
    return a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))


def _salt_value(id_col: str) -> Column:
    """Deterministic 0..255 salt from the id: first md5 byte of the id's
    decimal string — byte-identical cross-engine."""
    m = F.md5(F.col(id_col).cast("string"))
    return _hex_val(F.substring(m, 1, 1)) * 16 + _hex_val(F.substring(m, 2, 1))


def bucket_salt_sql(id_expr: str) -> str:
    """DuckDB twin of ``_salt_value`` (same md5-byte salt)."""
    c1 = f"ascii(substr(md5(CAST({id_expr} AS VARCHAR)), 1, 1))"
    c2 = f"ascii(substr(md5(CAST({id_expr} AS VARCHAR)), 2, 1))"
    hv = lambda c: f"({c} - CASE WHEN {c} >= 97 THEN 87 ELSE 48 END)"  # noqa: E731
    return f"(16 * {hv(c1)} + {hv(c2)})"


def with_salt_cells(
    buckets: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_width: int = MAX_BUCKET_WIDTH,
) -> DataFrame:
    """Add a ``__cell`` column bounding effective bucket width: rows of a
    bucket wider than ``max_bucket_width`` get cell = salt % ceil(w/B)
    (capped at 256 cells); narrow buckets get cell 0. Joining on
    keys + __cell keeps the candidate join linear when a band hash
    degenerates.

    Plan shape: widths are one map-side-combinable count over narrow
    bucket rows; only the OVER-WIDE buckets (metadata-sized at any
    corpus — they are the anomaly) join back, broadcast."""
    widths = (
        buckets.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") > max_bucket_width)
    )
    cells = F.when(F.col("__w").isNull(), F.lit(1)).otherwise(
        F.least(
            F.ceil(F.col("__w") / F.lit(max_bucket_width)),
            F.lit(_MAX_SALT_CELLS),
        )
    ).cast("int")
    return (
        buckets.join(F.broadcast(widths), keys, "left")
        .withColumn("__cell", (_salt_value(id_col) % cells).cast("int"))
        .drop("__w")
    )


def salted_buckets_sql(
    bands_cte: str,
    keys: list[str],
    id_expr: str,
    max_bucket_width: int = MAX_BUCKET_WIDTH,
) -> str:
    """DuckDB twin of ``with_salt_cells``: SELECT over ``bands_cte``
    adding the same ``cell`` column (join ON keys + cell)."""
    ks = ", ".join(keys)
    return (
        f"SELECT b.*, CAST({bucket_salt_sql('b.' + id_expr)} % "
        f"(CASE WHEN w.__w IS NULL THEN 1 ELSE "
        f"least(CAST(ceil(w.__w * 1.0 / {max_bucket_width}) AS INT), "
        f"{_MAX_SALT_CELLS}) END) AS INT) AS cell "
        f"FROM {bands_cte} b LEFT JOIN ("
        f"SELECT {ks}, count(*) AS __w FROM {bands_cte} "
        f"GROUP BY {ks} HAVING count(*) > {max_bucket_width}"
        f") w USING ({ks})"
    )


# ---------------------------------------------------------------------------
# Exact dedup: canonical-text hash groupBy
# ---------------------------------------------------------------------------


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (whitespace/case-canonical) documents:
    ``(exact_fp, n_dups, keep_id)`` for every fingerprint with >1 doc.
    Keeper = min id (deterministic survivor policy)."""
    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.md5(canon).alias("exact_fp"), F.col(id_col))
        .groupBy("exact_fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per canonical text — REPLACE-style survivor
    selection via ``min_by``, one shuffle, no window sort."""
    canon = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    )
    packed = (
        df.withColumn("__fp", canon)
        .groupBy("__fp")
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__row"))
    )
    return packed.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


def _perm_hash(i: int):
    return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))


def _signature_from(shingles: Column) -> Column:
    return F.array(
        *[
            F.array_min(F.transform(shingles, _perm_hash(i)))
            for i in range(N_HASHES)
        ]
    )


def minhash_signature(text: Column) -> Column:
    """Array of N_HASHES lexicographic-min md5 values over the shingle
    set — one independent 'permutation' per salt prefix. (Callers doing
    repeated work should materialize ``word_shingles`` in a projection
    first and use ``_signature_from`` — see ``minhash_candidates``.)"""
    return _signature_from(word_shingles(text))


def minhash_signature_sql(text_expr: str) -> str:
    shingles = word_shingles_sql(text_expr)
    mins = ", ".join(
        f"list_min(list_transform({shingles}, s -> md5('{i}|' || s)))"
        for i in range(N_HASHES)
    )
    return f"[{mins}]"


def band_hashes(signature: Column) -> Column:
    """N_BANDS band hashes: md5 over each contiguous ROWS_PER_BAND slice."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",", F.slice(signature, b * ROWS_PER_BAND + 1, ROWS_PER_BAND)
                )
            )
            for b in range(N_BANDS)
        ]
    )


def band_hashes_sql(sig_expr: str) -> str:
    bands = ", ".join(
        "md5(array_to_string(list_slice(%s, %d, %d), ','))"
        % (sig_expr, b * ROWS_PER_BAND + 1, (b + 1) * ROWS_PER_BAND)
        for b in range(N_BANDS)
    )
    return f"[{bands}]"


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The shared ``(id, __sh)`` shingle-set projection every near-dup
    operator consumes. Callers running SEVERAL dedup queries over the
    same corpus should build this once and ``persist()`` it — the
    shingle build dominates the family's cost, and signatures,
    candidates and Jaccard verification all derive from it."""
    return with_shingles(df, text_col, out_col="__sh", keep=(id_col,))


def minhash_sig_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Signature as a TABLE ``(id, __h0..__hN)``: explode shingles to
    rows, hash each shingle N_HASHES ways, min-aggregate per doc.

    This shape (vs. one nested-transform array expression) keeps every
    step inside whole-stage codegen and evaluates the shingle build
    exactly once — the array-expression formulation fell out of codegen
    and was ~40x slower at sf0.1. Cost: one narrow shuffle of
    (id, 12 hashes) partial-min rows — map-side combine applies.
    ``shingles`` optionally supplies a precomputed (possibly persisted)
    ``shingle_sets`` projection shared across the dedup family; without
    one, shingle rows build explode-first (``text.shingle_rows``,
    ``distinct=False`` — duplicates cannot change a min)."""
    if shingles is not None:
        sh = shingles.select(F.col(id_col), F.explode("__sh").alias("__s"))
    else:
        sh = shingle_rows(df, text_col, id_col, distinct=False)
    hashed = sh.select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{i}|"), F.col("__s"))).alias(f"__h{i}")
            for i in range(N_HASHES)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"__h{i}").alias(f"__h{i}") for i in range(N_HASHES)]
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    max_bucket_width: int | None = MAX_BUCKET_WIDTH,
) -> DataFrame:
    """LSH candidate pairs ``(id_a, id_b)`` with id_a < id_b: documents
    sharing at least one (band index, band hash) bucket. The join is a
    bucket equi-join — never an all-pairs product — and buckets wider
    than ``max_bucket_width`` are salt-split (``with_salt_cells``) so a
    degenerate band hash cannot go quadratic.

    r15 optimization (guide §2.4 remove redundant passes): the bucket
    frame derived from the signature table feeds FOUR consumers — the
    salt-cell widths groupBy, the width join-back, and both sides of
    the bucket self-join — so without materialization the explode +
    N_HASHES-md5 + min-aggregate subtree executes repeatedly. The sig
    table is one narrow row per doc (the signature store an LSH
    pipeline persists anyway at scale); an eager ``localCheckpoint``
    computes it once and every consumer reads the checkpoint. Measured
    (OPTIMIZATION_r15.md "minhash_candidates", 3 alternating repeats,
    sf0.1):
    2.28 s -> 1.97 s warm, result hash identical.

    Caveat (ADVICE r15): the eager checkpoint triggers Spark jobs AT
    CALL TIME and truncates lineage — callers composing plans without
    executing them pay the signature build immediately, and the staged
    frame is NOT recomputed on executor loss (the job fails instead of
    replaying lineage). Acceptable for the bench/pipeline paths that
    always execute; pass a precomputed ``shingles``/use the memo layer
    where lazy composition matters."""
    sig = minhash_sig_table(df, text_col, id_col, shingles).localCheckpoint(
        eager=True
    )
    bands_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"__h{b * ROWS_PER_BAND + j}")
                        for j in range(ROWS_PER_BAND)
                    ],
                )
            )
            for b in range(N_BANDS)
        ]
    )
    buckets = sig.select(
        id_col, F.posexplode(bands_arr).alias("band_idx", "band_hash")
    )
    keys = ["band_idx", "band_hash"]
    if max_bucket_width is not None:
        buckets = with_salt_cells(buckets, keys, id_col, max_bucket_width)
        keys = keys + ["__cell"]
    a = buckets.select(
        F.col(id_col).alias("id_a"), *keys
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), *keys
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified with exact n-gram
    Jaccard over the distinct shingle sets. Output:
    ``(id_a, id_b, jaccard)`` with jaccard >= threshold, rounded 6 dp.
    The one shingle projection feeds BOTH the signature build and the
    Jaccard verify (pass a persisted ``shingle_sets`` to also share it
    across sibling queries; pass a persisted ``candidates`` frame to
    additionally share the band bucket-join with the candidate query
    and the recall audit)."""
    sh_sets = shingles if shingles is not None else shingle_sets(df, text_col, id_col)
    cands = (
        candidates
        if candidates is not None
        else minhash_candidates(df, text_col, id_col, sh_sets)
    )
    a = sh_sets.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
    )
    b = sh_sets.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
    )
    jac = F.round(
        F.size(F.array_intersect("__sh_a", "__sh_b"))
        * F.lit(1.0)
        / F.size(F.array_union("__sh_a", "__sh_b")),
        6,
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_iterations: int = 20,
    shingles: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Transitive closure of near-duplication: ``(id, component_id)``
    where component_id is the min doc id reachable through verified
    near-dup pairs — so an edit CHAIN a~b~c collapses into one group
    even when a and c are not directly similar.

    Iterative min-label propagation over the (small) pair-edge set:
    each round joins labels to neighbours and takes the min; converges
    in O(diameter) rounds (label propagation halves long chains each
    step). ``localCheckpoint`` cuts lineage per round so the plan does
    not grow with iterations. Labels are the doc ids themselves (min is
    well-defined for any orderable id type — string keys work), and the
    per-round convergence check counts rows whose label still shrinks —
    one tiny aggregate, not a collect of data rows.

    Only ids that appear in some edge iterate — on a mostly-unique
    corpus that is a small fraction of the documents; singletons join
    back as their own component at the end (one left join, no rounds).
    """
    if pairs is None:
        pairs = near_dup_pairs(df, text_col, id_col, threshold, shingles)
    pairs = pairs.select("id_a", "id_b")
    edges = (
        pairs.union(pairs.select(F.col("id_b"), F.col("id_a")))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == F.col("node"))
            .groupBy(edges.src.alias("node"))
            .agg(F.min("comp").alias("n_comp"))
        )
        joined = labels.join(neighbor_min, "node", "left").localCheckpoint(
            eager=True
        )
        n_changed = joined.filter(F.col("n_comp") < F.col("comp")).count()
        labels = joined.select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
            ).alias("comp"),
        )
        if n_changed == 0:
            converged = True
            break
    if not converged:
        # ADVICE r10: propagation needs O(diameter) rounds; silently
        # returning unconverged labels would hand callers (including
        # update_components' IVM contract) WRONG components. Fail loudly
        # like the twostar variant does.
        raise RuntimeError(
            "near_dup_components: min-label propagation did not reach "
            f"a fixpoint within max_iterations={max_iterations}; raise "
            "max_iterations (O(chain diameter) rounds are needed) or "
            "use near_dup_components_twostar (O(log² n) rounds)"
        )
    connected = labels.select(
        F.col("node").alias(id_col), F.col("comp").alias("component_id")
    )
    return df.select(id_col).join(connected, id_col, "left").select(
        id_col,
        F.coalesce(F.col("component_id"), F.col(id_col)).alias("component_id"),
    )


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star contraction over a canonical edge set
    (columns ``a > b``). Large-star hangs every strictly-larger
    neighbour of u onto m = min(N(u) ∪ {u}); small-star hangs the
    smaller-or-equal neighbours AND u itself onto m. Both emit edges in
    canonical (larger, smaller) orientation, so the output feeds the
    next round directly."""
    bid = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).toDF("u", "v")
    mins = (
        bid.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least(F.col("u"), F.col("__mn")).alias("m"))
    )
    joined = bid.join(mins, "u")
    if large:
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    else:
        out = joined.filter(F.col("v") < F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        ).union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
    return out.filter(F.col("a") != F.col("b")).distinct()


def near_dup_components_twostar(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_iterations: int = 30,
    shingles: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Transitive near-dup components via alternating large-star /
    small-star contraction — the published MapReduce connected-components
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). Output is identical to ``near_dup_components``:
    ``(id, component_id)`` with component_id = min reachable doc id.

    Why a second implementation: min-label propagation needs O(diameter)
    rounds — a 10⁶-long edit chain (pathological but real in scraped
    corpora: boilerplate series, paginated near-copies) needs 10⁶
    shuffles. Star contraction halves chain length every round pair,
    converging in O(log² n) rounds worst-case and O(log n) in practice,
    with the same per-round cost (one groupBy + one join on the edge
    set). At 100 TB this is the difference between a bounded job and an
    unbounded one; below ~20-round diameters the propagation variant is
    marginally cheaper per round (no star reorientation) — SCALE.md
    records the crossover.

    Convergence detection is two scalar aggregates per round (edge count
    + order-insensitive xxhash64 checksum), never a data collect; at the
    fixpoint the edge set is a star forest, every edge pointing at its
    component's min. ``localCheckpoint`` cuts lineage per round.
    """
    if pairs is None:
        pairs = near_dup_pairs(df, text_col, id_col, threshold, shingles)
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("a"),
            F.least("id_a", "id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig: tuple | None = None
    converged = False
    for _ in range(max_iterations):
        edges = _star_round(edges, large=True)
        edges = _star_round(edges, large=False).localCheckpoint(eager=True)
        sig_row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # XOR fold: order-insensitive and overflow-free under ANSI
            # mode (edges are distinct, so XOR cannot self-cancel pairs)
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # Labels from an unconverged star forest are silently WRONG
        # (ADVICE r5): fail loudly instead. O(log² n) rounds suffice at
        # the default 30 for any realistic corpus, so reaching this
        # means the caller passed a too-small max_iterations.
        raise RuntimeError(
            "near_dup_components_twostar: star contraction did not reach "
            f"a fixpoint within max_iterations={max_iterations}; "
            "raise max_iterations (O(log² n) rounds are sufficient)"
        )
    connected = edges.groupBy(F.col("a").alias(id_col)).agg(
        F.min("b").alias("component_id")
    )
    return df.select(id_col).join(connected, id_col, "left").select(
        id_col,
        F.coalesce(F.col("component_id"), F.col(id_col)).alias("component_id"),
    )


def dedup_near(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Greedy near-dedup: drop every document that is the higher-id side
    of a verified near-dup pair (min-id survivor per pair — the standard
    single-pass policy; long edit-chains may keep middle elements, which
    full transitive closure via iterated joins or graph connected
    components would collapse further)."""
    if pairs is None:
        pairs = near_dup_pairs(df, text_col, id_col, threshold, shingles)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    score: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    components: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware survivor selection: within each transitive near-dup
    component keep the row with the HIGHEST ``score`` (ties to the min
    id) — what a training-data pipeline actually wants ("keep the
    longest/cleanest copy"), where min-id survivorship keeps whichever
    duplicate happened to be ingested first. Output: the surviving rows
    as ``(id, component_id, score)``.

    Two combinable aggregates on component_id (components are edge-
    bounded and tiny relative to the corpus; singletons are their own
    component) — max score per component, then min id among the maxima.
    No window sort, and the max-then-min formulation keeps the id
    tie-break exact for ANY orderable id type (string keys included,
    where a negated-score struct trick would not compose)."""
    if components is None:
        components = near_dup_components(
            df, text_col, id_col, threshold, pairs=pairs
        )
    scored = df.select(F.col(id_col), score.alias("score")).join(
        components, id_col
    )
    best = scored.groupBy("component_id").agg(F.max("score").alias("score"))
    return (
        scored.join(best, ["component_id", "score"])
        .groupBy("component_id", "score")
        .agg(F.min(F.col(id_col)).alias(id_col))
        .select(id_col, "component_id", "score")
    )


def contamination_scores(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-decontamination scan: for every corpus document, the
    fraction of its distinct shingles that also appear in the eval set —
    ``(id, n_shingles, n_overlap, contamination)`` rounded 6 dp.

    Plan shape: the eval side collapses to its DISTINCT shingle set
    (typically tiny next to the corpus — benchmarks are small) and the
    overlap is an explode + equi-join on the shingle string + combinable
    count; AQE broadcasts the eval side at realistic sizes. Never an
    all-pairs document comparison."""
    if shingles is not None:
        corp = shingles.select(F.col(id_col), F.explode("__sh").alias("__s"))
    else:
        corp = shingle_rows(corpus, text_col, id_col, distinct=True)
    eval_shingles = (
        shingle_rows(eval_set, text_col, id_col, distinct=False)
        .select("__s")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # one pass: left-join the eval marker, then count total and hits in
    # the SAME aggregation — the corpus shingle explode runs once, not
    # twice (totals + semi-join previously recomputed it; ~2x measured)
    return (
        corp.join(eval_shingles, "__s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap") * F.lit(1.0) / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _bit_vote(j: int):
    # majority vote realized as 2*count(odd digit) >= n — stays in
    # list_filter/size land, identical on both engines.
    return lambda s: F.substring(s, j + 1, 1).isin(*_ODD_HEX)


def _md5_tokens(text: Column) -> Column:
    return F.array_distinct(F.transform(tokens(text), lambda t: F.md5(t)))


def _simhash_from(toks: Column) -> Column:
    n = F.size(toks)
    bits = [
        F.when(
            F.size(F.filter(toks, _bit_vote(j))) * 2 >= n, F.lit("1")
        ).otherwise(F.lit("0"))
        for j in range(SIMHASH_BITS)
    ]
    return F.concat(*bits)


def simhash(text: Column) -> Column:
    """32-char bit string: per hex position, the majority vote of token
    md5 digits' parity — Hamming-comparable locality-sensitive signature
    over the distinct token set."""
    return _simhash_from(_md5_tokens(text))


def with_simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, simhash)`` via explode + 32 conditional counts in ONE
    combinable aggregation — the explode/agg restructure that keeps the
    bit-votes in vectorized codegen instead of 32 array-filter walks
    per row (the same reformulation that took minhash 40x; measured
    ~2.5x here). ``explode_outer`` + ``count(__m)`` preserve the
    empty-token semantics of the expression form (n=0 votes all-'1',
    2*0 >= 0)."""
    tok = df.select(
        F.col(id_col),
        F.explode_outer(_md5_tokens(F.col(text_col))).alias("__m"),
    )
    counts = tok.groupBy(id_col).agg(
        F.count("__m").alias("__n"),
        *[
            F.count(F.when(_bit_vote(j)(F.col("__m")), 1)).alias(f"__c{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    bits = F.concat(
        *[
            F.when(F.col(f"__c{j}") * 2 >= F.col("__n"), F.lit("1"))
            .otherwise(F.lit("0"))
            for j in range(SIMHASH_BITS)
        ]
    )
    return counts.select(F.col(id_col), bits.alias("simhash"))


def simhash_sql(text_expr: str) -> str:
    toks = f"list_distinct(list_transform({tokens_sql(text_expr)}, t -> md5(t)))"
    odd = ", ".join(f"'{d}'" for d in _ODD_HEX)
    bits = " || ".join(
        f"(CASE WHEN len(list_filter({toks}, s -> substr(s, {j + 1}, 1) "
        f"IN ({odd}))) * 2 >= len({toks}) THEN '1' ELSE '0' END)"
        for j in range(SIMHASH_BITS)
    )
    return bits


def hamming(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    """Hamming distance between two equal-length bit strings."""
    pairs = F.arrays_zip(
        F.split(a, "(?!$)"), F.split(b, "(?!$)")
    )
    return F.size(F.filter(pairs, lambda p: p["0"] != p["1"]))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_chars: int = 8,
    max_bucket_width: int | None = MAX_BUCKET_WIDTH,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via banding (any ``max_hamming`` < number of
    bands guarantees candidates share one identical band — pigeonhole):
    bucket-join on (band index, band substring), verify by Hamming.

    Shuffle discipline: the band join carries (id, packed-long sig,
    band) — the signature rides as 8 bytes, so Hamming verification is
    ``bit_count(sig_a XOR sig_b)`` computed inline at the join (one
    instruction per candidate), with no signature back-joins at all;
    duplicate candidates (a pair can share up to n_bands buckets)
    collapse in one distinct AFTER the cheap filter. The two band
    frames are the identical subplan, so the signature aggregation
    computes once and its exchange is reused for the self-join. On
    low-entropy corpora simhash buckets get wide (8-bit band values
    collide structurally); buckets wider than ``max_bucket_width``
    salt-split via ``with_salt_cells`` so the per-bucket self-join stays
    ~B² bounded — the documented recall tradeoff of the cap.
    Pass a persisted ``sigs`` frame (``with_simhash`` output) to share
    the 32-vote signature aggregation with the signature query."""
    if sigs is None:
        sigs = with_simhash(df, text_col, id_col)
    sigs = sigs.withColumnRenamed("simhash", "__sh")
    n_bands = SIMHASH_BITS // band_chars
    bands = sigs.select(
        id_col,
        F.conv(F.col("__sh"), 2, 10).cast("long").alias("__sl"),
        F.posexplode(
            F.array(
                *[
                    F.substring("__sh", b * band_chars + 1, band_chars)
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    keys = ["band_idx", "band_val"]
    if max_bucket_width is not None:
        bands = with_salt_cells(bands, keys, id_col, max_bucket_width)
        keys = keys + ["__cell"]
    a = bands.select(
        F.col(id_col).alias("id_a"),
        F.col("__sl").alias("__sa"),
        *keys,
    )
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col("__sl").alias("__sb"),
        *keys,
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("__sa").bitwiseXOR(F.col("__sb"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def incremental_new_docs(
    corpus: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest dedup: of an incoming batch, keep only the
    documents whose canonical exact fingerprint appears neither in the
    existing corpus nor earlier (min id) in the batch itself. Output
    ``(id, exact_fp)`` survivors.

    This is the steady-state shape of corpus growth at 100 TB: the
    corpus side reduces to its distinct fingerprint set (in production
    a pre-materialized index table, here a projection), the batch
    anti-joins against it, and batch-internal dups collapse with one
    combinable min. The full corpus text never reshuffles — only
    fingerprints move."""
    canon = lambda c: F.md5(  # noqa: E731 — tiny local expression builder
        F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    )
    corpus_fps = corpus.select(canon(F.col(text_col)).alias("__fp")).distinct()
    batch = incoming.select(
        F.col(id_col), canon(F.col(text_col)).alias("exact_fp")
    )
    fresh = batch.join(
        corpus_fps, batch.exact_fp == corpus_fps.__fp, "left_anti"
    )
    first = fresh.groupBy("exact_fp").agg(F.min(id_col).alias(id_col))
    return first.select(id_col, "exact_fp")


def jaccard_prefix_pairs(
    df: DataFrame,
    tau_num: int = 3,
    tau_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the AllPairs/
    PPJoin principle, Bayardo et al. WWW'07 / Xiao et al. WWW'08): every
    pair with shingle Jaccard >= tau is found — no LSH false negatives.
    Output ``(id_a, id_b, jaccard)``, jaccard rounded 6 dp, id_a < id_b.

    Principle: order each document's shingles by one GLOBAL order
    (document frequency asc, shingle asc — rarest first) and keep only
    the prefix of length ``p = s - ceil(tau*s) + 1`` (s = set size). Two
    sets with Jaccard >= tau have overlap >= ceil(tau*max(sa, sb)), and
    an overlap of a elements forces the prefixes of length
    ``s - a + 1`` to intersect; ceil(tau*s) <= a makes our (longer)
    prefix a superset of that bound, so every qualifying pair shares
    at least one PREFIX shingle and the prefix equi-join misses
    nothing. tau is passed as a rational (tau_num/tau_den) so both
    engines compute ``ceil(tau*s) = (tau_num*s + tau_den - 1) div
    tau_den`` in exact integer arithmetic — no float-boundary drift.

    Scale shape: one shuffle keys shingle rows by doc for the
    (pos, size) window, one equi-join on prefix shingles generates
    candidates, exact Jaccard verifies. Prefix shingles are each
    document's globally RAREST, so bucket fan-out is small by
    construction; corpora where the output itself is quadratic (all
    docs near-identical) are the only quadratic case — that cost is in
    the answer, not the algorithm. Complements ``near_dup_pairs``: LSH
    when approximate recall is acceptable, prefix filter when the
    contract is exactness (e.g. the recall audit that grades LSH)."""
    from pyspark.sql import Window

    if rows is None:
        rows = shingle_rows(df, text_col, id_col, distinct=True)
    dfreq = rows.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "__s")
    sized = (
        rows.join(dfreq, "__s")
        .select(
            id_col,
            "__s",
            F.row_number().over(w).alias("__pos"),
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("__sz"),
        )
    )
    ceil_tau_s = F.floor(
        (F.lit(tau_num) * F.col("__sz") + F.lit(tau_den - 1)) / F.lit(tau_den)
    )
    prefix = sized.filter(
        F.col("__pos") <= F.col("__sz") - ceil_tau_s + F.lit(1)
    ).select(id_col, "__s")
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "__s")
        .join(prefix.select(F.col(id_col).alias("id_b"), "__s"), "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_sets = (
        shingles
        if shingles is not None
        else df.select(
            F.col(id_col), word_shingles(F.col(text_col)).alias("__sh")
        )
    )
    a = sh_sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh_sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    jac = F.round(
        F.size(F.array_intersect("__sh_a", "__sh_b"))
        * F.lit(1.0)
        / F.size(F.array_union("__sh_a", "__sh_b")),
        6,
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(tau_num) / F.lit(tau_den))
    )


def jaccard_prefix_ctes_sql(tau_num: int = 3, tau_den: int = 5) -> str:
    """CTE chain (assumes a ``docs(doc_id, text)`` CTE is in scope)
    ending in ``__truth(id_a, id_b, jaccard)`` — the exact >= tau pair
    set. Composable: the recall-audit oracle splices this next to the
    MinHash-bucket CTEs over the same ``docs``."""
    return f"""
__prows AS (
  SELECT doc_id, unnest({word_shingles_sql('text')}) AS s FROM docs
),
__pdf AS (SELECT s, count(*) AS df FROM __prows GROUP BY s),
__pref AS (
  SELECT doc_id, s FROM (
    SELECT r.doc_id, r.s,
           row_number() OVER (PARTITION BY r.doc_id ORDER BY d.df, r.s)
             AS pos,
           count(*) OVER (PARTITION BY r.doc_id) AS sz
    FROM __prows r JOIN __pdf d USING (s))
  WHERE pos <= sz - floor(({tau_num}*sz + {tau_den - 1})/{tau_den}) + 1
),
__pcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM __pref a JOIN __pref b USING (s) WHERE a.doc_id < b.doc_id
),
__psh AS (SELECT doc_id, {word_shingles_sql('text')} AS sh FROM docs),
__truth AS (
  SELECT * FROM (
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                 len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
    FROM __pcand c
    JOIN __psh sa ON c.id_a = sa.doc_id
    JOIN __psh sb ON c.id_b = sb.doc_id
  ) WHERE jaccard >= {tau_num} * 1.0 / {tau_den}
)"""


def jaccard_prefix_pairs_sql(
    docs_sql: str,
    tau_num: int = 3,
    tau_den: int = 5,
) -> str:
    """DuckDB twin of ``jaccard_prefix_pairs`` over a docs CTE body with
    (doc_id, text)."""
    return (
        f"WITH docs AS ({docs_sql}),\n"
        f"{jaccard_prefix_ctes_sql(tau_num, tau_den)}\n"
        "SELECT id_a, id_b, jaccard FROM __truth"
    )


def corpus_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    doc_shingles: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise EXACT shingle-Jaccard between sub-corpora (sources,
    snapshots, crawls) — the corpus-level overlap matrix a dedup run is
    planned from ("how much of crawl B is already in crawl A?"), the
    group-granularity sibling of the per-document near-dup operators.

    Shape: one distinct (group, shingle) projection (combinable
    distinct), group set sizes, and an inverted-index self-join on the
    shingle key — per-shingle fan-out is bounded by the number of
    GROUPS (corpus-level entities: tens, not documents), so the join
    output is at most k²/2 rows per shingle and the result is k²/2
    rows total. Zero-overlap pairs are completed from the broadcast
    k-row size table, never from data. Integer counts divide once at
    the end: exact cross-engine.

    Pass ``doc_shingles`` (an ``(id_col, __sh)`` frame, e.g. the
    persisted ``shingle_sets`` memo shared with fingerprint /
    contamination queries) to skip re-deriving shingles — the dominant
    cost; it is joined narrowly to the (id, group) projection of
    ``df``.
    """
    if doc_shingles is not None:
        sh = (
            doc_shingles.join(df.select(id_col, group_col), id_col)
            .select(
                F.col(group_col).alias("grp"), F.explode("__sh").alias("__s")
            )
            .distinct()
        )
    else:
        sh = (
            with_shingles(df, text_col, out_col="__sh", keep=(group_col,))
            .select(
                F.col(group_col).alias("grp"), F.explode("__sh").alias("__s")
            )
            .distinct()
        )
    sizes = sh.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.select(F.col("grp").alias("grp_a"), "__s")
        .join(sh.select(F.col("grp").alias("grp_b"), "__s"), "__s")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("grp").alias("grp_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("grp").alias("grp_b"), F.col("n").alias("n_b"))
    pairs = F.broadcast(sa).join(
        F.broadcast(sb), F.col("grp_a") < F.col("grp_b")
    )
    common = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        pairs.join(inter, ["grp_a", "grp_b"], "left")
        .select(
            F.col("grp_a").alias("source_a"),
            F.col("grp_b").alias("source_b"),
            common.alias("n_common"),
            "n_a",
            "n_b",
            F.round(
                common.cast("double")
                / (F.col("n_a") + F.col("n_b") - common),
                6,
            ).alias("jaccard"),
        )
    )


def corpus_overlap_sql(
    table: str, group_col: str = "source", text_expr: str = "text"
) -> str:
    """DuckDB twin of ``corpus_overlap``."""
    from nosql_to_sql_migration_tool_spark.operators.text import (
        word_shingles_sql,
    )

    return f"""
WITH sh AS (
  SELECT DISTINCT grp, s FROM (
    SELECT {group_col} AS grp,
           unnest({word_shingles_sql(text_expr)}) AS s
    FROM {table}
  )
),
sizes AS (SELECT grp, count(*) AS n FROM sh GROUP BY grp),
inter AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (s) WHERE a.grp < b.grp GROUP BY 1, 2
)
SELECT sa.grp AS source_a, sb.grp AS source_b,
       coalesce(i.n_common, 0) AS n_common,
       sa.n AS n_a, sb.n AS n_b,
       round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
             / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.grp < sb.grp
LEFT JOIN inter i ON i.grp_a = sa.grp AND i.grp_b = sb.grp
"""


DEFAULT_CONTAINMENT_DF_CAP = 20


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 4,
    threshold_den: int = 5,
    df_cap: int = DEFAULT_CONTAINMENT_DF_CAP,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    ``|A ∩ B| / |A|`` — the quote/superset signal symmetric Jaccard
    misses (a short document wholly embedded in a long one has low
    Jaccard but containment 1.0; corpus pipelines treat the contained
    doc as the duplicate). Output one row per unordered candidate pair:
    ``(id_a, id_b, containment_a_in_b, containment_b_in_a)`` where
    either direction clears ``threshold_num/threshold_den`` (a rational
    so both engines compare integers — no float threshold drift).

    Blocking: candidates must share at least one RARE shingle (global
    document frequency <= ``df_cap``) — the df-capped inverted-index
    discipline of ``tfidf_cosine_pairs``: per-shingle join fan-out is
    bounded by df_cap², so candidate volume is linear in corpus size.
    Recall caveat (documented, like the tf-idf family): a pair whose
    EVERY shared shingle is more common than df_cap generates no
    candidate; for boilerplate-heavy corpora raise df_cap or fall back
    to the provably-complete prefix-filter join. Verification is exact
    (array_intersect over the full distinct shingle sets).

    Candidate PRUNE (result-preserving — measured 17x candidate-volume
    cut at sf0.1, 1.57M -> survivors only): instead of ``distinct()``
    over the per-shingle pair fan-out, the SAME shuffle aggregates
    ``__cr = |A∩B ∩ rare|`` (shared-rare count). The full intersection
    is bounded above by ``__cr + min(|A∩common|, |B∩common|)`` (every
    non-rare shared shingle is common in BOTH docs), so any pair whose
    upper bound misses the threshold in both directions is dropped
    BEFORE the wide array-intersect join. The array verify still
    decides every emitted row — the bound only skips pairs it can
    prove are below threshold.
    """
    sh_sets = (
        shingles if shingles is not None else shingle_sets(df, text_col, id_col)
    )
    rows = sh_sets.select(
        F.col(id_col).alias("id"), F.explode("__sh").alias("__s")
    )
    rare = (
        rows.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= df_cap)
        .select("__s")
    )
    # rare_rows feeds THREE consumers (both self-join sides and the
    # per-doc stats); without a cut Spark re-derives the rare-df
    # groupBy for each (measured: no ReusedExchange fires across the
    # differently-aliased projections). One eager localCheckpoint of
    # the narrow (id, shingle) frame — ~300k rows at sf0.1, linear in
    # corpus size and always far smaller than the pair fan-out —
    # computes it once.
    rare_rows = rows.join(rare, "__s").localCheckpoint(eager=True)
    # Per-doc totals and rare-shingle counts feed the upper bound.
    doc_stats = (
        rare_rows.groupBy("id")
        .agg(F.count(F.lit(1)).alias("__n_rare"))
        .join(
            sh_sets.select(
                F.col(id_col).alias("id"), F.size("__sh").alias("__n")
            ),
            "id",
        )
        .withColumn("__n_common", F.col("__n") - F.col("__n_rare"))
    )
    pair_counts = (
        rare_rows.select(F.col("id").alias("id_a"), "__s")
        .join(rare_rows.select(F.col("id").alias("id_b"), "__s"), "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__cr"))
    )
    sa = doc_stats.select(
        F.col("id").alias("id_a"),
        F.col("__n").alias("__na"),
        F.col("__n_common").alias("__ca"),
    )
    sb = doc_stats.select(
        F.col("id").alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("__n_common").alias("__cb"),
    )
    upper = F.col("__cr") + F.least(F.col("__ca"), F.col("__cb"))
    cands = (
        pair_counts.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            (upper * threshold_den >= F.lit(threshold_num) * F.col("__na"))
            | (upper * threshold_den >= F.lit(threshold_num) * F.col("__nb"))
        )
        .select("id_a", "id_b")
    )
    a = sh_sets.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
    )
    b = sh_sets.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    na, nb = F.size("__sh_a"), F.size("__sh_b")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__i", inter)
        .filter(
            (F.col("__i") * threshold_den >= F.lit(threshold_num) * na)
            | (F.col("__i") * threshold_den >= F.lit(threshold_num) * nb)
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__i") * F.lit(1.0) / na, 6).alias(
                "containment_a_in_b"
            ),
            F.round(F.col("__i") * F.lit(1.0) / nb, 6).alias(
                "containment_b_in_a"
            ),
        )
    )


def containment_pairs_sql(
    docs_sql: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    df_cap: int = DEFAULT_CONTAINMENT_DF_CAP,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of ``containment_pairs``."""
    shingles = word_shingles_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
sets AS (
  SELECT doc_id, {shingles} AS sh FROM docs
),
rows_ AS (
  SELECT doc_id, unnest(sh) AS s FROM sets
),
rare AS (
  SELECT s FROM rows_ GROUP BY s HAVING count(*) <= {df_cap}
),
rr AS (
  SELECT doc_id, r.s FROM rows_ r JOIN rare USING (s)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rr a JOIN rr b USING (s) WHERE a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.sh, sb.sh)) AS i,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b,
       round(i * 1.0 / na, 6) AS containment_a_in_b,
       round(i * 1.0 / nb, 6) AS containment_b_in_a
FROM verified
WHERE i * {threshold_den} >= {threshold_num} * na
   OR i * {threshold_den} >= {threshold_num} * nb
"""


# ---------------------------------------------------------------------------
# Incremental NEAR-dup ingest (VERDICT r6 next #7): the near-dup twin of
# incremental_new_docs. The corpus's LSH band buckets persist as an INDEX
# table maintained incrementally (build once, append per ingested batch —
# the rollup-partials discipline), so steady-state ingest probes the index
# with O(batch) new work and never recomputes corpus signatures.
# ---------------------------------------------------------------------------


def band_bucket_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The persistable LSH index rows of a corpus:
    ``(band_idx, band_hash, <id_col>)`` — one row per document per band.
    Pure function of the text, so index maintenance is append-only:
    rows for a new batch are computed from the batch alone."""
    sig = minhash_sig_table(df, text_col, id_col, shingles)
    bands_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"__h{b * ROWS_PER_BAND + j}")
                        for j in range(ROWS_PER_BAND)
                    ],
                )
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select(
        F.col(id_col),
        F.posexplode(bands_arr).alias("band_idx", "band_hash"),
    ).select("band_idx", "band_hash", id_col)


def build_band_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the corpus band index (one-time build). Partitioned
    by band_idx so a probe joining one band's buckets prunes the other
    bands' files."""
    band_bucket_rows(df, text_col, id_col).write.mode("overwrite").partitionBy(
        "band_idx"
    ).parquet(path)


def update_band_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold an ingested batch into the index: compute the BATCH's bucket
    rows (O(batch) — the corpus is never read) and append them. After
    the update the index is byte-equivalent to a fresh build over
    corpus + batch, because bucket rows are a pure per-document
    function (pytest-pinned)."""
    band_bucket_rows(batch, text_col, id_col).write.mode("append").partitionBy(
        "band_idx"
    ).parquet(path)


def ingest_near_dup_flags(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_buckets: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    max_bucket_width: int = 64,
    batch_buckets: DataFrame | None = None,
    batch_shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-batch-document near-dup-vs-corpus verdict:
    ``(<id_col>, n_cand, best_jaccard, is_near_dup)`` where ``n_cand``
    counts distinct corpus documents sharing at least one (band, hash)
    bucket with the doc, ``best_jaccard`` is the max VERIFIED n-gram
    Jaccard over those candidates (0.0 when none), and ``is_near_dup``
    thresholds it.

    ``corpus_buckets`` takes the persisted index (``build_band_index``
    + ``update_band_index``) so the corpus side costs one pruned index
    scan; without it the buckets are computed inline (the registered
    query's oracle-checkable form). Buckets wider than
    ``max_bucket_width`` on the corpus side are df-capped away — a
    degenerate band hash (e.g. the empty-text band) cannot fan the
    probe out quadratically; real near-dup buckets are narrow by
    construction (the containment_pairs df-cap discipline). The Jaccard
    verify joins corpus shingles ONLY for candidate corpus docs (one
    semi-join; at scale this is the point-fetch against the document
    store), so probe work is O(batch + candidates), never O(corpus).

    ``batch_buckets`` / ``batch_shingles`` (r16, guide §2.4) optionally
    take a MATERIALIZED batch bucket-row / shingle-set frame a gating
    caller has already staged (``streaming/ingest_stream.gate_batch``
    computes each once and shares it with the index append); both are
    pure per-doc functions of the batch, so passing them changes no
    result. Pass materialized frames only — handing in a lazy
    ``shingle_sets`` projection would inline the shingle build into the
    explode and fall out of codegen (the ``shingle_rows`` lesson)."""
    from pyspark.sql import Window

    cb = (
        corpus_buckets
        if corpus_buckets is not None
        else band_bucket_rows(corpus, text_col, id_col)
    )
    bb = (
        batch_buckets
        if batch_buckets is not None
        else band_bucket_rows(batch, text_col, id_col)
    ).select("band_idx", "band_hash", F.col(id_col).alias("__batch_id"))
    if corpus_buckets is not None:
        if batch_buckets is not None:
            # r16 (guide §2.3 shuffle fewer bytes / §3.2 pre-filter the
            # big side): the replay-dedupe + width count below used to
            # shuffle the WHOLE persisted index twice per probe —
            # O(index), not the advertised O(batch + candidates). Only
            # buckets sharing a (band, hash) key with the batch can
            # ever produce a candidate, and the semi-join keeps every
            # such bucket WHOLE, so the per-bucket width (and
            # everything downstream) is bit-identical while the two
            # shuffles now carry only the matched buckets. Gated on a
            # MATERIALIZED batch_buckets frame: with a lazy batch the
            # broadcast key build re-ran the whole signature subtree
            # and measured WORSE (1.37 -> 1.78 s even with an internal
            # checkpoint), so the un-staged declared-query shape keeps
            # the r15 plan.
            bkeys = bb.select("band_idx", "band_hash").distinct()
            cb = cb.join(
                F.broadcast(bkeys), ["band_idx", "band_hash"], "left_semi"
            )
        # A persisted index replayed under at-least-once delivery can
        # carry duplicate (band, hash, id) rows (ADVICE r7) — dedupe
        # before the width count so replay duplicates can't inflate
        # bucket width past the cap and silently drop real candidates.
        # The inline path is per-doc-distinct by construction.
        cb = cb.select("band_idx", "band_hash", id_col).distinct()
    w = Window.partitionBy("band_idx", "band_hash")
    kept = (
        cb.withColumn("__w", F.count(F.lit(1)).over(w))
        .filter(F.col("__w") <= max_bucket_width)
        .select("band_idx", "band_hash", F.col(id_col).alias("__corpus_id"))
    )
    cand = (
        bb.join(kept, ["band_idx", "band_hash"])
        # a document is never a near-dup of ITSELF: when a crashed-and-
        # replayed ingest batch probes an index already containing its
        # own bucket rows, the self-pair would verify at Jaccard 1.0 and
        # re-route an accepted doc to quarantine (ADVICE r7)
        .filter(F.col("__batch_id") != F.col("__corpus_id"))
        .select("__batch_id", "__corpus_id")
        .distinct()
        # r15 optimization (guide §2.4): cand feeds two differently-
        # shaped consumers (the cand_ids semi-join and the verify join),
        # so the whole probe-join subtree executed twice. The frame is
        # O(batch) candidate pairs — stage it once. Measured 2.35 ->
        # 1.99 s on the ingest_near_dup row, result hash identical.
        .localCheckpoint(eager=True)
    )
    bsh = (
        batch_shingles
        if batch_shingles is not None
        else shingle_sets(batch, text_col, id_col)
    ).select(F.col(id_col).alias("__batch_id"), F.col("__sh").alias("__sh_b"))
    # verify-side shingles: a precomputed (possibly persisted) corpus
    # shingle projection avoids re-tokenizing the corpus per probe —
    # semi-joined down to candidate ids either way
    cand_ids = cand.select(F.col("__corpus_id").alias(id_col)).distinct()
    if corpus_shingles is not None:
        csh_src = corpus_shingles.join(cand_ids, id_col, "left_semi")
    else:
        csh_src = shingle_sets(
            corpus.join(cand_ids, id_col, "left_semi"), text_col, id_col
        )
    csh = csh_src.select(
        F.col(id_col).alias("__corpus_id"), F.col("__sh").alias("__sh_c")
    )
    jac = F.round(
        F.size(F.array_intersect("__sh_b", "__sh_c"))
        * F.lit(1.0)
        / F.size(F.array_union("__sh_b", "__sh_c")),
        6,
    )
    ver = (
        cand.join(bsh, "__batch_id")
        .join(csh, "__corpus_id")
        .select("__batch_id", jac.alias("__j"))
    )
    agg = ver.groupBy("__batch_id").agg(
        F.count(F.lit(1)).alias("n_cand"), F.max("__j").alias("__best")
    )
    return (
        batch.select(F.col(id_col).alias("__batch_id"))
        .join(agg, "__batch_id", "left")
        .select(
            F.col("__batch_id").alias(id_col),
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce(F.col("__best"), F.lit(0.0)).alias("best_jaccard"),
            (F.coalesce(F.col("__best"), F.lit(0.0)) >= F.lit(threshold)).alias(
                "is_near_dup"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (VERDICT r8 next #4): maximal repeated token
# spans ACROSS documents, Lee-et-al-style ("Deduplicating Training Data
# Makes Language Models Better") re-expressed for Spark. The suffix-array
# formulation is replaced by an equivalent distributed shape: positional
# k-gram anchors + gaps-and-islands run detection. For two documents, the
# matching k-gram positions with the same alignment offset d = pos_a -
# pos_b form runs of consecutive pa; a maximal run [p0..p1] IS a maximal
# common token span of length (p1 - p0 + k) — so span lengths are EXACT
# once a pair is a candidate, no extension loop needed.
# ---------------------------------------------------------------------------

DEFAULT_SUBSTRING_K = 5
DEFAULT_SUBSTRING_MIN_LEN = 20
DEFAULT_SUBSTRING_DF_CAP = 20


def _gram_positions(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, g): every k-token gram with its 0-based token position.
    Docs shorter than k tokens contribute nothing (they cannot hold a
    span of length >= k)."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t")
    ).where(F.size("__t") >= k)
    return toked.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(__t) - {k - 1}), "
                f"i -> array_join(slice(__t, i, {k}), ' '))"
            )
        ).alias("pos", "g"),
    )


def substring_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SUBSTRING_K,
    min_len: int = DEFAULT_SUBSTRING_MIN_LEN,
    df_cap: int = DEFAULT_SUBSTRING_DF_CAP,
) -> DataFrame:
    """Per document pair, the maximal exactly-repeated token spans of
    length >= ``min_len``: ``(id_a, id_b, n_spans, max_span_words,
    total_span_words)``.

    Stage 1 (blocking): candidate pairs must share a RARE k-gram
    (global df <= df_cap) — the same df-capped inverted-index
    discipline as ``containment_pairs``, so per-gram join fan-out is
    bounded by df_cap² and candidate volume stays linear in corpus
    size. Recall caveat (documented, same as the containment family):
    a repeated span composed ENTIRELY of grams commoner than df_cap
    produces no candidate; raise df_cap for boilerplate-heavy corpora.
    A span of length L contains L-k+1 anchor grams, so longer spans
    have proportionally more chances to hit a rare anchor.

    Stage 2 (exact span measurement): for candidate pairs only, ALL
    matching gram positions are aligned; runs of consecutive ``pa``
    within one alignment offset ``d`` are detected with the
    gaps-and-islands trick (``pa - row_number()``), giving exact
    maximal-span lengths. The window partitions by (pair, offset) —
    bounded partitions, never a global sort. Overlapping spans at
    DIFFERENT offsets (internal periodicity) each count once;
    ``total_span_words`` is therefore an upper bound on distinct
    duplicated tokens, exactly like suffix-array multiplicity.

    100 TB shape: gram-position rows are O(total tokens) and shuffle
    on gram for the df computation and on (id_b, g) for the pair
    alignment; everything downstream is bounded by candidate-pair
    alignment volume (the inherent output size of substring dedup)."""
    # grams feeds THREE consumers (rare-df groupBy + both alignment
    # sides); without a cut Spark re-derives the tokenize+explode for
    # each (the containment_pairs lesson — no ReusedExchange across
    # differently-aliased projections). One eager localCheckpoint of the
    # narrow (id, pos, g) frame — O(total tokens), linear in corpus size
    # — computes it once.
    from pyspark.sql import Window

    grams = _gram_positions(df, text_col, id_col, k).localCheckpoint(
        eager=True
    )
    # r16 optimization (guide §2.4/§3.1): the r15 shape computed the
    # rare-gram set as a groupBy and joined it back — and because BOTH
    # self-join sides derive it independently, the planner broadcast the
    # near-gram-vocabulary-sized aggregate (≈280k gram strings, ~40 MB)
    # TWICE and built its hash relation on every task. A count window
    # over the gram partition reads the same occurrence df in place:
    # one exchange of the gram rows, no broadcast anywhere, and the
    # self-join below reuses the window's partitioning. Occurrence
    # count ≤ df_cap is the identical predicate; measured 2.10 ->
    # 1.47 s min-of-4, hash-identical (negative twin: the same window
    # in cross_leakage_spans' asymmetric candidate join measured flat
    # and was left alone).
    rare_rows = (
        grams.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
        .filter(F.col("__df") <= df_cap)
        .select("id", "g")
    )
    cand = (
        rare_rows.select(F.col("id").alias("id_a"), "g")
        .join(rare_rows.select(F.col("id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _span_stats(_aligned_span_stats(cand, grams, grams, k, min_len))


def _aligned_span_stats(
    cand: DataFrame,
    grams_a: DataFrame,
    grams_b: DataFrame,
    k: int,
    min_len: int,
) -> DataFrame:
    """Shared core of the substring family: align ALL matching gram
    positions of each candidate pair and detect runs of consecutive
    ``pa`` per alignment offset (gaps-and-islands — the window
    partitions by (pair, offset), never globally). Returns one row per
    maximal span: ``(id_a, id_b, d, __isl, start_a, span_words)`` —
    ``start_a`` is the span's 0-based token offset in doc a, which the
    scrubber consumes; ``_span_stats`` folds these to pair stats."""
    from pyspark.sql import Window

    ga = grams_a.select(
        F.col("id").alias("id_a"), F.col("pos").alias("pa"), "g"
    )
    gb = grams_b.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pb"), "g"
    )
    matches = (
        cand.join(ga, "id_a")
        .join(gb, ["id_b", "g"])
        .withColumn("d", F.col("pa") - F.col("pb"))
    )
    w = Window.partitionBy("id_a", "id_b", "d").orderBy("pa")
    spans = (
        matches.withColumn("__isl", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "d", "__isl")
        .agg(
            F.min("pa").alias("start_a"),
            (F.max("pa") - F.min("pa") + F.lit(k)).alias("span_words"),
        )
        .filter(F.col("span_words") >= min_len)
    )
    return spans


def _span_stats(spans: DataFrame) -> DataFrame:
    return spans.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span_words").alias("max_span_words"),
        F.sum("span_words").cast("long").alias("total_span_words"),
    )


def cross_leakage_spans(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SUBSTRING_K,
    min_len: int = DEFAULT_SUBSTRING_MIN_LEN,
    df_cap: int = DEFAULT_SUBSTRING_DF_CAP,
) -> DataFrame:
    """The shared heavy core of substring-level eval decontamination:
    one row per maximal train×eval repeated span ``(id_a, id_b, d,
    __isl, start_a, span_words)`` — ``substring_cross_leakage`` folds
    these to pair stats, ``leaked_span_positions`` to train-doc scrub
    positions, so a pipeline (and the bench memo) computes the
    anchors/alignment ONCE for both consumers. Candidates pair strictly
    across the split (no within-split work); rare-anchor document
    frequency is computed over the UNION so a gram common in train but
    rare overall still blocks."""
    grams_a = _gram_positions(train_df, text_col, id_col, k).localCheckpoint(
        eager=True
    )
    grams_b = _gram_positions(eval_df, text_col, id_col, k).localCheckpoint(
        eager=True
    )
    union_rows = grams_a.select("g").unionByName(grams_b.select("g"))
    rare = (
        union_rows.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= df_cap)
        .select("g")
    )
    cand = (
        grams_a.join(rare, "g").select(F.col("id").alias("id_a"), "g")
        .join(
            grams_b.join(rare, "g").select(F.col("id").alias("id_b"), "g"),
            "g",
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _aligned_span_stats(cand, grams_a, grams_b, k, min_len)


def substring_cross_leakage(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SUBSTRING_K,
    min_len: int = DEFAULT_SUBSTRING_MIN_LEN,
    df_cap: int = DEFAULT_SUBSTRING_DF_CAP,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Substring-level eval decontamination (the Lee-et-al/PaLM-style
    check): maximal exactly-repeated token spans where ``id_a`` is a
    TRAIN document and ``id_b`` is an EVAL document — a train shard
    memorizably containing eval text is leakage even when whole-doc
    near-dup audits (split_leakage) miss it because the documents as a
    whole differ. Same anchors/blocking/islands machinery as
    ``substring_span_pairs``. Output: one row per contaminated (train,
    eval) pair with exact span stats; drop or rewrite the train side
    per policy. ``spans`` short-circuits with a precomputed
    ``cross_leakage_spans`` frame (the memo/pipeline path).

    Ids must be unique across both inputs (the usual split of one
    corpus). 100 TB shape: identical to substring_span_pairs except the
    candidate join is train-rare x eval-rare instead of a self-join —
    strictly cheaper at equal corpus size."""
    if spans is None:
        spans = cross_leakage_spans(
            train_df, eval_df, text_col, id_col, k, min_len, df_cap
        )
    return _span_stats(spans)


def substring_span_pairs_sql(
    docs_sql: str,
    k: int = DEFAULT_SUBSTRING_K,
    min_len: int = DEFAULT_SUBSTRING_MIN_LEN,
    df_cap: int = DEFAULT_SUBSTRING_DF_CAP,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of ``substring_span_pairs`` (same anchors, same
    islands, same aggregates — integer-only outputs, no float drift)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH docs AS ({docs_sql}),
toked AS (
  SELECT doc_id AS id, {toks} AS t FROM docs
),
grams AS (
  SELECT id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS g
  FROM (
    SELECT id, t, unnest(range(1, len(t) - {k} + 2)) AS i
    FROM toked WHERE len(t) >= {k}
  )
),
rare AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= {df_cap}),
rr AS (SELECT id, grams.g FROM grams JOIN rare USING (g)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM rr a JOIN rr b USING (g) WHERE a.id < b.id
),
m AS (
  SELECT c.id_a, c.id_b, ga.pos AS pa, gb.pos AS pb,
         ga.pos - gb.pos AS d
  FROM cand c
  JOIN grams ga ON ga.id = c.id_a
  JOIN grams gb ON gb.id = c.id_b AND gb.g = ga.g
),
runs AS (
  SELECT id_a, id_b, d, pa,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, d ORDER BY pa
         ) AS isl
  FROM m
),
spans AS (
  SELECT id_a, id_b, d, isl,
         max(pa) - min(pa) + {k} AS span_words
  FROM runs GROUP BY id_a, id_b, d, isl
)
SELECT id_a, id_b,
       count(*) AS n_spans,
       max(span_words) AS max_span_words,
       CAST(sum(span_words) AS BIGINT) AS total_span_words
FROM spans
WHERE span_words >= {min_len}
GROUP BY id_a, id_b
"""


def _cross_span_ctes_sql(
    k: int,
    df_cap: int,
    text_expr: str = "text",
) -> str:
    """Shared DuckDB CTE chain of the cross-leakage family — everything
    through the maximal-span relation ``spans(id_a, id_b, d, isl,
    start_a, span_words)``; expects ``train_docs`` / ``eval_docs`` CTEs
    upstream, consumers append their own fold."""
    toks = tokens_sql(text_expr)
    return f"""
toked_a AS (SELECT doc_id AS id, {toks} AS t FROM train_docs),
toked_b AS (SELECT doc_id AS id, {toks} AS t FROM eval_docs),
grams_a AS (
  SELECT id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS g
  FROM (
    SELECT id, t, unnest(range(1, len(t) - {k} + 2)) AS i
    FROM toked_a WHERE len(t) >= {k}
  )
),
grams_b AS (
  SELECT id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS g
  FROM (
    SELECT id, t, unnest(range(1, len(t) - {k} + 2)) AS i
    FROM toked_b WHERE len(t) >= {k}
  )
),
rare AS (
  SELECT g FROM (
    SELECT g FROM grams_a UNION ALL SELECT g FROM grams_b
  ) GROUP BY g HAVING count(*) <= {df_cap}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM (SELECT id, grams_a.g FROM grams_a JOIN rare USING (g)) a
  JOIN (SELECT id, grams_b.g FROM grams_b JOIN rare USING (g)) b USING (g)
),
m AS (
  SELECT c.id_a, c.id_b, ga.pos AS pa, gb.pos AS pb,
         ga.pos - gb.pos AS d
  FROM cand c
  JOIN grams_a ga ON ga.id = c.id_a
  JOIN grams_b gb ON gb.id = c.id_b AND gb.g = ga.g
),
runs AS (
  SELECT id_a, id_b, d, pa,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, d ORDER BY pa
         ) AS isl
  FROM m
),
spans AS (
  SELECT id_a, id_b, d, isl,
         min(pa) AS start_a,
         max(pa) - min(pa) + {k} AS span_words
  FROM runs GROUP BY id_a, id_b, d, isl
)"""


def substring_cross_leakage_sql(
    train_sql: str,
    eval_sql: str,
    k: int = DEFAULT_SUBSTRING_K,
    min_len: int = DEFAULT_SUBSTRING_MIN_LEN,
    df_cap: int = DEFAULT_SUBSTRING_DF_CAP,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of ``substring_cross_leakage`` (train×eval anchors,
    union rare-df, same islands and aggregates — integer outputs)."""
    return f"""
WITH train_docs AS ({train_sql}),
eval_docs AS ({eval_sql}),
{_cross_span_ctes_sql(k, df_cap, text_expr)}
SELECT id_a, id_b,
       count(*) AS n_spans,
       max(span_words) AS max_span_words,
       CAST(sum(span_words) AS BIGINT) AS total_span_words
FROM spans
WHERE span_words >= {min_len}
GROUP BY id_a, id_b
"""


def scrub_token_spans_sql(
    train_sql: str,
    eval_sql: str,
    k: int = DEFAULT_SUBSTRING_K,
    min_len: int = DEFAULT_SUBSTRING_MIN_LEN,
    df_cap: int = DEFAULT_SUBSTRING_DF_CAP,
    text_expr: str = "text",
) -> str:
    """DuckDB replay of the FULL decontamination remediation: recompute
    the leaked train-doc span positions, drop every token inside any
    leaked range, reassemble affected docs token-by-token (single-space
    joined, exactly the Spark rebuild), pass untouched docs through
    with their original text — ``(doc_id, text)`` for the whole train
    side, hash-comparable string-for-string."""
    return f"""
WITH train_docs AS ({train_sql}),
eval_docs AS ({eval_sql}),
{_cross_span_ctes_sql(k, df_cap, text_expr)},
spanpos AS (
  SELECT id_a AS doc_id, start_a AS start_pos, span_words
  FROM spans WHERE span_words >= {min_len}
  GROUP BY 1, 2, 3
),
affected AS (SELECT DISTINCT doc_id FROM spanpos),
atoks AS (
  SELECT id AS doc_id, i - 1 AS pos, t[i] AS tok
  FROM (
    SELECT id, t, unnest(range(1, len(t) + 1)) AS i
    FROM toked_a WHERE id IN (SELECT doc_id FROM affected)
  )
),
kept AS (
  SELECT doc_id, pos, tok FROM atoks tk
  WHERE NOT EXISTS (
    SELECT 1 FROM spanpos s
    WHERE s.doc_id = tk.doc_id
      AND tk.pos >= s.start_pos
      AND tk.pos < s.start_pos + s.span_words
  )
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS {text_expr}
  FROM kept GROUP BY doc_id
)
SELECT a.doc_id, coalesce(r.{text_expr}, '') AS {text_expr}
FROM affected a LEFT JOIN rebuilt r USING (doc_id)
UNION ALL
SELECT t.doc_id, t.{text_expr}
FROM train_docs t
WHERE t.doc_id NOT IN (SELECT doc_id FROM affected)
"""


def leaked_span_positions(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SUBSTRING_K,
    min_len: int = DEFAULT_SUBSTRING_MIN_LEN,
    df_cap: int = DEFAULT_SUBSTRING_DF_CAP,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Positional form of ``substring_cross_leakage``: one row per
    leaked maximal span with its location in the TRAIN doc —
    ``(doc_id, start_pos, span_words)`` — the input the scrubber
    consumes. Same blocking and islands machinery (``spans`` reuses a
    precomputed ``cross_leakage_spans`` frame)."""
    if spans is None:
        spans = cross_leakage_spans(
            train_df, eval_df, text_col, id_col, k, min_len, df_cap
        )
    # the same train span may leak into several eval docs — scrub once
    return (
        spans.groupBy(
            F.col("id_a").alias(id_col),
            F.col("start_a").alias("start_pos"),
            "span_words",
        )
        .agg(F.count(F.lit(1)).alias("__dup"))
        .drop("__dup")
    )


def scrub_token_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove token ranges from documents — the REMEDIATION half of
    eval decontamination: given ``(doc_id, start_pos, span_words)``
    rows (``leaked_span_positions``), rebuild each affected document's
    text without the leaked tokens; untouched documents pass through
    unchanged (and unshuffled — they never enter the rebuild path).

    Shape: affected docs explode to (pos, token), tokens inside any
    leaked range drop via one range ANTI-join bounded by spans-per-doc,
    and the survivors reassemble via array_sort(collect_list(struct(pos,
    token))) — a per-doc combinable aggregate, no global window, no
    Python. Overlapping spans compose correctly (a token inside ANY
    leaked range is dropped).

    r16 optimization (guide §2.4 remove shuffles outright): the r15
    shape computed ``leaked`` with a range SEMI-join and then
    ``toks.exceptAll(leaked)`` — but exceptAll plans as a UNION of both
    inputs (deriving the posexplode subtree TWICE), a corpus-token-sized
    count aggregate behind its own Exchange, and a replicate Generate.
    ``(id, __pos)`` is UNIQUE within ``toks`` (posexplode emits each
    position once), so multiset difference ≡ set difference ≡ the same
    range join with ``anti`` semantics: one broadcast anti hash join on
    the doc key with the range as residual condition, no token shuffle
    at all. Bit-identical rows by the uniqueness argument."""
    affected_ids = spans.select(id_col).distinct()
    affected = df.join(affected_ids, id_col, "semi")
    untouched = df.join(affected_ids, id_col, "anti")
    toks = affected.select(
        id_col,
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    kept = toks.alias("t").join(
        spans.alias("s"),
        (F.col(f"t.{id_col}") == F.col(f"s.{id_col}"))
        & (F.col("t.__pos") >= F.col("s.start_pos"))
        & (F.col("t.__pos") < F.col("s.start_pos") + F.col("s.span_words")),
        "anti",
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__tok"))
                    ),
                    lambda st: st["__tok"],
                ),
                " ",
            ).alias(text_col)
        )
    )
    # docs whose EVERY token leaked drop out of `kept`; reinstate empty
    rebuilt = (
        affected.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )
    extra_cols = [c for c in df.columns if c not in (id_col, text_col)]
    if extra_cols:
        rebuilt = rebuilt.join(
            affected.select(id_col, *extra_cols), id_col
        )
    return untouched.select(df.columns).unionByName(
        rebuilt.select(df.columns)
    )


def update_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "doc_id",
    new_docs: DataFrame | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """Incremental connected-components maintenance (round 10): given
    the EXISTING ``(id, component_id)`` labels and the new verified
    near-dup pairs an ingest round produced, return updated labels for
    the whole corpus WITHOUT re-running propagation over it — the
    incremental-view-maintenance discipline (``cdc.maintain_aggregate``)
    applied to the dedup family's heaviest iterative job.

    Correctness: an existing component's connectivity is preserved
    exactly by its STAR EDGES (member -> component label; the label is
    the min member's id, itself a member), so propagation over
    ``star edges of AFFECTED components ∪ new pairs`` computes the same
    transitive closure as a full rerun restricted to the affected
    region — and untouched components cannot change (no new edge
    touches them). New pairs BRIDGING two old components merge them to
    the smaller label, exactly as a recompute would.

    Cost follows CHURN, never corpus size: one semi-join to find
    touched components, one to pull their members, and label
    propagation over (affected members + new docs) with (their star
    edges + new pairs) — O(affected) per round, O(log diameter) rounds.
    ``new_docs`` adds ids with no pairs (singletons); pair endpoints
    absent from ``labels`` are treated as new automatically."""
    pairs = new_pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    touched_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    touched_comps = (
        labels.join(touched_ids, id_col, "semi")
        .select("component_id")
        .distinct()
    )
    affected = labels.join(touched_comps, "component_id", "semi")
    star_edges = affected.filter(
        F.col(id_col) != F.col("component_id")
    ).select(
        F.col(id_col).alias("id_a"), F.col("component_id").alias("id_b")
    )
    nodes = affected.select(id_col).unionByName(touched_ids)
    if new_docs is not None:
        # guard: an id already labeled AND in an untouched component
        # must not re-enter via new_docs (it would emit twice — once
        # from the untouched pass-through, once recomputed as a
        # singleton with the WRONG label); only genuinely-new ids join
        nodes = nodes.unionByName(
            new_docs.select(id_col).join(labels, id_col, "anti")
        )
    nodes = nodes.distinct()
    recomputed = near_dup_components(
        nodes,
        id_col=id_col,
        max_iterations=max_iterations,
        pairs=star_edges.unionByName(pairs),
    )
    untouched = labels.join(touched_comps, "component_id", "anti").select(
        id_col, "component_id"
    )
    return untouched.unionByName(recomputed.select(id_col, "component_id"))
