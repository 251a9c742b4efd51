"""Product quantization (PQ) ANN — the memory-compression scale path of
similarity search: each vector is encoded as M small code ids (one per
dimension subspace), and queries score candidates from the codes alone
(asymmetric distance computation, ADC) without touching the raw floats.

At 100 TB this is THE story for embedding retrieval: a 64-dim float32
vector is 256 bytes, its PQ code (M=4, 16 codes) is 4 bytes — the whole
corpus index fits in a fraction of the raw data, shuffles carry narrow
code rows, and the scan that scores a query reads only the code column
(column pruning keeps the raw embedding out of the plan entirely).

Determinism contract (the house k-means rules, L2 flavor):
- training set = the ``train_limit`` vectors with smallest
  ``md5(cast(id as string))``, ties by id (the ``kmeans_centroids``
  sampling contract — one ranking shared by every subspace);
- per-subspace seeds = the first ``n_codes`` subvectors of that same
  ranking, cid = 0.. in order;
- assignment = argmin of 6-dp-rounded squared L2 distance, ties to the
  lower cid (squared — sqrt would add a rounding step without changing
  the argmin);
- update = per-dimension mean rounded 6 dp; empty codes drop out;
- exactly ``n_iter`` fixed iterations.
Subspace k-means is L2 on purpose: PQ subvectors are not normalized,
and a cosine objective would divide by subvector norms that can approach
zero.

ADC scores accumulate per-subspace inner products as 6-dp DECIMALs, so
the M-term sum is exact and order-free — the same cross-engine pin as
every score here. The oracle (``pq_topk_sql``) re-derives codebooks,
codes, and ADC scores from scratch as an unrolled DuckDB CTE chain.

Reference analogue: none (the migration tool has no vector surface);
this extends SURVEY §2C similarity beyond IVF blocking. ADC uses the
production shape: the M x n_codes query lookup tables are precomputed
driver-side (Python left folds reproduce the engines' sums — the
``_lloyd_driver`` contract), so the corpus-side plan is pure
``map[code]`` lookups over the code column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DecimalType

from nosql_to_sql_migration_tool_spark.operators.similarity import (
    _round6,
    arrow_vector_matrix,
    as_double,
)

PQ_M = 4  # subspaces
PQ_CODES = 16  # codes per subspace
PQ_ITER = 2
PQ_TRAIN = 256


def _lloyd_l2(
    rows: list[list[float]], n_codes: int, n_iter: int
) -> list[tuple[int, list[float]]]:
    """Driver-side L2 Lloyd's over md5-ranked subvectors (bounded by
    ``train_limit`` — microseconds of Python). Distance folds run
    dimension-by-dimension left-to-right, matching the engines' folds;
    the 6-dp round before argmin absorbs sub-ULP order differences."""
    seeds = rows[:n_codes]
    cents = [(i, list(v)) for i, v in enumerate(seeds)]
    dim = len(rows[0]) if rows else 0
    for _ in range(n_iter):
        members: dict[int, list[list[float]]] = {}
        for v in rows:
            best = None
            for cid, c in cents:
                acc = 0.0
                for x, y in zip(v, c):
                    acc += (x - y) * (x - y)
                key = (_round6(acc), cid)
                if best is None or key < best[0]:
                    best = (key, cid)
            members.setdefault(best[1], []).append(v)
        nxt = []
        for cid in sorted(members):
            vs = members[cid]
            cent = []
            for d in range(dim):
                s = 0.0
                for v in vs:
                    s += v[d]
                cent.append(_round6(s / len(vs)))
            nxt.append((cid, cent))
        cents = nxt
    return cents


def pq_codebooks(
    df: DataFrame,
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    n_iter: int = PQ_ITER,
    train_limit: int = PQ_TRAIN,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[float]]]]:
    """Train the M subspace codebooks on ONE md5-ranked bounded sample
    (a single engine top-K job; the corpus is never iterated). Returns
    ``books[s] = [(cid, center), ...]``."""
    sample = (
        df.select(
            F.col(id_col).alias("__id"),
            as_double(F.col(vec_col)).alias("__v"),
        )
        .withColumn("__m", F.md5(F.col("__id").cast("string")))
        .orderBy("__m", "__id")
        .limit(train_limit)
        .select("__v")
        .collect()
    )
    vecs = [list(r["__v"]) for r in sample]
    if not vecs:
        raise ValueError("pq_codebooks: empty training corpus")
    dim = len(vecs[0])
    if dim % m != 0:
        raise ValueError(
            f"pq_codebooks: dim {dim} not divisible by m={m} subspaces"
            " (trailing dimensions would silently drop out of every code)"
        )
    sub = dim // m
    books = []
    for s in range(m):
        rows = [v[s * sub : (s + 1) * sub] for v in vecs]
        books.append(_lloyd_l2(rows, n_codes, n_iter))
    return books


def _sub_l2(sub: Column, center: list[float]) -> Column:
    """Squared L2 against a literal center: ``aggregate(zip_with(...))``
    left fold. (An unrolled per-dimension arithmetic chain was tried
    and measured 4.5x SLOWER — 16 codes x 16 dims of inline terms blow
    the expression tree past what codegen handles and evaluation falls
    back to interpreted per-node walks; the HOF fold keeps the tree
    small.)"""
    lit = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(sub, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def _pq_dists_arrow_fn(
    vec_col: str,
    id_col: str,
    books: list[list[tuple[int, list[float]]]],
):
    """Batch kernel for the encode distances (guide §4.2, the
    embedding_band_rows precedent): every (subspace, code) squared-L2
    runs as NumPy element ops + ``np.add.accumulate`` — per-element
    ``(x-y)*(x-y)`` is exact IEEE and the accumulate replays the JVM
    ``F.aggregate`` left-fold's addition order bit-for-bit (the fold's
    ``0.0 + v1`` equals ``v1`` exactly because squares are
    non-negative). Emits the RAW distances; rounding, argmin and the
    min-cid tie-break stay JVM-side so no Python rounding semantics
    ever enter the result. Input vectors pass ``arrow_vector_matrix``."""
    sub_len = len(books[0][0][1])
    m = len(books)
    centers = [
        [list(c) for _, c in book] for book in books
    ]  # kernel computes in book order; cids map back JVM-side

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        C = [np.array(b, dtype=np.float64) for b in centers]
        n_out = sum(len(b) for b in centers)
        for b in batches:
            ids = b.column(id_col)
            M = arrow_vector_matrix(
                b.column(vec_col), m * sub_len, "pq_encode"
            )
            out = np.empty((len(M), n_out), dtype=np.float64)
            col = 0
            for s in range(m):
                sub = M[:, s * sub_len : (s + 1) * sub_len]
                for c in C[s]:
                    diff = sub - c
                    out[:, col] = np.add.accumulate(diff * diff, axis=1)[
                        :, -1
                    ]
                    col += 1
            yield pa.record_batch(
                [ids, pa.array(list(out), type=pa.list_(pa.float64()))],
                names=[id_col, "__d"],
            )

    return fn


def pq_encode(
    df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id, codes: array<int>)`` — the compressed index. One pass over
    the corpus; at scale this is the table you persist (4 bytes/vector
    here vs 256 raw).

    r16 (guide §4.2): the M x n_codes squared-L2 distances used to run
    as interpreted ``F.aggregate`` HOF folds (64 per vector at the
    defaults — the HOF-fold class the round's Arrow kernels replace;
    the unrolled-codegen alternative measured 4.5x worse, see
    ``_sub_l2``). They now come from one ``mapInArrow`` pass over
    exactly (id, vec) that replays each fold's IEEE addition order
    bit-for-bit; the 6-dp rounding, argmin and min-cid tie-break stay
    in the JVM expression below, so the selected codes are identical by
    construction."""
    import pyspark.sql.types as T

    dists = df.select(id_col, vec_col).mapInArrow(
        _pq_dists_arrow_fn(vec_col, id_col, books),
        T.StructType(
            [
                df.schema[id_col],
                T.StructField("__d", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    col = 0
    sub_codes = []
    for book in books:
        structs = []
        for cid, _c in book:
            structs.append(
                F.struct(
                    F.round(F.col("__d")[col], 6).alias("d"),
                    F.lit(cid).alias("cid"),
                )
            )
            col += 1
        sub_codes.append(F.array_sort(F.array(*structs))[0]["cid"])
    return dists.select(F.col(id_col), F.array(*sub_codes).alias("codes"))


def pq_topk(
    df: DataFrame,
    query_df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    enc: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k for one query vector: score every encoded vector as
    the sum over subspaces of ``dot(query_sub, center(code))``.

    The per-subspace dot products depend only on the query and the
    codebook, so they are precomputed DRIVER-side into M tiny lookup
    tables (the production ADC shape — one ``.first()`` fetches the
    single query row; Python left-fold dots reproduce the engines'
    sums, the ``_lloyd_driver`` contract): the corpus-side plan is then
    just ``map[code]`` lookups — codes only, no vector arithmetic, no
    join at all. Per-subspace dots round to 6 dp and sum as exact
    DECIMALs, so accumulation order can never flip a rank. Output
    ``(id, approx_score)``, ordered ties-by-id."""
    sub_len = len(books[0][0][1])
    qrow = query_df.select(
        as_double(F.col(vec_col)).alias("__qv")
    ).first()
    if qrow is None:
        raise ValueError("pq_topk: query_df matched no rows")
    qv = list(qrow["__qv"])
    if enc is None:
        enc = pq_encode(df, books, vec_col, id_col)
    total = None
    for s, book in enumerate(books):
        qsub = qv[s * sub_len : (s + 1) * sub_len]
        pairs = []
        for cid, c in book:
            acc = 0.0
            for x, y in zip(qsub, c):
                acc += x * y
            pairs.extend(
                (F.lit(cid), F.lit(_round6(acc)).cast(DecimalType(18, 6)))
            )
        term = F.element_at(
            F.create_map(*pairs), F.col("codes")[s].cast("int")
        )
        total = term if total is None else total + term
    return (
        enc.select(
            F.col(id_col),
            F.round(total.cast("double"), 6).alias("approx_score"),
        )
        .orderBy(F.col("approx_score").desc(), F.col(id_col))
        .limit(k)
    )


def pq_topk_rerank(
    df: DataFrame,
    query_df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    k: int = 10,
    n_candidates: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    enc: DataFrame | None = None,
) -> DataFrame:
    """The production PQ shape: ADC generates ``n_candidates`` from
    codes alone (the cheap pass over the compressed index), then ONLY
    those candidates fetch their raw vectors for an exact inner-product
    re-rank — measured recall@10 of 8/10 at the pinned defaults vs 2/10
    for raw ADC ranks on this corpus. At scale the candidate set is a
    constant (here 100 = 20% of the sf0.01 corpus, a vanishing fraction
    of a real one), so the raw-vector reads stay k-bounded no matter
    how large the corpus grows. Output ``(id, ip)``."""
    cands = pq_topk(
        df, query_df, books, k=n_candidates, vec_col=vec_col,
        id_col=id_col, enc=enc,
    ).select(id_col)
    q = query_df.select(as_double(F.col(vec_col)).alias("__qv"))
    from nosql_to_sql_migration_tool_spark.operators.similarity import dot

    return (
        df.join(cands, id_col, "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(
                dot(as_double(F.col(vec_col)), F.col("__qv")), 6
            ).alias("ip"),
        )
        .orderBy(F.col("ip").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: re-derives sample, per-subspace L2 Lloyd's, final codes,
# and ADC scores from scratch as an unrolled CTE chain (fixed n_iter makes
# the unroll legal) — an independent reconstruction, not a result dump.
# ---------------------------------------------------------------------------


def _l2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i]))"
    )


def _pq_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred: str,
    dim: int,
    m: int,
    n_codes: int,
    n_iter: int,
    train_limit: int,
) -> tuple[list[str], str, str]:
    """Shared CTE chain: returns (ctes, joined score tables, total
    DECIMAL score expression)."""
    import re as _re

    sub = dim // m
    # Rewrite the predicate's id column to the CTE's alias on word
    # boundaries only — a naive .replace() would corrupt predicates
    # where id_col appears as a substring of another identifier.
    pred = _re.sub(rf"\b{_re.escape(id_col)}\b", "id", query_pred)
    ctes = [
        f"__e AS (SELECT {id_col} AS id, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v, "
        f"md5(CAST({id_col} AS VARCHAR)) AS hm FROM {table})",
        "__samp AS (SELECT id, v, rk FROM ("
        "SELECT id, v, row_number() OVER (ORDER BY hm, id) AS rk FROM __e"
        f") WHERE rk <= {train_limit})",
        f"__q AS (SELECT v AS qv FROM __e WHERE {pred})",
    ]
    score_joins = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        p = f"s{s}"
        ctes.append(
            f"{p}_rows AS (SELECT id, rk, list_slice(v, {lo}, {hi}) AS sv "
            "FROM __samp)"
        )
        ctes.append(
            f"{p}_c0 AS (SELECT rk - 1 AS cid, sv AS c FROM {p}_rows "
            f"WHERE rk <= {n_codes})"
        )
        for t in range(1, n_iter + 1):
            prev = f"{p}_c{t - 1}"
            ctes.append(
                f"{p}_a{t} AS (SELECT id, sv, cid FROM ("
                "SELECT r.id, r.sv, c.cid, row_number() OVER ("
                "PARTITION BY r.id ORDER BY "
                f"round({_l2_sql('r.sv', 'c.c')}, 6), c.cid) AS rn "
                f"FROM {p}_rows r, {prev} c) WHERE rn = 1)"
            )
            ctes.append(
                f"{p}_c{t} AS (SELECT cid, list(cd ORDER BY d) AS c FROM ("
                "SELECT cid, d, round(avg(val), 6) AS cd FROM ("
                "SELECT cid, generate_subscripts(sv, 1) AS d, "
                f"unnest(sv) AS val FROM {p}_a{t}) "
                "GROUP BY cid, d) GROUP BY cid)"
            )
        final = f"{p}_c{n_iter}"
        ctes.append(
            f"{p}_code AS (SELECT id, cid FROM ("
            "SELECT e.id, c.cid, row_number() OVER (PARTITION BY e.id "
            "ORDER BY round("
            + _l2_sql(f"list_slice(e.v, {lo}, {hi})", "c.c")
            + f", 6), c.cid) AS rn FROM __e e, {final} c) WHERE rn = 1)"
        )
        ctes.append(
            f"{p}_score AS (SELECT sc.id, CAST(round("
            + _dot_sql(f"list_slice(qv, {lo}, {hi})", "c.c")
            + f", 6) AS DECIMAL(18,6)) AS t FROM {p}_code sc "
            f"JOIN {final} c USING (cid), __q)"
        )
        score_joins.append(f"{p}_score {p}")
    total = " + ".join(f"s{s}.t" for s in range(m))
    joins = score_joins[0] + "".join(
        f" JOIN {sj} USING (id)" for sj in score_joins[1:]
    )
    return ctes, joins, total


def pq_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id = 0",
    dim: int = 64,
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    n_iter: int = PQ_ITER,
    train_limit: int = PQ_TRAIN,
    k: int = 10,
) -> str:
    ctes, joins, total = _pq_ctes(
        table, id_col, vec_col, query_pred, dim, m, n_codes, n_iter,
        train_limit,
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT id AS {id_col}, "
        f"round(CAST({total} AS DOUBLE), 6) AS approx_score\n"
        f"FROM {joins}\n"
        f"ORDER BY approx_score DESC, {id_col} LIMIT {k}"
    )


def pq_topk_rerank_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id = 0",
    dim: int = 64,
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    n_iter: int = PQ_ITER,
    train_limit: int = PQ_TRAIN,
    n_candidates: int = 100,
    k: int = 10,
) -> str:
    """Candidate-generation + exact re-rank twin of
    ``pq_topk_rerank``."""
    ctes, joins, total = _pq_ctes(
        table, id_col, vec_col, query_pred, dim, m, n_codes, n_iter,
        train_limit,
    )
    ctes.append(
        "__cand AS (SELECT id, "
        f"round(CAST({total} AS DOUBLE), 6) AS approx_score "
        f"FROM {joins} "
        f"ORDER BY approx_score DESC, id LIMIT {n_candidates})"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT e.id AS {id_col}, "
        f"round({_dot_sql('e.v', 'qv')}, 6) AS ip\n"
        "FROM __e e JOIN __cand USING (id), __q\n"
        f"ORDER BY ip DESC, {id_col} LIMIT {k}"
    )


def ivfpq_topk(
    df: DataFrame,
    query_df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    cents: list[tuple[int, list[float], float]],
    k: int = 10,
    n_probe: int = 2,
    n_candidates: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    enc: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ (round 15, r16 queue) — the composed FAISS-IVFADC shape
    the family's two halves were built for: the k-means coarse
    quantizer prunes the corpus to ``n_probe`` cells (at scale: a
    partition-pruned scan, the ivf_topk contract), PQ ADC scores ONLY
    those cells' 4-byte codes (no raw vectors touched — the pq_topk
    contract), and only the ``n_candidates`` ADC winners fetch raw
    vectors for the exact re-rank. Per-query cost at 100 TB:
    (n_probe / n_clusters) of the CODE store + a k-bounded raw fetch —
    neither term scans the corpus. ``cents``/``books`` are the
    train-once quantizers (codebooks trained on the md5-ranked
    whole-corpus sample — training is NOT per-probe); pass ``enc`` /
    ``assigned`` to reuse persisted codes and cell assignments (the
    production layout: enc partitioned by the assignment's cell).
    Output ``(id, ip)`` exactly like pq_topk_rerank."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        block_assignments,
        dot,
    )

    spark = df.sparkSession
    if enc is None:
        enc = pq_encode(df, books, vec_col, id_col)
    if assigned is None:
        assigned = block_assignments(df, cents, vec_col, id_col)
    cents_df = spark.createDataFrame(
        [(cid, c, cn) for cid, c, cn in cents],
        "cluster int, centroid array<double>, cn double",
    )
    q = F.broadcast(
        query_df.select(as_double(F.col(vec_col)).alias("__qv")).withColumn(
            "__qn",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("__qv"), F.col("__qv"), lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    probed = F.broadcast(
        cents_df.crossJoin(q)
        .select(
            "cluster",
            F.round(
                dot(F.col("centroid"), F.col("__qv"))
                / (F.col("cn") * F.col("__qn")),
                6,
            ).alias("__cc"),
        )
        .orderBy(F.col("__cc").desc(), "cluster")
        .limit(int(n_probe))
        .select("cluster"),
    )
    probe_ids = assigned.join(probed, "cluster", "left_semi").select(id_col)
    enc_probed = enc.join(probe_ids, id_col, "left_semi")
    cands = pq_topk(
        df, query_df, books, k=int(n_candidates), vec_col=vec_col,
        id_col=id_col, enc=enc_probed,
    ).select(id_col)
    return (
        df.join(cands, id_col, "left_semi")
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(
                dot(as_double(F.col(vec_col)), F.col("__qv")), 6
            ).alias("ip"),
        )
        .orderBy(F.col("ip").desc(), F.col(id_col))
        .limit(int(k))
    )


def ivfpq_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id = 0",
    dim: int = 64,
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    n_iter: int = PQ_ITER,
    train_limit: int = PQ_TRAIN,
    n_clusters: int = 8,
    ivf_iter: int = 3,
    ivf_train_limit: int | None = None,
    n_probe: int = 2,
    n_candidates: int = 100,
    k: int = 10,
) -> str:
    """DuckDB twin of ``ivfpq_topk`` — the coarse quantizer's unrolled
    Lloyd's chain (similarity._kmeans_ctes) concatenated with the PQ
    codebook/encode chain (_pq_ctes); candidate generation is the ADC
    score restricted to the probed cells' ids, then the exact-dot
    re-rank. An independent reconstruction of BOTH quantizers, not a
    result dump."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        _kmeans_assign_sql,
        _kmeans_ctes,
        _kmeans_norm_sql,
        _kmeans_score_sql,
    )

    norm, score = _kmeans_norm_sql, _kmeans_score_sql
    kctes, last = _kmeans_ctes(
        table, id_col, vec_col, n_clusters, ivf_iter, ivf_train_limit
    )
    kctes.insert(
        2,
        f"kq AS (SELECT qv AS kqv, {norm('qv')} AS kqn FROM ("
        f"SELECT list_transform({vec_col}, x -> CAST(x AS DOUBLE)) "
        f"AS qv FROM {table} WHERE {query_pred}))",
    )
    kctes.append(
        f"probed AS (SELECT cid FROM {last}, kq "
        f"ORDER BY {score('centroid', 'cn', 'kqv', 'kqn')} DESC, cid "
        f"LIMIT {n_probe})"
    )
    kctes.append(_kmeans_assign_sql(last, "final"))
    kctes.append(
        "__ivf AS (SELECT f.id FROM final f JOIN probed USING (cid))"
    )
    pctes, joins, total = _pq_ctes(
        table, id_col, vec_col, query_pred, dim, m, n_codes, n_iter,
        train_limit,
    )
    pctes.append(
        "__cand AS (SELECT id, "
        f"round(CAST({total} AS DOUBLE), 6) AS approx_score "
        f"FROM {joins} JOIN __ivf USING (id) "
        f"ORDER BY approx_score DESC, id LIMIT {n_candidates})"
    )
    return (
        "WITH " + ",\n".join(kctes + pctes) + "\n"
        f"SELECT e.id AS {id_col}, "
        f"round({_dot_sql('e.v', 'qv')}, 6) AS ip\n"
        "FROM __e e JOIN __cand USING (id), __q\n"
        f"ORDER BY ip DESC, {id_col} LIMIT {k}"
    )
