"""Similarity search over embedding columns (SURVEY.md §2C / M7b):
brute-force cosine top-k as the exactness baseline, random-hyperplane
LSH bucketing as the scale path for near-duplicate pairs.

Scale contract: the brute-force path is a broadcast of the (tiny) query
side against a linear scan — correct at any corpus size for one query.
Pairwise near-dup NEVER does an all-pairs product: 16 deterministic
sign-random hyperplanes hash every vector to a bit signature, signatures
band into buckets, candidates come from a bucket equi-join, and exact
cosine verifies them. Work is linear in corpus size for bounded bucket
width (same shape as operators/dedup.py's MinHash LSH).

Determinism: hyperplanes are ±1 vectors derived from md5 in *Python* at
plan-build time (both engines receive identical literals); dot products
run in double precision with a left fold on the Spark side; cosines are
rounded to 6 dp before thresholds/ordering so ULP-level summation
differences between engines cannot change results.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

N_PLANES = 16
BAND_CHARS = 8
EMBEDDING_DIM = 64

def blocking_clusters(
    n_rows: int,
    k_min: int = 4,
    k_max: int = 1 << 16,
) -> int:
    """k(n) for cluster blocking: k = round(√n), clamped — the standard
    IVF balance (VERDICT r4 item 4: a FIXED k makes per-block pair
    volume n²/k, ~10,000×/k pair work at a 100× corpus).

    Why √n and not n/const: centroid assignment brute-forces all k
    centroids per row (one literal-centroid fold each), so total work is
    assignment n·k PLUS pair volume n²/k. k ∝ n makes assignment
    quadratic; k ∝ √n minimizes the sum — both terms Θ(n^1.5), the
    classic IVF operating point (a two-level/hierarchical quantizer
    would cut assignment to n·√k and is the documented refinement if
    n^1.5 ever binds). A pure function of the corpus row count so the
    Spark plan and the DuckDB oracle (built from the pinned sf0.01
    count) derive the identical k."""
    import math

    k = round(math.sqrt(max(1, n_rows)))
    return max(k_min, min(k_max, k))


def hyperplanes(
    n_planes: int = N_PLANES, dim: int = EMBEDDING_DIM, seed: str = "lsh"
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign of each coordinate comes from
    one md5 hex digit of (seed, plane, coordinate)."""
    planes = []
    for p in range(n_planes):
        coords = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            coords.append(1.0 if int(h[0], 16) % 2 else -1.0)
        planes.append(coords)
    return planes


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold double dot product (deterministic accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, rounded 6 dp (the cross-engine stability pin).

    Cost note (r16, guide §1.2/§2.3): this inlines THREE interpreted
    HOF folds per evaluated row — ``dot(a,b)`` plus both self-dots —
    and the self-dots are per-VECTOR quantities. Every hot call site
    (pair verifies, broadcast scoring joins) hoists the norms into the
    per-vector projections below the join and combines them with
    ``cosine_pre`` instead (the ``_nearest_cluster`` precedent: "only
    ONE vector fold per centroid runs per row"); this three-fold form
    stays for one-shot/tiny-side uses where hoisting buys nothing."""
    return F.round(dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))), 6)


def _norm(v: Column) -> Column:
    """``sqrt(dot(v, v))`` — the hoistable per-vector factor of
    ``cosine``; same fold, same sqrt, so combining two precomputed
    norms with ``cosine_pre`` is bit-identical to ``cosine``."""
    return F.sqrt(dot(v, v))


def cosine_pre(dab: Column, na: Column, nb: Column) -> Column:
    """``cosine`` from a precomputed pair dot and per-side norms —
    the identical expression tree (round(dot/(na*nb), 6); IEEE multiply
    is commutative, so factor order cannot change a bit)."""
    return F.round(dab / (na * nb), 6)


def cosine_sql(a: str, b: str) -> str:
    return (
        f"round({dot_sql(a, b)} / "
        f"(sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})), 6)"
    )


def cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k: broadcast the single-row query side,
    score every vector, TakeOrderedAndProject on (cos desc, id asc) —
    no shuffle beyond the final top-k."""
    # r16 (guide §1.2): the query self-norm is a constant of the scan —
    # computed once at broadcast build instead of re-folded per corpus
    # row; the corpus row norm folds once per row (it must), leaving 2
    # folds/row instead of 3. Bit-identical (same folds, same values).
    q = F.broadcast(
        query.select(as_double(F.col(vec_col)).alias("__q")).withColumn(
            "__qn", _norm(F.col("__q"))
        )
    )
    scored = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
        .withColumn("__n", _norm(F.col("__v")))
        .crossJoin(q)
        .select(
            F.col(id_col),
            cosine_pre(
                dot(F.col("__v"), F.col("__q")), F.col("__n"), F.col("__qn")
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def centroids_by_label(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """IVF coarse quantizer: one centroid per label as the per-dimension
    mean — explode to (label, dim, value), aggregate, re-assemble. On an
    unlabeled corpus the label column would come from a seeded k-means
    assignment; the bucket/probe machinery below is identical."""
    dims = df.select(
        F.col(label_col),
        F.posexplode(as_double(F.col(vec_col))).alias("__d", "__v"),
    )
    per_dim = dims.groupBy(label_col, "__d").agg(F.avg("__v").alias("__c"))
    return (
        per_dim.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__d", "__c"))
            ).alias("__dc")
        )
        .select(
            label_col,
            F.transform(F.col("__dc"), lambda s: s["__c"]).alias("centroid"),
        )
    )


def ivf_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: score the query against the (tiny) centroid table,
    probe the ``n_probe`` closest buckets, brute-force only inside them.

    At scale the corpus is partitioned/bucketed by the coarse label, so
    the probe is a partition-pruned scan of n_probe/n_buckets of the
    data instead of the full corpus; centroid scoring is a broadcast of
    a bucket-count-sized table. Rounded cosines + label/id tie-breaks
    keep the result deterministic across engines."""
    cents = centroids_by_label(df, vec_col, label_col)
    # r16 (guide §1.2): query self-norm computed once at broadcast
    # build, not per probed corpus row (the cosine_pre hoist); the
    # bucket-count-sized centroid probe keeps the plain three-fold form.
    q = F.broadcast(
        query.select(as_double(F.col(vec_col)).alias("__q")).withColumn(
            "__qn", _norm(F.col("__q"))
        )
    )
    probed = F.broadcast(
        cents.crossJoin(q)
        .select(
            label_col,
            cosine(F.col("centroid"), F.col("__q")).alias("__cc"),
        )
        .orderBy(F.col("__cc").desc(), F.col(label_col))
        .limit(n_probe)
        .select(label_col)
    )
    candidates = df.join(probed, label_col, "left_semi")
    scored = (
        candidates.select(
            F.col(id_col),
            F.col(label_col),
            as_double(F.col(vec_col)).alias("__v"),
        )
        .withColumn("__n", _norm(F.col("__v")))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.col(label_col),
            cosine_pre(
                dot(F.col("__v"), F.col("__q")), F.col("__n"), F.col("__qn")
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Unsupervised IVF: deterministic seeded k-means (Lloyd's) coarse quantizer
# ---------------------------------------------------------------------------


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _vec_sql_lit(vec: list[float]) -> str:
    """Literal double array as SQL text. ``repr`` round-trips Python
    floats exactly and Spark's decimal-string->double parse is
    correctly rounded, so the binary value matches ``F.lit``."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"


def _nearest_cluster(
    vec: str, norm: str, cents: list[tuple[int, list[float], float]]
) -> Column:
    """Argmax-cosine cluster id as ONE projection: the centroids (and
    their norms) are plan literals, so assignment is a per-row array_min
    over (-cosine, cid) structs — no join, no shuffle, no row explosion.
    The row norm is a precomputed column and each centroid norm a
    literal, so only ONE vector fold per centroid runs per row (the
    naive per-centroid cosine() would fold three). Rounded cosine +
    min-cid tie-break keep it engine-deterministic.

    The whole expression is ONE ``F.expr`` SQL string: building it as
    nested Column calls issued ~n_clusters*dim Py4J round-trips for the
    literal coordinates — ~1.2s of pure driver chatter PER Lloyd's
    iteration, rebuilt every round because the centroids change. The
    JVM parses the generated text in milliseconds; ``vec``/``norm`` are
    column NAMES interpolated into the text."""
    structs = ",".join(
        "named_struct('ns', -round("
        f"aggregate(zip_with({vec}, {_vec_sql_lit(c)}, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v) / ({norm} * {float(cn)!r}D), 6), "
        f"'cid', {cid})"
        for cid, c, cn in cents
    )
    return F.expr(f"array_min(array({structs}))['cid']")


def _nearest_clusters(
    vec: str,
    norm: str,
    cents: list[tuple[int, list[float], float]],
    n_probe: int,
) -> Column:
    """Top-``n_probe`` cluster ids per row, still ONE literal-centroid
    projection: sort the (-cosine, cid) structs (same rounded-score +
    min-cid ordering as ``_nearest_cluster``), slice the prefix. Used by
    multi-probe blocking; ``n_probe=1`` degenerates to the argmax."""
    structs = ",".join(
        "named_struct('ns', -round("
        f"aggregate(zip_with({vec}, {_vec_sql_lit(c)}, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v) / ({norm} * {float(cn)!r}D), 6), "
        f"'cid', {cid})"
        for cid, c, cn in cents
    )
    return F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {n_probe}), "
        "s -> s.cid)"
    )


def _round6(x: float) -> float:
    """Spark's ROUND(x, 6) exactly: HALF_UP on the exact decimal
    expansion of the double (java BigDecimal semantics). Python's
    built-in round() is banker's and would diverge on midpoints."""
    import decimal

    return float(
        decimal.Decimal(x).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _lloyd_driver(
    rows: list[tuple[list[float], float]],
    n_clusters: int,
    n_iter: int,
) -> list[tuple[int, list[float], float]]:
    """Driver-side Lloyd's over an already-md5-ranked bounded sample —
    bit-compatible with the engine-side loop below (and with the
    unrolled DuckDB CTE chain the oracles replay):

    - seeds = the first ``n_clusters`` sample rows (the md5 ranking),
      raw vectors + ENGINE-computed norms;
    - assignment = argmax of 6-dp-rounded cosine, ties to lower cid;
      dot products accumulate dimension-by-dimension (the same left
      fold as ``dot``/``dot_sql`` — numpy's pairwise summation would
      NOT reproduce the engines' sums);
    - update = per-dimension mean rounded 6 dp (member sums run in
      sample order; the 6-dp round absorbs sub-ULP order differences
      exactly as it does between Spark and DuckDB);
    - empty clusters drop out, exactly like the engine loop's groupBy.

    Cost: O(train_limit * k * dim) float ops in-process — microseconds
    per round where the interpreted-HOF engine loop paid seconds of
    plan-compile + interpreted evaluation per iteration."""
    import math

    seeds = rows[:n_clusters]
    cents = [(i, list(v), n) for i, (v, n) in enumerate(seeds)]
    dim = len(rows[0][0]) if rows else 0
    for _ in range(n_iter):
        members: dict[int, list[list[float]]] = {}
        for v, n in rows:
            best = None
            for cid, c, cn in cents:
                acc = 0.0
                for x, y in zip(v, c):
                    acc += x * y
                score = (-_round6(acc / (n * cn)), cid)
                if best is None or score < best[0]:
                    best = (score, cid)
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
            acc = 0.0
            for x in cent:
                acc += x * x
            nxt.append((cid, cent, math.sqrt(acc)))
        cents = nxt
    return cents


def two_level_quantizer(
    cents: list[tuple[int, list[float], float]],
    n_coarse: int | None = None,
    n_iter: int = 1,
) -> tuple[list[tuple[int, list[float], float]], dict[int, int]]:
    """Coarse quantizer OVER the fine centroids + each fine centroid's
    coarse parent: ``(coarse_cents, {fine_cid: coarse_cid})``.

    The hierarchical refinement documented in SCALE.md: flat assignment
    brute-forces all k fine centroids per row; with a √k coarse level a
    row resolves its coarse cell (√k folds) then searches only that
    cell's fine centroids (~√k more) — ~2√k folds instead of k. Pure
    driver-side: the fine centroid list is already metadata, so coarse
    training is microseconds and fully deterministic (fine centroids
    ranked by md5(cid) — the same sampling order contract as row-level
    training; assignment/update arithmetic identical to
    ``_lloyd_driver``)."""
    import hashlib as _hashlib

    k = len(cents)
    n_coarse = n_coarse if n_coarse is not None else max(2, round(k**0.5))
    ordered = sorted(
        cents,
        key=lambda c: (
            _hashlib.md5(str(c[0]).encode()).hexdigest(),
            c[0],
        ),
    )
    coarse = _lloyd_driver([(c[1], c[2]) for c in ordered], n_coarse, n_iter)
    parents: dict[int, int] = {}
    for cid, v, n in cents:
        best = None
        for ccid, cv, cn in coarse:
            acc = 0.0
            for x, y in zip(v, cv):
                acc += x * y
            score = (-_round6(acc / (n * cn)), ccid)
            if best is None or score < best[0]:
                best = (score, ccid)
        parents[cid] = best[1]
    return coarse, parents


def kmeans_centroids(
    df: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_limit: int | None = None,
) -> list[tuple[int, list[float], float]]:
    """Deterministic Lloyd's k-means over an UNLABELED corpus — the real
    coarse quantizer for IVF (``centroids_by_label`` needs labels a
    training corpus rarely has). Returns ``(cid, centroid, norm)``.

    Determinism contract (mirrored verbatim by ``kmeans_ivf_sql``):
    - training set = the ``train_limit`` vectors with smallest
      ``md5(cast(id as string))`` (ties by id) — a deterministic uniform
      sample; ``None`` trains on the full corpus;
    - seeds = the first ``n_clusters`` of that same md5 ranking,
      cid = 0.. in that order;
    - assignment = argmax of 6-dp-rounded cosine, ties to the lower cid;
    - update = per-dimension mean (over the training set) rounded to 6 dp;
    - exactly ``n_iter`` fixed iterations (no data-dependent stopping).
    Every norm is computed by the ENGINE's left-fold dot (never Python
    arithmetic), so the collected literals are bit-identical to what the
    oracle engine derives on its side.

    Scale: quantizer training is the 100 TB pitfall — full-corpus
    Lloyd's costs ~2*n_iter extra corpus passes before any query work.
    With ``train_limit`` set, the md5 ranking is one top-K
    (TakeOrderedAndProject: per-partition top-K, driver merge of
    K rows — bounded by construction), every iteration runs on K rows,
    and the full corpus is only ever assigned ONCE by the caller via
    the literal-centroid projection. The only driver traffic besides
    the K-row sample is the (n_clusters x dim) centroid matrix per
    round. Returns plain Python centroids ready to embed as broadcast
    literals."""
    ranked = (
        df.select(
            F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
        )
        .withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
        .withColumn("__m", F.md5(F.col("__id").cast("string")))
    )
    if train_limit is not None:
        # Bounded sample: ONE engine job fetches the ordered sample
        # (row norms engine-computed), then Lloyd's iterates driver-side
        # — same determinism contract, none of the per-round Spark plan
        # compile + interpreted-HOF assignment cost (measured ~8s → <1s
        # for k=50/train=400 at sf0.1). The sample is metadata-sized by
        # construction (train_limit rows), so this is the 100 TB shape
        # too: training traffic is the sample, not the corpus.
        sample = (
            ranked.orderBy("__m", "__id")
            .limit(train_limit)
            .select("__v", "__n")
            .collect()
        )
        return _lloyd_driver(
            [(list(r["__v"]), r["__n"]) for r in sample], n_clusters, n_iter
        )
    train = ranked.cache()  # read by seeds + every Lloyd's round
    try:
        seeds = (
            train.select("__v", "__n", "__m", "__id")
            .orderBy("__m", "__id")
            .limit(n_clusters)
            .collect()
        )
        cents = [(i, list(r["__v"]), r["__n"]) for i, r in enumerate(seeds)]
        for _ in range(n_iter):
            assigned = train.select(
                "__v",
                _nearest_cluster("__v", "__n", cents).alias("__cid"),
            )
            per_dim = (
                assigned.select(
                    "__cid", F.posexplode("__v").alias("__d", "__val")
                )
                .groupBy("__cid", "__d")
                .agg(F.round(F.avg("__val"), 6).alias("__c"))
            )
            rows = (
                per_dim.groupBy("__cid")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("__d", "__c"))
                    ).alias("__dc")
                )
                .select(
                    "__cid",
                    F.transform(F.col("__dc"), lambda s: s["__c"]).alias(
                        "__cent"
                    ),
                )
                .select(
                    "__cid",
                    "__cent",
                    F.sqrt(dot(F.col("__cent"), F.col("__cent"))).alias(
                        "__cn"
                    ),
                )
                .collect()
            )
            cents = sorted(
                (r["__cid"], list(r["__cent"]), r["__cn"]) for r in rows
            )
        return cents
    finally:
        train.unpersist()


def kmeans_ivf_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    n_clusters: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_limit: int | None = None,
    cents: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """IVF ANN with LEARNED buckets: k-means coarse quantizer (trained
    on a bounded deterministic sample when ``train_limit`` is set —
    the 100 TB shape), probe the ``n_probe`` centroids closest to the
    query, brute-force only inside those buckets. Output
    ``(id, cluster, cos_sim)`` top-k.

    At scale the corpus is written partitioned by ``cluster`` so the
    probe is a partition-pruned scan of n_probe/n_clusters of the data;
    here the assignment is the same literal-centroid projection and the
    probe is a broadcast semi-join. ``n_probe = n_clusters`` degrades to
    exact brute force (the recall pytest pins this). ``cents`` reuses a
    pre-trained quantizer (train once, probe many)."""
    if cents is None:
        cents = kmeans_centroids(
            df, n_clusters, n_iter, vec_col, id_col, train_limit
        )
    spark = df.sparkSession
    cents_df = spark.createDataFrame(
        [(cid, c, cn) for cid, c, cn in cents],
        "cluster int, centroid array<double>, cn double",
    )
    q = F.broadcast(
        query.select(as_double(F.col(vec_col)).alias("__q")).withColumn(
            "__qn", F.sqrt(dot(F.col("__q"), F.col("__q")))
        )
    )
    probed = F.broadcast(
        cents_df.crossJoin(q)
        .select(
            "cluster",
            F.round(
                dot(F.col("centroid"), F.col("__q"))
                / (F.col("cn") * F.col("__qn")),
                6,
            ).alias("__cc"),
        )
        .orderBy(F.col("__cc").desc(), "cluster")
        .limit(n_probe)
        .select("cluster")
    )
    vecs = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    assigned = vecs.select(
        F.col(id_col),
        "__v",
        "__n",
        _nearest_cluster("__v", "__n", cents).alias("cluster"),
    )
    candidates = assigned.join(probed, "cluster", "left_semi")
    scored = candidates.crossJoin(q).select(
        F.col(id_col),
        F.col("cluster"),
        F.round(
            dot(F.col("__v"), F.col("__q")) / (F.col("__n") * F.col("__qn")), 6
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def _kmeans_norm_sql(expr: str) -> str:
    return f"sqrt({dot_sql(expr, expr)})"


def _kmeans_score_sql(v: str, vn: str, c: str, cn: str) -> str:
    return f"round({dot_sql(v, c)} / ({vn} * {cn}), 6)"


def _kmeans_assign_sql(
    prev: str, name: str, source: str = "vecs", rn_bound: int = 1
) -> str:
    score = _kmeans_score_sql(
        "vecs.v", "vecs.vn", prev + ".centroid", prev + ".cn"
    )
    return (
        f"{name} AS (SELECT id, v, vn, cid FROM ("
        f"SELECT vecs.id, vecs.v, vecs.vn, {prev}.cid, "
        f"row_number() OVER (PARTITION BY vecs.id ORDER BY "
        f"{score}"
        f" DESC, {prev}.cid) AS rn FROM {source} AS vecs CROSS JOIN {prev}) "
        f"WHERE rn <= {rn_bound})"
    )


def _kmeans_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    n_clusters: int,
    n_iter: int,
    train_limit: int | None = None,
) -> tuple[list[str], str]:
    """Shared CTE chain for the unrolled seeded Lloyd's reconstruction:
    returns (ctes, name-of-final-centroid-CTE). The terminal ``final``
    assignment (over the FULL ``vecs``) is appended by each caller.
    ``train_limit`` bounds the Lloyd's iterations to the same md5-ranked
    sample the Spark quantizer trains on (seeds are its prefix)."""
    norm = _kmeans_norm_sql
    ctes = [
        f"vecs0 AS (SELECT {id_col} AS id, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v "
        f"FROM {table})",
        f"vecs AS (SELECT id, v, {norm('v')} AS vn FROM vecs0)",
        "ranked AS (SELECT id, v, vn, md5(CAST(id AS VARCHAR)) AS m "
        "FROM vecs)",
    ]
    train = "ranked"
    if train_limit is not None:
        ctes.append(
            f"train AS (SELECT * FROM ranked ORDER BY m, id "
            f"LIMIT {train_limit})"
        )
        train = "train"
    ctes += [
        f"seeds AS (SELECT id, v, vn, m FROM {train} "
        f"ORDER BY m, id LIMIT {n_clusters})",
        "cents0 AS (SELECT CAST(row_number() OVER (ORDER BY m, id) - 1 "
        "AS INT) AS cid, v AS centroid, vn AS cn FROM seeds)",
    ]
    for i in range(n_iter):
        ctes.append(_kmeans_assign_sql(f"cents{i}", f"assign{i}", train))
        ctes.append(
            f"cents{i + 1} AS (SELECT cid, centroid, {norm('centroid')} AS cn "
            f"FROM (SELECT cid, list(c ORDER BY d) AS centroid "
            f"FROM (SELECT cid, d, round(avg(val), 6) AS c FROM ("
            f"SELECT cid, generate_subscripts(v, 1) AS d, unnest(v) AS val "
            f"FROM assign{i}) GROUP BY cid, d) GROUP BY cid))"
        )
    return ctes, f"cents{n_iter}"


def kmeans_ivf_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id = 0",
    n_clusters: int = 8,
    n_iter: int = 3,
    n_probe: int = 2,
    k: int = 10,
    train_limit: int | None = None,
) -> str:
    """DuckDB oracle for ``kmeans_ivf_topk``: the SAME seeded Lloyd's
    iterations unrolled as a CTE chain (fixed n_iter makes that legal) —
    an independent reconstruction, not a result dump. Norms are
    precomputed per vector/centroid exactly as the Spark side does, so
    the rounded scores divide bit-identical factors."""
    norm, score = _kmeans_norm_sql, _kmeans_score_sql
    ctes, last = _kmeans_ctes(
        table, id_col, vec_col, n_clusters, n_iter, train_limit
    )
    ctes.insert(
        2,
        f"q AS (SELECT qv, {norm('qv')} AS qn FROM ("
        f"SELECT list_transform({vec_col}, x -> CAST(x AS DOUBLE)) "
        f"AS qv FROM {table} WHERE {query_pred}))",
    )
    ctes.append(
        f"probed AS (SELECT cid FROM {last}, q "
        f"ORDER BY {score('centroid', 'cn', 'qv', 'qn')} DESC, cid "
        f"LIMIT {n_probe})"
    )
    ctes.append(_kmeans_assign_sql(last, "final"))
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT f.id AS {id_col}, f.cid AS cluster, "
        f"{score('f.v', 'f.vn', 'qv', 'qn')} AS cos_sim "
        "FROM final f JOIN probed USING (cid), q "
        f"ORDER BY cos_sim DESC, {id_col} LIMIT {k}"
    )


def block_assignments(
    df: DataFrame,
    cents: list[tuple[int, list[float], float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id, __v, __n, cluster)`` — each row's nearest-centroid block.
    The per-row centroid fold runs interpreted (Catalyst HOF), so this
    is the blocking family's hot projection; callers that run several
    blocking queries over one corpus should build it once and persist
    the (narrow: id + vector + norm + int) result."""
    vecs = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    return vecs.select(
        F.col(id_col),
        "__v",
        "__n",
        _nearest_cluster("__v", "__n", cents).alias("cluster"),
    )


def block_assignments_multiprobe(
    df: DataFrame,
    cents: list[tuple[int, list[float], float]],
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe variant: one row per (vector, probed block) — the
    fold runs once per row, then explodes to ``n_probe`` rows."""
    vecs = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    return vecs.select(
        F.col(id_col),
        "__v",
        "__n",
        F.explode(
            _nearest_clusters("__v", "__n", cents, n_probe)
        ).alias("cluster"),
    )


def block_assignments_two_level(
    df: DataFrame,
    cents: list[tuple[int, list[float], float]],
    n_coarse: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hierarchical variant: coarse cell first (√k folds), then the
    cell-local fine argmax via a CASE on the precomputed coarse column
    (Catalyst keeps the projections separate — a multiply-referenced
    non-cheap expression is not collapsed)."""
    coarse, parents = two_level_quantizer(cents, n_coarse)
    groups: dict[int, list[tuple[int, list[float], float]]] = {}
    for cid, c, cn in cents:
        groups.setdefault(parents[cid], []).append((cid, c, cn))
    vecs = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    with_cc = vecs.withColumn(
        "__cc", _nearest_cluster("__v", "__n", coarse)
    )
    fine = None
    for ccid in sorted(groups):
        branch = _nearest_cluster("__v", "__n", groups[ccid])
        fine = (
            F.when(F.col("__cc") == ccid, branch)
            if fine is None
            else fine.when(F.col("__cc") == ccid, branch)
        )
    return with_cc.select(
        F.col(id_col), "__v", "__n", fine.alias("cluster")
    )


def _blocked_pairs(
    assigned: DataFrame,
    id_col: str,
    threshold: float,
    with_cluster: bool,
    dedup: bool,
) -> DataFrame:
    """Shared tail of the blocking family: aliased self-join on the
    block id (one shared subplan — measured ~25% faster than two
    re-projected frames), exact 6-dp-rounded cosine, threshold."""
    a, b = assigned.alias("a"), assigned.alias("b")
    cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    ]
    if with_cluster:
        cols.append(F.col("a.cluster").alias("cluster"))
    cols.append(
        F.round(
            dot(F.col("a.__v"), F.col("b.__v"))
            / (F.col("a.__n") * F.col("b.__n")),
            6,
        ).alias("cos_sim")
    )
    out = (
        a.join(b, F.col("a.cluster") == F.col("b.cluster"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*cols)
        .where(F.col("cos_sim") >= threshold)
    )
    return out.distinct() if dedup else out


def semantic_near_dup(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_limit: int | None = None,
    cents: list[tuple[int, list[float], float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs via CLUSTER BLOCKING: k-means
    assigns every vector a block, pairwise cosine runs only WITHIN a
    block, pairs at/above ``threshold`` survive. Output
    ``(id_a, id_b, cluster, cos_sim)`` with ``id_a < id_b``.

    This is the embedding-space sibling of MinHash banding: the
    quadratic all-pairs compare collapses to sum-over-blocks of
    |block|^2 — with balanced clusters that is n^2/k, and at 100 TB the
    block id is a shuffle/partition key so each block's self-join is
    node-local. The known tradeoff (documented, inherent to single-
    assignment blocking): a pair straddling two clusters is missed;
    raise recall by unioning pairs from a second-nearest-cluster
    assignment exactly like multi-probe IVF. Scoring reuses the
    precomputed row norms, and the 6-dp round happens BEFORE the
    threshold compare, so both engines cut the same boundary.

    Both self-join sides re-evaluate the assignment projection rather
    than caching it: the projection is a per-row literal-centroid map,
    and an uncollected ``.cache()`` on a returned DataFrame would pin
    executor storage for the session lifetime — recompute beats a
    storage leak in a long-lived session. The self-join is the ALIASED
    form (one shared subplan, ``a``/``b`` qualifiers) rather than two
    re-projected frames — measured ~25% faster at sf0.1 (the shared
    subplan canonicalizes for reuse; the re-projection defeated it).

    Pass ``cents`` (a ``kmeans_centroids`` result) to reuse an already-
    trained quantizer, and/or ``assigned`` (a possibly-persisted
    ``block_assignments`` frame) to reuse the assignment projection too
    — the production shape: train once, assign once, block many."""
    if assigned is None:
        if cents is None:
            cents = kmeans_centroids(
                df, n_clusters, n_iter, vec_col, id_col, train_limit
            )
        assigned = block_assignments(df, cents, vec_col, id_col)
    return _blocked_pairs(
        assigned, id_col, threshold, with_cluster=True, dedup=False
    )


def semantic_near_dup_multiprobe(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 8,
    n_iter: int = 3,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_limit: int | None = None,
    cents: list[tuple[int, list[float], float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe cluster blocking — the documented recall fix for
    single-assignment ``semantic_near_dup``: every vector joins its
    ``n_probe`` nearest blocks (exactly like multi-probe IVF), so a pair
    straddling two clusters is caught whenever EITHER side's probe set
    reaches the other's primary block. Candidate volume grows
    ~n_probe²/k vs n²/k for single assignment — still linear per block,
    never all-pairs. Output ``(id_a, id_b, cos_sim)`` distinct (a pair
    sharing two probed blocks would otherwise appear twice; the block id
    is therefore not part of the output contract). ``cents`` reuses a
    pre-trained quantizer as in ``semantic_near_dup``; ``assigned``
    reuses a ``block_assignments_multiprobe`` frame."""
    if assigned is None:
        if cents is None:
            cents = kmeans_centroids(
                df, n_clusters, n_iter, vec_col, id_col, train_limit
            )
        assigned = block_assignments_multiprobe(
            df, cents, n_probe, vec_col, id_col
        )
    return _blocked_pairs(
        assigned, id_col, threshold, with_cluster=False, dedup=True
    )


def semantic_near_dup_two_level(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_limit: int | None = None,
    cents: list[tuple[int, list[float], float]] | None = None,
    n_coarse: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Cluster-blocked near-dup pairs with HIERARCHICAL (two-level)
    assignment — the n^1.25 refinement SCALE.md documents for the flat
    √n blocking: a row first resolves its COARSE cell (√k centroid
    folds), then searches only that cell's fine centroids (~√k more)
    instead of brute-forcing all k. Same output contract as
    ``semantic_near_dup``: ``(id_a, id_b, cluster, cos_sim)``.

    The known tradeoff (inherent to hierarchical IVF, documented): a row
    whose true nearest fine centroid lives under a DIFFERENT coarse cell
    is assigned to its cell-local best, so block membership can differ
    from flat assignment — near-dup recall within a block is unaffected
    (pairs are verified by exact cosine), only pair discovery across
    blocks shifts slightly. The coarse argmax is computed in its own
    projection and the per-cell fine argmax is a CASE on that column, so
    only the matched cell's fold ladder evaluates per row (Catalyst
    keeps the projections separate — a multiply-referenced non-cheap
    expression is not collapsed)."""
    if assigned is None:
        if cents is None:
            cents = kmeans_centroids(
                df, n_clusters, n_iter, vec_col, id_col, train_limit
            )
        assigned = block_assignments_two_level(
            df, cents, n_coarse, vec_col, id_col
        )
    return _blocked_pairs(
        assigned, id_col, threshold, with_cluster=True, dedup=False
    )


def semantic_near_dup_two_level_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 8,
    n_iter: int = 3,
    train_limit: int | None = None,
    n_coarse: int | None = None,
    coarse_iter: int = 1,
) -> str:
    """DuckDB twin of ``semantic_near_dup_two_level`` — an independent
    reconstruction: the fine-centroid chain, then coarse Lloyd's OVER
    the fine centroids (md5(cid)-ranked seeds, same unrolled rounds),
    each fine centroid's coarse parent, per-row coarse cell, and the
    cell-local fine argmax."""
    n_coarse = (
        n_coarse if n_coarse is not None else max(2, round(n_clusters**0.5))
    )
    norm, score = _kmeans_norm_sql, _kmeans_score_sql
    ctes, last = _kmeans_ctes(
        table, id_col, vec_col, n_clusters, n_iter, train_limit
    )
    ctes += [
        f"csrc AS (SELECT cid AS id, centroid AS v, cn AS vn FROM {last})",
        "cranked AS (SELECT id, v, vn, md5(CAST(id AS VARCHAR)) AS m "
        "FROM csrc)",
        f"cseeds AS (SELECT id, v, vn, m FROM cranked ORDER BY m, id "
        f"LIMIT {n_coarse})",
        "ccents0 AS (SELECT CAST(row_number() OVER (ORDER BY m, id) - 1 "
        "AS INT) AS cid, v AS centroid, vn AS cn FROM cseeds)",
    ]
    for i in range(coarse_iter):
        ctes.append(
            _kmeans_assign_sql(f"ccents{i}", f"cassign{i}", "cranked")
        )
        ctes.append(
            f"ccents{i + 1} AS (SELECT cid, centroid, "
            f"{norm('centroid')} AS cn "
            f"FROM (SELECT cid, list(c ORDER BY d) AS centroid "
            f"FROM (SELECT cid, d, round(avg(val), 6) AS c FROM ("
            f"SELECT cid, generate_subscripts(v, 1) AS d, unnest(v) AS val "
            f"FROM cassign{i}) GROUP BY cid, d) GROUP BY cid))"
        )
    clast = f"ccents{coarse_iter}"
    cscore = score("vecs.v", "vecs.vn", f"{clast}.centroid", f"{clast}.cn")
    ctes.append(
        f"parents AS (SELECT id AS fcid, cid AS ccid FROM ("
        f"SELECT vecs.id, {clast}.cid, row_number() OVER ("
        f"PARTITION BY vecs.id ORDER BY {cscore} DESC, {clast}.cid) AS rn "
        f"FROM csrc AS vecs CROSS JOIN {clast}) WHERE rn = 1)"
    )
    ctes.append(
        f"rowc AS (SELECT id, cid AS ccid FROM ("
        f"SELECT vecs.id, {clast}.cid, row_number() OVER ("
        f"PARTITION BY vecs.id ORDER BY {cscore} DESC, {clast}.cid) AS rn "
        f"FROM vecs CROSS JOIN {clast}) WHERE rn = 1)"
    )
    fscore = score("vecs.v", "vecs.vn", "f.centroid", "f.cn")
    ctes.append(
        "final AS (SELECT id, v, vn, cid FROM ("
        "SELECT vecs.id, vecs.v, vecs.vn, p.fcid AS cid, "
        "row_number() OVER (PARTITION BY vecs.id ORDER BY "
        f"{fscore} DESC, p.fcid) AS rn "
        "FROM vecs JOIN rowc ON vecs.id = rowc.id "
        "JOIN parents p ON p.ccid = rowc.ccid "
        f"JOIN {last} f ON f.cid = p.fcid) WHERE rn = 1)"
    )
    pscore = score("a.v", "a.vn", "b.v", "b.vn")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT a.id AS id_a, b.id AS id_b, a.cid AS cluster, "
        f"{pscore} AS cos_sim "
        "FROM final a JOIN final b ON a.cid = b.cid AND a.id < b.id "
        f"WHERE {pscore} >= {threshold}"
    )


def semantic_near_dup_multiprobe_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 8,
    n_iter: int = 3,
    n_probe: int = 2,
    train_limit: int | None = None,
) -> str:
    """DuckDB twin of ``semantic_near_dup_multiprobe`` — same unrolled
    k-means chain, final assignment keeps rank ≤ n_probe clusters per
    vector, DISTINCT pairs from the shared-block self-join."""
    score = _kmeans_score_sql("a.v", "a.vn", "b.v", "b.vn")
    ctes, last = _kmeans_ctes(
        table, id_col, vec_col, n_clusters, n_iter, train_limit
    )
    ctes.append(_kmeans_assign_sql(last, "final", rn_bound=n_probe))
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT DISTINCT a.id AS id_a, b.id AS id_b, {score} AS cos_sim "
        "FROM final a JOIN final b ON a.cid = b.cid AND a.id < b.id "
        f"WHERE {score} >= {threshold}"
    )


def semantic_near_dup_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 8,
    n_iter: int = 3,
    train_limit: int | None = None,
) -> str:
    """DuckDB twin of ``semantic_near_dup`` — same unrolled k-means CTE
    chain, then a within-block self-join on the final assignment."""
    score = _kmeans_score_sql("a.v", "a.vn", "b.v", "b.vn")
    ctes, last = _kmeans_ctes(
        table, id_col, vec_col, n_clusters, n_iter, train_limit
    )
    ctes.append(_kmeans_assign_sql(last, "final"))
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT a.id AS id_a, b.id AS id_b, a.cid AS cluster, "
        f"{score} AS cos_sim "
        "FROM final a JOIN final b ON a.cid = b.cid AND a.id < b.id "
        f"WHERE {score} >= {threshold}"
    )


def lsh_bits_sql(vec_expr: str, planes: list[list[float]] | None = None) -> str:
    planes = planes if planes is not None else hyperplanes()
    bits = []
    for p in planes:
        lit = "[" + ", ".join(str(c) for c in p) + "]"
        bits.append(
            f"(CASE WHEN {dot_sql(vec_expr, lit)} >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    band_chars: int = BAND_CHARS,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """LSH-bucketed near-duplicate pairs ``(id_a, id_b, cos_sim)``:
    same (band index, band bits) bucket, id_a < id_b, exact cosine >=
    threshold. The join is keyed by bucket — linear, not quadratic.

    Shuffle-width discipline: the band explode and bucket join carry
    ONLY (id, band) — the 64-double vectors would otherwise ride through
    the explode and double the candidate shuffle's width. Vectors rejoin
    once per distinct candidate pair for the exact-cosine verify (the
    same narrow-candidates shape as dedup.near_dup_pairs).
    ``max_bucket_width`` applies the same salt-cell cap as the MinHash/
    SimHash band joins (``dedup.with_salt_cells``) — pass it on
    low-entropy embedding sets where an 8-bit band value degenerates
    (the registered query keeps the uncapped default because its oracle
    predates the cap; same recall note as SCALE.md §Dedup)."""
    from nosql_to_sql_migration_tool_spark.operators.dedup import (
        with_salt_cells,
    )

    # r16 (guide §4.2): the bit signature runs in the proven
    # ``embedding_band_rows`` Arrow kernel instead of 16 interpreted
    # ``F.aggregate`` HOF dot-folds per vector — the bucket self-join
    # derives the signature subtree on BOTH sides, so the interpreted
    # fold used to run twice per vector (A/B: 2.6 -> 1.1 s on the
    # memoized pair build, hash-identical; the kernel replays the
    # fold's IEEE addition order bit-for-bit, OPTIMIZATION_r16.md
    # "Embedding family").
    bands = embedding_band_rows(
        df, vec_col=vec_col, id_col=id_col, band_chars=band_chars
    ).select(id_col, "band_idx", "band_val")
    keys = ["band_idx", "band_val"]
    if max_bucket_width is not None:
        bands = with_salt_cells(bands, keys, id_col, max_bucket_width)
        keys = keys + ["__cell"]
    a = bands.select(F.col(id_col).alias("id_a"), *keys)
    b = bands.select(F.col(id_col).alias("id_b"), *keys)
    cands = (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # per-vector norms hoisted below the pair join (the cosine_pre
    # discipline): 1 fold per pair + 1 per vector instead of 3 per pair
    base = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    va = base.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = base.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_pre(
                dot(F.col("__va"), F.col("__vb")),
                F.col("__na"),
                F.col("__nb"),
            ).alias("cos_sim"),
        )
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_salts: int = 16,
) -> DataFrame:
    """Batched exact k-NN join: top-k corpus neighbors for EVERY query
    vector (cosine, ties broken on corpus id) — the many-query sibling
    of ``cosine_topk``.

    Scale shape: the query side broadcasts (a query batch is small by
    construction); scoring is a broadcast nested-loop over the corpus —
    linear, never a corpus x corpus product. The grouped top-k runs in
    TWO phases so no window partition ever holds the whole corpus: a
    salted local top-k (partition key (query, crc32(id) % n_salts) —
    bounded at |corpus|/n_salts rows) keeps only n_salts*k survivors
    per query, then the final top-k ranks those few rows. Exact for any
    salt count: the true global top-k survives every salt bucket's
    local cut. Raise ``n_salts`` with corpus size to keep buckets in
    executor memory."""
    # r16 (guide §1.2): norms hoisted out of the |corpus| x |batch|
    # scoring product — each query's self-norm folds once at broadcast
    # build, each corpus row's once below the join (the cosine_pre
    # discipline), leaving one dot fold per scored pair instead of 3.
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            as_double(F.col(vec_col)).alias("__qv"),
        ).withColumn("__qn", _norm(F.col("__qv")))
    )
    scored = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
        .withColumn("__n", _norm(F.col("__v")))
        .crossJoin(q)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            cosine_pre(
                dot(F.col("__v"), F.col("__qv")), F.col("__n"), F.col("__qn")
            ).alias("cos_sim"),
            (F.crc32(F.col(id_col).cast("string")) % n_salts).alias("__salt"),
        )
    )
    local_w = Window.partitionBy(query_id_col, "__salt").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    survivors = (
        scored.withColumn("__r", F.row_number().over(local_w))
        .where(F.col("__r") <= k)
        .drop("__r", "__salt")
    )
    final_w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(final_w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cos_sim")
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact per-label centroid ``(label, centroid: array<double>)``.

    Element-wise means are computed by position-exploding the vectors
    and summing 6-dp-rounded DECIMAL coordinates — a raw double sum
    would make every centroid coordinate accumulation-order-dependent
    (non-deterministic across partitionings AND across engines). One
    combinable shuffle on (label, dim): dim is a fixed small constant,
    so shuffle volume is n_vectors * dim narrow rows; reassembly sorts
    (dim, value) structs per label — labels * dim rows, metadata-sized.
    """
    from pyspark.sql.types import DecimalType

    ex = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(as_double(F.col(vec_col))).alias("__d", "__v"),
    )
    cent = ex.groupBy("label", "__d").agg(
        F.round(
            F.sum(F.round(F.col("__v"), 6).cast(DecimalType(18, 6))).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("__c")
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__d", "__c"))),
            lambda s: s["__c"],
        ).alias("centroid")
    )


def label_centroid_outliers(
    emb: DataFrame,
    k: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The k vectors per label FARTHEST from their own label's centroid
    (lowest cosine, ties by id) — the mislabeled/outlier mining pass of
    embedding-set curation. Output ``(id, label, cos_centroid)``.

    Plan: centroids are labels-many rows — broadcast joined back, so
    the corpus is scanned once with a codegen cosine fold per row; the
    per-label top-k is a window over the label partition (bounded by
    the label's row count; for a degenerate single-label corpus use the
    salted two-phase top-k of ``knn_join``)."""
    cent = label_centroids(emb, label_col, vec_col)
    # r16 (guide §1.2): the centroid self-norm is per-LABEL — folded
    # once on the broadcast side instead of once per corpus row; the
    # row's own norm still folds per row (each vector is distinct).
    cent = cent.withColumn("__cn", _norm(F.col("centroid")))
    sim = (
        emb.select(
            F.col(id_col),
            F.col(label_col).alias("label"),
            as_double(F.col(vec_col)).alias("__v"),
        )
        .withColumn("__n", _norm(F.col("__v")))
        .join(F.broadcast(cent), "label")
        .select(
            F.col(id_col),
            "label",
            cosine_pre(
                dot(F.col("__v"), F.col("centroid")),
                F.col("__n"),
                F.col("__cn"),
            ).alias("cos_centroid"),
        )
    )
    # NULLS pinned LAST on both engines: a zero-norm vector or zero
    # centroid makes the cosine NULL, and Spark's ASC default is NULLS
    # FIRST while DuckDB's is NULLS LAST — unpinned, such a row would
    # be a "top outlier" on one engine and excluded on the other.
    w = Window.partitionBy("label").orderBy(
        F.col("cos_centroid").asc_nulls_last(), F.col(id_col)
    )
    return (
        sim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, "label", "cos_centroid")
    )


def label_centroid_outliers_sql(
    k: int = 5, table: str = "embeddings"
) -> str:
    """DuckDB twin of ``label_centroid_outliers`` (1-based subscripts
    vs Spark's 0-based positions — both only key the per-dim group, so
    the offset never shows in the output)."""
    return f"""
WITH __e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM {table}
),
__ex AS (
  SELECT label, generate_subscripts(v, 1) AS d, unnest(v) AS val FROM __e
),
__cent AS (
  SELECT label, d,
         round(CAST(sum(CAST(round(val, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS c
  FROM __ex GROUP BY label, d
),
__cvec AS (
  SELECT label, list(c ORDER BY d) AS centroid FROM __cent GROUP BY label
),
__sim AS (
  SELECT e.vec_id, e.label,
         {cosine_sql('e.v', 'cv.centroid')} AS cos_centroid
  FROM __e e JOIN __cvec cv ON e.label = cv.label
),
__ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY label ORDER BY cos_centroid ASC NULLS LAST, vec_id) AS rn
  FROM __sim
)
SELECT vec_id, label, cos_centroid FROM __ranked WHERE rn <= {k}
"""


def label_centroid_similarity(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine between label centroids ``(label_a, label_b,
    cos_sim)`` for label_a < label_b — the label-space confusion
    structure of an embedding set: two labels whose centroids nearly
    coincide are candidates for merging (or evidence of labeling
    noise). Labels-many rows on both sides, so the self-join is
    metadata-sized at any corpus scale; the corpus is touched exactly
    once, by the centroid aggregation."""
    cent = label_centroids(emb, label_col, vec_col)
    a = cent.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("__ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("__cb")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            cosine(F.col("__ca"), F.col("__cb")).alias("cos_sim"),
        )
    )


def label_centroid_similarity_sql(table: str = "embeddings") -> str:
    """DuckDB twin of ``label_centroid_similarity``."""
    return f"""
WITH __e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM {table}
),
__ex AS (
  SELECT label, generate_subscripts(v, 1) AS d, unnest(v) AS val FROM __e
),
__cent AS (
  SELECT label, d,
         round(CAST(sum(CAST(round(val, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS c
  FROM __ex GROUP BY label, d
),
__cvec AS (
  SELECT label, list(c ORDER BY d) AS centroid FROM __cent GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       {cosine_sql('a.centroid', 'b.centroid')} AS cos_sim
FROM __cvec a JOIN __cvec b ON a.label < b.label
"""


def sampled_truth_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    sample_limit: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """EXACT cosine >= threshold pairs restricted to pairs with at least
    one endpoint in a deterministic md5-ranked ``sample_limit``-vector
    sample — the ground-truth side of an ANN/LSH recall audit.

    Brute-forcing ALL n² pairs for truth is exactly the cost ANN exists
    to avoid, so a production recall audit estimates recall on a
    bounded sample: sample × corpus is linear in the corpus (the sample
    side broadcasts; one TakeOrderedAndProject picks it), and recall
    over sample-incident pairs is an unbiased estimate of pair recall.
    Pairs are normalized to ``id_a < id_b`` and deduped (both-sampled
    pairs appear from each side). Output ``(id_a, id_b, cos_sim)``."""
    # r16 (guide §1.2): norms hoisted out of the |corpus| x |sample|
    # product — the corpus row's self-norm folds once below the join
    # and each sample vector's once at broadcast build, so the product
    # evaluates ONE dot fold per pair instead of 3 (A/B 2.2 -> 1.1 s,
    # hash-identical, OPTIMIZATION_r16.md "Embedding family").
    base = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    sample = (
        base.withColumn("__m", F.md5(F.col(id_col).cast("string")))
        .orderBy("__m", id_col)
        .limit(sample_limit)
        .select(
            F.col(id_col).alias("__sid"),
            F.col("__v").alias("__sv"),
            F.col("__n").alias("__sn"),
        )
    )
    cos = cosine_pre(
        dot(F.col("__v"), F.col("__sv")), F.col("__n"), F.col("__sn")
    )
    return (
        base.crossJoin(F.broadcast(sample))
        .filter(F.col(id_col) != F.col("__sid"))
        .select(
            F.least(id_col, "__sid").alias("id_a"),
            F.greatest(id_col, "__sid").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def sampled_truth_ctes_sql(
    threshold: float = 0.9,
    sample_limit: int = 64,
) -> str:
    """CTE chain (assumes ``docs(vec_id, embedding)`` in scope) ending in
    ``__struth(id_a, id_b, cos_sim)`` — the sampled exact pair truth."""
    cos = cosine_sql("d.embedding", "s.sv")
    return f"""
__samp AS (
  SELECT vec_id AS sid, embedding AS sv FROM docs
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {sample_limit}
),
__struth AS (
  SELECT DISTINCT least(d.vec_id, s.sid) AS id_a,
         greatest(d.vec_id, s.sid) AS id_b,
         {cos} AS cos_sim
  FROM docs d, __samp s
  WHERE d.vec_id <> s.sid AND {cos} >= {threshold}
)"""


# ---------------------------------------------------------------------------
# Incremental embedding ingest (round 7): the hyperplane-LSH twin of
# operators/dedup.py's band index — corpus bit-signature bands persist as
# an append-only index, so steady-state embedding ingest probes with
# O(batch) new work and never re-signs the corpus.
# ---------------------------------------------------------------------------


def _lsh_bits_arrow_fn(vec_col: str, id_col: str):
    """Batch kernel for the hyperplane bit signature (guide §4.2): one
    mapInArrow pass computing every plane's dot as products +
    ``np.add.accumulate`` — a strictly SEQUENTIAL C loop over IEEE
    doubles, so the final prefix value replays the JVM
    ``F.aggregate``-fold's addition order bit-for-bit (verified
    hash-identical over the full corpus, tools/ab_r16 probe). Loud
    failures on ragged or null vectors (the JVM fold would null them
    silently; the corpus contract is fixed-dim non-null)."""
    planes = hyperplanes()

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        P = np.array(planes, dtype=np.float64)
        for b in batches:
            ids = b.column(id_col)
            vecs = b.column(vec_col)
            n = len(vecs)
            if n == 0:
                yield pa.record_batch(
                    [ids, pa.array([], type=pa.string())],
                    names=[id_col, "__bits"],
                )
                continue
            if vecs.null_count:
                raise ValueError("embedding_band_rows: null vector")
            widths = np.diff(vecs.offsets.to_numpy(zero_copy_only=False))
            if not (widths == P.shape[1]).all():
                raise ValueError(
                    "embedding_band_rows: vector dim != plane dim"
                )
            flat = np.asarray(vecs.flatten(), dtype=np.float64)
            M = flat.reshape(n, P.shape[1])
            bits = np.empty((n, P.shape[0]), dtype=bool)
            for j in range(P.shape[0]):
                # products are exact; accumulate reproduces the
                # left-fold rounding sequence
                bits[:, j] = (
                    np.add.accumulate(M * P[j], axis=1)[:, -1] >= 0
                )
            strs = [
                "".join("1" if x else "0" for x in row) for row in bits
            ]
            yield pa.record_batch(
                [ids, pa.array(strs, type=pa.string())],
                names=[id_col, "__bits"],
            )

    return fn


def embedding_band_rows(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    band_chars: int = BAND_CHARS,
) -> DataFrame:
    """The persistable LSH index rows of an embedding corpus:
    ``(band_idx, band_val, <id_col>)`` — one row per vector per band of
    its hyperplane bit signature. Pure per-vector function, so index
    maintenance is append-only (the ``dedup.band_bucket_rows``
    contract).

    r16 optimization (guide §4.2, the charlm precedent): the bit
    signature used to run 16 ``F.aggregate`` HOF dot-folds per vector —
    higher-order-function lambdas evaluate INTERPRETED, outside
    whole-stage codegen, and measured 1.9 ms/vector; a 64-term unrolled
    codegen expression fell out of codegen entirely and measured 7x
    WORSE (negative result on record). The signature now runs in one
    ``mapInArrow`` over exactly (id, vec): NumPy products +
    ``np.add.accumulate`` replay the fold's IEEE addition order
    exactly — 1.40 -> 0.26 s on the corpus signature pass,
    hash-identical; the band explode stays JVM-side."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("__bits", T.StringType())]
    )
    sigs = df.select(id_col, vec_col).mapInArrow(
        _lsh_bits_arrow_fn(vec_col, id_col), out_schema
    )
    n_bands = N_PLANES // band_chars
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.substring("__bits", b * band_chars + 1, band_chars)
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    ).select("band_idx", "band_val", id_col)


def build_embedding_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the corpus embedding-band index, partitioned by
    band_idx for probe-side pruning."""
    embedding_band_rows(df, vec_col, id_col).write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(path)


def update_embedding_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Fold an ingested batch into the index: O(batch) bucket rows
    appended; the corpus is never read."""
    embedding_band_rows(batch, vec_col, id_col).write.mode(
        "append"
    ).partitionBy("band_idx").parquet(path)


def ingest_embedding_near_dup_flags(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    corpus_bands: DataFrame | None = None,
    max_bucket_width: int = 64,
    batch_bands: DataFrame | None = None,
) -> DataFrame:
    """Per-batch-vector near-dup-vs-corpus verdict:
    ``(<id_col>, n_cand, best_cos, is_near_dup)`` — candidate corpus
    vectors share at least one (band, bits) bucket (corpus buckets
    df-capped at ``max_bucket_width`` so a low-entropy band value
    cannot fan out), verified with exact cosine joined only for
    candidate corpus ids (the point-fetch shape). ``corpus_bands``
    takes the persisted index; probe work is O(batch + candidates),
    never O(corpus)."""
    from pyspark.sql import Window

    cb = (
        corpus_bands
        if corpus_bands is not None
        else embedding_band_rows(corpus, vec_col, id_col)
    )
    bb = (
        batch_bands
        if batch_bands is not None
        else embedding_band_rows(batch, vec_col, id_col)
    ).select("band_idx", "band_val", F.col(id_col).alias("__batch_id"))
    if corpus_bands is not None:
        if batch_bands is not None:
            # r16 (guide §2.3/§3.2 — mirrors dedup.ingest_near_dup_
            # flags): prune the persisted index to the batch's bucket
            # keys BEFORE the replay-dedupe + width count, so the two
            # shuffles carry only the matched buckets (kept WHOLE by
            # the semi-join, hence identical per-bucket widths) instead
            # of the full index. Gated on a MATERIALIZED batch_bands
            # frame (``gate_embedding_batch`` stages one): the lazy
            # form re-ran the 64-plane signature projection for the
            # broadcast key build and measured WORSE (1.91 -> 2.38 s),
            # so the un-staged declared-query shape keeps the r15 plan.
            bkeys = bb.select("band_idx", "band_val").distinct()
            cb = cb.join(
                F.broadcast(bkeys), ["band_idx", "band_val"], "left_semi"
            )
        # replay-duplicated index rows must not inflate bucket width
        # past the cap (ADVICE r7 — mirrors dedup.ingest_near_dup_flags)
        cb = cb.select("band_idx", "band_val", id_col).distinct()
    w = Window.partitionBy("band_idx", "band_val")
    kept = (
        cb.withColumn("__w", F.count(F.lit(1)).over(w))
        .filter(F.col("__w") <= max_bucket_width)
        .select("band_idx", "band_val", F.col(id_col).alias("__corpus_id"))
    )
    cand = (
        bb.join(kept, ["band_idx", "band_val"])
        # a vector is never a near-dup of itself: a replayed batch that
        # probes an index already holding its own rows must not
        # self-match at cos 1.0 (ADVICE r7)
        .filter(F.col("__batch_id") != F.col("__corpus_id"))
        .select("__batch_id", "__corpus_id")
        .distinct()
    )
    # r16 (guide §1.2): per-vector norms hoisted below the verify join
    # (the cosine_pre discipline) — one dot fold per candidate pair
    # instead of 3, with each side's norm folded once per vector.
    bv = batch.select(
        F.col(id_col).alias("__batch_id"),
        as_double(F.col(vec_col)).alias("__v_b"),
    ).withColumn("__n_b", _norm(F.col("__v_b")))
    cand_ids = cand.select(F.col("__corpus_id").alias(id_col)).distinct()
    cv = corpus.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col).alias("__corpus_id"),
        as_double(F.col(vec_col)).alias("__v_c"),
    ).withColumn("__n_c", _norm(F.col("__v_c")))
    ver = (
        cand.join(bv, "__batch_id")
        .join(cv, "__corpus_id")
        .select(
            "__batch_id",
            cosine_pre(
                dot(F.col("__v_b"), F.col("__v_c")),
                F.col("__n_b"),
                F.col("__n_c"),
            ).alias("__c"),
        )
    )
    agg = ver.groupBy("__batch_id").agg(
        F.count(F.lit(1)).alias("n_cand"), F.max("__c").alias("__best")
    )
    return (
        batch.select(F.col(id_col).alias("__batch_id"))
        .join(agg, "__batch_id", "left")
        .select(
            F.col("__batch_id").alias(id_col),
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce(F.col("__best"), F.lit(0.0)).alias("best_cos"),
            (F.coalesce(F.col("__best"), F.lit(0.0)) >= F.lit(threshold)).alias(
                "is_near_dup"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (round 12): the contrastive-training data op — for
# each anchor vector, the k most-similar corpus vectors with a DIFFERENT
# label (high cosine + wrong class = the pairs that actually move a
# contrastive/metric loss). The knn_join salted two-phase top-k with a
# label-mismatch predicate pushed below the first shuffle, so excluded
# same-label rows never enter the ranking at all.
# ---------------------------------------------------------------------------


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    n_salts: int = 16,
) -> DataFrame:
    """``(anchor_id, rank, vec_id, label, cos_sim)`` — top-k
    cross-label neighbors per anchor, ties on corpus id. The anchor
    batch broadcasts (small by construction); scoring is one linear
    broadcast pass over the corpus; the label filter (and the
    anchor-self exclusion it implies) runs map-side BEFORE the grouped
    top-k, and the top-k itself is the salted two-phase cut — no window
    partition ever holds more than |corpus|/n_salts rows, the knn_join
    discipline."""
    # r16 (guide §1.2): same norm hoist as knn_join — anchor self-norms
    # fold once at broadcast build, corpus row norms once below the
    # join, one dot fold per scored (corpus, anchor) pair instead of 3.
    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("__aid"),
            as_double(F.col(vec_col)).alias("__av"),
            F.col(label_col).alias("__alabel"),
        ).withColumn("__an", _norm(F.col("__av")))
    )
    scored = (
        corpus.select(
            F.col(id_col),
            F.col(label_col),
            as_double(F.col(vec_col)).alias("__v"),
        )
        .withColumn("__n", _norm(F.col("__v")))
        .crossJoin(a)
        .where(F.col(label_col) != F.col("__alabel"))
        .select(
            F.col("__aid").alias("anchor_id"),
            F.col(id_col),
            F.col(label_col),
            cosine_pre(
                dot(F.col("__v"), F.col("__av")), F.col("__n"), F.col("__an")
            ).alias("cos_sim"),
            (F.crc32(F.col(id_col).cast("string")) % n_salts).alias(
                "__salt"
            ),
        )
    )
    local_w = Window.partitionBy("anchor_id", "__salt").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    survivors = (
        scored.withColumn("__r", F.row_number().over(local_w))
        .where(F.col("__r") <= k)
        .drop("__r", "__salt")
    )
    final_w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(final_w))
        .where(F.col("rank") <= k)
        .select("anchor_id", "rank", id_col, label_col, "cos_sim")
    )


def hard_negatives_sql(
    corpus_sql: str,
    anchors_sql: str,
    k: int = 5,
) -> str:
    """DuckDB twin of ``hard_negatives`` (corpus/anchors yield
    (vec_id, embedding, label))."""
    cos = cosine_sql(
        "list_transform(c.embedding, x -> CAST(x AS DOUBLE))",
        "list_transform(a.embedding, x -> CAST(x AS DOUBLE))",
    )
    return f"""
WITH corpus AS ({corpus_sql}),
anchors AS ({anchors_sql}),
scored AS (
  SELECT a.vec_id AS anchor_id, c.vec_id, c.label,
         {cos} AS cos_sim
  FROM corpus c, anchors a
  WHERE c.label <> a.label
),
ranked AS (
  SELECT anchor_id, vec_id, label, cos_sim,
         CAST(row_number() OVER (PARTITION BY anchor_id
              ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
  FROM scored
)
SELECT anchor_id, rank, vec_id, label, cos_sim
FROM ranked WHERE rank <= {k}
"""
