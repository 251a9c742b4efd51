"""Recall checks for embedding similarity: the brute-force top-k must rank
the query itself first, and hyperplane LSH must recover every planted
exact/near copy while rejecting natural pairs (max natural cosine ~0.51)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nosql_to_sql_migration_tool_spark.fixtures import duplicated_embeddings
from nosql_to_sql_migration_tool_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup,
)
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def test_topk_self_first_and_bounded(spark):
    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    top = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=10).collect()
    assert len(top) == 10
    assert top[0]["vec_id"] == 0 and top[0]["cos_sim"] == 1.0
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_full_probe_equals_brute_force(spark):
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        ivf_topk,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    n_labels = emb.select("label").distinct().count()
    # probing every bucket must reproduce exact brute-force top-k
    full = ivf_topk(emb, query, k=10, n_probe=n_labels).select(
        "vec_id", "cos_sim"
    )
    exact = cosine_topk(emb, query, k=10)
    assert [r.asDict() for r in full.collect()] == [
        r.asDict() for r in exact.collect()
    ]

    # a 2-bucket probe returns k rows drawn from at most 2 labels
    probed = ivf_topk(emb, query, k=10, n_probe=2).collect()
    assert len(probed) == 10
    assert len({r["label"] for r in probed}) <= 2
    sims = [r["cos_sim"] for r in probed]
    assert sims == sorted(sims, reverse=True)


def test_lsh_recovers_planted_pairs(spark):
    base = load_table(spark, SF_DIR_SMOKE, "embeddings")
    fixture = duplicated_embeddings(base)
    pairs = embedding_near_dup(fixture, threshold=0.9).collect()

    exact_expected = {
        r["vec_id"] for r in base.filter(F.col("vec_id") % 10 == 0).collect()
    }
    near_expected = {
        r["vec_id"] for r in base.filter(F.col("vec_id") % 7 == 0).collect()
    }
    # id_a < 10000 keeps only (original, copy) pairs — copies of the same
    # base vector also differ by 10000/20000 among themselves
    exact_found = {
        p["id_a"]
        for p in pairs
        if p["id_b"] == p["id_a"] + 10_000 and p["id_a"] < 10_000
    }
    near_found = {
        p["id_a"]
        for p in pairs
        if p["id_b"] == p["id_a"] + 20_000 and p["id_a"] < 10_000
    }
    # exact copies always collide in every band
    assert exact_found == exact_expected
    # near copies: tiny angle, banding recall must be near-total
    assert len(near_found) >= 0.95 * len(near_expected)
    for p in pairs:
        assert p["cos_sim"] >= 0.9


def test_kmeans_ivf_full_probe_exact_and_recall(spark):
    """Learned-bucket IVF: probing every cluster must reproduce exact
    brute-force top-k; a 2-of-8 probe must still recall a useful share
    of the true top-10 (the sf0.001 corpus has no planted structure, so
    the bound is modest but must hold deterministically)."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_ivf_topk,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)

    full = kmeans_ivf_topk(
        emb, query, k=10, n_probe=8, n_clusters=8, n_iter=2
    ).select("vec_id", "cos_sim")
    exact = cosine_topk(emb, query, k=10)
    assert [r.asDict() for r in full.collect()] == [
        r.asDict() for r in exact.collect()
    ]

    probed = kmeans_ivf_topk(
        emb, query, k=10, n_probe=2, n_clusters=8, n_iter=2
    ).collect()
    assert len(probed) == 10
    assert len({r["cluster"] for r in probed}) <= 2
    truth = {r["vec_id"] for r in exact.collect()}
    recall = len({r["vec_id"] for r in probed} & truth) / len(truth)
    assert recall >= 0.3, recall
    # determinism: a second run returns the identical ranking
    again = kmeans_ivf_topk(
        emb, query, k=10, n_probe=2, n_clusters=8, n_iter=2
    ).collect()
    assert [r.asDict() for r in again] == [r.asDict() for r in probed]


def test_kmeans_centroids_shape_and_determinism(spark):
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    cents = kmeans_centroids(emb, n_clusters=4, n_iter=2)
    assert [cid for cid, _, _ in cents] == sorted({cid for cid, _, _ in cents})
    assert all(len(c) == 64 for _, c, _ in cents)
    assert all(cn > 0 for _, _, cn in cents)
    assert cents == kmeans_centroids(emb, n_clusters=4, n_iter=2)


def test_kmeans_sampled_training(spark):
    """The 100 TB quantizer contract: training on an md5-ranked bounded
    sample is (a) deterministic, (b) identical to full-corpus training
    when the bound covers the corpus, and (c) actually different (i.e.
    the bound binds) for a small bound — while downstream assignment
    still covers every vector."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_ivf_topk,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    n = emb.count()
    sampled = kmeans_centroids(emb, n_clusters=4, n_iter=2, train_limit=64)
    assert sampled == kmeans_centroids(
        emb, n_clusters=4, n_iter=2, train_limit=64
    )
    full = kmeans_centroids(emb, n_clusters=4, n_iter=2)
    assert kmeans_centroids(emb, n_clusters=4, n_iter=2, train_limit=n) == full
    assert sampled != full
    # sampled quantizer still yields a valid full-corpus top-k
    query = emb.filter(F.col("vec_id") == 0)
    got = kmeans_ivf_topk(
        emb, query, k=10, n_probe=4, n_clusters=4, n_iter=2, train_limit=64
    ).collect()
    assert len(got) == 10


def test_semantic_near_dup_multiprobe_superset(spark):
    """Multi-probe blocking can only ADD candidate pairs vs single
    assignment (each vector's probe set contains its primary block), and
    every surviving pair still clears the threshold with id_a < id_b."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        semantic_near_dup,
        semantic_near_dup_multiprobe,
    )

    emb = duplicated_embeddings(load_table(spark, SF_DIR_SMOKE, "embeddings"))
    single = {
        (r["id_a"], r["id_b"])
        for r in semantic_near_dup(
            emb, threshold=0.9, n_clusters=4, train_limit=64
        ).collect()
    }
    multi_rows = semantic_near_dup_multiprobe(
        emb, threshold=0.9, n_clusters=4, n_probe=2, train_limit=64
    ).collect()
    multi = {(r["id_a"], r["id_b"]) for r in multi_rows}
    assert single <= multi
    assert len(multi_rows) == len(multi), "pairs must be distinct"
    assert all(r["cos_sim"] >= 0.9 and r["id_a"] < r["id_b"] for r in multi_rows)


def test_kmeans_queries_leave_no_cached_rdds(spark):
    """VERDICT r3 item 4: the quantizer's training cache must not outlive
    the call — a long-lived session running many similarity queries must
    not accumulate executor storage."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        kmeans_centroids,
        semantic_near_dup,
    )

    emb = duplicated_embeddings(load_table(spark, SF_DIR_SMOKE, "embeddings"))
    # snapshot, not zero: other suites sharing the session may hold
    # deliberate long-lived caches (e.g. the shared shingle projections)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    kmeans_centroids(emb, n_clusters=4, n_iter=2, train_limit=64)
    semantic_near_dup(
        emb, threshold=0.9, n_clusters=4, train_limit=64
    ).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_knn_join_matches_per_query_brute_force(spark):
    """The salted two-phase grouped top-k must be EXACT: for every query
    in the batch, knn_join's neighbor list equals the single-query
    cosine_topk ranking (same tie-break), for any salt count."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        knn_join,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for n_salts in (1, 7):
        got = knn_join(emb, queries, k=5, n_salts=n_salts).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r["rank"])
            expect = cosine_topk(
                emb, emb.filter(F.col("vec_id") == qid), k=5
            ).collect()
            assert [(r["vec_id"], r["cos_sim"]) for r in rows] == [
                (r["vec_id"], r["cos_sim"]) for r in expect
            ], (qid, n_salts)


def test_semantic_near_dup_blocking_recall(spark):
    """Cluster-blocked semantic dedup must (a) keep every surviving pair
    at/above threshold, (b) recover every planted EXACT copy — an
    identical vector always lands in its original's cluster, so exact
    pairs can never straddle blocks — and (c) find no pair among the
    natural vectors (max natural cosine ~0.51)."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        semantic_near_dup,
    )

    emb = duplicated_embeddings(load_table(spark, SF_DIR_SMOKE, "embeddings"))
    pairs = semantic_near_dup(emb, threshold=0.9, n_clusters=4).collect()
    assert pairs, "planted duplicates must surface"
    assert all(r["cos_sim"] >= 0.9 for r in pairs)
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    base_ids = {
        r["vec_id"]
        for r in load_table(spark, SF_DIR_SMOKE, "embeddings")
        .select("vec_id")
        .collect()
    }
    for k in base_ids:
        if k % 10 == 0:
            assert (k, k + 10_000) in found, f"exact copy of {k} missed"
    natural = [
        p for p in found if p[0] in base_ids and p[1] in base_ids
    ]
    assert natural == []


def test_sampled_truth_pairs_normalizes_and_dedups(spark):
    """A pair whose BOTH endpoints land in the sample is generated from
    each side — output must carry it once, id_a < id_b."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        sampled_truth_pairs,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    rows = sampled_truth_pairs(df, threshold=0.9, sample_limit=3).collect()
    assert [(r["id_a"], r["id_b"], r["cos_sim"]) for r in rows] == [(1, 2, 1.0)]


def test_embedding_band_index_incremental_update_equals_rebuild(spark, tmp_path):
    """Round 7: the embedding hyperplane-LSH index is maintained
    append-only (O(batch) per update, corpus never read), rebuild-
    equivalent to a fresh build, and probing the persisted index gives
    the same verdicts as the inline form; near-identical planted
    vectors must be flagged."""
    from pyspark.sql import functions as F

    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        build_embedding_index,
        embedding_band_rows,
        ingest_embedding_near_dup_flags,
        update_embedding_index,
    )

    emb = spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "emb_index")

    build_embedding_index(corpus, idx)
    update_embedding_index(batch, idx)
    stored = spark.read.parquet(idx).select("band_idx", "band_val", "vec_id")
    rebuilt = embedding_band_rows(emb)
    assert stored.count() == rebuilt.count()
    assert stored.exceptAll(rebuilt).isEmpty()
    assert rebuilt.exceptAll(stored).isEmpty()

    # incoming: exact copies of some corpus+batch vectors under new ids
    incoming = emb.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + F.lit(500_000)).alias("vec_id"), "embedding"
    )
    via_index = ingest_embedding_near_dup_flags(
        emb,
        incoming,
        corpus_bands=spark.read.parquet(idx).select(
            "band_idx", "band_val", "vec_id"
        ),
    )
    inline = ingest_embedding_near_dup_flags(emb, incoming)
    assert via_index.exceptAll(inline).isEmpty()
    assert inline.exceptAll(via_index).isEmpty()
    # every exact copy shares all bands with its source -> flagged at 0.9
    n_in = incoming.count()
    assert n_in > 0
    assert via_index.filter(F.col("is_near_dup")).count() == n_in


def test_hard_negatives_semantics_and_parity(spark):
    """Round 12: label-aware contrastive mining — every returned row has
    a label different from its anchor's, ranks are dense by descending
    cosine with id ties, the anchor itself can never appear (same
    label), and the whole relation replays bit-identically in DuckDB.
    Salting is exact: n_salts=1 equals the default."""
    import duckdb

    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_sql,
    )
    from nosql_to_sql_migration_tool_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMOKE

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 3)
    got = hard_negatives(emb, anchors, k=5).collect()
    labels = {
        r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()
    }
    for r in got:
        assert r["label"] != labels[r["anchor_id"]]
        assert r["vec_id"] != r["anchor_id"]
    per_anchor = {}
    for r in got:
        per_anchor.setdefault(r["anchor_id"], []).append(r)
    for aid, rows in per_anchor.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [(-r["cos_sim"], r["vec_id"]) for r in rows]
        assert sims == sorted(sims)

    mine = sorted(map(tuple, got))
    con = duckdb.connect()
    src = f"SELECT vec_id, embedding, label FROM '{SF_DIR_SMOKE}/embeddings.parquet'"
    want = sorted(
        tuple(r)
        for r in con.execute(
            hard_negatives_sql(src, src + " WHERE vec_id < 3", k=5)
        ).fetchall()
    )
    con.close()
    assert mine == want

    unsalted = sorted(
        map(tuple, hard_negatives(emb, anchors, k=5, n_salts=1).collect())
    )
    assert unsalted == mine


def test_arrow_kernels_reject_null_vector_element():
    """Both embedding Arrow kernels read their input through one
    contract: a null ELEMENT inside a vector raises instead of entering
    the distances as NaN, and an empty batch still yields an empty
    batch."""
    import pyarrow as pa
    import pytest

    from nosql_to_sql_migration_tool_spark.operators.pq import (
        _pq_dists_arrow_fn,
    )
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        EMBEDDING_DIM,
        _lsh_bits_arrow_fn,
    )

    books = [[(0, [0.0] * (EMBEDDING_DIM // 2))]] * 2
    kernels = {
        "embedding_band_rows": _lsh_bits_arrow_fn("embedding", "vec_id"),
        "pq_encode": _pq_dists_arrow_fn("embedding", "vec_id", books),
    }

    def batch(vecs):
        return pa.record_batch(
            [
                pa.array(range(len(vecs)), type=pa.int64()),
                pa.array(vecs, type=pa.list_(pa.float32())),
            ],
            names=["vec_id", "embedding"],
        )

    holed = [0.5] * EMBEDDING_DIM
    holed[7] = None
    for name, kernel in kernels.items():
        with pytest.raises(ValueError, match=f"{name}: null vector element"):
            list(kernel([batch([[0.25] * EMBEDDING_DIM, holed])]))
        (out,) = list(kernel([batch([])]))
        assert out.num_rows == 0 and out.column_names[0] == "vec_id"
