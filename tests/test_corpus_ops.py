"""Behavior tests for the round-5 corpus operators: line-level
(boilerplate) dedup, unigram rarity scoring, and temperature-weighted
domain mixture sampling. Oracle parity is covered by test_oracle_parity;
these pin the semantic contracts that parity alone can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nosql_to_sql_migration_tool_spark.fixtures import lined_documents
from nosql_to_sql_migration_tool_spark.operators.cleaning import (
    duplicate_lines,
    strip_duplicate_lines,
)
from nosql_to_sql_migration_tool_spark.operators.text import token_rarity
from nosql_to_sql_migration_tool_spark.operators.traindata import (
    domain_mixture_rates,
    domain_mixture_sample,
)
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_lines_counts(spark):
    docs = _docs(
        spark,
        [
            (1, "keep me\nfooter text\nunique one"),
            (2, "footer text\nother line"),
            (3, "footer text\nfooter text\nsolo"),
            (4, ""),
        ],
    )
    dup = {r["line"]: r for r in duplicate_lines(docs, min_docs=2).collect()}
    assert set(dup) == {"footer text"}
    assert dup["footer text"]["n_docs"] == 3
    assert dup["footer text"]["n_occurrences"] == 4


def test_strip_duplicate_lines_preserves_every_doc(spark):
    docs = _docs(
        spark,
        [
            (1, "keep me\nfooter text\nunique one"),
            (2, "footer text\nother line"),
            (3, "footer text\nfooter text"),  # fully boilerplate
            (4, ""),
        ],
    )
    out = {r["doc_id"]: r for r in strip_duplicate_lines(docs, 2).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["clean_text"] == "keep me\nunique one"
    assert out[1]["n_removed"] == 1
    assert out[3]["clean_text"] == ""  # all lines removed, row survives
    assert out[3]["n_kept"] == 0 and out[3]["n_removed"] == 2
    assert out[4]["clean_text"] == ""  # empty doc: one empty line, kept
    assert out[4]["n_kept"] == 1 and out[4]["n_removed"] == 0


def test_strip_duplicate_lines_idempotent(spark):
    """A second pass over already-stripped text removes nothing: the
    duplicate criterion is cross-document, and pass one removed every
    qualifying line from every document."""
    docs = lined_documents(load_table(spark, SF_DIR_SMOKE, "documents"))
    once = strip_duplicate_lines(docs, 2).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    twice = strip_duplicate_lines(once, 2)
    assert twice.filter(F.col("n_removed") > 0).count() == 0


def test_token_rarity_hand_computed(spark):
    docs = _docs(spark, [(1, "a a b"), (2, "c")])
    out = {r["doc_id"]: r for r in token_rarity(docs).collect()}
    # freq: a=2, b=1, c=1. doc1: (0.5 + 0.5 + 1.0)/3; doc2: 1/1.
    assert out[1]["n_tokens"] == 3
    assert out[1]["rarity"] == pytest.approx(0.666667, abs=1e-6)
    assert out[2]["rarity"] == 1.0


def test_token_rarity_skips_empty_docs(spark):
    docs = _docs(spark, [(1, "x y"), (2, "   ")])
    assert [r["doc_id"] for r in token_rarity(docs).collect()] == [1]


def test_mixture_rates_hit_budget_and_flatten(spark):
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    rates = {
        r["lang"]: r for r in domain_mixture_rates(docs, "lang", 0.8).collect()
    }
    n_total = sum(r["n_docs"] for r in rates.values())
    assert all(0 < r["rate"] <= 1.0 for r in rates.values())
    # Expected kept volume stays at/below the budget (the rate cap can
    # only shrink it; 6-dp rate rounding can add up to ~n*5e-7) and
    # within 25% of it on this corpus.
    expected = sum(r["rate"] * r["n_docs"] for r in rates.values())
    assert expected <= 0.8 * n_total + 0.01
    assert expected >= 0.6 * n_total
    # Temperature flattening: the most over-represented domain gets the
    # lowest rate.
    biggest = max(rates.values(), key=lambda r: r["n_docs"])
    assert biggest["rate"] == min(r["rate"] for r in rates.values())


def test_mixture_sample_deterministic_subset(spark):
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    a = sorted(
        r["doc_id"] for r in domain_mixture_sample(docs, "lang").collect()
    )
    b = sorted(
        r["doc_id"] for r in domain_mixture_sample(docs, "lang").collect()
    )
    assert a == b and 0 < len(a) < docs.count()
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert set(a) <= all_ids


def test_bucketed_cumsum_equals_global_window(spark):
    """The monotone-bucket cumsum decomposition must be bit-identical
    to the single-partition window form it replaces."""
    from pyspark.sql import Window

    from nosql_to_sql_migration_tool_spark.operators.ranking import (
        bucketed_cumsum,
    )
    from nosql_to_sql_migration_tool_spark.operators.text import (
        with_text_stats,
    )

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    scored = with_text_stats(docs).select(
        "doc_id", "quality_score", F.col("n_ws_tokens").alias("n_tokens")
    )
    bucket = F.floor(
        (F.lit(1.0) - F.col("quality_score")) * F.lit(32)
    ).cast("long")
    fast = bucketed_cumsum(
        scored,
        bucket,
        [F.col("quality_score").desc(), F.col("doc_id")],
        "n_tokens",
        out_col="cum_tokens",
    ).select("doc_id", "cum_tokens")
    w = (
        Window.orderBy(F.col("quality_score").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    slow = scored.select(
        "doc_id", F.sum("n_tokens").over(w).alias("cum_tokens")
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_bucketed_cumsum_materialize_input_parity(spark):
    """r15: materialize_input=True (eager staging of the bucketed
    frame) must be row-for-row identical to the recompute form — it is
    a physical-plan change only."""
    from pyspark.sql import functions as F

    from nosql_to_sql_migration_tool_spark.operators.ranking import (
        bucketed_cumsum,
    )
    from nosql_to_sql_migration_tool_spark.operators.text import (
        with_text_stats,
    )

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    scored = with_text_stats(docs).select(
        "doc_id", "quality_score", F.col("n_ws_tokens").alias("n_tokens")
    )
    bucket = F.floor(
        (F.lit(1.0) - F.col("quality_score")) * F.lit(32)
    ).cast("long")
    args = (
        scored,
        bucket,
        [F.col("quality_score").desc(), F.col("doc_id")],
        "n_tokens",
    )
    staged = bucketed_cumsum(
        *args, out_col="cum", materialize_input=True
    ).select("doc_id", "cum")
    recomputed = bucketed_cumsum(
        *args, out_col="cum", materialize_input=False
    ).select("doc_id", "cum")
    assert staged.exceptAll(recomputed).count() == 0
    assert recomputed.exceptAll(staged).count() == 0


def test_token_budget_selection_boundary(spark):
    """The selection takes exactly the maximal quality-ranked prefix
    within budget: its total is <= budget and adding any one more
    token-bearing doc would exceed it (or nothing was left)."""
    from nosql_to_sql_migration_tool_spark.operators.traindata import (
        token_budget_selection,
    )

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    budget = 5_000
    sel = token_budget_selection(docs, budget=budget).collect()
    assert sel, "budget selected nothing"
    assert max(r["cum_tokens"] for r in sel) <= budget
    n_docs = docs.count()
    if len(sel) < n_docs:
        # The first excluded doc (next in the same ranking) would have
        # pushed the total past the budget.
        total = max(r["cum_tokens"] for r in sel)
        picked = {r["doc_id"] for r in sel}
        from nosql_to_sql_migration_tool_spark.operators.text import (
            with_text_stats,
        )

        rest = (
            with_text_stats(docs)
            .filter(~F.col("doc_id").isin(picked))
            .orderBy(F.col("quality_score").desc(), "doc_id")
            .select("n_ws_tokens")
            .first()
        )
        assert total + rest["n_ws_tokens"] > budget


def test_label_centroid_outliers_finds_planted_outlier(spark):
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        label_centroid_outliers,
    )

    rows = [
        # label 0: tight cluster near +x, one planted opposite vector
        (1, [1.0, 0.1, 0.0], 0),
        (2, [1.0, 0.0, 0.1], 0),
        (3, [0.9, 0.1, 0.1], 0),
        (4, [-1.0, 0.0, 0.0], 0),  # the outlier
        # label 1: two agreeing vectors
        (5, [0.0, 1.0, 0.0], 1),
        (6, [0.0, 0.9, 0.1], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    top = {
        r["label"]: r
        for r in label_centroid_outliers(emb, k=1).collect()
    }
    assert top[0]["vec_id"] == 4
    assert top[0]["cos_centroid"] < 0
    assert top[1]["vec_id"] in (5, 6)


def test_adaptive_quality_filter_per_domain_fractions(spark):
    from math import ceil

    from nosql_to_sql_migration_tool_spark.operators.text import (
        adaptive_quality_filter,
    )

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    kept = adaptive_quality_filter(docs, keep_frac=0.7).collect()
    per_domain_all = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    per_domain_kept: dict = {}
    for r in kept:
        per_domain_kept[r["lang"]] = per_domain_kept.get(r["lang"], 0) + 1
    # Every domain keeps exactly ceil(0.7 * n) docs — no domain empties.
    for lang, n in per_domain_all.items():
        assert per_domain_kept.get(lang, 0) == ceil(0.7 * n), lang


def _pq_setup(spark):
    from nosql_to_sql_migration_tool_spark.operators.pq import pq_codebooks

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    return emb, pq_codebooks(emb)


def test_pq_codes_are_bounded_and_deterministic(spark):
    from nosql_to_sql_migration_tool_spark.operators.pq import (
        PQ_CODES,
        PQ_M,
        pq_encode,
    )

    emb, books = _pq_setup(spark)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    assert a == b
    assert all(len(c) == PQ_M for c in a.values())
    assert all(0 <= x < PQ_CODES for c in a.values() for x in c)


def test_pq_query_ranks_itself_first(spark):
    from nosql_to_sql_migration_tool_spark.operators.pq import (
        pq_topk,
        pq_topk_rerank,
    )

    emb, books = _pq_setup(spark)
    q = emb.filter(F.col("vec_id") == 0)
    assert pq_topk(emb, q, books, k=3).first()["vec_id"] == 0
    assert pq_topk_rerank(emb, q, books, k=3).first()["vec_id"] == 0


def test_pq_rerank_beats_raw_adc_recall(spark):
    """The exact re-rank over ADC candidates must recover at least as
    many of the true top-10 as the raw ADC ranking (and find most of
    them on this corpus)."""
    from nosql_to_sql_migration_tool_spark.operators.pq import (
        pq_topk,
        pq_topk_rerank,
    )
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        as_double,
        dot,
    )

    emb, books = _pq_setup(spark)
    q = emb.filter(F.col("vec_id") == 0)
    qv = q.select(as_double(F.col("embedding")).alias("qv"))
    exact = {
        r["vec_id"]
        for r in emb.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(dot(as_double(F.col("embedding")), F.col("qv")), 6)
            .alias("ip"),
        )
        .orderBy(F.col("ip").desc(), "vec_id")
        .limit(10)
        .collect()
    }
    adc = {r["vec_id"] for r in pq_topk(emb, q, books, k=10).collect()}
    rer = {
        r["vec_id"]
        for r in pq_topk_rerank(emb, q, books, k=10, n_candidates=100)
        .collect()
    }
    assert len(rer & exact) >= len(adc & exact)
    assert len(rer & exact) >= 6


def test_tfidf_cosine_weights_rare_overlap_over_boilerplate(spark):
    """The reason this operator exists next to Jaccard: two documents
    sharing only corpus-wide boilerplate must score LOW, while a pair
    sharing rare content scores HIGH — even when the raw shingle
    overlap fractions are comparable."""
    from nosql_to_sql_migration_tool_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    boiler = "click here to accept all cookies now"
    docs = _docs(
        spark,
        [
            # 1 & 2: only the boilerplate in common (it appears in ALL
            # docs, so its shingles have maximal df -> tiny idf).
            (1, boiler + " alpha beta gamma delta epsilon"),
            (2, boiler + " zeta eta theta iota kappa"),
            # 3 & 4: share a rare 5-token run on top of the boilerplate.
            (3, boiler + " lambda mu nu xi omicron"),
            (4, boiler + " lambda mu nu xi sigma"),
            # filler so boilerplate shingles exceed the rare df cap
            (5, boiler + " tau upsilon phi chi psi"),
            (6, boiler + " omega one two three four"),
        ],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in tfidf_cosine_pairs(docs, threshold=0.0, df_cap=5).collect()
    }
    assert (3, 4) in pairs
    boiler_score = pairs.get((1, 2), 0.0)
    assert pairs[(3, 4)] > 2 * max(boiler_score, 0.05)


def test_guards_raise_clear_errors(spark):
    from nosql_to_sql_migration_tool_spark.operators.pq import (
        pq_codebooks,
        pq_topk,
    )
    from nosql_to_sql_migration_tool_spark.operators.ranking import (
        bucketed_cumsum,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(emb, m=5)  # 64 dims / 5 subspaces
    with pytest.raises(ValueError, match="empty training corpus"):
        pq_codebooks(emb.filter(F.col("vec_id") < 0))
    books = pq_codebooks(emb, train_limit=64)
    with pytest.raises(ValueError, match="matched no rows"):
        pq_topk(emb, emb.filter(F.col("vec_id") < 0), books)
    docs = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "id long, v int"
    )
    with pytest.raises(ValueError, match="NULL"):
        bucketed_cumsum(
            docs,
            F.when(F.col("id") != 2, F.col("id")),  # NULL bucket for id=2
            [F.col("id")],
            "v",
        )


def test_pq_oracle_predicate_rewrite_is_word_bounded(spark):
    """The oracle builder rewrites the id column to the CTE alias on
    word boundaries only — a predicate mentioning a column whose name
    CONTAINS the id column must survive intact."""
    from nosql_to_sql_migration_tool_spark.operators.pq import pq_topk_sql

    sql = pq_topk_sql(query_pred="vec_id = 0 AND 'src_vec_id' <> 'x'")
    assert "WHERE id = 0 AND 'src_vec_id' <> 'x'" in sql


def test_label_centroid_similarity_shape(spark):
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        label_centroid_similarity,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    n_labels = emb.select("label").distinct().count()
    rows = label_centroid_similarity(emb).collect()
    assert len(rows) == n_labels * (n_labels - 1) // 2
    assert all(r["label_a"] < r["label_b"] for r in rows)
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in rows)


def test_ivfpq_composes_probe_adc_rerank(spark):
    """r15 (r16 queue): IVF-PQ — the composed FAISS-IVFADC shape.
    (a) the query's own cell is always probed, so the query ranks
    itself first; (b) probing EVERY cell degrades exactly to
    pq_topk_rerank (the pruning loses nothing when nothing is pruned);
    (c) bounded-plan audit."""
    from nosql_to_sql_migration_tool_spark.operators.pq import (
        ivfpq_topk,
        pq_topk_rerank,
    )
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb, books = _pq_setup(spark)
    cents = kmeans_centroids(emb, n_clusters=8, n_iter=3)
    q = emb.filter(F.col("vec_id") == 0)
    got = ivfpq_topk(
        emb, q, books, cents, k=5, n_probe=2, n_candidates=50
    ).collect()
    assert got[0]["vec_id"] == 0

    full = [
        tuple(r)
        for r in ivfpq_topk(
            emb, q, books, cents, k=10, n_probe=8, n_candidates=100
        ).collect()
    ]
    plain = [
        tuple(r)
        for r in pq_topk_rerank(
            emb, q, books, k=10, n_candidates=100
        ).collect()
    ]
    assert full == plain

    from nosql_to_sql_migration_tool_spark.plans.audit import (
        cartesian_products,
        global_windows,
        python_stage_count,
    )

    df = ivfpq_topk(emb, q, books, cents, k=5, n_probe=2, n_candidates=50)
    assert cartesian_products(df) == 0
    assert python_stage_count(df) == 1  # the sanctioned pq_encode kernel
    assert global_windows(df) == 0


def test_ivfpq_cross_engine_parity(spark):
    """The DuckDB twin re-derives BOTH quantizers (coarse Lloyd's chain
    + per-subspace PQ codebooks), the probe, the cell-restricted ADC
    and the exact re-rank — row-for-row equality."""
    import duckdb

    from nosql_to_sql_migration_tool_spark.operators.pq import (
        ivfpq_topk,
        ivfpq_topk_sql,
    )
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb, books = _pq_setup(spark)
    cents = kmeans_centroids(emb, n_clusters=8, n_iter=3)
    q = emb.filter(F.col("vec_id") == 0)
    mine = [
        tuple(r)
        for r in ivfpq_topk(
            emb, q, books, cents, k=10, n_probe=2, n_candidates=50
        ).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF_DIR_SMOKE}/embeddings.parquet'"
    )
    want = [
        tuple(r)
        for r in con.execute(
            ivfpq_topk_sql(
                "embeddings",
                n_clusters=8,
                ivf_iter=3,
                n_probe=2,
                n_candidates=50,
                k=10,
            )
        ).fetchall()
    ]
    con.close()
    assert mine == want and len(mine) == 10
