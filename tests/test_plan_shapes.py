"""Physical-plan pins: predicate pushdown and column pruning must reach
the parquet scan — at 100 TB a scan that reads every column for a
2-column projection, or filters after the scan, is the difference
between seconds and hours. These tests fail if a refactor breaks the
declarative shape Catalyst needs."""

from __future__ import annotations

from pyspark.sql import functions as F

from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from tests.conftest import SF_DIR_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_filter_pushes_down_to_scan(spark):
    df = load_table(spark, SF_DIR_SMOKE, "customer").filter(
        F.col("c_custkey") == 100
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(c_custkey,100)" in plan, plan


def test_projection_prunes_scan_schema(spark):
    df = load_table(spark, SF_DIR_SMOKE, "orders").select("o_orderkey")
    plan = _plan(df)
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan, plan


def test_aggregate_is_partial_then_final(spark):
    # map-side combine: a partial_count must appear below the exchange
    df = (
        load_table(spark, SF_DIR_SMOKE, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(df)
    assert "partial_count" in plan, plan


def test_scan_after_pushes_range_predicate(spark):
    """Cursor paging's claim to O(page): the key-range predicate must
    reach the parquet scan (min/max row-group pruning at scale)."""
    from nosql_to_sql_migration_tool_spark.operators.relational import (
        scan_after,
    )

    df = scan_after(
        load_table(spark, SF_DIR_SMOKE, "orders"), "o_orderkey", 1000, 50
    )
    plan = _plan(df)
    assert "GreaterThan(o_orderkey,1000)" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_full_surface_plan_invariants(spark):
    """VERDICT r6 next #8 — the plan-audit gate over the ENTIRE declared
    surface in ONE pass (each query's plan analyzed once, every detector
    run on the same string): no unbroadcast cartesian product, no
    global single-partition ORDERED window, and Python stages only in
    the sanctioned Arrow set (the schema-inference mapInPandas walk and
    the multimodal decode UDFs — everything else stays JVM-side).
    Plans only; nothing executes beyond the training collects some
    builders run at plan time."""
    from nosql_to_sql_migration_tool_spark.plans.audit import (
        physical_plan,
        plan_report_from_string,
    )
    from nosql_to_sql_migration_tool_spark.queries import QUERIES

    sanctioned_python = {
        "infer_props_schema",
        "infer_ragged_schema",
        "sql_type_mapping",
        "media_features",
        "media_resize",
        "media_ppm_decode_stats",
        "media_wav_decode_stats",
        # r14: the tar-shard walk (stdlib tarfile over binaryFile rows)
        # is the same sanctioned byte-codec Arrow class as the media
        # decoders — one linear pass per shard, no shuffle before it.
        "webdataset_roundtrip",
        # r16: pinned-model Arrow scoring (guide §4.2) — the charlm
        # surprisal sum moved from an interpreted F.aggregate HOF fold
        # (outside whole-stage codegen, measured 2.24 s) to one
        # mapInArrow pass over exactly (id, text) with a per-task dict
        # of the 118-entry pinned model (0.47 s, hash-identical; A/B in
        # tools/ab_charlm_r16.py — every JVM restructure sat at the
        # same interpreted floor). Same deliberate-Arrow class as the
        # decoders: linear, no shuffle before it, columns pruned
        # explicitly.
        "charlm_doc_scores",
        # r16: the hyperplane bit signature (embedding_band_rows) moved
        # from 16 interpreted F.aggregate dot-folds per vector to one
        # mapInArrow pass whose np.add.accumulate replays the fold's
        # IEEE addition order bit-for-bit (1.40 -> 0.26 s corpus pass,
        # hash-identical; the unrolled-codegen alternative measured 7x
        # worse). Same deliberate-Arrow class: linear, no shuffle
        # before it, columns pruned to (id, vec).
        "ingest_embedding_near_dup",
        "embedding_near_dup",  # embedding_band_rows mapInArrow signatures
        "embedding_lsh_recall_audit",  # embedding_band_rows, via the pair memo
        "pq_topk_rerank",  # pq_encode mapInArrow subspace distances
    }
    offenders = []
    for name, fn in QUERIES.items():
        try:
            rep = plan_report_from_string(physical_plan(fn(spark, SF_DIR_SMOKE)))
        except Exception as exc:  # a broken builder is its own failure
            offenders.append(f"{name}: build failed: {exc}")
            continue
        if rep["cartesian_products"]:
            offenders.append(f"{name}: cartesian x{rep['cartesian_products']}")
        if rep["global_windows"]:
            offenders.append(f"{name}: global window x{rep['global_windows']}")
        if rep["python_stages"] and name not in sanctioned_python:
            offenders.append(f"{name}: python stages x{rep['python_stages']}")
        if not rep["python_stages"] and name in sanctioned_python:
            # a stale entry would silently sanction a future regression
            offenders.append(f"{name}: sanctioned but runs no python stage")
    assert not offenders, offenders


def test_ivf_partitioned_corpus_prunes_probe_scan(spark, tmp_path):
    """The kmeans_ivf_topk docstring's 100 TB claim, executed: write the
    corpus partitioned by the learned cluster id, probe with a cluster
    filter, and the scan must show partition pruning (only the probed
    partitions' files are read)."""
    from nosql_to_sql_migration_tool_spark.operators.similarity import (
        _nearest_cluster,
        as_double,
        dot,
        kmeans_centroids,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    cents = kmeans_centroids(emb, n_clusters=4, n_iter=1, train_limit=64)
    assigned = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("__v"))
        .withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
        .select(
            "vec_id",
            "__v",
            _nearest_cluster("__v", "__n", cents).alias("cluster"),
        )
    )
    path = str(tmp_path / "ivf_corpus")
    assigned.write.partitionBy("cluster").parquet(path)
    probe = spark.read.parquet(path).filter(F.col("cluster").isin([0, 2]))
    plan = _plan(probe)
    assert "PartitionFilters" in plan, plan
    assert "cluster" in plan.split("PartitionFilters")[1][:200], plan
    got = {r["cluster"] for r in probe.select("cluster").distinct().collect()}
    assert got <= {0, 2}


def test_pq_scores_from_code_column_only(spark, tmp_path):
    """The PQ memory claim, executed: persist the encoded index, score a
    query against it, and the scan must read ONLY (id, codes) — the raw
    embedding column never enters the plan."""
    from nosql_to_sql_migration_tool_spark.operators.pq import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    books = pq_codebooks(emb, train_limit=64)
    path = str(tmp_path / "pq_index")
    pq_encode(emb, books).write.parquet(path)
    enc = spark.read.parquet(path)
    top = pq_topk(
        emb, emb.filter(F.col("vec_id") == 0), books, k=5, enc=enc
    )
    plan = _plan(top)
    assert "ReadSchema: struct<vec_id:bigint,codes:" in plan, plan
    assert "embedding" not in plan.split("ReadSchema")[1][:200], plan
    assert top.count() == 5


def test_domain_mixture_sample_joins_broadcast_only(spark):
    """The rate table must broadcast — a sort-merge shuffle of the
    corpus against a handful of domain rows would be the wrong plan at
    any scale."""
    from nosql_to_sql_migration_tool_spark.operators.traindata import (
        domain_mixture_sample,
    )

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    plan = _plan(domain_mixture_sample(docs, "lang"))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
