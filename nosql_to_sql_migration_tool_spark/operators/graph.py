"""Graph centrality over the near-dup pair graph — fixed-round
PageRank (Page et al. 1999), the ranking complement of the component
closure in ``dedup.py``: components tell you WHICH documents form a
duplicate cluster, PageRank tells you which document is the cluster's
HUB (the one every variant links to through shared content) — the
survivor a quality-agnostic pipeline keeps.

Scale shape:

- one round = one edge-keyed join (edges × current ranks, both sides
  hash-partitioned by the node) + one combinable per-node sum — the
  standard distributed PageRank shape; rounds are FIXED (pinned
  ``n_iter``), so total work is n_iter linear passes over the EDGE
  set, which for a verified near-dup graph is ≪ corpus size;
- ``localCheckpoint`` per round cuts lineage the same way the
  label-propagation loop does (``dedup.py``);
- degrees are computed once and carried inside the rank frame, so the
  iteration joins exactly two frames.

Determinism (the cross-engine replay contract): every arithmetic step
is either a single double operation rounded to 6 dp or a DECIMAL(18,6)
sum (order-free), so two engines replaying the same pinned round count
produce bit-identical ranks: contribution = round(pr/deg, 6) as
DECIMAL, new rank = round(0.15/N + 0.85 · double(Σcontrib), 6). No
convergence test — fixed rounds ARE the spec, as with the pinned BPE
merge count and k-means round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    n_iter: int = 3,
) -> DataFrame:
    """Fixed-round PageRank over an UNDIRECTED pair graph (each pair
    contributes both directions). Returns ``(node, pagerank)`` for
    every node appearing in an edge. Damping 0.85; initial rank 1/N.

    r16 optimization (guide §5: localCheckpoint only where a frame is
    REUSED): the r15 shape eagerly checkpointed ``ranks`` after every
    round, but each round's ranks has exactly ONE consumer (the next
    round) — the checkpoint bought no dedup, only a driver-synchronized
    action and an executor-disk write per round. With a FIXED 3-round
    unroll (no convergence count forcing execution mid-loop) the whole
    chain now runs lazily as one job whose shuffle boundaries
    materialize each round anyway: 0.87 -> 0.73 s min-of-4,
    hash-identical. ``edges``/initial ``ranks`` keep their checkpoints
    (multi-consumer: degree table + every round)."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
    n_nodes = deg.select(F.count(F.lit(1)).alias("__n"))
    ranks = (
        deg.crossJoin(F.broadcast(n_nodes))
        .select(
            F.col("u").alias("node"),
            "__d",
            "__n",
            F.round(F.lit(1.0) / F.col("__n"), 6).alias("pr"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iter):
        contrib = edges.join(
            ranks, edges["u"] == ranks["node"]
        ).select(
            F.col("v"),
            F.col("__n"),
            F.round(F.col("pr") / F.col("__d"), 6)
            .cast("decimal(18,6)")
            .alias("__c"),
        )
        sums = contrib.groupBy("v", "__n").agg(
            F.sum("__c").alias("__s")
        )
        new_pr = F.round(
            F.lit(0.15) / F.col("__n")
            + F.lit(0.85) * F.col("__s").cast("double"),
            6,
        )
        ranks = (
            sums.select(
                F.col("v").alias("node"), F.col("__n"), new_pr.alias("pr")
            )
            .join(deg, F.col("node") == deg["u"])
            .select("node", "__d", "__n", "pr")
        )
    return ranks.select("node", F.col("pr").alias("pagerank"))


def pagerank_sql(
    pairs_cte: str,
    src: str = "id_a",
    dst: str = "id_b",
    n_iter: int = 3,
) -> str:
    """DuckDB twin of ``pagerank``: the iteration unrolled into
    ``n_iter`` chained CTEs over a pairs CTE named ``pairs_cte`` —
    identical per-round algebra, so rank drift anywhere in the replay
    breaks the hash. ``__e`` is MATERIALIZED: every round references
    it (and ``__deg``/``__n`` derive from it), and DuckDB otherwise
    re-derives the whole pairs CTE once per reference."""
    prev = "__r0"
    iters = []
    for i in range(1, n_iter + 1):
        cur = f"__r{i}"
        iters.append(
            f"""{cur} AS (
  SELECT e.v AS node, any_value(n.n) AS __n,
         round(CAST(0.15 AS DOUBLE) / any_value(n.n)
               + 0.85 * CAST(sum(CAST(round(CAST(r.pr AS DOUBLE) / d.d, 6)
                                      AS DECIMAL(18,6))) AS DOUBLE), 6) AS pr
  FROM __e e
  JOIN {prev} r ON e.u = r.node
  JOIN __deg d ON e.u = d.u
  CROSS JOIN __n n
  GROUP BY e.v
)"""
        )
        prev = cur
    chain = ",\n".join(iters)
    return f"""
__e AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT {src} AS u, {dst} AS v FROM {pairs_cte}
    UNION ALL
    SELECT {dst} AS u, {src} AS v FROM {pairs_cte}
  )
),
__deg AS (SELECT u, count(*) AS d FROM __e GROUP BY u),
__n AS (SELECT count(*) AS n FROM __deg),
__r0 AS (
  SELECT u AS node, round(CAST(1.0 AS DOUBLE) / n.n, 6) AS pr
  FROM __deg CROSS JOIN __n n
),
{chain}
SELECT node, pr AS pagerank FROM {prev}
"""
