"""Seeded input generator for the benchmark's workloads.

Every input is a pure function of ``--seed`` (and, for streams, of the
round or cycle number), written as parquet under the benchmark's own work
directory and handed to the engine only as files. The generator never
runs the engine: it uses NumPy, pyarrow and DuckDB, so the same bytes
also feed the independent DuckDB reference checks.

The table layouts follow the engine's test tables (TPC-H-like
``customer`` and ``lineitem``, the 30-word ``documents`` corpus, 64-dim
``embeddings``) and its ``RAGGED_DOCUMENTS_SQL`` fixture. Each generator
asserts the contract its workload relies on and raises
``InputContractError`` when it does not hold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the test documents table: 30 words, lower-case, with
# the English markers "the" and "a" so the language gate keeps most docs.
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)

# Planted-copy key offsets of the duplicated_documents fixture layout.
EXACT_COPY_OFFSET = 100_000
NEAR_COPY_OFFSET = 200_000
EVAL_MODULUS = 97

# Ingest-stream id spaces: corpus ids stay below STREAM_ID_BASE.
STREAM_ID_BASE = 10_000_000
PLANTED_ID_BASE = 20_000_000
IDS_PER_CYCLE = 10_000

# Sync source: 83 ship months (1992-01 .. 1998-11), churn confined to the
# most recent 12.
SHIP_MONTHS = np.array(
    [y * 100 + m for y in range(1992, 1999) for m in range(1, 13)][:83],
    dtype=np.int32,
)
RECENT_MONTHS = SHIP_MONTHS[-12:]


class InputContractError(RuntimeError):
    """A generated input broke the contract its workload depends on."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise InputContractError(what)


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(VOCAB[words[pos:pos + k]]))
        pos += k
    return out


# ---------------------------------------------------------------------------
# migrate_full: ragged JSON documents
# ---------------------------------------------------------------------------


def ragged_documents(seed: int, out_dir: str, n_base: int, replicas: int) -> str:
    """``replicas`` key-shifted copies of an ``n_base``-row customer table,
    rendered to JSON documents with the engine's ``RAGGED_DOCUMENTS_SQL``
    layout. Writes ``ragged_docs.parquet`` (``doc_id BIGINT, doc
    VARCHAR``) and returns its path."""
    from nosql_to_sql_migration_tool_spark.fixtures import RAGGED_DOCUMENTS_SQL

    rng = np.random.default_rng([seed, 1])
    shifts = rng.integers(0, 1_000_000, size=replicas) + (
        np.arange(replicas, dtype=np.int64) * 1_000_000
    )
    keys = (np.arange(1, n_base + 1, dtype=np.int64)[None, :] + shifts[:, None]).ravel()
    _require(len(np.unique(keys)) == len(keys), "ragged doc keys not unique")
    customer = pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), len(keys))],
        }
    )
    path = os.path.join(out_dir, "ragged_docs.parquet")
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.register("customer", customer)
        con.execute(
            f"COPY ({RAGGED_DOCUMENTS_SQL} ORDER BY doc_id) TO '{path}' (FORMAT parquet)"
        )
    finally:
        con.close()
    return path


# ---------------------------------------------------------------------------
# sync_recent: lineitem-like source with recency-skewed churn
# ---------------------------------------------------------------------------


@dataclass
class Churn:
    updated: int
    deleted: int
    inserted: int


class SyncSource:
    """A keyed lineitem-like snapshot that changes a little every round.

    ``sk`` is a surrogate key, unique by construction and asserted unique
    before every round (lineitem's natural ``(l_orderkey, l_linenumber)``
    is not unique in the test data, which would make the sync state
    grow without bound). ``ship_month`` (yyyymm) is the partition column.
    Each round updates ``update_frac`` of the rows and deletes and
    inserts ``delete_frac``/``insert_frac``, all inside the 12 most
    recent months."""

    def __init__(
        self,
        seed: int,
        n_rows: int,
        update_frac: float = 0.006,
        delete_frac: float = 0.0015,
        insert_frac: float = 0.0015,
    ):
        self.rng = np.random.default_rng([seed, 2])
        self.n_rows = n_rows
        self.fracs = (update_frac, delete_frac, insert_frac)
        self.next_key = n_rows
        self.cols = self._rows(np.arange(n_rows, dtype=np.int64), SHIP_MONTHS)
        self._check_keys()

    def _rows(self, keys: np.ndarray, months: np.ndarray) -> dict:
        n, rng = len(keys), self.rng
        qty = rng.integers(1, 51, size=n).astype(np.float64)
        return {
            "sk": keys,
            "l_orderkey": rng.integers(1, 600_000, size=n, dtype=np.int64),
            "l_partkey": rng.integers(1, 20_000, size=n, dtype=np.int64),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, size=n), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
            "ship_month": months[rng.integers(0, len(months), size=n)],
        }

    def _check_keys(self) -> None:
        sk = self.cols["sk"]
        _require(len(np.unique(sk)) == len(sk), "sync surrogate key not unique")

    def write(self, path: str) -> str:
        return _write(pa.table(self.cols), path)

    def churn(self) -> Churn:
        """Apply one round of changes in place; return the planted counts."""
        uf, df, inf = self.fracs
        n_upd = int(round(self.n_rows * uf))
        n_del = int(round(self.n_rows * df))
        n_ins = int(round(self.n_rows * inf))
        recent = np.flatnonzero(np.isin(self.cols["ship_month"], RECENT_MONTHS))
        _require(len(recent) >= n_upd + n_del, "too few recent rows to churn")
        picked = self.rng.choice(recent, size=n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        cols = {k: v.copy() for k, v in self.cols.items()}
        cols["l_quantity"][upd] += 1.0
        keep = np.ones(len(cols["sk"]), dtype=bool)
        keep[dele] = False
        cols = {k: v[keep] for k, v in cols.items()}
        new = self._rows(
            np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64),
            RECENT_MONTHS,
        )
        self.next_key += n_ins
        self.cols = {k: np.concatenate([cols[k], new[k]]) for k in cols}
        self._check_keys()
        return Churn(updated=n_upd, deleted=n_del, inserted=n_ins)


# ---------------------------------------------------------------------------
# corpus_clean: documents plus planted exact and near copies
# ---------------------------------------------------------------------------


def documents(rng: np.random.Generator, ids: np.ndarray, lo: int = 8, hi: int = 110) -> pa.Table:
    """Rows like the test ``documents`` table: ``lo``..``hi-1`` words
    from VOCAB."""
    return pa.table({"doc_id": ids.astype(np.int64), "text": _texts(rng, len(ids), lo, hi)})


def planted_corpus(seed: int, out_dir: str, n_docs: int) -> None:
    """The ``duplicated_documents`` layout over a seeded ``n_docs`` corpus:
    exact copies of ``doc_id % 10 == 0`` at +100000, near copies of
    ``doc_id % 7 == 0`` at +200000 (``'xq zz '`` prepended). The eval set
    is every corpus row with ``doc_id % 97 == 0``. Writes the
    ``corpus_docs`` and ``corpus_eval`` tables."""
    _require(n_docs < EXACT_COPY_OFFSET, "corpus too large for the copy offsets")
    base = documents(np.random.default_rng([seed, 3]), np.arange(n_docs))
    con = duckdb.connect()
    try:
        con.register("base", base)
        corpus = con.sql(
            f"""
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + {EXACT_COPY_OFFSET}, text FROM base WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + {NEAR_COPY_OFFSET}, 'xq zz ' || text FROM base
            WHERE doc_id % 7 = 0
            ORDER BY doc_id
            """
        ).arrow()
    finally:
        con.close()
    ids = corpus.column("doc_id").to_numpy()
    _require(len(np.unique(ids)) == len(ids), "corpus ids not unique")
    _write(corpus, os.path.join(out_dir, "corpus_docs.parquet"))
    _write(
        corpus.take(np.flatnonzero(ids % EVAL_MODULUS == 0)),
        os.path.join(out_dir, "corpus_eval.parquet"),
    )


# ---------------------------------------------------------------------------
# ingest_gate: an indexed corpus and an endless stream of batches
# ---------------------------------------------------------------------------


def _vectors(rng: np.random.Generator, n: int, dim: int) -> pa.Array:
    return pa.array(
        list(rng.standard_normal((n, dim)).astype(np.float32)), pa.list_(pa.float32())
    )


class IngestStream:
    """Corpus-side documents and vectors (indexed once during set-up) plus
    the seeded stream of gate cycles. Cycle ``k`` brings ``batch_docs``
    docs and ``batch_vecs`` vectors, of which ``planted`` each are exact
    copies of corpus rows under fresh ids. Stream ids are asserted
    disjoint from corpus ids (the gate's id-namespace contract)."""

    def __init__(
        self,
        seed: int,
        n_corpus_docs: int,
        n_corpus_vecs: int,
        batch_docs: int,
        batch_vecs: int,
        planted: int,
        dim: int = 64,
    ):
        _require(
            n_corpus_docs < STREAM_ID_BASE and n_corpus_vecs < STREAM_ID_BASE,
            "corpus ids overlap the stream id space",
        )
        _require(
            planted < min(batch_docs, batch_vecs) and max(batch_docs, batch_vecs) < IDS_PER_CYCLE,
            "planted copies must be a minority of a batch that fits its id block",
        )
        self.seed = seed
        self.batch_docs, self.batch_vecs = batch_docs, batch_vecs
        self.planted, self.dim = planted, dim
        rng = np.random.default_rng([seed, 4])
        self.docs = documents(rng, np.arange(n_corpus_docs))
        self.vecs = pa.table(
            {
                "vec_id": np.arange(n_corpus_vecs, dtype=np.int64),
                "embedding": _vectors(rng, n_corpus_vecs, dim),
            }
        )

    def write_corpus(self, out_dir: str) -> None:
        _write(self.docs, os.path.join(out_dir, "ingest_docs.parquet"))
        _write(self.vecs, os.path.join(out_dir, "ingest_vecs.parquet"))

    def _batch(self, rng, k: int, corpus: pa.Table, id_col: str, n: int, fresh_rows) -> pa.Table:
        fresh = STREAM_ID_BASE + k * IDS_PER_CYCLE
        planted = PLANTED_ID_BASE + k * IDS_PER_CYCLE
        value_col = corpus.column_names[1]
        src = rng.choice(corpus.num_rows, size=self.planted, replace=False)
        table = pa.concat_tables(
            [
                fresh_rows(fresh + np.arange(n - self.planted, dtype=np.int64)),
                pa.table(
                    {
                        id_col: planted + np.arange(self.planted, dtype=np.int64),
                        value_col: corpus.column(value_col).take(src),
                    }
                ),
            ]
        )
        ids = table.column(id_col).to_numpy()
        _require(ids.min() >= STREAM_ID_BASE, "stream ids collide with corpus ids")
        _require(len(np.unique(ids)) == len(ids), "batch ids not unique")
        return table

    def batch(self, k: int, out_dir: str) -> dict:
        """Write cycle ``k``'s ``stream_docs_<k>`` / ``stream_vecs_<k>``
        tables; return their id sets and the planted-copy ids."""
        rng = np.random.default_rng([self.seed, 5, k])
        docs = self._batch(
            rng, k, self.docs, "doc_id", self.batch_docs, lambda ids: documents(rng, ids)
        )
        vecs = self._batch(
            rng, k, self.vecs, "vec_id", self.batch_vecs,
            lambda ids: pa.table(
                {"vec_id": ids, "embedding": _vectors(rng, len(ids), self.dim)}
            ),
        )
        _write(docs, os.path.join(out_dir, f"stream_docs_{k}.parquet"))
        _write(vecs, os.path.join(out_dir, f"stream_vecs_{k}.parquet"))
        doc_ids = docs.column("doc_id").to_numpy()
        vec_ids = vecs.column("vec_id").to_numpy()
        return {
            "doc_ids": set(doc_ids.tolist()),
            "vec_ids": set(vec_ids.tolist()),
            "planted_doc_ids": set(doc_ids[doc_ids >= PLANTED_ID_BASE].tolist()),
            "planted_vec_ids": set(vec_ids[vec_ids >= PLANTED_ID_BASE].tolist()),
        }
