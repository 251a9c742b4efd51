"""Independent DuckDB references for the per-op correctness checks.

Nothing here imports the engine: expected values are computed by DuckDB
from the generated input files, and the engine's outputs are read back
from disk by DuckDB, never through Spark.
"""

from __future__ import annotations

import os

import duckdb


def _files(path: str) -> str:
    """A DuckDB file list for a Spark-written parquet directory (or a
    single parquet file)."""
    if os.path.isfile(path):
        return f"'{path}'"
    return f"'{path}/**/*.parquet'"


class Reference:
    def __init__(self):
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def rows(self, path: str) -> int:
        return self.scalar(f"SELECT count(*) FROM read_parquet({_files(path)})")

    def rows_of(self, files: list[str]) -> int:
        listed = ", ".join(f"'{f}'" for f in files)
        return self.scalar(f"SELECT count(*) FROM read_parquet([{listed}])")

    # -- migrate_full ---------------------------------------------------

    def ragged_table_counts(self, docs_path: str, table: str) -> dict[str, int]:
        """Expected per-table row counts of a normalized ragged-document
        collection, computed with DuckDB's JSON functions: one main row
        per doc, one address row per doc with an address object, one
        row per element of the tags and items arrays."""
        n, addr, tags, items = self.con.execute(
            f"""
            SELECT count(*),
                   count(*) FILTER (WHERE json_type(doc, '$.address') = 'OBJECT'),
                   coalesce(sum(json_array_length(doc, '$.tags')), 0),
                   coalesce(sum(json_array_length(doc, '$.items')), 0)
            FROM read_parquet('{docs_path}')
            """
        ).fetchone()
        return {
            table: n,
            f"{table}_address": addr,
            f"{table}_tags": tags,
            f"{table}_items": items,
        }

    # -- sync_recent ----------------------------------------------------

    def content_hash(self, path: str, cols: list[str]) -> tuple[int, int]:
        """``(rows, order-insensitive hash)`` of a table's ``cols``; hive
        partition values are read as text so both sides compare alike."""
        body = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in cols)
        return self.con.execute(
            f"""
            SELECT count(*), coalesce(sum(hash(concat_ws('|', {body}))::HUGEINT), 0)
            FROM read_parquet({_files(path)}, hive_partitioning = true,
                              hive_types_autocast = false)
            """
        ).fetchone()

    # -- corpus_clean ---------------------------------------------------

    def windows_summary(self, path: str, exact_ids: tuple[int, int], eval_mod: int):
        """``(rows, distinct ids, ids in the exact-copy range, eval ids)``
        of a written training-window table."""
        lo, hi = exact_ids
        return self.con.execute(
            f"""
            SELECT count(*), count(DISTINCT doc_id),
                   count(*) FILTER (WHERE doc_id >= {lo} AND doc_id < {hi}),
                   count(*) FILTER (WHERE doc_id % {eval_mod} = 0)
            FROM read_parquet({_files(path)})
            """
        ).fetchone()

    # -- ingest_gate ----------------------------------------------------

    def sink_ids(self, path: str, id_col: str, batch_id: int) -> list[int]:
        if not os.path.isdir(path):
            return []
        return [
            r[0]
            for r in self.con.execute(
                f"""
                SELECT {id_col} FROM read_parquet({_files(path)},
                                                  hive_partitioning = true)
                WHERE batch_id = {int(batch_id)}
                """
            ).fetchall()
        ]

    def ledger_batches(self, path: str) -> dict[int, int]:
        """``batch_id -> rows`` of a batch_id-partitioned replay ledger."""
        if not os.path.isdir(path):
            return {}
        return dict(
            self.con.execute(
                f"""
                SELECT batch_id, count(*)
                FROM read_parquet({_files(path)}, hive_partitioning = true)
                GROUP BY batch_id
                """
            ).fetchall()
        )
