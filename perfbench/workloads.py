"""The benchmark's workloads. Each is one closed-loop client calling the
engine's public entry points back to back.

A workload has these phases: ``setup(rep)`` (inputs plus one-time state,
timed as set-up), then per op ``prepare`` (untimed: next inputs),
``run`` (timed: the op itself) and ``check`` (untimed: outputs against
an independent DuckDB reference). In a traced run ``run_traced``
replaces ``run`` on every other op: it calls the same public layer
functions in the same order as the composition module (``workflow.py``
or ``pipeline.py``), with one span around each layer's calls.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from nosql_to_sql_migration_tool_spark import hadoop_fs, pipeline, workflow
from nosql_to_sql_migration_tool_spark.operators.cdc import (
    apply_changes_to_path,
    load_state,
    save_state,
    sync,
)
from nosql_to_sql_migration_tool_spark.operators.dedup import (
    build_band_index,
    contamination_scores,
    dedup_exact,
    dedup_near,
    minhash_candidates,
    near_dup_pairs,
)
from nosql_to_sql_migration_tool_spark.operators.infer import (
    infer_schema,
    spark_schema_from_stats,
)
from nosql_to_sql_migration_tool_spark.operators.normalize_docs import (
    normalize_document_table,
)
from nosql_to_sql_migration_tool_spark.operators.similarity import (
    build_embedding_index,
)
from nosql_to_sql_migration_tool_spark.operators.text import (
    assign_training_windows,
    with_lang_guess,
    with_text_stats,
)
from nosql_to_sql_migration_tool_spark.operators.validation import (
    validation_verdict,
)
from nosql_to_sql_migration_tool_spark.plans.ddl import (
    export_sql_schema,
    plan_tables,
)
from nosql_to_sql_migration_tool_spark.sources.registry import load_table
from nosql_to_sql_migration_tool_spark.streaming.ingest_stream import (
    gate_batch,
    gate_embedding_batch,
)

from perfbench import inputs
from perfbench.reference import Reference


def list_files(dirs: list[str]) -> dict[str, tuple[int, int]]:
    """``path -> (size, mtime_ns)`` of every file under ``dirs``."""
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def created(before: dict, after: dict) -> dict[str, int]:
    """Files new or rewritten between two listings: ``path -> size``."""
    return {p: v[0] for p, v in after.items() if before.get(p) != v}


def data_files(paths, under: str) -> list[str]:
    """Parquet part files among ``paths`` below directory ``under``."""
    prefix = under.rstrip(os.sep) + os.sep
    return [
        p for p in paths
        if p.startswith(prefix) and p.endswith(".parquet") and "/part-" in p
    ]


class Workload:
    """Base: inputs under ``<work>/inputs``, one-time state under
    ``<work>/state_<rep>``, per-op outputs wherever ``output_dirs`` says."""

    name = ""
    records_per_op = 0
    nominal_op_s = 5.0  # warm op latency on 4 cores; sets the timed op count

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.ref = Reference()
        self.input_dir = os.path.join(work, "inputs")

    def state_dir(self, rep: int) -> str:
        return os.path.join(self.work, f"state_{rep}")

    def op_dir(self, i: int) -> str:
        return os.path.join(self.work, f"op_{i}")

    def load(self, name: str):
        with self.tracer.span("registry"):
            return load_table(self.spark, self.input_dir, name)

    def check_setup(self) -> list[str]:
        return []

    def prepare(self, i: int) -> None:
        pass

    def output_dirs(self, i: int) -> list[str]:
        return [self.op_dir(i)]

    def layer_counts(self, i: int, made: dict[str, int]) -> dict[str, float]:
        """Per-op counts for the traced run, taken outside every span."""
        return {}

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.op_dir(i), ignore_errors=True)

    def close(self) -> None:
        self.ref.close()


# ---------------------------------------------------------------------------


class MigrateFull(Workload):
    """One op is one ``workflow.full_migration`` (mysql dialect, sample
    1000) of a ragged JSON collection into a fresh directory: infer ->
    DDL plan -> typed parse -> normalize into main + child tables ->
    parquet write -> validate."""

    name = "migrate_full"
    nominal_op_s = 4.0
    N_BASE, REPLICAS = 2000, 2
    TABLE, DOC, ID = "people", "doc", "doc_id"
    records_per_op = N_BASE * REPLICAS

    def setup(self, rep: int) -> None:
        self.docs_path = inputs.ragged_documents(
            self.seed, self.input_dir, self.N_BASE, self.REPLICAS
        )
        self.docs = self.load("ragged_docs")

    def check_setup(self) -> list[str]:
        self.expected = self.ref.ragged_table_counts(self.docs_path, self.TABLE)
        return []

    def run(self, i: int) -> None:
        self.report = workflow.full_migration(
            self.spark, self.docs, self.DOC, self.ID, self.TABLE, self.op_dir(i),
            dialect="mysql", sample_size=1000,
        )

    def run_traced(self, i: int) -> None:
        """``workflow.full_migration``, call for call, one span per layer."""
        spark, span, docs = self.spark, self.tracer.span, self.docs
        out, table, id_col = self.op_dir(i), self.TABLE, self.ID
        with span("infer"):
            stats = [
                r.asDict()
                for r in infer_schema(docs, self.DOC, id_col, sample_docs=1000).collect()
            ]
            n_sampled = min(1000, docs.count())
        with span("ddl"):
            plan = plan_tables(stats, table, primary_key=id_col, total_docs=n_sampled)
            os.makedirs(out, exist_ok=True)
            export_sql_schema(plan, os.path.join(out, f"schema_{table}.sql"), "mysql")
            doc_schema = spark_schema_from_stats(stats)
        typed = docs.select(
            F.col(id_col), F.from_json(F.col(self.DOC), doc_schema).alias("__doc")
        ).select(id_col, "__doc.*")
        report = workflow.MigrationReport(table, "FullMigration")
        with span("normalize_docs"):
            tables = normalize_document_table(typed, id_col, table)
            for name, df in tables.items():
                path = os.path.join(out, f"{name}.parquet")
                df.write.mode("overwrite").parquet(path)
                report.tables[name] = spark.read.parquet(path).count()
        with span("validation"):
            written = spark.read.parquet(os.path.join(out, f"{table}.parquet"))
            report.validation = (
                validation_verdict(tables[table], written, id_col, sample_size=10)
                .collect()[0]
                .asDict()
            )
        self.report = report

    def check(self, i: int) -> list[str]:
        fails = []
        if self.report.tables != self.expected:
            fails.append(f"migrated {self.report.tables} != {self.expected}")
        for name, n in self.expected.items():
            got = self.ref.rows(os.path.join(self.op_dir(i), f"{name}.parquet"))
            if got != n:
                fails.append(f"{name} on disk has {got} rows, expected {n}")
        if (self.report.validation or {}).get("status") != "PASSED":
            fails.append(f"validation {self.report.validation}")
        return fails

    def layer_counts(self, i: int, made: dict[str, int]) -> dict[str, float]:
        return {"normalize_docs.files_written": len(data_files(made, self.op_dir(i)))}


# ---------------------------------------------------------------------------


class SyncRecent(Workload):
    """One op is one ``workflow.incremental_migration`` hash-diff sync
    round of a lineitem-like table partitioned by ship month (83
    partitions). Each round the generator updates 0.6 %, deletes 0.15 %
    and inserts 0.15 % of the rows, all in the 12 most recent months.
    The initial load is set-up."""

    name = "sync_recent"
    nominal_op_s = 6.0
    ROWS = 10_000
    TABLE, KEY, PART = "lineitem", "sk", "ship_month"
    records_per_op = ROWS

    def setup(self, rep: int) -> None:
        self.source = inputs.SyncSource(self.seed, self.ROWS)
        self.source.write(os.path.join(self.input_dir, "sync_src_0.parquet"))
        self.snapshot = "sync_src_0"
        self.root = self.state_dir(rep)
        self.initial = workflow.incremental_migration(
            self.spark, self.load(self.snapshot), self.KEY, self.TABLE, self.root, self.PART
        )

    def check_setup(self) -> list[str]:
        fails = [] if self.initial.operation == "InitialLoad" else [
            f"initial load ran as {self.initial.operation}"
        ]
        return fails + self._check_target()

    @property
    def target(self) -> str:
        return os.path.join(self.root, f"{self.TABLE}.parquet")

    @property
    def state(self) -> str:
        return os.path.join(self.root, f"sync_state_{self.TABLE}")

    def output_dirs(self, i: int) -> list[str]:
        return [self.root]

    def cleanup(self, i: int) -> None:
        pass

    def _check_target(self) -> list[str]:
        cols = sorted(self.source.cols)
        want = self.ref.content_hash(
            os.path.join(self.input_dir, f"{self.snapshot}.parquet"), cols
        )
        got = self.ref.content_hash(self.target, cols)
        return [] if got == want else [f"target (rows, hash) {got} != source {want}"]

    def prepare(self, i: int) -> None:
        self.prior_rows = self.ref.rows(self.target)
        self.churn = self.source.churn()
        self.snapshot = f"sync_src_{i + 1}"
        self.source.write(os.path.join(self.input_dir, f"{self.snapshot}.parquet"))
        self.src = self.load(self.snapshot)

    def run(self, i: int) -> None:
        self.report = workflow.incremental_migration(
            self.spark, self.src, self.KEY, self.TABLE, self.root, self.PART
        )

    def run_traced(self, i: int) -> None:
        """The sync branch of ``workflow.incremental_migration``, call for
        call, one span per ``cdc`` stage."""
        spark, span = self.spark, self.tracer.span
        # through the module, so a traced run's call meter sees the call
        if not hadoop_fs.path_exists(spark, self.target):
            raise RuntimeError("sync target missing after the initial load")
        report = workflow.MigrationReport(self.TABLE, "IncrementalSync")
        with span("cdc.diff"):
            diff, new_state = sync(self.src, load_state(spark, self.state), self.KEY)
            new_state_rows = new_state.localCheckpoint(eager=True)
            report.validation = {
                r["change_type"]: r["n"]
                for r in diff.groupBy("change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        with span("cdc.apply"):
            apply_changes_to_path(spark, self.target, diff, self.KEY, self.PART)
        with span("cdc.state"):
            save_state(new_state_rows, self.state)
        report.tables[self.TABLE] = spark.read.parquet(self.target).count()
        self.report = report

    def check(self, i: int) -> list[str]:
        c, fails = self.churn, []
        want = {
            "NEW": c.inserted,
            "UPDATED": c.updated,
            "DELETED": c.deleted,
            "UNCHANGED": self.prior_rows - c.updated - c.deleted,
        }
        if self.report.operation != "IncrementalSync" or self.report.validation != want:
            fails.append(
                f"sync {self.report.operation} {self.report.validation} != planted {want}"
            )
        rows = self.prior_rows + c.inserted - c.deleted
        if self.report.tables != {self.TABLE: rows}:
            fails.append(f"target rows {self.report.tables} != {rows}")
        return fails + self._check_target()

    def layer_counts(self, i: int, made: dict[str, int]) -> dict[str, float]:
        target = data_files(made, self.target)
        changed = self.churn.updated + self.churn.deleted + self.churn.inserted
        state = sum(v for p, v in made.items() if p.startswith(self.state + os.sep))
        return {
            "cdc.apply.partitions_rewritten": len({os.path.dirname(p) for p in target}),
            "cdc.apply.rows_rewritten_per_changed_row": (
                self.ref.rows_of(target) / changed if target else 0.0
            ),
            "cdc.state.bytes_written_mb": state / 1e6,
        }


# ---------------------------------------------------------------------------


class CorpusClean(Workload):
    """One op is one ``pipeline.clean_corpus(report=True)`` pass over the
    planted-duplicate corpus (seeded documents plus exact and near
    copies; eval set = 1/97 of the corpus), with its training windows
    forced by writing them to a fresh directory."""

    name = "corpus_clean"
    nominal_op_s = 10.0
    BASE_DOCS = 600

    def setup(self, rep: int) -> None:
        inputs.planted_corpus(self.seed, self.input_dir, self.BASE_DOCS)
        self.docs = self.load("corpus_docs")
        self.eval_set = self.load("corpus_eval")

    def check_setup(self) -> list[str]:
        path = os.path.join(self.input_dir, "corpus_docs.parquet")
        self.records_per_op = self.ref.rows(path)
        return []

    def _windows(self, i: int) -> str:
        return os.path.join(self.op_dir(i), "windows.parquet")

    def run(self, i: int) -> None:
        _, windows, self.report = pipeline.clean_corpus(
            self.docs, self.eval_set, report=True
        )
        windows.write.parquet(self._windows(i))

    def run_traced(self, i: int) -> None:
        """``pipeline.clean_corpus`` with default thresholds, stage for
        stage; each span materializes its stage's frame."""
        span, docs = self.tracer.span, self.docs
        with span("text.gate"):
            quality = (
                with_lang_guess(with_text_stats(docs, "text"), "text")
                .filter((F.col("quality_score") >= 0.3) & (F.col("lang_guess") == "en"))
                .select(*docs.columns)
                .localCheckpoint(eager=True)
            )
        with span("dedup.exact"):
            exact = dedup_exact(quality, "text", "doc_id").localCheckpoint(eager=True)
        with span("dedup.near"):
            near = dedup_near(exact, "text", "doc_id", 0.6).localCheckpoint(eager=True)
        with span("dedup.contamination"):
            contaminated = (
                contamination_scores(near, self.eval_set, "text", "doc_id")
                .filter(F.col("contamination") > 0.5)
                .select("doc_id")
            )
            clean = near.join(contaminated, "doc_id", "left_anti").localCheckpoint(eager=True)
        with span("text.windows"):
            assign_training_windows(clean, budget_tokens=256).write.parquet(self._windows(i))
        self.report = pipeline.CorpusCleanReport(
            docs.count(), quality.count(), exact.count(), near.count(), clean.count()
        )
        self.exact = exact

    def check(self, i: int) -> list[str]:
        r, fails = self.report, []
        counts = [r.n_input, r.n_quality, r.n_exact, r.n_near, r.n_clean]
        if counts != sorted(counts, reverse=True) or r.n_clean <= 0:
            fails.append(f"report counts not decreasing: {counts}")
        if r.n_input != self.records_per_op:
            fails.append(f"n_input {r.n_input} != {self.records_per_op} generated")
        if r.n_exact >= r.n_quality:
            fails.append("exact dedup removed nothing")
        n, distinct, planted, evals = self.ref.windows_summary(
            self._windows(i),
            (inputs.EXACT_COPY_OFFSET, inputs.NEAR_COPY_OFFSET),
            inputs.EVAL_MODULUS,
        )
        if n != r.n_clean or distinct != n:
            fails.append(f"windows hold {n} rows / {distinct} ids for {r.n_clean} survivors")
        if planted or evals:
            fails.append(f"{planted} exact copies and {evals} eval docs survived")
        return fails

    def layer_counts(self, i: int, made: dict[str, int]) -> dict[str, float]:
        """Candidate and verified LSH pairs over the exact-dedup survivors
        of the traced op, recomputed here, outside every span."""
        cands = minhash_candidates(self.exact, "text", "doc_id").localCheckpoint(eager=True)
        n_cand = cands.count()
        n_pairs = near_dup_pairs(self.exact, "text", "doc_id", 0.6, candidates=cands).count()
        return {
            "dedup.cand_pairs": n_cand,
            "dedup.verified_pairs": n_pairs,
            "dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0,
        }


# ---------------------------------------------------------------------------


class IngestGate(Workload):
    """One op is one gate cycle: ``ingest_stream.gate_batch`` on a doc
    micro-batch, then ``gate_embedding_batch`` on a vector micro-batch,
    both probing the band and hyperplane indexes built during set-up.
    Every cycle appends to the sinks, ledgers and indexes."""

    name = "ingest_gate"
    nominal_op_s = 10.0
    CORPUS_DOCS, CORPUS_VECS = 2000, 1000
    BATCH_DOCS, BATCH_VECS, PLANTED = 300, 150, 10
    records_per_op = BATCH_DOCS + BATCH_VECS

    def setup(self, rep: int) -> None:
        self.stream = inputs.IngestStream(
            self.seed, self.CORPUS_DOCS, self.CORPUS_VECS,
            self.BATCH_DOCS, self.BATCH_VECS, self.PLANTED,
        )
        self.stream.write_corpus(self.input_dir)
        self.corpus_docs = self.load("ingest_docs")
        self.corpus_vecs = self.load("ingest_vecs")
        self.root = self.state_dir(rep)
        build_band_index(self.corpus_docs, self.path("doc_index"))
        build_embedding_index(self.corpus_vecs, self.path("vec_index"))

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def output_dirs(self, i: int) -> list[str]:
        return [self.root]

    def cleanup(self, i: int) -> None:
        pass

    def prepare(self, i: int) -> None:
        self.ids = self.stream.batch(i, self.input_dir)
        self.batch_docs = self.load(f"stream_docs_{i}")
        self.batch_vecs = self.load(f"stream_vecs_{i}")

    def _gate_docs(self, i: int) -> None:
        gate_batch(
            self.batch_docs, i, self.corpus_docs, self.path("doc_index"),
            self.path("doc_accepted"), self.path("doc_quarantine"),
        )

    def _gate_vecs(self, i: int) -> None:
        gate_embedding_batch(
            self.batch_vecs, i, self.corpus_vecs, self.path("vec_index"),
            self.path("vec_accepted"), self.path("vec_quarantine"),
        )

    def run(self, i: int) -> None:
        self._gate_docs(i)
        self._gate_vecs(i)

    def run_traced(self, i: int) -> None:
        with self.tracer.span("ingest_stream.gate"):
            self._gate_docs(i)
        with self.tracer.span("ingest_stream.emb_gate"):
            self._gate_vecs(i)

    def _check_sinks(self, kind: str, id_col: str, i: int, want: set, planted: set) -> list[str]:
        acc = self.ref.sink_ids(self.path(f"{kind}_accepted"), id_col, i)
        qua = self.ref.sink_ids(self.path(f"{kind}_quarantine"), id_col, i)
        self.routed[kind] = (len(acc), len(qua))
        fails = []
        if len(acc) + len(qua) != len(want) or set(acc) | set(qua) != want:
            fails.append(f"{kind}: {len(acc)}+{len(qua)} sunk ids for {len(want)} streamed")
        if not planted <= set(qua):
            fails.append(f"{kind}: {len(planted - set(qua))} planted copies not quarantined")
        ledger = self.ref.ledger_batches(self.path(f"{kind}_accepted") + ".__ledger")
        if sorted(ledger) != list(range(i + 1)) or ledger.get(i) != len(want):
            fails.append(f"{kind}: ledger batches {ledger}")
        return fails

    def check(self, i: int) -> list[str]:
        ids, self.routed = self.ids, {}
        return self._check_sinks(
            "doc", "doc_id", i, ids["doc_ids"], ids["planted_doc_ids"]
        ) + self._check_sinks("vec", "vec_id", i, ids["vec_ids"], ids["planted_vec_ids"])

    def layer_counts(self, i: int, made: dict[str, int]) -> dict[str, float]:
        acc, qua = self.routed["doc"]
        return {
            "ingest_stream.gate.rows_accepted": acc,
            "ingest_stream.gate.rows_quarantined": qua,
        }


WORKLOADS = {w.name: w for w in (MigrateFull, SyncRecent, CorpusClean, IngestGate)}
