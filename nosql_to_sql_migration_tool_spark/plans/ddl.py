"""SQL type mapping + DDL generation — the reference's schema-generation
surface, driven by the distributed inference stats.

Pipeline position: ``infer_schema`` (operators/infer.py) produces per-path
stats ``(path, majority_type, max_len, n_docs, …)``; ``plan_tables``
partitions those paths into main/nested/array table plans exactly like
``New-SQLSchema`` (private/Sql_Schema_Generator.ps1:57-181); ``render_*``
emits CREATE TABLE DDL per dialect.

Type mapping — ``Convert-MongoTypeToSQL`` parity
(private/Sql_Schema_Generator.ps1:404-458):

    _id (by name)  -> VARCHAR(24)        string  -> VARCHAR(255|MAX)
    integer        -> INT                number  -> DECIMAL(18,2)
    boolean        -> BIT                datetime-> DATETIME2
    ObjectId       -> VARCHAR(24)        null    -> VARCHAR(255)
    anything else  -> VARCHAR(MAX)

VARCHAR sizing deviation (documented): the reference inspects only its ≤3
retained sample values for the >255 test (:427-433); we use the true
``max_len`` over all sampled values — the intended semantics with strictly
better information.

Dialects are templates, not regex rewrites: the MySQL template reproduces
the ``Convert-ToMySQLSyntax`` mapping (private/Data_Migration.ps1:324-361 —
backtick quoting, AUTO_INCREMENT, TINYINT(1), DATETIME, DROP TABLE IF
EXISTS) plus VARCHAR(MAX)->LONGTEXT, which the reference's rewriter misses
(VARCHAR(MAX) is invalid MySQL — documented quirk fix per SURVEY §1.4).

NOT NULL intended semantics (SURVEY §1.4 quirk 2): a column is NOT NULL
iff the field occurs in 100% of sampled documents (``n_docs ==
total_docs``); the reference's comparison was degenerate (always true).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, functions as F

VARCHAR_LIMIT = 255

DIALECTS = ("ansi", "mysql", "sqlserver")

# dialect -> (quote open, quote close, identity clause, type overrides,
#             drop template)
_QUOTES = {"ansi": '""', "mysql": "``", "sqlserver": "[]"}
_IDENTITY = {
    "ansi": "INT GENERATED ALWAYS AS IDENTITY",
    "mysql": "INT AUTO_INCREMENT",
    "sqlserver": "INT IDENTITY(1,1)",
}
_TYPE_OVERRIDES = {
    "ansi": {"BIT": "BOOLEAN", "DATETIME2": "TIMESTAMP", "VARCHAR(MAX)": "TEXT"},
    "mysql": {
        "BIT": "TINYINT(1)",
        "DATETIME2": "DATETIME",
        "VARCHAR(MAX)": "LONGTEXT",
    },
    "sqlserver": {},
}
_DROP = {
    "ansi": "DROP TABLE IF EXISTS {t};",
    "mysql": "DROP TABLE IF EXISTS {t};",
    "sqlserver": "IF OBJECT_ID('{t}', 'U') IS NOT NULL DROP TABLE {t};",
}


def sql_type(majority_type: str, path: str = "", max_len: int | None = None) -> str:
    """Majority-vote type -> canonical (SQL Server flavored) SQL type."""
    name = path.rsplit(".", 1)[-1]
    if name == "_id":
        return "VARCHAR(24)"
    if majority_type == "string":
        if max_len is not None and max_len > VARCHAR_LIMIT:
            return "VARCHAR(MAX)"
        return f"VARCHAR({VARCHAR_LIMIT})"
    return {
        "integer": "INT",
        "number": "DECIMAL(18,2)",
        "boolean": "BIT",
        "datetime": "DATETIME2",
        "ObjectId": "VARCHAR(24)",
        "null": f"VARCHAR({VARCHAR_LIMIT})",
    }.get(majority_type, "VARCHAR(MAX)")


def sql_type_expr(path: Column, majority_type: Column, max_len: Column) -> Column:
    """The identical mapping as a Spark Column expression, so type
    assignment over inference stats stays a distributed plan (and can be
    oracle-checked value-by-value)."""
    leaf = F.element_at(F.split(path, r"\."), -1)
    return (
        F.when(leaf == "_id", F.lit("VARCHAR(24)"))
        .when(
            majority_type == "string",
            F.when(max_len > VARCHAR_LIMIT, F.lit("VARCHAR(MAX)")).otherwise(
                F.lit(f"VARCHAR({VARCHAR_LIMIT})")
            ),
        )
        .when(majority_type == "integer", F.lit("INT"))
        .when(majority_type == "number", F.lit("DECIMAL(18,2)"))
        .when(majority_type == "boolean", F.lit("BIT"))
        .when(majority_type == "datetime", F.lit("DATETIME2"))
        .when(majority_type == "ObjectId", F.lit("VARCHAR(24)"))
        .when(majority_type == "null", F.lit(f"VARCHAR({VARCHAR_LIMIT})"))
        .otherwise(F.lit("VARCHAR(MAX)"))
    )


def sql_type_oracle(path: str, majority_type: str, max_len: str) -> str:
    """DuckDB SQL text computing the identical mapping (oracle side);
    arguments are SQL expressions."""
    return f"""CASE
      WHEN regexp_extract({path}, '([^.]+)$', 1) = '_id' THEN 'VARCHAR(24)'
      WHEN {majority_type} = 'string' THEN
        CASE WHEN {max_len} > {VARCHAR_LIMIT} THEN 'VARCHAR(MAX)'
             ELSE 'VARCHAR({VARCHAR_LIMIT})' END
      WHEN {majority_type} = 'integer' THEN 'INT'
      WHEN {majority_type} = 'number' THEN 'DECIMAL(18,2)'
      WHEN {majority_type} = 'boolean' THEN 'BIT'
      WHEN {majority_type} = 'datetime' THEN 'DATETIME2'
      WHEN {majority_type} = 'ObjectId' THEN 'VARCHAR(24)'
      WHEN {majority_type} = 'null' THEN 'VARCHAR({VARCHAR_LIMIT})'
      ELSE 'VARCHAR(MAX)'
    END"""


# ---------------------------------------------------------------------------
# Table planning (New-SQLSchema partitioning, Sql_Schema_Generator.ps1:62-181)
# ---------------------------------------------------------------------------


@dataclass
class ColumnPlan:
    name: str
    sql_type: str
    primary_key: bool = False
    not_null: bool = False
    identity: bool = False


@dataclass
class TablePlan:
    name: str
    kind: str  # main | nested | array_object | array_primitive
    columns: list[ColumnPlan]
    parent: str | None = None
    parent_key: str | None = None


@dataclass
class SchemaPlan:
    main_table: str
    tables: list[TablePlan] = field(default_factory=list)
    relationships: list[str] = field(default_factory=list)

    @property
    def table_names(self) -> list[str]:
        return [t.name for t in self.tables]


def _surrogate_and_fk(parent: str, parent_key: str, key_type: str) -> list[ColumnPlan]:
    return [
        ColumnPlan("id", "INT", primary_key=True, identity=True),
        ColumnPlan(f"{parent}_{parent_key}", key_type, not_null=True),
    ]


def plan_tables(
    stats: list[dict],
    table_name: str,
    primary_key: str = "_id",
    total_docs: int | None = None,
) -> SchemaPlan:
    """Partition inferred path stats into main/nested/array table plans.

    ``stats`` rows need keys ``path, majority_type, max_len, n_docs``
    (``infer_schema`` output rows work as-is via ``Row.asDict``).
    ``total_docs`` drives the NOT NULL rule; ``None`` disables NOT NULL
    (no occurrence denominator available)."""
    by_path = {s["path"]: s for s in stats}

    def col(path: str, name: str | None = None, nn_eligible: bool = True) -> ColumnPlan:
        s = by_path[path]
        not_null = bool(
            nn_eligible
            and total_docs is not None
            and s["n_docs"] == total_docs
        )
        return ColumnPlan(
            name or path,
            sql_type(s["majority_type"], path, s.get("max_len")),
            primary_key=(path == primary_key),
            not_null=not_null or path == primary_key,
        )

    # child FK columns take the parent key's type; a key without stats
    # is typed as a string
    key_type = (
        col(primary_key).sql_type
        if primary_key in by_path
        else sql_type("string", primary_key)
    )

    flat: list[str] = []
    nested_roots: dict[str, list[str]] = {}
    array_roots: list[str] = []
    for path, s in sorted(by_path.items()):
        if "[]." in path or path.endswith("[]"):
            continue  # array element internals handled with their root
        if "." in path:
            nested_roots.setdefault(path.split(".", 1)[0], []).append(path)
        elif s["majority_type"] == "array":
            array_roots.append(path)
        elif s["majority_type"] == "object":
            pass  # container row; its leaves land in nested_roots
        else:
            flat.append(path)

    plan = SchemaPlan(main_table=table_name)
    plan.tables.append(
        TablePlan(table_name, "main", [col(p) for p in sorted(flat)])
    )

    for root in sorted(nested_roots):
        child = f"{table_name}_{root}"
        cols = _surrogate_and_fk(table_name, primary_key, key_type) + [
            col(p, name=p.split(".", 1)[1]) for p in sorted(nested_roots[root])
        ]
        plan.tables.append(
            TablePlan(child, "nested", cols, parent=table_name, parent_key=primary_key)
        )
        plan.relationships.append(f"{child} -> {table_name} ({primary_key})")

    for root in sorted(array_roots):
        child = f"{table_name}_{root}"
        elem = by_path.get(f"{root}[]")
        elem_type = elem["majority_type"] if elem else "null"
        base = _surrogate_and_fk(table_name, primary_key, key_type) + [
            ColumnPlan("array_index", "INT", not_null=True)
        ]
        if elem_type == "object":
            members = sorted(
                p for p in by_path if p.startswith(f"{root}[].")
            )
            cols = base + [
                col(p, name=p.split("[].", 1)[1], nn_eligible=False)
                for p in members
            ]
            kind = "array_object"
        else:
            # element-type priority: integer > number > boolean >
            # VARCHAR(MAX), keyed on type *presence* in the element
            # histogram (New-ArrayPrimitiveTableDefinition, :383-392).
            # `type_set` comes from schema_stats(with_type_set=True);
            # stats without it fall back to the majority type.
            present = set(elem.get("type_set") or [elem_type]) if elem else set()
            if "integer" in present:
                value_type = "INT"
            elif "number" in present:
                value_type = "DECIMAL(18,2)"
            elif "boolean" in present:
                value_type = "BIT"
            else:
                value_type = "VARCHAR(MAX)"
            cols = base + [ColumnPlan("value", value_type)]
            kind = "array_primitive"
        plan.tables.append(
            TablePlan(child, kind, cols, parent=table_name, parent_key=primary_key)
        )
        plan.relationships.append(f"{child} -> {table_name} ({primary_key})")

    return plan


# ---------------------------------------------------------------------------
# Dialect rendering
# ---------------------------------------------------------------------------


def _render_type(sql_type_name: str, dialect: str) -> str:
    return _TYPE_OVERRIDES[dialect].get(sql_type_name, sql_type_name)


def render_table(table: TablePlan, dialect: str = "ansi", include_drop: bool = True) -> str:
    """CREATE TABLE for one table plan, in the given dialect."""
    if dialect not in DIALECTS:
        raise ValueError(f"unknown dialect {dialect!r}; expected {DIALECTS}")
    qo, qc = _QUOTES[dialect]
    lines: list[str] = []
    if include_drop:
        lines.append(_DROP[dialect].format(t=table.name))
        lines.append("")
    lines.append(f"CREATE TABLE {table.name} (")
    cols = []
    for c in table.columns:
        type_txt = (
            _IDENTITY[dialect] if c.identity else _render_type(c.sql_type, dialect)
        )
        parts = [f"    {qo}{c.name}{qc} {type_txt}"]
        if c.primary_key:
            parts.append("PRIMARY KEY")
        if c.not_null and not c.primary_key:
            parts.append("NOT NULL")
        cols.append(" ".join(parts))
    body = ",\n".join(cols)
    if table.parent:
        fk = f"{table.parent}_{table.parent_key}"
        body += (
            f",\n    FOREIGN KEY ({qo}{fk}{qc}) REFERENCES "
            f"{table.parent}({qo}{table.parent_key}{qc})"
        )
    lines.append(body)
    lines.append(");")
    return "\n".join(lines)


def render_schema(
    plan: SchemaPlan, dialect: str = "ansi", include_drop: bool = True
) -> list[str]:
    """DDL statements for the whole plan, parents before children."""
    return [render_table(t, dialect, include_drop) for t in plan.tables]


_SPARK_TO_SQL = {
    "long": "INT",
    "int": "INT",
    "bigint": "INT",
    "double": "DECIMAL(18,2)",
    "float": "DECIMAL(18,2)",
    "boolean": "BIT",
    "timestamp": "DATETIME2",
    "date": "DATETIME2",
    "string": f"VARCHAR({VARCHAR_LIMIT})",
}


def drift_alter_statements(
    target, incoming, table_name: str, dialect: str = "ansi"
) -> list[str]:
    """Add-only schema drift: columns present in ``incoming`` but not in
    the target become ``ALTER TABLE ADD COLUMN <c> <type> NULL``
    (Update-SQLSchema, private/Sync.ps1:395-477). Types come from the
    incoming DataFrame's schema — the typed-majority generalization of
    the reference's single-sample ``Get-SQLDataType`` (Sync.ps1:479-507).
    Pure metadata — no job runs."""
    if dialect not in DIALECTS:
        raise ValueError(f"unknown dialect {dialect!r}; expected {DIALECTS}")
    qo, qc = _QUOTES[dialect]
    existing = set(target.columns)
    out = []
    for f in incoming.schema.fields:
        if f.name in existing:
            continue
        base = _SPARK_TO_SQL.get(
            f.dataType.simpleString(), f"VARCHAR({VARCHAR_LIMIT})"
        )
        col_type = _render_type(base, dialect)
        out.append(
            f"ALTER TABLE {table_name} ADD COLUMN {qo}{f.name}{qc} "
            f"{col_type} NULL;"
        )
    return out


def export_sql_schema(
    plan: SchemaPlan, path: str, dialect: str = "ansi", include_drop: bool = True
) -> None:
    """Write the DDL script to a file (Export-SQLSchema,
    Sql_Schema_Generator.ps1:460-494)."""
    with open(path, "w") as fh:
        fh.write(f"-- Schema for {plan.main_table} ({dialect})\n\n")
        fh.write("\n\n".join(render_schema(plan, dialect, include_drop)))
        fh.write("\n")
        if plan.relationships:
            fh.write("\n-- Relationships\n")
            for rel in plan.relationships:
                fh.write(f"-- {rel}\n")
