"""Physical-plan auditing — the scale guardrails as a public API.

``tests/test_plan_shapes.py`` pins this repo's own queries; this module
exports the same checks so a deployment can pin ITS queries in CI: at
100 TB the difference between "filter reached the parquet scan" and
"filter ran after the scan" is hours, and plan regressions arrive
silently with innocent refactors. Audit functions inspect the
EXECUTED plan (what would run), never execute data jobs themselves —
the only cost is Catalyst analysis/planning.

Typical CI usage::

    report = plan_report(my_query_df)
    assert not report["cartesian_products"]
    assert not report["global_windows"]
    assert report["pushed_filters"]          # reached the scan
    assert report["python_stages"] == 0      # stayed JVM-side

Reference analogue: none — the reference executes opaque per-row
PowerShell; plan-shape contracts only exist on an engine with a
declarative optimizer to hold to account.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from nosql_to_sql_migration_tool_spark.hadoop_fs import executed_plan_string



def physical_plan(df: DataFrame) -> str:
    """The executed-plan string Spark would run for ``df`` (via the
    repo's single sanctioned private-JVM shim)."""
    return executed_plan_string(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """Every non-empty ``PushedFilters`` entry in the scan nodes.
    Greedy to the LAST ``]`` on the line: filter text itself may nest
    brackets (``In(col, [a,b])``), and nothing bracketed follows on a
    scan line (``ReadSchema`` prints ``struct<...>``)."""
    return pushed_filters_in(physical_plan(df))


def pushed_filters_in(plan: str) -> list[str]:
    out = []
    for m in re.finditer(r"PushedFilters: \[(.*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.append(body)
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """The pruned ``ReadSchema`` of every scan — what actually leaves
    storage. A schema listing columns the query never returns means
    pruning failed."""
    return read_schemas_in(physical_plan(df))


def read_schemas_in(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (hash or single-partition) the plan
    executes — each is a full materialization boundary."""
    return shuffle_count_in(physical_plan(df))


def shuffle_count_in(plan: str) -> int:
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|"
            r"SinglePartition)",
            plan,
        )
    )


def broadcast_count(df: DataFrame) -> int:
    """Number of broadcast exchanges — small sides shipped to every
    task instead of shuffled."""
    return broadcast_count_in(physical_plan(df))


def broadcast_count_in(plan: str) -> int:
    return plan.count("BroadcastExchange")


def python_stage_count(df: DataFrame) -> int:
    """Python-execution stages in the plan (Arrow/Pandas eval nodes,
    mapInPandas, Python UDFs). The hot path of a JVM-first engine
    should report 0; sanctioned Arrow stages report exactly where they
    run."""
    return python_stage_count_in(physical_plan(df))


def python_stage_count_in(plan: str) -> int:
    return len(
        re.findall(
            r"ArrowEvalPython|BatchEvalPython|MapInPandas|"
            r"FlatMapGroupsInPandas|(?:Python)?MapInArrow",
            plan,
        )
    )


def cartesian_products(df: DataFrame) -> int:
    """Unbroadcast cartesian products — always a bug at scale."""
    return cartesian_products_in(physical_plan(df))


def cartesian_products_in(plan: str) -> int:
    return plan.count("CartesianProduct")


def global_windows(df: DataFrame) -> int:
    """Window nodes with an EMPTY partition spec: the whole input sorts
    on a single partition — the canonical unbounded-scale bug. A
    PARTITIONED WindowExec prints three bracket groups
    (``Window [exprs], [partition], [order]``); a GLOBAL one prints
    two, leaving one ``], [`` separator instead of two (the inner
    ``windowspecdefinition(...)`` text contains no ``], [`` — same
    detection the repo's own plan guard uses)."""
    return global_windows_in(physical_plan(df))


def global_windows_in(plan: str) -> int:
    # Two bracket groups alone are NOT conclusive: a PARTITIONED window
    # with no ORDER BY (count() over (partition by k) — fine at scale)
    # also prints two. A genuinely GLOBAL window's trailing group is a
    # SORT spec (`x ASC NULLS FIRST`); a partition group is bare column
    # refs (round 7 fix — the r6 detector flagged five unordered
    # partitioned windows as global).
    n = 0
    for line in plan.splitlines():
        if re.search(r"\bWindow\b", line) and "windowspecdefinition(" in line:
            if line.count("], [") == 1:
                tail = line.rsplit("], [", 1)[1]
                if " ASC" in tail or " DESC" in tail:
                    n += 1
    return n


def plan_report(df: DataFrame) -> dict:
    """One-call audit summary — the dict a CI gate asserts against.
    Analyzes the plan ONCE and runs every detector on the same string
    (round 7: the per-detector physical_plan re-analysis made a
    full-surface sweep 7x slower than necessary)."""
    return plan_report_from_string(physical_plan(df))


def plan_report_from_string(plan: str) -> dict:
    """The same audit summary from an already-extracted plan string."""
    return {
        "pushed_filters": pushed_filters_in(plan),
        "read_schemas": read_schemas_in(plan),
        "shuffles": shuffle_count_in(plan),
        "broadcasts": broadcast_count_in(plan),
        "python_stages": python_stage_count_in(plan),
        "cartesian_products": cartesian_products_in(plan),
        "global_windows": global_windows_in(plan),
    }
