"""Metric catalog and the fold from one run's measurements to metrics.

``E2E`` and ``PER_LAYER`` are the metrics a run prints (untraced and
traced run respectively); ``BENCHMARK.json`` lists the same names.
Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# name -> unit. The driver JVM's peak RSS is printed but not gated: its
# run-to-run spread was 19-38 % (GC heap sizing), not within a tenth.
E2E = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "op_p50_s": "s",
    "write_mb_per_op": "MB",
}

# Spans opened around calls into a layer; each reports these counters.
LAYER_SPANS = (
    "infer",
    "ddl",
    "normalize_docs",
    "validation",
    "cdc.diff",
    "cdc.apply",
    "cdc.state",
    "text.gate",
    "dedup.exact",
    "dedup.near",
    "dedup.contamination",
    "text.windows",
    "ingest_stream.gate",
    "ingest_stream.emb_gate",
)
SPAN_COUNTERS = {
    "busy_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "driver_gap_s": "s",
}
# One gate span per cycle, so its job count is jobs per cycle.
RENAMED = {"ingest_stream.gate.jobs": "ingest_stream.gate.jobs_per_cycle"}

PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    **{
        RENAMED.get(f"{span}.{c}", f"{span}.{c}"): unit
        for span in LAYER_SPANS
        for c, unit in SPAN_COUNTERS.items()
    },
    "infer.python_task_s": "s",
    "normalize_docs.shuffle_write_mb": "MB",
    "normalize_docs.files_written": "count",
    "cdc.diff.shuffle_write_mb": "MB",
    "cdc.apply.partitions_rewritten": "count",
    "cdc.apply.rows_rewritten_per_changed_row": "ratio",
    "cdc.state.bytes_written_mb": "MB",
    "hadoop_fs.calls": "count",
    "hadoop_fs.busy_s": "s",
    "dedup.near.shuffle_write_mb": "MB",
    "dedup.cand_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "ingest_stream.gate.rows_accepted": "count",
    "ingest_stream.gate.rows_quarantined": "count",
    "similarity.kernel_task_s": "s",
    "op.jobs": "count",
    "op.task_s": "s",
    "op.driver_gap_s": "s",
    "op.spill_mb": "MB",
    "op.failed_tasks": "count",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}

# Extra per-span counters surfaced under the span's own name.
SPAN_EXTRAS = {
    ("infer", "python_task_s"): "infer.python_task_s",
    ("normalize_docs", "shuffle_write_mb"): "normalize_docs.shuffle_write_mb",
    ("cdc.diff", "shuffle_write_mb"): "cdc.diff.shuffle_write_mb",
    ("dedup.near", "shuffle_write_mb"): "dedup.near.shuffle_write_mb",
    ("ingest_stream.emb_gate", "python_task_s"): "similarity.kernel_task_s",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class RunRecord:
    """What one run measured; folded into metrics by ``e2e_metrics`` and
    ``layer_metrics``."""

    session_start_s: float
    setup_s: list[float] = field(default_factory=list)
    records_per_op: int = 0
    timed_s: list[float] = field(default_factory=list)  # untraced, warm
    traced_s: list[float] = field(default_factory=list)
    write_mb: list[float] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    # per traced op: metric name -> value (spans, call meter, layer counts)
    traced_ops: list[dict] = field(default_factory=list)
    registry_setup_s: list[float] = field(default_factory=list)


def e2e_metrics(rec: RunRecord) -> dict[str, float]:
    total = sum(rec.timed_s)
    return {
        "setup_s": rec.session_start_s + median(rec.setup_s),
        "records_per_s": rec.records_per_op * len(rec.timed_s) / total if total else 0.0,
        "op_p50_s": median(rec.timed_s),
        "write_mb_per_op": median(rec.write_mb),
    }


def span_metrics(op_span, children) -> dict[str, float]:
    """Per-op metrics from one traced op's root span and its child spans
    (counters already folded from the event log)."""
    out: dict[str, float] = {}
    for child in children:
        if child.name not in LAYER_SPANS:
            continue
        c = child.counters
        vals = {"busy_s": child.wall_s, **{k: c.get(k, 0.0) for k in SPAN_COUNTERS if k != "busy_s"}}
        for k, v in vals.items():
            name = RENAMED.get(f"{child.name}.{k}", f"{child.name}.{k}")
            out[name] = out.get(name, 0.0) + v
        for (span, counter), name in SPAN_EXTRAS.items():
            if span == child.name:
                out[name] = out.get(name, 0.0) + c.get(counter, 0.0)
    c = op_span.counters
    out.update(
        {
            "op.jobs": c.get("jobs", 0),
            "op.task_s": c.get("task_s", 0.0),
            "op.driver_gap_s": c.get("driver_gap_s", 0.0),
            "op.spill_mb": c.get("spill_mb", 0.0),
            "op.failed_tasks": c.get("failed_tasks", 0),
        }
    )
    return out


def layer_metrics(rec: RunRecord) -> dict[str, float]:
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = rec.session_start_s
    out["registry.load_s"] = median(rec.registry_setup_s)
    names = {k for op in rec.traced_ops for k in op}
    for name in names & set(PER_LAYER):
        out[name] = median(op.get(name, 0.0) for op in rec.traced_ops)
    if rec.traced_s and rec.timed_s:
        base = median(rec.timed_s)
        out["trace.overhead_s"] = median(rec.traced_s) - base
        out["trace.overhead_share"] = out["trace.overhead_s"] / base
    return out
