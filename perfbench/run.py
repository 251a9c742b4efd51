"""End-to-end benchmark of the migration, sync, corpus-clean and
ingest-gate dataflows.

Usage, from the repository root:

    python3 perfbench/run.py --workload migrate_full --seed 1 --seconds 10 --trace 0

One process is one closed-loop client on ``local[nproc]``. It starts the
session, sets its workload up ``SETUP_REPS`` times (``setup_s`` is the
session start plus the median set-up), runs one untimed warm-up op, then
times ops back to back: as many as fit ``--seconds`` at the workload's
nominal op latency, and at least ``MIN_TIMED_OPS``. Every op, warm-up
included, is checked against an independent DuckDB reference; a failed
check or an exception counts as a failed op and makes the process exit 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables
Spark's event log for this session only, alternates traced ops (one
span and job group per layer call) with untraced ones and prints the
per-layer metrics, including the tracing overhead (traced minus
untraced op latency in the same process). The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root, which is wiped first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3
MIN_TIMED_OPS = 2
# A timed op during which the hypervisor stole more than this share of the
# machine's CPU time is run again (at most MAX_STEAL_RERUNS times a run):
# on a shared host such ops ran up to 2x slower than their neighbours.
STEAL_MAX = 0.03
MAX_STEAL_RERUNS = 2
# Stop starting ops this long after process start, so a run on a slow,
# contended machine still ends well inside its time limit.
DEADLINE_S = 100.0
DRIVER_MEMORY = "2g"
# hadoop_fs functions that call the Hadoop FileSystem; the module's thread
# pool and plan-string helpers are not filesystem time.
HADOOP_FS_CALLS = (
    "path_exists", "try_read_parquet", "list_files", "list_dirs",
    "delete_paths", "rename_path",
)


def _harden_env(trace: bool) -> None:
    """Pin the environment before the JVM and Python workers start: the
    package importable from any working directory (the Arrow/Pandas
    workers import it too), local parallelism = nproc, and all temporary
    files under WORK."""
    for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
            }
        )
    args = [f"--driver-memory {DRIVER_MEMORY}"]
    args += [f"--conf '{k}={v}'" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def _listed_metrics(kind: str) -> set[str] | None:
    """Metric names ``BENCHMARK.json`` lists under ``kind``; the JSON result
    carries exactly these (every computed metric is still printed)."""
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except FileNotFoundError:
        return None
    return {m["name"] for m in spec[kind]}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (steal is field 8)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _stop(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)


class Runner:
    def __init__(self, args, started: float):
        from nosql_to_sql_migration_tool_spark.session import get_spark

        from perfbench.report import RunRecord
        from perfbench.trace import CallMeter, Tracer
        from perfbench.workloads import WORKLOADS

        self.args, self.started = args, started
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{args.workload}")
        self.spark.range(1).count()  # the session is up once it has run a job
        self.rec = RunRecord(session_start_s=time.perf_counter() - t0)
        self.tracer = Tracer(self.spark.sparkContext if args.trace else None)
        self.meter = CallMeter() if args.trace else None
        self.wl = WORKLOADS[args.workload](self.spark, args.seed, str(WORK), self.tracer)
        self.steal_reruns = 0

    def fail(self, what: str) -> None:
        self.rec.failed += 1
        print(f"FAILED {what}", file=sys.stderr)

    def setup(self) -> bool:
        from perfbench.report import median

        for rep in range(SETUP_REPS):
            with self.tracer.span("setup", op=-1 - rep) as root:
                self.wl.setup(rep)
            self.rec.setup_s.append(root.wall_s)
            self.rec.registry_setup_s.append(
                sum(s.wall_s for s in self.tracer.spans if s.parent == root.id and s.name == "registry")
            )
            if rep:
                shutil.rmtree(self.wl.state_dir(rep - 1), ignore_errors=True)
        print(f"setup reps (s): {[round(x, 3) for x in self.rec.setup_s]} median {median(self.rec.setup_s):.3f}", file=sys.stderr)
        fails = self.wl.check_setup()
        self.rec.records_per_op = self.wl.records_per_op
        if fails:
            self.fail("set-up: " + "; ".join(fails))
        return not fails

    def op(self, i: int, traced: bool, timed: bool) -> bool:
        """Run, check and record op ``i``. Returns False only when a timed
        op's sample was dropped for host CPU steal and must be re-run."""
        from perfbench.workloads import created, list_files

        wl, rec = self.wl, self.rec
        rec.attempted += 1
        try:
            wl.prepare(i)
            before = list_files(wl.output_dirs(i))
            calls0 = (self.meter.calls, self.meter.busy_s) if self.meter else None
            jiffies = _cpu_jiffies()
            if traced:
                with self.tracer.span("op", op=i) as root:
                    wl.run_traced(i)
                wall = root.wall_s
            else:
                t0 = time.perf_counter()
                wl.run(i)
                wall = time.perf_counter() - t0
            delta = [b - a for a, b in zip(jiffies, _cpu_jiffies())]
            steal = delta[7] / max(sum(delta), 1)
            made = created(before, list_files(wl.output_dirs(i)))
            fails = wl.check(i)
        except Exception:  # an op that raises counts as failed; keep measuring
            self.fail(f"op {i} raised:\n{traceback.format_exc()}")
            return True
        if fails:
            self.fail(f"op {i}: " + "; ".join(fails))
            return True
        kind = "traced" if traced else ("timed" if timed else "warm-up")
        print(f"op {i} {kind} {wall:.3f} s (host steal {steal:.1%})", file=sys.stderr)
        wl.cleanup(i)
        if timed and steal > STEAL_MAX and self.steal_reruns < MAX_STEAL_RERUNS:
            self.steal_reruns += 1
            return False
        if traced:
            rec.traced_s.append(wall)
            extra = {"hadoop_fs.calls": self.meter.calls - calls0[0],
                     "hadoop_fs.busy_s": self.meter.busy_s - calls0[1]}
            rec.traced_ops.append({"root": root, **extra, **wl.layer_counts(i, made)})
        elif timed:
            rec.timed_s.append(wall)
            rec.write_mb.append(sum(made.values()) / 1e6)
        return True

    def measure(self) -> None:
        if self.meter:
            from nosql_to_sql_migration_tool_spark import hadoop_fs

            self.meter.install(hadoop_fs, "nosql_to_sql_migration_tool_spark", HADOOP_FS_CALLS)
        self.op(0, traced=False, timed=False)
        # A fixed op count, not a time limit: op latency still falls from op
        # to op after the warm-up, so a run that timed fewer ops on a slow
        # machine would also have timed colder ones.
        n_timed = max(MIN_TIMED_OPS, round(self.args.seconds / self.wl.nominal_op_s))
        i = done = 0
        while done < n_timed:
            if time.perf_counter() - self.started > DEADLINE_S:
                print("deadline reached; stopping early", file=sys.stderr)
                break
            i += 1
            done += self.op(i, traced=bool(self.args.trace) and i % 2 == 1, timed=True)
        if self.meter:
            self.meter.uninstall()

    def finish(self) -> dict:
        from perfbench.report import E2E, PER_LAYER, e2e_metrics, layer_metrics, span_metrics
        from perfbench.trace import fold_event_log

        self.rec.peak_rss_mb = _jvm_peak_rss_mb(self.spark)
        self.wl.close()
        _stop(self.spark)
        rec = self.rec
        if self.args.trace:
            fold_event_log(str(WORK / "eventlog"), self.tracer.spans)
            self.tracer.dump(str(WORK / "spans.json"))
            for op in rec.traced_ops:
                root = op.pop("root")
                kids = [s for s in self.tracer.spans if s.parent == root.id]
                op.update(span_metrics(root, kids))
            metrics, units = layer_metrics(rec), PER_LAYER
        else:
            metrics, units = e2e_metrics(rec), E2E
        n = len(rec.timed_s)
        lines = [
            f"workload {self.args.workload} seed {self.args.seed} trace {self.args.trace}",
            f"ops attempted {rec.attempted} failed {rec.failed} "
            f"failed_op_ratio {rec.failed / max(rec.attempted, 1):.4f}",
            f"op latency samples {n} (after 1 warm-up op); no tail percentile: "
            "fewer than 10 samples lie beyond p90",
            f"ops re-run after host CPU steal above {STEAL_MAX:.0%}: {self.steal_reruns}",
            f"peak_rss_mb {rec.peak_rss_mb:.1f} MB (driver JVM VmHWM; informational, not gated)",
        ]
        lines += [f"{k} {v:.6g} {units[k]}" for k, v in metrics.items()]
        print("\n".join(lines))
        listed = _listed_metrics("per_layer" if self.args.trace else "end_to_end")
        return {
            "correct": rec.failed == 0 and n + len(rec.traced_s) > 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {
                k: {"value": v, "unit": units[k]}
                for k, v in metrics.items()
                if listed is None or k in listed
            },
        }


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    _harden_env(bool(args.trace))
    try:
        import nosql_to_sql_migration_tool_spark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    runner = Runner(args, started)
    try:
        if runner.setup():
            runner.measure()
    except Exception:  # e.g. a broken input contract: report it as a failed run
        runner.fail(f"run raised:\n{traceback.format_exc()}")
    result = runner.finish()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
