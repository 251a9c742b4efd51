"""Hadoop FileSystem shim — the ONE sanctioned crossing into Spark's
private JVM handles (VERDICT r4 hygiene item 5).

Why a private API at all: removing an emptied partition directory after
a dynamic-overwrite apply needs a Hadoop ``FileSystem`` client carrying
the session's configuration (so the same code works on local disk, HDFS
and S3A alike), and PySpark exposes no public wrapper for it. Every
other module stays on public API; anything needing a JVM-side
filesystem call goes through here so the exposure is auditable in one
place and trivially replaceable (e.g. by a table format's MERGE/VACUUM)
when the deployment provides one.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import SparkSession


def _filesystem_for(spark: SparkSession, path_str: str):
    # spark._jvm / spark._jsc are PRIVATE PySpark attributes — contained
    # to this module by tests/test_hadoop_fs.py.
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(conf), path


def delete_paths(
    spark: SparkSession, paths: Iterable[str], recursive: bool = True
) -> int:
    """Delete each path through the session-configured Hadoop
    FileSystem (no error when a path is already absent). Returns how
    many paths actually existed and were removed."""
    removed = 0
    for p in paths:
        fs, path = _filesystem_for(spark, p)
        if fs.delete(path, recursive):
            removed += 1
    return removed


def path_exists(spark: SparkSession, path_str: str) -> bool:
    fs, path = _filesystem_for(spark, path_str)
    return bool(fs.exists(path))


def list_files(
    spark: SparkSession, path_str: str, suffix: str | None = None
) -> list[tuple[str, int]]:
    """Non-recursive ``(path, size_bytes)`` listing of a directory via
    the session-configured Hadoop FileSystem — works identically on
    local disk, HDFS and S3A. Metadata only (one NameNode/LIST call);
    never reads data."""
    fs, path = _filesystem_for(spark, path_str)
    out: list[tuple[str, int]] = []
    for status in fs.listStatus(path):
        if not status.isFile():
            continue
        p = status.getPath().toString()
        if suffix is not None and not p.endswith(suffix):
            continue
        out.append((p, int(status.getLen())))
    return sorted(out)


def list_dirs(spark: SparkSession, path_str: str) -> list[str]:
    """Non-recursive child DIRECTORY names of a directory (metadata
    only). Hidden/system entries (leading ``.`` or ``_``) are skipped —
    hive partition dirs like ``band_idx=3`` are what this is for."""
    fs, path = _filesystem_for(spark, path_str)
    out = []
    for status in fs.listStatus(path):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        if name.startswith((".", "_")):
            continue
        out.append(name)
    return sorted(out)


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """FileSystem rename (atomic on HDFS/local; copy-free). Returns
    whether the filesystem accepted the rename."""
    fs, src_p = _filesystem_for(spark, src)
    _, dst_p = _filesystem_for(spark, dst)
    return bool(fs.rename(src_p, dst_p))


def executed_plan_string(df) -> str:
    """The executed physical plan as text — the input to
    ``plans/audit.py``'s detectors. PySpark's public surface only
    PRINTS plans (``df.explain``), so reading one as a string needs the
    private ``_jdf`` handle; contained here like the FileSystem
    access so the exposure stays auditable in one place."""
    return df._jdf.queryExecution().executedPlan().toString()


def set_java_system_property_if_unset(
    spark: SparkSession, key: str, value: str
) -> bool:
    """Set a JVM System property if it has no value yet (e.g. routing
    ``derby.stream.error.file`` out of the working directory before the
    embedded driver boots). Returns whether this call set it. The
    private ``_jvm`` gateway handle is contained here with the other
    crossings so the exposure stays auditable in one place."""
    jvm_sys = spark._jvm.java.lang.System
    if jvm_sys.getProperty(key) is not None:
        return False
    jvm_sys.setProperty(key, value)
    return True


def try_read_parquet(spark: SparkSession, path_str: str):
    """``spark.read.parquet(path)`` when the path exists, else ``None``
    — the does-the-store-exist probe (VERDICT r14 "what's wrong" #1).
    The previous idiom (catch ``AnalysisException`` from a blind read)
    was semantically identical but let the JVM log a full PATH_NOT_FOUND
    stack trace to stderr on every cold probe, polluting bench tails and
    masking real failures; one FileSystem.exists metadata call is silent
    and costs one NameNode/LIST round trip. A directory that exists but
    holds no parquet footers (e.g. a takedown emptied the sink, leaving
    only _SUCCESS) still reads as absent — that analysis-time failure
    carries no JVM trace, so catching it stays quiet."""
    if not path_exists(spark, path_str):
        return None
    from pyspark.sql.utils import AnalysisException

    try:
        return spark.read.parquet(path_str)
    except AnalysisException:
        return None


def _inherit_caller_context(thunk):
    """Wrap ``thunk`` so its jobs carry the CALLING thread's Spark local
    properties (job group, description, scheduler pool) and session
    tags. A pool thread starts with none of them, so without this its
    jobs escape ``getJobIdsForGroup``/``cancelJobGroup`` and any
    per-group profiling. Must run in the calling thread: the properties
    are captured when wrapping, not when the thunk starts."""
    from pyspark import SparkContext, inheritable_thread_target
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is None:
        return thunk
    return inheritable_thread_target(SparkSession.active())(thunk)


def run_concurrent(*thunks) -> None:
    """Run independent Spark actions as concurrent jobs (optimization
    guide §2.6 "overlap independent jobs"): Spark's scheduler runs
    several jobs at once inside one application — actions are only
    sequential because the driver calls them sequentially. Small jobs
    (tiny scans, store commits, driver round trips) rarely fill the
    executor alone, so overlapping mutually-independent actions lets one
    chain's tasks back-fill cores idled by another's stragglers and
    driver-side waits; default FIFO scheduling gives the earlier thunk
    priority.

    Thunks must be mutually independent: writes/sweeps of DIFFERENT
    paths with no cross-store ordering requirement. A memo that two
    thunks share is safe: ``queries._memo`` holds a build-once lock per
    memo key, so exactly one thunk builds it and the others wait for
    that entry. Every such action in this repo is an idempotent
    pure-function write, so a failed thunk re-runs exactly like a
    crashed sequential step. Each thunk inherits
    the caller's job group. Exceptions propagate after all thunks settle
    (first failure re-raised)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        thunks[0]()
        return
    # One capture per thunk: each thread needs its own copy of the
    # properties, because Spark mutates a thread's properties in place
    # (e.g. the SQL execution id) while its actions run.
    wrapped = [_inherit_caller_context(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in wrapped]
        errs = []
        for f in futures:
            try:
                f.result()
            except Exception as exc:  # settle all stores, then re-raise
                errs.append(exc)
        if errs:
            raise errs[0]
