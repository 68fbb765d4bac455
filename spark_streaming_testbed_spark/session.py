"""SparkSession factory and testdata table loaders.

Defaults tuned for the driver's local[32] single-JVM harness, but every
setting is a scale-out default too: AQE on (runtime re-plan / skew join /
partition coalescing), UTC session timezone (oracle comparison), Arrow
enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver materializes per scale factor (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_SCRATCH_ROOTS: set[str] = set()


def session_scratch_dir(spark: SparkSession, prefix: str) -> str:
    """Scratch path that outlives the caller's scope (removed at
    interpreter exit, keyed by the Spark application id).

    For operators whose lazily-evaluated result must be re-readable
    after a streaming replay's ``TemporaryDirectory`` has vanished —
    the alternative is collecting the whole result to the driver, which
    is O(state) and a scale-killer (VERDICT r4 on streaming_upsert)."""
    import atexit
    import shutil
    import tempfile
    import uuid

    root = os.path.join(
        tempfile.gettempdir(),
        f"sst_scratch_{spark.sparkContext.applicationId}",
    )
    os.makedirs(root, exist_ok=True)
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, f"{prefix}{uuid.uuid4().hex[:8]}")


@contextlib.contextmanager
def conf_override(conf, confs: dict[str, str]):
    """Set *confs* on a runtime conf for the duration of the block.

    The conf's ACTUAL prior values are captured right before and put
    back afterwards (unset if there was none): a hard-coded restore-to
    value would silently set a wrong baseline whenever the session
    defaults differ, e.g. shuffle partitions = the host's core count."""
    saved = {k: conf.get(k, None) for k in confs}
    for k, v in confs.items():
        conf.set(k, v)
    try:
        yield saved
    finally:
        for k, prev in saved.items():
            if prev is None:
                conf.unset(k)
            else:
                conf.set(k, prev)


def get_session(app_name: str = "spark_streaming_testbed_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Streaming checkpoints (offset and commit logs, state-store delta and
    checksum files) go through Spark's FileSystem-based checkpoint file
    manager; see the comment at the conf for why."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in load_table (Spark has no native nanos timestamp).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Without Hadoop's native library the default FileContext-based
        # checkpoint manager forks `readlink` about six times per rename
        # (AbstractFileSystem.rename -> getFileLinkStatus ->
        # FileUtil.readLink), and a stateful trigger renames its offset
        # and commit log entries and every state partition's delta and
        # checksum file. The FileSystem-based manager writes with
        # FileSystem.create and renames with FileSystem.rename, which on
        # file: is File.renameTo, no fork. Both check-then-rename on a
        # local filesystem; .crc files and the state-file checksums
        # (ChecksumCheckpointFileManager wraps either manager) are kept.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()


#: event-time columns whose parquet physical type varies across testdata
#: generations (TIMESTAMP(NANOS) → bigint under ``nanosAsLong``; micro
#: timestamps without the UTC flag → TIMESTAMP_NTZ). Both are normalized
#: to plain TimestampType at load so every downstream ``unix_millis``/
#: window expression sees one type; with the session timezone pinned to
#: UTC the NTZ→LTZ cast is value-identical.
_NANO_TS_COLS = {"events": ("ts",)}


def _engine_zip_path(pkg_dir: str) -> tuple[str, list[str]]:
    """Path of the zip that ships ``pkg_dir``, and the sources it holds.

    The name is keyed on every source's (relative path, size,
    ``mtime_ns``), so an edit within the same second, or a deleted or
    renamed module, gets a new zip instead of a stale one (a stale zip
    breaks worker unpickling or runs old code)."""
    import hashlib
    import tempfile

    parent = os.path.dirname(pkg_dir)
    sources = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    key = hashlib.sha1()
    for full in sources:
        st = os.stat(full)
        rel = os.path.relpath(full, parent)
        key.update(f"{rel}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    name = f"sst_engine_{key.hexdigest()[:16]}.zip"
    return os.path.join(tempfile.gettempdir(), name), sources


def _ship_engine_to_workers(spark: SparkSession) -> None:
    """Make this package importable in Python workers regardless of the
    driver process's cwd/PYTHONPATH (pandas-UDF closures pickle module
    references, so workers must import ``spark_streaming_testbed_spark``).
    Ships a zip of the package via ``addPyFile`` once per session."""
    if getattr(spark, "_sst_engine_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath, sources = _engine_zip_path(pkg_dir)
    if not os.path.exists(zpath):
        # write aside and rename, so a crashed or concurrent writer
        # never leaves a partial zip under the final name
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in sources:
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                z.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._sst_engine_shipped = True


def pickle_datasources_by_value() -> None:
    """Make the Python DataSource modules cloudpickle BY VALUE.

    Batch UDF workers prepend ``addPyFile`` includes to ``sys.path``
    before unpickling, but the streaming Python DataSource planner
    (``python_streaming_source_runner``) on PySpark 4.1 does not — so a
    pickled-by-reference source instance raises ``ModuleNotFoundError``
    whenever the driver process's cwd/PYTHONPATH doesn't already expose
    this package (e.g. the driver harness running from its own cwd).
    Registering the modules the pickled instance closes over — the two
    DataSource modules and the pure-Python plan arithmetic they use —
    embeds their code in the pickle itself, so the runner needs nothing
    but pyspark + stdlib. Idempotent; cheap (the modules are small)."""
    from pyspark import cloudpickle

    from .plans import phases
    from .sources import profile_datasource, rs_tcp

    for mod in (phases, profile_datasource, rs_tcp):
        cloudpickle.register_pickle_by_value(mod)


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime confs the engine depends on, even on a caller-owned session.

    The driver (and any embedding app) builds its own SparkSession; both
    confs below are runtime-settable, so we pin them at every table load:
    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS), unreadable
      by Spark's parquet reader otherwise;
    - UTC session timezone: keeps ``date_format``/windowing aligned with
      the (UTC-naive) DuckDB oracle.
    Also ships the engine package to Python workers (see above).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_engine_to_workers(spark)


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a narrow scan across the cluster before a CPU-heavy
    row-local stage (explode + md5/regex hot loops).

    The r12 measurement round found every testdata parquet file is ONE
    row group, so every scan is a single task and each "row-local, no
    shuffle" pipeline runs its per-row compute on one core until the
    first exchange (guide §2.5 input skew: "one huge unsplittable
    file... repartition immediately after the read"). A bare
    ``repartition(key)`` does NOT fix it: AQE plans it at
    ``spark.sql.shuffle.partitions`` but then coalesces the few-MB
    shuffle back to ONE partition (byte-based coalescing cannot see
    downstream per-row CPU cost) — measured on ``winnow_fingerprints``,
    whose fan-out comment round 9 believed was working.

    Scale-adaptive, not a local-mode constant: the fan-out only fires
    when the plan's current partition count is below
    ``defaultParallelism`` (cores locally, cluster cores at scale). At
    100 TB a table scan already yields thousands of splits, so this is
    a no-op there and the input rows are never shuffled; locally it
    costs one tiny exchange of pre-explode rows (1/fan-out-factor of
    the exploded volume). The explicit partition count pins the plan
    against AQE re-coalescing; hash keys (when given) keep placement
    deterministic and co-partition the stage with a downstream
    groupBy/window on the same key.

    HAZARD (found r12, cost cdc_chunk_dedup 109 of 500 rows): do NOT
    feed one fanned frame into several branches of a union that a
    keyed op (distinct / groupBy / window) then consumes. Spark 4.1.2
    treats a union of identically-hash-partitioned children as
    satisfying the child's required distribution and elides the
    shuffle; that merge is handled correctly standalone, but once
    exchange REUSE rewrites the branches (the same subtree appearing
    elsewhere in the query, e.g. both sides of a self-join) the
    merged-partition bookkeeping breaks and the keyed op runs
    per-branch — silently wrong results, correct again under
    spark.sql.exchange.reuse=false. Fan out inside a single branch
    instead (see cdc_chunk_dedup)."""
    if df.isStreaming:
        # micro-batch partitioning is the source's business (and
        # ``.rdd`` is undefined on a streaming frame) — no-op
        return df
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    cols = [F.col(k) for k in keys]
    return df.repartition(par, *cols) if cols else df.repartition(par)


def build_once(df: DataFrame) -> DataFrame:
    """Compute *df* now and return a frame that reads the stored result,
    with its lineage cut. The only place the package checkpoints.

    A query calls this when several consumers read one table (each would
    otherwise re-derive it from the scan) or inside an iterative loop
    (the plan would otherwise grow every round).

    Fault model. With a checkpoint dir set on the SparkContext
    (``sparkContext.setCheckpointDir``, Spark's own setting) the table is
    written there with reliable ``checkpoint``: a lost executor only
    costs a re-read. Without one it is ``localCheckpoint``: the blocks
    live in executor storage and have no lineage, so losing an executor
    after the build fails the query ("checkpoint block not found").
    In ``local[N]`` the only executor is the driver, which cannot be
    lost without losing the query too, so local blocks cost nothing
    there. On a cluster, set a checkpoint dir."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (schema from footer, no inference)."""
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, ()):
        dt = dict(df.dtypes).get(col)
        if dt == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
