"""The one replay path every streaming registry query runs through.

A replay drives a streaming DataFrame to completion with an
``availableNow`` trigger into a memory sink (:func:`run_stream_to_table`).
The stateful queries replay a file source written for the purpose, and
each of them is split into three named parts (:class:`FileReplay`): the
source writer, the stream transform, and the output mode and
shuffle width. The registry query and the kill-and-resume sweep
(``tools/checkpoint_sweep.py``) run the same parts; only the sink and
the finalizer differ.

The file-stream source replays files in MODIFICATION-TIME order, one
file per trigger, so :func:`write_chunks` gives every chunk exactly one
file and strictly increasing mtimes: the chunk expression fixes both
the trigger count and which rows share a micro-batch.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import conf_override

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def run_stream_to_table(
    result: DataFrame,
    mode: str = "complete",
    shuffle_partitions: int | str | None = None,
) -> str:
    """Drive a streaming aggregation to completion with availableNow into
    a memory sink; returns the sink table name.

    ``shuffle_partitions`` temporarily overrides
    ``spark.sql.shuffle.partitions`` for the query's lifetime: state-store
    partition count is frozen at stream start from that conf, and each
    partition pays a per-trigger state commit. The profile-replay queries
    have single-digit distinct keys, so 32 state partitions are pure
    overhead (~1.3 s/query measured at local[32]); size the override to
    the state's key cardinality. At production scale the state is keyed
    per (window, value) across executors — leave it unset there.
    """
    spark = result.sparkSession
    name = f"sink_{uuid.uuid4().hex[:10]}"
    confs = {} if shuffle_partitions is None else {
        SHUFFLE_PARTITIONS: str(shuffle_partitions)
    }
    with conf_override(spark.conf, confs):
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return name


def read_replay(spark: SparkSession, schema, path: str) -> DataFrame:
    """The file stream over a replay source: one file per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def write_chunks(df: DataFrame, path: str, chunk: Column,
                 n_chunks: int) -> int:
    """Write ``df`` as ``n_chunks`` parquet files under ``path``, chunk
    ``i`` holding the rows whose ``chunk`` value is ``i``, with strictly
    increasing mtimes in chunk order; returns ``n_chunks``.

    ONE partitioned write instead of a filtered scan+write job per chunk
    (the per-chunk loop cost ~1.7 s of the replay queries' wall at
    sf0.1, all of it re-scanning the same input). The explicit
    repartition(n_chunks, chunk) puts every chunk wholly in one task, so
    each ``__chunk=`` directory holds exactly ONE file — required: two
    files of one chunk would share an mtime and replay in undefined
    relative order. Rows whose chunk is NULL are dropped, and every file
    gets an explicit utime, so replay order never depends on write
    latency."""
    os.makedirs(path, exist_ok=True)
    t_base = time.time()
    staging = path.rstrip("/") + "__staging"
    (
        df.withColumn("__chunk", chunk)
        .where(F.col("__chunk").isNotNull())
        .repartition(n_chunks, "__chunk")
        .write.mode("overwrite")
        .partitionBy("__chunk")
        .parquet(staging)
    )
    for i in range(n_chunks):
        parts = sorted(
            glob.glob(os.path.join(staging, f"__chunk={i}", "*.parquet"))
        )
        for j, src in enumerate(parts):
            dst = os.path.join(path, f"chunk_{i:05d}_{j}.parquet")
            shutil.move(src, dst)
            os.utime(dst, (t_base + i, t_base + i))
    shutil.rmtree(staging, ignore_errors=True)
    return n_chunks


def write_time_ordered_chunks(events: DataFrame, path: str,
                              n_chunks: int = 6,
                              key_cols: tuple | None = None):
    """Write ``events`` as ~n_chunks parquet chunk files whose
    MODIFICATION times strictly increase in event-time order, so the
    file-stream source replays them as in-order micro-batches. Chunks
    cut on an absolute epoch-day bucket derived from the data's actual
    min/max span (any span, any month boundary); rows with a NULL ``ts``
    are dropped. Returns the number of chunks written; with ``key_cols``
    given, the same bounds scan also estimates the replay's state-key
    cardinality (``approx_count_distinct`` rides in the one aggregate
    job, so the width heuristic in ``wide_replay_width`` costs no extra
    pass) and the return becomes ``(n_chunks, n_keys)``."""
    day = F.unix_date(F.to_date("ts"))
    aggs = [F.min(day).alias("lo"), F.max(day).alias("hi")]
    if key_cols is not None:
        aggs.append(
            F.approx_count_distinct(F.struct(*key_cols)).alias("nk")
        )
    bounds = events.select(*aggs).first()
    lo = 0 if bounds.lo is None else int(bounds.lo)
    hi = lo if bounds.hi is None else int(bounds.hi)
    width = max(1, -(-(hi - lo + 1) // n_chunks))
    chunk = F.floor((day - F.lit(lo)) / F.lit(width)).cast("long")
    n_out = write_chunks(events, path, chunk, (hi - lo) // width + 1)
    if key_cols is not None:
        return n_out, int(bounds.nk)
    return n_out


#: micro-batches of the late-data and upsert replays
LATE_CHUNKS = 4


def write_interleaved_chunks(events: DataFrame, path: str,
                             n_chunks: int = LATE_CHUNKS) -> None:
    """Write events as chunks interleaved by ``event_id % n_chunks``
    with strictly increasing mtimes: every chunk spans the full time
    range, so each replayed micro-batch delivers data that is LATE
    relative to the watermark raised by the previous ones — the adverse
    arrival order the late-data contract is about."""
    write_chunks(
        events, path, (F.col("event_id") % n_chunks).cast("int"), n_chunks
    )


#: target state groups per partition for the width heuristic below —
#: the r12 width sweep on the 1.5k-key EWMA replay measured a U-curve
#: (8 partitions: 8.4 s, 16: 6.1 s, 32: 7.4 s); ~96 groups/partition
#: reproduces its optimum and stays far from both failure modes.
REPLAY_GROUPS_PER_PARTITION = 96


def wide_replay_width(spark, n_keys: int | None = None) -> str:
    """State-shuffle width for a KEY-RICH stateful replay (state keyed
    per user / (user, day): thousands of groups at bench scale, one per
    entity at 100 TB).

    Two costs trade off per trigger: every state partition pays a fixed
    commit (state-store delta file + metadata) whether or not it holds
    keys, while ``applyInPandasWithState`` pays ~1 ms of Python per
    GROUP serially within a partition. With single-digit key counts the
    commit tax dominates — those replays pin a narrow width of 8 (r9
    measurement: 32 partitions on a 2-key profile replay wasted
    ~1.3 s/query; re-confirmed r12: the few-key and JVM-state replays
    all ran slower at 32).

    For the key-rich Python replays the width is DERIVED FROM THE
    MEASURED KEY COUNT (guide §2: scale partitioning from the data,
    not a constant): ``n_keys / REPLAY_GROUPS_PER_PARTITION``, clamped
    to [8, session width]. When the session is narrower than 8 the
    floor wins, so every key-rich replay runs 8 wide; the r12 width
    measurements were all taken at session width 32 and do not cover
    that case. The r12 per-trigger breakdown
    (q.recentProgress durationMs) showed why neither extreme wins: at
    the session width (32) the aggregate per-trigger state-store
    commit was 5-8 s vs 0.6-1.0 s at 16 — the commit tax is
    super-linear in empty-ish partitions — while at 8 the serial
    per-group Python fold under-parallelizes (width sweep:
    8.4/6.1/7.4 s at 8/16/32 on the 1.5k-key EWMA replay). At 100 TB
    the entity count (millions+) saturates the clamp to the session
    width, so the cluster deployment still gets full parallelism and
    the knob frozen into the checkpoint is the right one; callers
    without a key estimate keep the session width."""
    session_w = spark.conf.get(SHUFFLE_PARTITIONS)
    if n_keys is None:
        return session_w
    want = -(-int(n_keys) // REPLAY_GROUPS_PER_PARTITION)
    return str(max(8, min(int(session_w), want)))


@dataclass(frozen=True)
class FileReplay:
    """One stateful file replay, in the parts the registry query and the
    kill-and-resume sweep share.

    - ``source(spark, sf_dir, path)`` writes the replay's files under
      ``path`` and returns ``(schema, n_keys)``; ``n_keys`` is the
      state-key estimate for a derived width, else None;
    - ``transform(stream)`` is the streaming query over the file stream;
    - ``mode`` is its output mode; ``width`` its shuffle (state
      partition) width, None to derive it from ``n_keys`` with
      :func:`wide_replay_width`;
    - ``keys`` are the columns keying each update-mode emission (a
      reader keeps each key's last one)."""

    source: Callable[[SparkSession, str, str], tuple]
    transform: Callable[[DataFrame], DataFrame]
    mode: str
    width: int | None = None
    keys: tuple[str, ...] = ()

    def write(self, spark: SparkSession, sf_dir: str,
              path: str) -> tuple[object, str]:
        """Write the source under ``path``; return its schema and the
        shuffle width to replay it at."""
        schema, n_keys = self.source(spark, sf_dir, path)
        width = self.width or wide_replay_width(spark, n_keys)
        return schema, str(width)


def run_replay(spark: SparkSession, replay: FileReplay, sf_dir: str) -> str:
    """Write ``replay``'s source to a temporary directory and run it to
    completion into a memory sink at its width; returns the sink table
    name (the sink outlives the source files)."""
    with tempfile.TemporaryDirectory(prefix="replay_") as tmp:
        path = os.path.join(tmp, "src")
        schema, width = replay.write(spark, sf_dir, path)
        return run_stream_to_table(
            replay.transform(read_replay(spark, schema, path)),
            mode=replay.mode,
            shuffle_partitions=width,
        )
