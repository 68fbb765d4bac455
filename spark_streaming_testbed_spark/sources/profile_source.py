"""Materialize rate-profile test plans as (streaming) DataFrames.

The reference's generator is an actor pushing integers over TCP
(testbed DataGeneratorActor.scala); here the profile is *data*: a
deterministic ``(ts, value, stream_id)`` DataFrame computed in parallel
from the pure-Python plan (``plans/phases.py``).

Scale design: generation distributes over plan-seconds with
``spark.range(n_seconds)`` + ``mapInPandas`` — each task renders its own
seconds (the plan object is a few hundred bytes in the closure), so a
year-long 1M items/s profile (≈3·10^13 rows) generates with no driver
bottleneck and no shuffle.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..plans.phases import TestPlan

PROFILE_SCHEMA = "ts timestamp, value int, stream_id int"

#: epoch anchor for profile second 0 (2024-01-01 00:00:00 UTC)
DEFAULT_EPOCH_MS = 1_704_067_200_000


def profile_dataframe(
    spark: SparkSession,
    plan: TestPlan,
    max_seconds: int | None = None,
    epoch_ms: int = DEFAULT_EPOCH_MS,
    stream_id: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Render ``plan`` to a batch DataFrame ``(ts, value, stream_id)``.

    Partitioned by contiguous second ranges; each executor task calls the
    plan's ``values_for`` for its own seconds only.
    """
    from ..session import ensure_session_confs

    ensure_session_confs(spark)  # UTC session tz: naive pandas timestamps
    # below must land as true UTC instants on any caller-owned session
    n_seconds = plan.duration if max_seconds is None else max_seconds
    if n_seconds is None:
        raise ValueError("unbounded plan: pass max_seconds")
    if partitions is None:
        partitions = max(1, min(spark.sparkContext.defaultParallelism, n_seconds))

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows_t, rows_v = [], []
            for second in pdf["id"]:
                for dat in plan.values_for(int(second)):
                    rows_t.extend([dat.time_ms] * len(dat.values))
                    rows_v.extend(dat.values)
            yield pd.DataFrame(
                {
                    "ts": pd.to_datetime(
                        pd.Series(rows_t, dtype="int64") + epoch_ms, unit="ms"
                    ),
                    "value": pd.Series(rows_v, dtype="int32"),
                    "stream_id": pd.Series([stream_id] * len(rows_v), dtype="int32"),
                }
            )

    seconds = spark.range(0, n_seconds, 1, partitions)
    return seconds.mapInPandas(render, schema=PROFILE_SCHEMA)


#: plan used by the oracle-checked ``profile_fixed_ramp`` query
_FIXED_RAMP_PLAN_JSON = """
{"sequence": [
  {"type": "ramp", "value": 7, "startRate": 50, "endRate": 150, "duration": 5},
  {"type": "fixed", "value": 8, "rate": 120, "duration": 3}
]}
"""

#: the same bucket arithmetic in DuckDB SQL — correctness oracle for T7
PROFILE_FIXED_RAMP_ORACLE = """
WITH ramp AS (
  SELECT s*1000 + i*10 AS time_ms, 7 AS value,
         CAST(floor((i+1) * rb) AS INT) - CAST(floor(i * rb) AS INT) AS n
  FROM (SELECT s, i, (50 + (150-50)/4.0*s)/100.0 AS rb
        FROM (SELECT unnest(range(5)) AS s), (SELECT unnest(range(100)) AS i))
), fx AS (
  SELECT (s+5)*1000 + i*10 AS time_ms, 8 AS value,
         CAST(floor((i+1) * (120/100.0)) AS INT) - CAST(floor(i * (120/100.0)) AS INT) AS n
  FROM (SELECT unnest(range(3)) AS s), (SELECT unnest(range(100)) AS i)
), allb AS (SELECT * FROM ramp UNION ALL SELECT * FROM fx)
SELECT CAST(time_ms AS BIGINT) AS time_ms, value
FROM allb, (SELECT unnest(range(8)) AS j) rep WHERE rep.j < allb.n
ORDER BY time_ms, value
"""


def profile_fixed_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked T7 query: render a ramp+fixed plan, emit relative ms.

    ``sf_dir`` is unused (the profile is synthetic by construction); the
    DuckDB oracle reproduces the exact 10 ms bucket quantization in SQL.
    """
    from pyspark.sql import functions as F

    from ..plans.phases import parse_plan

    plan = parse_plan(_FIXED_RAMP_PLAN_JSON)
    df = profile_dataframe(spark, plan)
    return (
        df.select(
            (F.unix_millis("ts") - F.lit(DEFAULT_EPOCH_MS)).alias("time_ms"),
            "value",
        )
        .orderBy("time_ms", "value")
    )


def write_profile(
    spark: SparkSession,
    plan: TestPlan,
    path: str,
    max_seconds: int | None = None,
    epoch_ms: int = DEFAULT_EPOCH_MS,
    stream_id: int = 0,
    seconds_per_file: int = 10,
) -> None:
    """Write ``plan`` as parquet under ``path``, one file per
    ``seconds_per_file`` plan-seconds with mtimes increasing in
    event-time order (:func:`~..streaming.replay.write_chunks`), so a
    file stream replays the profile in ``ts`` order."""
    from pyspark.sql import functions as F

    from ..streaming.replay import write_chunks

    n_seconds = plan.duration if max_seconds is None else max_seconds
    if n_seconds is None:
        raise ValueError("unbounded plan: pass max_seconds")
    batch = profile_dataframe(
        spark, plan, max_seconds=n_seconds, epoch_ms=epoch_ms, stream_id=stream_id
    )
    chunk = F.floor(
        (F.unix_millis("ts") - F.lit(epoch_ms)) / F.lit(1000 * seconds_per_file)
    ).cast("long")
    write_chunks(batch, path, chunk, max(1, math.ceil(n_seconds / seconds_per_file)))


def profile_stream(
    spark: SparkSession,
    plan: TestPlan,
    checkpoint_dir: str,
    max_seconds: int | None = None,
    epoch_ms: int = DEFAULT_EPOCH_MS,
    stream_id: int = 0,
    seconds_per_file: int = 10,
) -> DataFrame:
    """Render ``plan`` as a *streaming* DataFrame.

    Materializes the profile to parquet (see :func:`write_profile`) then
    replays it with a file stream and ``maxFilesPerTrigger=1`` — a
    deterministic stand-in for the reference's TCP socket that works
    with ``availableNow`` triggers in tests.
    """
    path = f"{checkpoint_dir}/profile_sid{stream_id}"
    write_profile(
        spark, plan, path, max_seconds, epoch_ms, stream_id, seconds_per_file
    )
    return (
        spark.readStream.schema(PROFILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
