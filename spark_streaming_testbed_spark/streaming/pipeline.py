"""Structured Streaming rebuild of the reference's streaming query
(SURVEY.md §2.6 T1/T6/T8, §2.1 S3/S4, §3.1).

The reference pipeline: N socket streams → parse-filter → per-record CPU
kernel → per-batch per-value stats → union → console TSV sink
(simple-streaming-app SimpleStreamingApp.scala:51-91). Rebuilt as:
profile/file streams (+``stream_id``) → ``unionByName`` →  event-time
tumbling window aggregation → ``foreachBatch``/memory sink, driven by
``availableNow`` for deterministic tests.

Late data: the reference never drops late items (scheduler drains
``time <= now``, DataGeneratorActor.scala:123-136); Structured Streaming
watermarks do. Queries here default to NO watermark (exact parity,
bounded test data); pass ``watermark=`` for the unbounded-scale variant —
the documented T5 semantic divergence.
"""

from __future__ import annotations

import functools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.stats import stats_aggs
from ..operators.advanced import EVENT_FUNNEL_ORACLE, EWMA_SMOOTH_ORACLE
from ..operators.dedup import (
    BENCHMARK_MAX_ID,
    DECONTAMINATE_ORACLE,
    _with_shingles,
)
from ..operators.oracles import RELATIONAL_ORACLES
from ..operators.prep import GROUP_SAMPLE_ORACLE
from ..operators.sketches import HEAVY_HITTERS_ORACLE
from ..plans.phases import parse_plan
from ..session import load_table
from ..sources.profile_source import (
    DEFAULT_EPOCH_MS,
    _FIXED_RAMP_PLAN_JSON,
    profile_stream,
)
from . import stateful as st
from .replay import run_stream_to_table


def union_streams(streams: list[DataFrame]) -> DataFrame:
    """Multi-source fan-in (S3/U1): streaming unions are first-class."""
    return functools.reduce(DataFrame.unionByName, streams)


def windowed_stats(
    stream: DataFrame,
    window: str = "5 seconds",
    watermark: str | None = None,
    by_stream: bool = True,
) -> DataFrame:
    """The flagship A1 aggregation on a (streaming) DataFrame: per
    tumbling event-time window, per value (and stream), count/sum/mean/
    population-stddev. Catalyst plans partial+final agg with streaming
    state; no watermark by default (see module docstring)."""
    if watermark:
        stream = stream.withWatermark("ts", watermark)
    keys = [F.window("ts", window).alias("w"), F.col("value")]
    if by_stream:
        keys.append(F.col("stream_id"))
    out_keys = ["value", "stream_id"] if by_stream else ["value"]
    return (
        stream.groupBy(*keys)
        .agg(*stats_aggs("value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            *out_keys, "cnt", "sum_v", "mean_v", "stddev_v",
        )
    )


def tsv_lines(stats: DataFrame) -> DataFrame:
    """Reference console TSV format (P9/S4, SimpleStreamingApp.scala:106-108)."""
    return stats.select(
        F.concat_ws(
            "\t",
            F.col("window_start"), F.col("value"),
            F.col("cnt"), F.col("sum_v"), F.col("mean_v"), F.col("stddev_v"),
        ).alias("line")
    )


# ---------------------------------------------------------------------------
# Contract queries
# ---------------------------------------------------------------------------

def streaming_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming query: replay the fixed+ramp profile as a
    file stream (one trigger per file) → tumbling 5 s window stats →
    memory sink. The DuckDB oracle reproduces the generator arithmetic AND
    the aggregation in pure SQL — an end-to-end streaming correctness
    gate, not just a rows-only smoke."""
    plan = parse_plan(_FIXED_RAMP_PLAN_JSON)
    with tempfile.TemporaryDirectory(prefix="profile_stream_") as tmp:
        # 4 s/file halves the trigger count vs r2's 2 s/file: the query's
        # cost is fixed per-trigger overhead (file-stream replay + memory
        # sink), not data volume, and the oracle result is trigger-count
        # independent (complete-mode tumbling windows).
        stream = profile_stream(spark, plan, tmp, seconds_per_file=4)
        stats = windowed_stats(stream, window="5 seconds", by_stream=False)
        # 2 distinct (window, value) state keys: 4 state partitions, not
        # the session's 32 — each partition pays a per-trigger commit
        table = run_stream_to_table(stats, mode="complete",
                                    shuffle_partitions=4)
        # memory sink is fully materialized once awaitTermination returns
        return spark.table(table).orderBy("window_start", "value")


STREAMING_PROFILE_STATS_ORACLE = f"""
WITH ramp AS (
  SELECT s*1000 + i*10 AS time_ms, 7 AS value,
         CAST(floor((i+1) * rb) AS INT) - CAST(floor(i * rb) AS INT) AS n
  FROM (SELECT s, i, (50 + (150-50)/4.0*s)/100.0 AS rb
        FROM (SELECT unnest(range(5)) AS s), (SELECT unnest(range(100)) AS i))
), fx AS (
  SELECT (s+5)*1000 + i*10 AS time_ms, 8 AS value,
         CAST(floor((i+1) * (120/100.0)) AS INT) - CAST(floor(i * (120/100.0)) AS INT) AS n
  FROM (SELECT unnest(range(3)) AS s), (SELECT unnest(range(100)) AS i)
), allb AS (SELECT * FROM ramp UNION ALL SELECT * FROM fx),
rows_ AS (
  SELECT time_ms, value
  FROM allb, (SELECT unnest(range(8)) AS j) rep WHERE rep.j < allb.n)
SELECT {DEFAULT_EPOCH_MS // 1000} + (time_ms // 5000) * 5 AS window_start,
       value,
       count(*) AS cnt,
       CAST(sum(value) AS BIGINT) AS sum_v,
       round(avg(value), 6) AS mean_v,
       coalesce(round(stddev_pop(value), 6), 0.0) AS stddev_v
FROM rows_
GROUP BY 1, 2 ORDER BY 1, 2
"""


def streaming_multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED multi-stream union (S3/T8/U1): two profile streams
    with distinct stream_ids unioned before the window aggregation —
    per-stream identities survive to the output. The DuckDB twin
    re-derives both generators (fixed buckets + the cycle's per-second
    round-robin via a windowed running count) and the aggregation."""
    plan_a = parse_plan(
        '{"sequence": [{"type": "fixed", "value": 5, "rate": 40, "duration": 4}]}'
    )
    plan_b = parse_plan(
        '{"sequence": [{"type": "cycle", "values": [6, 7], "rate": 30, "duration": 4}]}'
    )
    with tempfile.TemporaryDirectory(prefix="multi_stream_") as tmp:
        sa = profile_stream(spark, plan_a, tmp, stream_id=0, seconds_per_file=2)
        sb = profile_stream(spark, plan_b, tmp, stream_id=1, seconds_per_file=2)
        stats = windowed_stats(union_streams([sa, sb]), window="2 seconds")
        # single-digit (window, stream, value) state keys
        table = run_stream_to_table(stats, mode="complete",
                                    shuffle_partitions=4)
        return spark.table(table).orderBy("window_start", "stream_id", "value")


STREAMING_MULTI_SOURCE_UNION_ORACLE = f"""
WITH a_buckets AS (
  SELECT s, i,
         CAST(floor((i+1) * 0.4) AS INT) - CAST(floor(i * 0.4) AS INT) AS n
  FROM (SELECT unnest(range(4)) AS s), (SELECT unnest(range(100)) AS i)
), a_rows AS (
  SELECT s*1000 + i*10 AS time_ms, 5 AS value, 0 AS stream_id
  FROM a_buckets, (SELECT unnest(range(100)) AS j) rep WHERE rep.j < n
), b_buckets AS (
  SELECT s, i,
         CAST(floor((i+1) * 0.3) AS INT) - CAST(floor(i * 0.3) AS INT) AS n
  FROM (SELECT unnest(range(4)) AS s), (SELECT unnest(range(100)) AS i)
), b_cum AS (
  SELECT s, i, n,
         SUM(n) OVER (PARTITION BY s ORDER BY i) - n AS cum_before
  FROM b_buckets
), b_rows AS (
  -- cycle [6, 7]: the k-th item emitted within a second takes values[k%2]
  -- (the element counter resets per second, CyclePhase.scala:12-25)
  SELECT s*1000 + i*10 AS time_ms,
         ([6, 7])[CAST((cum_before + rep.j) % 2 AS INT) + 1] AS value,
         1 AS stream_id
  FROM b_cum, (SELECT unnest(range(100)) AS j) rep WHERE rep.j < n
), allr AS (SELECT * FROM a_rows UNION ALL SELECT * FROM b_rows)
SELECT {DEFAULT_EPOCH_MS // 1000} + (time_ms // 2000) * 2 AS window_start,
       value, stream_id,
       count(*) AS cnt,
       CAST(sum(value) AS BIGINT) AS sum_v,
       round(avg(value), 6) AS mean_v,
       coalesce(round(stddev_pop(value), 6), 0.0) AS stddev_v
FROM allr
GROUP BY 1, 2, 3 ORDER BY window_start, stream_id, value
"""


def hanoi_load_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference workload shape (P8/F1): profile of heights 5-8 →
    CPU-bound hanoi kernel per record → per-value stats over the move
    counts. Move counts are deterministic (2^n − 1) so this IS
    oracle-checkable; measured micros stay engine-side."""
    plan = parse_plan(
        '{"sequence": [{"type": "cycle", "values": [5, 6, 7, 8], '
        '"rate": 50, "duration": 4}]}'
    )
    from ..functions.hanoi import hanoi_kernel
    from ..sources.profile_source import profile_dataframe

    df = profile_dataframe(spark, plan)
    with_kernel = df.withColumn("k", hanoi_kernel("value"))
    return (
        with_kernel.groupBy("value")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k.moves").alias("total_moves"),
            F.min("k.moves").alias("moves_per_solve"),
        )
        .orderBy("value")
    )


HANOI_LOAD_STATS_ORACLE = """
WITH counts AS (
  SELECT i,
         CAST(floor((i+1) * 0.5) AS INT) - CAST(floor(i * 0.5) AS INT) AS n
  FROM (SELECT unnest(range(100)) AS i)),
seq AS (
  SELECT s.s * 100 + b.ord AS idx
  FROM (SELECT unnest(range(4)) AS s) s,
       (SELECT i, row_number() OVER (ORDER BY i) - 1 AS ord
        FROM counts WHERE n > 0) b),
vals AS (SELECT ([5, 6, 7, 8])[(idx % 4) + 1] AS value FROM seq)
SELECT value,
       count(*) AS cnt,
       CAST(count(*) * (2 ** value - 1) AS BIGINT) AS total_moves,
       CAST(2 ** value - 1 AS BIGINT) AS moves_per_solve
FROM vals
GROUP BY value ORDER BY value
"""


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming exact dedup: the profile emits true
    duplicates (a 10 ms bucket holds N identical (ts, value) rows);
    ``dropDuplicates`` over the stream collapses them with streaming
    state. Oracle: SELECT DISTINCT over the same generated rows."""
    plan = parse_plan(_FIXED_RAMP_PLAN_JSON)
    with tempfile.TemporaryDirectory(prefix="sdedup_") as tmp:
        stream = profile_stream(spark, plan, tmp, seconds_per_file=2)
        deduped = stream.dropDuplicates(["ts", "value"]).select(
            (F.unix_millis("ts") - F.lit(DEFAULT_EPOCH_MS)).alias("time_ms"),
            "value",
        )
        # ~800 distinct (ts, value) state keys
        table = run_stream_to_table(deduped, mode="append",
                                    shuffle_partitions=8)
        return spark.table(table).orderBy("time_ms", "value")


STREAMING_DEDUP_ORACLE = """
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
SELECT DISTINCT CAST(time_ms AS BIGINT) AS time_ms, value
FROM allb WHERE n > 0
ORDER BY time_ms, value
"""


def streaming_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED stream-static broadcast join: documents arrive as a
    parquet file stream; each micro-batch's shingle hashes are inner-
    joined against the static (batch-built, broadcast) benchmark shingle
    index, and the matches are appended to the sink. Mirrors the batch
    ``decontaminate`` gate — the shape every online ingestion pipeline
    uses to keep eval data out of a training corpus as it lands.

    Scale shape: the static side is the tiny DISTINCT benchmark index
    (broadcast once, reused every trigger); the stream side is never
    shuffled before the join — per-trigger work is scan → explode →
    broadcast-hash-join → append. The per-doc rollup happens on the
    sink table (batch), not in streaming state."""
    docs = load_table(spark, sf_dir, "documents")
    bench = (
        _with_shingles(docs.where(F.col("doc_id") < BENCHMARK_MAX_ID))
        .select(F.explode("shingles").alias("sstr"))
        .select(F.xxhash64("sstr").alias("s"))
        .distinct()
    )
    # the file-stream source lists a DIRECTORY; pathGlobFilter narrows the
    # listing to the documents table inside the shared sf_dir
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    hits = (
        _with_shingles(stream.where(F.col("doc_id") >= BENCHMARK_MAX_ID))
        .where(F.size("shingles") > 0)
        .select("doc_id", F.explode("shingles").alias("sstr"))
        .select("doc_id", F.xxhash64("sstr").alias("s"))
        .join(F.broadcast(bench), "s")
        .select("doc_id", "s")
    )
    table = run_stream_to_table(hits, mode="append")
    return (
        spark.table(table)
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_hits"))
        .select("doc_id", "n_hits", (F.col("n_hits") >= 3).alias("flagged"))
        .orderBy("doc_id")
    )


_SSJ_PLAN_A = (
    '{"sequence": [{"type": "fixed", "value": 1, "rate": 40, "duration": 2},'
    ' {"type": "fixed", "value": 2, "rate": 40, "duration": 2}]}'
)
_SSJ_PLAN_B = (
    '{"sequence": [{"type": "fixed", "value": 3, "rate": 50, "duration": 2},'
    ' {"type": "fixed", "value": 2, "rate": 50, "duration": 2}]}'
)


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED stream-stream inner join: two live profile streams
    (watermarked both sides) joined on value within a 1 s event-time
    bound — the capability tier above the reference's single-stream
    pipeline (T9 stretch; batch==stream equality separately proved in
    ``tests/test_stream_stream_join.py``). The joined pairs roll up into
    per-(value, left-second, right-second) counts; the DuckDB twin
    re-derives both generators' 10 ms bucket arithmetic in SQL and joins
    the row sets directly.

    Scale shape: the time bound lets the state store evict rows once the
    watermark passes lts + 1 s — bounded state, the only shape that
    survives unbounded streams."""
    plan_a, plan_b = parse_plan(_SSJ_PLAN_A), parse_plan(_SSJ_PLAN_B)
    with tempfile.TemporaryDirectory(prefix="ssj_") as tmp:
        sa = profile_stream(spark, plan_a, tmp, stream_id=0, seconds_per_file=4)
        sb = profile_stream(spark, plan_b, tmp, stream_id=1, seconds_per_file=4)
        left = sa.withWatermark("ts", "10 seconds").select(
            F.col("ts").alias("lts"), F.col("value").alias("v")
        )
        right = sb.withWatermark("ts", "10 seconds").select(
            F.col("ts").alias("rts"), F.col("value").alias("rv")
        )
        joined = left.join(
            right,
            (left.v == right.rv)
            & (right.rts >= left.lts)
            & (right.rts <= left.lts + F.expr("interval 1 second")),
        ).select("v", "lts", "rts")
        # per-trigger cost is the stateful join's task count, not data —
        # run the micro-batches at a narrow shuffle width (cf.
        # streaming_funnel; at scale this knob lives in the checkpoint)
        table = run_stream_to_table(joined, mode="append",
                                    shuffle_partitions=8)
        return (
            spark.table(table)
            .groupBy(
                "v",
                F.col("lts").cast("long").alias("l_sec"),
                F.col("rts").cast("long").alias("r_sec"),
            )
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("v", "l_sec", "r_sec")
        )


STREAMING_STREAM_JOIN_ORACLE = f"""
WITH a AS (
  SELECT {DEFAULT_EPOCH_MS} + (s + 2) * 1000 + i * 10 AS lms, 2 AS v
  FROM (SELECT unnest(range(2)) AS s), (SELECT unnest(range(100)) AS i),
       (SELECT unnest(range(40)) AS j)
  WHERE j < CAST(floor((i + 1) * 0.4) AS INT) - CAST(floor(i * 0.4) AS INT)
), b AS (
  SELECT {DEFAULT_EPOCH_MS} + (s + 2) * 1000 + i * 10 AS rms, 2 AS v
  FROM (SELECT unnest(range(2)) AS s), (SELECT unnest(range(100)) AS i),
       (SELECT unnest(range(50)) AS j)
  WHERE j < CAST(floor((i + 1) * 0.5) AS INT) - CAST(floor(i * 0.5) AS INT)
), p AS (
  SELECT a.v, a.lms, b.rms
  FROM a JOIN b ON a.v = b.v AND b.rms >= a.lms AND b.rms <= a.lms + 1000)
SELECT v, lms // 1000 AS l_sec, rms // 1000 AS r_sec,
       count(*) AS n_pairs
FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


STREAMING_QUERIES = {
    "streaming_profile_stats": streaming_profile_stats,
    "streaming_multi_source_union": streaming_multi_source_union,
    "hanoi_load_stats": hanoi_load_stats,
    "streaming_stateful_totals": st.streaming_stateful_totals,
    "streaming_dedup": streaming_dedup,
    "streaming_decontaminate": streaming_decontaminate,
    "streaming_funnel": st.streaming_funnel,
    "streaming_stream_join": streaming_stream_join,
    "streaming_heavy_hitters": st.streaming_heavy_hitters,
    "streaming_ewma": st.streaming_ewma,
    "streaming_group_sample": st.streaming_group_sample,
    "streaming_kmv_distinct": st.streaming_kmv_distinct,
    "streaming_late_data": st.streaming_late_data,
    "streaming_upsert": st.streaming_upsert,
    "streaming_sessionize": st.streaming_sessionize,
    "streaming_sliding_stats": st.streaming_sliding_stats,
    "streaming_latest_state": st.streaming_latest_state,
    "streaming_topk_users": st.streaming_topk_users,
}

STREAMING_ORACLES = {
    "streaming_profile_stats": STREAMING_PROFILE_STATS_ORACLE,
    "streaming_multi_source_union": STREAMING_MULTI_SOURCE_UNION_ORACLE,
    "hanoi_load_stats": HANOI_LOAD_STATS_ORACLE,
    "streaming_stateful_totals": st.STREAMING_STATEFUL_TOTALS_ORACLE,
    "streaming_dedup": STREAMING_DEDUP_ORACLE,
    "streaming_stream_join": STREAMING_STREAM_JOIN_ORACLE,
    # the stream-static join sees every document exactly once (file
    # stream over the same parquet), so the appended matches roll up to
    # the batch decontaminate gate's contamination table
    "streaming_decontaminate": DECONTAMINATE_ORACLE,
    # batch==stream equality: the stateful funnel shares the batch oracle
    "streaming_funnel": EVENT_FUNNEL_ORACLE,
    # batch==stream equality: the MG sketch + exact confirm reproduces
    # the batch heavy_hitters exactly, so they share one oracle
    "streaming_heavy_hitters": HEAVY_HITTERS_ORACLE,
    # batch==stream equality: k-smallest-hash is an order statistic, so
    # chunked folding equals the batch sample exactly — shared oracle
    "streaming_group_sample": GROUP_SAMPLE_ORACLE,
    "streaming_kmv_distinct": st.STREAMING_KMV_DISTINCT_ORACLE,
    # batch==stream equality: chunked state folding is bitwise identical
    # to the one-shot batch fold, so the stream shares ewma_smooth's oracle
    "streaming_ewma": EWMA_SMOOTH_ORACLE,
    # T5 late data: the oracle simulates the watermark's admission and
    # append-mode emission rules batch by batch (deterministic replay)
    "streaming_late_data": st.STREAMING_LATE_DATA_ORACLE,
    # incremental foreachBatch MERGE converges to the one-shot batch
    # merge, so the stream shares upsert_merge's oracle
    "streaming_upsert": RELATIONAL_ORACLES["upsert_merge"],
    "streaming_sessionize": st.STREAMING_SESSIONIZE_ORACLE,
    "streaming_sliding_stats": st.STREAMING_SLIDING_STATS_ORACLE,
    # batch==stream: the stateful golden record converges to the batch
    # latest-state pivot, so they share one oracle
    "streaming_latest_state": RELATIONAL_ORACLES["latest_state_pivot"],
    # complete-mode counts converge to the batch group-by, so the
    # running leaderboard shares the plain top-k SQL
    "streaming_topk_users": st.STREAMING_TOPK_USERS_ORACLE,
}
