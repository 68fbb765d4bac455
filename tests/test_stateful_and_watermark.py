"""Cross-batch state (T9) and late-data semantics (T5)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from spark_streaming_testbed_spark.plans import parse_plan
from spark_streaming_testbed_spark.sources.profile_source import profile_stream
from spark_streaming_testbed_spark.streaming.replay import run_stream_to_table
from spark_streaming_testbed_spark.streaming.stateful import (
    TOTALS_PLAN,
    running_totals,
)


def test_stateful_running_totals_accumulate_across_batches(spark):
    plan = parse_plan(TOTALS_PLAN)
    with tempfile.TemporaryDirectory() as tmp:
        stream = profile_stream(spark, plan, tmp, seconds_per_file=2)
        table = run_stream_to_table(running_totals(stream), mode="update")
        rows = spark.table(table).collect()
    # multiple triggers → multiple emissions per key; final row per key
    # carries the grand total
    finals = {}
    for r in rows:
        cur = finals.get(r.value)
        if cur is None or r.n_batches > cur.n_batches:
            finals[r.value] = r
    expect = {}
    for _, v in plan.rows():
        expect[v] = expect.get(v, 0) + 1
    assert {k: r.total_cnt for k, r in finals.items()} == expect
    assert all(r.total_sum == r.total_cnt * r.value for r in finals.values())
    # state really crossed batches (3 files → 3 triggers)
    assert max(r.n_batches for r in rows) >= 2


def test_watermark_semantics_documented_divergence(spark):
    """T5: the reference never drops late data; a watermarked streaming
    aggregation does. Assert both behaviors explicitly."""
    plan = parse_plan(
        '{"sequence": [{"type": "fixed", "value": 3, "rate": 10, '
        '"duration": 6}]}'
    )
    with tempfile.TemporaryDirectory() as tmp:
        # files arrive in REVERSE time order → everything after the first
        # file is "late" relative to the max event time already seen
        from spark_streaming_testbed_spark.sources.profile_source import (
            profile_dataframe,
        )

        batch = profile_dataframe(spark, plan)
        (
            batch.withColumn(
                "rev", F.lit(1000000) - F.unix_millis("ts")
            )
            .repartitionByRange(3, "rev")
            .drop("rev")
            .write.mode("overwrite").parquet(f"{tmp}/files")
        )
        schema = "ts timestamp, value int, stream_id int"

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/files")
            )

        # parity mode (no watermark): every row aggregated
        no_wm = stream().groupBy("value").count()
        t1 = run_stream_to_table(no_wm, mode="complete")
        total_no_wm = sum(r["count"] for r in spark.table(t1).collect())
        assert total_no_wm == 60

        # watermarked append mode: late windows are finalized and late
        # rows beyond the delay are dropped
        wm = (
            stream().withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "2 seconds"), "value")
            .count()
        )
        t2 = run_stream_to_table(wm, mode="append")
        total_wm = sum(r["count"] for r in spark.table(t2).collect())
        assert total_wm <= total_no_wm


def test_streaming_group_sample_matches_batch_and_bounds_state(spark):
    """The k-smallest-hash sample is an order statistic, so the stream's
    final state must equal the batch sample exactly, and no trigger may
    ever hold more than k rows per group."""
    from spark_streaming_testbed_spark.operators.prep import (
        GROUP_SAMPLE_K,
        group_sample_topk,
    )
    from spark_streaming_testbed_spark.streaming.stateful import (
        streaming_group_sample,
    )

    sf = "/root/testdata/sf0.001"
    stream_rows = [
        (r.event_type, r.rn, r.event_id, r.value)
        for r in streaming_group_sample(spark, sf).collect()
    ]
    batch_rows = [
        (r.event_type, r.rn, r.event_id, r.value)
        for r in group_sample_topk(spark, sf).collect()
    ]
    assert stream_rows == batch_rows
    per_type: dict[str, int] = {}
    for t, rn, *_ in stream_rows:
        per_type[t] = max(per_type.get(t, 0), rn)
    assert all(v <= GROUP_SAMPLE_K for v in per_type.values())


def test_streaming_kmv_matches_batch_counts(spark):
    from spark_streaming_testbed_spark.session import load_table
    from spark_streaming_testbed_spark.streaming.stateful import (
        SKMV_K,
        streaming_kmv_distinct,
    )
    from tests.conftest import SF_SMOKE

    rows = streaming_kmv_distinct(spark, SF_SMOKE).collect()
    per_type = {
        r.event_type: r.cnt
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert {r.event_type for r in rows} == set(per_type)
    for r in rows:
        assert r.n_seen == per_type[r.event_type]  # every row folded in
        assert r.h_k > 0
        assert r.kmv_est >= SKMV_K - 1  # k-th hash exists => n >= k
