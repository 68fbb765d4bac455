"""Exactly-once across restart: a checkpointed streaming aggregation
stopped mid-run and restarted must converge to exactly the batch result
(no duplicates, no loss) — the fault-tolerance contract of the engine."""

from __future__ import annotations

import tempfile
import time
import uuid

from pyspark.sql import functions as F

from spark_streaming_testbed_spark.plans import parse_plan
from spark_streaming_testbed_spark.sources.profile_source import (
    profile_dataframe,
    profile_stream,
)

PLAN = (
    '{"sequence": [{"type": "cycle", "values": [3, 4, 5], "rate": 50, '
    '"duration": 8}]}'
)


def test_checkpointed_aggregation_survives_restart(spark):
    plan = parse_plan(PLAN)
    name = f"ckpt_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as tmp:
        ckpt = f"{tmp}/checkpoint"
        # materialize the source ONCE — a restart must see the same files
        # (regenerating would write new part-file names = phantom input)
        (
            profile_dataframe(spark, plan)
            .repartitionByRange(4, "ts")
            .write.mode("overwrite")
            .parquet(f"{tmp}/src")
        )

        def start(sink_name):
            stream = (
                spark.readStream.schema("ts timestamp, value int, stream_id int")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/src")
            )
            agg = stream.groupBy("value").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            return (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(sink_name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        # first run: stop early (after the first batch commits)
        q1 = start(name)
        deadline = time.time() + 60
        while not q1.recentProgress and time.time() < deadline:
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination()

        # restart from the same checkpoint: must finish the remainder
        q2 = start(name + "_r")
        q2.awaitTermination()

        got = {r.value: r.cnt for r in spark.table(name + "_r").collect()}

    expect = {}
    for _, v in plan.rows():
        expect[v] = expect.get(v, 0) + 1
    # complete mode re-emits full state: totals must be exact, not doubled
    assert got == expect


def test_stream_stream_left_outer_join(spark):
    """Left-outer stream-stream join: unmatched left rows emit with nulls
    once the watermark closes their window."""
    plan_l = parse_plan(
        '{"sequence": [{"type": "fixed", "value": 1, "rate": 20, "duration": 4}]}'
    )
    plan_r = parse_plan(
        '{"sequence": [{"type": "fixed", "value": 2, "rate": 20, "duration": 4}]}'
    )
    with tempfile.TemporaryDirectory() as tmp:
        left = (
            profile_stream(spark, plan_l, tmp, stream_id=0, seconds_per_file=2)
            .withWatermark("ts", "2 seconds")
            .select(F.col("ts").alias("lts"), F.col("value").alias("lv"))
        )
        right = (
            profile_stream(spark, plan_r, tmp, stream_id=1, seconds_per_file=2)
            .withWatermark("ts", "2 seconds")
            .select(F.col("ts").alias("rts"), F.col("value").alias("rv"))
        )
        joined = left.join(
            right,
            (left.lv == right.rv)  # never true: values are disjoint (1 vs 2)
            & (right.rts >= left.lts)
            & (right.rts <= left.lts + F.expr("interval 1 second")),
            "left_outer",
        )
        name = f"sslo_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
    # Structured Streaming emits unmatched outer rows only after the
    # watermark closes their join window; rows near the stream's end
    # stay in state (the documented outer-join delay). Assert the
    # semantics: everything emitted is a correct unmatched-left row, the
    # emitted prefix is the OLDEST rows, and at least one window closed.
    n_left = len(plan_l.rows())
    assert 0 < len(rows) <= n_left
    assert all(r.rv is None and r.rts is None and r.lv == 1 for r in rows)
    emitted_max = max(r.lts for r in rows)
    all_lts = sorted(
        set() if not rows else {r.lts for r in rows}
    )
    # emitted rows form a time-prefix: nothing newer than emitted_max
    # could have been skipped (watermark is monotone)
    assert len([t for t in all_lts if t <= emitted_max]) == len(all_lts)


def test_stateful_ewma_state_survives_restart(spark):
    """applyInPandasWithState state must persist through the checkpoint:
    stop the streaming EWMA after the first committed batch, restart on
    the same checkpoint, and every user updated after the restart must
    land on EXACTLY the batch fold's (n_events, ewma) — impossible
    unless the pre-restart fold state was recovered bit-for-bit."""
    from spark_streaming_testbed_spark.operators.advanced import ewma_smooth
    from spark_streaming_testbed_spark.session import load_table
    from spark_streaming_testbed_spark.streaming.replay import (
        read_replay,
        write_time_ordered_chunks,
    )
    from spark_streaming_testbed_spark.streaming.stateful import EWMA_REPLAY

    sf = "/root/testdata/sf0.001"
    events = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    with tempfile.TemporaryDirectory(prefix="ewma_ckpt_") as tmp:
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        n_chunks = write_time_ordered_chunks(events, src, n_chunks=6)
        assert n_chunks >= 3, "need multiple triggers for a mid-run stop"

        out1 = f"{tmp}/out_phase1"
        out2 = f"{tmp}/out_phase2"

        def start(outdir):
            # the memory sink does not support checkpoint recovery;
            # foreachBatch-to-parquet is the recoverable sink shape
            updates = EWMA_REPLAY.transform(
                read_replay(spark, events.schema, src)
            )
            return (
                updates.writeStream.outputMode("update")
                .foreachBatch(
                    lambda df, _id: df.write.mode("append").parquet(outdir)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        # phase 1: stop after the first batch commits
        q1 = start(out1)
        deadline = time.time() + 60
        while not q1.recentProgress and time.time() < deadline:
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination()
        done_before = spark.read.parquet(out1).count()
        assert done_before > 0, "phase 1 must commit at least one batch"

        # phase 2: same checkpoint, fresh sink — replays only the
        # remaining chunks, folding on top of RECOVERED state
        q2 = start(out2)
        q2.awaitTermination()
        phase2 = spark.read.parquet(out2)
        assert phase2.count() > 0, "phase 2 must process remaining chunks"
        finals = (
            phase2.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "last_value", "ewma")).alias("f"))
            .select(
                "user_id",
                F.col("f.n_events").alias("n_events"),
                F.round(F.col("f.ewma"), 6).alias("ewma"),
            )
        )
        batch = {
            r.user_id: (r.n_events, r.ewma)
            for r in ewma_smooth(spark, sf).collect()
        }
        mismatched = [
            (r.user_id, (r.n_events, r.ewma), batch.get(r.user_id))
            for r in finals.collect()
            if batch.get(r.user_id) != (r.n_events, r.ewma)
        ]
        assert not mismatched, mismatched[:5]


def test_fs_manager_resumes_filecontext_checkpoint(spark):
    """A checkpoint written by Spark's default FileContext-based file
    manager must resume under the FileSystem-based one `get_session`
    selects: run a stateful aggregation with the conf unset, stop it,
    set the conf back and resume with more input; the final table must
    equal an uninterrupted run's."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    with tempfile.TemporaryDirectory(prefix="ckpt_compat_") as tmp:
        src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"

        def add_input(lo, hi):
            (
                spark.range(lo, hi)
                .select(F.col("id"), (F.col("id") % 7).alias("k"))
                .repartition(3)
                .write.mode("append")
                .parquet(src)
            )

        def run(sink_name, checkpoint):
            stream = (
                spark.readStream.schema("id long, k long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                stream.groupBy("k")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
                .writeStream.outputMode("complete")
                .format("memory")
                .queryName(sink_name)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sorted(spark.table(sink_name).collect())

        name = f"ckpt_compat_{uuid.uuid4().hex[:8]}"
        add_input(0, 600)
        fs_manager = spark.conf.get(key, None)
        assert fs_manager, "get_session must select a checkpoint file manager"
        try:
            spark.conf.unset(key)
            first = run(name + "_a", ckpt)
        finally:
            spark.conf.set(key, fs_manager)
        assert sum(r.n for r in first) == 600

        add_input(600, 1000)
        resumed = run(name + "_b", ckpt)
        uninterrupted = run(name + "_c", f"{tmp}/ckpt_full")

    assert sum(r.n for r in resumed) == 1000
    assert resumed == uninterrupted
