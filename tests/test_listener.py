"""Live StreamingQueryListener → PID integration over a real query."""

from __future__ import annotations

import tempfile
import time

from spark_streaming_testbed_spark.plans import parse_plan
from spark_streaming_testbed_spark.sources.profile_source import profile_stream
from spark_streaming_testbed_spark.streaming.listener import RateFeedbackListener
from spark_streaming_testbed_spark.streaming.pipeline import windowed_stats
from spark_streaming_testbed_spark.streaming.replay import run_stream_to_table


def test_listener_receives_real_metrics_and_estimates(spark):
    listener = RateFeedbackListener()
    spark.streams.addListener(listener)
    try:
        plan = parse_plan(
            '{"sequence": [{"type": "fixed", "value": 6, "rate": 100, '
            '"duration": 8}]}'
        )
        with tempfile.TemporaryDirectory() as tmp:
            stream = profile_stream(spark, plan, tmp, seconds_per_file=2)
            table = run_stream_to_table(
                windowed_stats(stream, window="4 seconds"), mode="complete"
            )
            assert spark.table(table).count() > 0
        # Listener events arrive asynchronously on the listener bus — poll
        # until all 800 rows have been reported before asserting.
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            if sum(s["rows"] for s in listener.samples) >= 800 and listener.estimates:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)

    with_rows = [s for s in listener.samples if s["rows"] > 0]
    assert len(with_rows) >= 1  # at least one trigger observed
    assert sum(s["rows"] for s in with_rows) == 800  # all profile rows seen
    assert len(listener.estimates) >= 1  # PID produced live estimates
    assert all(e > 0 for e in listener.estimates)


def test_overhead_compensated_pid_escapes_min_rate_trap():
    """With a fixed per-trigger overhead, the naive estimator reads
    rows/duration (far below marginal capacity) and parks at min_rate;
    the compensated estimator recovers the intercept and converges to
    the true marginal rate, so the backlog drains in larger batches."""
    from spark_streaming_testbed_spark.streaming.controller import (
        PIDRateController,
    )

    OVERHEAD_MS = 1000.0
    PER_ROW_MS = 0.01  # marginal capacity = 100k rows/s

    def closed_loop(ctrl: PIDRateController, triggers: int = 25) -> float:
        backlog = 500_000.0
        rate = 20_000.0
        now = 0.0
        for _ in range(triggers):
            admitted = min(backlog, rate)  # 1-second data batches
            backlog -= admitted
            backlog += 20_000  # steady incoming load
            duration = OVERHEAD_MS + PER_ROW_MS * admitted
            now += duration
            est = ctrl.update(now, int(admitted), duration, 0.0)
            if est is not None:
                rate = est
        return rate

    naive_rate = closed_loop(PIDRateController(min_rate=20_000))
    comp_rate = closed_loop(
        PIDRateController(min_rate=20_000, compensate_overhead=True)
    )
    # naive: 20k rows / 1.2 s ≈ 16.7k/s → clamped at the floor forever
    assert naive_rate <= 21_000
    # compensated: approaches the 100k/s marginal capacity
    assert comp_rate > 60_000


def test_overhead_fit_is_clamped_to_observed_durations():
    from spark_streaming_testbed_spark.streaming.controller import (
        PIDRateController,
    )

    ctrl = PIDRateController(compensate_overhead=True)
    # identical batch sizes: the fit is degenerate (det == 0) -> 0 overhead
    ctrl.update(1000.0, 100, 500.0, 0.0)
    ctrl.update(2000.0, 100, 500.0, 0.0)
    assert ctrl._overhead_ms() == 0.0
    # varied sizes: intercept never exceeds the smallest duration
    ctrl.update(3000.0, 1000, 600.0, 0.0)
    ctrl.update(4000.0, 5000, 640.0, 0.0)
    assert 0.0 <= ctrl._overhead_ms() <= 500.0
