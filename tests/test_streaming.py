"""Streaming pipeline + back-pressure controller tests."""

from __future__ import annotations

from spark_streaming_testbed_spark.plans import parse_plan
from spark_streaming_testbed_spark.streaming.controller import (
    AdmissionSimulator,
    PIDRateController,
)
from spark_streaming_testbed_spark.streaming.pipeline import (
    streaming_profile_stats,
    windowed_stats,
)
from spark_streaming_testbed_spark.sources.profile_source import (
    DEFAULT_EPOCH_MS,
    profile_dataframe,
    write_profile,
)


def test_streaming_equals_batch_on_same_profile(spark):
    """The streaming windowed aggregation must produce exactly the rows
    the equivalent batch aggregation produces on the same profile."""
    stream_rows = {
        tuple(r) for r in streaming_profile_stats(spark, "unused").collect()
    }
    plan = parse_plan(
        '{"sequence": [{"type": "ramp", "value": 7, "startRate": 50, '
        '"endRate": 150, "duration": 5}, '
        '{"type": "fixed", "value": 8, "rate": 120, "duration": 3}]}'
    )
    batch = windowed_stats(
        profile_dataframe(spark, plan), window="5 seconds", by_stream=False
    )
    batch_rows = {tuple(r) for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_profile_files_replay_in_event_time_order(spark, tmp_path):
    """A file stream replays files in mtime order, so a written profile
    must be one file per ``seconds_per_file`` window, with mtimes in
    window order: file ``k`` by mtime holds exactly the ts range of
    plan-seconds ``[2k, 2k + 2)``. A ramp's rows are not uniform in
    time, so a cut at row quantiles would not match the windows."""
    import glob
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    plan = parse_plan(
        '{"sequence": [{"type": "ramp", "value": 7, "startRate": 10, '
        '"endRate": 400, "duration": 10}]}'
    )
    write_profile(spark, plan, str(tmp_path / "p"), seconds_per_file=2)
    files = sorted(glob.glob(str(tmp_path / "p" / "*.parquet")),
                   key=os.path.getmtime)
    assert len(files) == 5
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(set(mtimes))  # no ties
    for k, f in enumerate(files):
        ts = pq.read_table(f)["ts"]
        per_ms = {"ms": 1, "us": 1000, "ns": 1_000_000}[ts.type.unit]
        ms = pc.cast(ts, "int64").to_numpy() // per_ms
        lo, hi = ms.min() - DEFAULT_EPOCH_MS, ms.max() - DEFAULT_EPOCH_MS
        assert 2000 * k <= lo <= hi < 2000 * (k + 1), (k, lo, hi)


def test_pid_controller_converges_to_sustainable_rate():
    """Offered 50k/trigger but only 20k/trigger sustainable → the PID
    limit must fall below offered and the backlog must stop growing."""
    ctl = PIDRateController(proportional=1.0, integral=0.2, min_rate=100)
    sim = AdmissionSimulator(
        per_record_ms=0.25,  # 20k records = 5000 ms = one full interval
        batch_interval_ms=5000.0,
        strategy="pushback",
        controller=ctl,
    )
    recs = sim.run([50_000] * 30)
    # after warmup the admitted volume must converge to the sustainable
    # 20k/trigger (= 4000 rec/s × 5 s), not the offered 50k
    for r in recs[-5:]:
        assert 19_000 <= r.admitted <= 21_000
        assert 3_600 <= r.rate_limit <= 4_400  # rec/s estimate near 4000


def test_congestion_strategies_accounting():
    offered = [10_000] * 5
    # ignore: admit everything, drop nothing
    ign = AdmissionSimulator(0.25, strategy="ignore").run(offered)
    assert all(r.admitted == 10_000 and r.dropped == 0 for r in ign)
    # drop with a PID limit: surplus is dropped, never queued
    # per-record 1 ms → sustainable 5k/trigger < offered 10k
    ctl = PIDRateController(min_rate=100)
    drp = AdmissionSimulator(1.0, strategy="drop", controller=ctl).run(offered)
    assert all(r.backlog == 0 for r in drp)
    assert sum(r.dropped for r in drp) > 0
    # pushback: nothing dropped, surplus queued
    ctl2 = PIDRateController(min_rate=100)
    pb = AdmissionSimulator(1.0, strategy="pushback", controller=ctl2).run(offered)
    assert all(r.dropped == 0 for r in pb)
    assert any(r.backlog > 0 for r in pb)


def test_spike_recovery():
    """Reference scenario 2: steady 20k with a 3-trigger spike of 60k —
    pushback+PID must drain the backlog within the run."""
    ctl = PIDRateController(min_rate=1000)
    sim = AdmissionSimulator(0.1, strategy="pushback", controller=ctl)
    offered = [20_000] * 5 + [60_000] * 3 + [20_000] * 22
    recs = sim.run(offered)
    assert max(r.backlog for r in recs) > 0  # the spike queued something
    assert recs[-1].backlog == 0  # and it fully drained


def test_streaming_decontaminate_matches_batch_gate(spark):
    """Stream-static broadcast join sees each doc once, so the rolled-up
    contamination report equals the batch decontaminate gate."""
    from spark_streaming_testbed_spark.operators.dedup import decontaminate
    from spark_streaming_testbed_spark.streaming.pipeline import (
        streaming_decontaminate,
    )

    sf = "/root/testdata/sf0.001"
    live = streaming_decontaminate(spark, sf).collect()
    batch = decontaminate(spark, sf).collect()
    assert live == batch
    assert len(live) > 0
