"""Python DataSource (format 'rate_profile') — streaming reader and its
whole-plan replay."""

from __future__ import annotations

from spark_streaming_testbed_spark.plans import parse_plan
from spark_streaming_testbed_spark.sources.profile_datasource import (
    ProfileStreamReader,
    register,
)
from spark_streaming_testbed_spark.sources.profile_source import profile_dataframe

PLAN = (
    '{"sequence": [{"type": "ramp", "value": 7, "startRate": 30, '
    '"endRate": 90, "duration": 4}, '
    '{"type": "fixed", "value": 9, "rate": 25, "duration": 2}]}'
)


def test_batch_datasource_matches_mapinpandas_generator(spark):
    """Replaying the source's offsets over the whole plan in one read
    yields exactly the mapInPandas batch render's rows."""
    plan = parse_plan(PLAN)
    reader = ProfileStreamReader({"plan": PLAN})
    via_ds = sorted(
        reader.readBetweenOffsets(
            reader.initialOffset(), {"second": plan.n_seconds(), "row": 0}
        )
    )
    via_mp = sorted(tuple(r) for r in profile_dataframe(spark, plan).collect())
    assert via_ds == via_mp
    assert len(via_ds) == len(plan.rows())


def test_streaming_datasource_admits_by_quantum(spark):
    """Unthrottled, the stream delivers exactly the batch render's
    ``(ts, value, stream_id)`` rows, one ``seconds_per_batch`` quantum
    per non-empty trigger."""
    import uuid

    register(spark)
    stream = (
        spark.readStream.format("rate_profile")
        .option("plan", PLAN)
        .option("seconds_per_batch", 2)
        .option("stream_id", 4)
        .load()
    )
    name = f"ds_sink_{uuid.uuid4().hex[:8]}"
    # availableNow bounds itself to the one prefetched quantum on a
    # SimpleDataSourceStreamReader; drive to exhaustion instead
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.table(name).collect())
    batch = profile_dataframe(spark, parse_plan(PLAN), stream_id=4)
    assert got == sorted(tuple(r) for r in batch.collect())
    assert len(got) == len(parse_plan(PLAN).rows())
    # 6 plan-seconds at 2 s/batch → 3 microbatches admitted the data
    assert sum(1 for p in q.recentProgress if p.numInputRows > 0) == 3


# ---------------------------------------------------------------------------
# T2/T3: live congestion strategies + closed-loop rate control
# ---------------------------------------------------------------------------

FIXED_PLAN = (
    '{"sequence": [{"type": "fixed", "value": 3, "rate": 250, "duration": 6}]}'
)


def _run_congestion(spark, tmp_path, strategy, **opts):
    import json
    import uuid

    register(spark)
    acct = str(tmp_path / f"acct_{strategy}_{uuid.uuid4().hex[:6]}.jsonl")
    reader = (
        spark.readStream.format("rate_profile")
        .option("plan", opts.pop("plan", FIXED_PLAN))
        .option("seconds_per_batch", 1)
        .option("strategy", strategy)
        .option("accounting_file", acct)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    name = f"cg_{uuid.uuid4().hex[:8]}"
    q = (
        reader.load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    with open(acct) as fh:
        recs = [json.loads(line) for line in fh]
    rows = spark.table(name).collect()
    return recs, rows


def test_congestion_drop_live(spark, tmp_path):
    recs, rows = _run_congestion(spark, tmp_path, "drop", rate_limit=150)
    data = [r for r in recs if r["offered"] > 0]
    assert len(data) == 6
    for r in data:
        assert r["offered"] == 250
        assert r["requested"] == 150
        assert r["admitted"] == 150
        assert r["dropped"] == 100
        assert r["queued"] == 0
    # dropped rows are really gone from the stream output
    assert len(rows) == 6 * 150


def test_congestion_sampling_live(spark, tmp_path):
    recs, rows = _run_congestion(spark, tmp_path, "sampling", rate_limit=150)
    data = [r for r in recs if r["offered"] > 0]
    assert len(data) == 6
    for r in data:
        # stride = ceil(250/150) = 2 → every 2nd row → 125 admitted
        assert r["admitted"] == 125
        assert r["dropped"] == 125
        assert r["offered"] == r["admitted"] + r["dropped"]
    assert len(rows) == 6 * 125


def test_congestion_pushback_live(spark, tmp_path):
    recs, rows = _run_congestion(spark, tmp_path, "pushback", rate_limit=150)
    data = [r for r in recs if r["offered"] > 0 or r["admitted"] > 0]
    # 1500 total rows at 150/trigger → 10 triggers, backlog drains fully
    assert len(data) == 10
    assert all(r["admitted"] == 150 for r in data)
    assert all(r["dropped"] == 0 for r in data)
    # conservation: every offered row is admitted (later) or still queued
    assert sum(r["offered"] for r in data) == 1500
    assert sum(r["admitted"] for r in data) == 1500
    assert len(rows) == 1500  # nothing lost
    # backlog shape: grows by 100 for 6 triggers, then drains by 150
    assert [r["queued"] for r in data] == [
        100, 200, 300, 400, 500, 600, 450, 300, 150, 0
    ]


def test_congestion_ignore_admits_everything(spark, tmp_path):
    recs, rows = _run_congestion(spark, tmp_path, "ignore", rate_limit=150)
    data = [r for r in recs if r["offered"] > 0]
    assert all(r["admitted"] == r["offered"] for r in data)
    assert len(rows) == 1500


def test_live_rate_actuation_mid_run(spark, tmp_path):
    """The control file is polled per trigger: raising the rate while the
    query is RUNNING immediately raises the admitted batch size — no
    restart, the reference's mid-run updateRateLimit semantics."""
    import json
    import os
    import threading
    import uuid

    register(spark)
    ctrl = str(tmp_path / "ctrl.json")
    acct = str(tmp_path / "acct_live.jsonl")

    def write_rate(rate):
        tmp = ctrl + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"rate": rate}, fh)
        os.replace(tmp, ctrl)

    write_rate(100)
    plan = (
        '{"sequence": [{"type": "fixed", "value": 1, "rate": 400, '
        '"duration": 10}]}'
    )
    name = f"live_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("rate_profile")
        .option("plan", plan)
        .option("seconds_per_batch", 1)
        .option("strategy", "pushback")
        .option("control_file", ctrl)
        .option("accounting_file", acct)
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    # flip the rate way up after a few slow triggers have run
    flipped = threading.Event()

    def flip():
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if os.path.exists(acct):
                with open(acct) as fh:
                    if sum(1 for _ in fh) >= 3:
                        break
            time.sleep(0.05)
        write_rate(100000)
        flipped.set()

    t = threading.Thread(target=flip)
    t.start()
    q.processAllAvailable()
    q.stop()
    t.join()
    assert flipped.is_set()
    with open(acct) as fh:
        recs = [json.loads(line) for line in fh]
    data = [r for r in recs if r["admitted"] > 0]
    admitted = [r["admitted"] for r in data]
    # phase 1: throttled to 100/trigger; phase 2: the backlog drains in
    # big gulps — proof the new rate took effect mid-run
    assert admitted[0] == 100
    assert max(admitted) > 300
    assert sum(admitted) == 4000  # pushback loses nothing


def test_pid_closed_loop_writes_and_actuates(spark, tmp_path):
    """End-to-end loop: listener computes PID estimates from progress
    events and publishes them to the control file; the running source
    polls the same file — requested budgets follow the estimates."""
    import json
    import uuid

    from spark_streaming_testbed_spark.streaming.listener import (
        RateFeedbackListener,
    )

    register(spark)
    ctrl = str(tmp_path / "pid_ctrl.json")
    acct = str(tmp_path / "pid_acct.jsonl")
    listener = RateFeedbackListener(control_file=ctrl)
    spark.streams.addListener(listener)
    try:
        plan = (
            '{"sequence": [{"type": "fixed", "value": 2, "rate": 500, '
            '"duration": 8}]}'
        )
        name = f"pid_{uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("rate_profile")
            .option("plan", plan)
            .option("seconds_per_batch", 1)
            .option("strategy", "pushback")
            .option("rate_limit", 200)  # initial budget until PID speaks
            .option("control_file", ctrl)
            .option("accounting_file", acct)
            .load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.streams.removeListener(listener)
    # the listener published at least one live estimate…
    assert listener.estimates
    with open(ctrl) as fh:
        published = json.load(fh)["rate"]
    assert published > 0
    # …and the source consumed estimates mid-run: once the PID spoke,
    # requested budgets deviate from the static 200-row option
    with open(acct) as fh:
        recs = [json.loads(line) for line in fh]
    requested = [r["requested"] for r in recs if r["offered"] or r["admitted"]]
    assert any(b != 200 for b in requested[1:])
    # every offered row was eventually admitted (pushback conserves)
    assert sum(r["admitted"] for r in recs) == 4000
