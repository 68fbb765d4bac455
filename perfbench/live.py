"""``live`` workload: an open-loop stream through the socket source.

A separate generator process (``generator.py``) paces a fixed-rate,
value-7 plan over one TCP connection on its own wall-clock schedule,
whether or not the engine keeps up. The engine reads it with
``socket_stream``, runs ``hanoi_burn_us`` and keeps 5 s windowed
``stats_aggs`` over the kernel column, in update mode on a 2 s
processing-time trigger. This is the only workload where trigger
overhead, the state store and the source's read lag sit on the path to
every result.

A row's latency runs from its *scheduled* send time to the end of the
trigger that emitted its window update. The socket source's offsets
count lines, so each trigger's ``(startOffset, endOffset]`` names the
rows it read, and the plan's bucket schedule names when each was due.
The first ``WARM_S`` seconds of rows warm the query up and are left out
of the latency sample, not out of the count check.

The sink is the in-memory table, which holds only the few window-update
rows per trigger, so the final window counts can be checked against the
rows the generator sent. A run whose generator ran late or whose read
lag grew across the run is failed: an unsustainable rate must never
read as a latency.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys
import time
import uuid

import numpy as np

from metrics import percentile

#: offered rate, rows/s: about half of the sustainable rate measured on a
#: 4-CPU host (see README.md)
RATE = {"full": 6_000, "small": 1_000}
WARM_S = {"full": 6, "small": 2}
TRIGGER_S = 2
TRIGGER = f"{TRIGGER_S} seconds"
#: generator validity: lateness of its bucket writes against schedule
MAX_LATE_P99_MS = 20.0
MAX_LATE_MS = 250.0
DRAIN_TIMEOUT_S = 60.0
#: trigger phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


def schedule(plan) -> np.ndarray:
    """Due time, in ms from the generator's ``t0``, of every row in send order."""
    return np.concatenate([
        np.full(len(b.values), b.time_ms, dtype="float64")
        for s in range(plan.duration) for b in plan.values_for(s)
    ])


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def triggers(progress: list[dict]) -> list[dict]:
    """Data-carrying triggers: wall start/end and the rows ``[lo, hi)`` they read."""
    out = []
    for p in progress:
        if not p["numInputRows"]:
            continue
        src = p["sources"][0]
        start = _epoch(p["timestamp"])
        lo = int(src["startOffset"]) + 1 if src["startOffset"] is not None else 0
        out.append({"start": start,
                    "end": start + p["durationMs"]["triggerExecution"] / 1000.0,
                    "lo": lo, "hi": int(src["endOffset"]) + 1, "progress": p})
    return out


def window_totals_ok(rows, sent: int) -> bool:
    """Final per-window counts (the last update of each window) must sum
    to the rows the generator sent."""
    return sum(rows) == sent


def processing_rate(measured: list[dict]) -> float:
    """Median over triggers of rows read per second of trigger time. The
    median keeps the last trigger, which drains a partial interval at
    nearly the full fixed cost, from pulling the rate down."""
    rates = [(t["hi"] - t["lo"]) / (t["end"] - t["start"])
             for t in measured if t["end"] > t["start"]]
    return statistics.median(rates) if rates else 0.0


class _Generator:
    def __init__(self, plan_json: str, phase_ms: int) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "generator.py"), plan_json,
             str(phase_ms)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("generator exited early")
        return json.loads(line)

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from spark_streaming_testbed_spark.functions.hanoi import hanoi_burn_us
    from spark_streaming_testbed_spark.functions.stats import stats_aggs
    from spark_streaming_testbed_spark.plans import parse_plan
    from spark_streaming_testbed_spark.sources.socket_source import socket_stream
    from spark_streaming_testbed_spark.streaming.controller import PIDRateController
    from spark_streaming_testbed_spark.streaming.listener import RateFeedbackListener

    spark, tracer = ctx.spark, ctx.tracer
    rate, warm = RATE[ctx.size], WARM_S[ctx.size]
    pj = json.dumps({"sequence": [{"type": "fixed", "value": 7, "rate": rate,
                                   "duration": warm + ctx.seconds}]})
    plan = parse_plan(pj)
    with tracer.span("plans.render"):
        t0 = time.perf_counter()
        due_ms = schedule(plan)
        render_s = time.perf_counter() - t0

    listener = None
    if tracer.enabled:  # observer only: no control file, the source is not throttled
        listener = RateFeedbackListener(controller=PIDRateController())
        spark.streams.addListener(listener)
    gen = _Generator(pj, phase_ms=(ctx.seed * 137) % 1000)
    ctx.rss.exclude.add(gen.proc.pid)
    name = f"perfbench_live_{uuid.uuid4().hex[:8]}"
    query = None
    try:
        port = gen.read()["port"]
        stats = (
            socket_stream(spark, "127.0.0.1", port)
            .withColumn("us", hanoi_burn_us("value"))
            .groupBy(F.window("ts", "5 seconds").alias("w"), "value", "stream_id")
            .agg(*stats_aggs("us"))
        )
        query = (
            stats.writeStream.outputMode("update").trigger(processingTime=TRIGGER)
            .format("memory").queryName(name)
            .option("checkpointLocation", os.path.join(ctx.tmp_dir, name))
            .start()
        )
        gen_t0 = gen.read()["t0"]
        done = gen.read()
        sent = done["sent"]
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            last = query.lastProgress
            if last and last["sources"][0]["endOffset"] is not None \
                    and int(last["sources"][0]["endOffset"]) + 1 >= sent:
                break
            time.sleep(0.05)
        progress = [json.loads(p.json) for p in query.recentProgress]
        run_id = str(query.runId)
        query.stop()
        query = None
        finals = [r[0] for r in spark.sql(
            f"SELECT max(cnt) FROM {name} GROUP BY w, value, stream_id").collect()]
    finally:
        if query is not None:
            query.stop()
        gen.close()
        if listener is not None:
            spark.streams.removeListener(listener)

    trig = triggers(progress)
    due = gen_t0 + due_ms / 1000.0
    n_warm = int(np.searchsorted(due_ms, warm * 1000.0))
    lat, lag, measured = [], [], []
    for t in trig:
        lo, hi = max(t["lo"], n_warm), t["hi"]
        if hi > lo:
            lat.append((t["end"] - due[lo:hi]) * 1000.0)
            measured.append(t)
        if t["hi"] > n_warm:
            lag.append(int(np.searchsorted(due, t["end"], side="right")) - t["hi"])
    lat_ms = np.concatenate(lat) if lat else np.zeros(0)
    late = done["late_ms"]

    problems = []
    read = sum(t["hi"] - t["lo"] for t in trig)
    if read != sent or not window_totals_ok(finals, sent):
        problems.append(f"rows lost: sent {sent}, read {read}, counted {sum(finals)}")
    if percentile(late, 99) > MAX_LATE_P99_MS or max(late) > MAX_LATE_MS:
        problems.append(f"generator fell behind: late p99 {percentile(late, 99):.1f} ms, "
                        f"max {max(late):.1f} ms")
    third = max(1, len(lag) // 3)
    if len(lag) >= 3 and np.mean(lag[-third:]) - np.mean(lag[:third]) > rate * TRIGGER_S:
        problems.append(f"read lag grew: {np.mean(lag[:third]):.0f} -> "
                        f"{np.mean(lag[-third:]):.0f} rows")
    processing = processing_rate(measured)
    if processing < rate:
        problems.append(f"engine slower than the offered rate: {processing:.0f} "
                        f"rows/s of trigger time against {rate} rows/s offered")
    if len(measured) < 2:
        problems.append(f"{len(measured)} measured triggers; at least 2 are needed")
    for p in problems:
        print(f"perfbench live: {p}", flush=True)

    out = {
        "attempted": 1,
        "failed": 1 if problems else 0,
        "latencies_ms": lat_ms,
        "throughput_per_s": processing,
        "summary": {"rate_rows_per_s": rate, "measured_rows": len(lat_ms),
                    "triggers": len(measured)},
        "layer": {},
    }
    if tracer.enabled and measured:
        out["layer"] = _layer_metrics(spark, tracer, measured, lag, late, render_s,
                                      listener, run_id)
    return out


def _layer_metrics(spark, tracer, measured, lag, late, render_s, listener,
                   run_id) -> dict:
    import scheduler

    offset = time.perf_counter() - time.time()
    for t in measured:
        p = t["progress"]
        rec = tracer.add("streaming.trigger", t["start"] + offset, t["end"] + offset)
        rec["counters"]["rows"] = t["hi"] - t["lo"]
        at = t["start"] + offset
        for phase in PHASES:
            ms = p["durationMs"].get(phase, 0)
            tracer.add(f"streaming.{phase}", at, at + ms / 1000.0, parent=rec["id"])
            at += ms / 1000.0

    def p50(key):
        return statistics.median(t["progress"]["durationMs"].get(key, 0) for t in measured)

    state = [t["progress"]["stateOperators"][0] for t in measured]
    trig_ms = [t["progress"]["durationMs"]["triggerExecution"] for t in measured]
    return {
        "plans.render_s": render_s,
        "sources.read_lag_rows_p50": statistics.median(lag),
        "sources.read_lag_rows_max": max(lag),
        "streaming.triggers": len(measured),
        "streaming.rows_per_trigger_p50": statistics.median(t["hi"] - t["lo"] for t in measured),
        "streaming.trigger_ms_p50": statistics.median(trig_ms),
        "streaming.trigger_ms_p99": percentile(trig_ms, 99),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.state_commit_ms_p50": statistics.median(s["commitTimeMs"] for s in state),
        "streaming.state_rows": state[-1]["numRowsTotal"],
        "streaming.state_bytes": state[-1]["memoryUsedBytes"],
        "controller.rate_estimate_rows_per_s": (
            statistics.median(listener.estimates) if listener.estimates else 0.0),
        "gen.late_ms_p99": percentile(late, 99),
        "gen.late_ms_max": max(late),
        **scheduler.as_layer_metrics(scheduler.group_totals(spark, run_id)),
    }
