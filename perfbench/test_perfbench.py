"""Tests of the benchmark itself.

Run from the repository root with ``python3 -m pytest perfbench``. The
fast tests check the metric registry and the correctness checks; the
``small`` tests run every workload on small inputs (about a minute
each) and check that each run emits every metric it declares.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import batch  # noqa: E402
import ingest  # noqa: E402
import live  # noqa: E402
import metrics  # noqa: E402

from spark_streaming_testbed_spark.plans import parse_plan  # noqa: E402


def test_benchmark_json_declares_the_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["live", "ingest", "batch"]
    assert max(m["bound"] for m in spec["end_to_end"]) \
        == next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert metrics.percentile(xs, 50) == 50
    assert metrics.percentile(xs, 99) == 99
    assert metrics.percentile([7.0], 99) == 7.0


def _ingest_rows():
    plan = parse_plan(ingest.plan_json(seed=3, size="small"))
    expected = ingest.expected_counts(ingest.render(plan))
    return plan, expected, [(w, v, n) for (w, v), n in expected.items()]


def test_ingest_check_accepts_the_plan_and_counts_every_row():
    plan, expected, rows = _ingest_rows()
    assert ingest.count_mismatches(rows, expected) == 0
    assert sum(n for *_, n in rows) == ingest.RATE * plan.duration


def test_ingest_dropped_window_row_fails_the_run():
    _, expected, rows = _ingest_rows()
    assert ingest.count_mismatches(rows[1:], expected) == 1
    off_by_one = [(w, v, n + 1 if i == 0 else n) for i, (w, v, n) in enumerate(rows)]
    assert ingest.count_mismatches(off_by_one, expected) == 1
    result = json.loads(metrics.result_line(False, 5, 1, {"setup_s": 1.0},
                                            {"setup_s": ("s", "lower")}))
    assert result == {"correct": False, "attempted": 5, "failed": 1,
                      "metrics": {"setup_s": {"value": 1.0, "unit": "s"}}}
    line = metrics.summary_line("ingest", {"setup_s": 1.0},
                                {"setup_s": ("s", "lower")}, 5, 1, {})
    assert "error_rate=0.2 share (lower)" in line


def test_live_dropped_window_row_fails_the_count_check():
    finals = [4000, 5000, 5000, 1000]
    assert live.window_totals_ok(finals, 15000)
    assert not live.window_totals_ok(finals[1:], 15000)


def test_live_triggers_map_socket_offsets_to_rows():
    progress = [
        {"numInputRows": 0, "timestamp": "2026-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 5}, "sources": [
             {"startOffset": None, "endOffset": None}]},
        {"numInputRows": 10, "timestamp": "2026-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 500}, "sources": [
             {"startOffset": None, "endOffset": 9}]},
        {"numInputRows": 5, "timestamp": "2026-01-01T00:00:02.000Z",
         "durationMs": {"triggerExecution": 250}, "sources": [
             {"startOffset": 9, "endOffset": 14}]},
    ]
    trig = live.triggers(progress)
    assert [(t["lo"], t["hi"]) for t in trig] == [(0, 10), (10, 15)]
    assert trig[1]["end"] - trig[1]["start"] == pytest.approx(0.25)
    assert live.processing_rate(trig) == pytest.approx((10 / 0.5 + 5 / 0.25) / 2)


def test_batch_digest_ignores_row_order_but_not_a_dropped_row():
    t = pa.table({"b": [1.0, 2.5, 3.0], "a": ["x", "y", "z"]})
    shuffled = pa.table({"a": ["z", "x", "y"], "b": [3.0, 1.0, 2.5]})
    assert batch.digest(t) == batch.digest(shuffled)
    assert batch.digest(t.slice(1)) != batch.digest(t)
    assert batch.digest(t.slice(1))[0] == 2


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["live", "ingest", "batch"])
def test_small_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "5", "--trace", str(trace), "--size", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    names = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} \
        == {k: unit for k, (unit, _) in names.items()}
    if not trace:  # end-to-end metrics are never 0
        assert all(v["value"] > 0 for v in result["metrics"].values())
    summary = proc.stdout.strip().splitlines()[-2]
    assert "error_rate=0 share (lower)" in summary
