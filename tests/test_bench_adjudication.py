"""Spark-free pins for bench.py's output contract: one JSON line on
stdout, every ``queries`` value in seconds, details in a side file next
to the script, and nothing read from earlier rounds' BENCH_r*.json.
"""

from __future__ import annotations

import builtins
import json
import os
from unittest import mock

import bench


def test_spread_is_max_over_min():
    assert bench._spread([1.0, 1.0, 1.0]) == 1.0
    assert bench._spread([1.0, 2.0, 4.0]) == 4.0
    assert bench._spread([0.5, 1.2]) == 2.4
    # a single run is perfectly "repeatable" by definition
    assert bench._spread([3.2]) == 1.0


def test_main_prints_one_seconds_line(monkeypatch, tmp_path, capsys):
    """main() with the session, scenarios, registry and kernel probe
    replaced by instant fakes. The fake session is a MagicMock, so the
    real ``group_totals`` runs against an empty status store."""
    repo_details = os.path.join(
        os.path.dirname(os.path.abspath(bench.__file__)), "BENCH_DETAILS.json")
    before = open(repo_details, "rb").read() if os.path.exists(repo_details) else None
    # a recorded round beside the script: the bench must not read it
    (tmp_path / "BENCH_r99.json").write_text('{"parsed": {"queries": {}}}')
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    monkeypatch.setattr(bench, "get_session", lambda name: mock.MagicMock())
    monkeypatch.setattr(bench.entry, "entry", lambda spark: mock.MagicMock())
    monkeypatch.setattr(bench.entry, "queries", lambda: {
        name: lambda spark, sf: mock.MagicMock() for name in bench.HEADLINE})
    monkeypatch.setattr(
        bench, "scenario1_rows_per_sec", lambda spark: (50_000.0, 3_000_000))
    monkeypatch.setattr(bench, "scenario2_trigger_latency", lambda spark: (
        {"scenario2_trigger_p50": 1.0, "scenario2_trigger_max": 2.0},
        {"scenario2_trigger_p50_runs": [1.0, 1.1, 0.9],
         "scenario2_trigger_max_runs": [2.0, 2.2, 1.8]}))
    monkeypatch.setattr(bench, "scenario2_pid_recovery", lambda spark: (
        {"scenario2_pid_recovery_sec": 3.0},
        {"scenario2_pid_recovery_sec_runs": [3.0, 4.0, 5.0]}))
    monkeypatch.setattr(bench, "scenario3_reactive", lambda spark: (20.0, 500_000))
    monkeypatch.setattr(bench, "scenario4_ramp", lambda spark: (10.0, 1_530_000))
    monkeypatch.setattr(
        "spark_streaming_testbed_spark.functions.hanoi.burn_us_per_record",
        lambda height: 31.0)

    opened: list[str] = []
    real_open = builtins.open

    def recording_open(file, *args, **kwargs):
        opened.append(str(file))
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", recording_open)
    bench.main()
    monkeypatch.setattr(builtins, "open", real_open)

    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    assert len(lines[0]) < 1900
    out = json.loads(lines[0])
    assert {"metric", "value", "unit", "kernel_us_per_record_n7", "host",
            "scenario2_spread", "queries", "sf"} <= set(out)
    assert not [k for k in out["queries"] if "_per_" in k]
    assert out["queries"]["scenario3_reactive"] == 20.0
    assert out["host"]["headline_task_cpu_s"] == 0.0

    assert not [p for p in opened if "BENCH_r" in os.path.basename(p)]
    details = json.loads((tmp_path / "BENCH_DETAILS.json").read_text())
    assert details["scenario3_reactive_rows_per_sec"] == 25_000.0
    assert details["scenario4_ramp_rows_per_sec"] == 153_000.0
    assert set(details["task_cpu_s"]) == set(bench.HEADLINE)
    after = open(repo_details, "rb").read() if os.path.exists(repo_details) else None
    assert after == before
