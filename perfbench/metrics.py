"""Metric names, units and better-directions, and the result line.

Every metric the benchmark prints is declared here once, with its unit
and whether lower or higher is better; ``BENCHMARK.json`` carries the
same triples and ``test_perfbench.py`` checks that the two agree. A
throughput therefore cannot be read as a time by whoever compares runs.
"""

from __future__ import annotations

import json
import math

from batch import SUITE

LOWER, HIGHER = "lower", "higher"

#: end-to-end metrics, measured with tracing off, on every workload
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", LOWER),
    "latency_p50_ms": ("ms", LOWER),
    "latency_p99_ms": ("ms", LOWER),
    "throughput_per_s": ("1/s", HIGHER),
}

#: per-layer metrics, emitted by the traced run of every workload; a
#: layer the workload does not run reads 0
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.cold_setup_s": ("s", LOWER),
    "session.peak_rss_mb": ("MB", LOWER),
    "plans.render_s": ("s", LOWER),
    "sources.generate_s": ("s", LOWER),
    "sources.read_lag_rows_p50": ("rows", LOWER),
    "sources.read_lag_rows_max": ("rows", LOWER),
    "functions.kernel_s": ("s", LOWER),
    "functions.stats_s": ("s", LOWER),
    "functions.kernel_us_per_row_h7": ("us", LOWER),
    "streaming.triggers": ("count", LOWER),
    "streaming.rows_per_trigger_p50": ("rows", HIGHER),
    "streaming.trigger_ms_p50": ("ms", LOWER),
    "streaming.trigger_ms_p99": ("ms", LOWER),
    "streaming.add_batch_ms_p50": ("ms", LOWER),
    "streaming.latest_offset_ms_p50": ("ms", LOWER),
    "streaming.query_planning_ms_p50": ("ms", LOWER),
    "streaming.wal_commit_ms_p50": ("ms", LOWER),
    "streaming.commit_offsets_ms_p50": ("ms", LOWER),
    "streaming.state_commit_ms_p50": ("ms", LOWER),
    "streaming.state_rows": ("rows", LOWER),
    "streaming.state_bytes": ("bytes", LOWER),
    "controller.rate_estimate_rows_per_s": ("rows/s", HIGHER),
    "operators.build_s": ("s", LOWER),
    "operators.exec_s": ("s", LOWER),
    "operators.jobs": ("count", LOWER),
    "operators.stages": ("count", LOWER),
    "operators.tasks": ("count", LOWER),
    **{
        f"operators.{q}.{m}": unit
        for q in SUITE
        for m, unit in (("build_s", ("s", LOWER)), ("exec_s", ("s", LOWER)),
                        ("jobs", ("count", LOWER)))
    },
    "spark.task_run_s": ("s", LOWER),
    "spark.task_jvm_cpu_s": ("s", LOWER),
    "spark.gc_s": ("s", LOWER),
    "spark.shuffle_read_bytes": ("bytes", LOWER),
    "spark.shuffle_write_bytes": ("bytes", LOWER),
    "spark.spill_bytes": ("bytes", LOWER),
    "gen.late_ms_p99": ("ms", LOWER),
    "gen.late_ms_max": ("ms", LOWER),
    "trace.latency_p50_ms": ("ms", LOWER),
    "trace.latency_p99_ms": ("ms", LOWER),
    "trace.throughput_per_s": ("1/s", HIGHER),
    "trace.latency_samples": ("count", HIGHER),
}

#: the longer name each workload's end-to-end numbers go by in the
#: human-readable summary line
ALIASES: dict[str, dict[str, str]] = {
    "live": {"latency_p50_ms": "live_latency_p50_ms",
             "latency_p99_ms": "live_latency_p99_ms"},
    "ingest": {"throughput_per_s": "ingest_rows_per_s"},
}


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[rank - 1])


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], names: dict[str, tuple[str, str]]) -> str:
    """The last stdout line: exactly ``correct``/``attempted``/``failed``/
    ``metrics``, with every metric of ``names`` present."""
    missing = sorted(set(names) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    metrics = {n: {"value": float(values[n]), "unit": names[n][0]} for n in names}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def summary_line(workload: str, values: dict[str, float],
                 names: dict[str, tuple[str, str]], attempted: int,
                 failed: int, extra: dict[str, float]) -> str:
    """One human-readable line: every metric with its unit and direction,
    plus ``error_rate`` (failed / attempted)."""
    alias = ALIASES.get(workload, {})
    parts = [f"{alias.get(n, n)}={values[n]:.6g} {names[n][0]} ({names[n][1]})"
             for n in names]
    parts.append(f"error_rate={failed / attempted:.6g} share (lower)")
    parts += [f"{k}={v:.6g}" for k, v in extra.items()]
    return f"perfbench {workload}: " + " | ".join(parts)
