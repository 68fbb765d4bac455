"""``ingest`` workload: the reference's scenario 1, time-compressed.

Closed loop, batch: ``profile_dataframe`` renders a 50 k items/s cycle
plan, ``hanoi_burn_us`` runs on every row at the Arrow/pandas boundary,
and ``stats_aggs`` folds the kernel's column per 5 s window and value
(aggregating the kernel's output keeps Catalyst from pruning the UDF).
The result goes to the noop sink. Passes repeat for the run's seconds;
each pass's rows/s is one sample. Light heights (values 1 to 4) keep
generation, the Arrow boundary and the aggregation the main costs; the
seed rotates the cycle's phase.

The traced run adds generation-only and generation-plus-kernel passes,
so the kernel's and the aggregation's self time follow by subtraction.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import Counter

RATE = 50_000
SECONDS = {"full": 20, "small": 4}
WINDOW_MS = 5_000
MIN_PASSES = 3


def plan_json(seed: int, size: str) -> str:
    values = [1, 2, 3, 4]
    k = seed % len(values)
    return json.dumps({"sequence": [{"type": "cycle", "values": values[k:] + values[:k],
                                     "rate": RATE, "duration": SECONDS[size]}]})


def render(plan) -> list:
    """Every bucket of the plan, rendered on the driver."""
    return [b for second in range(plan.duration) for b in plan.values_for(second)]


def expected_counts(buckets) -> Counter:
    """(window index, value) -> rows, from the plan's bucket arithmetic."""
    counts: Counter = Counter()
    for bucket in buckets:
        w = bucket.time_ms // WINDOW_MS
        for v in bucket.values:
            counts[(w, v)] += 1
    return counts


def count_mismatches(rows, expected: Counter) -> int:
    """Window rows ``(window index, value, cnt)`` that disagree with the
    plan, plus expected windows missing from ``rows``."""
    got = {(w, v): c for w, v, c in rows}
    return sum(got.get(k) != n for k, n in expected.items()) + len(set(got) - set(expected))


def pipeline(spark, plan, stage: str = "full"):
    from pyspark.sql import functions as F

    from spark_streaming_testbed_spark.functions.hanoi import hanoi_burn_us
    from spark_streaming_testbed_spark.functions.stats import stats_aggs
    from spark_streaming_testbed_spark.sources.profile_source import profile_dataframe

    df = profile_dataframe(spark, plan)
    if stage == "gen":
        return df
    df = df.withColumn("us", hanoi_burn_us("value"))
    if stage == "kernel":
        return df
    return df.groupBy(F.window("ts", "5 seconds").alias("w"), "value",
                      "stream_id").agg(*stats_aggs("us"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    import scheduler
    from spark_streaming_testbed_spark.plans import parse_plan
    from spark_streaming_testbed_spark.sources.profile_source import DEFAULT_EPOCH_MS

    spark, tracer = ctx.spark, ctx.tracer
    plan = parse_plan(plan_json(ctx.seed, ctx.size))
    rows = RATE * plan.duration
    layer: dict[str, float] = {}
    with tracer.span("plans.render"):
        t0 = time.perf_counter()
        buckets = render(plan)
        layer["plans.render_s"] = time.perf_counter() - t0
    expected = expected_counts(buckets)

    # The correctness check, untimed: one pass, collected; every window's
    # count must match the plan.
    attempted, failed = 1, 0
    try:
        got = pipeline(spark, plan).select(
            ((F.unix_millis("w.start") - DEFAULT_EPOCH_MS) / WINDOW_MS).cast("long"),
            "value", "cnt").collect()
        bad = count_mismatches(got, expected)
        total = sum(c for *_, c in got)
        if bad or total != rows:
            print(f"perfbench ingest: {bad} window counts differ from the plan, "
                  f"{total} of {rows} rows counted", flush=True)
            failed += 1
    except Exception as exc:  # counted as a failed check; the run goes on
        print(f"perfbench ingest: check pass raised {exc!r}", flush=True)
        failed += 1

    def timed_pass(stage: str) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        try:
            with tracer.span(f"ingest.{stage}"):
                t0 = time.perf_counter()
                _noop(pipeline(spark, plan, stage))
                tracer.count("rows", rows)
                return time.perf_counter() - t0
        except Exception as exc:  # counted as a failed pass; the run goes on
            print(f"perfbench ingest: {stage} pass raised {exc!r}", flush=True)
            failed += 1
            return None

    timed_pass("full")  # warm-up: the first noop write compiles its code
    spark.sparkContext.setJobGroup("perfbench-ingest", "ingest")
    walls: list[float] = []
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds or (
            len(walls) < MIN_PASSES and not failed):
        wall = timed_pass("full")
        if wall is not None:
            walls.append(wall)

    if tracer.enabled and walls:
        layer.update(scheduler.as_layer_metrics(
            scheduler.group_totals(spark, "perfbench-ingest")))
        spark.sparkContext.setJobGroup("perfbench-ingest-stages", "stages")
        med = {}
        for stage in ("gen", "kernel"):
            med[stage] = statistics.median(
                [w for w in (timed_pass(stage) for _ in range(2)) if w is not None]
                or [0.0])
        layer["sources.generate_s"] = med["gen"]
        layer["functions.kernel_s"] = med["kernel"] - med["gen"]
        layer["functions.stats_s"] = statistics.median(walls) - med["kernel"]
    return {
        "attempted": attempted,
        "failed": failed,
        "latencies_ms": [w * 1000.0 for w in walls],
        "throughput_per_s": rows / statistics.median(walls) if walls else 0.0,
        "summary": {"rows_per_pass": rows, "passes": len(walls)},
        "layer": layer if tracer.enabled else {},
    }
