"""Per-group statistics expressions — the reference's flagship aggregate.

The reference computes ``Stats(count, sum, mean, stdDev)`` in a single fold
pass ``(count, sum, sumsq)`` with **population** stddev
``sqrt(n*sumsq - sum^2)/n`` (reference: simple-streaming-app
SimpleStreamingApp.scala:114-122). In Spark this is a list of built-in
aggregates — Catalyst fuses them into one HashAggregateExec pass
(partial + final, whole-stage codegen), so no custom UDAF is needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: decimal places used when comparing float results against the DuckDB oracle
ORACLE_ROUND = 6


def stats_aggs(value_col: str, round_to: int | None = ORACLE_ROUND) -> list[Column]:
    """count / sum / mean / population-stddev of ``value_col``.

    ``stddev_pop`` (NOT the sample ``stddev``) mirrors the reference's
    ``sqrt(n*sumsq - sum^2)/n`` definition. Floats are rounded so the
    driver's value-hash matches DuckDB bit-for-bit.
    """
    v = F.col(value_col)
    sum_c, mean_c, std_c = F.sum(v), F.avg(v), F.stddev_pop(v)
    if round_to is not None:
        sum_c = F.round(sum_c, round_to)
        mean_c = F.round(mean_c, round_to)
        std_c = F.round(std_c, round_to)
    return [
        F.count(F.lit(1)).alias("cnt"),
        sum_c.alias("sum_v"),
        mean_c.alias("mean_v"),
        F.coalesce(std_c, F.lit(0.0)).alias("stddev_v"),
    ]
