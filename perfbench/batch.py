"""``batch`` workload: one pass over a fixed suite of registry queries.

Closed loop: each query is built (``queries()[name](spark, sf_dir)``, the
driver-side DataFrame construction with its eager checkpoints and
convergence jobs) and then materialized with ``toArrow``, one after the
other. The suite is one query per operator family, so the operator
builders, the session's table loading and Spark's scheduler do nearly
all the work, and neither the live stream nor the trigger loop runs.

Every result is checked outside the timed region: its row count and an
order-insensitive digest must equal those of the query's DuckDB
``oracle_sql()`` twin on the same tables. The oracle digests and the
tables are built once per checkout and cached under the work directory.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import random
import time

#: one query per operator family: relational, TPC-H, log-lake parse,
#: rate profiles, similarity, text, streaming replay and the dedup graph
SUITE = (
    "batch_stats",
    "tpch_q1",
    "tpch_q3",
    "star_join",
    "cumulative_counts",
    "pivot_counts",
    "loglake_execution_roundtrip",
    "loglake_stacked_pivot",
    "profile_fixed_ramp",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash",
    "cosine_topk",
    "token_stats",
    "streaming_profile_stats",
    "tpch_q21",
    "dedup_clusters",
    "dedup_clusters_star",
    "duplicate_spans",
    "doc_chunks",
)

#: fixed positions: the first query pays most of the cold JVM's compile
#: cost and the heaviest queries run last, in every run; the seed shuffles
#: the queries between them, so it varies the order without moving the
#: suite's slowest query
FIRST = ("batch_stats",)
LAST = ("streaming_profile_stats", "simhash", "ngram_jaccard_pairs",
        "dedup_clusters", "dedup_clusters_star")

#: table scale: small enough that a cold pass fits the run budget, which
#: keeps the suite scheduler- and build-bound, as the workload intends
SCALE = {"full": 0.01, "small": 0.002}


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def digest(table) -> tuple[int, str]:
    """Row count and order-insensitive digest of an Arrow table: columns
    sorted by name, cells canonicalized, rows sorted, then hashed."""
    cols = sorted(table.column_names)
    rows = sorted(
        "\x1f".join(repr(_canon(r[c])) for c in cols) for r in table.to_pylist()
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return len(rows), h.hexdigest()


def prepare(work_dir: str, size: str) -> tuple[str, dict]:
    """Tables and oracle digests for ``size``, built once and cached."""
    import duckdb

    import __spark_entry__ as entry
    import datagen
    from spark_streaming_testbed_spark.session import TABLES

    sf = SCALE[size]
    oracles = entry.oracle_sql()
    key = hashlib.sha256(json.dumps(
        [datagen.VERSION, sf, [oracles[q] for q in SUITE]]).encode()).hexdigest()[:16]
    sf_dir = os.path.join(work_dir, f"tables-sf{sf}-v{datagen.VERSION}")
    cache = os.path.join(work_dir, f"oracle-{key}.json")
    if not os.path.exists(os.path.join(sf_dir, "_done")):
        datagen.write(sf_dir, sf)
        open(os.path.join(sf_dir, "_done"), "w").close()
    if not os.path.exists(cache):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        expected = {q: digest(con.execute(oracles[q]).arrow()) for q in SUITE}
        con.close()
        with open(cache + ".tmp", "w") as fh:
            json.dump(expected, fh)
        os.replace(cache + ".tmp", cache)
    with open(cache) as fh:
        return sf_dir, {q: tuple(v) for q, v in json.load(fh).items()}


def run(ctx) -> dict:
    import __spark_entry__ as entry
    import scheduler

    sf_dir, expected = prepare(ctx.work_dir, ctx.size)
    queries = entry.queries()
    middle = [q for q in SUITE if q not in FIRST + LAST]
    random.Random(ctx.seed).shuffle(middle)
    order = [*FIRST, *middle, *LAST]
    spark, tracer = ctx.spark, ctx.tracer
    latencies, failed = [], 0
    layer: dict[str, float] = {}
    sums = dict.fromkeys(scheduler.FIELDS, 0.0)
    for q in order:
        group = f"perfbench-{q}"
        spark.sparkContext.setJobGroup(group, q)
        try:
            with tracer.span(f"query:{q}"):
                t0 = time.perf_counter()
                with tracer.span(f"operators.build:{q}"):
                    df = queries[q](spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span(f"operators.exec:{q}"):
                    table = df.toArrow()
                    tracer.count("rows_out", table.num_rows)
                t2 = time.perf_counter()
        except Exception as exc:  # a failing query is counted, the pass goes on
            print(f"perfbench batch: {q} raised {type(exc).__name__}: {exc}",
                  flush=True)
            failed += 1
            continue
        latencies.append(t2 - t0)
        got = digest(table)
        if got != expected[q]:
            print(f"perfbench batch: {q} mismatch: rows/digest {got} != "
                  f"oracle {expected[q]}", flush=True)
            failed += 1
        if tracer.enabled:
            totals = scheduler.group_totals(spark, group)
            layer[f"operators.{q}.build_s"] = t1 - t0
            layer[f"operators.{q}.exec_s"] = t2 - t1
            layer[f"operators.{q}.jobs"] = totals["jobs"]
            for k, v in totals.items():
                sums[k] += v
    suite_s = sum(latencies)
    if tracer.enabled:
        layer.update({
            "operators.build_s": tracer.total_prefix("operators.build:"),
            "operators.exec_s": tracer.total_prefix("operators.exec:"),
            "operators.jobs": sums["jobs"],
            "operators.stages": sums["stages"],
            "operators.tasks": sums["tasks"],
            **scheduler.as_layer_metrics(sums),
        })
    return {
        "attempted": len(SUITE),
        "failed": failed,
        "latencies_ms": [x * 1000.0 for x in latencies],
        "throughput_per_s": len(latencies) / suite_s if suite_s else 0.0,
        "summary": {"batch_suite_s": suite_s},
        "layer": layer,
    }
