"""Focused pins for the r12 optimization-round internals:

- ``session.fan_out`` must actually widen a narrow scan (the bug it
  fixes: AQE coalesced a bare ``repartition(key)`` back to one
  partition, so every "row-local" md5/regex hot loop ran single-core on
  the single-row-group testdata files), must not touch an
  already-parallel plan, and must no-op on streaming frames.
- ``write_time_ordered_chunks`` after the single-job rewrite must keep
  its replay contract: one file per chunk, strictly increasing mtimes,
  chunk row-sets identical to the old per-chunk day-bucket filters
  (including dropping NULL-day rows).
- ``wide_replay_width`` must keep its floor of 8, its ramp of
  ``n_keys / REPLAY_GROUPS_PER_PARTITION`` (96) and its ceiling at the
  session width, checked on a session pinned 32 wide so the result
  does not depend on the host's core count.
"""
from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from spark_streaming_testbed_spark.session import fan_out, load_table

SF = "/root/testdata/sf0.001"


def test_fan_out_widens_narrow_scan(spark):
    docs = load_table(spark, SF, "documents")
    par = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < par, (
        "precondition: testdata scan is narrower than the session — if "
        "the generator ever writes multi-row-group files, fan_out "
        "no-ops by design and this pin should be retired"
    )
    wide = fan_out(docs, "doc_id")
    assert wide.rdd.getNumPartitions() == par
    # same rows, same schema — fan_out is placement-only
    assert wide.columns == docs.columns
    assert wide.count() == docs.count()


def test_fan_out_noop_when_already_parallel(spark):
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF, "documents").repartition(par + 3)
    assert fan_out(docs, "doc_id") is docs


def test_fan_out_noop_on_streaming_frame(spark):
    stream = spark.readStream.format("rate").load()
    assert fan_out(stream) is stream


def test_fanned_union_keyed_op_stays_correct(spark):
    """Pin for the Spark 4.1.2 union + exchange-reuse hazard (fan_out
    docstring): cdc_chunk_dedup must emit one row per non-empty doc.
    The broken shape (fanning the shared docs frame so all three union
    branches were identically hash-partitioned, then distinct+window,
    inside a query that reuses the subtree) silently lost every
    first/last chunk — 391 of 500 rows at sf0.01."""
    from spark_streaming_testbed_spark.operators.dedup import (
        cdc_chunk_dedup,
    )

    docs_with_text = (
        load_table(spark, SF, "documents")
        .where(F.length("text") > 0)
        .count()
    )
    assert cdc_chunk_dedup(spark, SF).count() == docs_with_text


def test_time_ordered_chunks_contract(spark):
    from spark_streaming_testbed_spark.streaming.replay import (
        write_time_ordered_chunks,
    )

    events = load_table(spark, SF, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    with tempfile.TemporaryDirectory(prefix="chunks_pin_") as tmp:
        path = f"{tmp}/chunks"
        n = write_time_ordered_chunks(events, path, n_chunks=6)
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        # one file per chunk, no staging residue
        assert len(files) == n
        assert not os.path.exists(path.rstrip("/") + "__staging")
        # strictly increasing modification times = replay order
        mtimes = [os.path.getmtime(f) for f in files]
        assert mtimes == sorted(mtimes)
        assert len(set(mtimes)) == len(mtimes)
        # chunk row-sets replicate the old per-chunk day-bucket filter
        day = F.unix_date(F.to_date("ts"))
        bounds = events.select(
            F.min(day).alias("lo"), F.max(day).alias("hi")
        ).first()
        lo, hi = int(bounds.lo), int(bounds.hi)
        width = max(1, -(-(hi - lo + 1) // 6))
        chunk = F.floor((day - F.lit(lo)) / F.lit(width)).cast("long")
        for i, f in enumerate(files):
            got = sorted(
                r.event_id for r in spark.read.parquet(f).collect()
            )
            want = sorted(
                r.event_id
                for r in events.where(chunk == F.lit(i)).collect()
            )
            assert got == want, f"chunk {i} row-set drifted"


def test_replay_width_scales_with_key_count(spark):
    from spark_streaming_testbed_spark.session import conf_override
    from spark_streaming_testbed_spark.streaming.replay import (
        REPLAY_GROUPS_PER_PARTITION,
        SHUFFLE_PARTITIONS,
        wide_replay_width,
        write_time_ordered_chunks,
    )

    # pin the session to the width the r12 measurements were taken at
    # (32), so the ramp is checked the same way whatever the host's core
    # count; the fixture is session-scoped, so restore the old width
    with conf_override(spark.conf, {SHUFFLE_PARTITIONS: "32"}):
        session_w = int(spark.conf.get(SHUFFLE_PARTITIONS))
        # floor of 8 below, session width above, linear ramp between
        assert wide_replay_width(spark, 0) == "8"
        assert wide_replay_width(
            spark, 8 * REPLAY_GROUPS_PER_PARTITION
        ) == str(min(session_w, 8))
        assert wide_replay_width(spark, 10**9) == str(session_w)
        # no estimate -> session width (legacy callers)
        assert wide_replay_width(spark) == str(session_w)

    # the chunk writer's key estimate rides the bounds job and lands
    # within HLL tolerance of the true cardinality
    events = load_table(spark, SF, "events").select("user_id", "ts")
    truth = events.select("user_id").distinct().count()
    with tempfile.TemporaryDirectory(prefix="chunks_keys_") as tmp:
        n, n_keys = write_time_ordered_chunks(
            events, f"{tmp}/chunks", key_cols=("user_id",)
        )
    assert n >= 1
    assert abs(n_keys - truth) <= max(2, truth * 0.1)
