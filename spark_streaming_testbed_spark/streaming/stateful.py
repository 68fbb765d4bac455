"""Custom stateful streaming operators (SURVEY.md §2.6 T9 — the stretch
tier the reference never had: cross-batch state).

``running_totals`` keeps per-value running (count, sum) across ALL
micro-batches with ``applyInPandasWithState`` — the Structured Streaming
primitive for operators that outlive a window. Each trigger emits the
updated cumulative row per key touched in that batch, which is exactly
the reference's "stats so far" console view upgraded to exactly-once
state.

Every replay query here is a :class:`~.replay.FileReplay` (source
writer, stream transform, output mode and width) run by
:func:`~.replay.run_replay`, plus a batch finalizer over its sink table.
``REPLAYS`` maps the registry names to those parts, and
``tools/checkpoint_sweep.py`` replays the same objects under a kill and
restart. ``streaming_upsert`` is the one foreachBatch MERGE loop, built
from ``upsert_source`` and ``merge_upsert``.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.advanced import (
    EWMA_ALPHA,
    EWMA_BETA,
    FUNNEL_STAGES,
    SESSION_GAP,
    SESSION_GAP_MS,
)
from ..operators.text import md5h, with_tokens
from ..plans.phases import parse_plan
from ..session import load_table, session_scratch_dir
from ..sources.profile_source import PROFILE_SCHEMA, write_profile
from .replay import (
    LATE_CHUNKS,
    FileReplay,
    read_replay,
    run_replay,
    write_chunks,
    write_interleaved_chunks,
    write_time_ordered_chunks,
)

OUTPUT_SCHEMA = "value int, total_cnt long, total_sum long, n_batches int"
STATE_SCHEMA = "cnt long, sum long, batches int"


def _update_totals(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    cnt, total, batches = state.get if state.exists else (0, 0, 0)
    new = 0
    for pdf in pdfs:
        new += len(pdf)
    cnt += new
    total += new * int(key[0])
    batches += 1
    state.update((cnt, total, batches))
    yield pd.DataFrame(
        {
            "value": [int(key[0])],
            "total_cnt": [cnt],
            "total_sum": [total],
            "n_batches": [batches],
        }
    )


def _fold(update_fn, output_schema: str, state_schema: str, *keys: str):
    """Stream transform: group by ``keys`` and fold each group's rows
    into its state with ``update_fn`` (``applyInPandasWithState``,
    update mode, no timeout)."""

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy(*keys).applyInPandasWithState(
            update_fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return transform


def running_totals(stream: DataFrame) -> DataFrame:
    """Per-value cumulative totals across micro-batches (update mode)."""
    return _fold(_update_totals, OUTPUT_SCHEMA, STATE_SCHEMA, "value")(stream)


#: epoch day of ``ts``, the day-keyed twins' second state key
DAY_SQL = "cast(unix_date(to_date(ts)) as int) AS day"


def _events_source(*cols: str, key_cols: tuple | None = None,
                   interleaved: bool = False):
    """Source writer: ``events`` projected to ``cols`` (SQL expressions)
    as time-ordered day chunks, or as ``event_id``-interleaved chunks.
    With ``key_cols`` the chunk writer's bounds scan also estimates the
    state-key count, and the replay's width is derived from it."""

    def source(spark, sf_dir: str, path: str):
        events = load_table(spark, sf_dir, "events").selectExpr(*cols)
        n_keys = None
        if interleaved:
            write_interleaved_chunks(events, path)
        elif key_cols is None:
            write_time_ordered_chunks(events, path)
        else:
            _, n_keys = write_time_ordered_chunks(
                events, path, key_cols=key_cols
            )
        return events.schema, n_keys

    return source


TOTALS_PLAN = (
    '{"sequence": [{"type": "cycle", "values": [4, 5], "rate": 20, '
    '"duration": 6}]}'
)


def _totals_source(spark, sf_dir: str, path: str):
    """The cycle profile as 3 files of 2 plan-seconds each."""
    write_profile(spark, parse_plan(TOTALS_PLAN), path, seconds_per_file=2)
    return PROFILE_SCHEMA, None


#: the cycle plan has TWO state keys (values 4 and 5): the narrow state
#: width the other few-key profile replays use, so each trigger commits
#: 4 state partitions, not 32 (r12 A/B: 3.3 s -> 2.2 s at sf0.1; frozen
#: into the checkpoint at scale)
TOTALS_REPLAY = FileReplay(
    _totals_source, running_totals, "update", width=4, keys=("value",)
)


def streaming_stateful_totals(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED stateful streaming query: replay a cycle profile as
    a multi-trigger file stream through ``applyInPandasWithState`` and
    return the FINAL cumulative row per value (the last emission, i.e.
    max n_batches). The oracle recomputes the totals from the plan's
    bucket arithmetic in SQL — proving exactly-once state accumulation
    across micro-batches."""
    name = run_replay(spark, TOTALS_REPLAY, sf_dir)
    w = W.partitionBy("value").orderBy(F.col("n_batches").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("value", "total_cnt", "total_sum")
        .orderBy("value")
    )


STREAMING_STATEFUL_TOTALS_ORACLE = """
WITH counts AS (
  SELECT i,
         CAST(floor((i+1) * 0.2) AS INT) - CAST(floor(i * 0.2) AS INT) AS n
  FROM (SELECT unnest(range(100)) AS i)),
seq AS (
  SELECT b.ord AS idx
  FROM (SELECT unnest(range(6)) AS s) s,
       (SELECT i, row_number() OVER (ORDER BY i) - 1 AS ord
        FROM counts WHERE n > 0) b),
vals AS (SELECT ([4, 5])[(idx % 2) + 1] AS value FROM seq)
SELECT value,
       count(*) AS total_cnt,
       CAST(sum(value) AS BIGINT) AS total_sum
FROM vals GROUP BY value ORDER BY value
"""


# ---------------------------------------------------------------------------
# Stateful streaming funnel (batch == stream equality with event_funnel)
# ---------------------------------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = "user_id long, stage int"
FUNNEL_STATE_SCHEMA = "stage int, anchor long"


def _update_funnel(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Greedy in-order funnel scan: with events arriving in event-time
    order, advancing the stage at the first matching event with ts
    strictly after the previous anchor IS the batch min-timestamp
    chaining (the first 'view' is the min-ts view; the first 'click'
    strictly after it is the min click > t_view; ...)."""
    stage, anchor = state.get if state.exists else (0, -1)
    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["ts", "event_id"])
    ts_us = rows["ts"].astype("int64")
    for t, et in zip(ts_us, rows["event_type"]):
        if stage < len(FUNNEL_STAGES) and et == FUNNEL_STAGES[stage] \
                and (stage == 0 or t > anchor):
            stage += 1
            anchor = int(t)
    state.update((stage, anchor))
    yield pd.DataFrame({"user_id": [int(key[0])], "stage": [stage]})


#: key-rich Python replay (one state group per user): width derived from
#: the measured key count, see wide_replay_width (the r9 "narrow width"
#: rule applies only to the single-digit-key replays, which pin 4 or 8)
FUNNEL_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "event_type", "ts",
                   key_cols=("user_id",)),
    _fold(_update_funnel, FUNNEL_OUTPUT_SCHEMA, FUNNEL_STATE_SCHEMA,
          "user_id"),
    "update",
    keys=("user_id",),
)


def _funnel_report(final: DataFrame) -> DataFrame:
    """The batch ``event_funnel`` report from per-user final stages."""
    # coalesce: SUM over zero users is NULL in Spark while the
    # shared batch oracle counts 0 (r9 degenerate-input sweep)
    wide = final.agg(*[
        F.coalesce(
            F.sum((F.col("stage") >= k).cast("long")),
            F.lit(0).cast("long"),
        ).alias(s)
        for k, s in enumerate(FUNNEL_STAGES, 1)
    ])
    stack = ", ".join(f"'{s}', {s}" for s in FUNNEL_STAGES)
    funnel = wide.selectExpr(
        f"stack({len(FUNNEL_STAGES)}, {stack}) AS (stage, users)"
    )
    top = funnel.where(
        F.col("stage") == FUNNEL_STAGES[0]
    ).select(F.col("users").alias("top_users"))
    return (
        funnel.crossJoin(F.broadcast(top))
        .select(
            "stage", "users",
            # try_divide: 0 entrants must yield NULL like the
            # oracle's x/0, not an ANSI error (r9 sweep) — same
            # guard as the batch twin event_funnel
            F.round(F.try_divide("users", "top_users"), 6)
            .alias("pct_of_top"),
        )
        .orderBy(F.col("users").desc(), "stage")
    )


def streaming_funnel(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED stateful streaming funnel: the events table replays
    as a time-ordered multi-trigger file stream; per-user funnel state
    (stage reached + anchor timestamp) lives in
    ``applyInPandasWithState`` across micro-batches, and the final per-
    user stages roll up into the same 3-row report as the batch
    ``event_funnel`` — batch==stream equality proved by sharing its
    oracle. The streaming twin of the product-funnel chaining every
    online analytics pipeline wants without re-scanning history.

    Scale shape: per-trigger work is one user-keyed shuffle into the
    stateful operator; state is two longs per user."""
    name = run_replay(spark, FUNNEL_REPLAY, sf_dir)
    return _funnel_report(
        spark.table(name).groupBy("user_id").agg(
            F.max("stage").alias("stage")
        )
    )


# ---------------------------------------------------------------------------
# Day-keyed funnel: the key-space escape hatch for hot users (r11)
# ---------------------------------------------------------------------------

# per entry stage s in {0..3}: the continued greedy scan's (stage, anchor)
FUNNEL_DAY_OUTPUT_SCHEMA = (
    "user_id long, day int, e0 int, e1 int, e2 int, e3 int"
)
FUNNEL_DAY_STATE_SCHEMA = (
    "s0 int, a0 long, s1 int, a1 long, s2 int, a2 long, s3 int, a3 long"
)


def _update_funnel_day(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-(user, day) funnel TRANSITION MAP: for every possible entry
    stage s the greedy in-order scan of this day's events, starting from
    (stage=s, anchor=-inf), yields exit stage e(s). Valid because an
    anchor inherited from an earlier day is strictly below every
    timestamp of this day (dates partition the time axis), so the
    entry anchor never constrains in-day matching — only the entry
    STAGE crosses the day boundary. Each e(s) is monotone across
    triggers (more events only advance the scan), so the reader may
    take max per component."""
    n_states = len(FUNNEL_STAGES) + 1
    if state.exists:
        flat = list(state.get)
        sims = [
            [flat[2 * s], flat[2 * s + 1]] for s in range(n_states)
        ]
    else:
        sims = [[s, -1] for s in range(n_states)]
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ts_us = rows["ts"].astype("int64")
    for t, et in zip(ts_us, rows["event_type"]):
        for sim in sims:
            if sim[0] < len(FUNNEL_STAGES) \
                    and et == FUNNEL_STAGES[sim[0]] \
                    and (sim[0] == 0 or t > sim[1]):
                sim[0] += 1
                sim[1] = int(t)
    state.update(tuple(v for sim in sims for v in sim))
    yield pd.DataFrame({
        "user_id": [int(key[0])],
        "day": [int(key[1])],
        **{f"e{s}": [sims[s][0]] for s in range(n_states)},
    })


FUNNEL_DAY_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "event_type", "ts", DAY_SQL,
                   key_cols=("user_id", "day")),
    _fold(_update_funnel_day, FUNNEL_DAY_OUTPUT_SCHEMA,
          FUNNEL_DAY_STATE_SCHEMA, "user_id", "day"),
    "update",
    keys=("user_id", "day"),
)


def streaming_funnel_daykeyed(spark, sf_dir: str) -> DataFrame:
    """The hot-key ESCAPE HATCH for ``streaming_funnel`` (VERDICT r10
    item 2): same report, same in-order multi-trigger replay, but state
    keyed on (user_id, epoch day) instead of user_id alone, so one user
    owning 50 % of the stream costs ~n/30 per state key instead of n.

    Why the split is exact (not approximate): the greedy funnel scan's
    only cross-segment carry is (stage, anchor), and an anchor from an
    earlier DAY is strictly below every timestamp of a later day —
    ``to_date`` partitions the time axis — so in-day matching never
    sees the entry anchor, only the entry stage. Each (user, day)
    sub-key therefore computes a 4-entry monotone transition map
    e: entry stage → exit stage independently, and a per-user fold in
    day order stitches them: ``stage_{d+1} = e_d(stage_d)``. The fold
    runs as a JVM-side ``aggregate`` over a sorted day array (days per
    user are tiny — one struct per active day), so the serial-per-key
    section shrinks from the user's whole history to one day of it:
    key-space DESIGN, not salting, is how per-key-ordered stateful
    operators absorb hot keys at 100 TB.

    pytest pins this variant hash-equal to ``streaming_funnel`` on
    pristine AND hot-key inputs; the skew tier measures both variants'
    walls under the 50 % hot key (kept out of the frozen 285-query
    registry per VERDICT r10 item 7 — it shares ``event_funnel``'s
    oracle semantics, so a registry row would duplicate coverage).

    DEPLOYMENT RULE (measured, FUNNEL_CROSSOVER_r12.json): day-keying
    multiplies state-group count by the active-day count and pays a
    per-group overhead, so with a constant 5k-cold-user block it only
    beats user keying once the hot key holds ~5-8M events over the
    30-day span — about ONE MILLION events per key per trigger on this
    host (8M-event hot key over a ~6-trigger replay: day-keyed 37.3 s
    vs user-keyed 41.7 s; at 4M/trigger-share it still loses 63 s to
    34 s). Deploy the day-keyed twin when p99 events-per-key-per-
    trigger approaches ~1M (serial scan time ~0.5 s at the measured
    fold rate) or when a single key's per-trigger wall dominates the
    trigger budget; below that, user keying wins on per-group
    overhead. On a multi-executor cluster the crossover moves DOWN:
    the user-keyed scan is one task no matter how many executors,
    while the day sub-keys spread across the fleet."""
    n_states = len(FUNNEL_STAGES) + 1
    name = run_replay(spark, FUNNEL_DAY_REPLAY, sf_dir)
    # last emission per (user, day) = max per component (monotone),
    # then the day-ordered stitch: fold the entry stage through each
    # day's transition map, entirely JVM-side.
    maps = spark.table(name).groupBy("user_id", "day").agg(*[
        F.max(f"e{s}").alias(f"e{s}") for s in range(n_states)
    ])
    final = (
        maps.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    "day",
                    F.array(*[
                        F.col(f"e{s}") for s in range(n_states)
                    ]).alias("m"),
                ))
            ).alias("days")
        )
        .select(
            "user_id",
            F.aggregate(
                "days",
                F.lit(0),
                lambda acc, x: F.element_at(x["m"], acc + 1),
            ).alias("stage"),
        )
    )
    return _funnel_report(final)


# ---------------------------------------------------------------------------
# Streaming heavy hitters: Misra-Gries state across triggers + exact confirm
# ---------------------------------------------------------------------------

HH_BUCKETS = 8
HH_OUTPUT_SCHEMA = "bucket int, payload string, n_b long, batch int"
HH_STATE_SCHEMA = "payload string, n_b long, batch int"


def _update_mg_sketch(key, pdfs, state):
    """Per-bucket Misra-Gries summary maintained across micro-batches.

    The counter table lives in streaming state as a JSON payload (token →
    residual count) trimmed with the mergeable-summaries rule each
    trigger; one summary row per (bucket, trigger) is emitted so the
    reader can take each bucket's LAST emission. Tokens are hash-
    partitioned into buckets, so each token's full stream hits exactly
    one summary — the per-bucket guarantee (no token with count >
    n_bucket/k lost) is therefore STRONGER than the batch operator's
    per-partition bound."""
    import json

    from ..operators.sketches import MG_COUNTERS

    payload, n_b, batch = state.get if state.exists else ("{}", 0, 0)
    counters = json.loads(payload)
    for pdf in pdfs:
        vc = pdf["token"].value_counts()
        n_b += int(vc.sum())
        for tok, c in vc.items():
            counters[tok] = counters.get(tok, 0) + int(c)
        if len(counters) > MG_COUNTERS:
            cut = sorted(counters.values(), reverse=True)[MG_COUNTERS]
            counters = {t: c - cut for t, c in counters.items() if c > cut}
    batch += 1
    payload = json.dumps(counters)
    state.update((payload, n_b, batch))
    yield pd.DataFrame(
        {
            "bucket": [int(key[0])],
            "payload": [payload],
            "n_b": [n_b],
            "batch": [batch],
        }
    )


#: the documents replay as HH_CHUNKS files, doc_id % HH_CHUNKS each
HH_CHUNKS = 4


def _docs_source(spark, sf_dir: str, path: str):
    """Documents in ``doc_id % HH_CHUNKS`` chunks. Replay order carries
    no correctness weight here, but the file count fixes the trigger
    count, which the per-trigger MG summaries DO depend on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_chunks(
        docs, path, (F.col("doc_id") % HH_CHUNKS).cast("int"), HH_CHUNKS
    )
    return docs.schema, None


def _heavy_hitter_updates(stream: DataFrame) -> DataFrame:
    """Tokens hash-partitioned into HH_BUCKETS Misra-Gries summaries."""
    tokens = with_tokens(stream).select(
        F.explode("tokens").alias("token")
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("token"), F.lit(HH_BUCKETS)).cast("int"),
    )
    return _fold(
        _update_mg_sketch, HH_OUTPUT_SCHEMA, HH_STATE_SCHEMA, "bucket"
    )(tokens)


#: one state partition per bucket
HH_REPLAY = FileReplay(
    _docs_source, _heavy_hitter_updates, "update", width=HH_BUCKETS,
    keys=("bucket",),
)


def streaming_heavy_hitters(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming heavy hitters: documents replay as a
    4-chunk file stream; per-hash-bucket Misra-Gries counter tables live
    in ``applyInPandasWithState`` across triggers; after the stream
    drains, the surviving candidates are exactly confirmed against the
    static table — the same two-phase contract as the batch
    ``heavy_hitters``, so both share one oracle (batch==stream).

    This is the online shape of frequency monitoring: the sketch rides
    the stream with O(k) state per bucket (bounded forever), and the
    expensive exact pass runs only on the tiny candidate set when a
    report is cut. Candidates are a provable superset of every token
    with count > N/k (per-bucket MG bound), so the confirmed output is
    exact regardless of replay order — chunk order carries no
    correctness weight here, unlike the funnel's in-order replay."""
    import json

    from ..operators.sketches import HH_K

    name = run_replay(spark, HH_REPLAY, sf_dir)
    w = W.partitionBy("bucket").orderBy(F.col("batch").desc())
    finals = (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("payload", "n_b")
        .collect()
    )
    # driver-side scalars only: <= HH_BUCKETS tiny JSON summaries
    n_total = sum(r.n_b for r in finals)
    cand_tokens = sorted(
        {t for r in finals for t in json.loads(r.payload)}
    )
    if not cand_tokens:
        return spark.createDataFrame(
            [], "token string, cnt long, n_total long"
        )
    candidates = spark.createDataFrame(
        [(t,) for t in cand_tokens], "token string"
    )
    exact = (
        with_tokens(load_table(spark, sf_dir, "documents"))
        .select(F.explode("tokens").alias("token"))
        .join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.where(F.col("cnt") * HH_K > F.lit(n_total))
        .select("token", "cnt", F.lit(n_total).alias("n_total"))
        .orderBy(F.col("cnt").desc(), "token")
    )


# ---------------------------------------------------------------------------
# Streaming EWMA: the exact per-key recurrence carried across triggers
# ---------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = (
    "user_id long, n_events long, last_value double, ewma double"
)
EWMA_STATE_SCHEMA = "s double, n long, last double"


def _update_ewma(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Continue the s_i = α·x_i + β·s_{i-1} fold from the stored state.

    Python floats ARE IEEE754 doubles and the fold multiplies with the
    same α/β literals as the batch ``ewma_smooth`` codegen expression,
    so chunked streaming folding is bitwise identical to the one-shot
    batch fold — which is what lets the stream share the batch oracle."""
    if state.exists:
        s, n, last = state.get
    else:
        s, n, last = 0.0, 0, 0.0
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for v in rows["value"]:
        v = float(v)
        s = v if n == 0 else EWMA_ALPHA * v + EWMA_BETA * s
        last = v
        n += 1
    state.update((float(s), int(n), float(last)))
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_events": [int(n)],
            "last_value": [float(last)],
            "ewma": [float(s)],
        }
    )


EWMA_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "ts", "value",
                   key_cols=("user_id",)),
    _fold(_update_ewma, EWMA_OUTPUT_SCHEMA, EWMA_STATE_SCHEMA, "user_id"),
    "update",
    keys=("user_id",),
)


def streaming_ewma(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming EWMA: events replay as a time-ordered
    multi-trigger file stream; per-user (ewma, n, last) state folds the
    recurrence across micro-batches in ``applyInPandasWithState``, and
    the final per-user rows match the batch ``ewma_smooth`` bit for bit
    — the streaming twin shares its DuckDB oracle. This is the
    always-current smoothed activity signal computed WITHOUT ever
    re-scanning history.

    Scale shape: per-trigger work is one user-keyed shuffle into the
    stateful operator; state is three scalars per user, forever."""
    name = run_replay(spark, EWMA_REPLAY, sf_dir)
    # n_events strictly increases per update, so the per-user final
    # state is the struct-max on (n_events, ...) — no window needed
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "last_value", "ewma")
            ).alias("fin")
        )
    )
    # floor-based 6-dp rounding to match the batch twin and the
    # shared oracle (see ewma_smooth: round() disagrees between
    # engines within an ulp of a half boundary; floor(x*1e6+0.5)
    # is deterministic on identical doubles)
    return (
        final.select(
            "user_id",
            F.col("fin.n_events").alias("n_events"),
            F.col("fin.last_value").alias("last_value"),
            (F.floor(F.col("fin.ewma") * F.lit(1e6) + F.lit(0.5))
             / F.lit(1e6)).alias("ewma"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming deterministic per-group sample (bounded-state hash top-k)
# ---------------------------------------------------------------------------

GS_OUTPUT_SCHEMA = (
    "event_type string, n_seen long, rn int, event_id long, value double"
)
GS_STATE_SCHEMA = (
    "hs array<long>, ids array<long>, vals array<double>, n_seen long"
)


def _update_group_sample(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this trigger's rows into the k-smallest-hash sample.

    The sample is an order statistic of the (hash, event_id) key, so
    folding chunk-by-chunk is EXACTLY the batch answer at every trigger
    — no approximation, state bounded at k rows per group forever (the
    distributed, restart-safe equivalent of reservoir sampling, without
    RNG state to coordinate)."""
    from ..operators.prep import GROUP_SAMPLE_K

    if state.exists:
        hs, ids, vals, n_seen = state.get
        cand = [list(hs), list(ids), list(vals)]
    else:
        cand, n_seen = [[], [], []], 0
    for pdf in pdfs:
        n_seen += len(pdf)
        cand[0] += [int(x) for x in pdf["h"]]
        cand[1] += [int(x) for x in pdf["event_id"]]
        cand[2] += [float(x) for x in pdf["value"]]
    merged = sorted(zip(*cand))[:GROUP_SAMPLE_K]
    hs = [m[0] for m in merged]
    ids = [m[1] for m in merged]
    vals = [m[2] for m in merged]
    state.update((hs, ids, vals, int(n_seen)))
    yield pd.DataFrame(
        {
            "event_type": [str(key[0])] * len(merged),
            "n_seen": [int(n_seen)] * len(merged),
            "rn": list(range(1, len(merged) + 1)),
            "event_id": ids,
            "value": vals,
        }
    )


def _group_sample_updates(stream: DataFrame) -> DataFrame:
    """Content hashes ranked JVM-side, then the per-type bottom-k fold."""
    hashed = stream.select(
        "event_type", "event_id", "value",
        md5h("cast(event_id as string)").alias("h"),
    )
    return _fold(
        _update_group_sample, GS_OUTPUT_SCHEMA, GS_STATE_SCHEMA,
        "event_type",
    )(hashed)


GROUP_SAMPLE_REPLAY = FileReplay(
    _events_source("event_type", "event_id", "ts", "value"),
    _group_sample_updates,
    "update",
    width=8,
    keys=("event_type",),
)


def streaming_group_sample(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming per-group sample: events replay as a
    time-ordered multi-trigger file stream; each type's state holds only
    the k rows with the smallest 60-bit content hashes, and after the
    last trigger the sample equals the batch
    :func:`operators.prep.group_sample_topk` row for row — the two share
    one DuckDB oracle. An always-current uniform sample maintained
    online with k rows of state per group and no history re-scan.

    Scale shape: per-trigger work is one bounded-key shuffle into the
    stateful operator; the hash ranks are computed JVM-side before
    Python sees anything."""
    name = run_replay(spark, GROUP_SAMPLE_REPLAY, sf_dir)
    w = W.partitionBy("event_type")
    return (
        spark.table(name)
        .withColumn("_max_seen", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("_max_seen"))
        .select("event_type", "rn", "event_id", "value")
        .orderBy("event_type", "rn")
    )


# ---------------------------------------------------------------------------
# Watermarked late-data handling: deterministic drop/emit accounting (T5)
# ---------------------------------------------------------------------------

LATE_DELAY_US = 3_600_000_000  # 1 hour watermark delay


def _late_data_agg(stream: DataFrame) -> DataFrame:
    """1-day tumbling windows per type behind a 1-hour watermark."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_v"),
        )
    )


LATE_DATA_REPLAY = FileReplay(
    _events_source("event_id", "ts", "event_type", "value",
                   interleaved=True),
    _late_data_agg,
    "append",
    width=8,
)


def streaming_late_data(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED late-data handling (SURVEY §2.6 T5): events replay
    as ``LATE_CHUNKS`` interleaved micro-batches (each spanning the full
    month, so batches 2+ are massively late), through a 1-hour
    watermark and a 1-day tumbling window in APPEND mode. Which rows
    the watermark drops and which windows finalize is fully
    deterministic given the replay order, so DuckDB can simulate the
    engine's admission/emission rule exactly:

    - watermark in effect during batch c = max event time over batches
      ≤ c−2, minus the delay (the documented one-trigger propagation
      lag of the offset log — calibrated empirically: 139 emitted
      rows / 480 events at sf0.001 match bit-for-bit);
    - a row is ADMITTED iff its window end exceeds that watermark;
    - a (window, key) group is EMITTED iff its window end ≤ the final
      watermark (still-open windows stay in state, unemitted).
    """
    name = run_replay(spark, LATE_DATA_REPLAY, sf_dir)
    return (
        spark.table(name)
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "cnt",
            "sum_v",
        )
        .orderBy("window_start_ms", "event_type")
    )


STREAMING_LATE_DATA_ORACLE = f"""
WITH base AS (
  SELECT event_id % {LATE_CHUNKS} AS chunk, ts, event_type, value,
         epoch_us(ts) AS tus,
         epoch_us(date_trunc('day', ts)) + 86400000000 AS wend_us
  FROM events),
chunk_max AS (SELECT chunk, max(tus) AS mx FROM base GROUP BY chunk),
wm AS (
  SELECT b.chunk,
         (SELECT max(mx) FROM chunk_max m WHERE m.chunk <= b.chunk - 2)
           - {LATE_DELAY_US} AS wm_us
  FROM (SELECT DISTINCT chunk FROM base) b),
admitted AS (
  SELECT base.* FROM base JOIN wm USING (chunk)
  WHERE wm.wm_us IS NULL OR base.wend_us > wm.wm_us),
final_wm AS (SELECT max(mx) - {LATE_DELAY_US} AS fwm FROM chunk_max)
SELECT CAST(epoch_us(date_trunc('day', ts)) / 1000 AS BIGINT)
         AS window_start_ms,
       event_type,
       count(*) AS cnt,
       round(sum(value), 6) AS sum_v
FROM admitted CROSS JOIN final_wm
WHERE wend_us <= fwm
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Streaming incremental upsert: foreachBatch MERGE with A/B table flip
# ---------------------------------------------------------------------------

UPSERT_FEED_SCHEMA = "event_id long, cents long, src string"


def upsert_source(spark, sf_dir: str, path: str) -> DataFrame:
    """Write ``upsert_merge``'s update feed (orders from 1997-01-01,
    urgent repriced in integer cents, keyed ``event_id``) under ``path``
    as interleaved chunks; return the base table it merges into."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(
        "o_orderkey", cents.alias("cents"), F.lit("keep").alias("action")
    )
    updates = orders.where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("event_id"),
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.expr("cast(cast(round(o_totalprice * 100) as bigint) "
                   "* 11 div 10 as bigint)"),
        ).otherwise(cents).alias("cents"),
        F.lit("upd").alias("src"),
    )
    write_interleaved_chunks(updates, path)
    return base


def merge_upsert(current: DataFrame, batch: DataFrame) -> DataFrame:
    """One MERGE step: the feed batch full-outer-joined onto the current
    table. Action labels persist, so 'update' survives later batches
    that do not touch the key."""
    b = batch.select(
        F.col("event_id").alias("o_orderkey"),
        F.col("cents").alias("cents_u"),
    )
    return (
        current.join(b, "o_orderkey", "full")
        .select(
            "o_orderkey",
            F.coalesce("cents_u", "cents").alias("cents"),
            F.when(F.col("cents").isNull(), "insert")
            .when(F.col("cents_u").isNotNull(), "update")
            .otherwise(F.col("action")).alias("action"),
        )
    )


def streaming_upsert(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED incremental materialized upsert: the update feed
    of ``upsert_merge`` (orders from 1997-01-01, urgent repriced)
    replays as micro-batches; every trigger MERGEs its batch into the
    running base table via foreachBatch — the plain-parquet version of
    the Delta/Iceberg MERGE INTO loop every warehouse ingest runs. The
    final table is byte-identical to the one-shot batch merge, so the
    stream shares ``upsert_merge``'s DuckDB oracle.

    Scale shape: each trigger is one full-outer equi-join of the
    (small) batch against the base table, written to the ALTERNATE
    path — Spark cannot safely overwrite a path it is reading, so the
    merge ping-pongs between two locations (the poor man's snapshot
    isolation; a table format would give this via versioned commits).
    Action labels persist so 'update' survives later keep-only batches.
    """
    with tempfile.TemporaryDirectory(prefix="supsert_") as tmp:
        feed = f"{tmp}/feed"
        state = [f"{tmp}/state_a", f"{tmp}/state_b"]
        upsert_source(spark, sf_dir, feed).write.mode("overwrite").parquet(
            state[0]
        )
        cur = [0]

        def merge_batch(batch, _id):
            merged = merge_upsert(spark.read.parquet(state[cur[0]]), batch)
            merged.write.mode("overwrite").parquet(state[1 - cur[0]])
            cur[0] = 1 - cur[0]

        q = (
            read_replay(spark, UPSERT_FEED_SCHEMA, feed)
            .writeStream.foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # move the final ping-pong table to a session-scoped durable
        # path and re-read it lazily: no O(state) driver collect
        # (VERDICT r4), and the result stays valid after the replay's
        # TemporaryDirectory vanishes
        durable = session_scratch_dir(spark, "supsert_final_")
        os.rename(state[cur[0]], durable)
        return spark.read.parquet(durable).select(
            "o_orderkey", "cents", "action"
        ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Streaming sessionization: native session_window across triggers
# ---------------------------------------------------------------------------

def _session_agg(stream: DataFrame) -> DataFrame:
    """Native ``session_window`` per user behind a zero-delay watermark."""
    return (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_v"),
        )
    )


#: r12 width A/B (interleaved, 4 reps at sf0.1): 4 beats 8 on every rep
#: for the sessionize, sliding and top-k replays — the per-trigger state
#: commit tax outweighs the extra parallelism at these key profiles
SESSIONIZE_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "ts", "value"),
    _session_agg,
    "append",
    width=4,
)


def streaming_sessionize(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming sessionization: events replay as
    time-ordered micro-batches through Spark's native ``session_window``
    in APPEND mode — sessions merge in state across triggers and emit
    once the watermark passes their end. With an in-order replay and a
    zero-second delay the emitted set is exactly the batch gap-islands
    sessions whose end precedes the final watermark (= global max event
    time) — the still-open tail sessions correctly stay in state. The
    oracle is the batch islands SQL with that end-time filter.

    Scale shape: per-trigger work is one user-keyed shuffle into the
    session-state operator; state holds only open sessions."""
    name = run_replay(spark, SESSIONIZE_REPLAY, sf_dir)
    return (
        spark.table(name)
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
            "n_events",
            "sum_v",
        )
        .orderBy("user_id", "session_start_ms")
    )


#: append-mode session_window emits exactly the batch gap-islands
#: sessions whose end precedes the final watermark
STREAMING_SESSIONIZE_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, epoch_ms(ts) AS t, value,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_t
  FROM events),
marked AS (
  SELECT user_id, t, value,
         CASE WHEN prev_t IS NULL OR t - prev_t > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS ns
  FROM ordered),
islands AS (
  SELECT user_id, t, value,
         sum(ns) OVER (PARTITION BY user_id ORDER BY t
                       ROWS UNBOUNDED PRECEDING) AS sn
  FROM marked),
sess AS (
  SELECT user_id, min(t) AS session_start_ms,
         max(t) + {SESSION_GAP_MS} AS session_end_ms,
         count(*) AS n_events, round(sum(value), 6) AS sum_v
  FROM islands GROUP BY user_id, sn),
fwm AS (SELECT max(epoch_ms(ts)) AS m FROM events)
SELECT user_id, session_start_ms, session_end_ms, n_events, sum_v
FROM sess CROSS JOIN fwm
WHERE session_end_ms <= m
ORDER BY user_id, session_start_ms
"""


# ---------------------------------------------------------------------------
# Day-keyed sessionize: the key-space escape hatch generalized (r12)
# ---------------------------------------------------------------------------

SESS_DAY_OUTPUT_SCHEMA = (
    "user_id long, day int, n_total long, starts array<long>, "
    "lasts array<long>, ns array<long>, sums array<double>"
)
SESS_DAY_STATE_SCHEMA = (
    "starts array<long>, lasts array<long>, ns array<long>, "
    "sums array<double>, n_total long"
)


def _update_sessions_day(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Continue this (user, day)'s gap-islands scan: an event extends the
    open tail session iff its gap from the tail's last event is <= the
    session gap (the inclusive rule of the islands oracle and of native
    ``session_window`` merging), else it opens a new sub-session. The
    full sub-session list stays in state (bounded: a day holds at most
    day_ms / gap_ms + 1 sessions) and is re-emitted each trigger, so the
    reader takes the max-``n_total`` emission per key."""
    if state.exists:
        starts, lasts, ns, sums, n_total = state.get
        starts, lasts = list(starts), list(lasts)
        ns, sums = list(ns), list(sums)
    else:
        starts, lasts, ns, sums, n_total = [], [], [], [], 0
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ms = rows["ts"].astype("datetime64[ms]").astype("int64")
    for t, v in zip(ms, rows["value"]):
        t = int(t)
        if lasts and t - lasts[-1] <= SESSION_GAP_MS:
            lasts[-1] = t
            ns[-1] += 1
            sums[-1] += float(v)
        else:
            starts.append(t)
            lasts.append(t)
            ns.append(1)
            sums.append(float(v))
        n_total += 1
    state.update((starts, lasts, ns, sums, int(n_total)))
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "day": [int(key[1])],
            "n_total": [int(n_total)],
            "starts": [starts],
            "lasts": [lasts],
            "ns": [ns],
            "sums": [sums],
        }
    )


SESSIONIZE_DAY_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "ts", "value", DAY_SQL,
                   key_cols=("user_id", "day")),
    _fold(_update_sessions_day, SESS_DAY_OUTPUT_SCHEMA,
          SESS_DAY_STATE_SCHEMA, "user_id", "day"),
    "update",
    keys=("user_id", "day"),
)


def streaming_sessionize_daykeyed(spark, sf_dir: str) -> DataFrame:
    """The hot-key ESCAPE HATCH for ``streaming_sessionize`` (VERDICT
    r11 item 6), generalizing the r11 funnel pattern from funnels to
    sessions: same emitted-session report, same in-order multi-trigger
    replay, but session state keyed on (user_id, epoch day) instead of
    user_id alone, so one user owning 90 % of the stream costs ~n/30
    per state key instead of n.

    Why the split is exact: gap-islands sessionization is a chain of
    pairwise gap tests on time-adjacent events, and a day boundary cuts
    at most ONE such test per day — the one between the last event of
    day d and the first event of day d+1. Each (user, day) sub-key
    therefore scans only its own day's events, and a session-LEVEL
    islands pass (one window function over sub-session rows, which are
    session-cardinality, not event-cardinality) re-applies exactly the
    cut tests: adjacent sub-sessions merge iff the next one's start is
    at or before the previous one's end (start <= last + gap — the same
    inclusive rule the event-level scan uses), with min/max/sum rollups
    reassembling the merged session. The serial-per-key section shrinks
    from the user's whole history to one day of it; the stitch shuffles
    only session rows. Key-space DESIGN, not salting, absorbs hot keys
    in per-key-ordered stateful operators at 100 TB.

    The emitted set matches append-mode semantics by applying the same
    final-watermark filter as the oracle: sessions whose end precedes
    the global max event time.

    pytest pins this variant hash-equal to ``streaming_sessionize`` on
    pristine AND 90 %-hot-key inputs; the skew tiers measure both
    variants' walls (kept out of the frozen registry like the funnel
    twin — it shares the islands oracle semantics, so a registry row
    would duplicate coverage).

    Deployment (measured, SESSIONIZE_CROSSOVER_r12.json): unlike the
    funnel pair (Python fold vs Python fold, crossover ~1M events/key/
    trigger — FUNNEL_CROSSOVER_r12.json), the user-keyed baseline here
    is the native JVM ``session_window`` operator, whose serial per-key
    scan is an order of magnitude faster than this twin's Python fold —
    at a 2M-event hot key the native path still wins 13.5 s to 55 s
    (results hash-equal). Deploy this twin not for local wall-clock but
    when the native operator's PER-KEY STATE becomes the constraint
    (one user's open-session state exceeding the state store's
    comfort, or a single key's trigger wall breaking the latency SLA
    on a cluster where the day sub-keys would spread across
    executors); the skew90 tier measures this pair's walls each round
    alongside the funnel's."""
    name = run_replay(spark, SESSIONIZE_DAY_REPLAY, sf_dir)
    # final watermark = global max event time (zero-delay watermark)
    fwm_ms = load_table(spark, sf_dir, "events").agg(
        F.max(F.unix_millis("ts")).alias("m")
    ).first().m
    if fwm_ms is None:
        return spark.createDataFrame(
            [],
            "user_id long, session_start_ms long, session_end_ms "
            "long, n_events long, sum_v double",
        )
    # last emission per (user, day) = max n_total (monotone), then
    # explode the sub-session list into session-cardinality rows
    kw = W.partitionBy("user_id", "day")
    subs = (
        spark.table(name)
        .withColumn("_mx", F.max("n_total").over(kw))
        .where(F.col("n_total") == F.col("_mx"))
        .select(
            "user_id",
            F.explode(
                F.arrays_zip("starts", "lasts", "ns", "sums")
            ).alias("s"),
        )
        .select(
            "user_id",
            F.col("s.starts").alias("start_ms"),
            (F.col("s.lasts") + F.lit(SESSION_GAP_MS)).alias("end_ms"),
            F.col("s.ns").alias("n_events"),
            F.col("s.sums").alias("sum_raw"),
        )
    )
    # session-level islands stitch: one window pass over session rows
    uw = W.partitionBy("user_id").orderBy("start_ms")
    chained = (
        subs.withColumn("_prev_end", F.lag("end_ms").over(uw))
        .withColumn(
            "_new",
            (
                F.col("_prev_end").isNull()
                | (F.col("start_ms") > F.col("_prev_end"))
            ).cast("int"),
        )
        .withColumn(
            "_chain",
            F.sum("_new").over(
                uw.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )
    return (
        chained.groupBy("user_id", "_chain")
        .agg(
            F.min("start_ms").alias("session_start_ms"),
            F.max("end_ms").alias("session_end_ms"),
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_raw"), 6).alias("sum_v"),
        )
        .where(F.col("session_end_ms") <= F.lit(int(fwm_ms)))
        .select(
            "user_id", "session_start_ms", "session_end_ms",
            "n_events", "sum_v",
        )
        .orderBy("user_id", "session_start_ms")
    )


# ---------------------------------------------------------------------------
# Streaming sliding (hopping) windows: append-mode emission, oracle-checked
# ---------------------------------------------------------------------------

def _sliding_agg(stream: DataFrame) -> DataFrame:
    """10-minute windows every 5 minutes per type, zero-delay watermark."""
    return (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_v"),
        )
    )


SLIDING_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "ts", "value", "event_type"),
    _sliding_agg,
    "append",
    width=4,
)


def streaming_sliding_stats(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming sliding windows: 10-minute windows every
    5 minutes over a time-ordered replay (each event expands into two
    window states), APPEND mode with a zero-second watermark — windows
    emit when the watermark passes their end, so the emitted set is the
    batch ``sliding_window_stats`` restricted to windows ending at or
    before the final watermark (= global max event time). The oracle
    materializes the same two buckets per row with unnest and applies
    that end filter.

    Scale shape: per-trigger work is the map-side window expansion plus
    one keyed shuffle into window state; state holds only the ≤2
    still-open hops."""
    name = run_replay(spark, SLIDING_REPLAY, sf_dir)
    return (
        spark.table(name)
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "sum_v",
        )
        .orderBy("window_start", "event_type")
    )


STREAMING_SLIDING_STATS_ORACLE = """
WITH expanded AS (
  SELECT event_type, value, epoch_ms(ts) AS tms,
         CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) - off * 300
           AS window_start
  FROM events
  CROSS JOIN (SELECT unnest([0, 1]) AS off)
  WHERE epoch_ms(ts) >= (CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
                         - off * 300) * 1000
    AND epoch_ms(ts) < (CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
                        - off * 300 + 600) * 1000),
fwm AS (SELECT max(epoch_ms(ts)) AS m FROM events)
SELECT window_start, event_type,
       count(*) AS cnt, round(sum(value), 6) AS sum_v
FROM expanded CROSS JOIN fwm
WHERE (window_start + 600) * 1000 <= m
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# Streaming latest-state: the golden record maintained across triggers
# ---------------------------------------------------------------------------

LS_TYPES = ["click", "error", "purchase", "signup", "view"]
LS_OUTPUT_SCHEMA = (
    "user_id long, upd long, last_seen_ms long, "
    + ", ".join(f"last_{t} double" for t in LS_TYPES)
)
LS_STATE_SCHEMA = (
    "upd long, "
    + ", ".join(f"ms_{t} long, eid_{t} long, v_{t} double"
                for t in LS_TYPES)
)


def _update_latest_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Keep, per event type, the (ms, event_id)-max event's value."""
    if state.exists:
        vals = list(state.get)
    else:
        vals = [0] + [None] * (3 * len(LS_TYPES))
    upd = int(vals[0]) + 1
    cells = {
        t: (vals[1 + 3 * i], vals[2 + 3 * i], vals[3 + 3 * i])
        for i, t in enumerate(LS_TYPES)
    }
    rows = pd.concat(list(pdfs))
    # unit-safe epoch millis regardless of pandas datetime resolution
    ms = rows["ts"].astype("datetime64[ms]").astype("int64")
    for m, eid, et, v in zip(
        ms, rows["event_id"], rows["event_type"], rows["value"]
    ):
        cur = cells.get(et)
        if cur is None:
            continue
        if cur[0] is None or (int(m), int(eid)) > (int(cur[0]), int(cur[1])):
            cells[et] = (int(m), int(eid), float(v))
    flat = [upd]
    for t in LS_TYPES:
        flat.extend(cells[t])
    state.update(tuple(flat))
    out = {
        "user_id": [int(key[0])],
        "upd": [upd],
        "last_seen_ms": [
            max(c[0] for c in cells.values() if c[0] is not None)
        ],
    }
    for t in LS_TYPES:
        out[f"last_{t}"] = [
            None if cells[t][2] is None else round(cells[t][2], 6)
        ]
    yield pd.DataFrame(out)


LATEST_STATE_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "ts", "event_type", "value",
                   key_cols=("user_id",)),
    _fold(_update_latest_state, LS_OUTPUT_SCHEMA, LS_STATE_SCHEMA,
          "user_id"),
    "update",
    keys=("user_id",),
)


def streaming_latest_state(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming golden record: per-user latest value per
    event type maintained in ``applyInPandasWithState`` across a
    time-ordered replay — the continuously-current materialized state
    the batch ``latest_state_pivot`` computes in one pass, shared
    oracle proves batch == stream. State is 5 small cells per user."""
    name = run_replay(spark, LATEST_STATE_REPLAY, sf_dir)
    w_cols = [f"last_{t}" for t in LS_TYPES]
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("upd", "last_seen_ms", *w_cols)
            ).alias("f")
        )
    )
    return (
        final.select(
            "user_id",
            F.col("f.last_seen_ms").alias("last_seen_ms"),
            *[F.col(f"f.last_{t}").alias(f"last_{t}")
              for t in LS_TYPES],
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming top-k: complete-mode running ranking across triggers
# ---------------------------------------------------------------------------

TOPK_USERS_K = 20


def _purchase_counts(stream: DataFrame) -> DataFrame:
    """Running purchase count per user (complete mode)."""
    return (
        stream.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


TOPK_REPLAY = FileReplay(
    _events_source("user_id", "event_id", "ts", "event_type"),
    _purchase_counts,
    "complete",
    width=4,
)


def streaming_topk_users(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming top-k: the running "most active
    purchasers" leaderboard — per-user purchase counts maintained by a
    complete-mode streaming aggregation across a time-ordered replay,
    ranked after the final trigger. The complete-mode counts converge to
    the batch group-by exactly, so the oracle is the plain SQL top-k.

    Scale shape: streaming state is one counter per user (the only
    shuffle is user-keyed); the rank runs on the final counter table,
    which is node-cardinality. Ties break on user_id so the cut at k is
    deterministic in both engines."""
    name = run_replay(spark, TOPK_REPLAY, sf_dir)
    ranked = spark.table(name).select(
        "user_id", "n_purchases",
        F.row_number().over(
            W.orderBy(F.col("n_purchases").desc(), F.col("user_id"))
        ).alias("rnk"),
    )
    return (
        ranked.where(F.col("rnk") <= TOPK_USERS_K)
        .orderBy("rnk")
    )


STREAMING_TOPK_USERS_ORACLE = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
ranked AS (
  SELECT user_id, n_purchases,
         row_number() OVER (ORDER BY n_purchases DESC, user_id) AS rnk
  FROM counts)
SELECT user_id, n_purchases, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= {TOPK_USERS_K} ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# Streaming KMV distinct estimator: bounded-state cardinality per group
# ---------------------------------------------------------------------------

SKMV_K = 8
#: (k-1) * 2^60 as the nearest double — same one-divide estimator as
#: the batch sketches.kmv_shingle_estimate
_SKMV_NUM = repr(float((SKMV_K - 1) * (1 << 60)))

SKMV_OUTPUT_SCHEMA = "event_type string, n_seen long, h_k long"
SKMV_STATE_SCHEMA = "hs array<long>, n_seen long"


def _update_kmv(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this trigger's user-id hashes into the k-smallest-distinct
    set. Bottom-k over distinct hashes is a set order statistic —
    order-independent and duplicate-insensitive — so the state after
    the last trigger equals the batch sketch EXACTLY, with k longs of
    state per group forever. A hash above the current k-th smallest
    can never enter the bottom-k, so discarding it is lossless."""
    if state.exists:
        hs, n_seen = state.get
        cur = set(int(x) for x in hs)
    else:
        cur, n_seen = set(), 0
    for pdf in pdfs:
        n_seen += len(pdf)
        cur.update(int(x) for x in pdf["h"])
    kept = sorted(cur)[:SKMV_K]
    state.update((kept, int(n_seen)))
    h_k = int(kept[SKMV_K - 1]) if len(kept) >= SKMV_K else None
    yield pd.DataFrame(
        {
            "event_type": [str(key[0])],
            "n_seen": [int(n_seen)],
            "h_k": [h_k],
        }
    )


def _kmv_updates(stream: DataFrame) -> DataFrame:
    """User-id hashes computed JVM-side, then the per-type bottom-k fold."""
    hashed = stream.select(
        "event_type", md5h("cast(user_id as string)").alias("h")
    )
    return _fold(
        _update_kmv, SKMV_OUTPUT_SCHEMA, SKMV_STATE_SCHEMA, "event_type"
    )(hashed)


KMV_REPLAY = FileReplay(
    _events_source("event_type", "ts", "user_id"),
    _kmv_updates,
    "update",
    width=8,
    keys=("event_type",),
)


def streaming_kmv_distinct(spark, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED streaming distinct-user estimator: events replay
    as a time-ordered multi-trigger file stream; each type's state is
    the K smallest distinct 60-bit user-id hashes (the KMV bottom-k
    sketch, Bar-Yossef et al. 2002), and after the last trigger the
    k-th order statistic — hence the (k-1)/t_k estimate — equals the
    batch sketch bit for bit, because bottom-k over distinct hashes is
    a set function of the input. Live cardinality tracking with k longs
    of state per group and no history re-scan; the mergeable twin of
    ``sketches.kmv_shingle_estimate`` and the streaming answer to
    "how many distinct users has each type seen so far".

    Scale shape: hashes are computed JVM-side before Python sees rows;
    per-trigger work is one bounded-key shuffle into the stateful
    operator."""
    name = run_replay(spark, KMV_REPLAY, sf_dir)
    w = W.partitionBy("event_type")
    return (
        spark.table(name)
        .withColumn("_max_seen", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("_max_seen"))
        # a type with < K distinct users has no k-th order statistic;
        # the oracle's inner join on `kth` drops it, so we must too
        .where(F.col("h_k").isNotNull())
        .select(
            "event_type",
            "n_seen",
            "h_k",
            F.expr(
                f"cast(floor({_SKMV_NUM} / cast(h_k as double))"
                " as bigint)"
            ).alias("kmv_est"),
        )
        .orderBy("event_type")
    )


STREAMING_KMV_DISTINCT_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 15)) AS BIGINT)
           AS h
  FROM events),
kth AS (
  SELECT event_type, h AS h_k FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h) WHERE rn = {SKMV_K}),
n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_seen
  FROM events GROUP BY event_type)
SELECT n.event_type, n.n_seen, k.h_k,
       CAST(floor({_SKMV_NUM} / k.h_k::DOUBLE) AS BIGINT) AS kmv_est
FROM n JOIN kth k ON n.event_type = k.event_type
ORDER BY 1
"""


#: the memory-sink registry replays by registry name (streaming_upsert is
#: the foreachBatch MERGE loop above)
REPLAYS = {
    "streaming_stateful_totals": TOTALS_REPLAY,
    "streaming_funnel": FUNNEL_REPLAY,
    "streaming_heavy_hitters": HH_REPLAY,
    "streaming_ewma": EWMA_REPLAY,
    "streaming_group_sample": GROUP_SAMPLE_REPLAY,
    "streaming_late_data": LATE_DATA_REPLAY,
    "streaming_sessionize": SESSIONIZE_REPLAY,
    "streaming_sliding_stats": SLIDING_REPLAY,
    "streaming_latest_state": LATEST_STATE_REPLAY,
    "streaming_topk_users": TOPK_REPLAY,
    "streaming_kmv_distinct": KMV_REPLAY,
}
