"""Advanced relational operators: sessionization, as-of join, range join,
embedding-cosine near-dup, wire-format assembly.

These cover the "operators Spark lacks natively" tier (SURVEY.md §7.3 and
the pyspark guide's OLAP patterns): each is (a) a composition of built-in
DataFrame ops where semantics allow, with the scale rationale documented,
and each has a DuckDB oracle (ASOF JOIN, window islands) proving parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import build_once, load_table

SESSION_GAP = "30 minutes"
# Boundary convention (pinned by tests/test_session_boundary.py): Spark's
# session_window MERGES an event landing exactly gap after its
# predecessor (observed: two events 30 min apart -> one session), so the
# gap-islands oracles split only on diff > gap — strictly greater, never
# >=. Every session oracle in this repo (here, prep.py bounce_rate /
# session_depth_dist / session_cooccurrence_lift, streaming/stateful.py)
# follows this convention.
SESSION_GAP_MS = 30 * 60 * 1000
# testdata embeddings are near-orthogonal random vectors (max pairwise
# cosine ≈ 0.51); 0.4 selects the top ~0.05% most-similar pairs so the
# detector produces a non-vacuous result at every sf
COSINE_DUP_THRESHOLD = 0.4


# ---------------------------------------------------------------------------
# Sessionization: native session_window, oracled by SQL gap-islands
# ---------------------------------------------------------------------------

def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap using Spark's
    native ``session_window`` (usable in batch AND streaming — the same
    operator sessionizes the live pipeline). The oracle derives identical
    sessions via the classic lag/gap/cumsum islands SQL — proving the
    built-in operator's semantics against first principles."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_v"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
            "n_events", "sum_v",
        )
        .orderBy("user_id", "session_start_ms")
    )


SESSIONIZE_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, epoch_ms(ts) AS t, value,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_t
  FROM events),
marked AS (
  SELECT user_id, t, value,
         CASE WHEN prev_t IS NULL OR t - prev_t > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_session
  FROM ordered),
islands AS (
  SELECT user_id, t, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked)
SELECT user_id,
       min(t) AS session_start_ms,
       max(t) + {SESSION_GAP_MS} AS session_end_ms,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_v
FROM islands
GROUP BY user_id, session_no
ORDER BY user_id, session_start_ms
"""


# ---------------------------------------------------------------------------
# As-of join: latest prior click for each purchase (union-marker rebuild)
# ---------------------------------------------------------------------------

def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the same user's most recent click at or
    before it. Spark lacks a native ASOF join; the scalable rebuild is the
    union-marker trick: tag both sides, sort once per user, carry the last
    click forward with an ``ignoreNulls`` running ``last`` — ONE shuffle
    (by user), no range explosion, no per-group pandas. Oracle: DuckDB's
    native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.lit(0).alias("tag"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("tag"),
    )
    union = (
        clicks.withColumn("purchase_id", F.lit(None).cast("long"))
        .unionByName(
            purchases.withColumn("click_id", F.lit(None).cast("long"))
            .select("user_id", "ts", "click_id", "tag", "purchase_id")
        )
    )
    # clicks sort before purchases at equal ts (tag 0 < 1) → inclusive "≤"
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = union.select(
        "user_id", "ts", "purchase_id",
        F.last("click_id", ignorenulls=True).over(w).alias("matched_click_id"),
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w).alias("click_ts"),
    )
    return (
        carried.where(F.col("purchase_id").isNotNull()
                      & F.col("matched_click_id").isNotNull())
        .select(
            "purchase_id", "user_id",
            F.unix_millis("ts").alias("purchase_ms"),
            "matched_click_id",
            (F.unix_millis("ts") - F.unix_millis("click_ts")).alias("gap_ms"),
        )
        .orderBy("purchase_id")
    )


ASOF_JOIN_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events
  WHERE event_type = 'click'),
purchases AS (
  SELECT user_id, ts, event_id AS purchase_id FROM events
  WHERE event_type = 'purchase')
SELECT p.purchase_id, p.user_id,
       epoch_ms(p.ts) AS purchase_ms,
       c.click_id AS matched_click_id,
       epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
FROM purchases p
ASOF JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY purchase_id
"""


# ---------------------------------------------------------------------------
# Range join: non-uniform value bands via broadcast inequality join
# ---------------------------------------------------------------------------

BANDS = [(0.0, 10.0, "micro"), (10.0, 50.0, "small"),
         (50.0, 100.0, "medium"), (100.0, 1e9, "large")]


def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join every event to its (non-uniform) value band. The band table is
    tiny → broadcast inequality join (BroadcastNestedLoopJoin): each
    executor scans its events once against the in-memory band list. For a
    LARGE range side the plan would switch to bucketize-then-equijoin; the
    broadcast form is the right call here and the plan test pins it."""
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(BANDS, "lo double, hi double, band string")
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_v"),
        )
        .orderBy("band")
    )


RANGE_JOIN_BANDS_ORACLE = """
WITH bands(lo, hi, band) AS (
  VALUES (0.0, 10.0, 'micro'), (10.0, 50.0, 'small'),
         (50.0, 100.0, 'medium'), (100.0, 1000000000.0, 'large'))
SELECT band, count(*) AS n_events, round(avg(value), 6) AS avg_v
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band ORDER BY band
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (exact, oracle-checked)
# ---------------------------------------------------------------------------

EMB_BLOCK = 1024  # vectors per block in the blocked all-pairs multiply


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine ≥ threshold — the embedding-space
    near-dup detector, as a BLOCKED matrix multiply: vectors are grouped
    into ``EMB_BLOCK``-row blocks, the upper-triangular block pairs are
    cross-joined (each block ~0.5 MB through Arrow), and every block
    pair runs one vectorized numpy matmul in ``mapInPandas``. Exact —
    all O(n²) dot products happen, but as BLAS blocks instead of an
    interpreted per-pair lambda (67 s → ~2 s at sf0.1), with no driver
    collect and no row-level n² shuffle. The documented 100 TB path for
    near-dup detection is still ``similarity.ann_lsh_topk``'s
    hyperplane bucketing; this is the exact verifier/ground-truth."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("vec_id") / EMB_BLOCK).cast("long").alias("blk"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    blocks = emb.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("rows")
    )
    ba = blocks.select(F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a"))
    bb = blocks.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b"))
    pairs_of_blocks = ba.join(bb, F.col("blk_a") <= F.col("blk_b"))

    thr = COSINE_DUP_THRESHOLD

    def block_matmul(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for rows_a, rows_b in zip(pdf["rows_a"], pdf["rows_b"]):
                ids_a = np.array([r["vec_id"] for r in rows_a])
                ids_b = np.array([r["vec_id"] for r in rows_b])
                ma = np.array([r["v"] for r in rows_a], dtype=np.float64)
                mb = np.array([r["v"] for r in rows_b], dtype=np.float64)
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                sims = np.round(ma @ mb.T, 6)
                ia, ib = np.nonzero(
                    (sims >= thr) & (ids_a[:, None] < ids_b[None, :])
                )
                out_a.extend(ids_a[ia])
                out_b.extend(ids_b[ib])
                out_c.extend(sims[ia, ib])
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "cosine": out_c}
            )

    return (
        pairs_of_blocks.mapInPandas(
            block_matmul, schema="id_a long, id_b long, cosine double"
        )
        .orderBy("id_a", "id_b")
    )


DEDUP_EMBEDDING_PAIRS_ORACLE = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> x /
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS u
  FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.u, b.u), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.u, b.u), 6) >= {COSINE_DUP_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Wire-format batch assembly (P10/S5): the generator's socket payload
# ---------------------------------------------------------------------------

def wire_format_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild of the TCP write payload ``ints.mkString("", "\\n", "\\n")``
    (testbed DataGeneratorActor.scala:209): per second, the ordered values
    joined by newlines. Values sorted for determinism."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy((F.floor(F.unix_millis("ts") / 1000) * 1000).alias("second_ms"))
        .agg(
            F.concat(
                F.array_join(
                    F.sort_array(F.collect_list(F.floor("value").cast("int"))),
                    "\n",
                ),
                F.lit("\n"),
            ).alias("payload"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .orderBy("second_ms")
    )


# coalesce: a second whose every value is NULL (malformed feed) has an
# empty int list, and the reference's mkString("", "\n", "\n") over an
# empty list emits just the trailing "\n" — which is what Spark's
# null-skipping collect_list + concat produces; string_agg over all
# NULLs is NULL and must coalesce to '' to match (r9 nulls sweep)
WIRE_FORMAT_BATCHES_ORACLE = """
SELECT (epoch_ms(ts) // 1000) * 1000 AS second_ms,
       coalesce(string_agg(CAST(CAST(floor(value) AS INT) AS VARCHAR),
                           chr(10)
                           ORDER BY CAST(floor(value) AS INT)), '')
         || chr(10) AS payload,
       count(*) AS n_values
FROM events
GROUP BY 1 ORDER BY 1
"""


ADVANCED_QUERIES = {
    "sessionize": sessionize,
    "asof_join": asof_join,
    "range_join_bands": range_join_bands,
    "dedup_embedding_pairs": dedup_embedding_pairs,
    "wire_format_batches": wire_format_batches,
}

ADVANCED_ORACLES = {
    "sessionize": SESSIONIZE_ORACLE,
    "asof_join": ASOF_JOIN_ORACLE,
    "range_join_bands": RANGE_JOIN_BANDS_ORACLE,
    "dedup_embedding_pairs": DEDUP_EMBEDDING_PAIRS_ORACLE,
    "wire_format_batches": WIRE_FORMAT_BATCHES_ORACLE,
}


# ---------------------------------------------------------------------------
# Conversion funnel and cohort retention (events analytics)
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_stage_counts(events: DataFrame,
                        within_hours: int | None = None) -> DataFrame:
    """``(stage, users, top_users)`` per stage of ``FUNNEL_STAGES`` over
    ``(user_id, event_type, ts)`` rows: stage k's anchor is each user's
    first stage-k event after their stage-(k-1) anchor (and, with
    ``within_hours``, at most that many hours after it); ``users``
    counts a stage's anchors and ``top_users`` the first stage's.

    Stage k's anchors are read twice (the stage-k count and the
    stage-k+1 join), so the plan re-derives earlier stages: 7 scans of
    the event log for 3 stages. Even so the anchors are not built once:
    each stage is one user-keyed aggregate over a filtered scan, and
    interleaved A/B runs measured the per-stage checkpoint jobs slower
    than the re-scans at sf0.1 and on its 10x tier."""
    anchors = None
    stage_counts = []
    for stage in FUNNEL_STAGES:
        hits = events.where(F.col("event_type") == stage)
        if anchors is not None:
            after = F.col("ts") > F.col("anchor_ts")
            if within_hours is not None:
                after = after & (F.col("ts") <= F.col("anchor_ts") + F.expr(
                    f"INTERVAL {within_hours} HOURS"))
            hits = hits.join(anchors, "user_id").where(after)
        anchors = hits.groupBy("user_id").agg(F.min("ts").alias("anchor_ts"))
        stage_counts.append(anchors.agg(
            F.count(F.lit(1)).alias("users")
        ).select(F.lit(stage).alias("stage"), "users"))
    funnel = stage_counts[0]
    for df in stage_counts[1:]:
        funnel = funnel.unionByName(df)
    top = funnel.where(F.col("stage") == FUNNEL_STAGES[0]).select(
        F.col("users").alias("top_users")
    )
    return funnel.crossJoin(F.broadcast(top))


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events table: users whose first
    ``view`` precedes a ``click`` that precedes a ``purchase``. Stage k
    counts users with a strictly time-ordered chain through the first k
    event types (first view, then first click after it, then first
    purchase after that click) — the classic min-timestamp chaining
    semantics of product funnels.

    Scale shape: one conditional aggregate per stage, each keyed on
    user_id and joined co-partitioned to the previous stage's anchor
    timestamp; the per-stage right side only shrinks. No per-user event
    lists are ever materialized (collect_list funnels die on power
    users), and no window over the raw event stream.

    The chain is ``funnel_stage_counts``."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return (
        funnel_stage_counts(events)
        .select(
            "stage", "users",
            # try_divide: 0 entrants on a degenerate feed must yield
            # NULL (the oracle's x/0), not an ANSI error (r9 sweep)
            F.round(F.try_divide("users", "top_users"), 6)
            .alias("pct_of_top"),
        )
        .orderBy(F.col("users").desc(), "stage")
    )


EVENT_FUNNEL_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
counts AS (
  SELECT 'view' AS stage, count(*) AS users FROM v
  UNION ALL SELECT 'click', count(*) FROM c
  UNION ALL SELECT 'purchase', count(*) FROM p)
SELECT stage, users,
       round(users * 1.0 / (SELECT users FROM counts WHERE stage = 'view'),
             6) AS pct_of_top
FROM counts ORDER BY users DESC, stage
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen date, counted
    per whole week of age since that date — the curation-adjacent view of
    whether an event stream's population persists or churns.

    Scale shape: first-seen is one min-aggregate keyed on user_id; the
    matrix is one distinct-count keyed on (cohort_date, age_week) after a
    co-partitioned join back on user_id. Both shuffles carry only keys
    and dates."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first_seen = events.groupBy("user_id").agg(
        F.min("d").alias("cohort_date")
    )
    return (
        events.join(first_seen, "user_id")
        .select(
            "user_id", "cohort_date",
            F.floor(F.datediff("d", "cohort_date") / 7).alias("age_week"),
        )
        .groupBy("cohort_date", "age_week")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_date", "age_week")
    )


RETENTION_COHORTS_ORACLE = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
fs AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY user_id)
SELECT fs.cohort_date,
       CAST(floor(date_diff('day', fs.cohort_date, ev.d) / 7.0) AS BIGINT)
         AS age_week,
       count(DISTINCT ev.user_id) AS active_users
FROM ev JOIN fs ON ev.user_id = fs.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""

ADVANCED_QUERIES["event_funnel"] = event_funnel
ADVANCED_ORACLES["event_funnel"] = EVENT_FUNNEL_ORACLE
ADVANCED_QUERIES["retention_cohorts"] = retention_cohorts
ADVANCED_ORACLES["retention_cohorts"] = RETENTION_COHORTS_ORACLE


def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: mean / population-stddev / max
    gap between consecutive events in seconds — the burstiness profile
    behind bot detection and traffic modeling. One window (partitioned by
    user_id, ordered by ts with event_id tiebreak) computes the lag gaps
    and one hash aggregate summarizes them; both stages shuffle on
    user_id only, so the plan reuses a single exchange.

    EXACT-INTEGER derivation (r10): ``avg(double)``/``stddev_pop(double)``
    sum in partial-aggregation order, so the last ulp of the result is
    partition- AND engine-dependent; at sf0.1 one user's mean landed
    within an ulp of a 6-dp rounding boundary and flipped the final
    digit between Spark and DuckDB (the sf0.1 skew tier caught it —
    both its runs, pristine included). Both engines now aggregate the
    integer-millis gaps exactly (bigint sum + decimal/hugeint sum of
    squares), then derive mean/stddev in integer MICROSECONDS with one
    identically-ordered IEEE op sequence (div, sqrt, mul, div, floor are
    all correctly rounded, so identical integer inputs give bit-identical
    outputs) — no float accumulation order anywhere."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
    agg = (
        events.withColumn("gap_ms", gap_ms)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("gap_ms").alias("_n"),
            F.sum("gap_ms").alias("_s1"),
            F.expr(
                "sum(cast(gap_ms as decimal(19,0))"
                " * cast(gap_ms as decimal(19,0)))"
            ).alias("_s2"),
            F.max("gap_ms").alias("_mx"),
        )
    )
    has = F.col("_n") > 0
    mean_us = F.expr("_s1 * 1000 div _n")
    # HEADROOM GUARD (ADVICE r10): the discriminant multiplies
    # decimal(38,0) operands; Spark caps the result at decimal(38,0)
    # (silent NULL, or an ANSI error) while DuckDB's HUGEINT caps at
    # ~1.7e38 — a latent cross-engine divergence near 1e38. Both
    # engines therefore pre-check n*s2 < 1e38 on a double estimate and
    # raise the SAME message beyond it: an overflow fails loudly and
    # identically instead of silently nulling one engine. Bound math:
    # n*s2 <= (n * max_gap_ms)^2, so the guard trips only past
    # ~3e7 events per user with decade-long gaps (n * max_gap >= 1e19)
    # — unreachable at gate SFs, astronomically past any real stream.
    # Known sub-window (ADVICE r11): for s2 itself in [1e38, 1.7e38)
    # Spark's decimal(38,0) SUM overflows DURING aggregation and raises
    # DECIMAL_OVERFLOW before this guard evaluates, while DuckDB's
    # HUGEINT sum still holds and raises the guard message — both fail
    # loudly, but with different messages in that regime. Since s2 >=
    # 1e38 already requires n * max_gap_ms >= 1e19 (the astronomical
    # bound above), the same-message contract is scoped to the
    # reachable domain; the sub-window is documented, not defended.
    guard_msg = (
        "interarrival_stats: discriminant headroom exceeded (n*s2 >= 1e38)"
    )
    disc = F.when(
        F.col("_n").cast("double") * F.col("_s2").cast("double")
        >= F.lit(1e38),
        F.raise_error(F.lit(guard_msg)).cast("decimal(38,0)"),
    ).otherwise(
        F.expr(
            "cast(_n as decimal(19,0)) * _s2"
            " - cast(_s1 as decimal(19,0)) * cast(_s1 as decimal(19,0))"
        )
    )
    std_us = F.floor(
        F.sqrt(disc.cast("double")) * F.lit(1000.0) / F.col("_n")
    )
    return (
        agg.select(
            "user_id",
            "n_events",
            F.when(has, mean_us / F.lit(1e6)).alias("mean_gap_s"),
            F.when(has, std_us / F.lit(1e6)).alias("stddev_gap_s"),
            F.when(has, F.col("_mx") / F.lit(1000.0)).alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


INTERARRIVAL_STATS_ORACLE = """
WITH g AS (
  SELECT user_id,
         (epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
  FROM events),
a AS (
  SELECT user_id, count(*) AS n_events, count(gap_ms) AS n,
         sum(gap_ms) AS s1,
         sum(gap_ms::HUGEINT * gap_ms::HUGEINT) AS s2,
         max(gap_ms) AS mx
  FROM g GROUP BY user_id)
SELECT user_id, n_events,
       CASE WHEN n > 0 THEN (s1 * 1000 // n) / 1e6 END AS mean_gap_s,
       CASE WHEN n > 0 THEN
         CASE WHEN n::DOUBLE * s2::DOUBLE >= 1e38
              THEN CAST(error('interarrival_stats: discriminant headroom'
                              ' exceeded (n*s2 >= 1e38)') AS DOUBLE)
              ELSE floor(
                sqrt(CAST(n::HUGEINT * s2 - s1::HUGEINT * s1::HUGEINT
                          AS DOUBLE))
                * 1000.0 / n) / 1e6 END
       END AS stddev_gap_s,
       CASE WHEN n > 0 THEN mx / 1000.0 END AS max_gap_s
FROM a ORDER BY user_id
"""

ADVANCED_QUERIES["interarrival_stats"] = interarrival_stats
ADVANCED_ORACLES["interarrival_stats"] = INTERARRIVAL_STATS_ORACLE


def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: among users who complete the full
    view→click→purchase chain (the ``event_funnel`` semantics), the
    min/median/p90/max seconds from first view to the converting
    purchase — the metric product teams read next to the funnel counts.

    Scale shape: reuses the funnel's per-stage min-ts chaining (user-
    keyed aggregates and co-partitioned joins), then one global
    percentile aggregate over the converter set — converters are a
    filtered per-user table, orders of magnitude smaller than events."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = events.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        events.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.first("t_view").alias("t_view"))
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"),
             F.first("t_view").alias("t_view"))
    )
    lag = (F.unix_millis("t_purchase") - F.unix_millis("t_view")) / 1000.0
    return p.select(lag.alias("lag_s")).agg(
        F.count(F.lit(1)).alias("converters"),
        F.round(F.min("lag_s"), 3).alias("min_s"),
        F.round(F.expr("percentile(lag_s, 0.5)"), 3).alias("median_s"),
        F.round(F.expr("percentile(lag_s, 0.9)"), 3).alias("p90_s"),
        F.round(F.max("lag_s"), 3).alias("max_s"),
    )


CONVERSION_LAG_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click, any_value(v.t_view) AS t_view
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase, any_value(c.t_view) AS t_view
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
lags AS (SELECT (epoch_ms(t_purchase) - epoch_ms(t_view)) / 1000.0 AS lag_s
         FROM p)
SELECT count(*) AS converters,
       round(min(lag_s), 3) AS min_s,
       round(quantile_cont(lag_s, 0.5), 3) AS median_s,
       round(quantile_cont(lag_s, 0.9), 3) AS p90_s,
       round(max(lag_s), 3) AS max_s
FROM lags
"""

ADVANCED_QUERIES["conversion_lag"] = conversion_lag
ADVANCED_ORACLES["conversion_lag"] = CONVERSION_LAG_ORACLE


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for every
    (previous event_type -> next event_type) pair observed within a
    user's time-ordered stream, the transition count and the row-
    normalized probability — the behavioral model behind next-action
    prediction and bot detection.

    Scale shape: one lag window partitioned BY USER (thousands of small
    partitions, never a global sort), then a 25-row aggregate; the
    probability normalization is a window over the tiny transition
    matrix itself. Deterministic: (ts, event_id) orders every stream.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wp = W.partitionBy("prev_type")
    return (
        pairs.withColumn(
            "p",
            F.round(F.col("cnt") / F.sum("cnt").over(wp), 6),
        )
        .select("prev_type", "next_type", "cnt", "p")
        .orderBy("prev_type", "next_type")
    )


MARKOV_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, next_type, count(*) AS cnt
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, cnt,
       round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY prev_type), 6) AS p
FROM pairs ORDER BY prev_type, next_type
"""

ADVANCED_QUERIES["markov_transitions"] = markov_transitions
ADVANCED_ORACLES["markov_transitions"] = MARKOV_TRANSITIONS_ORACLE


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection over the per-minute event rate
# ---------------------------------------------------------------------------

ANOMALY_LOOKBACK = 10   # trailing minutes in the baseline window
ANOMALY_Z = 2.0         # |z| flag threshold


def rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detector: the per-minute event count compared to a
    trailing ``ANOMALY_LOOKBACK``-minute baseline (mean/stddev over the
    PRECEDING minutes only — the current minute never contaminates its
    own baseline), flagging minutes whose z-score exceeds ``ANOMALY_Z``.
    The monitoring query every ingest pipeline runs on itself.

    Scale shape: the raw stream collapses to one row per minute FIRST
    (hash aggregate, linear), so the window runs over the tiny minute
    series — a year is ~526k rows regardless of data volume. Minutes
    with no events are absent (rate 0 needs a calendar spine — out of
    scope, documented). Windows need >= 2 baseline minutes for a
    defined stddev; earlier minutes report NULL z and never flag.
    """
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        (
            F.floor(F.unix_millis("ts") / F.lit(60_000)) * 60_000
        ).alias("minute_ms")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        W.orderBy("minute_ms")
        .rowsBetween(-ANOMALY_LOOKBACK, -1)
    )
    base_mean = F.avg("cnt").over(w)
    base_std = F.stddev_samp("cnt").over(w)
    z = F.when(
        base_std > 0, (F.col("cnt") - base_mean) / base_std
    )
    return (
        per_min.select(
            "minute_ms",
            "cnt",
            F.round(z, 6).alias("z"),
            F.coalesce(F.abs(z) > ANOMALY_Z, F.lit(False)).alias(
                "anomaly"
            ),
        )
        .orderBy("minute_ms")
    )


ROLLING_ANOMALY_ORACLE = f"""
WITH per_min AS (
  SELECT CAST(floor(epoch_ms(ts) / 60000) AS BIGINT) * 60000 AS minute_ms,
         count(*) AS cnt
  FROM events GROUP BY 1),
scored AS (
  SELECT minute_ms, cnt,
         avg(cnt) OVER w AS m,
         stddev_samp(cnt) OVER w AS s
  FROM per_min
  WINDOW w AS (ORDER BY minute_ms
               ROWS BETWEEN {ANOMALY_LOOKBACK} PRECEDING AND 1 PRECEDING))
SELECT minute_ms, cnt,
       round(CASE WHEN s > 0 THEN (cnt - m) / s END, 6) AS z,
       coalesce(CASE WHEN s > 0 THEN abs((cnt - m) / s) > {ANOMALY_Z} END,
                false) AS anomaly
FROM scored ORDER BY minute_ms
"""

ADVANCED_QUERIES["rolling_anomaly"] = rolling_anomaly
ADVANCED_ORACLES["rolling_anomaly"] = ROLLING_ANOMALY_ORACLE


# ---------------------------------------------------------------------------
# Group-wise OLS trend regression (value vs time, per event_type)
# ---------------------------------------------------------------------------

def groupwise_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time: slope (per day),
    intercept, and r² — the drift detector behind metric-regression
    alerts, computed from closed-form sufficient statistics.

    Scale shape: ONE aggregation pass computes the five sufficient sums
    (n, Σx, Σy, Σxy, Σx²(+Σy² for r²)) per group — the textbook
    map-side-combinable regression; no window, no second scan, no
    Python. The time axis is recentred per group (x = days since the
    group's first event, via min(ts) computed in the SAME aggregate
    with Spark's two-arg min_by-free form x - min(x) applied after) so
    Σx² stays ~10³ instead of ~10¹⁸ — double-precision-safe, which is
    what keeps the two engines bit-comparable at 6 dp.
    """
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        "event_type",
        (F.unix_millis("ts") / F.lit(86_400_000.0)).alias("x_abs"),
        F.col("value").alias("y"),
    )
    mins = raw.groupBy("event_type").agg(F.min("x_abs").alias("x0"))
    xy = raw.join(F.broadcast(mins), "event_type").select(
        "event_type", (F.col("x_abs") - F.col("x0")).alias("x"), "y"
    )
    agg = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    det = agg.withColumn(
        "dxx", F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).withColumn(
        "dxy", F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).withColumn(
        "dyy", F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    # try_divide: a single-point or constant-x group has dxx = 0 and
    # its slope/r² are undefined — NULL (the oracle's x/0), not an
    # ANSI error (degenerate-input sweep, round 9); n is always > 0
    slope = F.try_divide("dxy", "dxx")
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = F.try_divide(
        F.col("dxy") * F.col("dxy"), F.col("dxx") * F.col("dyy")
    )
    return (
        det.select(
            "event_type",
            "n",
            F.round(slope, 6).alias("slope_per_day"),
            F.round(intercept, 6).alias("intercept"),
            F.round(r2, 6).alias("r2"),
        )
        .orderBy("event_type")
    )


GROUPWISE_REGRESSION_ORACLE = """
WITH xy AS (
  SELECT event_type,
         epoch_ms(ts) / 86400000.0
           - min(epoch_ms(ts) / 86400000.0) OVER (PARTITION BY event_type)
           AS x,
         value AS y
  FROM events),
s AS (
  SELECT event_type, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM xy GROUP BY event_type),
d AS (
  SELECT *, n * sxx - sx * sx AS dxx, n * sxy - sx * sy AS dxy,
         n * syy - sy * sy AS dyy
  FROM s)
SELECT event_type, n,
       round(dxy / dxx, 6) AS slope_per_day,
       round((sy - (dxy / dxx) * sx) / n, 6) AS intercept,
       round((dxy * dxy) / (dxx * dyy), 6) AS r2
FROM d ORDER BY event_type
"""

ADVANCED_QUERIES["groupwise_regression"] = groupwise_regression
ADVANCED_ORACLES["groupwise_regression"] = GROUPWISE_REGRESSION_ORACLE


# ---------------------------------------------------------------------------
# PageRank over the user co-activity graph (fixed-iteration power method)
# ---------------------------------------------------------------------------

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 5


def _coactivity_edges(ev: DataFrame) -> DataFrame:
    """Directed edge (u, v) whenever two distinct users acted in the
    same (event_type, minute) cell — both directions, distinct.

    Built once (r12): every graph query reads the edge list several
    times (degrees, both sides of a wedge join, every iteration of a
    loop), and each read would otherwise re-run the cells self-join
    from the scan."""
    cells = ev.select(
        "event_type",
        F.floor(F.unix_millis("ts") / F.lit(60_000)).alias("minute"),
        "user_id",
    ).distinct()
    a = cells.alias("a")
    b = cells.alias("b")
    return build_once(
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.minute") == F.col("b.minute"))
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("src"),
            F.col("b.user_id").alias("dst"),
        )
        .distinct()
    )


def pagerank_coactivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank of the user co-activity graph (users linked when they
    acted in the same event_type within the same minute), after
    ``PAGERANK_ITERS`` fixed power iterations at damping 0.85 — the
    influence/centrality score behind account-importance ranking and
    coordinated-behavior detection.

    Scale shape: the per-iteration step is ONE join of the rank vector
    (node-keyed) with the edge list on src plus ONE aggregation on dst —
    the standard distributed power iteration; rank and degree vectors
    are node-cardinality (tiny next to edges). The edge list and node
    vector are built ONCE before the loop (r12): without
    it, every iteration's lineage re-derives the co-activity self-join
    from the scan — the round-start plan held 22 parquet scans and 49
    exchanges for 5 iterations, and exchange reuse does not collapse
    them because each iteration partitions the subtree differently.
    Measured at sf0.1 (noop, interleaved min-of-4): 2.85 -> 1.91 s with
    identical rows; at scale this is the difference between scanning
    the event log once and scanning it per iteration — the same
    build-once shape dedup_clusters uses. The graph is symmetric by
    construction so there are no dangling nodes and the degree join is
    exact. Deterministic: fixed iterations, fixed init 1/N, rounding
    only at output. The oracle unrolls the same five iterations as
    chained SQL CTEs.
    """
    ev = load_table(spark, sf_dir, "events")
    edges = _coactivity_edges(ev)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = build_once(deg.select(F.col("src").alias("node"), "deg"))
    n_nodes = nodes.count()
    if n_nodes == 0:
        # degenerate corpus (no two users share a cell): empty ranking,
        # same as the oracle's empty deg relation
        return spark.createDataFrame(
            [], "node bigint, rank double"
        )
    ranks = nodes.select(
        "node", F.lit(1.0 / n_nodes).alias("r"), "deg"
    )
    teleport = (1.0 - PAGERANK_DAMPING) / n_nodes
    for _ in range(PAGERANK_ITERS):
        contribs = (
            ranks.join(edges, ranks.node == edges.src)
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("inflow"))
        )
        ranks = (
            nodes.join(
                contribs, nodes.node == contribs.dst, "left"
            )
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(PAGERANK_DAMPING)
                    * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("r"),
                "deg",
            )
        )
    return (
        ranks.select("node", F.round("r", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
    )


def _pagerank_oracle_sql() -> str:
    head = f"""
WITH cells AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch_ms(ts) / 60000) AS BIGINT) AS minute,
         user_id
  FROM events),
edges AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM cells a JOIN cells b
    ON a.event_type = b.event_type AND a.minute = b.minute
   AND a.user_id <> b.user_id),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
pr0 AS (SELECT src AS node, deg, CAST(1.0 AS DOUBLE) / n AS r
        FROM deg, nn)"""
    steps = []
    for i in range(1, PAGERANK_ITERS + 1):
        steps.append(
            f"""
pr{i} AS (
  SELECT d.src AS node, d.deg,
         CAST({1.0 - PAGERANK_DAMPING} AS DOUBLE) / nn.n
           + CAST({PAGERANK_DAMPING} AS DOUBLE)
             * coalesce(inflow.s, CAST(0 AS DOUBLE)) AS r
  FROM deg d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, sum(p.r / p.deg) AS s
    FROM pr{i - 1} p JOIN edges e ON p.node = e.src
    GROUP BY e.dst) inflow
  ON d.src = inflow.dst)"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
SELECT node, round(r, 6) AS rank
FROM pr{PAGERANK_ITERS}
ORDER BY rank DESC, node"""
    )


PAGERANK_COACTIVITY_ORACLE = _pagerank_oracle_sql()

ADVANCED_QUERIES["pagerank_coactivity"] = pagerank_coactivity
ADVANCED_ORACLES["pagerank_coactivity"] = PAGERANK_COACTIVITY_ORACLE


# ---------------------------------------------------------------------------
# Session path mining: top opening event sequences per session
# ---------------------------------------------------------------------------

PATH_LEN = 3


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common session-opening paths: the first ``PATH_LEN`` event
    types of every 30-minute-gap session, concatenated 'a>b>c', with
    session counts — the entry-flow report behind onboarding and
    navigation analysis.

    Scale shape: sessions are derived with the lag/gap/cumsum islands
    pattern in ONE user-partitioned window pass (the same exchange
    serves lag and the running session counter), then
    ``array_sort(collect_list(struct))`` assembles each session's
    ordered head row-locally — struct sort order (ts, event_id) makes
    the assembly deterministic without a second sort exchange. The
    final aggregate is path-cardinality (bounded by |event_type|^3).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        "user_id", "ts", "event_id", "event_type",
        (
            F.coalesce(
                F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)),
                F.lit(0),
            )
            > SESSION_GAP_MS
        ).cast("long").alias("new_session"),
    )
    sessions = gapped.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    paths = (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        1,
                        PATH_LEN,
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
    )


SESSION_PATHS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              > {SESSION_GAP_MS} THEN 1 ELSE 0 END AS new_session
  FROM events),
marked AS (
  SELECT *, sum(new_session) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM ordered),
paths AS (
  SELECT user_id, session_no,
         array_to_string(
           list_slice(array_agg(event_type ORDER BY ts, event_id),
                      1, {PATH_LEN}), '>') AS path
  FROM marked GROUP BY user_id, session_no)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
"""

ADVANCED_QUERIES["session_paths"] = session_paths
ADVANCED_ORACLES["session_paths"] = SESSION_PATHS_ORACLE


# ---------------------------------------------------------------------------
# RFM feature engineering (recency / frequency / monetary + quintiles)
# ---------------------------------------------------------------------------

def rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM features — days since last event (vs the corpus
    watermark), event count, total value — plus 1..5 quintile scores
    per dimension: the classic segmentation feature block every
    engagement model starts from.

    Scale shape: one user-keyed aggregate builds the three metrics; the
    corpus watermark is a broadcast one-row cross join (never a window
    over the fact table); quintiles are ntile windows over the
    USER-cardinality frame, which is already the small end of the
    funnel. Deterministic: user_id tiebreaks every ntile ordering.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_millis("ts")).alias("last_ms"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("value"), 6).alias("monetary"),
    )
    watermark = per_user.agg(
        F.max("last_ms").alias("wm_ms")
    )
    feats = per_user.crossJoin(F.broadcast(watermark)).select(
        "user_id",
        F.floor(
            (F.col("wm_ms") - F.col("last_ms")) / F.lit(86_400_000)
        ).alias("recency_days"),
        "frequency",
        "monetary",
    )
    return (
        feats.select(
            "user_id", "recency_days", "frequency", "monetary",
            F.ntile(5).over(
                W.orderBy("recency_days", "user_id")
            ).alias("r_score"),
            F.ntile(5).over(
                W.orderBy(F.col("frequency").desc(), "user_id")
            ).alias("f_score"),
            F.ntile(5).over(
                W.orderBy(F.col("monetary").desc(), "user_id")
            ).alias("m_score"),
        )
        .orderBy("user_id")
    )


RFM_FEATURES_ORACLE = """
WITH per_user AS (
  SELECT user_id, max(epoch_ms(ts)) AS last_ms,
         count(*) AS frequency, round(sum(value), 6) AS monetary
  FROM events GROUP BY user_id),
wm AS (SELECT max(last_ms) AS wm_ms FROM per_user),
feats AS (
  SELECT user_id,
         CAST(floor((wm_ms - last_ms) / 86400000.0) AS BIGINT)
           AS recency_days,
         frequency, monetary
  FROM per_user, wm)
SELECT user_id, recency_days, frequency, monetary,
       ntile(5) OVER (ORDER BY recency_days, user_id) AS r_score,
       ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
       ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
FROM feats ORDER BY user_id
"""

ADVANCED_QUERIES["rfm_features"] = rfm_features
ADVANCED_ORACLES["rfm_features"] = RFM_FEATURES_ORACLE


# ---------------------------------------------------------------------------
# Gap-filled per-minute rate timeline (calendar spine left join)
# ---------------------------------------------------------------------------

def rate_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-minute event rate over a COMPLETE minute spine from the
    corpus's first to last minute — silent minutes appear as explicit
    zeros. The companion to ``rolling_anomaly`` (which documents that
    absent minutes are out of its scope): outage detection needs the
    zeros, not just the busy minutes.

    Scale shape: the spine is generated from a ONE-ROW min/max
    aggregate (sequence + explode — one row per minute of wall-clock
    history, independent of data volume: a year is 526k rows), then a
    single left join against the per-minute counts. Both sides are
    minute-cardinality; the fact table is touched once.
    """
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        F.floor(F.unix_millis("ts") / F.lit(60_000)).alias("m")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    spine = (
        per_min.agg(
            F.min("m").alias("m0"), F.max("m").alias("m1")
        )
        .select(
            F.explode(F.sequence("m0", "m1")).alias("m")
        )
    )
    return (
        spine.join(per_min, "m", "left")
        .select(
            (F.col("m") * 60_000).alias("minute_ms"),
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
        .orderBy("minute_ms")
    )


RATE_TIMELINE_ORACLE = """
WITH per_min AS (
  SELECT CAST(floor(epoch_ms(ts) / 60000) AS BIGINT) AS m,
         count(*) AS cnt
  FROM events GROUP BY 1),
bounds AS (SELECT min(m) AS m0, max(m) AS m1 FROM per_min),
spine AS (SELECT unnest(range(m0, m1 + 1)) AS m FROM bounds)
SELECT spine.m * 60000 AS minute_ms, coalesce(per_min.cnt, 0) AS cnt
FROM spine LEFT JOIN per_min ON spine.m = per_min.m
ORDER BY minute_ms
"""

ADVANCED_QUERIES["rate_timeline"] = rate_timeline
ADVANCED_ORACLES["rate_timeline"] = RATE_TIMELINE_ORACLE


# ---------------------------------------------------------------------------
# Triangle counting / global clustering coefficient on the co-activity graph
# ---------------------------------------------------------------------------

def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the user
    co-activity graph (same edge builder as ``pagerank_coactivity``) —
    the standard graph-level cohesion metrics behind community /
    coordinated-behavior analysis.

    Scale shape: degree orientation (each undirected edge directed from
    its (degree, id)-smaller endpoint) makes the orientation acyclic and
    bounds every node's out-degree by ~sqrt(m), so the wedge self-join
    generates O(m^1.5) candidates instead of the hub-quadratic blowup of
    id-ordering (Chiba & Nishizeki 1985; Ortmann & Brandes 2014; the
    Suri & Vassilvitskii 2011 MapReduce formulation). Every step is an
    equi-join on node ids — no cartesian — and each triangle is counted
    exactly once at its orientation-minimum vertex. Output is one row,
    so nothing but partial aggregates cross the final shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    # the slim (src, dst) edge list feeds FOUR downstream branches (deg,
    # und, and both wedge sides via ori), 16 bytes/row, built once
    edges = _coactivity_edges(ev)
    # undirected degree == out-degree of the symmetric edge list
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    und = edges.where(F.col("src") < F.col("dst"))
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
    lo_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    ori = (
        und.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
            F.when(lo_first, F.col("deg_v")).otherwise(F.col("deg_u"))
            .alias("deg_hi"),
        )
    )
    # ori is read three times (both wedge sides + the closing-edge
    # probe) but not built once: it re-derives from the built edge list
    # by two degree joins, and building it did not win wall time by more
    # than the run-to-run spread at sf0.1 or on its 10x tier
    e1 = ori.alias("e1")
    e2 = ori.alias("e2")
    wedge_order = (F.col("e1.deg_hi") < F.col("e2.deg_hi")) | (
        (F.col("e1.deg_hi") == F.col("e2.deg_hi"))
        & (F.col("e1.hi") < F.col("e2.hi"))
    )
    wedges = e1.join(
        e2, (F.col("e1.lo") == F.col("e2.lo")) & wedge_order
    ).select(F.col("e1.hi").alias("b"), F.col("e2.hi").alias("c"))
    closing = ori.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    n_tri = wedges.join(closing, ["b", "c"]).count()
    stats = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum("deg") / 2, F.lit(0))
            .cast("bigint")
            .alias("n_edges"),
            F.coalesce(
                F.sum(F.col("deg") * (F.col("deg") - 1) / 2), F.lit(0)
            )
            .cast("bigint")
            .alias("n_wedges"),
        )
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.lit(n_tri).cast("bigint").alias("n_triangles"),
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.lit(n_tri) / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coeff"),
    )


TRIANGLE_COUNT_ORACLE = """
WITH cells AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch_ms(ts) / 60000) AS BIGINT) AS minute,
         user_id
  FROM events),
edges AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM cells a JOIN cells b
    ON a.event_type = b.event_type AND a.minute = b.minute
   AND a.user_id <> b.user_id),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
und AS (SELECT src AS u, dst AS v FROM edges WHERE src < dst),
ori AS (
  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN u ELSE v END AS lo,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN v ELSE u END AS hi,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN dv.deg ELSE du.deg END AS deg_hi
  FROM und
  JOIN deg du ON und.u = du.src
  JOIN deg dv ON und.v = dv.src),
tri AS (
  SELECT count(*) AS n_triangles
  FROM ori e1
  JOIN ori e2 ON e1.lo = e2.lo
   AND ((e1.deg_hi < e2.deg_hi)
        OR (e1.deg_hi = e2.deg_hi AND e1.hi < e2.hi))
  JOIN ori e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
stats AS (
  SELECT count(*) AS n_nodes,
         CAST(coalesce(sum(deg) / 2, 0) AS BIGINT) AS n_edges,
         CAST(coalesce(sum(deg * (deg - 1) / 2), 0) AS BIGINT) AS n_wedges
  FROM deg)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges
                  ELSE 0.0 END, 6) AS clustering_coeff
FROM stats CROSS JOIN tri
"""

ADVANCED_QUERIES["triangle_count"] = triangle_count
ADVANCED_ORACLES["triangle_count"] = TRIANGLE_COUNT_ORACLE


# ---------------------------------------------------------------------------
# Per-key EWMA: exact linear-recurrence fold in deterministic time order
# ---------------------------------------------------------------------------

#: smoothing weight on the new observation; the complement is its own
#: literal (NOT computed as 1-alpha) so both engines fold with bitwise
#: identical double constants — in IEEE754, 1.0 - 0.3 != nearest(0.7).
EWMA_ALPHA = 0.3
EWMA_BETA = 0.7


def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values,
    folded EXACTLY in (ts, event_id) order: s_1 = x_1, s_i = α·x_i +
    β·s_{i-1}. The smoothed tail is the standard denoised activity
    signal for monitoring/alerting pipelines.

    Scale shape: one shuffle (groupBy user_id) then a row-local
    ``aggregate`` fold over the collected, array_sort-ed sequence — the
    recurrence is inherently sequential per key, so the right
    distributed shape is "shuffle once, fold locally"; per-key state is
    one double regardless of sequence length, and no window over a
    global sort is needed. Both engines fold left-to-right with the
    same IEEE754 double literals, so results are bitwise identical
    before the output rounding.

    Hot-key behavior (measured by the r10 sf0.1 skew tier: 5.17x
    pristine when one user owns 50 % of events): the cost is LINEAR in
    the hot key's length — a straggler, not a blowup — because the
    per-key fold is the bit-exactness contract with the oracle's
    left-to-right ``list_reduce``. The genuinely parallel form exists
    (EWMA is a linear recurrence, so chunked affine-map composition
    s -> A + B*s parallelizes within a key), but it reassociates float
    arithmetic and would have to be mirrored chunk-for-chunk in the
    oracle to stay deterministic; at a true 100 TB hot key that is the
    documented upgrade path. Allowlisted in the skew tier with this
    rationale (tools/sweep.py SKEW_ALLOWLIST).
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq")
    )
    fold = F.aggregate(
        F.slice(F.col("seq"), 2, F.size("seq") - 1),
        F.element_at(F.col("seq"), 1)["value"],
        lambda acc, x: F.lit(EWMA_ALPHA) * x["value"]
        + F.lit(EWMA_BETA) * acc,
    )
    # floor-based 6-dp rounding, NOT round(x, 6): the fold is bitwise
    # identical in both engines, but their round() implementations
    # disagree within an ulp of a half boundary (Spark/Python round the
    # raw binary double, DuckDB the shortest decimal repr — the r11
    # skew90 tier caught user 974's 6-event chain landing on
    # 67.42514249999999, rounded 67.425142 vs 67.425143).
    # floor(x*1e6 + 0.5)/1e6 is three correctly-rounded IEEE ops, so
    # identical doubles round identically everywhere.
    return (
        seq.select(
            "user_id",
            F.size("seq").cast("bigint").alias("n_events"),
            F.element_at(F.col("seq"), -1)["value"].alias("last_value"),
            (F.floor(fold * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
            .alias("ewma"),
        )
        .orderBy("user_id")
    )


EWMA_SMOOTH_ORACLE = f"""
WITH seq AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS l
  FROM events GROUP BY user_id)
SELECT user_id,
       len(l) AS n_events,
       l[len(l)] AS last_value,
       floor(list_reduce(l, (acc, x) -> {EWMA_ALPHA}*x + {EWMA_BETA}*acc)
             * 1e6 + 0.5) / 1e6 AS ewma
FROM seq
ORDER BY user_id
"""

ADVANCED_QUERIES["ewma_smooth"] = ewma_smooth
ADVANCED_ORACLES["ewma_smooth"] = EWMA_SMOOTH_ORACLE


# ---------------------------------------------------------------------------
# Time-series similarity: blocked pairwise Pearson over daily activity
# ---------------------------------------------------------------------------

TS_SIM_TOP_K = 50


def ts_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user pairs by Pearson correlation of their daily event-count
    series — distributed time-series similarity search (the
    REPOSE/EDBT-2019 family) re-expressed Spark-first.

    Two scale tricks make this exact AND cheap:

    1. **Exact-match blocking on the discretized series** (the SAX-word
       idea): each user's series binarizes to an active-day bitmap, and
       only users with IDENTICAL bitmaps form candidate pairs — an
       equi-join on the signature, no all-pairs blowup. (Users whose
       activity patterns differ in any day are pruned; that's the
       approximation, and it is deterministic.)
    2. **Integer sufficient statistics**: with day count D fixed by the
       global span, Pearson needs only (sx, sxx) per user and sxy per
       pair — all INTEGER sums of counts, exact in both engines, with
       zero-days contributing nothing to sxy (inner day join suffices).
       The final r expression is the only floating-point step and is
       written identically in both engines, so ranking is stable.

    Ranking uses the rounded r; ties break on (user_a, user_b)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.unix_date(F.to_date("ts"))
    # the daily-count table feeds the bounds action, the per-user stats
    # (both pair sides) and both series sides of the inner product, so
    # the plan re-derives it per consumer; building it once halved task
    # CPU but did not win wall time by more than the run-to-run spread
    # at sf0.1 or on its 10x tier, so it is not built once
    cells = (
        ev.select(F.col("user_id"), day.alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bounds = cells.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).first()
    if bounds.lo is None:
        # zero events: no day span to bucket against (the driver-side
        # int(None) raised before the r9 degenerate-input sweep); the
        # pair set is definitionally empty
        return spark.createDataFrame(
            [], "user_a bigint, user_b bigint, n_days int, pearson_r double"
        )
    lo, hi = int(bounds.lo), int(bounds.hi)
    n_days = hi - lo + 1
    # bitmap bit index mod 60 keeps the signature in one BIGINT for any
    # span; collisions only merge blocks (more candidates, never fewer)
    # F.shiftleft takes a literal bit count; the per-row shift needs SQL
    sig_bit = F.expr(f"shiftleft(1L, cast((day - {lo}) % 60 as int))")
    stats = cells.groupBy("user_id").agg(
        F.sum(sig_bit).alias("sig"),
        F.sum("cnt").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sxx"),
    )
    a = stats.select(
        F.col("user_id").alias("user_a"), F.col("sig"),
        F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a"),
    )
    b = stats.select(
        F.col("user_id").alias("user_b"), F.col("sig"),
        F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b"),
    )
    pairs = a.join(b, "sig").where(F.col("user_a") < F.col("user_b"))
    ca = cells.select(
        F.col("user_id").alias("user_a"), "day", F.col("cnt").alias("ca")
    )
    cb = cells.select(
        F.col("user_id").alias("user_b"), "day", F.col("cnt").alias("cb")
    )
    # route the inner product THROUGH the blocked candidates: joining
    # ca⋈cb on day alone is the all-pairs blowup (users²·days rows) the
    # blocking exists to avoid; candidates ⋈ series ⋈ series keeps the
    # fan-out at |pairs|·active-days
    sxy = (
        pairs.select("user_a", "user_b")
        .join(ca, "user_a")
        .join(cb, ["user_b", "day"])
        .groupBy("user_a", "user_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("sxy"))
    )
    d = F.lit(n_days)
    r_expr = (
        (d * F.col("sxy") - F.col("sx_a") * F.col("sx_b"))
        / (
            F.sqrt(d * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a"))
            * F.sqrt(d * F.col("sxx_b") - F.col("sx_b") * F.col("sx_b"))
        )
    )
    var_a = d * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a")
    var_b = d * F.col("sxx_b") - F.col("sx_b") * F.col("sx_b")
    # constant series have zero variance; r is undefined and both
    # engines disagree on double/0 — drop those pairs explicitly
    return (
        pairs.join(sxy, ["user_a", "user_b"])
        .where((var_a > 0) & (var_b > 0))
        .select(
            "user_a", "user_b",
            F.lit(n_days).cast("int").alias("n_days"),
            F.round(r_expr, 6).alias("pearson_r"),
        )
        .orderBy(F.col("pearson_r").desc(), "user_a", "user_b")
        .limit(TS_SIM_TOP_K)
    )


TS_SIMILARITY_PAIRS_ORACLE = f"""
WITH cells AS (
  SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day,
         count(*) AS cnt
  FROM events GROUP BY 1, 2),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM cells),
stats AS (
  SELECT user_id,
         CAST(sum(1::BIGINT << CAST((day - bounds.lo) % 60 AS INTEGER))
              AS BIGINT) AS sig,
         CAST(sum(cnt) AS BIGINT) AS sx,
         CAST(sum(cnt * cnt) AS BIGINT) AS sxx
  FROM cells CROSS JOIN bounds GROUP BY user_id, bounds.lo),
pairs AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         a.sx AS sx_a, a.sxx AS sxx_a, b.sx AS sx_b, b.sxx AS sxx_b
  FROM stats a JOIN stats b ON a.sig = b.sig AND a.user_id < b.user_id),
sxy AS (
  SELECT p.user_a, p.user_b,
         CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS sxy
  FROM pairs p
  JOIN cells ca ON ca.user_id = p.user_a
  JOIN cells cb ON cb.user_id = p.user_b AND cb.day = ca.day
  GROUP BY 1, 2),
d AS (SELECT CAST(hi - lo + 1 AS BIGINT) AS n_days FROM bounds)
SELECT p.user_a, p.user_b, CAST(d.n_days AS INTEGER) AS n_days,
       round((d.n_days * s.sxy - p.sx_a * p.sx_b)
             / (sqrt(d.n_days * p.sxx_a - p.sx_a * p.sx_a)
                * sqrt(d.n_days * p.sxx_b - p.sx_b * p.sx_b)), 6)
         AS pearson_r
FROM pairs p
JOIN sxy s ON p.user_a = s.user_a AND p.user_b = s.user_b
CROSS JOIN d
WHERE d.n_days * p.sxx_a - p.sx_a * p.sx_a > 0
  AND d.n_days * p.sxx_b - p.sx_b * p.sx_b > 0
ORDER BY pearson_r DESC, p.user_a, p.user_b
LIMIT {TS_SIM_TOP_K}
"""

ADVANCED_QUERIES["ts_similarity_pairs"] = ts_similarity_pairs
ADVANCED_ORACLES["ts_similarity_pairs"] = TS_SIMILARITY_PAIRS_ORACLE


# ---------------------------------------------------------------------------
# CEP pattern match: view -> click -> purchase with per-step time bounds
# ---------------------------------------------------------------------------

# per-user events in the testdata average hours apart, so a CEP bound
# in minutes matches nothing; 6 h is tight enough that ~90% of the
# unbounded funnel's converters are EXCLUDED (18 of 150 users match at
# sf0.01) — the time constraint provably bites
CEP_STEP_GAP_MS = 6 * 60 * 60 * 1000


def cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite complex event processing: per user, the
    EARLIEST view → click → purchase chain where each step follows the
    previous within 6 hours — the time-bounded sequence detector
    (Flink CEP's bread and butter) that ``event_funnel``'s unbounded
    min-ts chaining cannot express.

    Scale shape (r10 rewrite — the sf0.1 SKEW tier caught the old
    per-user equi-join chain doing O(n_user²) work: a hot user owning
    50 % of events read 324x pristine): ONE user-keyed sort, then two
    O(n) running-min window passes compile the pattern the way a CEP
    engine would —

    1. ``p_after``: for every row, the EARLIEST purchase strictly
       after it (a running min over the descending order; the earliest
       following purchase is within the 6 h gap iff ANY purchase is,
       so no sliding frame is needed — the suffix minimum answers the
       banded existence question exactly);
    2. ``cp_after``: the same suffix-minimum trick one level up, over
       the (c_ms, p_ms) structs of clicks that completed step 1 —
       giving every view its earliest completable click;

    and the earliest chain per user is the same struct-min aggregate
    as before. Equal-timestamp strictness (c > v, p > c) is encoded in
    the sort rank (purchase < click < view at equal ms, so a same-ms
    successor never lands in the strictly-after suffix). Results are
    integer-exact, so the DuckDB oracle keeps the declarative
    join-based spelling of the same semantics."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.when(F.col("event_type") == "purchase", F.lit(0))
        .when(F.col("event_type") == "click", F.lit(1))
        .otherwise(F.lit(2))
        .alias("rk"),
    )
    # rows strictly AFTER the current one in (ms ASC, rk ASC) order =
    # rows strictly before it in this DESC window; running min over
    # the growing prefix is O(n) per user (no sliding re-aggregation)
    wd = (
        W.partitionBy("user_id")
        .orderBy(F.col("ms").desc(), F.col("rk").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    s1 = base.withColumn(
        "p_after",
        F.min(F.when(F.col("rk") == 0, F.col("ms"))).over(wd),
    )
    cp = F.when(
        (F.col("rk") == 1)
        & (F.col("p_after") <= F.col("ms") + CEP_STEP_GAP_MS),
        F.struct(
            F.col("ms").alias("c_ms"), F.col("p_after").alias("p_ms")
        ),
    )
    s2 = s1.withColumn("cp", cp).withColumn(
        "cp_after", F.min(F.col("cp")).over(wd)
    )
    tri = s2.where(
        (F.col("rk") == 2)
        & F.col("cp_after").isNotNull()
        & (F.col("cp_after.c_ms") <= F.col("ms") + CEP_STEP_GAP_MS)
    ).select(
        "user_id",
        F.col("ms").alias("v_ms"),
        F.col("cp_after.c_ms").alias("c_ms"),
        F.col("cp_after.p_ms").alias("p_ms"),
    )
    return (
        tri.groupBy("user_id")
        .agg(F.min(F.struct("v_ms", "c_ms", "p_ms")).alias("m"))
        .select(
            "user_id",
            F.col("m.v_ms").alias("v_ms"),
            F.col("m.c_ms").alias("c_ms"),
            F.col("m.p_ms").alias("p_ms"),
            (F.col("m.p_ms") - F.col("m.v_ms")).alias("span_ms"),
        )
        .orderBy("user_id")
    )


CEP_PATTERN_MATCH_ORACLE = f"""
WITH v AS (SELECT user_id, epoch_ms(ts) AS v_ms FROM events
           WHERE event_type = 'view'),
c AS (SELECT user_id, epoch_ms(ts) AS c_ms FROM events
      WHERE event_type = 'click'),
p AS (SELECT user_id, epoch_ms(ts) AS p_ms FROM events
      WHERE event_type = 'purchase'),
chains AS (
  SELECT v.user_id, v.v_ms, c.c_ms, p.p_ms
  FROM v
  JOIN c ON v.user_id = c.user_id
        AND c.c_ms > v.v_ms AND c.c_ms <= v.v_ms + {CEP_STEP_GAP_MS}
  JOIN p ON v.user_id = p.user_id
        AND p.p_ms > c.c_ms AND p.p_ms <= c.c_ms + {CEP_STEP_GAP_MS}),
ranked AS (
  SELECT user_id, v_ms, c_ms, p_ms,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY v_ms, c_ms, p_ms) AS rn
  FROM chains)
SELECT user_id, v_ms, c_ms, p_ms, p_ms - v_ms AS span_ms
FROM ranked WHERE rn = 1
ORDER BY user_id
"""

ADVANCED_QUERIES["cep_pattern_match"] = cep_pattern_match
ADVANCED_ORACLES["cep_pattern_match"] = CEP_PATTERN_MATCH_ORACLE


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous, fixed rounds, deterministic)
# ---------------------------------------------------------------------------

LPA_ITERS = 3


def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-activity graph by SYNCHRONOUS label
    propagation (Raghavan et al. 2007) with a deterministic tie-break:
    each round every node adopts its neighbors' most frequent label,
    ties to the SMALLEST label; ``LPA_ITERS`` fixed rounds (async LPA's
    update-order dependence is exactly what an oracle-checked engine
    cannot have). Completes the graph family: PageRank (influence),
    connected components (reachability), triangles (cohesion), LPA
    (mesoscale structure).

    Scale shape: one edges⋈labels join plus one (node, label) count
    aggregate per round — the Pregel shape; the label vector is
    node-cardinality and build_once cuts lineage each round. The
    argmax is a partial-aggregable struct-max (count, then -label), no
    per-node sort window. The oracle unrolls the same rounds as CTEs."""
    ev = load_table(spark, sf_dir, "events")
    edges = _coactivity_edges(ev)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ITERS):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = build_once(
            votes.groupBy("dst")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl")))
                 .alias("m"))
            .select(
                F.col("dst").alias("node"),
                (-F.col("m.nl")).alias("label"),
            )
        )
    return labels.orderBy("node")


def _lpa_oracle() -> str:
    head = """
WITH cells AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch_ms(ts) / 60000) AS BIGINT) AS minute,
         user_id
  FROM events),
edges AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM cells a JOIN cells b
    ON a.event_type = b.event_type AND a.minute = b.minute
   AND a.user_id <> b.user_id),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    steps = []
    for i in range(1, LPA_ITERS + 1):
        steps.append(f"""
v{i} AS (
  SELECT e.dst, l.label, count(*) AS cnt
  FROM edges e JOIN l{i - 1} l ON e.src = l.node
  GROUP BY e.dst, l.label),
l{i} AS (
  SELECT dst AS node, label
  FROM (SELECT dst, label,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM v{i})
  WHERE rn = 1)""")
    return (
        head + "," + ",".join(steps)
        + f"\nSELECT node, label FROM l{LPA_ITERS} ORDER BY node"
    )


LPA_COMMUNITIES_ORACLE = _lpa_oracle()

ADVANCED_QUERIES["lpa_communities"] = lpa_communities
ADVANCED_ORACLES["lpa_communities"] = LPA_COMMUNITIES_ORACLE


# ---------------------------------------------------------------------------
# A/B experiment readout: hash-split arms, two-proportion z-test
# ---------------------------------------------------------------------------

AB_SALT = "exp_001"


def conversion_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: users hash-split 50/50 into
    arms (same md5 bucketing as ``hash_split`` — assignment is stable
    across runs and engines), per-arm visitor and converter counts
    (a purchase with value > 95), conversion rates, and the pooled two-proportion
    z-statistic with a |z| >= 1.96 significance flag — the experiment
    analysis every event pipeline serves.

    Scale shape: one user-keyed aggregate builds the per-user
    (arm, converted) row, one 2-row aggregate builds the readout; the
    z arithmetic is a fixed expression over 4 integers so both engines
    compute identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            # conversion = a HIGH-VALUE purchase: plain "any purchase"
            # saturates at p = 1 on this corpus (every user purchases),
            # which degenerates the z-test; the value floor keeps the
            # pooled rate strictly inside (0, 1)
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 95)
                ).cast("int")
            ).alias("converted")
        )
        .withColumn(
            "arm",
            F.when(
                F.expr(
                    f"cast(conv(substring(md5(concat(user_id, "
                    f"'_{AB_SALT}')), 1, 15), 16, 10) as bigint) % 2"
                ) == 0,
                "A",
            ).otherwise("B"),
        )
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    a = arms.where(F.col("arm") == "A").select(
        F.col("n_users").alias("na"), F.col("n_converted").alias("ca")
    )
    b = arms.where(F.col("arm") == "B").select(
        F.col("n_users").alias("nb"), F.col("n_converted").alias("cb")
    )
    # degenerate experiments (pooled p of exactly 0 or 1, or an empty
    # arm) have no sampling variance: define z = 0 explicitly — ANSI
    # Spark errors on /0 while DuckDB yields inf, so the guard is also
    # the cross-engine contract
    z = F.expr(
        "CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 "
        "OR ca + cb = na + nb THEN 0.0 ELSE "
        "(ca / cast(na as double) - cb / cast(nb as double)) / "
        "sqrt(((ca + cb) / cast(na + nb as double)) "
        "* (1.0 - (ca + cb) / cast(na + nb as double)) "
        "* (1.0 / na + 1.0 / nb)) END"
    )
    return (
        a.crossJoin(b)
        .select(
            F.col("na").alias("users_a"),
            F.col("ca").alias("conv_a"),
            F.round(F.col("ca") / F.col("na").cast("double"), 6)
            .alias("rate_a"),
            F.col("nb").alias("users_b"),
            F.col("cb").alias("conv_b"),
            F.round(F.col("cb") / F.col("nb").cast("double"), 6)
            .alias("rate_b"),
            F.round(z, 6).alias("z_score"),
            (F.abs(z) >= 1.96).alias("significant_95"),
        )
    )


CONVERSION_AB_TEST_ORACLE = f"""
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 95
                  THEN 1 ELSE 0 END) AS converted,
         CASE WHEN ('0x' || substr(md5(user_id || '_{AB_SALT}'), 1, 15))
                     ::BIGINT % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM events GROUP BY user_id),
arms AS (
  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS c
  FROM users GROUP BY arm),
j AS (
  SELECT a.n AS na, a.c AS ca, b.n AS nb, b.c AS cb
  FROM (SELECT * FROM arms WHERE arm = 'A') a
  CROSS JOIN (SELECT * FROM arms WHERE arm = 'B') b)
SELECT na AS users_a, ca AS conv_a,
       round(ca / CAST(na AS DOUBLE), 6) AS rate_a,
       nb AS users_b, cb AS conv_b,
       round(cb / CAST(nb AS DOUBLE), 6) AS rate_b,
       round(z, 6) AS z_score,
       abs(z) >= 1.96 AS significant_95
FROM (
  SELECT *,
         CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0
                   OR ca + cb = na + nb THEN 0.0 ELSE
         (ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE)) /
         sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
              * (1.0 - (ca + cb) / CAST(na + nb AS DOUBLE))
              * (1.0 / na + 1.0 / nb)) END AS z
  FROM j)
"""

ADVANCED_QUERIES["conversion_ab_test"] = conversion_ab_test
ADVANCED_ORACLES["conversion_ab_test"] = CONVERSION_AB_TEST_ORACLE


# ---------------------------------------------------------------------------
# Marketing attribution: last-touch vs first-touch revenue per channel
# ---------------------------------------------------------------------------

ATTR_WINDOW_MS = 7 * 24 * 3600 * 1000


def attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attribution: every purchase credits the user's LAST
    qualifying touch (view/click within the 7-day lookback) under
    last-touch rules and the FIRST under first-touch rules; the report
    compares both models per channel — the analysis marketing teams run
    daily, and a classic disagreement surface between attribution
    models.

    Scale shape (r10 rewrite — the sf0.1 SKEW tier caught the old
    purchases×touches per-user join reading 36x pristine under a hot
    user): the lookback is compiled to two O(n) running struct-extreme
    window passes over one unioned per-user timeline, so the hot key
    costs one sort, never a quadratic candidate set.

    * LAST touch: the running max of touch structs at the purchase row
      is the latest touch ≤ p; it is within the lookback iff ANY touch
      is (it's the latest), so one post-validation replaces the banded
      join.
    * FIRST touch: symmetric, via a synthetic PROBE row planted at
      ``p_ms - W``: the running min of touch structs over the
      DESCENDING order, read at the probe, is the earliest touch
      ≥ p-W; validate it is ≤ p. Probes carry the purchase's cents, so
      no join-back is needed.

    Equal-timestamp inclusivity (t ≤ p, t ≥ p-W both inclusive) is
    encoded in the sort rank (probe < touch < purchase at equal ms).
    Revenue stays exact integer cents; ties on touch timestamp still
    break by event_id via the same struct comparison, and the DuckDB
    oracle keeps the declarative join spelling of the identical
    semantics."""
    ev = load_table(spark, sf_dir, "events")
    t_struct = F.when(
        F.col("event_type").isin("view", "click"),
        F.struct(
            F.unix_millis("ts").alias("t_ms"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("channel"),
        ),
    )
    base = ev.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.when(F.col("event_type") == "purchase", F.lit(2))
        .otherwise(F.lit(1))
        .alias("kind"),
        t_struct.alias("t"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("bigint"),
        ).alias("cents"),
        F.when(
            F.col("event_type") == "purchase", F.unix_millis("ts")
        ).alias("p_ms"),
    )
    probes = base.where(F.col("kind") == 2).select(
        "user_id",
        (F.col("ms") - ATTR_WINDOW_MS).alias("ms"),
        F.lit(0).alias("kind"),
        F.lit(None).cast(base.schema["t"].dataType).alias("t"),
        "cents",
        "p_ms",
    )
    allr = base.unionByName(probes)
    wa = (
        W.partitionBy("user_id")
        .orderBy(F.col("ms").asc(), F.col("kind").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wd = (
        W.partitionBy("user_id")
        .orderBy(F.col("ms").desc(), F.col("kind").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    r = allr.withColumn("last_t", F.max("t").over(wa)).withColumn(
        "first_t", F.min("t").over(wd)
    )
    last_picked = r.where(
        (F.col("kind") == 2)
        & F.col("last_t").isNotNull()
        & (F.col("ms") - F.col("last_t.t_ms") <= ATTR_WINDOW_MS)
    )
    first_picked = r.where(
        (F.col("kind") == 0)
        & F.col("first_t").isNotNull()
        & (F.col("first_t.t_ms") <= F.col("p_ms"))
    )
    last = last_picked.groupBy(
        F.col("last_t.channel").alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n_conv_last"),
        F.sum("cents").alias("revenue_last_cents"),
    )
    first = first_picked.groupBy(
        F.col("first_t.channel").alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n_conv_first"),
        F.sum("cents").alias("revenue_first_cents"),
    )
    return (
        last.join(first, "channel", "full")
        .select(
            "channel",
            F.coalesce("n_conv_last", F.lit(0)).alias("n_conv_last"),
            F.coalesce("revenue_last_cents", F.lit(0))
            .alias("revenue_last_cents"),
            F.coalesce("n_conv_first", F.lit(0)).alias("n_conv_first"),
            F.coalesce("revenue_first_cents", F.lit(0))
            .alias("revenue_first_cents"),
        )
        .orderBy("channel")
    )


ATTRIBUTION_REPORT_ORACLE = f"""
WITH purchases AS (
  SELECT user_id, event_id AS p_id, epoch_ms(ts) AS p_ms,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
touches AS (
  SELECT user_id, event_id AS t_id, epoch_ms(ts) AS t_ms,
         event_type AS channel
  FROM events WHERE event_type IN ('view', 'click')),
cand AS (
  SELECT p.p_id, p.cents, t.t_ms, t.t_id, t.channel
  FROM purchases p JOIN touches t USING (user_id)
  WHERE t.t_ms <= p.p_ms AND p.p_ms - t.t_ms <= {ATTR_WINDOW_MS}),
picked AS (
  SELECT p_id, cents,
         first(channel ORDER BY t_ms DESC, t_id DESC) AS last_channel,
         first(channel ORDER BY t_ms ASC, t_id ASC) AS first_channel
  FROM cand GROUP BY p_id, cents),
l AS (
  SELECT last_channel AS channel, count(*) AS n_conv_last,
         CAST(sum(cents) AS BIGINT) AS revenue_last_cents
  FROM picked GROUP BY 1),
f AS (
  SELECT first_channel AS channel, count(*) AS n_conv_first,
         CAST(sum(cents) AS BIGINT) AS revenue_first_cents
  FROM picked GROUP BY 1)
SELECT coalesce(l.channel, f.channel) AS channel,
       coalesce(n_conv_last, 0) AS n_conv_last,
       coalesce(revenue_last_cents, 0) AS revenue_last_cents,
       coalesce(n_conv_first, 0) AS n_conv_first,
       coalesce(revenue_first_cents, 0) AS revenue_first_cents
FROM l FULL OUTER JOIN f ON l.channel = f.channel
ORDER BY channel
"""

ADVANCED_QUERIES["attribution_report"] = attribution_report
ADVANCED_ORACLES["attribution_report"] = ATTRIBUTION_REPORT_ORACLE


# ---------------------------------------------------------------------------
# k-core decomposition of the co-activity graph
# ---------------------------------------------------------------------------

KCORE_KS = [2, 3]
#: peel-round bound; the loop exits on fixpoint long before, but both
#: engines pin the SAME bound so an unconverged pathological graph
#: still produces identical output
KCORE_MAX_ITERS = 64


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core sizes of the user co-activity graph (Seidman 1983): for
    k in {2, 3}, iteratively peel nodes of degree < k until the
    fixpoint and report the surviving core's node and (undirected) edge
    counts — the standard cohesion ladder above ``triangle_count``
    (every triangle lives in the 2-core) and the cheap spam/bot screen
    (cores that survive high k are tightly coordinated subgraphs).

    Scale shape: each peel round is one edges-vs-alive semi-join pair
    plus a degree aggregate — the Pregel shape shared with
    ``lpa_communities`` — with ``build_once`` cutting lineage and
    a 1-row count as the convergence scalar (the dedup_clusters
    convention). Rounds are bounded by the peel depth (here single
    digits; pathological chains are capped at KCORE_MAX_ITERS with the
    oracle pinned to the same cap). The oracle runs the identical peel
    as a DuckDB recursive CTE over the adjacency map."""
    ev = load_table(spark, sf_dir, "events")
    edges = _coactivity_edges(ev)
    out_rows = []
    for k in KCORE_KS:
        alive = edges.select(F.col("src").alias("node")).distinct()
        prev_n = alive.count()
        for _ in range(KCORE_MAX_ITERS):
            deg = (
                edges.join(
                    alive.select(F.col("node").alias("src")), "src"
                )
                .join(alive.select(F.col("node").alias("dst")), "dst")
                .groupBy("src")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            alive = build_once(
                deg.where(F.col("cnt") >= k).select(F.col("src").alias("node"))
            )
            n = alive.count()
            if n == prev_n:
                break  # peel removed nothing: fixpoint reached
            prev_n = n
        n_edges = (
            edges.join(alive.select(F.col("node").alias("src")), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .count()
        )
        out_rows.append((k, prev_n, n_edges // 2))
    return spark.createDataFrame(
        out_rows, "k int, core_nodes long, core_edges long"
    ).orderBy("k")


def _kcore_oracle() -> str:
    its = []
    finals = []
    for k in KCORE_KS:
        its.append(f"""
it{k}(i, alive) AS (
  SELECT 0, (SELECT nodes FROM base)
  UNION ALL
  SELECT i + 1,
         list_filter(alive, u -> len(list_filter(
             coalesce(map_extract(am.m, u)[1], []),
             v -> list_contains(alive, v))) >= {k})
  FROM it{k}, am WHERE i < {KCORE_MAX_ITERS})""")
        finals.append(f"""
SELECT {k} AS k,
       CAST(len(alive) AS BIGINT) AS core_nodes,
       CAST((SELECT count(*) FROM edges e
             WHERE list_contains(f.alive, e.src)
               AND list_contains(f.alive, e.dst)) // 2 AS BIGINT)
         AS core_edges
FROM (SELECT alive FROM it{k} WHERE i = {KCORE_MAX_ITERS}) f""")
    return f"""
WITH RECURSIVE cells AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch_ms(ts) / 60000) AS BIGINT) AS minute,
         user_id
  FROM events),
edges AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM cells a JOIN cells b
    ON a.event_type = b.event_type AND a.minute = b.minute
   AND a.user_id <> b.user_id),
adj AS (SELECT src, list(dst) AS ns FROM edges GROUP BY src),
am AS (SELECT map(coalesce(list(src), []), coalesce(list(ns), [])) AS m
       FROM adj),
base AS (
  SELECT coalesce(list(DISTINCT src ORDER BY src), []) AS nodes
  FROM edges),{",".join(its)}
{" UNION ALL ".join(finals)}
ORDER BY k
"""


KCORE_DECOMPOSITION_ORACLE = _kcore_oracle()

ADVANCED_QUERIES["kcore_decomposition"] = kcore_decomposition
ADVANCED_ORACLES["kcore_decomposition"] = KCORE_DECOMPOSITION_ORACLE
