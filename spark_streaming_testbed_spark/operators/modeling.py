"""Statistical-law fits and model-style analytics (round 5).

Operators a corpus/commerce analytics layer runs on top of the raw
aggregates: Zipf-slope and Heaps-curve corpus diagnostics, Kaplan-Meier
survival over purchase gaps, interval-overlap concurrency timelines,
incremental aggregate maintenance (the materialized-view merge), degree
assortativity of the co-activity graph, and an OLS discount-uplift
slope. All beyond the reference's own operator set (the reference stops
at windowed count/sum/mean/stddev — simple-streaming-app
SimpleStreamingApp.scala:51-91); added per the build brief's
training-pipeline mandate.

Cross-engine determinism (see the float-parity rules in prep.py):
- OLS fits run on integer-quantized inputs whose sums stay below 2^53,
  so every sum is EXACT in a double and the closed-form slope arithmetic
  performs the identical IEEE operations in both engines; outputs are
  floor-quantized integers.
- ln() differs by 1 ulp between the JVM and libm, so each ln value is
  floor-quantized to an integer (milli-nats) BEFORE any sum.
- The Kaplan-Meier product folds sequentially over window-ordered lists
  in integer millionths — `(acc * f) div 1e6` truncates identically in
  Spark's fold and DuckDB's list_reduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import load_table
from .advanced import SESSION_GAP_MS, _coactivity_edges
from .text import TOKENS_SQL, with_tokens

#: Zipf fit: top-K tokens by corpus frequency (the classical fit range;
#: the tail below rank ~1000 bends away from the power law)
ZIPF_TOP_K = 500

#: Heaps curve checkpoint width in documents
HEAPS_BUCKET_DOCS = 250


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Zipf slope: OLS of ln(frequency) on ln(rank) over the top-K tokens
# ---------------------------------------------------------------------------

def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit Zipf's law over the corpus token frequencies: the OLS slope of
    ln(freq) vs ln(rank) for the top-500 tokens — the one-number corpus
    health check (natural text sits near -1; templated/spammy corpora
    drift shallow).

    Scale shape: ONE token-keyed aggregate (map-side combinable), then
    the top-K cut via orderBy().limit() — Catalyst plans
    TakeOrderedAndProject (per-partition top-K, merge at the driver),
    NOT a global sort or an unpartitioned rank window over the full
    vocabulary; the row_number ranks only the 500 survivors. The fit
    reduces 500 rows to one. Determinism: ln values quantized to
    integer milli-nats before summation; all sums < 2^53 so the
    closed-form slope is exact IEEE arithmetic; output is an integer
    (slope in 1e-5 units)."""
    toks = with_tokens(_t(spark, sf_dir, "documents")).select(
        F.explode("tokens").alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = freq.orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    ).limit(ZIPF_TOP_K)
    ranked = top.select(
        "cnt",
        F.row_number()
        .over(W.orderBy(F.col("cnt").desc(), F.col("token").asc()))
        .alias("rank"),
    )
    pts = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * 1000)
        .cast("long").alias("lx"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000)
        .cast("long").alias("ly"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("double").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("double").alias("sxx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.lit(100000.0)
        ).cast("long").alias("slope_e5"),
    )


ZIPF_TOKEN_SLOPE_ORACLE = f"""
WITH toks AS (
  SELECT unnest({TOKENS_SQL}) AS token FROM documents),
freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
  FROM freq QUALIFY rank <= {ZIPF_TOP_K}),
pts AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS lx,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000) AS BIGINT) AS ly
  FROM ranked),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(lx) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(ly) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(sum(lx * ly) AS BIGINT) AS DOUBLE) AS sxy,
         CAST(CAST(sum(lx * lx) AS BIGINT) AS DOUBLE) AS sxx
  FROM pts)
SELECT CAST(n AS BIGINT) AS n_tokens,
       CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 100000.0)
            AS BIGINT) AS slope_e5
FROM s
"""


# ---------------------------------------------------------------------------
# Heaps' law curve: vocabulary growth vs corpus size at doc checkpoints
# ---------------------------------------------------------------------------

def heaps_vocab_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: at every 250-document
    checkpoint, the cumulative token count and the cumulative distinct
    vocabulary — sublinear vocab growth is the signature of natural
    text; a near-linear curve flags synthetic/ID-heavy content.

    Scale shape: cumulative vocab WITHOUT a running distinct — each
    token's first-appearance bucket is one token-keyed min-aggregate
    (map-side combinable), then per-bucket counts and a window cumsum
    over the tiny bucket spine. Integers only."""
    docs = with_tokens(_t(spark, sf_dir, "documents")).select(
        "doc_id", "tokens"
    )
    bucket = (F.col("doc_id") / HEAPS_BUCKET_DOCS).cast("long")
    per_bucket_tokens = (
        docs.select(bucket.alias("bucket"), F.size("tokens").alias("nt"))
        .groupBy("bucket")
        .agg(F.sum("nt").alias("toks"))
    )
    first_bucket = (
        docs.select("doc_id", F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(
            (F.col("first_doc") / HEAPS_BUCKET_DOCS)
            .cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_vocab"))
    )
    cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_bucket_tokens.join(first_bucket, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("toks", F.lit(0)).alias("toks"),
            F.coalesce("new_vocab", F.lit(0)).alias("new_vocab"),
        )
        .select(
            "bucket",
            F.sum("toks").over(cum).alias("cum_tokens"),
            F.sum("new_vocab").over(cum).alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


HEAPS_VOCAB_CURVE_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
per_bucket AS (
  SELECT CAST(doc_id // {HEAPS_BUCKET_DOCS} AS BIGINT) AS bucket,
         CAST(sum(len(tokens)) AS BIGINT) AS toks
  FROM docs GROUP BY 1),
first_bucket AS (
  SELECT CAST(min(doc_id) // {HEAPS_BUCKET_DOCS} AS BIGINT) AS bucket,
         token
  FROM (SELECT doc_id, unnest(tokens) AS token FROM docs)
  GROUP BY token),
vocab AS (
  SELECT bucket, count(*) AS new_vocab FROM first_bucket GROUP BY bucket)
SELECT bucket,
       CAST(sum(coalesce(toks, 0)) OVER (
         ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(sum(coalesce(new_vocab, 0)) OVER (
         ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_vocab
FROM per_bucket FULL JOIN vocab USING (bucket)
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Concurrent-sessions timeline: interval-overlap counts per hour
# ---------------------------------------------------------------------------

def concurrent_sessions_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour count of ACTIVE sessions — how many 30-minute-gap user
    sessions overlap each hour bucket. The capacity-planning view of the
    session model (how much concurrent state a server farm holds).

    Scale shape: sessions come from the native ``session_window`` (one
    user-keyed shuffle); each session explodes into only the hour
    buckets it overlaps (sessions are minutes long, so ~1-2 rows each)
    and the timeline is one hour-keyed count — linear, no self-join, no
    global-order window (the classic sweep-line needs a total order;
    the bucketed form is the shape that distributes). Integers only."""
    ev = _t(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("sw.start")).alias("start_ms"),
            F.unix_millis(F.col("sw.end")).alias("end_ms"),
        )
    )
    hours = sessions.select(
        F.explode(
            F.sequence(
                (F.col("start_ms") / 3_600_000).cast("long"),
                ((F.col("end_ms") - 1) / 3_600_000).cast("long"),
            )
        ).alias("hour")
    )
    return (
        hours.groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("hour")
    )


CONCURRENT_SESSIONS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, epoch_ms(ts) AS t,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > {SESSION_GAP_MS}
              OR lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
islands AS (
  SELECT user_id, t,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered),
sessions AS (
  SELECT min(t) AS start_ms, max(t) + {SESSION_GAP_MS} AS end_ms
  FROM islands GROUP BY user_id, sid),
hours AS (
  SELECT unnest(range(start_ms // 3600000,
                      (end_ms - 1) // 3600000 + 1)) AS hour
  FROM sessions)
SELECT CAST(hour AS BIGINT) AS hour, count(*) AS n_active
FROM hours GROUP BY hour ORDER BY hour
"""


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: partial-agg merge == full recompute
# ---------------------------------------------------------------------------

def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the orders fact is split at its
    midpoint date into a BASE half and a DELTA half, each pre-aggregated
    independently, and the two partial-aggregate tables merge by key —
    the incremental-refresh contract (merge(partial(base), partial(delta))
    == full recompute, which is exactly what the oracle computes).

    Scale shape: this is the map-side-combine algebra made explicit —
    count and integer-cents sum are commutative monoids, so partials
    merge with a second small aggregate instead of rescanning base. The
    cutoff is a broadcast 1-row scalar anchor (J3 pattern)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("ms"),
        F.expr(
            "cast(round(o_totalprice * 100) as bigint)"
        ).alias("cents"),
    )
    cutoff = orders.agg(
        ((F.min("ms") + F.max("ms")) / 2).cast("long").alias("cut")
    )
    tagged = orders.crossJoin(F.broadcast(cutoff))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("mon", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )

    base = partial(tagged.where(F.col("ms") < F.col("cut")))
    delta = partial(tagged.where(F.col("ms") >= F.col("cut")))
    return (
        base.unionByName(delta)
        .groupBy("mon", "o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
        .orderBy("mon", "o_orderpriority")
    )


INCREMENTAL_AGG_MERGE_ORACLE = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
       o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve over repeat-purchase gaps
# ---------------------------------------------------------------------------

def survival_km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of the repeat-purchase gap: each
    consecutive-purchase-day gap is an observed duration (the customer
    "came back" after t days); each user's trailing gap to the end of
    the observation window is CENSORED (no return seen yet — exactly
    what naive gap histograms get wrong). S(t) = prod_{s<=t}
    (1 - d_s/n_s) over event times, the standard right-censored
    estimator (Kaplan & Meier 1958).

    Scale shape: durations reduce to one row per distinct gap length
    (bounded by the observation span in days) before any window; the
    risk set is a descending cumsum and the survival product a
    sequential integer fold over a window-ordered list — both on the
    tiny reduced table. Determinism: factors are integer millionths,
    folded with truncating division that matches DuckDB's `//`."""
    ev = _t(spark, sf_dir, "events")
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.unix_date(F.to_date("ts")).alias("day"))
        .distinct()
    )
    horizon = buys.agg(F.max("day").alias("max_day"))
    w_user = W.partitionBy("user_id").orderBy("day")
    gaps = buys.select(
        "user_id",
        (F.col("day") - F.lag("day").over(w_user)).alias("t"),
        F.lit(1).alias("observed"),
    ).where(F.col("t").isNotNull())
    last = buys.groupBy("user_id").agg(F.max("day").alias("last_day"))
    censored = (
        last.crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            (F.col("max_day") - F.col("last_day")).alias("t"),
            F.lit(0).alias("observed"),
        )
        .where(F.col("t") >= 1)
    )
    subjects = gaps.select("t", "observed").unionByName(
        censored.select("t", "observed")
    )
    per_t = subjects.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum("observed").alias("d_events"),
    )
    w_desc = W.orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    risk = per_t.select(
        "t", "d_events", F.sum("n_at").over(w_desc).alias("n_risk")
    ).where(F.col("d_events") >= 1)
    factors = risk.select(
        "t", "n_risk", "d_events",
        F.expr(
            "(n_risk - d_events) * 1000000L div n_risk"
        ).alias("factor"),
    )
    w_asc = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return (
        factors.select(
            "t", "n_risk", "d_events",
            F.collect_list("factor").over(w_asc).alias("fs"),
        )
        .select(
            F.col("t").cast("long").alias("t"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d_events").cast("long").alias("d_events"),
            F.aggregate(
                "fs",
                F.lit(1000000).cast("long"),
                lambda acc, x: F.floor(
                    (acc * x) / F.lit(1000000.0)
                ).cast("long"),
            ).alias("surv_milli"),
        )
        .orderBy("t")
    )


SURVIVAL_KM_CURVE_ORACLE = """
WITH buys AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
           AS day
  FROM events WHERE event_type = 'purchase'),
horizon AS (SELECT max(day) AS max_day FROM buys),
gaps AS (
  SELECT day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS t,
         1 AS observed
  FROM buys),
censored AS (
  SELECT h.max_day - max(b.day) AS t, 0 AS observed
  FROM buys b CROSS JOIN horizon h
  GROUP BY b.user_id, h.max_day),
subjects AS (
  SELECT t, observed FROM gaps WHERE t IS NOT NULL
  UNION ALL
  SELECT t, observed FROM censored WHERE t >= 1),
per_t AS (
  SELECT t, count(*) AS n_at, CAST(sum(observed) AS BIGINT) AS d_events
  FROM subjects GROUP BY t),
risk AS (
  SELECT t, d_events,
         CAST(sum(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS n_risk
  FROM per_t QUALIFY d_events >= 1),
factors AS (
  SELECT t, n_risk, d_events,
         (n_risk - d_events) * 1000000 // n_risk AS factor
  FROM risk),
curve AS (
  SELECT t, n_risk, d_events,
         list(factor) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS fs
  FROM factors)
SELECT CAST(t AS BIGINT) AS t,
       n_risk,
       d_events,
       CAST(list_reduce(
         list_prepend(CAST(1000000 AS BIGINT),
                      list_transform(fs, f -> CAST(f AS BIGINT))),
         (acc, x) -> (acc * x) // 1000000) AS BIGINT) AS surv_milli
FROM curve ORDER BY t
"""


# ---------------------------------------------------------------------------
# Degree assortativity of the co-activity graph
# ---------------------------------------------------------------------------

def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over the edges of the user co-activity graph —
    positive means hubs link to hubs (social cores), negative means
    hub-and-spoke (broadcast/bot patterns). Uses the same edge
    definition as ``pagerank_coactivity`` so the graph family reads one
    topology.

    Scale shape: degrees are one edge-keyed aggregate; endpoint degrees
    attach with two joins against the node-cardinality degree table
    (broadcastable — tiny next to edges); the correlation is a single
    reduce. Determinism: degree sums are exact-in-double integers, the
    closed-form correlation performs identical IEEE ops in both engines,
    and sqrt is correctly-rounded per IEEE 754; output floor-quantized
    to millionths.

    The edge list is built once inside ``_coactivity_edges`` (r12): it
    feeds the degree aggregate and the xy join, and without it each
    consumer's lineage re-derives the co-activity self-join from the
    scan (6 parquet scans in the round-start plan)."""
    ev = _t(spark, sf_dir, "events")
    edges = _coactivity_edges(ev)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    xy = (
        edges.join(
            F.broadcast(deg.select(F.col("src"), F.col("deg").alias("dx"))),
            "src",
        )
        .join(
            F.broadcast(
                deg.select(
                    F.col("src").alias("dst"), F.col("deg").alias("dy")
                )
            ),
            "dst",
        )
        .select("dx", "dy")
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_edges"),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
            * F.lit(1000000.0)
        ).cast("long").alias("assortativity_micro"),
    )


DEGREE_ASSORTATIVITY_ORACLE = """
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
xy AS (
  SELECT dl.deg AS dx, dr.deg AS dy
  FROM edges e
  JOIN deg dl ON e.src = dl.src
  JOIN deg dr ON e.dst = dr.src),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(dx) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(dy) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(sum(dx * dy) AS BIGINT) AS DOUBLE) AS sxy,
         CAST(CAST(sum(dx * dx) AS BIGINT) AS DOUBLE) AS sxx,
         CAST(CAST(sum(dy * dy) AS BIGINT) AS DOUBLE) AS syy
  FROM xy)
SELECT CAST(n AS BIGINT) AS n_edges,
       CAST(floor((n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                  * 1000000.0) AS BIGINT) AS assortativity_micro
FROM s
"""


# ---------------------------------------------------------------------------
# Discount-uplift OLS slope per brand
# ---------------------------------------------------------------------------

def discount_uplift_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of order quantity on discount depth — the
    first-cut price-elasticity proxy (how many extra centi-units a basis
    point of discount buys). Closed-form least squares over integer-
    quantized (discount bp, quantity centi-units) points.

    Scale shape: lineitem joins the part dimension BROADCAST to pick up
    the brand, then one brand-keyed aggregate computes the five OLS
    sums — map-side combinable, one shuffle of 25 groups. Determinism:
    quantized sums below 2^53 are exact in doubles; identical IEEE
    arithmetic both engines; floor-quantized output."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(round(l_discount * 10000) as bigint)").alias("x"),
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("y"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    s = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        )
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.where(den != 0)
        .select(
            "p_brand",
            F.col("n").cast("long").alias("n_lines"),
            F.floor(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / den * F.lit(1000000.0)
            ).cast("long").alias("slope_micro"),
        )
        .orderBy("p_brand")
    )


DISCOUNT_UPLIFT_SLOPE_ORACLE = """
WITH pts AS (
  SELECT p.p_brand,
         CAST(round(l.l_discount * 10000) AS BIGINT) AS x,
         CAST(round(l.l_quantity * 100) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
s AS (
  SELECT p_brand,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
         CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx
  FROM pts GROUP BY p_brand)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_lines,
       CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000.0)
            AS BIGINT) AS slope_micro
FROM s WHERE n * sxx - sx * sx <> 0
ORDER BY p_brand
"""


MODELING_QUERIES = {
    "zipf_token_slope": zipf_token_slope,
    "heaps_vocab_curve": heaps_vocab_curve,
    "concurrent_sessions_timeline": concurrent_sessions_timeline,
    "incremental_agg_merge": incremental_agg_merge,
    "survival_km_curve": survival_km_curve,
    "degree_assortativity": degree_assortativity,
    "discount_uplift_slope": discount_uplift_slope,
}

MODELING_ORACLES = {
    "zipf_token_slope": ZIPF_TOKEN_SLOPE_ORACLE,
    "heaps_vocab_curve": HEAPS_VOCAB_CURVE_ORACLE,
    "concurrent_sessions_timeline": CONCURRENT_SESSIONS_ORACLE,
    "incremental_agg_merge": INCREMENTAL_AGG_MERGE_ORACLE,
    "survival_km_curve": SURVIVAL_KM_CURVE_ORACLE,
    "degree_assortativity": DEGREE_ASSORTATIVITY_ORACLE,
    "discount_uplift_slope": DISCOUNT_UPLIFT_SLOPE_ORACLE,
}


# ===========================================================================
# Round-5 batch 2: retrieval fusion, merchandising, audience analytics
# ===========================================================================

#: RRF constant (Cormack, Clarke & Buettcher 2009) and per-ranker depth
RRF_K = 60
RRF_DEPTH = 100

#: query tokens for the fusion demo (match bm25-style retrieval over the
#: synthetic corpus vocabulary)
RRF_QUERY = ("data", "stream", "window")

#: ABC classification cumulative-share cutoffs, in basis points
ABC_A_BP = 8000
ABC_B_BP = 9500

#: also-bought: anchors and recommendations per anchor
ALSO_BOUGHT_ANCHORS = 50
ALSO_BOUGHT_N = 3

#: burst detector: rolling window seconds and flag threshold
BURST_WINDOW_S = 60
BURST_MIN_EVENTS = 2

#: order-batching gap (7 days)
BATCH_GAP_MS = 7 * 86_400_000


def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankers over the document
    corpus: ranker A scores query-token occurrences, ranker B scores
    vocabulary richness (distinct tokens), and the fused list is
    RRF(d) = sum_i 1/(60 + rank_i(d)) over each ranker's top-100 — the
    standard zero-tuning ensemble for heterogeneous rankers (Cormack et
    al. 2009). Documents outside a ranker's top-100 contribute nothing,
    which is the real deployment semantics (rankers return bounded
    lists, not corpus-wide scores).

    Scale shape: each ranker reduces the corpus to a per-doc scalar
    (one agg), cuts to top-100 via TakeOrderedAndProject, and only the
    two 100-row lists join (full-outer on doc_id) — corpus-size
    independent fusion. Determinism: contributions are exact integers,
    1e6 div (60 + rank)."""
    toks = with_tokens(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.explode("tokens").alias("token")
    )
    score_a = (
        toks.where(F.col("token").isin(*RRF_QUERY))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sa"))
    )
    score_b = toks.groupBy("doc_id").agg(
        F.countDistinct("token").alias("sb")
    )

    def top_ranks(df: DataFrame, score: str, out: str) -> DataFrame:
        top = df.orderBy(
            F.col(score).desc(), F.col("doc_id").asc()
        ).limit(RRF_DEPTH)
        return top.select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col(score).desc(), F.col("doc_id").asc()))
            .alias(out),
        )

    ra = top_ranks(score_a, "sa", "rank_a")
    rb = top_ranks(score_b, "sb", "rank_b")
    contrib = (
        ra.join(rb, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("rank_a", F.lit(0)).alias("rank_a"),
            F.coalesce("rank_b", F.lit(0)).alias("rank_b"),
            (
                F.when(
                    F.col("rank_a").isNotNull(),
                    F.expr(f"1000000 div ({RRF_K} + rank_a)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("rank_b").isNotNull(),
                    F.expr(f"1000000 div ({RRF_K} + rank_b)"),
                ).otherwise(F.lit(0))
            ).alias("rrf_e6"),
        )
    )
    return (
        contrib.orderBy(F.col("rrf_e6").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id", "rank_a", "rank_b", "rrf_e6",
            F.row_number()
            .over(W.orderBy(F.col("rrf_e6").desc(), F.col("doc_id").asc()))
            .alias("fused_rank"),
        )
    )


_RRF_IN = ", ".join(f"'{t}'" for t in RRF_QUERY)

RECIPROCAL_RANK_FUSION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents),
sa AS (
  SELECT doc_id, count(*) AS s FROM toks
  WHERE token IN ({_RRF_IN}) GROUP BY doc_id),
sb AS (
  SELECT doc_id, count(DISTINCT token) AS s FROM toks GROUP BY doc_id),
ra AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_a
  FROM sa QUALIFY rank_a <= {RRF_DEPTH}),
rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_b
  FROM sb QUALIFY rank_b <= {RRF_DEPTH}),
fused AS (
  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         coalesce(rank_a, 0) AS rank_a,
         coalesce(rank_b, 0) AS rank_b,
         CASE WHEN rank_a IS NULL THEN 0
              ELSE 1000000 // ({RRF_K} + rank_a) END
         + CASE WHEN rank_b IS NULL THEN 0
                ELSE 1000000 // ({RRF_K} + rank_b) END AS rrf_e6
  FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rank_a AS INTEGER) AS rank_a,
       CAST(rank_b AS INTEGER) AS rank_b,
       CAST(rrf_e6 AS BIGINT) AS rrf_e6,
       CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id)
            AS INTEGER) AS fused_rank
FROM fused QUALIFY fused_rank <= 20 ORDER BY fused_rank
"""


def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts sorted by revenue, class A
    while the running revenue share stays within 80%, B to 95%, C for
    the tail — the merchandising triage behind stocking policy. Output
    is the bounded 3-row class summary.

    Scale shape: revenue reduces per part first (map-side combinable);
    the cumulative window runs over the PART DIMENSION (bounded — same
    documented ceiling as revenue_concentration). Exact integer cents
    and basis points throughout."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "cast(round(l_extendedprice * (1 - l_discount) * 100) "
                "as bigint)"
            )
        ).alias("cents")
    )
    w_cum = W.orderBy(
        F.col("cents").desc(), F.col("l_partkey").asc()
    ).rowsBetween(W.unboundedPreceding, 0)
    total = per_part.agg(F.sum("cents").alias("total_cents"))
    classed = (
        per_part.select(
            "cents", F.sum("cents").over(w_cum).alias("cum_cents")
        )
        .crossJoin(F.broadcast(total))
        .select(
            "cents",
            F.expr("cum_cents * 10000 div total_cents").alias("cum_bp"),
        )
        .select(
            "cents",
            F.when(F.col("cum_bp") <= ABC_A_BP, "A")
            .when(F.col("cum_bp") <= ABC_B_BP, "B")
            .otherwise("C").alias("abc_class"),
        )
    )
    out = classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("revenue_cents"),
    )
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "abc_class", "n_parts", "revenue_cents",
            F.expr("revenue_cents * 10000 div total_cents")
            .alias("share_bp"),
        )
        .orderBy("abc_class")
    )


ABC_CLASSIFICATION_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey),
total AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM per_part),
cum AS (
  SELECT cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_cents
  FROM per_part),
classed AS (
  SELECT cents,
         CASE WHEN cum_cents * 10000 // t.total_cents <= {ABC_A_BP}
                THEN 'A'
              WHEN cum_cents * 10000 // t.total_cents <= {ABC_B_BP}
                THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum CROSS JOIN total t)
SELECT abc_class,
       count(*) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(sum(cents) AS BIGINT) * 10000 // t.total_cents AS share_bp
FROM classed CROSS JOIN total t
GROUP BY abc_class, t.total_cents ORDER BY abc_class
"""


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day split of activity into NEW users (first ever seen that
    day) vs RETURNING — the growth-accounting view every product
    dashboard leads with.

    Scale shape: first-seen day is one user-keyed min-aggregate; it
    joins back to the per-(user, day) reduced activity (not raw
    events), then a bounded per-day aggregate. Integers only."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_date(F.to_date("ts")).alias("day")
    )
    user_days = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    first_day = user_days.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    return (
        user_days.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                (F.col("day") == F.col("first_day")).cast("long")
            ).alias("new_users"),
            F.sum(
                (F.col("day") > F.col("first_day")).cast("long")
            ).alias("returning_users"),
            F.sum(
                F.when(
                    F.col("day") == F.col("first_day"), F.col("n_events")
                ).otherwise(F.lit(0))
            ).alias("new_user_events"),
            F.sum(
                F.when(
                    F.col("day") > F.col("first_day"), F.col("n_events")
                ).otherwise(F.lit(0))
            ).alias("returning_events"),
        )
        .orderBy("day")
    )


NEW_VS_RETURNING_ORACLE = """
WITH user_days AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
           AS day,
         count(*) AS n_events
  FROM events GROUP BY 1, 2),
first_day AS (
  SELECT user_id, min(day) AS first_day FROM user_days GROUP BY user_id)
SELECT day,
       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users,
       CAST(sum(CASE WHEN day = first_day THEN n_events ELSE 0 END)
            AS BIGINT) AS new_user_events,
       CAST(sum(CASE WHEN day > first_day THEN n_events ELSE 0 END)
            AS BIGINT) AS returning_events
FROM user_days JOIN first_day USING (user_id)
GROUP BY day ORDER BY day
"""


def user_decile_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "whale curve": users bucketed into activity deciles (ntile
    over per-user event counts), with each decile's share of total
    activity in basis points — how top-heavy the audience is.

    Scale shape: per-user counts reduce first; the ntile window runs
    over the USER DIMENSION (node-cardinality, the documented bounded
    window); output is 10 rows. Ties break on user_id so bucket
    boundaries are deterministic in both engines."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = per_user.agg(F.sum("cnt").alias("total"))
    deciled = per_user.select(
        "cnt",
        F.ntile(10)
        .over(W.orderBy(F.col("cnt").desc(), F.col("user_id").asc()))
        .alias("decile"),
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cnt").alias("events"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile", "n_users", "events",
            F.expr("events * 10000 div total").alias("share_bp"),
        )
        .orderBy("decile")
    )


USER_DECILE_CURVE_ORACLE = """
WITH per_user AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM per_user),
deciled AS (
  SELECT cnt, ntile(10) OVER (ORDER BY cnt DESC, user_id) AS decile
  FROM per_user)
SELECT CAST(decile AS INTEGER) AS decile,
       count(*) AS n_users,
       CAST(sum(cnt) AS BIGINT) AS events,
       CAST(sum(cnt) AS BIGINT) * 10000 // t.total AS share_bp
FROM deciled CROSS JOIN total t
GROUP BY decile, t.total ORDER BY decile
"""


def also_bought_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item co-purchase recommendations: for each of the 50
    most-ordered parts, the top-3 parts that co-occur with it in the
    same orders — the classic "customers also bought" primitive
    (Linden, Smith & York 2003).

    Scale shape: the pair join keys on o_orderkey, so pair counts are
    bounded by (order size)^2 per order, never corpus^2; anchors cut to
    a bounded set via TakeOrderedAndProject BEFORE the pair table
    filters on them (broadcast semi-join); the per-anchor rank window
    partitions on the anchor. Integers only."""
    op = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    anchors = (
        op.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("l_partkey").asc())
        .limit(ALSO_BOUGHT_ANCHORS)
        .select(F.col("l_partkey").alias("anchor"))
    )
    pairs = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("anchor"),
            F.col("b.l_partkey").alias("reco"),
        )
        .join(F.broadcast(anchors), "anchor", "left_semi")
        .groupBy("anchor", "reco")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    w_rank = W.partitionBy("anchor").orderBy(
        F.col("n_both").desc(), F.col("reco").asc()
    )
    return (
        pairs.select(
            "anchor", "reco", "n_both",
            F.row_number().over(w_rank).alias("rnk"),
        )
        .where(F.col("rnk") <= ALSO_BOUGHT_N)
        .orderBy("anchor", "rnk")
    )


ALSO_BOUGHT_TOPN_ORACLE = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
anchors AS (
  SELECT l_partkey AS anchor
  FROM op GROUP BY l_partkey
  ORDER BY count(*) DESC, l_partkey LIMIT {ALSO_BOUGHT_ANCHORS}),
pairs AS (
  SELECT a.l_partkey AS anchor, b.l_partkey AS reco,
         count(*) AS n_both
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_partkey IN (SELECT anchor FROM anchors)
  GROUP BY 1, 2),
ranked AS (
  SELECT anchor, reco, n_both,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY n_both DESC, reco) AS rnk
  FROM pairs)
SELECT anchor, reco, CAST(n_both AS BIGINT) AS n_both,
       CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= {ALSO_BOUGHT_N} ORDER BY anchor, rnk
"""


def burst_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity anomaly flags: users whose event rate ever hit
    >= BURST_MIN_EVENTS inside a rolling 60-second window — the
    fraud/bot tripwire that inter-arrival averages (burstiness CV)
    smooth away.

    Scale shape: ONE user-partitioned RANGE window over event seconds
    (each row counts its trailing 60 s), then a per-user max — no
    self-join. RANGE frames on integer seconds behave identically in
    both engines."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_millis("ts") / 1000).cast("long").alias("sec"),
    )
    w_range = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(BURST_WINDOW_S - 1), 0)
    )
    rolled = ev.select(
        "user_id", F.count(F.lit(1)).over(w_range).alias("in_window")
    )
    return (
        rolled.groupBy("user_id")
        .agg(F.max("in_window").alias("max_in_60s"))
        .where(F.col("max_in_60s") >= BURST_MIN_EVENTS)
        .orderBy("user_id")
    )


BURST_VELOCITY_FLAGS_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) // 1000 AS sec FROM events),
rolled AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY sec
                        RANGE BETWEEN {BURST_WINDOW_S - 1} PRECEDING
                        AND CURRENT ROW) AS in_window
  FROM ev)
SELECT user_id, CAST(max(in_window) AS BIGINT) AS max_in_60s
FROM rolled GROUP BY user_id
HAVING max(in_window) >= {BURST_MIN_EVENTS}
ORDER BY user_id
"""


def order_batching_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-consolidation opportunity: per-customer order "batches"
    (orders within 7 days of the previous one — ``session_window`` on
    the order date), summarized as a batch-size histogram. Multi-order
    batches are shipments that could have been consolidated.

    Scale shape: one customer-keyed session_window over the ORDERS
    table (far smaller than lineitem), then a bounded histogram.
    Boundary convention: the gap-islands oracle splits strictly on
    > 7 days, matching session_window's merge-at-exact-gap semantics
    (pinned by tests/test_session_boundary.py)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("timestamp").alias("ots")
    )
    batches = orders.groupBy(
        F.session_window("ots", "7 days").alias("sw"), "o_custkey"
    ).agg(F.count(F.lit(1)).alias("batch_size"))
    total = batches.agg(F.count(F.lit(1)).alias("total"))
    return (
        batches.groupBy("batch_size")
        .agg(F.count(F.lit(1)).alias("n_batches"))
        .crossJoin(F.broadcast(total))
        .select(
            "batch_size", "n_batches",
            F.expr("n_batches * 10000 div total").alias("share_bp"),
        )
        .orderBy("batch_size")
    )


ORDER_BATCHING_WINDOWS_ORACLE = f"""
WITH ordered AS (
  SELECT o_custkey, epoch_ms(o_orderdate) AS t,
         CASE WHEN epoch_ms(o_orderdate) - lag(epoch_ms(o_orderdate))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
              > {BATCH_GAP_MS}
              OR lag(o_orderdate) OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) IS NULL
              THEN 1 ELSE 0 END AS new_batch
  FROM orders),
islands AS (
  SELECT o_custkey,
         sum(new_batch) OVER (PARTITION BY o_custkey ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS bid
  FROM ordered),
batches AS (
  SELECT count(*) AS batch_size FROM islands GROUP BY o_custkey, bid),
total AS (SELECT count(*) AS total FROM batches)
SELECT CAST(batch_size AS BIGINT) AS batch_size,
       count(*) AS n_batches,
       count(*) * 10000 // t.total AS share_bp
FROM batches CROSS JOIN total t
GROUP BY batch_size, t.total ORDER BY batch_size
"""


MODELING_QUERIES.update({
    "reciprocal_rank_fusion": reciprocal_rank_fusion,
    "abc_classification": abc_classification,
    "new_vs_returning": new_vs_returning,
    "user_decile_curve": user_decile_curve,
    "also_bought_topn": also_bought_topn,
    "burst_velocity_flags": burst_velocity_flags,
    "order_batching_windows": order_batching_windows,
})

MODELING_ORACLES.update({
    "reciprocal_rank_fusion": RECIPROCAL_RANK_FUSION_ORACLE,
    "abc_classification": ABC_CLASSIFICATION_ORACLE,
    "new_vs_returning": NEW_VS_RETURNING_ORACLE,
    "user_decile_curve": USER_DECILE_CURVE_ORACLE,
    "also_bought_topn": ALSO_BOUGHT_TOPN_ORACLE,
    "burst_velocity_flags": BURST_VELOCITY_FLAGS_ORACLE,
    "order_batching_windows": ORDER_BATCHING_WINDOWS_ORACLE,
})


def session_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session conversion: the share of sessions (30-minute
    gap, same topology as the rest of the session family) containing at
    least one purchase — the revenue-side counterpart of bounce_rate.

    Scale shape: one user-keyed session_window aggregate computing the
    purchase flag with max(), then a bounded per-day rollup. Integer
    basis points."""
    ev = _t(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("converted")
        )
        .select(
            F.unix_date(F.to_date(F.col("sw.start"))).alias("day"),
            "converted",
        )
    )
    return (
        sessions.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").alias("n_converted"),
        )
        .select(
            "day", "n_sessions", "n_converted",
            F.expr("n_converted * 10000 div n_sessions")
            .alias("conversion_bp"),
        )
        .orderBy("day")
    )


SESSION_CONVERSION_RATE_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_type,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > {SESSION_GAP_MS}
              OR lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
islands AS (
  SELECT user_id, ts, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered),
sessions AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', min(ts)) AS DATE))
              AS BIGINT) AS day,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM islands GROUP BY user_id, sid)
SELECT day,
       count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       CAST(sum(converted) AS BIGINT) * 10000 // count(*)
         AS conversion_bp
FROM sessions GROUP BY day ORDER BY day
"""


MODELING_QUERIES["session_conversion_rate"] = session_conversion_rate
MODELING_ORACLES["session_conversion_rate"] = SESSION_CONVERSION_RATE_ORACLE


# ---------------------------------------------------------------------------
# Chi-square test of independence: order priority x order status
# ---------------------------------------------------------------------------

def chi2_independence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status — the standard contingency-table screen a feature
    audit runs before treating two categoricals as independent signals
    (Pearson 1900).

    Exact integer arithmetic end to end, following the benford_audit
    pattern (prep.py): with E = r*c/N, the cell statistic
    (obs-E)^2/E == (N*obs - r*c)^2 / (N*r*c), so the micro-unit value
    is one HUGEINT/DECIMAL(38) floor division per cell — no floats, no
    transcendentals, both engines exact (the square times 1e6 stays
    within 38 digits for N up to ~10^8 rows per cell pair; past that
    you would drop the micro scaling, not the method).

    Scale shape: ONE map-side-combinable count aggregate down to
    |priorities| x |statuses| cells (15 here, bounded by category
    cardinalities at any data size); the marginals are windows over
    that tiny cell table. Nothing else shuffles."""
    o = _t(spark, sf_dir, "orders")
    cell = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    cell = (
        cell.withColumn(
            "r_tot", F.sum("n_obs").over(W.partitionBy("o_orderpriority"))
        )
        .withColumn(
            "c_tot", F.sum("n_obs").over(W.partitionBy("o_orderstatus"))
        )
        .withColumn("n", F.sum("n_obs").over(W.partitionBy()))
    )
    diff = (
        "(cast(n as decimal(38,0)) * n_obs"
        " - cast(r_tot as decimal(38,0)) * c_tot)"
    )
    return cell.select(
        "o_orderpriority",
        "o_orderstatus",
        "n_obs",
        F.expr(
            "cast(1000000 * cast(r_tot as decimal(38,0)) * c_tot div n"
            " as bigint)"
        ).alias("exp_cnt_micro"),
        F.expr(
            f"cast(({diff} * {diff} * 1000000)"
            " div (cast(n as decimal(38,0)) * r_tot * c_tot) as bigint)"
        ).alias("chi2_micro"),
    ).orderBy("o_orderpriority", "o_orderstatus")


CHI2_INDEPENDENCE_AUDIT_ORACLE = """
WITH cell AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS n_obs
  FROM orders GROUP BY 1, 2),
w AS (
  SELECT o_orderpriority, o_orderstatus, n_obs,
         CAST(sum(n_obs) OVER (PARTITION BY o_orderpriority) AS HUGEINT)
           AS r_tot,
         CAST(sum(n_obs) OVER (PARTITION BY o_orderstatus) AS HUGEINT)
           AS c_tot,
         CAST(sum(n_obs) OVER () AS HUGEINT) AS n
  FROM cell)
SELECT o_orderpriority, o_orderstatus, CAST(n_obs AS BIGINT) AS n_obs,
       CAST(1000000 * r_tot * c_tot // n AS BIGINT) AS exp_cnt_micro,
       CAST(((n * n_obs - r_tot * c_tot) * (n * n_obs - r_tot * c_tot)
             * 1000000) // (n * r_tot * c_tot) AS BIGINT) AS chi2_micro
FROM w
ORDER BY o_orderpriority, o_orderstatus
"""


MODELING_QUERIES["chi2_independence_audit"] = chi2_independence_audit
MODELING_ORACLES["chi2_independence_audit"] = CHI2_INDEPENDENCE_AUDIT_ORACLE


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily order-count series
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7

_DAILY_ORDERS_SQL = (
    "SELECT o_orderdate AS d, count(*) AS v FROM orders GROUP BY 1"
)


def acf_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily order-count series (the
    Box-Jenkins ACF, computed over observed days) — the first
    diagnostic a forecasting pipeline runs to find weekly seasonality
    and mean-reversion.

    Determinism follows the degree_assortativity pattern: daily counts
    are small integers, so every sum (including sums of products) is
    EXACT in a double; the closed-form Pearson arithmetic performs
    identical IEEE operations in both engines, sqrt is correctly
    rounded per IEEE 754, and the output is floor-quantized to milli
    units. Zero-variance lags are filtered on BOTH sides.

    Scale shape: facts reduce to the per-day series with ONE
    map-combinable aggregate; the lead windows and per-lag sums run
    over the calendar-bounded daily table (a few thousand rows at ANY
    data size), so the unpartitioned window is bounded by the calendar,
    not the data."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("v")
    )
    w = W.orderBy("d")
    lagged = daily.select(
        "v",
        *[
            F.lead("v", k).over(w).alias(f"y{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stack_args = ", ".join(
        f"{k}, y{k}" for k in range(1, ACF_MAX_LAG + 1)
    )
    pairs = lagged.select(
        F.col("v").alias("x"),
        F.expr(f"stack({ACF_MAX_LAG}, {stack_args}) as (lag, y)"),
    ).where(F.col("y").isNotNull())
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return (
        s.where(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            "lag",
            F.col("n").cast("long").alias("n_pairs"),
            F.floor(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                )
                * F.lit(1000.0)
            ).cast("long").alias("acf_milli"),
        )
        .orderBy("lag")
    )


def _acf_oracle() -> str:
    lag_selects = "\n  UNION ALL ".join(
        f"SELECT {k} AS lag, v AS x, lead(v, {k}) OVER (ORDER BY d) AS y "
        "FROM daily"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS ({_DAILY_ORDERS_SQL}),
pairs AS (
  SELECT lag, x, y FROM ({lag_selects}) WHERE y IS NOT NULL),
s AS (
  SELECT lag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
         CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
         CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy
  FROM pairs GROUP BY lag)
SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       CAST(floor((n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                  * 1000.0) AS BIGINT) AS acf_milli
FROM s
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
ORDER BY lag
"""


ACF_DAILY_ORDERS_ORACLE = _acf_oracle()


# ---------------------------------------------------------------------------
# Single changepoint by binary segmentation over daily order counts
# ---------------------------------------------------------------------------

def changepoint_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection by binary segmentation (Scott &
    Knott 1974): the split of the daily order-count series that
    maximizes the between-segment SSE reduction — the first step of the
    standard changepoint recursion.

    Minimizing SSE_left + SSE_right is equivalent to maximizing
    (sum_L)^2/n_L + (sum_R)^2/n_R, which needs only cumulative integer
    sums — evaluated here in micro-units with one DECIMAL(38)/HUGEINT
    floor division per candidate (both engines identical, no floats).
    The reported gain is that score minus the no-split baseline
    (sum^2/n), so gain_micro >= 0 always.

    Scale shape: facts reduce to the calendar-bounded daily table
    first; cumulative sums are one window pass over it, and the argmax
    is a TakeOrdered(1) with a full deterministic tie-break (score
    desc, earliest day)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("v")
    )
    w = W.orderBy("d")
    cum = daily.select(
        "d",
        F.row_number().over(w).alias("i"),
        F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("s"),
        F.sum("v").over(
            W.orderBy("d").rangeBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("tot"),
        F.count(F.lit(1)).over(
            W.orderBy("d").rangeBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
    ).where(F.col("i") < F.col("n"))
    scored = cum.select(
        "d",
        F.col("i").alias("n_left"),
        (F.col("n") - F.col("i")).alias("n_right"),
        F.expr("s * 1000 div i").alias("left_mean_milli"),
        F.expr("(tot - s) * 1000 div (n - i)").alias("right_mean_milli"),
        F.expr(
            "(cast(s as decimal(38,0)) * s * 1000000) div i"
            " + (cast(tot - s as decimal(38,0)) * (tot - s) * 1000000)"
            " div (n - i)"
            " - (cast(tot as decimal(38,0)) * tot * 1000000) div n"
        ).cast("long").alias("gain_micro"),
    )
    return scored.orderBy(
        F.col("gain_micro").desc(), F.col("d").asc()
    ).limit(1)


CHANGEPOINT_DAILY_ORDERS_ORACLE = f"""
WITH daily AS ({_DAILY_ORDERS_SQL}),
cum AS (
  SELECT d,
         row_number() OVER (ORDER BY d) AS i,
         CAST(sum(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS s,
         CAST(sum(v) OVER () AS BIGINT) AS tot,
         count(*) OVER () AS n
  FROM daily),
scored AS (
  SELECT d, i AS n_left, n - i AS n_right,
         s * 1000 // i AS left_mean_milli,
         (tot - s) * 1000 // (n - i) AS right_mean_milli,
         CAST((s::HUGEINT * s * 1000000) // i
              + ((tot - s)::HUGEINT * (tot - s) * 1000000) // (n - i)
              - (tot::HUGEINT * tot * 1000000) // n AS BIGINT)
           AS gain_micro
  FROM cum WHERE i < n)
SELECT d, CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       left_mean_milli, right_mean_milli, gain_micro
FROM scored
ORDER BY gain_micro DESC, d ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Population stability index: price-mix drift between time halves
# ---------------------------------------------------------------------------

PSI_BINS = 10


def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index (the standard model-monitoring drift
    score) of the order-price mix between the first and second half of
    the order history: per equal-width price bin, the share in each
    half and the PSI term (p - q) * ln(p / q), Laplace-smoothed.

    Binning is integer-exact and anchor-based (global min/max cents as
    a broadcast 1-row anchor), NOT a global ntile sort — the shape that
    survives 100 TB. The only float op is one ln() per bin on a ratio
    of exact-in-double integers; per the repo's ln rule it is
    floor-quantized to micro-nats BEFORE the (integer) term product, so
    the bin rows hash-match across engines. psi_term_e10 is in 1e-10
    nats (bp share diff times micro-nats); sum(psi_term_e10)/1e10 is
    the PSI."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("cents"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("ms"),
    )
    anchor = base.agg(
        F.min("cents").alias("min_c"),
        F.max("cents").alias("max_c"),
        F.min("ms").alias("min_ms"),
        F.max("ms").alias("max_ms"),
    )
    binned = base.crossJoin(F.broadcast(anchor)).select(
        F.expr(
            f"least({PSI_BINS - 1}, (cents - min_c) * {PSI_BINS}"
            " div (max_c - min_c + 1))"
        ).alias("bin"),
        F.expr(
            "case when ms <= (min_ms + max_ms) div 2 then 1 else 0 end"
        ).alias("is_first"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("is_first").alias("n_first"),
        F.sum(F.lit(1) - F.col("is_first")).alias("n_second"),
    )
    tot = cells.select(
        F.sum("n_first").alias("np"), F.sum("n_second").alias("nq")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_first",
            "n_second",
            F.expr(
                f"(n_first + 1) * 10000 div (np + {PSI_BINS})"
            ).alias("p_bp"),
            F.expr(
                f"(n_second + 1) * 10000 div (nq + {PSI_BINS})"
            ).alias("q_bp"),
            F.expr(
                "cast(floor(ln("
                f"(cast((n_first + 1) * (nq + {PSI_BINS}) as double))"
                f" / (cast((n_second + 1) * (np + {PSI_BINS}) as double))"
                ") * 1000000.0) as bigint)"
            ).alias("ln_ratio_micro"),
        )
        .withColumn(
            "psi_term_e10",
            F.expr("(p_bp - q_bp) * ln_ratio_micro"),
        )
        .orderBy("bin")
    )


PSI_PRICE_DRIFT_ORACLE = f"""
WITH base AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         epoch_ms(o_orderdate) AS ms
  FROM orders),
anchor AS (
  SELECT min(cents) AS min_c, max(cents) AS max_c,
         min(ms) AS min_ms, max(ms) AS max_ms
  FROM base),
binned AS (
  SELECT least({PSI_BINS - 1},
               (cents - min_c) * {PSI_BINS} // (max_c - min_c + 1)) AS bin,
         CASE WHEN ms <= (min_ms + max_ms) // 2 THEN 1 ELSE 0 END
           AS is_first
  FROM base CROSS JOIN anchor),
cells AS (
  SELECT bin,
         CAST(sum(is_first) AS BIGINT) AS n_first,
         CAST(sum(1 - is_first) AS BIGINT) AS n_second
  FROM binned GROUP BY bin),
tot AS (
  SELECT CAST(sum(n_first) AS BIGINT) AS np,
         CAST(sum(n_second) AS BIGINT) AS nq
  FROM cells),
terms AS (
  SELECT bin, n_first, n_second,
         (n_first + 1) * 10000 // (np + {PSI_BINS}) AS p_bp,
         (n_second + 1) * 10000 // (nq + {PSI_BINS}) AS q_bp,
         CAST(floor(ln(
           ((n_first + 1) * (nq + {PSI_BINS}))::DOUBLE
           / ((n_second + 1) * (np + {PSI_BINS}))::DOUBLE
         ) * 1000000.0) AS BIGINT) AS ln_ratio_micro
  FROM cells CROSS JOIN tot)
SELECT bin, n_first, n_second, p_bp, q_bp, ln_ratio_micro,
       (p_bp - q_bp) * ln_ratio_micro AS psi_term_e10
FROM terms ORDER BY bin
"""


# ---------------------------------------------------------------------------
# Link prediction: common-neighbor / Jaccard scores on the co-activity graph
# ---------------------------------------------------------------------------

#: wedge-join hub cap: nodes with degree above this are excluded as the
#: SHARED neighbor (the wedge center) — the same superlinearity guard as
#: the LSH hot-shingle df-cap; candidate pairs stay near sum(deg^2) over
#: non-hub nodes instead of exploding on hubs.
LP_HUB_CAP = 200
LP_TOP_K = 20


def link_prediction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    on the user co-activity graph: the top-20 NON-adjacent user pairs
    by shared-neighbor count, with the neighborhood-Jaccard score in
    basis points — the classic "users who should know each other"
    recommender primitive.

    Scale shape: candidates come from the wedge self-join through the
    shared neighbor (edges joined on the center node), which is the
    linear-in-sum(deg^2) shape — hubs above LP_HUB_CAP are excluded as
    centers so one celebrity node cannot quadratically explode the
    candidate set (df-cap analog). Existing edges leave via a broadcast
    anti-join; endpoint degrees attach via broadcast; the final cut is
    TakeOrdered(20) with a full deterministic tie-break. Integer
    arithmetic end to end.

    The edge list is built once inside ``_coactivity_edges`` (r12): six
    consumers (both wedge sides, the anti-join, the degree aggregate
    reused three ways) each re-derived the co-activity self-join from
    the scan otherwise (12 parquet scans / 24 exchanges in the
    round-start plan)."""
    ev = _t(spark, sf_dir, "events")
    edges = _coactivity_edges(ev)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.where(F.col("deg") <= LP_HUB_CAP).select(
        F.col("src").alias("w")
    )
    e1 = edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    e2 = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = (
        e1.join(F.broadcast(centers), "w")
        .join(e2, "w")
        .where(F.col("u") < F.col("v"))
    )
    cn = wedges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("cn"))
    non_adj = cn.join(
        edges.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ),
        ["u", "v"],
        "left_anti",
    )
    return (
        non_adj.join(
            F.broadcast(
                deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
            ),
            "u",
        )
        .join(
            F.broadcast(
                deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
            ),
            "v",
        )
        .select(
            "u",
            "v",
            "cn",
            "deg_u",
            "deg_v",
            F.expr("cn * 10000 div (deg_u + deg_v - cn)").alias(
                "jaccard_bp"
            ),
        )
        .orderBy(F.col("cn").desc(), "u", "v")
        .limit(LP_TOP_K)
    )


LINK_PREDICTION_TOPK_ORACLE = f"""
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
centers AS (SELECT src AS w FROM deg WHERE deg <= {LP_HUB_CAP}),
wedges AS (
  SELECT e1.src AS u, e2.src AS v
  FROM edges e1
  JOIN centers c ON e1.dst = c.w
  JOIN edges e2 ON e2.dst = e1.dst
  WHERE e1.src < e2.src),
cn AS (SELECT u, v, count(*) AS cn FROM wedges GROUP BY u, v),
non_adj AS (
  SELECT cn.* FROM cn
  LEFT JOIN edges e ON cn.u = e.src AND cn.v = e.dst
  WHERE e.src IS NULL)
SELECT n.u, n.v, CAST(n.cn AS BIGINT) AS cn,
       CAST(du.deg AS BIGINT) AS deg_u,
       CAST(dv.deg AS BIGINT) AS deg_v,
       n.cn * 10000 // (du.deg + dv.deg - n.cn) AS jaccard_bp
FROM non_adj n
JOIN deg du ON n.u = du.src
JOIN deg dv ON n.v = dv.src
ORDER BY cn DESC, u, v
LIMIT {LP_TOP_K}
"""


MODELING_QUERIES.update(
    {
        "acf_daily_orders": acf_daily_orders,
        "changepoint_daily_orders": changepoint_daily_orders,
        "psi_price_drift": psi_price_drift,
        "link_prediction_topk": link_prediction_topk,
    }
)
MODELING_ORACLES.update(
    {
        "acf_daily_orders": ACF_DAILY_ORDERS_ORACLE,
        "changepoint_daily_orders": CHANGEPOINT_DAILY_ORDERS_ORACLE,
        "psi_price_drift": PSI_PRICE_DRIFT_ORACLE,
        "link_prediction_topk": LINK_PREDICTION_TOPK_ORACLE,
    }
)


# ---------------------------------------------------------------------------
# Kendall rank stability of part revenue across history halves
# ---------------------------------------------------------------------------

KENDALL_TOP_PARTS = 100


def kendall_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a rank correlation between part revenue rankings in
    the first vs second half of the shipment history — the assortment-
    stability score a merchandiser reads before trusting last period's
    ranking ("did the bestseller order actually persist?").

    Kendall tau is the integer-native rank correlation: count
    concordant and discordant pairs (no ties — both rankings tie-break
    on partkey) and scale; no floats anywhere. Scale shape: revenue
    reduces per (part, half) map-combinably; the pair enumeration runs
    only over the broadcast top-{K} anchor set (bounded K^2/2 pairs,
    never |parts|^2); the verdict is a 1-row aggregate."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "cast(floor(l_extendedprice * 100) as bigint)"
        ).alias("cents"),
        F.unix_millis(F.col("l_shipdate").cast("timestamp")).alias("ms"),
    )
    anchor = li.agg(
        F.min("ms").alias("min_ms"), F.max("ms").alias("max_ms")
    )
    halved = li.crossJoin(F.broadcast(anchor)).select(
        "l_partkey",
        "cents",
        F.expr(
            "case when ms <= (min_ms + max_ms) div 2 then 1 else 0 end"
        ).alias("h"),
    )
    per_part = halved.groupBy("l_partkey").agg(
        F.sum(F.expr("case when h = 1 then cents else 0 end")).alias(
            "rev1"
        ),
        F.sum(F.expr("case when h = 0 then cents else 0 end")).alias(
            "rev2"
        ),
        F.sum("cents").alias("rev_total"),
    )
    top = per_part.orderBy(
        F.col("rev_total").desc(), F.col("l_partkey")
    ).limit(KENDALL_TOP_PARTS)
    ranked = top.select(
        "l_partkey",
        F.row_number()
        .over(W.orderBy(F.col("rev1").desc(), F.col("l_partkey")))
        .alias("r1"),
        F.row_number()
        .over(W.orderBy(F.col("rev2").desc(), F.col("l_partkey")))
        .alias("r2"),
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.l_partkey") < F.col("b.l_partkey")
    ).select(
        F.expr(
            "case when (a.r1 - b.r1) * (a.r2 - b.r2) > 0"
            " then 1 else 0 end"
        ).alias("conc")
    )
    # actual anchor-set size, not the LIMIT constant — a catalog with
    # fewer than KENDALL_TOP_PARTS parts must report what it ranked
    n_parts = ranked.agg(
        F.count(F.lit(1)).cast("int").alias("n_parts")
    )
    return (
        pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.coalesce(F.sum("conc"), F.lit(0)).alias("concordant"),
            F.coalesce(
                F.sum(F.lit(1) - F.col("conc")), F.lit(0)
            ).alias("discordant"),
        )
        .crossJoin(F.broadcast(n_parts))
        .select(
            "n_parts",
            "n_pairs",
            "concordant",
            "discordant",
            # <2 parts => 0 pairs: tau undefined, report NULL not a
            # divide-by-zero
            F.expr(
                "case when n_pairs > 0 then"
                " (concordant - discordant) * 1000 div n_pairs"
                " else null end"
            ).alias("tau_milli"),
        )
    )


KENDALL_RANK_STABILITY_ORACLE = f"""
WITH li AS (
  SELECT l_partkey,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
         epoch_ms(l_shipdate) AS ms
  FROM lineitem),
anchor AS (SELECT min(ms) AS min_ms, max(ms) AS max_ms FROM li),
halved AS (
  SELECT l_partkey, cents,
         CASE WHEN ms <= (min_ms + max_ms) // 2 THEN 1 ELSE 0 END AS h
  FROM li CROSS JOIN anchor),
per_part AS (
  SELECT l_partkey,
         CAST(sum(CASE WHEN h = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS rev1,
         CAST(sum(CASE WHEN h = 0 THEN cents ELSE 0 END) AS BIGINT)
           AS rev2,
         CAST(sum(cents) AS BIGINT) AS rev_total
  FROM halved GROUP BY l_partkey),
top AS (
  SELECT * FROM per_part
  ORDER BY rev_total DESC, l_partkey LIMIT {KENDALL_TOP_PARTS}),
ranked AS (
  SELECT l_partkey,
         row_number() OVER (ORDER BY rev1 DESC, l_partkey) AS r1,
         row_number() OVER (ORDER BY rev2 DESC, l_partkey) AS r2
  FROM top),
pairs AS (
  SELECT CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) > 0 THEN 1 ELSE 0 END
           AS conc
  FROM ranked a JOIN ranked b ON a.l_partkey < b.l_partkey)
SELECT CAST((SELECT count(*) FROM ranked) AS INT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(conc), 0) AS BIGINT) AS concordant,
       CAST(coalesce(sum(1 - conc), 0) AS BIGINT) AS discordant,
       CASE WHEN count(*) > 0 THEN
         (CAST(sum(conc) AS BIGINT) - CAST(sum(1 - conc) AS BIGINT)) * 1000
           // CAST(count(*) AS BIGINT)
       ELSE NULL END AS tau_milli
FROM pairs
"""


MODELING_QUERIES["kendall_rank_stability"] = kendall_rank_stability
MODELING_ORACLES["kendall_rank_stability"] = KENDALL_RANK_STABILITY_ORACLE


# ---------------------------------------------------------------------------
# Forecast-baseline backtest: MAE of the standard naive forecasters
# ---------------------------------------------------------------------------

FORECAST_EVAL_DAYS = 28
FORECAST_MEAN_WINDOW = 28


def forecast_baseline_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the three standard baseline forecasters on the daily
    order-count series — naive (yesterday), seasonal-naive (7 observed
    days back), and the trailing 28-day mean — scored by MAE and mean
    bias over the last 28 observed days. The honesty floor every real
    forecasting effort must beat (Hyndman & Athanasopoulos, 'Forecasting:
    Principles and Practice', ch. 5); pairs with ``acf_daily_orders``
    (which says WHETHER there is structure) and ``holt_trend``.

    Integer arithmetic end to end: forecasts are lagged integers (the
    trailing mean uses integer division), errors are exact, MAE/bias
    are milli-quantized integer divisions. Scale shape: facts reduce to
    the calendar-bounded daily table; everything after is windows over
    it."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("v")
    )
    w = W.orderBy("d")
    feat = daily.select(
        "v",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(
            W.orderBy("d").rangeBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
        F.lag("v", 1).over(w).alias("naive1"),
        F.lag("v", 7).over(w).alias("naive7"),
        F.expr(
            f"sum(v) over (order by d rows between {FORECAST_MEAN_WINDOW}"
            f" preceding and 1 preceding) div {FORECAST_MEAN_WINDOW}"
        ).alias("mean28"),
    )
    ev = feat.where(
        (F.col("i") > F.col("n") - FORECAST_EVAL_DAYS)
        & (F.col("i") > FORECAST_MEAN_WINDOW)
    )
    stacked = ev.select(
        "v",
        F.expr(
            "stack(3, 'mean28', mean28, 'naive1', naive1,"
            " 'naive7', naive7) as (method, f)"
        ),
    )
    return (
        stacked.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(F.abs(F.col("v") - F.col("f"))).alias("abs_err"),
            F.sum(F.col("v") - F.col("f")).alias("err"),
        )
        .select(
            "method",
            "n_eval",
            F.expr("abs_err * 1000 div n_eval").alias("mae_milli"),
            F.expr("err * 1000 div n_eval").alias("bias_milli"),
        )
        .orderBy("method")
    )


FORECAST_BASELINE_MAE_ORACLE = f"""
WITH daily AS ({_DAILY_ORDERS_SQL}),
feat AS (
  SELECT v,
         row_number() OVER (ORDER BY d) AS i,
         count(*) OVER () AS n,
         lag(v, 1) OVER (ORDER BY d) AS naive1,
         lag(v, 7) OVER (ORDER BY d) AS naive7,
         CAST(sum(v) OVER (ORDER BY d
              ROWS BETWEEN {FORECAST_MEAN_WINDOW} PRECEDING
              AND 1 PRECEDING) AS BIGINT) // {FORECAST_MEAN_WINDOW}
           AS mean28
  FROM daily),
ev AS (
  SELECT * FROM feat
  WHERE i > n - {FORECAST_EVAL_DAYS} AND i > {FORECAST_MEAN_WINDOW}),
stacked AS (
  SELECT 'naive1' AS method, v, naive1 AS f FROM ev
  UNION ALL SELECT 'naive7', v, naive7 FROM ev
  UNION ALL SELECT 'mean28', v, mean28 FROM ev)
SELECT method,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(abs(v - f)) AS BIGINT) * 1000 // count(*) AS mae_milli,
       CAST(sum(v - f) AS BIGINT) * 1000 // count(*) AS bias_milli
FROM stacked GROUP BY method ORDER BY method
"""


# ---------------------------------------------------------------------------
# Recommendation-quality audit: coverage and diversity of also-bought
# ---------------------------------------------------------------------------

def recs_coverage_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy recommender audit (Ge, Delgado & Jannach 2010)
    of the ``also_bought_topn`` lists: catalog coverage (share of the
    part catalog that appears in ANY list — low coverage means the
    recommender only ever shows bestsellers) and mean intra-list brand
    diversity (distinct brands per list).

    Scale shape: the rec lists are anchor-bounded by construction;
    both metrics are one aggregate over them plus a broadcast join to
    the part dimension for brands and a 1-row catalog count. Integer
    basis points. The brand-diversity chain and the distinct-reco
    count both read the rec lists, so the plan builds them twice; an
    interleaved A/B measured building them once slower at sf0.1 and on
    its 10x tier (it ran five more jobs than the second build)."""
    recs = also_bought_topn(spark, sf_dir)
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_brand")
    )
    with_brand = recs.join(
        F.broadcast(part),
        recs.reco == part.p_partkey,
    )
    per_anchor = with_brand.groupBy("anchor").agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.countDistinct("p_brand").alias("n_brands"),
    )
    catalog = part.agg(F.count(F.lit(1)).alias("n_catalog"))
    summary = per_anchor.agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.sum("n_recs").alias("n_recs_total"),
        F.sum(F.expr("n_brands * 10000 div n_recs")).alias(
            "div_bp_sum"
        ),
    )
    distinct_recs = recs.select("reco").distinct().agg(
        F.count(F.lit(1)).alias("n_distinct_recs")
    )
    return (
        summary.crossJoin(F.broadcast(distinct_recs))
        .crossJoin(F.broadcast(catalog))
        .select(
            "n_anchors",
            "n_recs_total",
            "n_distinct_recs",
            # guard: an empty part catalog has no coverage — NULL like
            # the oracle's `//` by zero, not an ANSI error (r9 sweep)
            F.when(
                F.col("n_catalog") > 0,
                F.expr("n_distinct_recs * 10000 div n_catalog"),
            ).alias("catalog_coverage_bp"),
            # same guard for zero anchors (oracle: NULL // 0 is NULL)
            F.when(
                F.col("n_anchors") > 0,
                F.expr("div_bp_sum div n_anchors"),
            ).alias("mean_brand_diversity_bp"),
        )
    )


def _recs_coverage_oracle() -> str:
    return f"""
WITH recs AS ({MODELING_ORACLES["also_bought_topn"]}),
with_brand AS (
  SELECT r.anchor, r.reco, p.p_brand
  FROM recs r JOIN part p ON r.reco = p.p_partkey),
per_anchor AS (
  SELECT anchor,
         CAST(count(*) AS BIGINT) AS n_recs,
         CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands
  FROM with_brand GROUP BY anchor),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_anchors,
         CAST(sum(n_recs) AS BIGINT) AS n_recs_total,
         CAST(sum(n_brands * 10000 // n_recs) AS BIGINT) AS div_bp_sum
  FROM per_anchor),
dr AS (SELECT CAST(count(DISTINCT reco) AS BIGINT)
         AS n_distinct_recs FROM recs),
cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM part)
SELECT n_anchors, n_recs_total, n_distinct_recs,
       n_distinct_recs * 10000 // n_catalog AS catalog_coverage_bp,
       div_bp_sum // n_anchors AS mean_brand_diversity_bp
FROM summary, dr, cat
"""


RECS_COVERAGE_DIVERSITY_ORACLE = _recs_coverage_oracle()


MODELING_QUERIES.update(
    {
        "forecast_baseline_mae": forecast_baseline_mae,
        "recs_coverage_diversity": recs_coverage_diversity,
    }
)
MODELING_ORACLES.update(
    {
        "forecast_baseline_mae": FORECAST_BASELINE_MAE_ORACLE,
        "recs_coverage_diversity": RECS_COVERAGE_DIVERSITY_ORACLE,
    }
)
