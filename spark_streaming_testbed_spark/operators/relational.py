"""Relational operator inventory (SURVEY.md §2) as idiomatic DataFrame plans.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching DuckDB oracle SQL lives in ``oracles.py``. Column names are
aligned between both so the driver's order-insensitive value-hash matches.

Design notes for 100 TB scale:
- every plan is fully declarative (Catalyst does pushdown/pruning/reorder);
- small dimensions are broadcast explicitly;
- no ``collect()`` on any data path (scalar anchors use window/cross-join
  of a 1-row aggregate, which Spark plans as a broadcast);
- doubles that feed the oracle hash are rounded to 6 dp at the very end.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.stats import stats_aggs
from ..session import fan_out, load_table

ROUND = 6


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A1/T1 — flagship: per-window per-key stats
# ---------------------------------------------------------------------------

def batch_stats(spark: SparkSession, sf_dir: str, window: str = "5 seconds",
                window_sec: int = 5) -> DataFrame:
    """Per-tumbling-window, per-key count/sum/mean/stddev_pop of ``value``.

    Rebuild of the reference's per-batch ``groupByKey().mapValues(stats)``
    (SimpleStreamingApp.scala:81,114-122) as an event-time tumbling window
    aggregation. The window start is emitted as epoch seconds so the DuckDB
    oracle can reproduce it without timezone ambiguity.
    """
    events = _t(spark, sf_dir, "events")
    return (
        events
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(*stats_aggs("value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type", "cnt", "sum_v", "mean_v", "stddev_v",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# P1 — parse-filter (drop unparseable): projection + filter in one
# ---------------------------------------------------------------------------

def parse_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the integer ``k`` from the JSON-ish ``props`` string, dropping
    rows that don't parse — rebuild of the reference's
    ``flatMap(line => Try(parseInt).toOption)`` (SimpleStreamingApp.scala:69)
    as ``regexp_extract`` + ``try_cast`` + null filter (stays in codegen)."""
    events = _t(spark, sf_dir, "events")
    k = F.expr(r"try_cast(regexp_extract(props, '\"k\": (\\d+)', 1) AS INT)")
    return (
        events.select("event_id", k.alias("k"))
        .where(F.col("k").isNotNull() & (F.col("k") % 2 == 0))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# P2/P9 — re-projection with stream id + TSV formatting
# ---------------------------------------------------------------------------

def tsv_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a constant stream id and format a TSV line — rebuild of the
    console sink's ``format(...)`` (SimpleStreamingApp.scala:106-108)."""
    events = _t(spark, sf_dir, "events")
    return (
        events
        .withColumn("stream_id", F.lit(0))
        .select(
            "event_id",
            F.concat_ws(
                "\t",
                F.col("event_id"),
                F.col("stream_id"),
                F.col("event_type"),
                F.col("value").cast("decimal(12,2)").cast("string"),
            ).alias("line"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# P5/J3 — time normalization via broadcast scalar anchor
# ---------------------------------------------------------------------------

def time_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize every timestamp to the first event — rebuild of
    ``TestData.timeShift`` (log-processor TestData.scala:81-92). The anchor
    is a 1-row aggregate cross-joined in; Spark broadcasts it (no driver
    collect, scales to any table size)."""
    events = _t(spark, sf_dir, "events")
    anchor = events.agg(F.min("ts").alias("t0"))
    return (
        events.crossJoin(F.broadcast(anchor))
        .select(
            "event_id",
            ((F.unix_micros(F.col("ts")) - F.unix_micros(F.col("t0"))) / F.lit(1000))
            .cast("bigint").alias("rel_ms"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# P6 — unit normalization (conditional scaling)
# ---------------------------------------------------------------------------

def unit_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MB→KB-style conditional normalization (RunLogData.scala:74-80):
    treat 'error' events as recorded in thousands and rescale."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            F.round(
                F.when(F.col("event_type") == "error", F.col("value") * 1024)
                .otherwise(F.col("value")),
                ROUND,
            ).alias("value_kb"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# P11 — cumulative counts (running totals)
# ---------------------------------------------------------------------------

def cumulative_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-key cumulative sum ordered by time — rebuild of the
    stacked/accumulated counts of ``TestData.accCountsWithMissing``
    (TestData.scala:155-168).

    TWO-PHASE cumsum, not a single per-key window: ``event_type`` has ~5
    distinct values, so ``partitionBy(event_type)`` alone would drag the
    whole table through ≤5 window partitions — a serialization point at
    100 TB. Instead rows are windowed within (event_type, day) — day is a
    prefix of the (ts, event_id) sort order, so per-day running values
    are correct — and the cross-day offsets come from a tiny per-(key,
    day) partial-aggregate table (|keys|·|days| rows), prefix-summed and
    broadcast back. Parallelism becomes |keys|·|days| instead of |keys|.
    Sums accumulate in decimal (exact, order-independent) so the
    re-association cannot drift against the oracle; one double cast at
    the end."""
    events = _t(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        "event_type",
        "ts",
        F.to_date("ts").alias("bkt"),
        F.col("value").cast("decimal(28,9)").alias("v"),
    )
    parts = base.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum("v").alias("p_sum"),
    )
    wb = (
        W.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = parts.select(
        "event_type",
        "bkt",
        F.coalesce(F.sum("p_cnt").over(wb), F.lit(0)).alias("off_cnt"),
        # off_sum stays RAW (NULL when no prior day carries a non-null
        # value): the single-window oracle's running sum is NULL until
        # the first non-null value, and the two-phase rebuild must
        # reproduce that — the final select re-associates with the
        # NULL-iff-both-NULL rule (r9 nulls sweep)
        F.sum("p_sum").over(wb).alias("off_sum"),
    )
    w = (
        W.partitionBy("event_type", "bkt")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # window first, broadcast-join the offsets after: the offset columns
    # ride only on the post-window rows instead of widening the shuffle
    within = base.select(
        "event_id",
        "event_type",
        "bkt",
        F.count(F.lit(1)).over(w).alias("in_cnt"),
        F.sum("v").over(w).alias("in_sum"),
    )
    # SQL running-sum null semantics: NULL until the first non-null
    # value in the partition prefix, thereafter nulls add nothing. The
    # two-phase split must re-associate the same way: NULL iff both the
    # in-day prefix sum and the prior-day offset are NULL; otherwise
    # treat the NULL side as 0 (exactly what the single window does).
    zero = F.lit(0).cast("decimal(28,9)")
    total = F.when(
        F.col("in_sum").isNull() & F.col("off_sum").isNull(),
        F.lit(None).cast("decimal(28,9)"),
    ).otherwise(
        F.coalesce("in_sum", zero) + F.coalesce("off_sum", zero)
    )
    return (
        within.join(F.broadcast(offsets), ["event_type", "bkt"])
        .select(
            "event_id",
            "event_type",
            (F.col("in_cnt") + F.col("off_cnt")).alias("running_cnt"),
            F.round(total.cast("double"), ROUND).alias("running_sum"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# A2 — value histogram per coarse tick
# ---------------------------------------------------------------------------

def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count per (day, event_type) — rebuild of the generator's per-tick
    value histogram (DataGeneratorActor.scala:64-66)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# A3 — per-second (here per-minute) rollup window
# ---------------------------------------------------------------------------

def per_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute rollup of event values per user — rebuild of the
    dropped/requested per-second rollups (TestData.scala:20-35)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), ROUND).alias("sum_v"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("minute_start"),
            "user_id", "cnt", "sum_v",
        )
        .orderBy("minute_start", "user_id")
    )


# ---------------------------------------------------------------------------
# A4 — dedup by key, keep first (by time)
# ---------------------------------------------------------------------------

def dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per user: the earliest event — rebuild of the batch-time dedup
    ``groupBy(_.batchTime).map(_._2.head)`` (RunLogData.scala:17-23) as a
    deterministic row_number window (NOT dropDuplicates, whose pick is
    partition-order dependent)."""
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# A5 — pivot (long → wide by key)
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts pivoted to one column per event type — rebuild
    of ``ExecutionMultipleValuesData.apply`` (RunLogData.scala:40-54).
    The pivot value list is explicit so the plan needs no extra pass to
    discover distinct keys (required for a streaming-safe / scale-safe plan).
    """
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# A6 — global min/max over a union of tables
# ---------------------------------------------------------------------------

def minmax_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global time extent across several tables — rebuild of
    ``TestData.minTime/maxTime`` (TestData.scala:119-140)."""
    events = _t(spark, sf_dir, "events").select(F.col("ts").alias("t"))
    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderdate").alias("t"))
    lineitem = _t(spark, sf_dir, "lineitem").select(F.col("l_shipdate").alias("t"))
    allt = events.unionByName(orders).unionByName(lineitem)
    return allt.agg(
        F.unix_timestamp(F.min("t")).alias("min_ts"),
        F.unix_timestamp(F.max("t")).alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# A7/O2/U3 — distinct key enumeration over a union of sources
# ---------------------------------------------------------------------------

def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct id domain from two sources — rebuild of the
    client-id domain ``(a.distinct ++: b.distinct).distinct``
    (TestData.scala:66)."""
    ev_users = _t(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    return ev_users.union(cust).distinct().orderBy("id")


# ---------------------------------------------------------------------------
# A8/O4 — top-k per group
# ---------------------------------------------------------------------------

def topk_per_group(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k events by value per event_type (window row_number ≤ k) —
    generalization of the reference's max-over-metric (Main.scala:126)."""
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        events.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("event_type", "rk", "event_id", "value")
        .orderBy("event_type", "rk")
    )


# ---------------------------------------------------------------------------
# J2 — full-outer join of two per-window rollups
# ---------------------------------------------------------------------------

def rollup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Align two per-day rollups (purchases vs errors) on day with a
    full-outer join — rebuild of the per-client dropped/requested alignment
    (TestData.scala:65-76) as a real relational join."""
    events = _t(spark, sf_dir, "events")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .groupBy(day).agg(F.count(F.lit(1)).alias("n_purchase"))
    )
    errors = (
        events.where(F.col("event_type") == "error")
        .groupBy(day).agg(F.count(F.lit(1)).alias("n_error"))
    )
    return (
        purchases.join(errors, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_purchase", F.lit(0)).alias("n_purchase"),
            F.coalesce("n_error", F.lit(0)).alias("n_error"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Broadcast dimension joins (star schema) — the 100 TB shape
# ---------------------------------------------------------------------------

def star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation: fact ⋈ broadcast dims. lineitem→orders→customer→
    nation with explicit broadcasts of the small sides."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders (anti) counted per market segment, plus the
    with-orders count (semi) — the EXISTS/NOT EXISTS shapes."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return (
        with_orders.join(without, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# TPC-H classics (engine credibility + bench workload)
# ---------------------------------------------------------------------------

def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (adapted to the testdata lineitem schema).

    The inputs carry 2 dp, so the four sums run over exact integer cents
    (products in 1e-4 and 1e-6 units) and do not depend on the order
    rows are summed in; a double sum can move a 2-dp rounding edge when
    the input is permuted. Only each group's total is scaled back, in
    DECIMAL, and rounded to 2 dp. The oracle does the same."""
    lineitem = _t(spark, sf_dir, "lineitem")

    def cents(col: str):
        return F.floor(F.col(col) * 100 + 0.5)

    def money_sum(units, scale: int):
        total = F.sum(units).cast("decimal(20,0)") * F.lit(Decimal(f"1e-{scale}"))
        return F.round(total, 2).cast("double")

    price = cents("l_extendedprice")
    disc_price = price * (100 - cents("l_discount"))
    charge = disc_price * (100 + cents("l_tax"))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(cents("l_quantity"), 2).alias("sum_qty"),
            money_sum(price, 2).alias("sum_base_price"),
            money_sum(disc_price, 4).alias("sum_disc_price"),
            money_sum(charge, 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), ROUND).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), ROUND).alias("avg_price"),
            F.round(F.avg("l_discount"), ROUND).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority (adapted: BUILDING segment, date cut)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1998-06-01").cast("timestamp")
    return (
        lineitem.where(F.col("l_shipdate") > cut)
        .join(orders.where(F.col("o_orderdate") < cut),
              lineitem.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(customer.where(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_s"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume (adapted): revenue per nation for
    orders in 1996, customer and supplier in the same nation. Dimension
    chain (supplier/nation) broadcasts; the fact joins shuffle once."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    y0 = F.lit("1996-01-01").cast("timestamp")
    y1 = F.lit("1997-01-01").cast("timestamp")
    return (
        lineitem
        .join(orders.where((F.col("o_orderdate") >= y0) & (F.col("o_orderdate") < y1)),
              lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting (adapted): top 20 customers by
    revenue lost to returns in 1996H1."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    y0 = F.lit("1996-01-01").cast("timestamp")
    y1 = F.lit("1996-07-01").cast("timestamp")
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(orders.where((F.col("o_orderdate") >= y0) & (F.col("o_orderdate") < y1)),
              lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select("c_custkey", "c_name", "n_name",
                F.round("c_acctbal", 2).alias("c_acctbal"), "revenue")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers (adapted): orders whose total
    quantity exceeds 150, with customer attribution — the aggregate-
    then-semi-join shape (the subquery never materializes wide rows)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_s"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "l_orderkey")
        .limit(100)
    )


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the skew-mitigation pattern, proven
    result-identical to a plain groupBy by the oracle.

    At 100 TB a 5-key groupBy funnels everything through 5 reducers; the
    fix is a synthetic salt: partial-aggregate on (key, salt) across 16×
    more reducers, then final-aggregate on key. Catalyst's partial aggs
    mitigate this for algebraic functions already, but the explicit salt
    is the general tool (works for collect-style and high-cardinality
    partials too)."""
    events = _t(spark, sf_dir, "events")
    salted = events.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = (
        salted.groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("s"))
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("c").alias("cnt"),
            F.round(F.sum("s"), ROUND).alias("sum_v"),
        )
        .orderBy("event_type")
    )


SALT_N = 16


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew JOIN — the join-side companion of
    :func:`skew_salted_agg`, proven result-identical to the plain join
    by the oracle.

    events.user_id is hot (~150 distinct keys over the whole fact
    table), so a plain shuffle join lands each hot key on ONE reducer.
    The general fix when the dimension is too big to broadcast: salt the
    FACT side deterministically (``pmod(xxhash64(event_id), S)``) and
    explode the DIM side ×S, joining on (key, salt) — every hot key's
    rows spread across S reducers, at the cost of S dim copies (still
    ≪ fact). AQE's skew-join handles sort-merge cases adaptively
    (``tests/test_scale_patterns.py``); the explicit salt is the
    deterministic tool that also works under AQE-hostile shapes.
    Plan gate: tests/test_plans.py::test_salted_join_spreads_hot_keys."""
    events = _t(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    salted = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_N)).cast("int")
    )
    dim_x = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_N)]))
    )
    return (
        salted.join(dim_x, ["user_id", "salt"])
        .groupBy("user_id", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND).alias("sum_v"),
        )
        .orderBy("user_id")
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, both R-7). The documented scale path swaps
    in ``percentile_approx`` (t-digest) when exactness isn't contractual."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), ROUND).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), ROUND).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), ROUND).alias("p75"),
            F.round(F.expr("percentile(value, 0.99)"), ROUND).alias("p99"),
        )
        .orderBy("event_type")
    )


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted to this schema: linestatus instead of
    shipmode): priority-class counts per linestatus for a ship-date year."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect (adapted: PROMO → p_type prefix match):
    conditional-aggregate ratio over a month of shipments."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.col("p_type").startswith("PROMO")
    joined = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    )
    return joined.agg(
        F.round(
            100.0 * F.sum(F.when(promo, rev).otherwise(0.0)) / F.sum(rev), 6
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: the correlated scalar
    subquery (< 0.2 × per-part average quantity), decorrelated the
    scalable way — one aggregation per part joined back to the fact."""
    lineitem = _t(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        lineitem.join(per_part, lineitem.l_partkey == per_part.pk)
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 disjunctive-predicate revenue (adapted brands/sizes):
    OR-of-ANDs over fact+dim attributes — the predicate-pushdown and
    join-then-filter planning case."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 35))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 50))
    )
    return j.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 10-minute windows every 5 minutes —
    each event lands in exactly two windows. The oracle materializes the
    same two buckets per row with unnest, proving Spark's sliding
    ``window()`` expansion."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), ROUND).alias("sum_v"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type", "cnt", "sum_v",
        )
        .orderBy("window_start", "event_type")
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type next to the
    exact count — the approx toolkit for when exactness isn't contractual
    at 100 TB. Oracle checks the EXACT column; the estimate is bounded by
    the rsd contract and tested relatively (not hashed)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        )
        .select(
            "event_type", "exact_users",
            # bounded sanity, not hashed: emit the relative error bucket
            (F.abs(F.col("approx_users") - F.col("exact_users"))
             <= F.col("exact_users") * 0.1).alias("within_10pct"),
        )
        .orderBy("event_type")
    )


def hll_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types via Datasketches HLL
    union and inclusion-exclusion (|A∩B| ≈ est(A) + est(B) − est(A∪B)) —
    the mergeable-sketch pattern that answers cross-segment overlap at
    100 TB without re-scanning raw events: per-partition sketches merge
    associatively, and pairwise unions touch only the tiny sketch table.
    The exact overlap (distinct-user self-join) rides along for the
    oracle hash; the sketch estimate is bounded by a tolerance flag,
    mirroring ``approx_distinct_users``."""
    events = _t(spark, sf_dir, "events").select("event_type", "user_id")
    sk = events.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    pairs = (
        sk.alias("a")
        .join(sk.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_1"),
            F.col("b.event_type").alias("type_2"),
            F.col("a.exact_users").alias("users_1"),
            F.col("b.exact_users").alias("users_2"),
            (
                F.expr("hll_sketch_estimate(a.sk)")
                + F.expr("hll_sketch_estimate(b.sk)")
                - F.expr("hll_sketch_estimate(hll_union(a.sk, b.sk))")
            ).alias("est_overlap"),
        )
    )
    du = events.distinct()
    inter = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_1"),
            F.col("y.event_type").alias("type_2"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        pairs.join(inter, ["type_1", "type_2"], "left")
        .select(
            "type_1", "type_2", "users_1", "users_2",
            F.coalesce("exact_overlap", F.lit(0)).alias("exact_overlap"),
            (
                F.abs(F.col("est_overlap") - F.coalesce("exact_overlap", F.lit(0)))
                <= (F.col("users_1") + F.col("users_2")) * 0.1
            ).alias("within_10pct"),
        )
        .orderBy("type_1", "type_2")
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue change: pure scan-filter-aggregate —
    the pushdown showcase (all three predicates reach the parquet scan)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over key domains: users who clicked AND
    purchased, clicked but never purchased, purchased but never clicked —
    tagged and unioned into one result (Catalyst plans semi/anti joins)."""
    events = _t(spark, sf_dir, "events")
    clickers = (
        events.where(F.col("event_type") == "click").select("user_id").distinct()
    )
    buyers = (
        events.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    both = clickers.intersect(buyers).withColumn("cohort", F.lit("both"))
    # subtract = set EXCEPT (exceptAll would keep multiset leftovers)
    only_click = clickers.subtract(buyers).withColumn("cohort", F.lit("click_only"))
    only_buy = buyers.subtract(clickers).withColumn("cohort", F.lit("purchase_only"))
    return (
        both.unionByName(only_click)
        .unionByName(only_buy)
        .orderBy("cohort", "user_id")
    )


def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window-function family over event streams: lag/lead
    (neighboring events per user), rank (value standing per type), ntile
    (quartile bucketing) — one shuffle per distinct partitioning."""
    events = _t(spark, sf_dir, "events")
    by_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    by_type = W.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        events.select(
            "event_id",
            F.lag("value").over(by_user).alias("prev_v"),
            F.lead("value").over(by_user).alias("next_v"),
            F.rank().over(by_type).alias("value_rank"),
            F.ntile(4).over(by_type).alias("quartile"),
        )
        .orderBy("event_id")
    )


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations
    in one pass (Catalyst expands to a single shuffle with grouping-id)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def unpivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the per-user event-type count matrix back to long
    form — the inverse of A5, via the ``stack`` table generator."""
    wide = pivot_counts(spark, sf_dir)
    cols = ", ".join(f"'{c}', {c}" for c in EVENT_TYPES)
    return (
        wide.selectExpr(
            "user_id",
            f"stack({len(EVENT_TYPES)}, {cols}) AS (event_type, cnt)",
        )
        .where(F.col("cnt") > 0)
        .orderBy("user_id", "event_type")
    )


def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: order counts per priority for orders having at least
    one lineitem (left-semi join, the scalable EXISTS)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# TPC-H completion (q2..q22 adapted to the testdata schema)
#
# The testdata has no partsupp table, no l_commitdate/l_receiptdate and no
# c_phone/c_comment, so queries that depend on them are *adapted*: the
# lineitem (l_partkey, l_suppkey) bridge stands in for partsupp, "late"
# means shipped > N days after the order date, and country codes become
# nation keys. Each keeps the original query's *shape* (correlated
# subqueries, semi/anti joins, nested aggregates) — that shape is what the
# engine must plan well at 100 TB. q11 is partsupp-only and out of scope.
# ---------------------------------------------------------------------------

def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (adapted): for each STANDARD part of
    size >= 40, the EUROPE supplier(s) with the minimum account balance
    among suppliers that actually shipped it (lineitem bridge = partsupp).
    Shape: correlated MIN subquery → per-part aggregate + equality join.
    All dimensions broadcast; the bridge dedup is the only wide shuffle."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    europe_nations = (
        nation.join(F.broadcast(region.where(F.col("r_name") == "EUROPE")),
                    nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    supp = (
        supplier.join(F.broadcast(europe_nations),
                      supplier.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = part.where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") >= 40)
    ).select("p_partkey", "p_brand")
    bridge = lineitem.select("l_partkey", "l_suppkey").distinct()
    cand = (
        bridge.join(F.broadcast(parts), bridge.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), bridge.l_suppkey == supp.s_suppkey)
    )
    # correlated MIN as a window over p_partkey: one pass, one shuffle —
    # the groupBy+self-join alternative scans the candidate subtree twice
    min_bal = F.min("s_acctbal").over(W.partitionBy("p_partkey"))
    return (
        cand.withColumn("min_bal", min_bal)
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name", "n_name", "p_partkey", "p_brand",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking (adapted): orders placed in 1996H1
    having at least one lineitem shipped more than 60 days after the order
    date ("late" stands in for commitdate<receiptdate). Shape: correlated
    EXISTS → left-semi join with a non-equi conjunct."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    return (
        o.join(
            lineitem,
            (o.o_orderkey == lineitem.l_orderkey)
            & (lineitem.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: bilateral trade NATION_1 <-> NATION_2 by
    ship year. Two broadcast dimension chains (supplier-nation,
    customer-nation) hang off the single lineitem->orders shuffle join."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_n = customer.join(F.broadcast(nation),
                           customer.c_nationkey == nation.n_nationkey)\
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    supp_n = supplier.join(F.broadcast(nation),
                           supplier.s_nationkey == nation.n_nationkey)\
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_n), orders.o_custkey == cust_n.c_custkey)
        .join(F.broadcast(supp_n), li.l_suppkey == supp_n.s_suppkey)
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: NATION_5's share of ECONOMY-part
    revenue delivered into ASIA, per order year. Shape: conditional
    aggregate ratio over a 5-way star."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    asia_nk = (
        nation.join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
                    nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey")
    )
    asia_cust = customer.join(F.broadcast(asia_nk),
                              customer.c_nationkey == F.col("n_nationkey"))\
        .select("c_custkey")
    supp_n = supplier.join(F.broadcast(nation.select("n_nationkey", "n_name")),
                           supplier.s_nationkey == F.col("n_nationkey"))\
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    econ_parts = part.where(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(econ_parts),
                      lineitem.l_partkey == F.col("p_partkey"))
        .join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(F.broadcast(asia_cust), o.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_n), lineitem.l_suppkey == supp_n.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
                / F.sum(vol), ROUND,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_year")
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (adapted: no partsupp, so profit is
    gross revenue without the supplycost term): per supplier nation per
    order year over parts named like '%widget%'."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    part = _t(spark, sf_dir, "part")
    widget = part.where(F.col("p_name").contains("widget")).select("p_partkey")
    supp_n = supplier.join(F.broadcast(nation),
                           supplier.s_nationkey == nation.n_nationkey)\
        .select("s_suppkey", F.col("n_name").alias("nation"))
    return (
        lineitem.join(F.broadcast(widget), lineitem.l_partkey == F.col("p_partkey"))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp_n), lineitem.l_suppkey == supp_n.s_suppkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        # sum in DECIMAL: exact, order-independent accumulation, so the
        # 2dp round can't land on a float knife-edge vs the oracle
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")), 2,
            ).cast("double").alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: left outer join (so
    zero-order customers survive), count per customer, then histogram of
    counts. Two shuffles, both on keys with bounded cardinality."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: revenue per supplier in 1996Q1, keep the
    supplier(s) matching the global max (the view + scalar-subquery shape).
    Revenue is rounded to 2dp before the max-equality so the float compare
    is stable across engines."""
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(max_rev),
                 rev.total_revenue == F.col("max_revenue"))
        .join(F.broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 parts/supplier relationship (adapted): distinct supplier
    count per (brand, type, size) over the lineitem bridge, excluding
    Brand#5 and PROMO parts and suppliers with negative balance (the
    "complaints" stand-in). Shape: anti-join + count-distinct."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    parts = part.where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    bridge = lineitem.select("l_partkey", "l_suppkey").distinct()
    return (
        bridge.join(F.broadcast(parts), bridge.l_partkey == parts.p_partkey)
        .join(F.broadcast(bad_supp), bridge.l_suppkey == bad_supp.s_suppkey,
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion (adapted): suppliers that shipped
    more than half of a 'red' part's total 1997 volume (the availqty>half
    predicate re-expressed on the bridge). Shape: nested aggregate compared
    against a per-part total, then a semi-join up to supplier."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    red = part.where(F.col("p_name").startswith("red")).select("p_partkey")
    li97 = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).join(F.broadcast(red), lineitem.l_partkey == F.col("p_partkey"))
    per_pair = li97.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("pair_qty")
    )
    per_part = per_pair.groupBy("l_partkey").agg(
        F.sum("pair_qty").alias("part_qty")
    )
    heavy = (
        per_pair.join(per_part, "l_partkey")
        .where(F.col("pair_qty") > 0.5 * F.col("part_qty"))
        .select("l_suppkey").distinct()
    )
    return (
        supplier.join(heavy, supplier.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers who kept orders waiting (adapted): on finished
    ('F') multi-supplier orders, count per supplier the orders where it was
    the ONLY supplier shipping >90 days after the order date. The
    EXISTS/NOT-EXISTS pair is re-planned as one per-order aggregate
    (distinct suppliers vs distinct late suppliers) — one shuffle instead
    of two correlated joins, the shape that survives 100 TB."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    f_orders = orders.where(F.col("o_orderstatus") == "F")\
        .select("o_orderkey", "o_orderdate")
    li = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(f_orders, lineitem.l_orderkey == f_orders.o_orderkey)
        .withColumn(
            "late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        )
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    blocked = per_order.where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    return (
        li.where(F.col("late"))
        .join(blocked, "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey").distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock identification (adapted): testdata has no
    partsupp, so per-part "value" is re-expressed over the lineitem bridge
    as sum(l_extendedprice * l_quantity) shipped by NATION_7 suppliers;
    keep parts whose value exceeds 0.1% of the nation-wide total. Shape:
    broadcast dim filter, one shuffle to the per-part aggregate, scalar
    total applied via a broadcast 1-row cross join. Sums accumulate in
    DECIMAL and the threshold compare is value*1000 > total — exact
    integer-scaled decimal arithmetic, no float knife-edge."""
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    supp7 = (
        supplier.join(
            F.broadcast(nation.where(F.col("n_name") == "NATION_7")),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    per_part = (
        lineitem.join(F.broadcast(supp7),
                      lineitem.l_suppkey == supp7.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity"))
                  .cast("decimal(18,6)")).alias("value_dec")
        )
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_dec") * 1000 > F.col("total_dec"))
        .select(
            "l_partkey",
            F.round(F.col("value_dec"), 2).cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity (adapted): customers from seven
    nations (country-code stand-in) with above-average positive balance
    and no orders since 1999. Shape: scalar AVG subquery + NOT EXISTS
    anti-join, grouped per nation."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nations = [0, 3, 6, 9, 12, 15, 18]
    cust = customer.where(F.col("c_nationkey").isin(nations))
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): hierarchical subtotals +
    grand total with grouping_id, one shuffle (complements cube_agg)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest ``percentile_approx`` next to the exact interpolated
    percentile — the 100 TB path for quantiles (mergeable sketch, one
    pass, bounded memory). The oracle hashes the EXACT columns; the
    sketch estimate is emitted as a within-tolerance flag, mirroring
    ``approx_distinct_users``'s contract for approximate operators."""
    events = _t(spark, sf_dir, "events")

    # rank-window contract, not a value tolerance: the GK sketch
    # guarantees RANK error (<= n/accuracy ranks), so the estimate must
    # land within a small rank neighborhood of the target. A value-based
    # 5%-of-spread bound is NOT implied by the sketch and failed
    # honestly on a heavy-tailed 158-sample group (the r9 nulls tier).
    # The bounds are ACTUAL ORDER STATISTICS, not interpolated
    # percentiles: for 2 <= n <~ 100 an interpolated +/-0.01-rank
    # window spans less than one order statistic and sits strictly
    # between adjacent samples, while GK always returns a real sample —
    # a legitimately-zero-rank-error answer could fail the old check
    # (ADVICE r9). Slack = max(1, ceil(0.01*n)) ranks beyond the
    # bracketing samples covers the sketch's n/1000 rank error at any n.
    # The sorted per-group array costs what the exact percentile()
    # already pays (full per-group materialization) — this query's
    # 100 TB shape is the a50/a95 sketch columns; the exact columns
    # exist only to give the oracle something to hash.
    def _rank_ok(approx: str, p: float) -> F.Column:
        idx = f"(_n - 1) * {p}"
        slack = "greatest(1L, cast(ceil(0.01 * _n) as long))"
        lo = f"element_at(_arr, cast(greatest(floor({idx}) - {slack}, 0) as int) + 1)"
        hi = f"element_at(_arr, cast(least(ceil({idx}) + {slack}, _n - 1) as int) + 1)"
        return F.when(
            F.col("_n") > 0,
            F.col(approx).between(F.expr(lo), F.expr(hi)),
        ).otherwise(F.lit(True))

    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), ROUND).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), ROUND).alias("p95"),
            F.expr("percentile_approx(value, 0.5, 1000)").alias("a50"),
            F.expr("percentile_approx(value, 0.95, 1000)").alias("a95"),
            F.expr("sort_array(collect_list(value))").alias("_arr"),
        )
        .withColumn("_n", F.size("_arr").cast("long"))
        .select(
            "event_type", "p50", "p95",
            _rank_ok("a50", 0.5).alias("a50_ok"),
            _rank_ok("a95", 0.95).alias("a95_ok"),
        )
        .orderBy("event_type")
    )


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus)): the two
    marginal rollups in ONE pass/shuffle via Catalyst's Expand — the
    general form that cube/rollup specialize."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupingSets(
            [["l_returnflag"], ["l_linestatus"]],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the events table: per column, row
    count, null count, distinct count, and lexicographic min/max of the
    string rendering — the data-profiling pass every warehouse runs
    before trusting a feed.

    Scale shape: TWO single-row aggregate passes, cross-joined (1x1) and
    unpivoted row-locally with stack(). The split is deliberate (r12):
    the exact count_distinct aggregates plan through an Expand (one
    replica of every row per distinct-column), and a STRING min/max in
    the same aggregate forces the whole thing into a SortAggregate —
    i.e. a full sort of |cols|+1 copies of every full-width row. Keeping
    the count/count_distinct pass free of string buffers keeps it a
    hash aggregate over the Expand, and the min/max pass sorts nothing
    (plain 1-row agg buffers, no Expand). Measured at sf0.1: 2.2 s fused
    -> 0.9 s split, and at scale the sort of (cols+1)x the table never
    happens. No shuffle carries data — only the one-row partial aggs.
    count_distinct upgrades to approx_count_distinct at extreme
    cardinalities; exact here so the oracle can hash it.

    Numeric (double) columns take NATIVE numeric min/max rendered with an
    explicit shared printf format — engine-default double→string casts
    disagree once values need scientific notation, and lexicographic
    min of a string rendering is the wrong order for numbers anyway.
    The ``+ 0.0`` normalizes IEEE −0.0, which Java prints signed and
    DuckDB doesn't."""
    events = _t(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    num_cols = {"value"}
    cnt_aggs: list = []
    mm_aggs: list = []
    for c in cols:
        if c in num_cols:
            # the NULL guard matters on an all-null or empty column:
            # Java's format_string renders a NULL arg as the STRING
            # 'null' while the oracle's printf stays NULL (r9 sweep)
            mn = F.expr(
                f"CASE WHEN min({c}) IS NULL THEN CAST(NULL AS STRING) "
                f"ELSE format_string('%.6f', min({c}) + cast(0 as double)) "
                "END"
            )
            mx = F.expr(
                f"CASE WHEN max({c}) IS NULL THEN CAST(NULL AS STRING) "
                f"ELSE format_string('%.6f', max({c}) + cast(0 as double)) "
                "END"
            )
        else:
            mn = F.min(F.col(c).cast("string"))
            mx = F.max(F.col(c).cast("string"))
        cnt_aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
        ]
        mm_aggs += [mn.alias(f"{c}__mn"), mx.alias(f"{c}__mx")]
    # both branches are no-grouping aggregates: each yields EXACTLY one
    # row (counts 0 / NULL min-max on an empty table), so the cross join
    # is a bounded 1x1 — the same broadcast-scalar shape the plan sweep
    # proves bounded from the plan
    wide = events.agg(F.count(F.lit(1)).alias("__n"), *cnt_aggs).crossJoin(
        events.agg(*mm_aggs)
    )
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
    )
    return (
        wide.selectExpr(
            "__n",
            f"stack({len(cols)}, {stack}) AS "
            "(column_name, non_null, n_distinct, min_s, max_s)",
        )
        .select(
            "column_name",
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col("non_null")).alias("n_nulls"),
            "n_distinct", "min_s", "max_s",
        )
        .orderBy("column_name")
    )




def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: two deterministic snapshots of the orders
    feed (A = orders before 1998-01-01; B = orders from 1997-01-01 with
    urgent orders repriced +10%) are compared keyed on o_orderkey and
    every key classified added / removed / changed / unchanged, with the
    absolute price drift summed per class — the reconciliation report of
    warehouse snapshot maintenance.

    Scale shape: one full-outer shuffle join on the snapshot key, then a
    4-row aggregate; the classification is row-local. At petabyte
    snapshots this is the canonical partition-wise diff (both sides
    partition on the same key, so AQE plans a co-located join)."""
    orders = _t(spark, sf_dir, "orders")
    # prices handled as exact integer cents throughout: round(x*1.1, 2)
    # is engine-dependent (Spark HALF_UPs the shortest decimal repr,
    # DuckDB rounds the raw binary double), but integer cent arithmetic
    # with `div` is bit-identical everywhere
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    a = orders.where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", cents.alias("cents_a"))
    b = orders.where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.expr("cast(cast(round(o_totalprice * 100) as bigint) "
                   "* 11 div 10 as bigint)"),
        ).otherwise(cents).alias("cents_b"),
    )
    d = a.join(b, "o_orderkey", "full")
    change = (
        F.when(F.col("cents_a").isNull(), "added")
        .when(F.col("cents_b").isNull(), "removed")
        .when(F.col("cents_a") != F.col("cents_b"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.select(
            change.alias("change_type"),
            F.abs(F.coalesce("cents_b", F.lit(0))
                  - F.coalesce("cents_a", F.lit(0))).alias("drift_cents"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.round(F.sum("drift_cents") / 100.0, 2).alias("abs_price_drift"),
        )
        .orderBy("change_type")
    )


def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ/dbt-test workload): a
    suite of uniqueness, null, range, consistency, and referential-
    integrity checks over four tables, each reported as (table, check,
    n_violations, passed) — the gate every warehouse load runs before
    publishing a partition.

    Scale shape: every per-table check family is FUSED into one
    conditional aggregate over a single scan (a count per check, all
    map-side-combinable), then stack()ed row-locally — N checks cost one
    pass, not N. The referential-integrity check is the only join: a
    LEFT ANTI on the key, the canonical orphan scan (shuffle semi-join
    at scale, broadcastable when the parent's key set is small). Nothing
    touches the driver."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")

    def fused(df, table, checks):
        # coalesce: SUM over an empty table is NULL in Spark while the
        # oracle counts 0 — an empty feed PASSES a violation count, it
        # doesn't void it (degenerate-input sweep, round 9)
        aggs = [
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("bigint").alias(name)
            for name, cond in checks.items()
        ]
        # uniqueness checks arrive pre-aggregated as expressions
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{c}', {c}" for c in checks)
        return wide.selectExpr(
            f"stack({len(checks)}, {stack}) AS (check_name, n_violations)"
        ).select(F.lit(table).alias("table_name"), "check_name",
                 "n_violations")

    o_checks = fused(orders, "orders", {
        "totalprice_positive": F.col("o_totalprice") <= 0,
        "orderdate_in_range": ~F.col("o_orderdate").between(
            "1992-01-01", "1998-12-31 23:59:59"),
        "priority_not_null": F.col("o_orderpriority").isNull(),
    })
    o_unique = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("bigint").alias("n_violations")
    ).select(
        F.lit("orders").alias("table_name"),
        F.lit("orderkey_unique").alias("check_name"),
        "n_violations",
    )
    l_checks = fused(li, "lineitem", {
        "discount_in_range": ~F.col("l_discount").between(0.0, 0.1),
        "quantity_at_most_30": F.col("l_quantity") > 30,
        "shipdate_not_null": F.col("l_shipdate").isNull(),
    })
    l_orphans = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(
            F.lit("lineitem").alias("table_name"),
            F.lit("orderkey_references_orders").alias("check_name"),
            "n_violations",
        )
    )
    c_unique = cust.agg(
        (F.count(F.lit(1)) - F.count_distinct("c_custkey"))
        .cast("bigint").alias("n_violations")
    ).select(
        F.lit("customer").alias("table_name"),
        F.lit("custkey_unique").alias("check_name"),
        "n_violations",
    )
    e_checks = fused(ev, "events", {
        "value_non_negative": F.col("value") < 0,
        "user_id_not_null": F.col("user_id").isNull(),
    })
    report = (
        o_checks.unionByName(o_unique)
        .unionByName(l_checks)
        .unionByName(l_orphans)
        .unionByName(c_unique)
        .unionByName(e_checks)
    )
    return (
        report.withColumn("passed", F.col("n_violations") == 0)
        .orderBy("table_name", "check_name")
    )


def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: each customer's order-priority
    history collapsed into versioned validity ranges (valid_from /
    valid_to, version_no, is_current) — the dimension-maintenance step
    behind every point-in-time join in a warehouse (the as-of join
    operator then probes exactly these ranges).

    Scale shape: ONE customer-partitioned window pass does everything —
    lag() marks change points, a running sum numbers the versions, and
    lead() closes each range; the same exchange serves all three
    (Catalyst plans one Window over one sort). Consecutive duplicates
    collapse (true SCD2, not a snapshot-per-order), ties broken by
    o_orderkey so rebuilds are deterministic."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        # o_orderdate reads as TIMESTAMP_NTZ; with the session TZ pinned
        # UTC the cast to TIMESTAMP is value-identical
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
            "obs_ms"
        ),
        F.col("o_orderpriority").alias("segment"),
        "o_orderkey",
    )
    w = W.partitionBy("custkey").orderBy("obs_ms", "o_orderkey")
    marked = o.withColumn(
        "chg",
        F.when(
            F.lag("segment").over(w).isNull()
            | (F.lag("segment").over(w) != F.col("segment")),
            1,
        ).otherwise(0),
    )
    runs = marked.where(F.col("chg") == 1)
    wv = W.partitionBy("custkey").orderBy("obs_ms", "o_orderkey")
    return (
        runs.select(
            "custkey",
            F.row_number().over(wv).alias("version_no"),
            "segment",
            F.col("obs_ms").alias("valid_from_ms"),
            F.lead("obs_ms").over(wv).alias("valid_to_ms"),
        )
        .withColumn("is_current", F.col("valid_to_ms").isNull())
        .orderBy("custkey", "version_no")
    )


# ---------------------------------------------------------------------------
# Partition-skew audit: key-distribution diagnostics for shuffle planning
# ---------------------------------------------------------------------------

def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row skew audit of the events table's join/agg key
    (``user_id``): key cardinality, per-key row-count distribution
    (max / exact p50 / exact p99), the hottest key's share, skew ratio
    (max over mean), Shannon entropy of the key distribution, and the
    salt factor ``ceil(max/mean)`` a salted join/agg of this key would
    need — the pre-flight diagnostic that decides between plain,
    broadcast, and salted plans (the repo's ``skew_salted_join`` /
    ``skew_salted_agg`` consume exactly this signal).

    Scale shape: one map-side-combinable groupBy over the key, then a
    single-row aggregate over the |keys|-sized count table — the audit
    never shuffles the fact rows, only (key, count). Entropy comes from
    the algebraic identity H = ln(N) - Σ c·ln(c) / N, so it fuses into
    the same partial-aggregable pass as max/sum (only the exact
    percentiles hold the tiny count table)."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
        F.expr("percentile(cnt, 0.5)").alias("p50_key_rows"),
        F.expr("percentile(cnt, 0.99)").alias("p99_key_rows"),
        F.sum(F.col("cnt") * F.log(F.col("cnt"))).alias("_clnc"),
    ).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        F.round("p50_key_rows", 6).alias("p50_key_rows"),
        F.round("p99_key_rows", 6).alias("p99_key_rows"),
        F.round(F.col("max_key_rows") / F.col("n_rows"), 6)
        .alias("top_key_share"),
        F.round(
            F.col("max_key_rows") * F.col("n_keys") / F.col("n_rows"), 6
        ).alias("skew_ratio"),
        F.round(
            F.log(F.col("n_rows")) - F.col("_clnc") / F.col("n_rows"), 6
        ).alias("key_entropy"),
        F.ceil(F.col("max_key_rows") * F.col("n_keys") / F.col("n_rows"))
        .cast("int")
        .alias("salt_factor"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO (upsert) semantics: update-matched / insert-new / keep-rest
# ---------------------------------------------------------------------------

def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over plain parquet tables — the upsert every
    warehouse ingest needs, without a table format: base = orders before
    1998-01-01, updates = orders from 1997-01-01 (urgent repriced +10%
    in exact integer cents, as ``snapshot_diff``). Matched keys take the
    update row ('update'), unmatched update keys insert ('insert'),
    untouched base keys persist ('keep'); output IS the merged table
    plus the per-row action.

    Scale shape: ONE full-outer equi-join on the key — both sides
    shuffle once on o_orderkey (with a bucketed base table the exchange
    disappears entirely, see ``bucketed_join_stats``); actions and the
    merged value are row-local projections. All money math in integer
    cents (`div`), bit-identical across engines."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", cents.alias("cents_base"))
    updates = orders.where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.expr("cast(cast(round(o_totalprice * 100) as bigint) "
                   "* 11 div 10 as bigint)"),
        ).otherwise(cents).alias("cents_upd"),
    )
    m = base.join(updates, "o_orderkey", "full")
    action = (
        F.when(F.col("cents_base").isNull(), "insert")
        .when(F.col("cents_upd").isNull(), "keep")
        .otherwise("update")
    )
    return (
        m.select(
            "o_orderkey",
            F.coalesce("cents_upd", "cents_base").alias("cents"),
            action.alias("action"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Semi-structured JSON analytics: typed extraction + per-group stats
# ---------------------------------------------------------------------------

def json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction with schema-on-read: parse the ``props``
    JSON column with an explicit schema (``from_json``, never
    inference) and aggregate the extracted field per event_type — the
    semi-structured path every event pipeline needs. Malformed
    documents parse to NULL and are counted, not dropped silently.

    Scale shape: ``from_json`` is a row-local JVM expression inside the
    scan's codegen stage (no UDF, no Python); the rollup is one
    map-side-combinable aggregate over ~5 groups."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_type",
        F.from_json(
            F.col("props"), "k int", {"mode": "FAILFAST"}
        )["k"].alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("k").alias("n_parsed"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram (ANALYZE-style optimizer statistics)
# ---------------------------------------------------------------------------

HIST_BINS = 20


def column_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``events.value`` over ``HIST_BINS`` bins
    between the column's min and max — the per-column distribution
    statistic ANALYZE/optimizers keep for selectivity estimation, and
    the complement of ``table_profile`` (which records only min/max/
    ndv) and ``value_percentiles`` (equi-depth).

    Scale shape: bounds come from one tiny aggregate broadcast back;
    bin assignment is a row-local codegen expression; the final count
    is one map-side-combinable aggregate on ≤ HIST_BINS+1 keys. Bin
    edges are derived with the same double arithmetic in both engines
    so boundary values land identically.

    NULL measurements are NOT observations: without the explicit
    filter below, a NULL value rides the same NULL-quotient /
    NULL-skipping-least() path as the hi==lo case and lands in the TOP
    bin on both engines — the engines agree, so only the policy pin
    keeps a 20%-NULL feed from silently inflating the max bin
    (ADVICE r9). The filter is mirrored in the oracle."""
    events = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bounds = events.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    # try_divide: a constant column (hi == lo) has bin width 0; the
    # quotient goes NULL and least() — which skips NULLs in BOTH
    # engines — lands the row in the top bin exactly as the oracle
    # does, instead of raising under ANSI (r9 degenerate-input sweep)
    binned = events.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(HIST_BINS - 1),
            F.floor(
                F.try_divide(
                    F.col("value") - F.col("lo"),
                    (F.col("hi") - F.col("lo")) / HIST_BINS,
                )
            ).cast("int"),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return (
        binned.groupBy("bin", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            (F.col("lo") + F.col("bin")
             * ((F.col("hi") - F.col("lo")) / HIST_BINS)).alias("bin_lo"),
            (F.col("lo") + (F.col("bin") + 1)
             * ((F.col("hi") - F.col("lo")) / HIST_BINS)).alias("bin_hi"),
            "cnt",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Two-pass exact median: histogram-narrowing, never materializes a group
# ---------------------------------------------------------------------------

MEDIAN_COARSE_BINS = 1024


def exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-key lower median of ``events.value`` computed the way
    it must be at 100 TB: Spark's ``percentile()`` (used by
    ``value_percentiles``) buffers every group value in one aggregator
    — fine for small groups, a memory wall for billion-row keys. This
    operator instead does histogram narrowing:

    pass 1 — per (key, coarse-bin) counts (map-side combinable; the
    histogram table is |keys|·1024 rows however big the data);
    locate — a prefix sum over that tiny table finds each key's bin
    containing the target rank and the rank offset below it (driver
    never sees data, only the broadcast bin bounds);
    pass 2 — re-scan ONLY rows in each key's located bin (a broadcast
    semi-join; expected 1/1024 of the data) and pick the in-bin rank
    with one bounded window.

    Total order (value, event_id) breaks duplicate-value ties
    identically in both engines. Lower median = rank ceil(n/2)."""
    events = _t(spark, sf_dir, "events")
    bounds = events.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    nb = MEDIAN_COARSE_BINS
    binned = events.crossJoin(F.broadcast(bounds)).select(
        "event_type", "event_id", "value",
        F.when(F.col("hi") > F.col("lo"), F.least(
            F.lit(nb - 1),
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / nb)
            ).cast("int"),
        )).otherwise(F.lit(0)).alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    located = (
        hist.withColumn("below", F.coalesce(F.sum("c").over(wcum), F.lit(0)))
        .withColumn(
            "n", F.sum("c").over(W.partitionBy("event_type"))
        )
        .withColumn("target", F.ceil(F.col("n") / 2).cast("bigint"))
        .where(
            (F.col("below") < F.col("target"))
            & (F.col("below") + F.col("c") >= F.col("target"))
        )
        .select(
            "event_type", "bin",
            (F.col("target") - F.col("below")).alias("rank_in_bin"),
            "n",
        )
    )
    in_bin = binned.join(
        F.broadcast(located), ["event_type", "bin"]
    )
    wr = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        in_bin.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == F.col("rank_in_bin"))
        .select(
            "event_type",
            F.col("n").alias("n_rows"),
            F.col("value").alias("median"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Point-in-time dimension probe: facts joined to their SCD2 version
# ---------------------------------------------------------------------------

def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness: every order joins the customer-segment
    VERSION that was valid at its order date (``scd2_build``'s validity
    ranges) — the probe side of slowly-changing-dimension modeling, and
    the query that silently goes wrong when a pipeline joins facts to
    the CURRENT dimension instead of the contemporaneous one. Output:
    revenue and order count per contemporaneous segment, in exact
    integer cents.

    Scale shape: an equi-join on custkey with the interval predicate as
    a post-join filter — per-key version counts are tiny (a handful of
    segments per customer), so the fan-out is bounded; both sides hash
    on custkey (co-partitioned under AQE; a small dimension would
    broadcast). No range-explosion join, no window over the fact."""
    o = _t(spark, sf_dir, "orders")
    facts = o.select(
        "o_custkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("t"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    dim = scd2_build(spark, sf_dir).select(
        F.col("custkey").alias("o_custkey"),
        "segment", "valid_from_ms", "valid_to_ms",
    )
    return (
        facts.join(dim, "o_custkey")
        .where(
            (F.col("t") >= F.col("valid_from_ms"))
            & (
                F.col("valid_to_ms").isNull()
                | (F.col("t") < F.col("valid_to_ms"))
            )
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap: distribution-free CI for the mean
# ---------------------------------------------------------------------------

BOOT_B = 64
#: Poisson(1) CDF steps: weight k is chosen when u < threshold[k]
_POIS_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253,
]


def _pois_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 8 END"


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for mean(value) via the
    Poisson bootstrap (the streaming/sharded form of the bootstrap —
    each replicate draws every row with an independent Poisson(1)
    multiplicity, so resampling never needs the dataset's size or a
    global shuffle; cf. Kleiner et al. 2012's bag-of-little-bootstraps
    lineage). ``BOOT_B`` replicates, weights derived DETERMINISTICALLY
    from a 60-bit md5 of (event_id, replicate) inverted through literal
    Poisson CDF thresholds — identical in both engines.

    Exactness: replicate sums accumulate in DECIMAL (order-independent,
    so the two engines' different aggregation orders cannot drift), one
    double cast per replicate mean, exact percentiles over the tiny
    B-row replicate table. Scale shape: the explode is map-side (B
    rows per input row feeding a partial aggregate keyed on B values);
    nothing but B partial sums crosses the shuffle."""
    events = _t(spark, sf_dir, "events")
    u = (
        f"cast(conv(substring(md5(concat(event_id, '_', b)), 1, 15), "
        "16, 10) as bigint) / cast(1152921504606846976 as double)"
    )
    w = _pois_weight_sql(u)
    rep = (
        # fan_out (r12): the B-way explode + md5-per-(row, replicate)
        # hot loop otherwise runs at scan parallelism (one task on the
        # single-row-group testdata file) — measured 9.1 s → 2.0 s at
        # sf0.1. Keyed on event_id: deterministic placement, and the
        # replicate sums are exact DECIMAL so partition order cannot
        # change the result.
        fan_out(events, "event_id").select(
            F.col("event_id"),
            F.col("value").cast("decimal(28,9)").alias("v"),
            F.explode(F.expr(f"sequence(1, {BOOT_B})")).alias("b"),
        )
        .select("b", "v", F.expr(w).alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("v")).alias("ws"),
            F.sum("w").alias("n"),
        )
        .select(
            "b",
            # try_divide: a replicate whose Poisson weights all drew 0
            # (possible only on degenerate row counts) has no mean —
            # NULL, which percentile() skips in both engines (r9 sweep)
            F.try_divide(F.col("ws").cast("double"), F.col("n")).alias("m"),
        )
    )
    point = events.agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("point_mean"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ci = rep.agg(
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
        F.count(F.lit(1)).alias("n_replicates"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_rows", "point_mean", "n_replicates", "ci_lo", "ci_hi"
    )


# ---------------------------------------------------------------------------
# Daily percentile bands: exact p10/p50/p90 envelope per day
# ---------------------------------------------------------------------------

def daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact p10/p50/p90 bands of ``events.value`` — the
    envelope time series dashboards draw and threshold-based anomaly
    rules consume. Exact interpolated percentiles (both engines use the
    same linear-interpolation definition); per-day groups are bounded
    so the buffering percentile aggregator is safe here — the two-pass
    ``exact_median_twopass`` is the shape for unbounded keys."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.1)"), 6).alias("p10"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation: deterministic hash sample vs exact
# ---------------------------------------------------------------------------

JCE_SAMPLE_MOD = 8  # keep keys with md5(key) % 8 == 0 (a 1/8 key sample)


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics-as-a-query: estimate |events ⋈ orders| on
    the customer key from a DETERMINISTIC 1/8 key sample (keep keys
    whose md5 lands in one residue class — "hash sampling" keeps BOTH
    sides' rows for the same sampled keys, which is what makes join
    cardinality estimable at all; uniform row sampling famously breaks
    joins), next to the exact answer and the relative error — the
    pre-flight estimate a cost-based planner wants before choosing a
    join strategy at 100 TB.

    Exactness of the COMPARISON: the sample is hash-deterministic, so
    estimate, exact count, and error are all reproducible integers /
    exact ratios in both engines. Scale shape: per-key counts aggregate
    map-side; only (key, count) rows join."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k")
    )
    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1000).alias("k")
    )
    ca = ev.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    cb = orders.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    joined = ca.join(cb, "k").select(
        "k", (F.col("ca") * F.col("cb")).alias("prod")
    )
    in_sample = (
        F.expr(
            "cast(conv(substring(md5(cast(k as string)), 1, 15), 16, 10) "
            "as bigint)"
        )
        % JCE_SAMPLE_MOD
        == 0
    )
    return joined.agg(
        F.sum("prod").alias("exact_rows"),
        (
            F.sum(F.when(in_sample, F.col("prod")).otherwise(F.lit(0)))
            * JCE_SAMPLE_MOD
        ).alias("estimated_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
    ).select(
        "exact_rows",
        "estimated_rows",
        "n_join_keys",
        F.round(
            F.abs(F.col("estimated_rows") - F.col("exact_rows"))
            / F.col("exact_rows").cast("double"),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# Latest-state pivot: each user's most recent value per event type
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def latest_state_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record read: each user's MOST RECENT value per event type,
    pivoted wide — the "current state" view a CDC consumer materializes
    from an append-only event log (the read-side complement of
    ``upsert_merge``; ``scd2_build`` keeps the history, this keeps the
    now).

    Scale shape: one (user, type) struct-max aggregate picks the latest
    event per cell — partial-aggregable, no per-user sort window — and
    the pivot is a fixed-column conditional projection (never the
    dynamic two-pass pivot). Ties on timestamp break by event_id."""
    ev = _t(spark, sf_dir, "events")
    latest = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max(
                F.struct(
                    F.unix_millis("ts").alias("ms"),
                    F.col("event_id").alias("eid"),
                    F.col("value").alias("v"),
                )
            ).alias("m")
        )
    )
    cols = [
        F.round(
            F.max(
                F.when(F.col("event_type") == t, F.col("m.v"))
            ),
            6,
        ).alias(f"last_{t}")
        for t in EVENT_TYPES
    ]
    return (
        latest.groupBy("user_id")
        .agg(F.max(F.col("m.ms")).alias("last_seen_ms"), *cols)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Winsorized robust statistics: clip at exact p5/p95, then aggregate
# ---------------------------------------------------------------------------

def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type statistics: mean and population stddev of
    ``value`` AFTER winsorizing at the type's exact p5/p95 (values
    outside the band clamp to it) — the outlier-resistant summary
    metric pipelines report when raw means are hostage to heavy tails.

    Scale shape: exact clip bounds come from one bounded-group
    percentile aggregate broadcast back onto the fact rows; the
    winsorized aggregate is a second single pass. Stddev of clamped
    values is computed from Σx/Σx² sufficient sums in DECIMAL (exact,
    order-independent) so both engines agree bitwise before rounding."""
    events = _t(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    w = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    clipped = events.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        w.cast("decimal(28,9)").alias("wv"),
        F.col("lo"), F.col("hi"),
        ((F.col("value") < F.col("lo"))
         | (F.col("value") > F.col("hi"))).cast("long").alias("clamped"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("clamped").alias("n_clamped"),
            F.round(F.min("lo"), 6).alias("p5"),
            F.round(F.min("hi"), 6).alias("p95"),
            F.sum("wv").alias("_s"),
            F.sum(F.col("wv") * F.col("wv")).alias("_ss"),
        )
        .select(
            "event_type", "n", "n_clamped", "p5", "p95",
            F.round(
                (F.col("_s").cast("double") / F.col("n")), 6
            ).alias("wins_mean"),
            F.round(
                F.sqrt(
                    F.col("_ss").cast("double") / F.col("n")
                    - (F.col("_s").cast("double") / F.col("n"))
                    * (F.col("_s").cast("double") / F.col("n"))
                ),
                6,
            ).alias("wins_stddev"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Seasonal adjustment: hour-of-day baseline removal, variance accounting
# ---------------------------------------------------------------------------

def seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality diagnosis: hourly event-rate series decomposed
    against the hour-of-day baseline — per hour-of-day: the mean
    count, plus one summary comparison of raw vs seasonally-adjusted
    variance (how much of the rate's variance the daily cycle
    explains). The step before any rate-anomaly rule: alert on the
    RESIDUAL, not the cycle.

    Scale shape: the hourly series is a (day, hour) aggregate; the
    baseline is a 24-row aggregate broadcast back; sums of squared
    residuals accumulate in DECIMAL so both engines agree exactly."""
    events = _t(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.to_date("ts").alias("day"), F.hour("ts").alias("hod")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    base = hourly.groupBy("hod").agg(
        F.round(F.avg("cnt"), 6).alias("baseline"),
        F.count(F.lit(1)).alias("n_days"),
    )
    # residual variance vs raw variance from decimal sufficient sums
    joined = hourly.join(F.broadcast(base.select("hod", "baseline")), "hod")
    g = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cnt").cast("decimal(28,9)")).alias("s"),
        F.sum(
            (F.col("cnt") * F.col("cnt")).cast("decimal(28,9)")
        ).alias("ss"),
        F.sum(
            (
                (F.col("cnt") - F.col("baseline"))
                * (F.col("cnt") - F.col("baseline"))
            ).cast("decimal(28,9)")
        ).alias("ssr"),
    ).select(
        F.round(
            F.col("ss").cast("double") / F.col("n")
            - (F.col("s").cast("double") / F.col("n"))
            * (F.col("s").cast("double") / F.col("n")),
            6,
        ).alias("raw_variance"),
        F.round(F.col("ssr").cast("double") / F.col("n"), 6).alias(
            "residual_variance"
        ),
    )
    return (
        base.crossJoin(F.broadcast(g))
        .select(
            "hod", "n_days", "baseline", "raw_variance",
            "residual_variance",
        )
        .orderBy("hod")
    )


# ---------------------------------------------------------------------------
# Monthly revenue trend with exact basis-point growth
# ---------------------------------------------------------------------------

def revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend over orders: monthly revenue in
    exact integer cents plus the growth vs the previous month in BASIS
    POINTS computed with integer `div` — period-over-period growth is
    the canonical report whose rounding every engine disagrees on
    unless the arithmetic stays integral.

    Scale shape: one month-keyed aggregate (map-side combinable), one
    lag window over the tiny month spine."""
    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("m"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = W.orderBy("m")
    return (
        monthly.withColumn(
            "prev_cents", F.lag("revenue_cents").over(w)
        )
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "n_orders",
            "revenue_cents",
            # integer division semantics VERIFIED identical: Spark's
            # `div` and DuckDB's `//` both truncate toward zero on
            # negatives (-1033, not floor's -1034, on the shrinking
            # months in this corpus)
            F.expr(
                "CASE WHEN prev_cents IS NULL OR prev_cents = 0 "
                "THEN NULL ELSE (revenue_cents - prev_cents) * 10000 "
                "div prev_cents END"
            ).alias("growth_bp"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Revenue concentration: Gini coefficient and Pareto share over parts
# ---------------------------------------------------------------------------

def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration diagnostics over per-part revenue: the Gini
    coefficient (sorted-rank identity G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n)
    and the top-20%-of-parts revenue share — the 80/20 check behind
    assortment and concentration-risk analysis.

    Scale shape: revenue aggregates per part first (map-side
    combinable); the rank window runs over the PART DIMENSION (bounded;
    for an unbounded key the two-phase rank of ``snm_candidate_pairs``
    is the drop-in). Sums are exact integer cents; the two ratios at
    the end are the only doubles, formed identically in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents")
    )
    w = W.orderBy("cents", "l_partkey")
    ranked = (
        per_part.withColumn("i", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy()))
    )
    agg = ranked.agg(
        F.max("n").alias("n_parts"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).alias("iw"),
        # top 20% by revenue rank: the i > 4n/5 highest-ranked parts
        F.sum(
            F.when(F.col("i") * 5 > F.col("n") * 4, F.col("cents"))
            .otherwise(0)
        ).alias("top_cents"),
    )
    return agg.select(
        "n_parts",
        "total_cents",
        F.round(
            F.lit(2.0) * F.col("iw")
            / (F.col("n_parts") * F.col("total_cents")).cast("double")
            - (F.col("n_parts") + 1) / F.col("n_parts").cast("double"),
            6,
        ).alias("gini"),
        F.round(
            F.col("top_cents") / F.col("total_cents").cast("double"), 6
        ).alias("top20_share"),
    )


# ---------------------------------------------------------------------------
# Supplier return-rate scorecard (worst offenders, exact basis points)
# ---------------------------------------------------------------------------

def supplier_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier quality scorecard: per supplier the shipped line count,
    returned-line count (l_returnflag = 'R'), return rate in integer
    BASIS POINTS, and returned revenue in exact cents — worst 25
    suppliers first. The vendor-quality ranking behind chargebacks and
    delisting decisions.

    Scale shape: one supplier-keyed aggregate with fused conditional
    sums (map-side combinable); the top-25 cut plans as
    TakeOrderedAndProject. Rate arithmetic is integer `div` (verified
    truncation-identical across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    per_supp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias(
            "n_returned"
        ),
        F.sum(
            F.when(F.col("l_returnflag") == "R", cents).otherwise(0)
        ).alias("returned_cents"),
    )
    return (
        per_supp.select(
            "l_suppkey", "n_lines", "n_returned", "returned_cents",
            F.expr("n_returned * 10000 div n_lines").alias("return_bp"),
        )
        .orderBy(F.col("return_bp").desc(), "l_suppkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Order backlog timeline: open orders outstanding at each month end
# ---------------------------------------------------------------------------

def order_backlog_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog accounting: per order month, how many orders REMAIN open
    ('O' or 'P' status) and their outstanding value — cumulative over
    the month spine, so each row reads "open orders booked up to and
    including this month". The running-liability view finance asks of
    an order book.

    Scale shape: one month-keyed aggregate of open orders (map-side
    combinable), then a running sum over the TINY month spine —
    cumulative logic never touches fact rows (the two-phase cumsum
    handles the unbounded case; here the spine is dozens of rows).
    Values in exact integer cents."""
    o = _t(spark, sf_dir, "orders")
    opened = (
        o.where(F.col("o_orderstatus").isin("O", "P"))
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n_opened"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("opened_cents"),
        )
    )
    w = W.orderBy("m").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        opened.select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "n_opened",
            "opened_cents",
            F.sum("n_opened").over(w).alias("backlog_orders"),
            F.sum("opened_cents").over(w).alias("backlog_cents"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Chi-square mix-shift test: did the category distribution change?
# ---------------------------------------------------------------------------

def mix_shift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift detection: Pearson's chi-square test of
    independence between order period (1996 vs 1998) and order
    priority — the categorical drift check batch monitors run between
    snapshots (the counterpart of the numeric drift the bootstrap CI
    and z-test cover).

    Exactness: all observed and marginal counts are integers; expected
    counts and the chi-square sum are formed with the SAME operation
    order in both engines and the statistic is floor-quantized. One
    tiny contingency-table aggregate — the fact table shuffles only
    (period, priority) partial counts."""
    o = _t(spark, sf_dir, "orders")
    period = F.when(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"), "a"
    ).when(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), "b"
    )
    cells = (
        o.select(period.alias("p"), "o_orderpriority")
        .where(F.col("p").isNotNull())
        .groupBy("p", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    tots = cells.agg(
        F.sum("obs").alias("n"),
        F.count_distinct("o_orderpriority").alias("k"),
    )
    row_t = cells.groupBy("p").agg(F.sum("obs").alias("row_n"))
    col_t = cells.groupBy("o_orderpriority").agg(
        F.sum("obs").alias("col_n")
    )
    contrib = (
        cells.join(F.broadcast(row_t), "p")
        .join(F.broadcast(col_t), "o_orderpriority")
        .crossJoin(F.broadcast(tots))
        .select(
            "p", "o_orderpriority", "obs", "row_n", "col_n", "n", "k",
            # explicit (d*d), not pow(d,2): pow goes through libm/JVM
            # transcendental paths that can differ by an ulp
            F.expr(
                "(obs - cast(row_n as double) * col_n / n) "
                "* (obs - cast(row_n as double) * col_n / n) "
                "/ (cast(row_n as double) * col_n / n)"
            ).alias("c"),
        )
    )
    # fixed summation order: collect contributions into a sorted array
    # and fold left-to-right so both engines add in (p, priority) order
    return (
        contrib.agg(
            F.max("n").alias("n_orders"),
            F.max("k").alias("k_categories"),
            F.floor(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct("p", "o_orderpriority", "c")
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                )
                * 1e6
            ).alias("chi2_e6"),
        )
        .select(
            "n_orders",
            "k_categories",
            ((F.col("k_categories") - 1) * 1).cast("int").alias("df"),
            # an empty contingency table has NO statistic: the array
            # fold's identity 0.0 would report chi²=0 ("no drift") on
            # zero orders, while the oracle's SUM over nothing is NULL
            # — NULL ("untestable") is the honest value (r9 sweep)
            F.when(
                F.col("n_orders").isNotNull(), F.col("chi2_e6") / 1e6
            ).alias("chi2"),
        )
    )


# ---------------------------------------------------------------------------
# Pipeline health report: the audit operators on one pane of glass
# ---------------------------------------------------------------------------

def pipeline_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pane pipeline health: the repo's audit operators reduced to
    one row each — data-quality violations (``dq_report``), join-key
    skew (``partition_skew_report``), and categorical drift
    (``mix_shift_test``) — with a deterministic status per metric. The
    morning dashboard every pipeline owner reads, expressed as one
    query over the audits it composes.

    Scale shape: pure composition of already-shaped one-row audits;
    the report itself is a three-row union of scalars."""
    dq = dq_report(spark, sf_dir).agg(
        F.sum(F.col("n_violations")).cast("double").alias("v"),
    ).select(
        F.lit("dq_total_violations").alias("metric"),
        F.col("v").alias("value"),
        F.when(F.col("v") == 0, "ok").otherwise("alert").alias("status"),
    )
    skew = partition_skew_report(spark, sf_dir).select(
        F.lit("join_key_skew_ratio").alias("metric"),
        F.col("skew_ratio").alias("value"),
        F.when(F.col("skew_ratio") < 4.0, "ok")
        .otherwise("alert").alias("status"),
    )
    drift = mix_shift_test(spark, sf_dir).select(
        F.lit("priority_mix_chi2").alias("metric"),
        F.col("chi2").alias("value"),
        # chi-square 99th percentile at df=4 is ~13.28
        F.when(F.col("chi2") < 13.28, "ok")
        .otherwise("alert").alias("status"),
    )
    return dq.unionByName(skew).unionByName(drift).orderBy("metric")
