"""Batch warehouse layout: time+key partitioned parquet with bounded
file sizes, plus small-file compaction (SURVEY.md §7.4 item 7, "partition
by time + key").

The reference dumps flat CSV per run (`log-processor` `dump`,
Main.scala:103-117); at 100 TB the storage layout IS the query plan:
directory partitioning gives partition pruning (see
`tests/test_scale_patterns.py::test_partition_pruning_reads_one_day`),
and bounded file sizes keep scan tasks uniform. Two failure modes are
handled here:

- **Small files**: one writer task per (shuffle partition × directory)
  emits a file; naive writes of a wide-partitioned table produce millions
  of tiny files that drown the driver in listing and the scheduler in
  tasks. `write_partitioned` repartitions BY the partition columns first,
  so each directory is written by as few tasks as possible, while
  `maxRecordsPerFile` re-splits any directory that would otherwise become
  one giant file.
- **Drift**: streaming/appending pipelines accumulate small files over
  time; `compact` rewrites a dataset into right-sized files without
  changing its schema, partitioning, or row set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    *,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols`` with at
    most ``max_records_per_file`` rows per file.

    One shuffle aligns rows to their target directory (hash on the
    partition columns), so each directory receives data from exactly one
    task — the minimum file count. ``maxRecordsPerFile`` then re-splits
    oversized directories JVM-side, which bounds the worst file without a
    second shuffle. Skew note: a hot partition value lands on one task;
    at cluster scale add a salt column to ``repartition`` if one day/key
    dominates (the `skew_salted_agg` pattern)."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .mode(mode)
        .parquet(path)
    )


def compact(
    spark: SparkSession,
    src: str,
    dst: str,
    partition_cols: list[str],
    *,
    max_records_per_file: int = 1_000_000,
) -> DataFrame:
    """Rewrite the partitioned dataset at ``src`` into ``dst`` with
    right-sized files (same rows, schema, and directory layout).

    Reads with partition discovery, then reuses :func:`write_partitioned`
    — so compaction is one scan + one shuffle, no driver-side file
    juggling, and it scales with the cluster. ``dst`` must differ from
    ``src``: Spark cannot safely overwrite a path it is reading (callers
    swap directories after the write commits). Returns the compacted
    DataFrame for verification."""
    if src == dst:
        raise ValueError("compact: dst must differ from src (no in-place rewrite)")
    df = spark.read.parquet(src)
    write_partitioned(
        df, dst, partition_cols, max_records_per_file=max_records_per_file
    )
    return spark.read.parquet(dst)


# ---------------------------------------------------------------------------
# Bucketed co-located join (the pre-shuffled warehouse layout)
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = N_BUCKETS
) -> None:
    """Persist ``df`` as a bucketed+sorted table: rows are hash-assigned
    to ``n_buckets`` files per write task by ``bucket_col`` and sorted
    within each bucket. A join between two tables bucketed the same way
    on the same key needs NO exchange on either side — at 100 TB the
    shuffle is paid once at write time and amortized over every
    subsequent join, the classic warehouse co-location contract."""
    (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def _ensure_bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create (once per session per sf) bucketed twins of orders and
    lineitem keyed on the order key; returns their table names."""
    import hashlib
    import os
    import shutil
    from urllib.parse import urlparse

    from ..session import load_table

    # tag includes the PID: the in-memory catalog is per-process but the
    # warehouse DIRECTORY is shared, and two processes (e.g. pytest plus
    # an oracle sweep) racing overwrite/read on one location corrupt the
    # table mid-scan — observed as a flaky parity failure
    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    t_orders, t_lineitem = f"wh_b_{tag}_orders", f"wh_b_{tag}_lineitem"
    # the session catalog is in-memory but the warehouse directory
    # persists: a table absent from the catalog with a leftover location
    # from an earlier process must be cleared before saveAsTable
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (t_orders, t_lineitem):
        loc = os.path.join(wh, t)
        if not spark.catalog.tableExists(t) and os.path.exists(loc):
            shutil.rmtree(loc)
    if not spark.catalog.tableExists(t_orders):
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            t_orders,
            "o_orderkey",
        )
    if not spark.catalog.tableExists(t_lineitem):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            t_lineitem,
            "l_orderkey",
        )
    return t_orders, t_lineitem


def bucketed_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED bucketed co-located join: orders ⋈ lineitem on the
    order key with BOTH sides pre-bucketed on the join key, so the join
    plan carries no hash-partition exchange (pinned by
    ``tests/test_plans.py::test_bucketed_join_has_no_exchange``) —
    Spark's answer to the reference's per-stream pre-partitioning
    (SURVEY §2.4 J1) lifted to the warehouse layout, and the shape that
    turns the biggest TPC-H-style shuffle into a local merge at 100 TB.
    Revenue aggregates in integer cents (exact, engine-portable)."""
    t_orders, t_lineitem = _ensure_bucketed_pair(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem).select(
        "l_orderkey",
        (
            F.expr("cast(round(l_extendedprice * 100) as bigint)")
            * (F.lit(100) - F.expr("cast(round(l_discount * 100) as bigint)"))
        ).alias("rev_c4"),
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round((F.sum("rev_c4") / F.lit(10000.0)), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


BUCKETED_JOIN_STATS_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_items,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
             / 10000.0, 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

WAREHOUSE_QUERIES = {"bucketed_join_stats": bucketed_join_stats}
WAREHOUSE_ORACLES = {"bucketed_join_stats": BUCKETED_JOIN_STATS_ORACLE}


# ---------------------------------------------------------------------------
# Z-order layout audit: rank-interleaved clustering + per-file min/max
# ---------------------------------------------------------------------------

ZORDER_BITS = 10          # 1024 rank buckets per dimension
ZORDER_FILES = 16         # target file count for the audit

#: shared Spark/DuckDB SQL for one bit of the interleave; only integer
#: division differs between the engines (`div` vs `//`)


def _z_value_sql(intdiv) -> str:
    """Bit-interleave of two 0-based ``ZORDER_BITS``-bit ranks r1/r2 into
    a single z-value, as portable integer arithmetic (no engine-specific
    bit operators). ``intdiv(a, b)`` renders integer division."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"({intdiv('r1', 2 ** i)} % 2) * {2 ** (2 * i)}")
        terms.append(f"({intdiv('r2', 2 ** i)} % 2) * {2 ** (2 * i + 1)}")
    return " + ".join(terms)


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit over events: rows are rank-bucketed on
    (user_id, value), bit-interleaved into a Morton z-value, packed into
    ``ZORDER_FILES`` equal files in z order, and the per-file min/max
    ranges of BOTH dimensions are reported — the data-skipping index a
    lakehouse OPTIMIZE ZORDER pass produces, proving every file covers a
    narrow rectangle of the 2-D key space (so point/range predicates on
    either column prune most files).

    Scale shape: rank-based z-values (ntile per dimension) are exactly
    how production z-ordering normalizes heterogeneous column domains
    (range-partition ids, not raw bits of the values). The two ntile
    windows + the final z sort are the inherent cost of a clustering
    rewrite — a layout pass you run once per compaction cycle, not per
    query; at cluster scale each global sort is a range-partitioned
    exchange (Spark sorts distributedly; no driver bottleneck). The
    interleave itself is pure codegen arithmetic. Deterministic:
    event_id tiebreaks every window.
    """
    from pyspark.sql import Window as W

    ev = _load_events(spark, sf_dir)
    ranked = ev.select(
        "event_id",
        "user_id",
        "value",
        (F.ntile(2 ** ZORDER_BITS).over(
            W.orderBy("user_id", "event_id")) - 1).alias("r1"),
        # nulls_last pins the engines' opposite null-order defaults for
        # a malformed feed's null values (Spark ASC = NULLS FIRST,
        # DuckDB ASC = NULLS LAST; r9 nulls sweep) — no-op when the
        # column is null-free
        (F.ntile(2 ** ZORDER_BITS).over(
            W.orderBy(F.col("value").asc_nulls_last(), "event_id"))
         - 1).alias("r2"),
    )
    spark_div = lambda a, b: f"({a} div {b})"  # noqa: E731
    z = ranked.withColumn("z", F.expr(_z_value_sql(spark_div)))
    packed = z.withColumn(
        "file_id",
        F.ntile(ZORDER_FILES).over(W.orderBy("z", "event_id")),
    )
    return (
        packed.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.round(F.min("value"), 6).alias("v_min"),
            F.round(F.max("value"), 6).alias("v_max"),
        )
        .orderBy("file_id")
    )


ZORDER_LAYOUT_ORACLE = f"""
WITH ranked AS (
  SELECT event_id, user_id, value,
         ntile({2 ** ZORDER_BITS}) OVER (ORDER BY user_id, event_id) - 1 AS r1,
         ntile({2 ** ZORDER_BITS}) OVER (ORDER BY value, event_id) - 1 AS r2
  FROM events),
zed AS (
  SELECT *, {_z_value_sql(lambda a, b: f"({a} // {b})")} AS z FROM ranked),
packed AS (
  SELECT *, ntile({ZORDER_FILES}) OVER (ORDER BY z, event_id) AS file_id
  FROM zed)
SELECT file_id, count(*) AS n_rows,
       min(user_id) AS u_min, max(user_id) AS u_max,
       round(min(value), 6) AS v_min, round(max(value), 6) AS v_max
FROM packed GROUP BY file_id ORDER BY file_id
"""


# ---------------------------------------------------------------------------
# Compaction planner: streaming bin-packing of (event_type, day) chunks
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 32_768


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLAN over events: per (event_type, day)
    chunk, the estimated payload bytes and the output bin the chunk is
    assigned to, packing key-adjacent chunks into ~``COMPACT_TARGET_BYTES``
    output files. This is the planning half of ``compact`` above — the
    thing a table-maintenance service computes from file listings before
    launching the rewrite.

    The bin rule is streaming/monotonic — a chunk starts a new bin when
    the running total crosses a target multiple (bin = cumsum-before-me
    div target) — so the plan is a pure prefix-sum: one window over the
    (type, day)-sorted chunk list, embarrassingly parallel per
    event_type at scale, and deterministic (no first-fit backtracking).

    Scale shape: the chunk list is metadata (one row per partition-day,
    ~10^5 rows for a year of a 1000-way keyed table even at 100 TB), so
    the whole plan is a metadata-only computation: one aggregate over
    the fact table to size chunks, one window over the tiny chunk list.
    """
    from pyspark.sql import Window as W

    ev = _load_events(spark, sf_dir)
    chunks = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_millis("ts") / F.lit(86_400_000)).alias("day"),
        )
        .agg(
            (F.sum(F.length("props")) + 40 * F.count(F.lit(1))).alias(
                "est_bytes"
            )
        )
    )
    w = W.orderBy("event_type", "day").rowsBetween(
        W.unboundedPreceding, -1
    )
    return (
        chunks.withColumn(
            "bin_id",
            (
                F.coalesce(F.sum("est_bytes").over(w), F.lit(0))
                / F.lit(COMPACT_TARGET_BYTES)
            ).cast("bigint"),
        )
        .select("event_type", "day", "est_bytes", "bin_id")
        .orderBy("event_type", "day")
    )


COMPACTION_PLAN_ORACLE = f"""
WITH chunks AS (
  SELECT event_type,
         CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day,
         CAST(sum(length(props)) + 40 * count(*) AS BIGINT) AS est_bytes
  FROM events GROUP BY 1, 2),
planned AS (
  SELECT event_type, day, est_bytes,
         CAST(floor(coalesce(sum(est_bytes) OVER (
             ORDER BY event_type, day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {COMPACT_TARGET_BYTES}) AS BIGINT) AS bin_id
  FROM chunks)
SELECT event_type, day, est_bytes, bin_id
FROM planned ORDER BY event_type, day
"""


def _load_events(spark: SparkSession, sf_dir: str):
    from ..session import load_table

    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# File-skipping audit: arrival layout vs z-order layout under predicates
# ---------------------------------------------------------------------------

#: audit predicates: (name, dimension, lo, hi) — literal ranges on the
#: two z-order dimensions, identical in both engines
SKIP_PREDICATES = (
    ("user_10_19", "user", 10.0, 19.0),
    ("user_100_104", "user", 100.0, 104.0),
    ("value_lo", "value", 0.0, 10.0),
    ("value_mid", "value", 200.0, 250.0),
    ("value_hi", "value", 400.0, 500.0),
)


def file_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY z-order matters, measured: for each audit predicate, how many
    of the 16 files must be scanned under the arrival-order layout vs
    the z-order layout, using exactly the per-file min/max ranges a
    lakehouse data-skipping index stores. The skip rate (files pruned,
    in basis points) is the number an OPTIMIZE ZORDER decision is made
    on.

    Scale shape: both layouts' file stats are bounded aggregates
    (ZORDER_FILES rows); the predicate sweep is an explode over a
    literal array. The expensive part — the clustering sort — is the
    same once-per-compaction-cycle cost ``zorder_layout`` documents."""
    from pyspark.sql import Window as W

    ev = _load_events(spark, sf_dir)
    arrival = (
        ev.withColumn(
            "file_id", F.ntile(ZORDER_FILES).over(W.orderBy("event_id"))
        )
        .groupBy("file_id")
        .agg(
            F.min("user_id").alias("u_min"), F.max("user_id").alias("u_max"),
            F.round(F.min("value"), 6).alias("v_min"),
            F.round(F.max("value"), 6).alias("v_max"),
        )
        .withColumn("layout", F.lit("arrival"))
    )
    zorder = zorder_layout(spark, sf_dir).select(
        "file_id", "u_min", "u_max", "v_min", "v_max"
    ).withColumn("layout", F.lit("zorder"))
    stats = arrival.unionByName(zorder)
    preds = F.array(*[
        F.struct(
            F.lit(n).alias("pred"), F.lit(d).alias("dim"),
            F.lit(lo).alias("lo"), F.lit(hi).alias("hi"),
        )
        for n, d, lo, hi in SKIP_PREDICATES
    ])
    exploded = stats.select(
        "layout", "u_min", "u_max", "v_min", "v_max",
        F.explode(preds).alias("p"),
    ).select(
        "layout", F.col("p.pred").alias("pred"),
        F.when(
            F.col("p.dim") == "user",
            ~((F.col("p.hi") < F.col("u_min"))
              | (F.col("p.lo") > F.col("u_max"))),
        ).otherwise(
            ~((F.col("p.hi") < F.col("v_min"))
              | (F.col("p.lo") > F.col("v_max"))),
        ).cast("long").alias("hit"),
    )
    return (
        exploded.groupBy("layout", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("hit").alias("n_scanned"),
        )
        .select(
            "layout", "pred", "n_files", "n_scanned",
            F.expr(
                "(n_files - n_scanned) * 10000 div n_files"
            ).alias("skip_bp"),
        )
        .orderBy("layout", "pred")
    )


def _file_skipping_oracle() -> str:
    zdiv = lambda a, b: f"({a} // {b})"  # noqa: E731
    pred_rows = ",\n    ".join(
        f"('{n}', '{d}', {lo}::DOUBLE, {hi}::DOUBLE)"
        for n, d, lo, hi in SKIP_PREDICATES
    )
    return f"""
WITH ranked AS (
  SELECT event_id, user_id, value,
         ntile({2 ** ZORDER_BITS}) OVER (ORDER BY user_id, event_id) - 1
           AS r1,
         ntile({2 ** ZORDER_BITS}) OVER (ORDER BY value, event_id) - 1
           AS r2
  FROM events),
zed AS (
  SELECT *, {_z_value_sql(zdiv)} AS z FROM ranked),
zpacked AS (
  SELECT *, ntile({ZORDER_FILES}) OVER (ORDER BY z, event_id) AS file_id
  FROM zed),
apacked AS (
  SELECT *, ntile({ZORDER_FILES}) OVER (ORDER BY event_id) AS file_id
  FROM events),
stats AS (
  SELECT 'zorder' AS layout, file_id,
         min(user_id) AS u_min, max(user_id) AS u_max,
         round(min(value), 6) AS v_min, round(max(value), 6) AS v_max
  FROM zpacked GROUP BY file_id
  UNION ALL
  SELECT 'arrival', file_id,
         min(user_id), max(user_id),
         round(min(value), 6), round(max(value), 6)
  FROM apacked GROUP BY file_id),
preds(pred, dim, lo, hi) AS (VALUES
    {pred_rows}),
overl AS (
  SELECT s.layout, p.pred,
         CASE WHEN p.dim = 'user'
              THEN CASE WHEN p.hi < s.u_min OR p.lo > s.u_max
                        THEN 0 ELSE 1 END
              ELSE CASE WHEN p.hi < s.v_min OR p.lo > s.v_max
                        THEN 0 ELSE 1 END
         END AS hit
  FROM stats s CROSS JOIN preds p)
SELECT layout, pred, count(*) AS n_files,
       CAST(sum(hit) AS BIGINT) AS n_scanned,
       (count(*) - CAST(sum(hit) AS BIGINT)) * 10000 // count(*)
         AS skip_bp
FROM overl
GROUP BY layout, pred
ORDER BY layout, pred
"""


FILE_SKIPPING_ORACLE = _file_skipping_oracle()


WAREHOUSE_QUERIES["zorder_layout"] = zorder_layout
WAREHOUSE_QUERIES["compaction_plan"] = compaction_plan
WAREHOUSE_ORACLES["zorder_layout"] = ZORDER_LAYOUT_ORACLE
WAREHOUSE_QUERIES["file_skipping_audit"] = file_skipping_audit
WAREHOUSE_ORACLES["file_skipping_audit"] = FILE_SKIPPING_ORACLE
WAREHOUSE_ORACLES["compaction_plan"] = COMPACTION_PLAN_ORACLE
