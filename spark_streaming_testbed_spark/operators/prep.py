"""Feature-preparation and data-quality audit operators (round 4).

The feature-engineering / governance layer a training-data pipeline runs
between raw ingest and model consumption: leakage-safe target encoding,
equal-frequency binning, robust (MAD) outlier flagging, Benford
first-digit auditing, LOCF gap filling, CUSUM drift detection,
k-anonymity auditing, n-gram novelty scoring, hashing-trick features,
length-bucketed packing plans, class-balance weights, and a near-dup
threshold sweep. All are beyond the reference's own operator set (the
reference stops at windowed stats — ``testbed`` computes per-batch
count/sum/mean/stddev only), added per the build brief's
training-pipeline mandate.

Cross-engine determinism rules (see text.py and the float-parity notes):
integer arithmetic wherever possible (basis points / millionths via
``div``, which truncates identically in Spark and DuckDB), DECIMAL(28,9)
sufficient sums for order-independent aggregation of doubles,
floor-quantization ``floor(x*1e6)/1e6`` instead of ``round`` on computed
doubles, and sequential folds for vector math. Transcendental constants
(Benford's log10 table) are computed ONCE in Python and embedded as
literals in both plans, so neither engine evaluates a transcendental.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import build_once, load_table
from .text import MD5H_SQL_TEMPLATE, md5h, with_grams, with_tokens

#: k-anonymity threshold: quasi-identifier groups smaller than this are
#: re-identification risks and must be suppressed or generalized.
K_ANON = 5

#: hashing-trick bucket count (power of two, as in Weinberger et al. 2009)
HASH_BUCKETS = 64

#: equal-frequency bin count for quantile binning
N_BINS = 10

#: MAD outlier rule: |x - median| > MAD_CUTOFF * 1.4826 * MAD
#: (1.4826 makes MAD consistent with sigma under normality;
#: 3.5 is the Iglewicz-Hoaglin recommendation)
MAD_CUTOFF = 3.5
MAD_SIGMA = 1.4826

#: CUSUM reference drift k and (unused-for-alarm, reported) scale
CUSUM_K = 0.05

#: cosine thresholds for the near-dup threshold sweep, in millionths
SWEEP_THRESHOLDS = (200000, 300000, 400000, 450000)

#: Benford first-digit probabilities in millionths — computed once here
#: and embedded as literals in BOTH the Spark plan and the DuckDB oracle
#: so no engine evaluates log10 at query time.
BENFORD_MILLIONTHS = {
    d: round(math.log10(1.0 + 1.0 / d) * 1_000_000) for d in range(1, 10)
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _q6(col: Column) -> Column:
    """Floor-quantize a computed double to 6 decimals (round() diverges
    between engines on computed doubles; floor flips only if an ulp
    straddles a 1e-6 boundary)."""
    return F.floor(col * F.lit(1000000.0)) / F.lit(1000000.0)


_Q6_SQL = "floor(({x}) * 1000000.0) / 1000000.0"


# ---------------------------------------------------------------------------
# Leakage-safe target encoding (leave-one-out)
# ---------------------------------------------------------------------------

def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean target encoding of ``event_type`` against
    ``value``: each event's encoded feature is the mean of all OTHER
    events of its type — the standard leakage-safe categorical encoding
    (each row's own target is excluded so the feature can't memorize it).

    Scale shape: one bounded-cardinality aggregate (|event_types| rows)
    broadcast back onto the fact rows — no fact-side shuffle at all.
    Sums accumulate in DECIMAL(28,9) so both engines agree exactly; the
    final division is floor-quantized."""
    events = _t(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(28,9)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    loo = (
        (F.col("s") - F.col("value").cast("decimal(28,9)")).cast("double")
        / (F.col("n") - F.lit(1))
    )
    return (
        events.join(F.broadcast(per_type), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.when(F.col("n") > 1, _q6(loo)).alias("loo_encoding"),
        )
        .orderBy("event_id")
    )


TARGET_ENCODING_ORACLE = f"""
WITH per_type AS (
  SELECT event_type,
         sum(CAST(value AS DECIMAL(28,9))) AS s,
         count(*) AS n
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN t.n > 1 THEN
         {_Q6_SQL.format(x="CAST(t.s - CAST(e.value AS DECIMAL(28,9)) AS DOUBLE) / (t.n - 1)")}
       END AS loo_encoding
FROM events e JOIN per_type t USING (event_type)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Equal-frequency (quantile) binning
# ---------------------------------------------------------------------------

def quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency discretization of ``l_extendedprice`` into
    :data:`N_BINS` bins via ``ntile`` with a fully deterministic sort
    (price, orderkey, linenumber — no ties left to the engine), then a
    per-bin profile: row count, exact bounds, DECIMAL-summed mean.

    Scale shape: a global ntile is a total sort — at 100 TB you'd
    compute approximate cut points on a sample and bin by range instead;
    this operator IS the exact oracle-checkable twin of that (the bin
    profile is identical when cut points are exact). The per-bin
    aggregate is bounded (N_BINS rows)."""
    li = _t(spark, sf_dir, "lineitem")
    w = W.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    binned = li.select(
        "l_extendedprice", F.ntile(N_BINS).over(w).alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,9)")).alias("_s"),
        )
        .select(
            "bin", "n", "lo", "hi",
            _q6(F.col("_s").cast("double") / F.col("n")).alias("bin_mean"),
        )
        .orderBy("bin")
    )


QUANTILE_BINNING_ORACLE = f"""
WITH binned AS (
  SELECT l_extendedprice,
         ntile({N_BINS}) OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin
  FROM lineitem)
SELECT bin, count(*) AS n,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi,
       {_Q6_SQL.format(x="CAST(sum(CAST(l_extendedprice AS DECIMAL(28,9))) AS DOUBLE) / count(*)")}
         AS bin_mean
FROM binned
GROUP BY bin ORDER BY bin
"""


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-governance audit: treat (event_type, day, hour) as the
    quasi-identifier and report, per event type, how many equivalence
    classes fall below k = :data:`K_ANON` members and how many rows a
    k-anonymous release would have to suppress (Sweeney 2002).

    Scale shape: one hash aggregate on the quasi-identifier, then a
    bounded re-aggregate per event type — two map-side-combinable
    passes, no joins. Integer arithmetic only."""
    events = _t(spark, sf_dir, "events")
    classes = events.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        classes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum((F.col("n") < K_ANON).cast("long")).alias("n_small"),
            F.sum("n").alias("n_rows"),
            F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(0)).alias(
                "rows_suppressed"
            ),
        )
        .select(
            "event_type", "n_classes", "n_small", "n_rows", "rows_suppressed",
            F.expr("rows_suppressed * 10000 div n_rows").alias(
                "suppression_bp"
            ),
        )
        .orderBy("event_type")
    )


K_ANONYMITY_ORACLE = f"""
WITH classes AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INTEGER) AS hod,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3)
SELECT event_type,
       count(*) AS n_classes,
       CAST(sum(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
         AS rows_suppressed,
       CAST(sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
         * 10000 // CAST(sum(n) AS BIGINT) AS suppression_bp
FROM classes
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Length-bucketed packing plan
# ---------------------------------------------------------------------------

#: power-of-two packing buckets covering the corpus's token-length range
LENGTH_BUCKETS = (16, 32, 64, 128, 256)


def _bucket_expr(n_col: str) -> str:
    """CASE ladder to the smallest covering power-of-two bucket —
    identical SQL text works in Spark and DuckDB (no log2, so no
    transcendental-parity risk)."""
    branches = " ".join(
        f"WHEN {n_col} <= {b} THEN {b}" for b in LENGTH_BUCKETS
    )
    return f"CASE {branches} ELSE -1 END"


def length_bucket_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: assign each document to the smallest
    power-of-two length bucket covering its token count, then report per
    bucket the doc count, true token mass, padded token mass (every doc
    padded to the bucket length), and padding waste in basis points —
    the batching-efficiency audit run before fixed-shape training.

    Scale shape: token counting is row-local (split + size, codegen);
    the per-bucket aggregate is bounded by len(LENGTH_BUCKETS). Integer
    arithmetic only."""
    docs = with_tokens(_t(spark, sf_dir, "documents"))
    counted = docs.select(
        F.size("tokens").alias("n_tokens")
    ).withColumn("bucket", F.expr(_bucket_expr("n_tokens")))
    return (
        counted.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("true_tokens"),
        )
        .select(
            "bucket", "n_docs", "true_tokens",
            (F.col("bucket") * F.col("n_docs")).alias("padded_tokens"),
            F.expr(
                "(bucket * n_docs - true_tokens) * 10000 div "
                "(bucket * n_docs)"
            ).alias("waste_bp"),
        )
        .orderBy("bucket")
    )


LENGTH_BUCKET_PLAN_ORACLE = f"""
WITH counted AS (
  SELECT len(string_split(trim(text), ' ')) AS n_tokens
  FROM documents),
bucketed AS (
  SELECT n_tokens, {_bucket_expr("n_tokens")} AS bucket FROM counted)
SELECT bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS true_tokens,
       bucket * count(*) AS padded_tokens,
       (bucket * count(*) - CAST(sum(n_tokens) AS BIGINT)) * 10000
         // (bucket * count(*)) AS waste_bp
FROM bucketed
GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Class-balance sampling weights
# ---------------------------------------------------------------------------

def class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency sampling weights per (lang, source) stratum:
    weight = N / (G * n_g) — the multiplier that equalizes expected
    per-stratum mass when sampling a balanced training mix. Emitted in
    integer micro-units (``div``) so both engines agree bitwise.

    Scale shape: one bounded-cardinality aggregate; the two global
    scalars (N, G) ride along via a single-row cross join, which Spark
    broadcasts. No fact-side shuffle beyond the group-by."""
    docs = _t(spark, sf_dir, "documents")
    strata = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_g")
    )
    totals = strata.agg(
        F.sum("n_g").alias("n_total"), F.count(F.lit(1)).alias("g")
    )
    return (
        strata.crossJoin(F.broadcast(totals))
        .select(
            "lang", "source", "n_g",
            F.expr("n_total * 1000000 div (g * n_g)").alias("weight_micro"),
        )
        .orderBy("lang", "source")
    )


CLASS_BALANCE_WEIGHTS_ORACLE = """
WITH strata AS (
  SELECT lang, source, count(*) AS n_g
  FROM documents GROUP BY lang, source),
totals AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_total, count(*) AS g FROM strata)
SELECT s.lang, s.source, s.n_g,
       t.n_total * 1000000 // (t.g * s.n_g) AS weight_micro
FROM strata s CROSS JOIN totals t
ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# Hashing-trick features
# ---------------------------------------------------------------------------

def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words (Weinberger et al. 2009): each token
    maps to bucket ``h(token) mod B`` with a signed contribution from a
    second hash bit, and per-doc bucket weights are summed — fixed-width
    features with no vocabulary broadcast, the property that matters
    when the vocabulary itself would be a 100 GB side input.

    Scale shape: explode + hash + re-aggregate keyed on (doc_id,
    bucket); the hash is the repo's portable 60-bit md5 prefix so DuckDB
    reproduces it. Integer arithmetic only."""
    docs = with_tokens(_t(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode("tokens").alias("tok"))
    h = md5h("tok")
    return (
        toks.select(
            "doc_id",
            (h % HASH_BUCKETS).alias("bucket"),
            # sign bit decorrelates colliding tokens (hash-kernel trick)
            F.when((h.bitwiseAND(F.lit(HASH_BUCKETS))) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("weight"))
        .where(F.col("weight") != 0)
        .orderBy("doc_id", "bucket")
    )


_H_TOK = MD5H_SQL_TEMPLATE.format(expr="tok")

FEATURE_HASHING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents),
hashed AS (
  SELECT doc_id,
         {_H_TOK} % {HASH_BUCKETS} AS bucket,
         CASE WHEN ({_H_TOK} & {HASH_BUCKETS}) = 0 THEN 1 ELSE -1 END
           AS sgn
  FROM toks)
SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS weight
FROM hashed
GROUP BY doc_id, bucket
HAVING CAST(sum(sgn) AS BIGINT) != 0
ORDER BY doc_id, bucket
"""


PREP_QUERIES = {
    "target_encoding": target_encoding,
    "quantile_binning": quantile_binning,
    "k_anonymity_audit": k_anonymity_audit,
    "length_bucket_plan": length_bucket_plan,
    "class_balance_weights": class_balance_weights,
    "feature_hashing": feature_hashing,
}

PREP_ORACLES = {
    "target_encoding": TARGET_ENCODING_ORACLE,
    "quantile_binning": QUANTILE_BINNING_ORACLE,
    "k_anonymity_audit": K_ANONYMITY_ORACLE,
    "length_bucket_plan": LENGTH_BUCKET_PLAN_ORACLE,
    "class_balance_weights": CLASS_BALANCE_WEIGHTS_ORACLE,
    "feature_hashing": FEATURE_HASHING_ORACLE,
}


# ---------------------------------------------------------------------------
# n-gram novelty scoring
# ---------------------------------------------------------------------------

NOVELTY_N = 3


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct word 3-grams
    that no earlier document (smaller doc_id) contains — the curriculum
    signal that separates fresh content from recombinations of what the
    corpus already has.

    Scale shape: exactly TWO shuffles of the exploded gram table — a
    gram-partitioned window computes the global first-seer
    ``min(doc_id)`` in place (no join back: the r4 agg+join shape
    re-shuffled the full exploded table a third time, the top
    scale-smoke outlier), then the per-doc re-aggregate. Grams shuffle
    as xxhash64 codes (8 bytes), not 20-30 byte strings — the same
    fingerprint-first trick as the decontamination gate; a collision
    would mis-attribute one gram's first-seer (P ~ n^2/2^64, ~1e-6 at
    ten million distinct grams). No pairwise comparisons. Integer
    outputs only."""
    docs = with_grams(
        with_tokens(_t(spark, sf_dir, "documents")), NOVELTY_N, "grams"
    )
    doc_grams = docs.select(
        "doc_id", F.explode(F.array_distinct("grams")).alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("g"))
    return (
        doc_grams.select(
            "doc_id",
            F.min("doc_id").over(W.partitionBy("g")).alias("first_doc"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id", "n_grams", "n_novel",
            F.expr("n_novel * 10000 div n_grams").alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


_GRAMS3_SQL = (
    f"CASE WHEN len(tokens) >= {NOVELTY_N} THEN "
    f"list_distinct(list_transform(range(1, len(tokens) - {NOVELTY_N} + 2), "
    f"i -> array_to_string(tokens[i:i+{NOVELTY_N - 1}], ' '))) "
    "ELSE [] END"
)

NGRAM_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS tokens FROM documents),
doc_grams AS (
  SELECT doc_id, unnest({_GRAMS3_SQL}) AS gram FROM toks),
first_seen AS (
  SELECT gram, min(doc_id) AS first_doc FROM doc_grams GROUP BY gram)
SELECT d.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) * 10000 // count(*) AS novelty_bp
FROM doc_grams d JOIN first_seen f USING (gram)
GROUP BY d.doc_id ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of ``l_extendedprice`` (Newcomb 1881 /
    Benford 1938; standard forensic-accounting screen): observed
    first-significant-digit counts vs the log10 expectation, with the
    per-digit chi-square contribution in integer micro-units.

    The digit comes from ``floor`` + BIGINT + string (no log10 on data);
    the nine expected proportions are Python-computed literals embedded
    in both plans, so neither engine evaluates a transcendental. One
    9-row aggregate; integer arithmetic end to end."""
    li = _t(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    exp_map = F.create_map(
        *[F.lit(x) for kv in BENFORD_MILLIONTHS.items() for x in kv]
    )
    return (
        li.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .withColumn("_n", F.sum("n_obs").over(W.partitionBy()))
        .select(
            "digit", "n_obs",
            F.expr("n_obs * 1000000 div _n").alias("obs_millionths"),
            exp_map[F.col("digit")].alias("exp_millionths"),
            # chi2 contribution (obs-exp)^2/exp in micro-units, exactly:
            # (1e6*n_obs - n*p_micro)^2 // (1e6 * n * p_micro); the
            # square exceeds int64 at scale, so it runs in DECIMAL(38,0)
            # (Spark) / HUGEINT (DuckDB) — both exact integer domains
            F.expr(
                "cast((cast(1000000 * n_obs - _n * {m}[digit] "
                "as decimal(38,0)) "
                "* cast(1000000 * n_obs - _n * {m}[digit] "
                "as decimal(38,0))) "
                "div (1000000 * _n * {m}[digit]) as bigint)".format(
                    m="map("
                      + ", ".join(
                          f"{k}, {v}" for k, v in BENFORD_MILLIONTHS.items()
                      )
                      + ")"
                )
            ).alias("chi2_micro"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {k} THEN {v}" for k, v in BENFORD_MILLIONTHS.items())
    + " END"
)

BENFORD_AUDIT_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM lineitem),
counted AS (
  SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counted)
SELECT digit, n_obs,
       n_obs * 1000000 // t.n AS obs_millionths,
       {_BENFORD_CASE} AS exp_millionths,
       CAST(CAST(1000000 * n_obs - t.n * ({_BENFORD_CASE}) AS HUGEINT)
         * CAST(1000000 * n_obs - t.n * ({_BENFORD_CASE}) AS HUGEINT)
         // CAST(1000000 * t.n * ({_BENFORD_CASE}) AS HUGEINT) AS BIGINT)
         AS chi2_micro
FROM counted CROSS JOIN tot t
ORDER BY digit
"""


# ---------------------------------------------------------------------------
# MAD (median absolute deviation) outlier flags
# ---------------------------------------------------------------------------

def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier summary per event type: exact median, exact MAD,
    and the count of events outside median ± 3.5·1.4826·MAD (the
    Iglewicz-Hoaglin modified z-score rule) — the screen that still
    works when the mean/stddev are themselves dragged by the outliers.

    Scale shape: two bounded-group exact-percentile aggregates (median,
    then MAD over |x-median|) with the 5-row result broadcast back for
    the final count pass — three scans, no fact-side shuffle. Median
    and MAD are floor-quantized BEFORE the threshold comparison so both
    engines compare against bitwise-identical cutoffs."""
    events = _t(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        _q6(F.expr("percentile(value, 0.5)")).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        _q6(F.expr("percentile(adev, 0.5)")).alias("mad"),
        F.min("med").alias("med"),
    )
    cutoff = F.lit(MAD_CUTOFF) * F.lit(MAD_SIGMA) * F.col("mad")
    return (
        events.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                (F.abs(F.col("value") - F.col("med")) > cutoff).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type", "n", "med", "mad", "n_outliers",
            F.expr("n_outliers * 10000 div n").alias("outlier_bp"),
        )
        .orderBy("event_type")
    )


MAD_OUTLIERS_ORACLE = f"""
WITH med AS (
  SELECT event_type,
         {_Q6_SQL.format(x="quantile_cont(value, 0.5)")} AS med
  FROM events GROUP BY event_type),
mad AS (
  SELECT e.event_type,
         {_Q6_SQL.format(x="quantile_cont(abs(e.value - m.med), 0.5)")}
           AS mad,
         min(m.med) AS med
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type)
SELECT e.event_type,
       count(*) AS n,
       min(m.med) AS med,
       min(m.mad) AS mad,
       CAST(sum(CASE WHEN abs(e.value - m.med) >
                          {MAD_CUTOFF} * {MAD_SIGMA} * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN abs(e.value - m.med) >
                          {MAD_CUTOFF} * {MAD_SIGMA} * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*)
         AS outlier_bp
FROM events e JOIN mad m USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""


PREP_QUERIES.update({
    "ngram_novelty": ngram_novelty,
    "benford_audit": benford_audit,
    "mad_outliers": mad_outliers,
})

PREP_ORACLES.update({
    "ngram_novelty": NGRAM_NOVELTY_ORACLE,
    "benford_audit": BENFORD_AUDIT_ORACLE,
    "mad_outliers": MAD_OUTLIERS_ORACLE,
})


# ---------------------------------------------------------------------------
# LOCF gap filling on the hourly grid
# ---------------------------------------------------------------------------

def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling for time-series features: the (event_type, day, hour)
    mean-value grid, with empty cells filled by last observation carried
    forward within the event type — what a feature store does before a
    model consumes a regular time series. Leading gaps stay NULL.

    Scale shape: the cell aggregate shrinks the facts to the bounded
    grid first; the spine is a cross join of two tiny distinct sets (and
    stays tiny at any fact scale because it's |types| x |hours|); LOCF is
    one window pass over grid rows, partitioned by type. Cell means use
    DECIMAL sums and are floor-quantized before the window, so the
    carried value is bitwise identical across engines."""
    events = _t(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hod"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(28,9)"))).alias("_s"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "event_type", "day", "hod",
        _q6(F.col("_s").cast("double") / F.col("n")).alias("cell_mean"),
    )
    types = events.select("event_type").distinct()
    hours = events.select(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hod")
    ).distinct()
    spine = types.crossJoin(hours)
    grid = spine.join(cells, ["event_type", "day", "hod"], "left")
    w = (
        W.partitionBy("event_type")
        .orderBy("day", "hod")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.select(
            "event_type", "day", "hod",
            F.col("cell_mean").isNull().cast("int").alias("is_gap"),
            F.last("cell_mean", ignorenulls=True).over(w).alias(
                "value_filled"
            ),
        )
        .orderBy("event_type", "day", "hod")
    )


GAP_FILL_LOCF_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INTEGER) AS hod,
         {_Q6_SQL.format(x="CAST(sum(CAST(value AS DECIMAL(28,9))) AS DOUBLE) / count(*)")}
           AS cell_mean
  FROM events GROUP BY 1, 2, 3),
types AS (SELECT DISTINCT event_type FROM events),
hours AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INTEGER) AS hod
  FROM events),
grid AS (
  SELECT t.event_type, h.day, h.hod, c.cell_mean
  FROM types t CROSS JOIN hours h
  LEFT JOIN cells c
    ON c.event_type = t.event_type AND c.day = h.day AND c.hod = h.hod)
SELECT event_type, day, hod,
       CAST(cell_mean IS NULL AS INTEGER) AS is_gap,
       last_value(cell_mean IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY day, hod
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
FROM grid
ORDER BY event_type, day, hod
"""


# ---------------------------------------------------------------------------
# CUSUM drift detection
# ---------------------------------------------------------------------------

#: CUSUM slack per step (in value units) and alarm threshold
CUSUM_SLACK = 2.0
CUSUM_H = 8.0


def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM drift detector (Page 1954) over each event type's
    daily mean-value series: S+_t = max(0, S+_{t-1} + dev_t - k),
    S-_t = max(0, S-_{t-1} - dev_t - k) against the type's global mean,
    alarm when either side exceeds h — the change-point screen that
    catches slow upstream drift a fixed threshold misses.

    Scale shape: the recursion is inherently sequential PER KEY, so it
    runs as ``applyInPandas`` over the tiny per-type daily series
    (parallel across types; |days| rows each) after Spark reduces the
    facts to that series with DECIMAL sums. The DuckDB oracle replays
    the identical recursion with a recursive CTE; both engines fold the
    same doubles in the same order, so the states match bitwise."""
    import pandas as pd

    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,9)")).alias("_s"),
        F.count(F.lit(1)).alias("n"),
    )
    base = events.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(28,9)")).alias("_bs"),
        F.count(F.lit(1)).alias("bn"),
    )
    series = daily.join(F.broadcast(base), "event_type").select(
        "event_type", "day",
        (
            (F.col("_s").cast("double") / F.col("n"))
            - (F.col("_bs").cast("double") / F.col("bn"))
        ).alias("dev"),
    )

    def _cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        s_pos = s_neg = 0.0
        pos, neg, alarm = [], [], []
        for dev in pdf["dev"]:
            # same association order as the oracle: (state + dev) - k
            s_pos = max(0.0, s_pos + dev - CUSUM_SLACK)
            s_neg = max(0.0, s_neg - dev - CUSUM_SLACK)
            pos.append(s_pos)
            neg.append(s_neg)
            alarm.append(int(s_pos > CUSUM_H or s_neg > CUSUM_H))
        pdf["s_pos"] = pos
        pdf["s_neg"] = neg
        pdf["alarm"] = alarm
        return pdf

    out = series.groupBy("event_type").applyInPandas(
        _cusum,
        schema="event_type string, day date, dev double, "
               "s_pos double, s_neg double, alarm int",
    )
    return out.select(
        "event_type", "day",
        _q6(F.col("dev")).alias("dev"),
        _q6(F.col("s_pos")).alias("s_pos"),
        _q6(F.col("s_neg")).alias("s_neg"),
        "alarm",
    ).orderBy("event_type", "day")


CUSUM_DRIFT_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(value AS DECIMAL(28,9))) AS s, count(*) AS n
  FROM events GROUP BY 1, 2),
base AS (
  SELECT event_type, sum(CAST(value AS DECIMAL(28,9))) AS bs,
         count(*) AS bn
  FROM events GROUP BY event_type),
ser AS (
  SELECT d.event_type, d.day,
         CAST(d.s AS DOUBLE) / d.n - CAST(b.bs AS DOUBLE) / b.bn AS dev,
         row_number() OVER (
           PARTITION BY d.event_type ORDER BY d.day) AS t
  FROM daily d JOIN base b USING (event_type)),
cusum AS (
  SELECT event_type, day, dev, t,
         GREATEST(0.0, 0.0 + dev - {CUSUM_SLACK}) AS s_pos,
         GREATEST(0.0, 0.0 - dev - {CUSUM_SLACK}) AS s_neg
  FROM ser WHERE t = 1
  UNION ALL
  SELECT s.event_type, s.day, s.dev, s.t,
         GREATEST(0.0, c.s_pos + s.dev - {CUSUM_SLACK}),
         GREATEST(0.0, c.s_neg - s.dev - {CUSUM_SLACK})
  FROM ser s JOIN cusum c
    ON s.event_type = c.event_type AND s.t = c.t + 1)
SELECT event_type, day,
       {_Q6_SQL.format(x="dev")} AS dev,
       {_Q6_SQL.format(x="s_pos")} AS s_pos,
       {_Q6_SQL.format(x="s_neg")} AS s_neg,
       CAST(s_pos > {CUSUM_H} OR s_neg > {CUSUM_H} AS INTEGER) AS alarm
FROM cusum
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Near-duplicate threshold sweep
# ---------------------------------------------------------------------------

def embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-policy tuning curve: within-cluster cosine pairs (the
    SemDeDup candidate set — see :func:`similarity.semantic_dup_pairs`)
    counted at each candidate threshold, with the number of documents a
    keep-min-id policy would remove — the sweep run before committing a
    near-dup threshold for a training corpus.

    Scale shape: the quadratic blow-up stays within-cluster exactly as
    in the production detector; the pair set materializes ONCE at the
    loosest threshold and every tighter threshold reuses it via an
    explode + re-aggregate (bounded by |thresholds|)."""
    from .similarity import cluster_cosine_pairs

    floor_th = SWEEP_THRESHOLDS[0] / 1000000.0
    pairs = (
        cluster_cosine_pairs(spark, sf_dir)
        .select("id_b", "cosine")
        .where(F.col("cosine") >= F.lit(floor_th))
    )
    ths = F.array(
        *[F.lit(t / 1000000.0) for t in SWEEP_THRESHOLDS]
    )
    return (
        pairs.select("id_b", "cosine", F.explode(ths).alias("threshold"))
        .where(F.col("cosine") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_b").alias("n_docs_removed"),
        )
        .orderBy("threshold")
    )


def _threshold_sweep_oracle() -> str:
    from .similarity import _IVF_FIT_PREFIX_SQL

    floor_th = SWEEP_THRESHOLDS[0] / 1000000.0
    th_list = ", ".join(
        f"{t / 1000000.0}::DOUBLE" for t in SWEEP_THRESHOLDS
    )
    return f"""{_IVF_FIT_PREFIX_SQL},
pairs AS (
  SELECT b.vec_id AS id_b,
         round(list_dot_product(a.emb, b.emb) /
               (sqrt(list_dot_product(a.emb, a.emb)) *
                sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
  FROM assigned a JOIN assigned b USING (list_id)
  WHERE a.vec_id < b.vec_id),
kept AS (SELECT * FROM pairs WHERE cosine >= {floor_th}),
ths AS (SELECT unnest([{th_list}]) AS threshold)
SELECT t.threshold,
       count(*) AS n_pairs,
       count(DISTINCT k.id_b) AS n_docs_removed
FROM kept k JOIN ths t ON k.cosine >= t.threshold
GROUP BY t.threshold
ORDER BY t.threshold
"""


EMBEDDING_THRESHOLD_SWEEP_ORACLE = _threshold_sweep_oracle()

PREP_QUERIES.update({
    "gap_fill_locf": gap_fill_locf,
    "cusum_drift": cusum_drift,
    "embedding_threshold_sweep": embedding_threshold_sweep,
})

PREP_ORACLES.update({
    "gap_fill_locf": GAP_FILL_LOCF_ORACLE,
    "cusum_drift": CUSUM_DRIFT_ORACLE,
    "embedding_threshold_sweep": EMBEDDING_THRESHOLD_SWEEP_ORACLE,
})


# ---------------------------------------------------------------------------
# Percentile-rank features
# ---------------------------------------------------------------------------

def percentile_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-type percentile rank of every event's value, in integer
    basis points — the monotone-invariant feature transform (what
    quantile transformers ship to models instead of raw heavy-tailed
    values). Ties break on event_id so the rank is fully deterministic.

    Scale shape: one window pass partitioned by the bounded event-type
    key; at 100 TB the per-type sort is the cost — exactly the shape a
    range-partitioned sort handles, no global ordering required."""
    events = _t(spark, sf_dir, "events")
    # nulls_last pins the engines' OPPOSITE null-ordering defaults
    # (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST): a malformed
    # feed's null values rank above every measured value in both
    # engines (r9 nulls sweep); no-op on a null-free feed
    w = W.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    n = W.partitionBy("event_type")
    return (
        events.select(
            "event_id", "event_type", "value",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(n).alias("n"),
        )
        .select(
            "event_id", "event_type", "value",
            # guard: a single-member group has no rank span (n = 1);
            # NULL like the oracle's `0 // 0`, not an ANSI error
            F.when(
                F.col("n") > 1, F.expr("(rn - 1) * 10000 div (n - 1)")
            ).alias("pr_bp"),
        )
        .orderBy("event_id")
    )


PERCENTILE_RANK_ORACLE = """
WITH ranked AS (
  SELECT event_id, event_type, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_id, event_type, value,
       (rn - 1) * 10000 // (n - 1) AS pr_bp
FROM ranked ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Per-dimension quantile normalization of embeddings
# ---------------------------------------------------------------------------

def quantile_normalize_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rank-based (quantile) normalization of every embedding dimension:
    each coordinate is replaced by its within-dimension rank in basis
    points — the distribution-free rescaling that makes dimensions
    comparable before indexing or clustering when raw scales differ.

    Scale shape: posexplode to the long form, ONE window pass
    partitioned by dim_idx (bounded cardinality = embedding width, so
    every dimension sorts independently in parallel), integer output.
    Reassembling the array is a row-local collect_list away."""
    emb = _t(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim_idx", "x")
    )
    w = W.partitionBy("dim_idx").orderBy(
        F.col("x").cast("double"), "vec_id"
    )
    n = W.partitionBy("dim_idx")
    return (
        long.select(
            "vec_id", "dim_idx",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(n).alias("n"),
        )
        .select(
            "vec_id", "dim_idx",
            # guard: one vector per dimension means no rank span
            # (n = 1); NULL like the oracle's `0 // 0` (r9 sweep)
            F.when(
                F.col("n") > 1, F.expr("(rn - 1) * 10000 div (n - 1)")
            ).alias("rank_bp"),
        )
        .orderBy("vec_id", "dim_idx")
    )


QUANTILE_NORMALIZE_ORACLE = """
WITH long AS (
  SELECT vec_id, dim_idx, embedding[dim_idx + 1]::DOUBLE AS x
  FROM embeddings
  CROSS JOIN (SELECT unnest(range(len(
    (SELECT embedding FROM embeddings LIMIT 1)))) AS dim_idx)),
ranked AS (
  SELECT vec_id, dim_idx,
         row_number() OVER (
           PARTITION BY dim_idx ORDER BY x, vec_id) AS rn,
         count(*) OVER (PARTITION BY dim_idx) AS n
  FROM long)
SELECT vec_id, dim_idx, (rn - 1) * 10000 // (n - 1) AS rank_bp
FROM ranked ORDER BY vec_id, dim_idx
"""


# ---------------------------------------------------------------------------
# Deterministic per-group uniform sample
# ---------------------------------------------------------------------------

GROUP_SAMPLE_K = 20


def group_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample of k events per type: rank by the
    content-independent 60-bit hash of the event id and keep the k
    smallest — the reproducible per-group sample that ``df.sample``
    can't give (stable under re-partitioning, re-runs, and incremental
    loads, the same property hash_split exploits).

    Scale shape: one window pass per bounded group; no global shuffle,
    no RNG state to coordinate across executors."""
    events = _t(spark, sf_dir, "events")
    h = md5h("cast(event_id as string)")
    # r12: order the window by the PROJECTED column, not the md5h(...)
    # expression — an expression sort key is re-evaluated inside every
    # sort/top-k-heap comparison of the WindowGroupLimit pass (measured
    # 2.69 s vs 0.45 s at sf0.1, noop min-of-3), while the column form
    # hashes each row exactly once in the projection. Same ordering,
    # same rows.
    w = W.partitionBy("event_type").orderBy(F.col("h"), "event_id")
    return (
        events.select("event_id", "event_type", "value", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= GROUP_SAMPLE_K)
        .select("event_type", "rn", "event_id", "value")
        .orderBy("event_type", "rn")
    )


_H_EVENT = MD5H_SQL_TEMPLATE.format(expr="CAST(event_id AS VARCHAR)")

GROUP_SAMPLE_ORACLE = f"""
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY {_H_EVENT}, event_id) AS rn
  FROM events)
SELECT event_type, rn, event_id, value
FROM ranked WHERE rn <= {GROUP_SAMPLE_K}
ORDER BY event_type, rn
"""


# ---------------------------------------------------------------------------
# Cross-split near-duplicate leakage audit
# ---------------------------------------------------------------------------

def cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination through NEAR-duplicates: join the exact
    n-gram-Jaccard near-dup pairs against the hash-split assignment of
    both endpoints and count pairs per (split_a, split_b) cell — the
    audit that catches eval examples whose near-twin sits in train,
    which exact-match decontamination misses entirely.

    Scale shape: the expensive part (the pair set) is the existing
    inverted-index detector; this audit adds two broadcast-sized joins
    of the slim id-pair list against the split projection."""
    from .dedup import ngram_jaccard_pairs
    from .text import hash_split

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    splits = hash_split(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn(
            "crosses_split",
            (F.col("split_a") != F.col("split_b")).cast("int"),
        )
        .orderBy("split_a", "split_b")
    )


def _cross_split_leakage_oracle() -> str:
    from .dedup import NGRAM_JACCARD_ORACLE
    from .text import HASH_SPLIT_ORACLE

    pairs_body = NGRAM_JACCARD_ORACLE.strip().removesuffix(
        "ORDER BY doc_a, doc_b"
    )
    split_body = HASH_SPLIT_ORACLE.strip().removesuffix("ORDER BY doc_id")
    return f"""
WITH pairs AS ({pairs_body}),
splits AS ({split_body})
SELECT a.split AS split_a, b.split AS split_b,
       count(*) AS n_pairs,
       CAST(a.split != b.split AS INTEGER) AS crosses_split
FROM pairs p
JOIN splits a ON p.doc_a = a.doc_id
JOIN splits b ON p.doc_b = b.doc_id
GROUP BY a.split, b.split
ORDER BY split_a, split_b
"""


CROSS_SPLIT_LEAKAGE_ORACLE = _cross_split_leakage_oracle()


# ---------------------------------------------------------------------------
# Dataset card report
# ---------------------------------------------------------------------------

def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card summary every corpus release ships: total docs
    and token mass, per-language and per-split composition, and the
    exact-duplicate footprint — one (section, metric, value) table
    composed from bounded aggregates (the governance one-pager, as a
    query).

    Scale shape: each section is a single bounded aggregate over one
    scan family; the union is a tiny literal-labeled append. The dup
    section reuses the md5 content-fingerprint group-by (linear)."""
    docs = with_tokens(_t(spark, sf_dir, "documents"))

    corpus = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("tokens")).alias("toks"),
    ).select(
        F.array(
            F.struct(
                F.lit("corpus").alias("section"),
                F.lit("n_docs").alias("metric"),
                F.col("n_docs").cast("long").alias("value"),
            ),
            F.struct(
                F.lit("corpus").alias("section"),
                F.lit("total_tokens").alias("metric"),
                F.col("toks").cast("long").alias("value"),
            ),
        ).alias("rows")
    ).select(F.explode("rows").alias("r")).select("r.*")

    by_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("value")
    ).select(
        F.lit("lang").alias("section"),
        F.col("lang").alias("metric"),
        "value",
    )

    from .text import hash_split

    by_split = hash_split(spark, sf_dir).groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("value")
    ).select(
        F.lit("split").alias("section"),
        F.col("split").alias("metric"),
        "value",
    )

    dup_docs = (
        docs.groupBy(F.md5(F.trim("text")).alias("fp"))
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") > 1)
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("value"))
        .select(
            F.lit("dedup").alias("section"),
            F.lit("exact_dup_docs").alias("metric"),
            "value",
        )
    )

    return (
        corpus.unionByName(by_lang)
        .unionByName(by_split)
        .unionByName(dup_docs)
        .orderBy("section", "metric")
    )


def _dataset_card_oracle() -> str:
    from .text import HASH_SPLIT_ORACLE

    split_body = HASH_SPLIT_ORACLE.strip().removesuffix("ORDER BY doc_id")
    return f"""
WITH splits AS ({split_body}),
card AS (
  SELECT 'corpus' AS section, 'n_docs' AS metric,
         count(*)::BIGINT AS value FROM documents
  UNION ALL
  SELECT 'corpus', 'total_tokens',
         CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'lang', lang, count(*)::BIGINT FROM documents GROUP BY lang
  UNION ALL
  SELECT 'split', split, count(*)::BIGINT FROM splits GROUP BY split
  UNION ALL
  SELECT 'dedup', 'exact_dup_docs',
         CAST(coalesce(sum(k), 0) AS BIGINT)
  FROM (SELECT md5(trim(text)) AS fp, count(*) AS k
        FROM documents GROUP BY 1) g
  WHERE k > 1)
SELECT section, metric, value FROM card ORDER BY section, metric
"""


DATASET_CARD_ORACLE = _dataset_card_oracle()

PREP_QUERIES.update({
    "percentile_rank_features": percentile_rank_features,
    "quantile_normalize_embeddings": quantile_normalize_embeddings,
    "group_sample_topk": group_sample_topk,
    "cross_split_leakage": cross_split_leakage,
    "dataset_card_report": dataset_card_report,
})

PREP_ORACLES.update({
    "percentile_rank_features": PERCENTILE_RANK_ORACLE,
    "quantile_normalize_embeddings": QUANTILE_NORMALIZE_ORACLE,
    "group_sample_topk": GROUP_SAMPLE_ORACLE,
    "cross_split_leakage": CROSS_SPLIT_LEAKAGE_ORACLE,
    "dataset_card_report": DATASET_CARD_ORACLE,
})


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing
# ---------------------------------------------------------------------------

#: Holt smoothing constants — written as four separate literals (0.5/0.5,
#: 0.3/0.7) because `1 - 0.3` need not equal the nearest double to 0.7
HOLT_A, HOLT_A1 = 0.5, 0.5
HOLT_G, HOLT_G1 = 0.3, 0.7


def holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (Holt 1957) of each event
    type's daily mean series: level and trend recursions plus the
    one-step-ahead forecast — the classical short-horizon forecaster a
    monitoring pipeline runs next to its EWMA.

    Scale shape: same as :func:`cusum_drift` — facts reduce to the tiny
    per-type daily series (DECIMAL sums), the inherently sequential
    recursion runs in ``applyInPandas`` parallel across types, and the
    DuckDB oracle replays it with a recursive CTE folding the identical
    doubles in the identical order."""
    import pandas as pd

    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,9)")).alias("_s"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "event_type", "day",
        (F.col("_s").cast("double") / F.col("n")).alias("x"),
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        levels, trends = [], []
        lvl = trend = 0.0
        for i, x in enumerate(pdf["x"]):
            if i == 0:
                lvl, trend = x, 0.0
            else:
                prev = lvl
                # same association order as the oracle text
                lvl = HOLT_A * x + HOLT_A1 * (lvl + trend)
                trend = HOLT_G * (lvl - prev) + HOLT_G1 * trend
            levels.append(lvl)
            trends.append(trend)
        pdf["level"] = levels
        pdf["trend"] = trends
        return pdf

    out = daily.groupBy("event_type").applyInPandas(
        _holt,
        schema="event_type string, day date, x double, "
               "level double, trend double",
    )
    return out.select(
        "event_type", "day",
        _q6(F.col("x")).alias("x"),
        _q6(F.col("level")).alias("level"),
        _q6(F.col("trend")).alias("trend"),
        _q6(F.col("level") + F.col("trend")).alias("forecast_next"),
    ).orderBy("event_type", "day")


HOLT_TREND_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(28,9))) AS DOUBLE) / count(*)
           AS x,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(date_trunc('day', ts) AS DATE)) AS t
  FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)),
holt AS (
  SELECT event_type, day, x, t,
         x AS level, CAST(0.0 AS DOUBLE) AS trend
  FROM daily WHERE t = 1
  UNION ALL
  SELECT d.event_type, d.day, d.x, d.t,
         {HOLT_A} * d.x + {HOLT_A1} * (h.level + h.trend),
         {HOLT_G} * (({HOLT_A} * d.x + {HOLT_A1} * (h.level + h.trend))
                     - h.level) + {HOLT_G1} * h.trend
  FROM daily d JOIN holt h
    ON d.event_type = h.event_type AND d.t = h.t + 1)
SELECT event_type, day,
       {_Q6_SQL.format(x="x")} AS x,
       {_Q6_SQL.format(x="level")} AS level,
       {_Q6_SQL.format(x="trend")} AS trend,
       {_Q6_SQL.format(x="level + trend")} AS forecast_next
FROM holt
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Cohort LTV curves
# ---------------------------------------------------------------------------

def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-purchase
    week, cumulative purchase revenue per cohort at each week of age —
    the retention-economics view (how much the week-one cohort has
    spent by week 3). Exact integer cents end to end.

    Scale shape: one aggregate to find each user's cohort (min month),
    broadcast back onto purchases; the (cohort, age) aggregate is
    bounded by weeks²; the running sum is a window over that tiny
    grid, never over facts."""
    events = _t(spark, sf_dir, "events")
    buys = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("cents"),
    )
    cohorts = buys.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    grid = (
        buys.join(F.broadcast(cohorts), "user_id")
        .groupBy(
            "cohort",
            F.expr("datediff(wk, cohort) div 7").cast("int").alias("age"),
        )
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.countDistinct("user_id").alias("active_users"),
        )
    )
    w = (
        W.partitionBy("cohort").orderBy("age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.select(
            "cohort", "age", "active_users", "rev_cents",
            F.sum("rev_cents").over(w).alias("cum_rev_cents"),
        )
        .orderBy("cohort", "age")
    )


COHORT_LTV_ORACLE = """
WITH buys AS (
  SELECT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS wk,
         CAST(floor(value * 100.0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
cohorts AS (
  SELECT user_id, min(wk) AS cohort FROM buys GROUP BY user_id),
grid AS (
  SELECT c.cohort,
         CAST(datediff('day', c.cohort, b.wk) // 7 AS INTEGER) AS age,
         CAST(sum(b.cents) AS BIGINT) AS rev_cents,
         count(DISTINCT b.user_id) AS active_users
  FROM buys b JOIN cohorts c USING (user_id)
  GROUP BY 1, 2)
SELECT cohort, age, active_users, rev_cents,
       CAST(sum(rev_cents) OVER (
         PARTITION BY cohort ORDER BY age
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_rev_cents
FROM grid
ORDER BY cohort, age
"""


# ---------------------------------------------------------------------------
# Shingle containment pairs (quote / subset detection)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD_BP = 5000


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-duplicate detection by shingle CONTAINMENT
    (Broder 1997's other resemblance measure): |A∩B| / min(|A|,|B|) —
    catches a short document quoted inside a long one, which symmetric
    Jaccard under-scores because the union is dominated by the long
    side. Same inverted-index shape as the Jaccard detector, same
    hot-shingle cap; integer basis points.

    Scale shape: one shuffle keyed on the shingle hash; pair counts via
    equi-join — never a cross join."""
    from .dedup import MAX_SHINGLE_DF, _with_shingles

    docs = _with_shingles(_t(spark, sf_dir, "documents"))
    base = docs.where(F.size("shingles") > 0).select(
        "doc_id", "shingles", F.size("shingles").alias("n_sh")
    )
    inv0 = base.select(
        "doc_id", "n_sh", F.explode("shingles").alias("s")
    )
    keep = inv0.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= MAX_SHINGLE_DF
    )
    inv = inv0.join(keep.select("s"), "s")
    a = inv.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "s"
    )
    b = inv.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "s"
    )
    pairs = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.select(
            "doc_a", "doc_b", "na", "nb", "common",
            F.expr("common * 10000 div least(na, nb)").alias(
                "containment_bp"
            ),
        )
        .where(F.col("containment_bp") >= CONTAINMENT_THRESHOLD_BP)
        .orderBy("doc_a", "doc_b")
    )


def _containment_oracle() -> str:
    from .dedup import _SHINGLES_SQL, MAX_SHINGLE_DF
    from .text import TOKENS_SQL

    return f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
base AS (SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh
         WHERE len(shingles) > 0),
inv0 AS (SELECT doc_id, n_sh, unnest(shingles) AS s FROM base),
keep AS (SELECT s FROM inv0 GROUP BY s
         HAVING count(*) <= {MAX_SHINGLE_DF}),
inv AS (SELECT inv0.* FROM inv0 JOIN keep USING (s)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_sh AS na, b.n_sh AS nb, count(*) AS common
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, na, nb, CAST(common AS BIGINT) AS common,
       CAST(common AS BIGINT) * 10000 // least(na, nb) AS containment_bp
FROM pairs
WHERE CAST(common AS BIGINT) * 10000 // least(na, nb)
      >= {CONTAINMENT_THRESHOLD_BP}
ORDER BY doc_a, doc_b
"""


CONTAINMENT_PAIRS_ORACLE = _containment_oracle()


# ---------------------------------------------------------------------------
# Readability scores
# ---------------------------------------------------------------------------

#: deterministic sentence proxy: one "sentence" per 15 tokens (corpus has
#: no punctuation), floor at 1
READABILITY_WPS = 15


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per document from deterministic
    components: word count, vowel-run syllable estimate, and a token
    windowed sentence proxy (the corpus carries no punctuation). All
    arithmetic in integer milli-units so both engines agree bitwise —
    the quality-filter feature set reading-level heuristics need.

    Scale shape: entirely row-local (regexp + integer math in codegen),
    no shuffle at all before the final sort."""
    docs = with_tokens(_t(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            F.size("tokens").alias("n_words"),
            F.expr(
                "size(regexp_extract_all(text, '[aeiou]+', 0))"
            ).alias("n_syllables"),
        )
        .select(
            "doc_id", "n_words", "n_syllables",
            F.expr(
                f"greatest(1, n_words div {READABILITY_WPS})"
            ).alias("n_sentences"),
        )
        .select(
            "doc_id", "n_words", "n_syllables", "n_sentences",
            F.expr("n_syllables * 1000 div n_words").alias("spw_milli"),
            F.expr(
                "206835 - 1015 * (n_words * 1000 div n_sentences) div 1000 "
                "- 84600 * (n_syllables * 1000 div n_words) div 1000"
            ).alias("flesch_milli"),
        )
        .orderBy("doc_id")
    )


READABILITY_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(trim(text), ' ')) AS n_words,
         len(regexp_extract_all(text, '[aeiou]+')) AS n_syllables
  FROM documents),
s AS (
  SELECT doc_id, n_words, n_syllables,
         greatest(1, n_words // {READABILITY_WPS}) AS n_sentences
  FROM base)
SELECT doc_id, n_words, n_syllables, n_sentences,
       n_syllables * 1000 // n_words AS spw_milli,
       206835 - 1015 * (n_words * 1000 // n_sentences) // 1000
       - 84600 * (n_syllables * 1000 // n_words) // 1000 AS flesch_milli
FROM s ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension fidelity
# ---------------------------------------------------------------------------

MATRYOSHKA_PREFIXES = (16, 32, 48)


def matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector fidelity of truncated (Matryoshka-style, Kusupati et
    al. 2022) embeddings: the cosine between the full vector and each
    prefix (zero-padded) is dot(prefix)/(||full||·||prefix||) — the
    audit run before shipping shortened embeddings to a cheaper index.

    Scale shape: row-local sequential folds per prefix (shared
    ||full||), no shuffle; the same bitwise-portable fold contract as
    the cosine operators."""
    emb = _t(spark, sf_dir, "embeddings")
    full_nsq = F.expr(
        "aggregate(embedding, cast(0 as double), "
        "(acc, v) -> acc + cast(v as double) * cast(v as double))"
    )
    rows = []
    base = emb.select("vec_id", "embedding", full_nsq.alias("_fn"))
    for k in MATRYOSHKA_PREFIXES:
        pre = (
            f"aggregate(slice(embedding, 1, {k}), cast(0 as double), "
            "(acc, v) -> acc + cast(v as double) * cast(v as double))"
        )
        rows.append(
            base.select(
                "vec_id",
                F.lit(k).alias("prefix_len"),
                F.round(
                    F.expr(pre) / (F.sqrt(F.col("_fn")) * F.expr(f"sqrt({pre})")),
                    6,
                ).alias("cosine"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("vec_id", "prefix_len")


def _matryoshka_oracle() -> str:
    parts = []
    for k in MATRYOSHKA_PREFIXES:
        pre = (
            f"list_sum(list_transform((embedding::DOUBLE[])[1:{k}], "
            "v -> v * v))"
        )
        full = (
            "list_sum(list_transform(embedding::DOUBLE[], v -> v * v))"
        )
        parts.append(f"""
SELECT vec_id, {k} AS prefix_len,
       round({pre} / (sqrt({full}) * sqrt({pre})), 6) AS cosine
FROM embeddings""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY vec_id, prefix_len"


MATRYOSHKA_ORACLE = _matryoshka_oracle()

PREP_QUERIES.update({
    "holt_trend": holt_trend,
    "cohort_ltv": cohort_ltv,
    "containment_pairs": containment_pairs,
    "readability_scores": readability_scores,
    "matryoshka_fidelity": matryoshka_fidelity,
})

PREP_ORACLES.update({
    "holt_trend": HOLT_TREND_ORACLE,
    "cohort_ltv": COHORT_LTV_ORACLE,
    "containment_pairs": CONTAINMENT_PAIRS_ORACLE,
    "readability_scores": READABILITY_ORACLE,
    "matryoshka_fidelity": MATRYOSHKA_ORACLE,
})


# ---------------------------------------------------------------------------
# Time-bounded conversion funnel
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_HOURS = 48


def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product funnel with a conversion deadline: each next stage
    must land within :data:`FUNNEL_WINDOW_HOURS` of the previous
    stage's anchor — the business definition ("converted within 48 h"),
    which the unbounded funnel over-counts. Same min-timestamp chaining
    chain as ``event_funnel`` (``advanced.funnel_stage_counts``):
    per-stage conditional aggregates joined co-partitioned on user_id,
    no per-user event lists, no raw-stream window; integer basis
    points."""
    from .advanced import funnel_stage_counts

    events = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return (
        funnel_stage_counts(events, within_hours=FUNNEL_WINDOW_HOURS)
        .select(
            "stage", "users",
            # guard: zero entrants (degenerate feed) must yield NULL
            # like the oracle's `//`, not an ANSI div-by-zero error;
            # when() keeps the BIGINT type try_divide would widen
            F.when(
                F.col("top_users") > 0,
                F.expr("users * 10000 div top_users"),
            ).alias("pct_of_top_bp"),
        )
        .orderBy("stage")
    )


FUNNEL_TIME_BOUNDED_ORACLE = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS anchor_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS anchor_ts
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.anchor_ts
    AND e.ts <= s1.anchor_ts + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(e.ts) AS anchor_ts
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.anchor_ts
    AND e.ts <= s2.anchor_ts + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id),
funnel AS (
  SELECT 'view' AS stage, count(*) AS users FROM s1
  UNION ALL SELECT 'click', count(*) FROM s2
  UNION ALL SELECT 'purchase', count(*) FROM s3),
top AS (SELECT users AS top_users FROM funnel WHERE stage = 'view')
SELECT stage, users, users * 10000 // top_users AS pct_of_top_bp
FROM funnel CROSS JOIN top
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# Embedding outlier audit (centroid distance vs within-label p95)
# ---------------------------------------------------------------------------

def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier rate: distance of every vector to
    its label's centroid, flagged against the label's own p95 distance
    — the screen that catches mislabeled or corrupted vectors before
    they poison contrastive training.

    Scale shape: centroids via the long-form (label, dim) aggregate
    (shuffles |labels|·dim tiny rows, never whole vectors); distances
    re-join the long form co-partitioned on (label, dim); the squared
    deviations accumulate in DECIMAL so the per-vector sum is
    order-independent; quantized cutoffs before comparison."""
    emb = _t(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("dim_idx", "x"),
    ).select(
        "vec_id", "label", "dim_idx", F.col("x").cast("double").alias("x")
    )
    cents = long.groupBy("label", "dim_idx").agg(
        F.round(F.avg("x"), 6).alias("c")
    )
    dists = (
        long.join(cents, ["label", "dim_idx"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
                .cast("decimal(38,18)")
            ).alias("_ss")
        )
        .select(
            "vec_id", "label",
            _q6(F.sqrt(F.col("_ss").cast("double"))).alias("dist"),
        )
    )
    cuts = dists.groupBy("label").agg(
        _q6(F.expr("percentile(dist, 0.95)")).alias("p95")
    )
    return (
        dists.join(F.broadcast(cuts), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("p95").alias("p95_dist"),
            F.sum((F.col("dist") > F.col("p95")).cast("long")).alias(
                "n_outliers"
            ),
        )
        .select(
            "label", "n", "p95_dist", "n_outliers",
            F.expr("n_outliers * 10000 div n").alias("outlier_bp"),
        )
        .orderBy("label")
    )


EMBEDDING_OUTLIERS_ORACLE = f"""
WITH idx AS (
  SELECT unnest(range(len(
    (SELECT embedding FROM embeddings LIMIT 1)))) AS dim_idx),
long AS (
  SELECT vec_id, label, dim_idx,
         embedding[dim_idx + 1]::DOUBLE AS x
  FROM embeddings CROSS JOIN idx),
cents AS (
  SELECT label, dim_idx, round(avg(x), 6) AS c
  FROM long GROUP BY label, dim_idx),
dists AS (
  SELECT l.vec_id, l.label,
         {_Q6_SQL.format(x="sqrt(CAST(sum(CAST((l.x - c.c) * (l.x - c.c) AS DECIMAL(38,18))) AS DOUBLE))")}
           AS dist
  FROM long l JOIN cents c USING (label, dim_idx)
  GROUP BY l.vec_id, l.label),
cuts AS (
  SELECT label, {_Q6_SQL.format(x="quantile_cont(dist, 0.95)")} AS p95
  FROM dists GROUP BY label)
SELECT d.label, count(*) AS n, min(c.p95) AS p95_dist,
       CAST(sum(CASE WHEN d.dist > c.p95 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(sum(CASE WHEN d.dist > c.p95 THEN 1 ELSE 0 END) AS BIGINT)
         * 10000 // count(*) AS outlier_bp
FROM dists d JOIN cuts c USING (label)
GROUP BY d.label ORDER BY d.label
"""


# ---------------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------------

def referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warehouse DQ audit across the TPC-H-ish star: orphan lineitems
    (order key missing), childless orders, customers with no orders,
    and order headers whose total disagrees with the exact-cents line
    total — the four checks an ingest gate runs before publishing a
    snapshot. Violation rates in basis points.

    Scale shape: three anti-joins on their natural keys plus one cents
    aggregate joined back; all count outputs. Derived money runs in
    integer cents (floor(x·100)) — identical in both engines."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")

    def row(check, viol_df, denom_df):
        v = viol_df.agg(F.count(F.lit(1)).alias("violations"))
        d = denom_df.agg(F.count(F.lit(1)).alias("entities"))
        return v.crossJoin(d).select(
            F.lit(check).alias("check_name"), "violations", "entities",
            # guard: an empty parent table has no rate — NULL like the
            # oracle's `//` by zero, not an ANSI error (r9 sweep)
            F.when(
                F.col("entities") > 0,
                F.expr("violations * 10000 div entities"),
            ).alias("rate_bp"),
        )

    orphan_lines = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == orders.o_orderkey, "left_anti",
    )
    childless = orders.join(
        li.select("l_orderkey").distinct(),
        orders.o_orderkey == li.l_orderkey, "left_anti",
    )
    idle_cust = cust.join(
        orders.select("o_custkey").distinct(),
        cust.c_custkey == orders.o_custkey, "left_anti",
    )
    line_cents = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) + F.col("l_tax"))
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(100.0)
            ).cast("long")
        ).alias("line_cents")
    )
    mismatched = (
        orders.join(line_cents, orders.o_orderkey == line_cents.l_orderkey)
        .where(
            F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
            != F.col("line_cents")
        )
    )
    out = (
        row("orphan_lineitems", orphan_lines, li)
        .unionByName(row("childless_orders", childless, orders))
        .unionByName(row("customers_no_orders", idle_cust, cust))
        .unionByName(row("total_mismatch_orders", mismatched,
                         orders.join(line_cents,
                                     orders.o_orderkey
                                     == line_cents.l_orderkey)))
    )
    return out.orderBy("check_name")


REFERENTIAL_INTEGRITY_ORACLE = """
WITH line_cents AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_extendedprice * (1.0 + l_tax)
                             * (1.0 - l_discount) * 100.0) AS BIGINT))
              AS BIGINT) AS line_cents
  FROM lineitem GROUP BY l_orderkey),
checks AS (
  SELECT 'orphan_lineitems' AS check_name,
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
           AS violations,
         (SELECT count(*) FROM lineitem) AS entities
  UNION ALL
  SELECT 'childless_orders',
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey)),
         (SELECT count(*) FROM orders)
  UNION ALL
  SELECT 'customers_no_orders',
         (SELECT count(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey)),
         (SELECT count(*) FROM customer)
  UNION ALL
  SELECT 'total_mismatch_orders',
         (SELECT count(*) FROM orders o JOIN line_cents lc
            ON o.o_orderkey = lc.l_orderkey
          WHERE CAST(floor(o.o_totalprice * 100.0) AS BIGINT)
                != lc.line_cents),
         (SELECT count(*) FROM orders o JOIN line_cents lc
            ON o.o_orderkey = lc.l_orderkey))
SELECT check_name, CAST(violations AS BIGINT) AS violations,
       CAST(entities AS BIGINT) AS entities,
       CAST(violations AS BIGINT) * 10000 // CAST(entities AS BIGINT)
         AS rate_bp
FROM checks ORDER BY check_name
"""

PREP_QUERIES.update({
    "funnel_time_bounded": funnel_time_bounded,
    "embedding_outliers": embedding_outliers,
    "referential_integrity_audit": referential_integrity_audit,
})

PREP_ORACLES.update({
    "funnel_time_bounded": FUNNEL_TIME_BOUNDED_ORACLE,
    "embedding_outliers": EMBEDDING_OUTLIERS_ORACLE,
    "referential_integrity_audit": REFERENTIAL_INTEGRITY_ORACLE,
})


# ---------------------------------------------------------------------------
# Seasonal-residual anomaly alerts
# ---------------------------------------------------------------------------

ANOM_SIGMAS = 3.0


def seasonal_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike detection on the DESEASONALIZED rate: hourly event counts
    minus the type's hour-of-day baseline, alerting where the residual
    exceeds 3 sigma of the type's residuals — the alert rule
    ``seasonal_adjust`` (relational.py) justifies: alarm on the
    residual, not the daily cycle. Complements ``cusum_drift`` (slow
    drift) with the spike side of the monitoring story.

    Scale shape: two bounded aggregates (hourly cells, hour-of-day
    baseline) and one broadcast join; residual variance from DECIMAL
    sufficient sums; cutoffs quantized before comparison."""
    events = _t(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", F.to_date("ts").alias("day"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    base = cells.groupBy("event_type", "hod").agg(
        F.round(F.avg("cnt"), 6).alias("baseline")
    )
    resid = cells.join(F.broadcast(base), ["event_type", "hod"]).select(
        "event_type", "day", "hod",
        (F.col("cnt").cast("double") - F.col("baseline")).alias("r"),
    )
    sig = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cells"),
        _q6(
            F.sqrt(
                F.sum((F.col("r") * F.col("r")).cast("decimal(28,9)"))
                .cast("double") / F.count(F.lit(1))
            )
        ).alias("sigma"),
    )
    return (
        resid.join(F.broadcast(sig), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n_cells").alias("n_cells"),
            F.min("sigma").alias("sigma"),
            F.sum(
                (F.abs(F.col("r")) > F.lit(ANOM_SIGMAS) * F.col("sigma"))
                .cast("long")
            ).alias("n_alerts"),
            _q6(F.max(F.abs(F.col("r")))).alias("max_abs_resid"),
        )
        .select(
            "event_type", "n_cells", "sigma", "n_alerts",
            "max_abs_resid",
            F.expr("n_alerts * 10000 div n_cells").alias("alert_bp"),
        )
        .orderBy("event_type")
    )


SEASONAL_ANOMALY_ORACLE = f"""
WITH cells AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INTEGER) AS hod, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3),
base AS (
  SELECT event_type, hod, round(avg(cnt), 6) AS baseline
  FROM cells GROUP BY 1, 2),
resid AS (
  SELECT c.event_type, c.day, c.hod,
         CAST(c.cnt AS DOUBLE) - b.baseline AS r
  FROM cells c JOIN base b USING (event_type, hod)),
sig AS (
  SELECT event_type, count(*) AS n_cells,
         {_Q6_SQL.format(x="sqrt(CAST(sum(CAST(r * r AS DECIMAL(28,9))) AS DOUBLE) / count(*))")}
           AS sigma
  FROM resid GROUP BY event_type)
SELECT r.event_type, min(s.n_cells) AS n_cells, min(s.sigma) AS sigma,
       CAST(sum(CASE WHEN abs(r.r) > {ANOM_SIGMAS} * s.sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
       {_Q6_SQL.format(x="max(abs(r.r))")} AS max_abs_resid,
       CAST(sum(CASE WHEN abs(r.r) > {ANOM_SIGMAS} * s.sigma
                     THEN 1 ELSE 0 END) AS BIGINT) * 10000
         // min(s.n_cells) AS alert_bp
FROM resid r JOIN sig s USING (event_type)
GROUP BY r.event_type ORDER BY r.event_type
"""


# ---------------------------------------------------------------------------
# OOV rate vs the corpus vocabulary
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 30


def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-:data:`VOCAB_TOP_K` token vocabulary (ties broken by token
    string) — the tokenizer-coverage signal that decides whether a
    vocabulary transfers to a new source.

    Scale shape: the vocabulary is a bounded top-k (rank over the token
    aggregate) broadcast into an anti-membership flag on the exploded
    tokens; per-doc re-aggregate. Integer basis points."""
    docs = with_tokens(_t(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode("tokens").alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.orderBy(F.col("cnt").desc(), "tok")
    vocab = counts.select(
        "tok", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= VOCAB_TOP_K).select("tok")
    return (
        toks.join(
            F.broadcast(vocab.withColumn("_in", F.lit(1))), "tok", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("_in").isNull().cast("long")).alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            F.expr("n_oov * 10000 div n_tokens").alias("oov_bp"),
        )
        .orderBy("doc_id")
    )


OOV_RATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS rk
    FROM counts) r
  WHERE rk <= {VOCAB_TOP_K})
SELECT t.doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         * 10000 // count(*) AS oov_bp
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Label-noise audit (declared language vs content prediction)
# ---------------------------------------------------------------------------

def label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source label-noise rate: how often a source's declared
    ``lang`` disagrees with the content-derived language prediction —
    the audit that ranks ingestion sources by metadata trustworthiness
    before their labels train anything.

    Scale shape: reuses the row-local ``lang_id`` scorer; one join to
    the source column and a bounded per-source aggregate."""
    from .text import lang_id

    preds = lang_id(spark, sf_dir).select("doc_id", "matches_label")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.join(preds, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("matches_label")).cast("long")).alias(
                "n_mismatch"
            ),
        )
        .select(
            "source", "n_docs", "n_mismatch",
            F.expr("n_mismatch * 10000 div n_docs").alias("noise_bp"),
        )
        .orderBy("source")
    )


def _label_noise_oracle() -> str:
    from .text import LANG_ID_ORACLE

    return f"""
WITH preds AS (
  SELECT doc_id, matches_label FROM ({LANG_ID_ORACLE})),
j AS (
  SELECT d.source, p.matches_label
  FROM documents d JOIN preds p USING (doc_id))
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN NOT matches_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatch,
       CAST(sum(CASE WHEN NOT matches_label THEN 1 ELSE 0 END)
            AS BIGINT) * 10000 // count(*) AS noise_bp
FROM j GROUP BY source ORDER BY source
"""


LABEL_NOISE_ORACLE = _label_noise_oracle()

PREP_QUERIES.update({
    "seasonal_anomaly_alerts": seasonal_anomaly_alerts,
    "oov_rate": oov_rate,
    "label_noise_audit": label_noise_audit,
})

PREP_ORACLES.update({
    "seasonal_anomaly_alerts": SEASONAL_ANOMALY_ORACLE,
    "oov_rate": OOV_RATE_ORACLE,
    "label_noise_audit": LABEL_NOISE_ORACLE,
})


# ---------------------------------------------------------------------------
# Joint histogram (hour-of-day x value bucket)
# ---------------------------------------------------------------------------

JH_BUCKET_WIDTH = 50.0


def joint_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint distribution heat map: event counts over (hour-of-day,
    value bucket) with each cell's share of the total in basis points —
    the 2-D profile that reveals interactions (e.g. high-value events
    clustering at night) that the two marginals hide.

    Scale shape: one hash aggregate on the bounded (24 x ~10) grid plus
    a single-row total broadcast. Integer arithmetic only."""
    events = _t(spark, sf_dir, "events")
    cells = events.groupBy(
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") / F.lit(JH_BUCKET_WIDTH))
        .cast("int").alias("vbucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    total = cells.agg(F.sum("n").alias("total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "hod", "vbucket", "n",
            F.expr("n * 10000 div total").alias("share_bp"),
        )
        .orderBy("hod", "vbucket")
    )


JOINT_HISTOGRAM_ORACLE = f"""
WITH cells AS (
  SELECT CAST(hour(ts) AS INTEGER) AS hod,
         CAST(floor(value / {JH_BUCKET_WIDTH}) AS INTEGER) AS vbucket,
         count(*) AS n
  FROM events GROUP BY 1, 2),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
SELECT hod, vbucket, CAST(n AS BIGINT) AS n,
       CAST(n AS BIGINT) * 10000 // t.total AS share_bp
FROM cells CROSS JOIN total t
ORDER BY hod, vbucket
"""


# ---------------------------------------------------------------------------
# l-diversity audit (companion to k-anonymity)
# ---------------------------------------------------------------------------

L_DIVERSITY = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity companion to :func:`k_anonymity_audit` (Machanavajjhala
    et al. 2007): a quasi-identifier class can be k-anonymous yet leak
    the sensitive attribute if every member shares one value. Per event
    type: equivalence classes on (day, hour) whose distinct sensitive
    buckets (value deciles) fall below l = 3.

    Scale shape: one aggregate on (QI, sensitive-bucket), a count-
    distinct re-aggregate per QI class, and a bounded per-type rollup —
    all map-side combinable. Integer arithmetic only."""
    events = _t(spark, sf_dir, "events")
    classes = (
        events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.hour("ts").alias("hod"),
            F.floor(F.col("value") / F.lit(JH_BUCKET_WIDTH))
            .cast("int").alias("sbucket"),
        )
        .groupBy("event_type", "day", "hod")
        .agg(F.countDistinct("sbucket").alias("n_distinct"))
    )
    return (
        classes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(
                (F.col("n_distinct") < L_DIVERSITY).cast("long")
            ).alias("n_low_diversity"),
        )
        .select(
            "event_type", "n_classes", "n_low_diversity",
            F.expr("n_low_diversity * 10000 div n_classes").alias(
                "low_diversity_bp"
            ),
        )
        .orderBy("event_type")
    )


L_DIVERSITY_ORACLE = f"""
WITH classes AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INTEGER) AS hod,
         count(DISTINCT CAST(floor(value / {JH_BUCKET_WIDTH})
                             AS INTEGER)) AS n_distinct
  FROM events GROUP BY 1, 2, 3)
SELECT event_type, count(*) AS n_classes,
       CAST(sum(CASE WHEN n_distinct < {L_DIVERSITY} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low_diversity,
       CAST(sum(CASE WHEN n_distinct < {L_DIVERSITY} THEN 1 ELSE 0 END)
            AS BIGINT) * 10000 // count(*) AS low_diversity_bp
FROM classes GROUP BY event_type ORDER BY event_type
"""

PREP_QUERIES.update({
    "joint_histogram": joint_histogram,
    "l_diversity_audit": l_diversity_audit,
})

PREP_ORACLES.update({
    "joint_histogram": JOINT_HISTOGRAM_ORACLE,
    "l_diversity_audit": L_DIVERSITY_ORACLE,
})


# ---------------------------------------------------------------------------
# Multi-signal dedup consensus
# ---------------------------------------------------------------------------

def dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pair table across the near-dup detectors: the union of exact
    n-gram-Jaccard, MinHash-LSH-verified, and shingle-containment pairs
    with a flag per signal and the agreement count — the evidence table
    a dedup governance review reads (pairs flagged by one signal only
    are the ones to eyeball before deleting data).

    Scale shape: each detector keeps its own scale shape; the consensus
    is two full-outer joins of slim id-pair lists. The detector
    builders run their index builds (``build_once``) at build time, so
    the three builds run CONCURRENTLY from a driver thread pool (guide
    §2: overlap independent jobs); the join DAG below stays lazy and
    unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    from .dedup import lsh_near_dup_pairs, ngram_jaccard_pairs

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_jac = pool.submit(ngram_jaccard_pairs, spark, sf_dir)
        f_lsh = pool.submit(lsh_near_dup_pairs, spark, sf_dir)
        f_cont = pool.submit(containment_pairs, spark, sf_dir)
        jac = f_jac.result().select(
            "doc_a", "doc_b", F.lit(1).alias("sig_jaccard")
        )
        lsh = f_lsh.result().select(
            "doc_a", "doc_b", F.lit(1).alias("sig_lsh")
        )
        cont = f_cont.result().select(
            "doc_a", "doc_b", F.lit(1).alias("sig_containment")
        )
    merged = (
        jac.join(lsh, ["doc_a", "doc_b"], "full_outer")
        .join(cont, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a", "doc_b",
            F.coalesce("sig_jaccard", F.lit(0)).alias("sig_jaccard"),
            F.coalesce("sig_lsh", F.lit(0)).alias("sig_lsh"),
            F.coalesce("sig_containment", F.lit(0)).alias(
                "sig_containment"
            ),
        )
    )
    return merged.select(
        "doc_a", "doc_b", "sig_jaccard", "sig_lsh", "sig_containment",
        (
            F.col("sig_jaccard") + F.col("sig_lsh")
            + F.col("sig_containment")
        ).alias("n_signals"),
    ).orderBy("doc_a", "doc_b")


def _dedup_consensus_oracle() -> str:
    from .dedup import LSH_NEAR_DUP_PAIRS_ORACLE, NGRAM_JACCARD_ORACLE

    jac = NGRAM_JACCARD_ORACLE.strip().removesuffix("ORDER BY doc_a, doc_b")
    lsh = LSH_NEAR_DUP_PAIRS_ORACLE.strip().removesuffix(
        "ORDER BY doc_a, doc_b"
    )
    cont = CONTAINMENT_PAIRS_ORACLE.strip().removesuffix(
        "ORDER BY doc_a, doc_b"
    )
    return f"""
WITH jac AS (SELECT doc_a, doc_b, 1 AS sig_jaccard FROM ({jac})),
lsh AS (SELECT doc_a, doc_b, 1 AS sig_lsh FROM ({lsh})),
cont AS (SELECT doc_a, doc_b, 1 AS sig_containment FROM ({cont})),
keys AS (
  SELECT doc_a, doc_b FROM jac
  UNION SELECT doc_a, doc_b FROM lsh
  UNION SELECT doc_a, doc_b FROM cont)
SELECT k.doc_a, k.doc_b,
       coalesce(j.sig_jaccard, 0) AS sig_jaccard,
       coalesce(l.sig_lsh, 0) AS sig_lsh,
       coalesce(c.sig_containment, 0) AS sig_containment,
       coalesce(j.sig_jaccard, 0) + coalesce(l.sig_lsh, 0)
         + coalesce(c.sig_containment, 0) AS n_signals
FROM keys k
LEFT JOIN jac j USING (doc_a, doc_b)
LEFT JOIN lsh l USING (doc_a, doc_b)
LEFT JOIN cont c USING (doc_a, doc_b)
ORDER BY doc_a, doc_b
"""


DEDUP_CONSENSUS_ORACLE = _dedup_consensus_oracle()


# ---------------------------------------------------------------------------
# Session bounce rate
# ---------------------------------------------------------------------------

def bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of 30-minute-gap sessions containing
    exactly one event, per day of session start — the engagement KPI
    computed over the same native ``session_window`` sessions the
    sessionizer emits (one definition of "session" across the repo).

    Scale shape: the session aggregate is the one shuffle; the daily
    rollup is bounded. Integer basis points."""
    ev = _t(spark, sf_dir, "events")
    sessions = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        sessions.groupBy(
            F.to_date(F.col("sw.start")).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias(
                "n_bounces"
            ),
        )
        .select(
            "day", "n_sessions", "n_bounces",
            F.expr("n_bounces * 10000 div n_sessions").alias("bounce_bp"),
        )
        .orderBy("day")
    )


BOUNCE_RATE_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > 30 * 60 * 1000
              OR lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered),
sessions AS (
  SELECT user_id, sid, min(ts) AS start_ts, count(*) AS n_events
  FROM islands GROUP BY user_id, sid)
SELECT CAST(date_trunc('day', start_ts) AS DATE) AS day,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         * 10000 // count(*) AS bounce_bp
FROM sessions GROUP BY 1 ORDER BY day
"""

PREP_QUERIES.update({
    "dedup_consensus": dedup_consensus,
    "bounce_rate": bounce_rate,
})

PREP_ORACLES.update({
    "dedup_consensus": DEDUP_CONSENSUS_ORACLE,
    "bounce_rate": BOUNCE_RATE_ORACLE,
})


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) via sort + running max
# ---------------------------------------------------------------------------

def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier over the part catalog: parts not dominated on
    (cheaper avg sale price, larger total quantity moved) — the
    skyline operator (Börzsönyi et al. 2001), answered without the
    naive O(n²) dominance join: sort by price ascending and keep rows
    whose quantity beats the running maximum of everything cheaper.
    Ties on price are dominated unless they also beat equal-priced
    peers, handled by ranking price strictly.

    Scale shape: one bounded per-part aggregate, one sort + running-max
    window — O(n log n) where the textbook formulation is quadratic;
    at cluster scale the sort is a range exchange, no cross join."""
    li = _t(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        _q6(
            F.sum(F.col("l_extendedprice").cast("decimal(28,9)"))
            .cast("double") / F.count(F.lit(1))
        ).alias("avg_price"),
        F.sum(F.col("l_quantity").cast("decimal(28,9)"))
        .cast("double").alias("total_qty"),
    )
    # strictly-cheaper running max without a float range frame: collapse
    # to one row per distinct price first (equal-priced rows must not
    # shadow each other), then a rows-frame running max over prices
    per_price = parts.groupBy("avg_price").agg(
        F.max("total_qty").alias("mq")
    )
    w = W.orderBy("avg_price").rowsBetween(W.unboundedPreceding, -1)
    cheaper = per_price.withColumn(
        "max_qty_cheaper", F.max("mq").over(w)
    ).select("avg_price", "max_qty_cheaper")
    flagged = parts.join(cheaper, "avg_price")
    return (
        flagged.where(
            F.col("max_qty_cheaper").isNull()
            | (F.col("total_qty") > F.col("max_qty_cheaper"))
        )
        .select("l_partkey", "avg_price", "total_qty")
        .orderBy("avg_price", "l_partkey")
    )


SKYLINE_PARTS_ORACLE = f"""
WITH parts AS (
  SELECT l_partkey,
         {_Q6_SQL.format(x="CAST(sum(CAST(l_extendedprice AS DECIMAL(28,9))) AS DOUBLE) / count(*)")}
           AS avg_price,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,9))) AS DOUBLE)
           AS total_qty
  FROM lineitem GROUP BY l_partkey)
SELECT p.l_partkey, p.avg_price, p.total_qty
FROM parts p
WHERE NOT EXISTS (
  SELECT 1 FROM parts q
  WHERE q.avg_price < p.avg_price AND q.total_qty >= p.total_qty)
ORDER BY avg_price, l_partkey
"""


# ---------------------------------------------------------------------------
# Shipping SLA compliance by order priority
# ---------------------------------------------------------------------------

SLA_DAYS = 30


def sla_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority shipping SLA: the share of line items shipped
    within :data:`SLA_DAYS` days of their order date — the operations
    KPI behind TPC-H Q4's spirit, reported as a rate per priority tier.

    Scale shape: facts join the order header on the natural key (the
    order side projects two columns) and reduce to a bounded
    per-priority aggregate. Integer day arithmetic and basis points."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderpriority",
            (
                F.datediff(
                    F.to_date("l_shipdate"), F.to_date("o_orderdate")
                ) <= SLA_DAYS
            ).cast("long").alias("in_sla"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("in_sla").alias("n_in_sla"),
        )
        .select(
            "o_orderpriority", "n_lines", "n_in_sla",
            F.expr("n_in_sla * 10000 div n_lines").alias("sla_bp"),
        )
        .orderBy("o_orderpriority")
    )


SLA_COMPLIANCE_ORACLE = f"""
SELECT o.o_orderpriority,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN datediff('day',
                              CAST(date_trunc('day', o.o_orderdate)
                                   AS DATE),
                              CAST(date_trunc('day', l.l_shipdate)
                                   AS DATE)) <= {SLA_DAYS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_in_sla,
       CAST(sum(CASE WHEN datediff('day',
                              CAST(date_trunc('day', o.o_orderdate)
                                   AS DATE),
                              CAST(date_trunc('day', l.l_shipdate)
                                   AS DATE)) <= {SLA_DAYS}
                     THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*)
         AS sla_bp
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

PREP_QUERIES.update({
    "skyline_parts": skyline_parts,
    "sla_compliance": sla_compliance,
})

PREP_ORACLES.update({
    "skyline_parts": SKYLINE_PARTS_ORACLE,
    "sla_compliance": SLA_COMPLIANCE_ORACLE,
})


# ---------------------------------------------------------------------------
# Survivorship: canonical document per near-dup cluster
# ---------------------------------------------------------------------------

def cluster_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship rules over the near-dup clusters: each multi-member
    cluster elects a canonical document (longest text, ties to the
    smallest doc_id) and reports the members it absorbs — the merge
    step that turns cluster assignments into a deduplicated corpus with
    provenance.

    Scale shape: the cluster assignment is the existing checkpointed
    min-label propagation; the election is one max-struct aggregate per
    cluster (no sort), joined back to nothing — member ids aggregate as
    a sorted list for the bounded multi-member clusters only."""
    from .dedup import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir).where(
        F.col("cluster_size") > 1
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = clusters.join(docs, "doc_id")
    # max on (n_chars, -doc_id) elects longest-then-smallest-id without
    # a per-cluster sort
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(
                    F.col("n_chars").alias("nc"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("_win"),
            F.sum("n_chars").alias("total_chars"),
            # comma-joined string, not array<bigint>: the driver's pandas
            # canonicalizer cannot sort list cells (registry convention,
            # cf. dedup.py span_dedup_clean)
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
        .select(
            "cluster_id",
            (-F.col("_win.neg_id")).cast("bigint").alias("canonical_doc"),
            F.col("_win.nc").alias("canonical_chars"),
            "n_members", "total_chars", "member_ids",
        )
        .orderBy("cluster_id")
    )


def _cluster_canonicals_oracle() -> str:
    from .dedup import DEDUP_CLUSTERS_ORACLE

    clusters_body = DEDUP_CLUSTERS_ORACLE.strip().removesuffix(
        "ORDER BY d.doc_id"
    )
    return f"""
WITH assign AS ({clusters_body}),
members AS (
  SELECT a.doc_id, a.cluster_id, d.n_chars
  FROM assign a JOIN documents d USING (doc_id)
  WHERE a.cluster_size > 1)
SELECT cluster_id,
       CAST(arg_max(doc_id,
                    CAST(n_chars AS BIGINT) * 1000000000000 - doc_id)
            AS BIGINT) AS canonical_doc,
       CAST(max(n_chars) AS BIGINT) AS canonical_chars,
       count(*) AS n_members,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       array_to_string(list_sort(list(doc_id)), ',') AS member_ids
FROM members
GROUP BY cluster_id
ORDER BY cluster_id
"""


CLUSTER_CANONICALS_ORACLE = _cluster_canonicals_oracle()


# ---------------------------------------------------------------------------
# Rolling 7-day active users
# ---------------------------------------------------------------------------

ROLLING_WINDOW_DAYS = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (WAU-by-day) plus
    the same-day count — the engagement trendline. Distinct-over-range
    windows don't exist in either engine, so each de-duped (user, day)
    row is exploded into the ≤WINDOW spine days it contributes to and
    hash-aggregated per day — linear in the data, no range join.

    Scale shape: events reduce to distinct (user, day) first (one hash
    aggregate); ``explode(sequence(day, day+WINDOW-1))`` multiplies by
    at most WINDOW rows, then an equality broadcast join against the
    tiny observed-day spine drops padding days past the horizon. This
    replaces the former days×user_days nested-loop band join (O(|days|·
    |user_days|) comparisons) with an O(WINDOW·|user_days|) explode +
    hash join — the shape that survives 100 TB."""
    events = _t(spark, sf_dir, "events")
    user_days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = user_days.select("day").distinct()
    covers = user_days.select(
        "user_id",
        F.col("day").alias("u_day"),
        F.explode(
            F.expr(
                f"sequence(day, date_add(day, {ROLLING_WINDOW_DAYS - 1}))"
            )
        ).alias("day"),
    )
    return (
        covers.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("wau"),
            F.countDistinct(
                F.when(F.col("u_day") == F.col("day"), F.col("user_id"))
            ).alias("dau"),
        )
        .select(
            "day", "dau", "wau",
            F.expr("dau * 10000 div wau").alias("stickiness_bp"),
        )
        .orderBy("day")
    )


ROLLING_ACTIVE_USERS_ORACLE = f"""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events),
days AS (SELECT DISTINCT day FROM user_days)
SELECT d.day,
       count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END)
         AS dau,
       count(DISTINCT u.user_id) AS wau,
       count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END)
         * 10000 // count(DISTINCT u.user_id) AS stickiness_bp
FROM days d JOIN user_days u
  ON u.day <= d.day AND u.day >= d.day - {ROLLING_WINDOW_DAYS - 1}
GROUP BY d.day
ORDER BY d.day
"""

PREP_QUERIES.update({
    "cluster_canonicals": cluster_canonicals,
    "rolling_active_users": rolling_active_users,
})

PREP_ORACLES.update({
    "cluster_canonicals": CLUSTER_CANONICALS_ORACLE,
    "rolling_active_users": ROLLING_ACTIVE_USERS_ORACLE,
})


# ---------------------------------------------------------------------------
# Source vocabulary overlap
# ---------------------------------------------------------------------------

SRC_VOCAB_K = 20


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap of each source's top-k token vocabulary
    — the corpus-mixing diagnostic that shows which ingestion sources
    speak the same language before they are blended into one training
    mix (low overlap ⇒ the mix shifts the token distribution).

    Scale shape: per-source top-k via one rank window over the bounded
    (source, token) aggregate; the pairwise comparison joins the tiny
    |sources|·k vocab table with itself on the token — |sources|² stays
    bounded no matter the corpus size. Integer basis points."""
    docs = with_tokens(_t(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode("tokens").alias("tok"))
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("source").orderBy(F.col("cnt").desc(), "tok")
    vocab = counts.select(
        "source", "tok", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= SRC_VOCAB_K).select("source", "tok")
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.select(
            "src_a", "src_b", "n_common",
            F.expr(
                f"n_common * 10000 div ({2 * SRC_VOCAB_K} - n_common)"
            ).alias("jaccard_bp"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_VOCAB_OVERLAP_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents),
counts AS (
  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok),
vocab AS (
  SELECT source, tok FROM (
    SELECT source, tok, row_number() OVER (
      PARTITION BY source ORDER BY cnt DESC, tok) AS rk
    FROM counts) r
  WHERE rk <= {SRC_VOCAB_K}),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM vocab a JOIN vocab b
    ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2)
SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS BIGINT) * 10000
         // ({2 * SRC_VOCAB_K} - CAST(n_common AS BIGINT)) AS jaccard_bp
FROM inter
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Dedup savings curve
# ---------------------------------------------------------------------------

def dedup_savings_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What deduplication would save, by cluster size: for each near-dup
    cluster size, the cluster count, the documents and characters a
    keep-one policy removes, and the cumulative share of the corpus
    reclaimed (largest clusters first) — the business case for running
    the dedup pass, as a query.

    Scale shape: reuses the checkpointed cluster assignment; everything
    after it aggregates the bounded cluster-size distribution. Integer
    basis points against total corpus characters."""
    from .dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    clustered = dedup_clusters(spark, sf_dir).join(docs, "doc_id")
    per_cluster = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size"),
        F.sum("n_chars").alias("chars"),
        F.max("n_chars").alias("keep_chars"),
    )
    by_size = per_cluster.where(F.col("size") > 1).groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("size") - 1).alias("docs_removed"),
        F.sum(F.col("chars") - F.col("keep_chars")).alias(
            "chars_removed"
        ),
    )
    total = docs.agg(F.sum("n_chars").alias("total_chars"))
    w = (
        W.orderBy(F.col("size").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        by_size.crossJoin(F.broadcast(total))
        .select(
            "size", "n_clusters", "docs_removed", "chars_removed",
            F.expr(
                "sum(chars_removed) over (order by size desc "
                "rows between unbounded preceding and current row) "
                "* 10000 div total_chars"
            ).alias("cum_savings_bp"),
        )
        .orderBy(F.col("size").desc())
    )


def _dedup_savings_oracle() -> str:
    from .dedup import DEDUP_CLUSTERS_ORACLE

    clusters_body = DEDUP_CLUSTERS_ORACLE.strip().removesuffix(
        "ORDER BY d.doc_id"
    )
    return f"""
WITH assign AS ({clusters_body}),
per_cluster AS (
  SELECT a.cluster_id, count(*) AS size,
         CAST(sum(d.n_chars) AS BIGINT) AS chars,
         CAST(max(d.n_chars) AS BIGINT) AS keep_chars
  FROM assign a JOIN documents d USING (doc_id)
  GROUP BY a.cluster_id),
by_size AS (
  SELECT size, count(*) AS n_clusters,
         CAST(sum(size - 1) AS BIGINT) AS docs_removed,
         CAST(sum(chars - keep_chars) AS BIGINT) AS chars_removed
  FROM per_cluster WHERE size > 1 GROUP BY size),
total AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM documents)
SELECT size, n_clusters, docs_removed, chars_removed,
       CAST(sum(chars_removed) OVER (
         ORDER BY size DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         * 10000 // t.total_chars AS cum_savings_bp
FROM by_size CROSS JOIN total t
ORDER BY size DESC
"""


DEDUP_SAVINGS_ORACLE = _dedup_savings_oracle()

PREP_QUERIES.update({
    "source_vocab_overlap": source_vocab_overlap,
    "dedup_savings_curve": dedup_savings_curve,
})

PREP_ORACLES.update({
    "source_vocab_overlap": SOURCE_VOCAB_OVERLAP_ORACLE,
    "dedup_savings_curve": DEDUP_SAVINGS_ORACLE,
})


# ---------------------------------------------------------------------------
# Near-dup graph degree distribution
# ---------------------------------------------------------------------------

def dup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-duplicate graph: how many docs
    have 1, 2, ... near-dup neighbors — the shape that predicts whether
    clustering will produce pairs, stars, or giant templated components
    (a heavy tail here is the early warning for boilerplate).

    Scale shape: degrees are one aggregate over the slim pair list
    (both directions); the histogram is a bounded re-aggregate."""
    from .dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    degrees = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg"))
    return (
        degrees.groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("deg")
    )


def _dup_graph_degrees_oracle() -> str:
    from .dedup import NGRAM_JACCARD_ORACLE

    pairs_body = NGRAM_JACCARD_ORACLE.strip().removesuffix(
        "ORDER BY doc_a, doc_b"
    )
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({pairs_body})),
ends AS (
  SELECT doc_a AS doc_id FROM pairs
  UNION ALL SELECT doc_b FROM pairs),
degrees AS (SELECT doc_id, count(*) AS deg FROM ends GROUP BY doc_id)
SELECT deg, count(*) AS n_docs FROM degrees GROUP BY deg ORDER BY deg
"""


DUP_GRAPH_DEGREES_ORACLE = _dup_graph_degrees_oracle()


# ---------------------------------------------------------------------------
# Jaccard similarity histogram
# ---------------------------------------------------------------------------

JACC_HIST_BINS = 10


def jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup pair similarities in 10 equal-width
    bins over [threshold, 1] — the diagnostic read before moving the
    dedup threshold (a mass pile-up just above the bar means the
    threshold is doing real work; an empty gap means it's free to
    move). Bin index from integer arithmetic on the rounded score.

    Scale shape: one bounded aggregate over the slim pair list."""
    from .dedup import JACCARD_THRESHOLD, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    span = 1.0 - JACCARD_THRESHOLD
    bin_expr = F.least(
        F.lit(JACC_HIST_BINS - 1),
        F.floor(
            (F.col("jaccard") - F.lit(JACCARD_THRESHOLD))
            * F.lit(JACC_HIST_BINS) / F.lit(span)
        ).cast("int"),
    )
    return (
        pairs.select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bin")
    )


def _jaccard_histogram_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD, NGRAM_JACCARD_ORACLE

    pairs_body = NGRAM_JACCARD_ORACLE.strip().removesuffix(
        "ORDER BY doc_a, doc_b"
    )
    span = 1.0 - JACCARD_THRESHOLD
    return f"""
WITH pairs AS (SELECT jaccard FROM ({pairs_body}))
SELECT least({JACC_HIST_BINS - 1},
             CAST(floor((jaccard - {JACCARD_THRESHOLD})
                        * {JACC_HIST_BINS} / {span}) AS INTEGER)) AS bin,
       count(*) AS n_pairs
FROM pairs GROUP BY 1 ORDER BY bin
"""


JACCARD_HISTOGRAM_ORACLE = _jaccard_histogram_oracle()


# ---------------------------------------------------------------------------
# Session depth distribution
# ---------------------------------------------------------------------------

def session_depth_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement depth: the distribution of sessions-per-user over the
    period (how many users had 1, 2, ... sessions) plus each cohort's
    share — the histogram under every "power user" definition. Uses the
    same native session_window sessions as the rest of the repo.

    Scale shape: session aggregate (one shuffle), per-user count,
    bounded histogram with a single-row total broadcast."""
    ev = _t(spark, sf_dir, "events")
    sessions = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    per_user = sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    hist = per_user.groupBy("n_sessions").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    total = hist.agg(F.sum("n_users").alias("total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "n_sessions", "n_users",
            F.expr("n_users * 10000 div total").alias("share_bp"),
        )
        .orderBy("n_sessions")
    )


SESSION_DEPTH_DIST_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > 30 * 60 * 1000
              OR lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
per_user AS (
  SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
  FROM ordered GROUP BY user_id),
hist AS (
  SELECT n_sessions, count(*) AS n_users
  FROM per_user GROUP BY n_sessions),
total AS (SELECT CAST(sum(n_users) AS BIGINT) AS total FROM hist)
SELECT n_sessions, CAST(n_users AS BIGINT) AS n_users,
       CAST(n_users AS BIGINT) * 10000 // t.total AS share_bp
FROM hist CROSS JOIN total t
ORDER BY n_sessions
"""

PREP_QUERIES.update({
    "dup_graph_degrees": dup_graph_degrees,
    "jaccard_histogram": jaccard_histogram,
    "session_depth_dist": session_depth_dist,
})

PREP_ORACLES.update({
    "dup_graph_degrees": DUP_GRAPH_DEGREES_ORACLE,
    "jaccard_histogram": JACCARD_HISTOGRAM_ORACLE,
    "session_depth_dist": SESSION_DEPTH_DIST_ORACLE,
})


# ---------------------------------------------------------------------------
# Market-basket association over sessions
# ---------------------------------------------------------------------------

def session_cooccurrence_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules with sessions as baskets: for each event-type
    pair, the sessions containing both, the confidence of a→b, and the
    lift vs independence (Agrawal & Srikant 1994, reduced to the
    pairwise case) — "users who view also purchase" as a query, in
    exact integer micro-units.

    Scale shape: sessions reduce to distinct (session, type) first;
    the pair join is keyed on the session id and the type sets are
    bounded (|types|² pairs total); counts only. The session table is
    built once (r12): it feeds the total count, the per-type
    counts and both sides of the pair join — without materialization
    each consumer re-derived the session_window aggregate from the
    scan (5 scans in the round-start plan)."""
    ev = _t(spark, sf_dir, "events")
    sessions = build_once(
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.collect_set("event_type").alias("types"))
        .select(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("#"),
                F.unix_millis("sw.start").cast("string"),
            ).alias("sid"),
            "types",
        )
    )
    present = sessions.select(
        "sid", F.explode("types").alias("etype")
    )
    n_total = sessions.select(
        F.count(F.lit(1)).alias("n_sessions")
    )
    per_type = present.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n_with")
    )
    a = present.select("sid", F.col("etype").alias("type_a"))
    b = present.select("sid", F.col("etype").alias("type_b"))
    both = (
        a.join(b, "sid")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = per_type.select(
        F.col("etype").alias("type_a"), F.col("n_with").alias("n_a")
    )
    nb = per_type.select(
        F.col("etype").alias("type_b"), F.col("n_with").alias("n_b")
    )
    return (
        both.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            F.expr("n_both * 10000 div n_sessions").alias("support_bp"),
            F.expr("n_both * 10000 div n_a").alias("confidence_bp"),
            F.expr(
                "n_both * n_sessions * 1000000 div (n_a * n_b)"
            ).alias("lift_micro"),
        )
        .orderBy("type_a", "type_b")
    )


SESSION_COOCCURRENCE_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > 30 * 60 * 1000
              OR lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
islands AS (
  SELECT user_id, event_type,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered),
present AS (
  SELECT DISTINCT concat(CAST(user_id AS VARCHAR), '#',
                         CAST(sid AS VARCHAR)) AS sid, event_type
  FROM islands),
totals AS (SELECT count(DISTINCT sid) AS n_sessions FROM present),
per_type AS (
  SELECT event_type, count(*) AS n_with FROM present GROUP BY 1),
copresent AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM present a JOIN present b
    ON a.sid = b.sid AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT bo.type_a, bo.type_b,
       CAST(bo.n_both AS BIGINT) AS n_both,
       CAST(na.n_with AS BIGINT) AS n_a,
       CAST(nb.n_with AS BIGINT) AS n_b,
       CAST(bo.n_both AS BIGINT) * 10000 // t.n_sessions AS support_bp,
       CAST(bo.n_both AS BIGINT) * 10000 // na.n_with
         AS confidence_bp,
       CAST(bo.n_both AS BIGINT) * t.n_sessions * 1000000
         // (na.n_with * nb.n_with) AS lift_micro
FROM copresent bo
JOIN per_type na ON bo.type_a = na.event_type
JOIN per_type nb ON bo.type_b = nb.event_type
CROSS JOIN totals t
ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# Weekly part growth movers
# ---------------------------------------------------------------------------

MOVERS_TOP_N = 10


def part_growth_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fastest-moving parts week over week: per part, revenue cents by
    ship week, WoW growth in basis points, and the top risers of the
    latest complete week — the merchandising watchlist, in exact
    integer arithmetic end to end.

    Scale shape: one (part, week) cents aggregate; lag over each
    part's short week series; a bounded top-n on the final week."""
    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey",
        F.date_trunc("week", "l_shipdate").cast("date").alias("wk"),
    ).agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * F.lit(100.0)).cast("long")
        ).alias("cents")
    )
    w = W.partitionBy("l_partkey").orderBy("wk")
    grown = weekly.withColumn("prev_cents", F.lag("cents").over(w))
    last_wk = weekly.agg(F.max("wk").alias("last_wk"))
    return (
        grown.crossJoin(F.broadcast(last_wk))
        .where(
            (F.col("wk") == F.col("last_wk"))
            & F.col("prev_cents").isNotNull()
            & (F.col("prev_cents") > 0)
        )
        .select(
            "l_partkey", "wk", "cents", "prev_cents",
            F.expr(
                "(cents - prev_cents) * 10000 div prev_cents"
            ).alias("growth_bp"),
        )
        .orderBy(F.col("growth_bp").desc(), "l_partkey")
        .limit(MOVERS_TOP_N)
    )


PART_GROWTH_MOVERS_ORACLE = f"""
WITH weekly AS (
  SELECT l_partkey,
         CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
         CAST(sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY 1, 2),
grown AS (
  SELECT l_partkey, wk, cents,
         lag(cents) OVER (
           PARTITION BY l_partkey ORDER BY wk) AS prev_cents
  FROM weekly),
last_wk AS (SELECT max(wk) AS last_wk FROM weekly)
SELECT l_partkey, wk, cents, prev_cents,
       (cents - prev_cents) * 10000 // prev_cents AS growth_bp
FROM grown CROSS JOIN last_wk
WHERE wk = last_wk AND prev_cents IS NOT NULL AND prev_cents > 0
ORDER BY growth_bp DESC, l_partkey
LIMIT {MOVERS_TOP_N}
"""

PREP_QUERIES.update({
    "session_cooccurrence_lift": session_cooccurrence_lift,
    "part_growth_movers": part_growth_movers,
})

PREP_ORACLES.update({
    "session_cooccurrence_lift": SESSION_COOCCURRENCE_ORACLE,
    "part_growth_movers": PART_GROWTH_MOVERS_ORACLE,
})


# ---------------------------------------------------------------------------
# Hash-bucketed uniform negative sampling
# ---------------------------------------------------------------------------

NEG_PER_QUERY = 3
NEG_BUCKETS = 16


def uniform_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negatives for contrastive training: for
    each anchor vector, :data:`NEG_PER_QUERY` different-label vectors
    chosen by smallest pair hash — reproducible (no RNG state), and
    restricted to the anchor's hash bucket so the candidate join is
    1/:data:`NEG_BUCKETS` of the cross product (the easy-negative
    complement to ``hard_negatives``' nearest-wrong-label mining).

    Scale shape: both sides carry only (id, label, bucket); the
    equi-join on the bucket bounds the blow-up, and the per-anchor
    top-k is a window over the tiny candidate set."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    bucket = md5h("cast(vec_id as string)") % NEG_BUCKETS
    q = emb.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"),
        bucket.alias("bkt"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"), F.col("label").alias("c_label"),
        bucket.alias("bkt"),
    )
    pair_h = md5h(
        "concat(cast(q_id as string), '|', cast(c_id as string))"
    )
    cand = (
        q.join(c, "bkt")
        .where(F.col("q_label") != F.col("c_label"))
        .select("q_id", "q_label", "c_id", "c_label",
                pair_h.alias("ph"))
    )
    w = W.partitionBy("q_id").orderBy("ph", "c_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= NEG_PER_QUERY)
        .select("q_id", "q_label", "rk", "c_id", "c_label")
        .orderBy("q_id", "rk")
    )


_NEG_BKT_Q = MD5H_SQL_TEMPLATE.format(expr="CAST(q_id AS VARCHAR)")
_NEG_BKT_C = MD5H_SQL_TEMPLATE.format(expr="CAST(c_id AS VARCHAR)")
_NEG_PH = MD5H_SQL_TEMPLATE.format(
    expr="concat(CAST(q_id AS VARCHAR), '|', CAST(c_id AS VARCHAR))"
)

UNIFORM_NEGATIVES_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label,
         {MD5H_SQL_TEMPLATE.format(expr="CAST(vec_id AS VARCHAR)")}
           % {NEG_BUCKETS} AS bkt
  FROM embeddings),
c AS (
  SELECT vec_id AS c_id, label AS c_label,
         {MD5H_SQL_TEMPLATE.format(expr="CAST(vec_id AS VARCHAR)")}
           % {NEG_BUCKETS} AS bkt
  FROM embeddings),
cand AS (
  SELECT q.q_id, q.q_label, c.c_id, c.c_label,
         {_NEG_PH} AS ph
  FROM q JOIN c USING (bkt)
  WHERE q.q_label != c.c_label),
ranked AS (
  SELECT q_id, q_label, c_id, c_label,
         row_number() OVER (
           PARTITION BY q_id ORDER BY ph, c_id) AS rk
  FROM cand)
SELECT q_id, q_label, CAST(rk AS INTEGER) AS rk, c_id, c_label
FROM ranked WHERE rk <= {NEG_PER_QUERY}
ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# Temporal train/test split audit
# ---------------------------------------------------------------------------

TEMPORAL_CUTOFF_DAY = 24


def temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based split audit: events before day :data:`TEMPORAL_CUTOFF
    _DAY` of the month train, the rest test — per split the row/user
    counts, plus how many test-set users also appear in train (the
    entity overlap that decides whether the evaluation measures
    generalization to new users or just new days).

    Scale shape: one pass with a date predicate per split, distinct
    user sets reduced before the overlap join. Integer counts."""
    events = _t(spark, sf_dir, "events")
    tagged = events.select(
        "user_id",
        F.when(
            F.dayofmonth("ts") < TEMPORAL_CUTOFF_DAY, "train"
        ).otherwise("test").alias("split"),
    )
    stats = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )
    train_u = tagged.where(F.col("split") == "train").select(
        "user_id"
    ).distinct()
    test_u = tagged.where(F.col("split") == "test").select(
        "user_id"
    ).distinct()
    overlap = train_u.join(test_u, "user_id").agg(
        F.count(F.lit(1)).alias("n_seen_users")
    )
    return (
        stats.crossJoin(F.broadcast(overlap))
        .select(
            "split", "n_rows", "n_users", "n_seen_users",
            F.expr("n_seen_users * 10000 div n_users").alias(
                "seen_user_bp"
            ),
        )
        .orderBy("split")
    )


TEMPORAL_SPLIT_ORACLE = f"""
WITH tagged AS (
  SELECT user_id,
         CASE WHEN day(ts) < {TEMPORAL_CUTOFF_DAY}
              THEN 'train' ELSE 'test' END AS split
  FROM events),
stats AS (
  SELECT split, count(*) AS n_rows,
         count(DISTINCT user_id) AS n_users
  FROM tagged GROUP BY split),
overlap AS (
  SELECT count(*) AS n_seen_users FROM (
    SELECT DISTINCT user_id FROM tagged WHERE split = 'train'
    INTERSECT_SENTINEL) u)
SELECT s.split, CAST(s.n_rows AS BIGINT) AS n_rows,
       CAST(s.n_users AS BIGINT) AS n_users,
       CAST(o.n_seen_users AS BIGINT) AS n_seen_users,
       CAST(o.n_seen_users AS BIGINT) * 10000 // s.n_users
         AS seen_user_bp
FROM stats s CROSS JOIN overlap o
ORDER BY split
"""
# the overlap CTE needs an INTERSECT, which the f-string above can't
# express cleanly — splice it in here
TEMPORAL_SPLIT_ORACLE = TEMPORAL_SPLIT_ORACLE.replace(
    "INTERSECT_SENTINEL",
    "INTERSECT SELECT DISTINCT user_id FROM tagged WHERE split = 'test'",
)


# ---------------------------------------------------------------------------
# Time-series feature table (lags + rolling mean in one pass)
# ---------------------------------------------------------------------------

def ts_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store staple: per (event_type, day) the daily mean
    plus its lag-1, lag-7, and trailing-7-day rolling mean — every
    derived column from ONE window pass over the reduced daily series
    (no self-joins), with DECIMAL daily sums and quantized outputs.

    Scale shape: facts reduce to the bounded (type, day) grid first;
    all four features share one partition+sort."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,9)")).alias("_s"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "event_type", "day",
        _q6(F.col("_s").cast("double") / F.col("n")).alias("dm"),
    )
    w = W.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    return (
        daily.select(
            "event_type", "day", "dm",
            F.lag("dm", 1).over(w).alias("lag1"),
            F.lag("dm", 7).over(w).alias("lag7"),
            _q6(
                F.sum(F.col("dm").cast("decimal(28,9)")).over(w7)
                .cast("double")
                / F.count(F.lit(1)).over(w7)
            ).alias("roll7_mean"),
        )
        .orderBy("event_type", "day")
    )


TS_FEATURE_TABLE_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         {_Q6_SQL.format(x="CAST(sum(CAST(value AS DECIMAL(28,9))) AS DOUBLE) / count(*)")}
           AS dm
  FROM events GROUP BY 1, 2)
SELECT event_type, day, dm,
       lag(dm, 1) OVER (PARTITION BY event_type ORDER BY day) AS lag1,
       lag(dm, 7) OVER (PARTITION BY event_type ORDER BY day) AS lag7,
       {_Q6_SQL.format(x="CAST(sum(CAST(dm AS DECIMAL(28,9))) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / count(*) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)")}
         AS roll7_mean
FROM daily
ORDER BY event_type, day
"""

PREP_QUERIES.update({
    "uniform_negatives": uniform_negatives,
    "temporal_split_audit": temporal_split_audit,
    "ts_feature_table": ts_feature_table,
})

PREP_ORACLES.update({
    "uniform_negatives": UNIFORM_NEGATIVES_ORACLE,
    "temporal_split_audit": TEMPORAL_SPLIT_ORACLE,
    "ts_feature_table": TS_FEATURE_TABLE_ORACLE,
})


# ---------------------------------------------------------------------------
# Fulfillment lag distribution
# ---------------------------------------------------------------------------

LAG_BUCKET_DAYS = 15


def fulfillment_lag_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag distribution by order month: line items
    bucketed by fulfillment delay (15-day buckets), with each bucket's
    share of the month — the operations view behind the SLA scorecard
    (where the delay mass actually sits, not just the compliance rate).

    Scale shape: one natural-key join (order side projects two
    columns), one bounded (month, bucket) aggregate, shares against a
    per-month window sum. Integer day and basis-point arithmetic."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    bucketed = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
            (
                F.datediff(
                    F.to_date("l_shipdate"), F.to_date("o_orderdate")
                ).cast("int") / F.lit(LAG_BUCKET_DAYS)
            ).cast("int").alias("lag_bucket"),
        )
        .groupBy("mon", "lag_bucket")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    w = W.partitionBy("mon")
    return (
        bucketed.withColumn("mon_total", F.sum("n_lines").over(w))
        .select(
            "mon", "lag_bucket", "n_lines",
            F.expr("n_lines * 10000 div mon_total").alias("share_bp"),
        )
        .orderBy("mon", "lag_bucket")
    )


FULFILLMENT_LAG_ORACLE = f"""
WITH bucketed AS (
  SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
         CAST(datediff('day',
                 CAST(date_trunc('day', o.o_orderdate) AS DATE),
                 CAST(date_trunc('day', l.l_shipdate) AS DATE))
              // {LAG_BUCKET_DAYS} AS INTEGER) AS lag_bucket,
         count(*) AS n_lines
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2)
SELECT mon, lag_bucket, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_lines AS BIGINT) * 10000
         // CAST(sum(n_lines) OVER (PARTITION BY mon) AS BIGINT)
         AS share_bp
FROM bucketed
ORDER BY mon, lag_bucket
"""


# ---------------------------------------------------------------------------
# Customer segment migration
# ---------------------------------------------------------------------------

SEGMENT_SPLIT_DAY = 16


def segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-migration matrix: users terciled by spend in the first
    half of the period vs the second half (plus 'inactive'), with the
    user count per (from, to) cell — the churn/upsell flow picture
    behind every retention program. Terciles break ties on user_id so
    both engines segment identically.

    Scale shape: two bounded per-user aggregates (one per half), each
    terciled by one rank window; the matrix is a tiny join of the two
    segment tables."""
    events = _t(spark, sf_dir, "events")
    spend = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.when(
            F.dayofmonth("ts") < SEGMENT_SPLIT_DAY, F.lit("h1")
        ).otherwise(F.lit("h2")).alias("half"),
        F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("cents"),
    ).groupBy("half", "user_id").agg(F.sum("cents").alias("spend"))

    def seg(half):
        w = W.orderBy(F.col("spend").desc(), "user_id")
        return (
            spend.where(F.col("half") == half)
            .withColumn("t", F.ntile(3).over(w))
            .select(
                "user_id",
                F.when(F.col("t") == 1, "high")
                .when(F.col("t") == 2, "mid")
                .otherwise("low").alias(f"seg_{half}"),
            )
        )
    users = events.select("user_id").distinct()
    joined = (
        users.join(seg("h1"), "user_id", "left")
        .join(seg("h2"), "user_id", "left")
        .select(
            F.coalesce("seg_h1", F.lit("inactive")).alias("from_seg"),
            F.coalesce("seg_h2", F.lit("inactive")).alias("to_seg"),
        )
    )
    return (
        joined.groupBy("from_seg", "to_seg")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("from_seg", "to_seg")
    )


SEGMENT_MIGRATION_ORACLE = f"""
WITH spend AS (
  SELECT CASE WHEN day(ts) < {SEGMENT_SPLIT_DAY} THEN 'h1' ELSE 'h2' END
           AS half,
         user_id,
         CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT)
           AS spend
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2),
seg1 AS (
  SELECT user_id,
         CASE ntile(3) OVER (ORDER BY spend DESC, user_id)
           WHEN 1 THEN 'high' WHEN 2 THEN 'mid' ELSE 'low' END
           AS seg_h1
  FROM spend WHERE half = 'h1'),
seg2 AS (
  SELECT user_id,
         CASE ntile(3) OVER (ORDER BY spend DESC, user_id)
           WHEN 1 THEN 'high' WHEN 2 THEN 'mid' ELSE 'low' END
           AS seg_h2
  FROM spend WHERE half = 'h2'),
users AS (SELECT DISTINCT user_id FROM events)
SELECT coalesce(s1.seg_h1, 'inactive') AS from_seg,
       coalesce(s2.seg_h2, 'inactive') AS to_seg,
       count(*) AS n_users
FROM users u
LEFT JOIN seg1 s1 USING (user_id)
LEFT JOIN seg2 s2 USING (user_id)
GROUP BY 1, 2
ORDER BY from_seg, to_seg
"""

PREP_QUERIES.update({
    "fulfillment_lag_hist": fulfillment_lag_hist,
    "segment_migration": segment_migration,
})

PREP_ORACLES.update({
    "fulfillment_lag_hist": FULFILLMENT_LAG_ORACLE,
    "segment_migration": SEGMENT_MIGRATION_ORACLE,
})


# ---------------------------------------------------------------------------
# Weekday activity profile
# ---------------------------------------------------------------------------

def weekday_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(weekday, event type) activity profile with each type's
    share of its weekday — the simplest seasonality cut (weekday mix),
    complementing the hour-of-day baseline ops. ISO weekday numbering
    so both engines agree on Monday=1.

    Scale shape: one bounded (7 x |types|) aggregate plus a per-weekday
    window sum. Integer arithmetic only."""
    events = _t(spark, sf_dir, "events")
    cells = events.groupBy(
        F.expr("extract(dayofweek_iso from ts)").cast("int").alias("iso_dow"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("iso_dow")
    return (
        cells.withColumn("dow_total", F.sum("n").over(w))
        .select(
            "iso_dow", "event_type", "n",
            F.expr("n * 10000 div dow_total").alias("share_bp"),
        )
        .orderBy("iso_dow", "event_type")
    )


WEEKDAY_PROFILE_ORACLE = """
WITH cells AS (
  SELECT CAST(isodow(ts) AS INTEGER) AS iso_dow, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT iso_dow, event_type, CAST(n AS BIGINT) AS n,
       CAST(n AS BIGINT) * 10000
         // CAST(sum(n) OVER (PARTITION BY iso_dow) AS BIGINT)
         AS share_bp
FROM cells
ORDER BY iso_dow, event_type
"""


# ---------------------------------------------------------------------------
# Repeat-purchase gap histogram
# ---------------------------------------------------------------------------

def repeat_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of days between a user's consecutive purchases —
    the repeat-behavior curve replenishment and win-back campaigns are
    timed against. One lag window per user over purchase days, then a
    bounded integer-day histogram with shares.

    Scale shape: facts filter to purchases, reduce to distinct
    (user, day), one user-partitioned lag, bounded histogram."""
    events = _t(spark, sf_dir, "events")
    buy_days = events.where(
        F.col("event_type") == "purchase"
    ).select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    gaps = buy_days.select(
        "user_id",
        F.datediff(F.col("day"), F.lag("day").over(w)).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    hist = gaps.groupBy("gap_days").agg(
        F.count(F.lit(1)).alias("n_gaps")
    )
    total = hist.agg(F.sum("n_gaps").alias("total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "gap_days", "n_gaps",
            F.expr("n_gaps * 10000 div total").alias("share_bp"),
        )
        .orderBy("gap_days")
    )


REPEAT_PURCHASE_GAPS_ORACLE = """
WITH buy_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE event_type = 'purchase'),
gaps AS (
  SELECT user_id,
         datediff('day',
                  lag(day) OVER (PARTITION BY user_id ORDER BY day),
                  day) AS gap_days
  FROM buy_days),
hist AS (
  SELECT gap_days, count(*) AS n_gaps FROM gaps
  WHERE gap_days IS NOT NULL GROUP BY gap_days),
total AS (SELECT CAST(sum(n_gaps) AS BIGINT) AS total FROM hist)
SELECT CAST(gap_days AS INTEGER) AS gap_days,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(n_gaps AS BIGINT) * 10000 // t.total AS share_bp
FROM hist CROSS JOIN total t
ORDER BY gap_days
"""

PREP_QUERIES.update({
    "weekday_activity_profile": weekday_activity_profile,
    "repeat_purchase_gaps": repeat_purchase_gaps,
})

PREP_ORACLES.update({
    "weekday_activity_profile": WEEKDAY_PROFILE_ORACLE,
    "repeat_purchase_gaps": REPEAT_PURCHASE_GAPS_ORACLE,
})


# ---------------------------------------------------------------------------
# Partition-scheme advisor: skew/size statistics per candidate layout
# ---------------------------------------------------------------------------

def partition_scheme_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate candidate physical partitioning schemes for the events
    table — by day, by hour, by event type, and by day x type — with
    the statistics a warehouse layout decision actually needs:
    partition count, largest partition, average partition, and the
    skew ratio in basis points (10000 = perfectly balanced).

    This is the design step BEFORE ``zorder_layout`` / ``compaction_
    plan``: too few partitions starves parallelism, too many drowns the
    planner in small files, and a skewed key (here: event_type, whose
    hottest type dwarfs the rest at any scale) concentrates the shuffle.
    Scale shape: one map-combinable count aggregate per scheme (the
    per-partition row counts), reduced to a 1-row summary each — the
    events table is scanned, never shuffled beyond the count partials.
    Integer arithmetic end to end."""
    ev = _t(spark, sf_dir, "events")

    def scheme(name: str, key: F.Column) -> DataFrame:
        parts = ev.select(key.alias("pk")).groupBy("pk").agg(
            F.count(F.lit(1)).alias("rows")
        )
        return parts.agg(
            F.lit(name).alias("scheme"),
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("rows").alias("total_rows"),
            F.max("rows").alias("max_partition_rows"),
        ).select(
            "scheme",
            "n_partitions",
            "max_partition_rows",
            F.expr("total_rows div n_partitions").alias(
                "avg_partition_rows"
            ),
            F.expr(
                "max_partition_rows * 10000"
                " div (total_rows div n_partitions)"
            ).alias("skew_bp"),
        )

    day = F.date_format("ts", "yyyy-MM-dd")
    hour = F.date_format("ts", "yyyy-MM-dd HH")
    return (
        scheme("day", day)
        .unionByName(scheme("hour", hour))
        .unionByName(scheme("type", F.col("event_type")))
        .unionByName(
            scheme("day_type", F.concat_ws("|", day, F.col("event_type")))
        )
        # an empty feed has no layout to advise on: drop the n=0
        # skeleton rows the per-scheme global aggregates still emit,
        # matching the oracle's GROUP BY over zero rows (r9 sweep)
        .where(F.col("n_partitions") > 0)
        .orderBy("scheme")
    )


PARTITION_SCHEME_ADVISOR_ORACLE = """
WITH schemes AS (
  SELECT 'day' AS scheme, strftime(ts, '%Y-%m-%d') AS pk FROM events
  UNION ALL
  SELECT 'hour', strftime(ts, '%Y-%m-%d %H') FROM events
  UNION ALL
  SELECT 'type', event_type FROM events
  UNION ALL
  SELECT 'day_type', strftime(ts, '%Y-%m-%d') || '|' || event_type
  FROM events),
parts AS (
  SELECT scheme, pk, count(*) AS rows_ FROM schemes GROUP BY 1, 2),
summ AS (
  SELECT scheme,
         CAST(count(*) AS BIGINT) AS n_partitions,
         CAST(sum(rows_) AS BIGINT) AS total_rows,
         CAST(max(rows_) AS BIGINT) AS max_partition_rows
  FROM parts GROUP BY scheme)
SELECT scheme, n_partitions, max_partition_rows,
       total_rows // n_partitions AS avg_partition_rows,
       max_partition_rows * 10000 // (total_rows // n_partitions)
         AS skew_bp
FROM summ ORDER BY scheme
"""


PREP_QUERIES.update({"partition_scheme_advisor": partition_scheme_advisor})
PREP_ORACLES.update(
    {"partition_scheme_advisor": PARTITION_SCHEME_ADVISOR_ORACLE}
)


# ---------------------------------------------------------------------------
# t-closeness audit: the third leg of the privacy trio
# ---------------------------------------------------------------------------

#: a QI class violates t-closeness when its EMD from the type-level
#: sensitive distribution exceeds this (basis points of the bucket span)
T_CLOSENESS_BP = 2500


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) completing
    the privacy trio with :func:`k_anonymity_audit` and
    :func:`l_diversity_audit`: a QI class can be k-anonymous AND
    l-diverse yet still leak when its sensitive-value DISTRIBUTION
    diverges from the population's. Per event type: equivalence classes
    on (day, hour) whose earth-mover distance from the type-level
    value-bucket distribution exceeds t.

    For an ordered attribute with the equal-distance ground metric,
    EMD = (1/(m-1)) * sum_i |cumP_i - cumQ_i| — and with counts over a
    common denominator that is pure integer arithmetic:
    |cum_p*N - cum_q*n_c| summed, scaled by 10000 over
    ((m-1)*n_c*N) in DECIMAL(38)/HUGEINT. No floats anywhere.

    Scale shape: one aggregate to (QI, bucket) cells, a bounded
    class x type-bucket spine join, two cumulative windows partitioned
    by class/type, and a per-type rollup — everything bounded by
    QI-class x bucket cardinality, never raw-event shaped."""
    # a NULL sensitive value has no bucket and no place in either
    # distribution: exclude it from the audit on BOTH engines (the
    # NULL sbucket otherwise lands at opposite ends of the two
    # engines' cumulative windows AND falls out of the NULL-unequal
    # spine equi-join; r9 nulls sweep). Pinned in the oracle's WHERE.
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.hour("ts").alias("hod"),
            F.floor(F.col("value") / F.lit(JH_BUCKET_WIDTH))
            .cast("int").alias("sbucket"),
        )
    )
    cb = ev.groupBy("event_type", "day", "hod", "sbucket").agg(
        F.count(F.lit(1)).alias("nc")
    )
    ct = cb.groupBy("event_type", "day", "hod").agg(
        F.sum("nc").alias("n_c")
    )
    wt = W.partitionBy("event_type")
    tb = (
        cb.groupBy("event_type", "sbucket")
        .agg(F.sum("nc").alias("g"))
        .select(
            "event_type",
            "sbucket",
            F.sum("g").over(wt.orderBy("sbucket")).alias("cum_g"),
            F.sum("g").over(wt).alias("n_t"),
            F.count(F.lit(1)).over(wt).alias("m_t"),
        )
    )
    spine = (
        ct.join(tb, "event_type")
        .join(cb, ["event_type", "day", "hod", "sbucket"], "left")
        .select(
            "event_type", "day", "hod", "sbucket", "n_c", "cum_g",
            "n_t", "m_t", F.coalesce("nc", F.lit(0)).alias("nc"),
        )
    )
    wc = W.partitionBy("event_type", "day", "hod").orderBy("sbucket")
    per_class = (
        spine.withColumn("cum_p", F.sum("nc").over(wc))
        .groupBy("event_type", "day", "hod", "n_c", "n_t", "m_t")
        .agg(
            F.sum(
                F.abs(F.col("cum_p") * F.col("n_t")
                      - F.col("cum_g") * F.col("n_c"))
            ).alias("t_num")
        )
        .where(F.col("m_t") > 1)
        .select(
            "event_type",
            F.expr(
                "cast((cast(t_num as decimal(38,0)) * 10000)"
                " div ((m_t - 1) * n_c * n_t) as bigint)"
            ).alias("t_bp"),
        )
    )
    return (
        per_class.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.max("t_bp").alias("max_t_bp"),
            F.sum(
                (F.col("t_bp") >= T_CLOSENESS_BP).cast("long")
            ).alias("n_violations"),
        )
        .select(
            "event_type", "n_classes", "max_t_bp", "n_violations",
            F.expr("n_violations * 10000 div n_classes").alias(
                "violation_bp"
            ),
        )
        .orderBy("event_type")
    )


T_CLOSENESS_ORACLE = f"""
WITH ev AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INTEGER) AS hod,
         CAST(floor(value / {JH_BUCKET_WIDTH}) AS INTEGER) AS sbucket
  FROM events
  WHERE value IS NOT NULL),
cb AS (
  SELECT event_type, day, hod, sbucket, count(*) AS nc
  FROM ev GROUP BY 1, 2, 3, 4),
ct AS (
  SELECT event_type, day, hod, CAST(sum(nc) AS BIGINT) AS n_c
  FROM cb GROUP BY 1, 2, 3),
tb AS (
  SELECT event_type, sbucket,
         CAST(sum(sum(nc)) OVER (PARTITION BY event_type
                                 ORDER BY sbucket) AS BIGINT) AS cum_g,
         CAST(sum(sum(nc)) OVER (PARTITION BY event_type) AS BIGINT)
           AS n_t,
         count(*) OVER (PARTITION BY event_type) AS m_t
  FROM cb GROUP BY event_type, sbucket),
spine AS (
  SELECT ct.event_type, ct.day, ct.hod, tb.sbucket, ct.n_c,
         tb.cum_g, tb.n_t, tb.m_t, coalesce(cb.nc, 0) AS nc
  FROM ct JOIN tb ON ct.event_type = tb.event_type
  LEFT JOIN cb ON cb.event_type = ct.event_type AND cb.day = ct.day
              AND cb.hod = ct.hod AND cb.sbucket = tb.sbucket),
cum AS (
  SELECT event_type, day, hod, n_c, n_t, m_t, cum_g,
         CAST(sum(nc) OVER (PARTITION BY event_type, day, hod
                            ORDER BY sbucket) AS BIGINT) AS cum_p
  FROM spine),
per_class AS (
  SELECT event_type,
         CAST((CAST(sum(abs(cum_p * n_t - cum_g * n_c)) AS HUGEINT)
               * 10000) // ((m_t - 1) * n_c * n_t) AS BIGINT) AS t_bp
  FROM cum WHERE m_t > 1
  GROUP BY event_type, day, hod, n_c, n_t, m_t)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_classes,
       max(t_bp) AS max_t_bp,
       CAST(sum(CASE WHEN t_bp >= {T_CLOSENESS_BP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violations,
       CAST(sum(CASE WHEN t_bp >= {T_CLOSENESS_BP} THEN 1 ELSE 0 END)
            AS BIGINT) * 10000 // count(*) AS violation_bp
FROM per_class GROUP BY event_type ORDER BY event_type
"""


PREP_QUERIES.update({"t_closeness_audit": t_closeness_audit})
PREP_ORACLES.update({"t_closeness_audit": T_CLOSENESS_ORACLE})
