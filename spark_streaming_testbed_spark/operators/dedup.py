"""Deduplication operators for LLM-data pipelines (SURVEY.md §7 M7).

Exact (hash-groupBy), MinHash + LSH banding, n-gram Jaccard, and SimHash —
each expressed as declarative DataFrame plans over the ``documents`` table.

Scale design (the point of each plan shape):
- exact dedup is one hash aggregation on a fingerprint — the minimal
  single-shuffle dedup at any scale;
- minhash signatures are computed row-local with higher-order array
  functions (no explode, no shuffle) and are oracle-checkable because the
  hash is md5-derived (see ``text.md5h``);
- LSH candidate generation shuffles once on (band, band_hash) — the
  standard banding trick that avoids the O(n²) cross join;
- the exact n-gram Jaccard join uses an inverted index (explode shingle →
  equi-join) so Catalyst plans a shuffled hash join keyed on shingle —
  quadratic only within a posting list, never globally;
- simhash is 60 per-bit conditional aggregations in ONE HashAggregate
  pass (Catalyst fuses them), then pairs within hamming ≤ threshold via
  band join on bit-chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import build_once, fan_out, load_table
from .text import MD5H_SQL_TEMPLATE, TOKENS_SQL, md5h, with_tokens

import math
import random

SHINGLE_N = 4
MINHASH_K = 8
LSH_BANDS = 4  # rows per band = MINHASH_K // LSH_BANDS = 2
JACCARD_THRESHOLD = 0.4
SIMHASH_BITS = 60

#: xor-rotate hash family over the 60-bit base hash: h_j = rot_{r_j}(h ⊕ c_j).
#: One md5 per shingle instead of K — the rotate is expressed with
#: overflow-safe mod/div arithmetic portable to DuckDB (no BIGINT overflow,
#: which errors in both engines).
_rng = random.Random(42)
MIX_CONSTS: list[tuple[int, int]] = [
    (_rng.randrange(1 << 60), _rng.randrange(1, 60)) for _ in range(MINHASH_K)
]


def _mix_expr(h: str, j: int, dialect: str) -> str:
    """`rot_r(h xor c)` in Spark SQL or DuckDB SQL (bit-identical)."""
    c, r = MIX_CONSTS[j]
    lo, hi = 1 << r, 1 << (60 - r)
    if dialect == "spark":
        x = f"({h} ^ {c}L)"
        return f"(({x} % {lo}L) * {hi}L + ({x} div {lo}L))"
    x = f"xor({h}, {c}::BIGINT)"
    return f"(({x} % {lo}) * {hi} + ({x} // {lo}))"


def _with_shingles(df: DataFrame, n: int = SHINGLE_N,
                   fan: bool = True) -> DataFrame:
    """Distinct word n-gram shingles per document (row-local, no shuffle).

    Built with ``pyspark.ml.feature.NGram`` (a JVM sliding iterator) rather
    than an array-lambda: Catalyst's projection collapse inlines the token
    split into a `transform(sequence(...), i -> slice(tokens, i, n))`
    lambda, so the interpreted lambda re-splits the document once per
    position — O(len²) per doc (measured 11× slower at sf0.1)."""
    from pyspark.ml.feature import NGram

    # fan_out (r12): the NGram build + array_distinct per document is
    # the CPU-expensive row-local step of every shingle consumer and
    # otherwise runs at scan parallelism (one task on the single-row-
    # group testdata files); no-op once the scan is already parallel
    tok = (fan_out(df, "doc_id") if fan else df).withColumn(
        "tokens", F.coalesce(F.split(F.trim(F.col("text")), " "), F.array())
    )
    grams = NGram(n=n, inputCol="tokens", outputCol="_raw_shingles").transform(tok)
    return grams.withColumn(
        "shingles", F.array_distinct("_raw_shingles")
    ).drop("_raw_shingles")


_SHINGLES_SQL = f"""
CASE WHEN len(tokens) >= {SHINGLE_N} THEN
  list_distinct(list_transform(range(1, len(tokens) - {SHINGLE_N} + 2),
                i -> array_to_string(tokens[i:i+{SHINGLE_N}-1], ' ')))
ELSE [] END
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on a normalized fingerprint
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: md5 of normalized text → (fingerprint,
    group size, keeper = min doc_id). Mirrors the reference's
    key-dedup-keep-first shape (log-processor RunLogData.scala:17-23) at
    document granularity."""
    docs = load_table(spark, sf_dir, "documents")
    norm = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
    return (
        docs.select("doc_id", F.expr(f"md5({norm})").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_ORACLE = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       count(*) AS group_size,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1 ORDER BY keeper_doc_id
"""


# ---------------------------------------------------------------------------
# MinHash signatures (oracle-checkable: md5-derived hash family)
# ---------------------------------------------------------------------------

def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-permutation MinHash signature per document, one column per hash.

    Hash family: one md5-derived 60-bit base hash per shingle, mixed K
    ways with the portable xor-rotate family (``MIX_CONSTS``) — 8× fewer
    md5 evaluations than hashing (j, shingle) pairs, still oracle-exact.

    Shape: explode shingles → codegen md5 per row → K fused min
    aggregates keyed on doc_id (partial+final hash agg, one shuffle).
    The row-local `array_min(transform(hs, ...))` twin keeps the whole
    thing shuffle-free but runs K interpreted lambdas per document —
    measured 2× slower at sf0.1, and the single shuffle is keyed on
    doc_id so it stays linear at 100 TB."""
    docs = _with_shingles(load_table(spark, sf_dir, "documents"))
    return _signatures(docs).orderBy("doc_id")


def _signatures(shingled: DataFrame) -> DataFrame:
    """The MinHash signature of every ``(doc_id, shingles)`` row:
    explode → one md5-derived base hash per shingle → K fused min
    aggregates keyed on doc_id."""
    exploded = shingled.select("doc_id", F.explode("shingles").alias("s")).withColumn(
        "h", F.expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)")
    )
    return exploded.groupBy("doc_id").agg(*[
        F.min(F.expr(_mix_expr("h", j, "spark"))).alias(f"mh{j}")
        for j in range(MINHASH_K)
    ])


def _shingle_index(docs: DataFrame) -> DataFrame:
    """The ``(doc_id, shingles)`` rows of the documents that have
    shingles, built once: the LSH pair queries read it three times (the
    signatures and both sides of the Jaccard verify)."""
    return build_once(
        _with_shingles(docs)
        .where(F.size("shingles") > 0)
        .select("doc_id", "shingles")
    )


def _jaccard_verified(cand: DataFrame, index: DataFrame,
                      a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Candidate pairs ``(a, b)`` whose exact shingle Jaccard, read from
    both documents' rows of *index*, is at least JACCARD_THRESHOLD."""
    sh_a = index.select(F.col("doc_id").alias(a), F.col("shingles").alias("sh_a"))
    sh_b = index.select(F.col("doc_id").alias(b), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sh_a, a).join(sh_b, b)
        .select(a, b, F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy(a, b)
    )


def _minhash_oracle() -> str:
    base = MD5H_SQL_TEMPLATE.format(expr="s")
    hashes = ",\n       ".join(
        f"list_min(list_transform(hs, h -> {_mix_expr('h', j, 'duck')})) AS mh{j}"
        for j in range(MINHASH_K)
    )
    return f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
hb AS (SELECT doc_id, shingles,
              list_transform(shingles, s -> {base}) AS hs
       FROM sh)
SELECT doc_id,
       {hashes}
FROM hb WHERE len(shingles) > 0
ORDER BY doc_id
"""


MINHASH_SIGNATURES_ORACLE = _minhash_oracle()


# ---------------------------------------------------------------------------
# LSH near-dup candidate pairs → verified pairs → survivors
# ---------------------------------------------------------------------------

def _banded(docs_with_sig: DataFrame, n_bands: int = LSH_BANDS) -> DataFrame:
    """Explode a signature table into slim ``(doc_id, band, bh)`` rows,
    ``n_bands`` bands of ``MINHASH_K // n_bands`` rows each."""
    r = MINHASH_K // n_bands
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            md5h(
                "concat_ws(':', "
                + ", ".join(f"mh{b * r + i}" for i in range(r))
                + ")"
            ).alias("bh"),
        )
        for b in range(n_bands)
    ])
    return (
        docs_with_sig.select("doc_id", F.explode(bands).alias("b"))
        .select("doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    )


def _lsh_candidates(docs_with_sig: DataFrame,
                    n_bands: int = LSH_BANDS) -> DataFrame:
    """Band the signature and self-join on (band, band_hash).

    The self-join sides carry only the slim ``(doc_id, band, bh)``
    triple — 20 bytes/row through the band shuffle. The shingle arrays
    (needed for Jaccard verification) are joined back onto the few
    surviving candidate pairs by the caller; shipping them through the
    band join itself would multiply the shuffle payload by the document
    shingle count at 100 TB."""
    exploded = _banded(docs_with_sig, n_bands)
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact shingle Jaccard.

    Oracle-checked: the hash family is the portable md5/xor-rotate mix,
    so candidate generation — though probabilistic in recall — is fully
    deterministic and reproduced step-for-step in DuckDB. The exact-join
    twin ``ngram_jaccard_pairs`` provides the recall ground truth.

    Shape: shingle index built once (``_shingle_index``), then
    (1) explode → codegen md5 → K min aggs for signatures, (2) slim band
    self-join for candidates, (3) candidates ⋈ shingle arrays (doc_id
    keyed, twice) for exact verification. Three doc_id-keyed shuffles,
    all linear in corpus size."""
    shingled = _shingle_index(load_table(spark, sf_dir, "documents"))
    return _jaccard_verified(_lsh_candidates(_signatures(shingled)), shingled)


def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup decision: drop any doc that has a verified near-duplicate
    with a smaller doc_id (greedy keep-first, deterministic;
    oracle-checked via the same deterministic LSH pipeline)."""
    pairs = lsh_near_dup_pairs(spark, sf_dir).select("doc_b").distinct()
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(pairs, docs.doc_id == pairs.doc_b, "left_anti")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (the oracle-checked near-dup ground truth)
# ---------------------------------------------------------------------------

MAX_SHINGLE_DF = 64


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str,
                        max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via a shingle inverted index:
    explode → equi-join on shingle → per-pair common count → filter.
    One shuffle keyed on shingle; never a global cross join.

    Hot shingles are dropped before the self-join: a shingle shared by k
    documents emits k·(k-1)/2 candidate pairs, so an uncapped boilerplate
    shingle is a quadratic scale-killer on real corpora. Shingles with
    document frequency > ``max_df`` carry almost no Jaccard signal (they
    are corpus-wide boilerplate) and are excluded from ``common`` — the
    denominators keep the full per-doc shingle counts, so capping can only
    lower a pair's score (documented recall tradeoff; ``lsh_near_dup_pairs``
    is the production path for large corpora). The cap does not bind at the
    test scales (max observed df at sf0.01 is 4)."""
    # fan=False (r12 A/B, 18 shingle consumers, interleaved min-of-3 at
    # sf0.1): THIS consumer's explode lands in an eager build_once
    # whose write already spreads across cores, so the extra text-payload
    # exchange only costs here — and it costs again in every composite
    # that reuses this pair table (dedup_clusters/_star, cluster_report,
    # cluster_canonicals, dedup_savings_curve, jaccard_histogram,
    # dup_graph_degrees, minhash_estimate_error: -0.2..-0.6 s each).
    # The LSH/containment consumers keep the default fan=True (their
    # per-row loops are hotter and won the same A/B).
    docs = _with_shingles(load_table(spark, sf_dir, "documents"), fan=False)
    base = docs.where(F.size("shingles") > 0).select(
        "doc_id", "shingles", F.size("shingles").alias("n_sh")
    )
    # join on the JVM-native 64-bit hash of the shingle, not the string:
    # ~5× smaller shuffle payload at cluster scale, near-free to compute
    # (codegen'd xxhash64). The oracle joins on the exact string — results
    # agree unless a 64-bit collision lands inside one posting list
    # (probability ~n²/2⁶⁵; a collision would surface as an oracle FAIL).
    # Build the hashed index ONCE (build_once): the shingle
    # explode is the CPU-expensive step (per-position string builds +
    # array_distinct) and is consumed three times below (df aggregation
    # + both self-join sides). The checkpointed form is the compact
    # (doc_id, n_sh, hash) triple — 20 bytes/row in executor storage —
    # the classic build-the-index-then-query-it shape; without it
    # Catalyst re-derives the explode for every consumer.
    inv = build_once(
        base.select(
            "doc_id", "n_sh", F.explode("shingles").alias("sstr")
        )
        .select("doc_id", "n_sh", F.xxhash64("sstr").alias("s"))
    )
    # max-df filter: shingles are distinct per doc, so count(*) == doc
    # frequency. Anti-join against the HOT set (df > cap), not an inner
    # join with the kept set: hot shingles are few by construction
    # (≤ occurrences/cap distinct values), so AQE turns this into a
    # broadcast anti-join at runtime while the kept side would be the
    # full index.
    hot = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") > max_df
    )
    inv = inv.join(hot.select("s"), "s", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6)
    return (
        common.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_ORACLE = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
base AS (SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh
         WHERE len(shingles) > 0),
inv0 AS (SELECT doc_id, n_sh, unnest(shingles) AS s FROM base),
keep AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF}),
inv AS (SELECT inv0.* FROM inv0 JOIN keep USING (s)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS common
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b,
       round(common * 1.0 / (na + nb - common), 6) AS jaccard
FROM pairs
WHERE round(common * 1.0 / (na + nb - common), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# SimHash (oracle-checkable: per-bit votes over portable token hashes)
# ---------------------------------------------------------------------------

def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document: explode tokens, one conditional SUM per
    bit (Catalyst fuses all 60 into a single aggregation pass), recombine
    positive-vote bits into one bigint."""
    # fan_out (r12): the md5-per-token-occurrence loop below is the
    # query's cost and otherwise runs at scan parallelism (one task on
    # the single-row-group testdata file); keyed on doc_id so the vote
    # aggregation reuses the exchange
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = (
        docs.select("doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("t"))
        .select("doc_id", md5h("t").alias("h"))
    )
    votes = toks.groupBy("doc_id").agg(*[
        F.sum(
            F.when((F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ])
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("bigint") * (1 << b)).otherwise(0)
        sim = term if sim is None else (sim + term)
    return votes.select("doc_id", sim.alias("simhash")).orderBy("doc_id")


def _simhash_oracle() -> str:
    h = MD5H_SQL_TEMPLATE.format(expr="t")
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    recombine = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {h} AS h
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS t FROM documents)),
votes AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id)
SELECT doc_id, {recombine} AS simhash
FROM votes ORDER BY doc_id
"""


SIMHASH_ORACLE = _simhash_oracle()


# ---------------------------------------------------------------------------
# Near-dup cluster assignment (connected components over verified pairs)
# ---------------------------------------------------------------------------

def dedup_clusters(spark: SparkSession, sf_dir: str,
                   max_iter: int = 20) -> DataFrame:
    """Connected components over the exact near-dup pair graph: every doc
    gets ``cluster_id`` = min doc_id of its component (singletons cluster
    with themselves) plus the component size — the canonical post-LSH step
    that turns pairwise matches into keep/drop groups.

    Implementation is Pregel-style min-label propagation: per iteration,
    each vertex takes the min label over itself and its neighbors; stop
    when a fixpoint is reached (labels only decrease, so the global sum is
    a monotone convergence witness — one cheap aggregate per round, no
    row-level diff join). Iterations = graph diameter, and each round is
    one shuffle keyed on vertex — the scalable shape (alternating-star
    contraction would cut rounds to O(log n) if diameters grew).
    ``build_once`` truncates the lineage so the plan doesn't grow
    exponentially across rounds."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = build_once(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"),
                            F.col("doc_a").alias("dst")))
    )
    labels = build_once(
        edges.select(F.col("src").alias("v")).distinct()
        .select("v", F.col("v").alias("label"))
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.src == labels.v)
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = build_once(
            labels.join(nbr, labels.v == F.col("v2"), "left")
            .select(
                "v",
                F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
            )
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = (
        docs.join(labels, docs.doc_id == labels.v, "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("cluster_id"),
        )
    )
    from pyspark.sql import Window as W
    return (
        assigned.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(W.partitionBy("cluster_id")),
        )
        .orderBy("doc_id")
    )


def _cc_star(edges: DataFrame, max_iter: int = 15) -> tuple[DataFrame, int]:
    """Alternating-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): repeat large-star
    (hook every strictly-larger neighbor to the min of the closed
    neighborhood) then small-star (hook every smaller neighbor, and the
    node itself, to its min) until the edge set is a fixpoint. Converges
    in O(log n) rounds regardless of graph diameter — the upgrade over
    min-label propagation (O(diameter) rounds) for long-chain duplicate
    graphs. Each half-round is one shuffle keyed on vertex; the edge set
    only shrinks toward stars, and ``build_once`` truncates lineage
    per round.

    ``edges`` must be canonical undirected pairs ``(u, v)`` with
    ``u > v``. Returns ``(labels, rounds)`` where labels maps every
    non-root vertex to its component min; roots are absent (label =
    self for them).
    """
    edges = build_once(edges)

    def witness(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("c"),
            # XOR-fold, not sum: order-free and cannot overflow under ANSI
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["c"], row["h"])

    prev = witness(edges)
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # large-star: symmetrize, take m = min(closed neighborhood), and
        # re-point each strictly-larger neighbor v at m. Output is
        # (v, m) with v > u >= m, so canonical order is preserved.
        sym = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: on canonical edges every neighbor is smaller, so
        # m = min(neighbors); re-point the other neighbors and the
        # center itself at m. (v, m) keeps v > m, canonical again.
        mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(mins2.select("u", F.col("mn").alias("v")))
            .distinct()
        )
        edges = build_once(small)
        cur = witness(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # exhausting max_iter without the (count, xor-hash) witness
        # reaching a fixpoint means the edge set may not be stars yet —
        # labels below could be silently wrong, so say so loudly
        import warnings

        warnings.warn(
            f"_cc_star exited after max_iter={max_iter} rounds without "
            "reaching the alternating-star fixpoint; component labels "
            "may be incomplete — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    labels = edges.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias("v"), "label"
    )
    return labels, rounds


def dedup_clusters_star(spark: SparkSession, sf_dir: str,
                        max_iter: int = 15) -> DataFrame:
    """``dedup_clusters`` computed by alternating-star contraction instead
    of min-label propagation: identical output (cluster_id = component min
    doc_id + component size), O(log n) shuffle rounds instead of
    O(diameter) — the production path when duplicate chains are long
    (pairwise near-dup graphs of boilerplate families form paths, not
    cliques). Shares the recursive-CTE oracle with ``dedup_clusters``."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    labels, _ = _cc_star(edges, max_iter=max_iter)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = (
        docs.join(labels, docs.doc_id == labels.v, "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("cluster_id"),
        )
    )
    from pyspark.sql import Window as W
    return (
        assigned.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(W.partitionBy("cluster_id")),
        )
        .orderBy("doc_id")
    )


def _dedup_clusters_oracle() -> str:
    """Transitive closure via recursive CTE = the same fixpoint."""
    pairs_body = NGRAM_JACCARD_ORACLE.strip().removesuffix("ORDER BY doc_a, doc_b")
    return f"""
WITH RECURSIVE jp AS ({pairs_body}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
reach(v, l) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v
),
lab AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id,
       coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
       count(*) OVER (PARTITION BY coalesce(lab.cluster_id, d.doc_id))
         AS cluster_size
FROM documents d LEFT JOIN lab ON d.doc_id = lab.v
ORDER BY d.doc_id
"""


DEDUP_CLUSTERS_ORACLE = _dedup_clusters_oracle()


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------

BENCHMARK_MAX_ID = 20  # docs with doc_id < 20 stand in for the eval set


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report: for every training doc (doc_id >=
    BENCHMARK_MAX_ID), the number of distinct 4-gram shingles it shares
    with the benchmark proxy set (doc_id < BENCHMARK_MAX_ID) — the
    decontamination pass every eval-honest training pipeline runs.

    Scale shape: the benchmark shingle set is tiny and DISTINCT'd before
    a broadcast semi-style inner join on the 64-bit shingle hash; the
    corpus side streams through exploded once. Only contaminated docs are
    emitted (the report, not a full-corpus flag column)."""
    docs = _with_shingles(load_table(spark, sf_dir, "documents"))
    shingled = docs.where(F.size("shingles") > 0).select(
        "doc_id", F.explode("shingles").alias("sstr")
    ).select("doc_id", F.xxhash64("sstr").alias("s"))
    bench = (
        shingled.where(F.col("doc_id") < BENCHMARK_MAX_ID)
        .select("s").distinct()
    )
    return (
        shingled.where(F.col("doc_id") >= BENCHMARK_MAX_ID)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_hits"))
        .select("doc_id", "n_hits", (F.col("n_hits") >= 3).alias("flagged"))
        .orderBy("doc_id")
    )


DECONTAMINATE_ORACLE = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh
        WHERE len(shingles) > 0),
bench AS (SELECT DISTINCT s FROM inv WHERE doc_id < {BENCHMARK_MAX_ID})
SELECT doc_id, count(DISTINCT s) AS n_hits,
       count(DISTINCT s) >= 3 AS flagged
FROM inv JOIN bench USING (s)
WHERE doc_id >= {BENCHMARK_MAX_ID}
GROUP BY doc_id ORDER BY doc_id
"""


DEDUP_QUERIES = {
    "decontaminate": decontaminate,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_star": dedup_clusters_star,
    "dedup_exact": dedup_exact,
    "minhash_signatures": minhash_signatures,
    "lsh_near_dup_pairs": lsh_near_dup_pairs,
    "dedup_minhash_survivors": dedup_minhash_survivors,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "simhash": simhash,
}

def source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination report: for each (source, source) pair,
    how many verified near-duplicate document pairs span them — the
    governance view that tells a curation team which feeds are
    re-publishing each other before both get sampled into a mix.

    Composition: the exact near-dup pairs (inverted-index join) enriched
    with each side's source via two broadcast-able doc_id→source lookups,
    then a tiny (source, source) aggregate. Source pairs are emitted in
    canonical order (lexicographically smaller first) so A→B and B→A
    collapse into one row."""
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"),
                   F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"),
                   F.col("source").alias("src_b"))
    return (
        pairs.join(F.broadcast(a), "doc_a").join(F.broadcast(b), "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_1"),
            F.greatest("src_a", "src_b").alias("source_2"),
            "jaccard",
        )
        .groupBy("source_1", "source_2")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy(F.col("n_pairs").desc(), "source_1", "source_2")
    )


SOURCE_LEAKAGE_ORACLE = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
base AS (SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh
         WHERE len(shingles) > 0),
inv0 AS (SELECT doc_id, n_sh, unnest(shingles) AS s FROM base),
keep AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF}),
inv AS (SELECT inv0.* FROM inv0 JOIN keep USING (s)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS common
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
jac AS (
  SELECT doc_a, doc_b,
         round(common * 1.0 / (na + nb - common), 6) AS jaccard
  FROM pairs
  WHERE round(common * 1.0 / (na + nb - common), 6) >= {JACCARD_THRESHOLD}),
tagged AS (
  SELECT least(da.source, db.source) AS source_1,
         greatest(da.source, db.source) AS source_2,
         jaccard
  FROM jac
  JOIN documents da ON jac.doc_a = da.doc_id
  JOIN documents db ON jac.doc_b = db.doc_id)
SELECT source_1, source_2, count(*) AS n_pairs,
       round(max(jaccard), 6) AS max_jaccard
FROM tagged GROUP BY 1, 2
ORDER BY n_pairs DESC, source_1, source_2
"""


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional n-gram contamination score (the GPT-3-style overlap
    metric, finer than :func:`decontaminate`'s drop report): for EVERY
    training doc, the fraction of its distinct 4-gram shingles that also
    appear in the benchmark proxy set — zero-hit docs included, so the
    output is a full-corpus audit column, not just the flagged tail.

    Scale shape: identical to ``decontaminate`` — the tiny benchmark
    shingle set is DISTINCT'd and broadcast; the corpus streams through
    exploded once (shingles are already distinct per doc, so plain
    count/sum aggregates suffice, no countDistinct expand). One hash
    aggregate keyed on doc_id."""
    docs = _with_shingles(load_table(spark, sf_dir, "documents"))
    shingled = docs.where(F.size("shingles") > 0).select(
        "doc_id", F.explode("shingles").alias("sstr")
    ).select("doc_id", F.xxhash64("sstr").alias("s"))
    bench = (
        shingled.where(F.col("doc_id") < BENCHMARK_MAX_ID)
        .select("s").distinct().withColumn("hit", F.lit(1))
    )
    frac = F.col("n_hits") / F.col("n_shingles")
    return (
        shingled.where(F.col("doc_id") >= BENCHMARK_MAX_ID)
        .join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
        )
        .select(
            "doc_id", "n_shingles", "n_hits",
            F.round(frac, 6).alias("overlap_frac"),
            (frac >= 0.1).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_OVERLAP_ORACLE = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh
        WHERE len(shingles) > 0),
bench AS (SELECT DISTINCT s FROM inv WHERE doc_id < {BENCHMARK_MAX_ID}),
hits AS (
  SELECT i.doc_id,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits
  FROM inv i LEFT JOIN bench b USING (s)
  WHERE i.doc_id >= {BENCHMARK_MAX_ID}
  GROUP BY i.doc_id)
SELECT doc_id, n_shingles, n_hits,
       round(n_hits * 1.0 / n_shingles, 6) AS overlap_frac,
       n_hits * 1.0 / n_shingles >= 0.1 AS contaminated
FROM hits ORDER BY doc_id
"""


def _lsh_pairs_cte() -> str:
    """Shared CTE chain reproducing the full LSH pipeline in DuckDB:
    shingles → portable base hashes → K minhashes → banded buckets →
    candidate pairs → exact-Jaccard verification. Every step uses the
    same md5/xor-rotate family as the Spark side, so the 'probabilistic'
    candidate set is in fact deterministic and hash-checkable."""
    base = MD5H_SQL_TEMPLATE.format(expr="s")
    r = MINHASH_K // LSH_BANDS
    mh_defs = ",\n       ".join(
        f"list_min(list_transform(hs, h -> {_mix_expr('h', j, 'duck')})) AS mh{j}"
        for j in range(MINHASH_K)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {bh} AS bh FROM sig".format(
            b=b,
            bh=MD5H_SQL_TEMPLATE.format(
                expr="concat_ws(':', "
                + ", ".join(f"mh{b * r + i}" for i in range(r))
                + ")"
            ),
        )
        for b in range(LSH_BANDS)
    )
    return f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
hb AS (SELECT doc_id, shingles,
              list_transform(shingles, s -> {base}) AS hs
       FROM sh WHERE len(shingles) > 0),
sig AS (SELECT doc_id,
       {mh_defs}
       FROM hb),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM bands l JOIN bands r
           ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
verified AS (
  SELECT doc_a, doc_b,
         round(inter * 1.0 / (na + nb - inter), 6) AS jaccard
  FROM (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.shingles, b.shingles)) AS inter,
           len(a.shingles) AS na, len(b.shingles) AS nb
    FROM cand c
    JOIN hb a ON c.doc_a = a.doc_id
    JOIN hb b ON c.doc_b = b.doc_id)
  WHERE round(inter * 1.0 / (na + nb - inter), 6) >= {JACCARD_THRESHOLD})
"""


LSH_NEAR_DUP_PAIRS_ORACLE = (
    _lsh_pairs_cte()
    + "SELECT doc_a, doc_b, jaccard FROM verified ORDER BY doc_a, doc_b"
)

DEDUP_MINHASH_SURVIVORS_ORACLE = (
    _lsh_pairs_cte()
    + """SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM verified)
ORDER BY doc_id"""
)


DEDUP_ORACLES = {
    "decontaminate": DECONTAMINATE_ORACLE,
    "dedup_clusters": DEDUP_CLUSTERS_ORACLE,
    # same fixpoint, different contraction schedule -> same oracle
    "dedup_clusters_star": DEDUP_CLUSTERS_ORACLE,
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "minhash_signatures": MINHASH_SIGNATURES_ORACLE,
    "ngram_jaccard_pairs": NGRAM_JACCARD_ORACLE,
    "simhash": SIMHASH_ORACLE,
    # the LSH pipeline is deterministic (portable md5/xor-rotate family),
    # so even the 'probabilistic' candidate generation is hash-checkable
    "lsh_near_dup_pairs": LSH_NEAR_DUP_PAIRS_ORACLE,
    "dedup_minhash_survivors": DEDUP_MINHASH_SURVIVORS_ORACLE,
    "source_leakage": SOURCE_LEAKAGE_ORACLE,
    "contamination_overlap": CONTAMINATION_OVERLAP_ORACLE,
}

DEDUP_QUERIES["source_leakage"] = source_leakage
DEDUP_QUERIES["contamination_overlap"] = contamination_overlap


# ---------------------------------------------------------------------------
# LSH parameter sweep: empirical (bands, rows) tuning curve
# ---------------------------------------------------------------------------

#: (bands, rows_per_band) configurations over the K=8 signature
LSH_SWEEP_CONFIGS = ((8, 1), (4, 2), (2, 4), (1, 8))


def lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH tuning curve, MEASURED instead of estimated: for
    each (bands, rows-per-band) split of the K=8 signature, the
    candidate-pair count the banding pays for and the recall it
    achieves against the exact n-gram-Jaccard truth — the empirical
    version of the 1-(1-s^r)^b S-curve, computed on the corpus itself
    (which is how production pipelines actually pick b and r).

    Scale shape: signatures and the truth set are built ONCE
    (``build_once``); each configuration re-bands the tiny signature
    table (|docs|·b slim rows) and joins slim id pairs. More bands ⇒
    more candidates ⇒ recall can only rise — asserted in tests. The
    signature build, the truth build, and the per-config evaluations
    are independent DAGs with serial low-parallelism stages, so they
    run CONCURRENTLY from a driver thread pool (guide §2: overlap
    independent jobs); the rows list keeps the fixed config order."""
    from concurrent.futures import ThreadPoolExecutor

    def _build_sig():
        # the shingles have one consumer, the signature build, which is
        # itself built once: no build_once of their own
        docs = _with_shingles(load_table(spark, sf_dir, "documents"))
        return build_once(_signatures(docs))

    def _build_truth():
        truth = build_once(ngram_jaccard_pairs(spark, sf_dir).select(
            "doc_a", "doc_b"
        ))
        return truth, truth.count()

    def _eval_config(n_bands, r):
        cand = build_once(_lsh_candidates(with_sig, n_bands))
        n_cand = cand.count()
        n_hits = cand.join(truth, ["doc_a", "doc_b"]).count()
        # None (-> SQL NULL) when the corpus has no true near-dup pairs:
        # the DuckDB oracle's `// n_truth` yields NULL on a zero divisor,
        # and a fabricated 0 would mis-read as "measured zero recall"
        return (n_bands, r, n_cand, n_truth, n_hits,
                n_hits * 10000 // n_truth if n_truth else None)

    with ThreadPoolExecutor(
        max_workers=1 + len(LSH_SWEEP_CONFIGS)
    ) as pool:
        f_truth = pool.submit(_build_truth)
        with_sig = _build_sig()
        truth, n_truth = f_truth.result()
        rows = list(pool.map(
            lambda cfg: _eval_config(*cfg), LSH_SWEEP_CONFIGS
        ))
    return spark.createDataFrame(
        rows,
        "bands int, rows_per_band int, n_candidates bigint, "
        "n_truth bigint, n_hits bigint, recall_bp bigint",
    ).orderBy("bands")


def _lsh_sweep_oracle() -> str:
    base = MD5H_SQL_TEMPLATE.format(expr="s")
    mh_defs = ",\n       ".join(
        f"list_min(list_transform(hs, h -> {_mix_expr('h', j, 'duck')})) AS mh{j}"
        for j in range(MINHASH_K)
    )
    truth_body = NGRAM_JACCARD_ORACLE.strip().removesuffix(
        "ORDER BY doc_a, doc_b"
    )
    cfg_ctes, cfg_rows = [], []
    for n_bands, r in LSH_SWEEP_CONFIGS:
        band_selects = "\n  UNION ALL ".join(
            "SELECT doc_id, {b} AS band, {bh} AS bh FROM sig".format(
                b=b,
                bh=MD5H_SQL_TEMPLATE.format(
                    expr="concat_ws(':', "
                    + ", ".join(f"mh{b * r + i}" for i in range(r))
                    + ")"
                ),
            )
            for b in range(n_bands)
        )
        tag = f"c{n_bands}x{r}"
        cfg_ctes.append(f"""bands_{tag} AS ({band_selects}),
cand_{tag} AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands_{tag} l JOIN bands_{tag} r
    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)""")
        cfg_rows.append(f"""SELECT {n_bands} AS bands, {r} AS rows_per_band,
  (SELECT count(*) FROM cand_{tag}) AS n_candidates,
  (SELECT count(*) FROM truth) AS n_truth,
  (SELECT count(*) FROM cand_{tag} JOIN truth USING (doc_a, doc_b))
    AS n_hits""")
    ctes = ",\n".join(cfg_ctes)
    body = "\n  UNION ALL ".join(cfg_rows)
    return f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM tok),
hb AS (SELECT doc_id, shingles,
              list_transform(shingles, s -> {base}) AS hs
       FROM sh WHERE len(shingles) > 0),
sig AS (SELECT doc_id,
       {mh_defs}
       FROM hb),
truth AS (SELECT doc_a, doc_b FROM ({truth_body})),
{ctes},
stats AS (
  {body})
SELECT bands, rows_per_band,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits AS BIGINT) * 10000
         // CAST(n_truth AS BIGINT) AS recall_bp
FROM stats ORDER BY bands
"""


LSH_PARAM_SWEEP_ORACLE = _lsh_sweep_oracle()

DEDUP_QUERIES["lsh_param_sweep"] = lsh_param_sweep
DEDUP_ORACLES["lsh_param_sweep"] = LSH_PARAM_SWEEP_ORACLE


# ---------------------------------------------------------------------------
# Substring-level duplication audit (sliding token windows)
# ---------------------------------------------------------------------------

SPAN_K = 8  # tokens per window ~ the 50-token spans of the suffix-array
            # method, scaled to this corpus's ~30-token documents


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication report (the exact-substring dedup signal
    of Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", computed with hashed sliding windows instead of a suffix
    array): for every doc, the fraction of its ``SPAN_K``-token windows
    that occur verbatim in at least one OTHER document. Catches copied
    passages inside otherwise-distinct documents, which whole-doc
    fingerprints and shingle-Jaccard both dilute away.

    Scale shape: one explode pass (positions are generated row-local with
    ``sequence``/``slice``, all codegen), one hash aggregate on the 60-bit
    window hash to find cross-doc windows, and one shuffled equi-join back
    on that hash — linear in corpus size, never pairwise. A window
    repeated across k docs costs k join rows here (vs k² in pair
    generation), so no max-df cap is needed. Unlike a suffix array the
    window length is fixed, which is exactly what makes it a single
    data-parallel pass at 100 TB."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"), fan=True)
    wins = (
        docs.where(F.size("tokens") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(tokens) - {SPAN_K}), "
                    f"i -> array_join(slice(tokens, i + 1, {SPAN_K}), ' '))"
                )
            ).alias("g"),
        )
        .select("doc_id", md5h("g").alias("h"))
    )
    shared = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("dup"))
    )
    return (
        wins.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.coalesce(F.sum("dup"), F.lit(0)).alias("dup_windows"),
        )
        .select(
            "doc_id", "n_windows", "dup_windows",
            F.round(F.col("dup_windows") / F.col("n_windows"), 6)
            .alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


_SPAN_HASH_SQL = MD5H_SQL_TEMPLATE.format(
    expr=f"array_to_string(list_slice(tokens, i + 1, i + {SPAN_K}), ' ')"
)

DUPLICATE_SPANS_ORACLE = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
pos AS (SELECT doc_id, tokens,
               unnest(range(0, len(tokens) - {SPAN_K} + 1)) AS i
        FROM tok WHERE len(tokens) >= {SPAN_K}),
wins AS (SELECT doc_id, {_SPAN_HASH_SQL} AS h FROM pos),
shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
SELECT w.doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_windows,
       round(sum(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS dup_frac
FROM wins w LEFT JOIN shared s ON w.h = s.h
GROUP BY w.doc_id ORDER BY w.doc_id
"""

DEDUP_QUERIES["duplicate_spans"] = duplicate_spans
DEDUP_ORACLES["duplicate_spans"] = DUPLICATE_SPANS_ORACLE


def span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal action of exact-substring dedup (Lee et al. 2022):
    every ``SPAN_K``-token window that occurs in ≥2 documents is owned by
    its minimum doc_id; all its occurrences in OTHER docs are cut, and
    the cleaned text is rebuilt from the surviving tokens. Emits, per
    doc, the original/removed token counts and the cleaned text — the
    corpus one actually trains on, not just the audit column.

    Scale shape: every stage is keyed — window hashes aggregate to find
    owners (one shuffle), cut windows expand to covered token positions
    row-locally, and the cut/rebuild is an anti-join plus ordered
    re-aggregation all co-partitioned on doc_id. Duplicated volume, not
    corpus volume, drives the intermediate size; nothing is pairwise."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"), fan=True)
    wins = (
        docs.where(F.size("tokens") >= SPAN_K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(tokens) - {SPAN_K}), "
                    f"i -> array_join(slice(tokens, i + 1, {SPAN_K}), ' '))"
                )
            ).alias("p", "g"),
        )
        .select("doc_id", "p", md5h("g").alias("h"))
    )
    owners = wins.groupBy("h").agg(
        F.min("doc_id").alias("owner"),
        F.count_distinct("doc_id").alias("nd"),
    )
    covered = (
        wins.join(owners.where(F.col("nd") >= 2), "h")
        .where(F.col("doc_id") != F.col("owner"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(p, p + {SPAN_K} - 1)")).alias("t"),
        )
        .distinct()
    )
    toks = docs.select(
        "doc_id", F.posexplode("tokens").alias("t", "tok")
    )
    kept = (
        toks.join(covered, ["doc_id", "t"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(t, tok))), "
                       "s -> s.tok)"),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        docs.select("doc_id", F.size("tokens").alias("n_tokens"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


SPAN_DEDUP_CLEAN_ORACLE = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
pos AS (SELECT doc_id, tokens,
               unnest(range(0, len(tokens) - {SPAN_K} + 1)) AS i
        FROM tok WHERE len(tokens) >= {SPAN_K}),
wins AS (SELECT doc_id, i AS p, {_SPAN_HASH_SQL} AS h FROM pos),
own AS (SELECT h, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd
        FROM wins GROUP BY h),
bad AS (SELECT w.doc_id, w.p FROM wins w JOIN own o ON w.h = o.h
        WHERE o.nd >= 2 AND w.doc_id <> o.owner),
cov AS (SELECT DISTINCT doc_id, p + j AS t
        FROM bad, (SELECT unnest(range({SPAN_K})) AS j)),
tokse AS (SELECT doc_id, i AS t, tokens[i + 1] AS tok
          FROM (SELECT doc_id, tokens, unnest(range(0, len(tokens))) AS i
                FROM tok)),
kept AS (
  SELECT e.doc_id,
         count(*) AS n_kept,
         array_to_string(list(e.tok ORDER BY e.t), ' ') AS clean_text
  FROM tokse e LEFT JOIN cov c ON e.doc_id = c.doc_id AND e.t = c.t
  WHERE c.doc_id IS NULL
  GROUP BY e.doc_id)
SELECT d.doc_id,
       len(d.tokens) AS n_tokens,
       CAST(len(d.tokens) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(k.clean_text, '') AS clean_text
FROM tok d LEFT JOIN kept k ON d.doc_id = k.doc_id
ORDER BY d.doc_id
"""

DEDUP_QUERIES["span_dedup_clean"] = span_dedup_clean
DEDUP_ORACLES["span_dedup_clean"] = SPAN_DEDUP_CLEAN_ORACLE


def lsh_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: the newest ~20% of docs (ids above
    floor(0.8 * max doc_id), standing in for an arriving ingest batch)
    are checked against the LSH band index of the EXISTING corpus — the
    production online-ingest shape, where each new batch joins the
    historical index instead of re-running the full all-pairs pipeline.

    Scale shape: same signature computation as ``lsh_near_dup_pairs``,
    but the band join is new-side ⋈ old-side, so per-ingest cost is
    |batch| × bands probed against a prebuilt index (in a warehouse the
    old side's banded table is persisted and only appended to). Exact
    Jaccard verification touches only the surviving cross pairs."""
    docs = load_table(spark, sf_dir, "documents")
    thr_df = docs.agg(
        F.floor(F.max("doc_id") * 0.8).cast("long").alias("thr")
    )
    shingled = _shingle_index(docs)
    banded = _banded(_signatures(shingled)).crossJoin(F.broadcast(thr_df))
    new = banded.where(F.col("doc_id") > F.col("thr"))
    old = banded.where(F.col("doc_id") <= F.col("thr"))
    cand = (
        new.alias("n")
        .join(
            old.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bh") == F.col("o.bh")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("o.doc_id").alias("dup_of"),
        )
        .dropDuplicates(["new_doc", "dup_of"])
    )
    return _jaccard_verified(cand, shingled, "new_doc", "dup_of")


LSH_INCREMENTAL_PAIRS_ORACLE = (
    _lsh_pairs_cte()
    + """SELECT doc_b AS new_doc, doc_a AS dup_of, jaccard
FROM verified, (SELECT floor(max(doc_id) * 0.8) AS thr FROM documents)
WHERE doc_a <= thr AND doc_b > thr
ORDER BY new_doc, dup_of"""
)

DEDUP_QUERIES["lsh_incremental_pairs"] = lsh_incremental_pairs
DEDUP_ORACLES["lsh_incremental_pairs"] = LSH_INCREMENTAL_PAIRS_ORACLE


def cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance rollup of the near-dup cluster assignment: corpus size,
    clustered-doc count, number of multi-doc clusters, largest cluster,
    singleton count, and the duplicate mass (docs a keep-one-per-cluster
    policy would drop) — the one-row dashboard a curation team reads
    before approving a dedup pass.

    Scale shape: one aggregate over the cluster assignment (itself the
    O(log n)-round star contraction); the report is a single row."""
    assigned = dedup_clusters_star(spark, sf_dir)
    return assigned.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("cluster_size") > 1).cast("long")).alias("clustered_docs"),
        F.count_distinct(
            F.when(F.col("cluster_size") > 1, F.col("cluster_id"))
        ).alias("clusters_gt1"),
        F.max("cluster_size").alias("max_cluster"),
        F.sum((F.col("cluster_size") == 1).cast("long")).alias("singletons"),
        F.sum(
            (F.col("cluster_id") != F.col("doc_id")).cast("long")
        ).alias("dup_mass"),
    )


def _cluster_report_oracle() -> str:
    body = DEDUP_CLUSTERS_ORACLE.strip().removesuffix("ORDER BY d.doc_id")
    return f"""
WITH assigned AS ({body})
SELECT count(*) AS n_docs,
       CAST(sum(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS clustered_docs,
       count(DISTINCT CASE WHEN cluster_size > 1 THEN cluster_id END)
         AS clusters_gt1,
       max(cluster_size) AS max_cluster,
       CAST(sum(CASE WHEN cluster_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS singletons,
       CAST(sum(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_mass
FROM assigned
"""


CLUSTER_REPORT_ORACLE = _cluster_report_oracle()

DEDUP_QUERIES["cluster_report"] = cluster_report
DEDUP_ORACLES["cluster_report"] = CLUSTER_REPORT_ORACLE


def span_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level cross-source leakage: for each source pair, how
    many distinct 8-token windows appear verbatim in both feeds — the
    span-granularity twin of :func:`source_leakage`, catching feeds that
    re-publish passages inside otherwise-distinct documents (which
    whole-doc near-dup pairs miss).

    Scale shape: windows tagged with their source collapse to DISTINCT
    (source, window-hash) pairs first — one hash aggregate — so the
    per-hash source list is tiny (#sources, not #docs); the pair
    expansion joins those slim lists, never document rows."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"), fan=True)
    wins = (
        docs.where(F.size("tokens") >= SPAN_K)
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(tokens) - {SPAN_K}), "
                    f"i -> array_join(slice(tokens, i + 1, {SPAN_K}), ' '))"
                )
            ).alias("g"),
        )
        .select("source", md5h("g").alias("h"))
        .distinct()
    )
    return (
        wins.alias("a")
        .join(
            wins.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_1"),
            F.col("b.source").alias("source_2"),
        )
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .orderBy(F.col("shared_windows").desc(), "source_1", "source_2")
    )


SPAN_LEAKAGE_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, {TOKENS_SQL} AS tokens FROM documents),
pos AS (SELECT source, tokens,
               unnest(range(0, len(tokens) - {SPAN_K} + 1)) AS i
        FROM tok WHERE len(tokens) >= {SPAN_K}),
wins AS (SELECT DISTINCT source, {_SPAN_HASH_SQL} AS h FROM pos)
SELECT a.source AS source_1, b.source AS source_2,
       count(*) AS shared_windows
FROM wins a JOIN wins b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2
ORDER BY shared_windows DESC, source_1, source_2
"""

DEDUP_QUERIES["span_leakage"] = span_leakage
DEDUP_ORACLES["span_leakage"] = SPAN_LEAKAGE_ORACLE


# ---------------------------------------------------------------------------
# Edit-distance near-dup pairs (q-gram count filter + PPJoin prefix filter)
# ---------------------------------------------------------------------------

EDIT_PREFIX_LEN = 80   # compare the 80-char head (title/lead proxy)
EDIT_Q = 3             # q-gram width
EDIT_MAX_DIST = 8      # report pairs with levenshtein <= this
#: per-string q-gram count (strings are exactly EDIT_PREFIX_LEN chars)
_EDIT_GRAMS = EDIT_PREFIX_LEN - EDIT_Q + 1
#: Gravano et al. 2001 count-filter bound: lev(a,b) <= d implies the two
#: q-gram BAGS share >= L - q + 1 - q*d elements
_EDIT_OVERLAP_T = _EDIT_GRAMS - EDIT_Q * EDIT_MAX_DIST
#: PPJoin prefix size: sets with overlap >= T must collide within each
#: other's (|set| - T + 1) globally-rarest elements (Xiao et al. 2008)
_EDIT_PREFIX_K = _EDIT_GRAMS - _EDIT_OVERLAP_T + 1


def _edit_hist_classes() -> list[str]:
    """Partition printable ASCII (32..126) into 16 regex character
    classes by code%16 — the histogram alphabet for the verify-stage
    count-filter bound (see edit_distance_pairs). A partition is all
    the bound needs; characters outside 32..126 fall in no class and
    only weaken the L1 (never invalidate it)."""
    import re as _re

    return [
        "[" + "".join(
            _re.escape(chr(c)) for c in range(32, 127) if c % 16 == j
        ) + "]"
        for j in range(16)
    ]


_EDIT_HIST_CLASSES = _edit_hist_classes()


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by edit distance on the 80-char document
    head: every pair of docs whose heads are within ``EDIT_MAX_DIST``
    Levenshtein edits, with the exact distance. Docs shorter than 80
    chars are out of scope (the head IS the comparison key).

    Scale shape: PassJoin segment filtering (Li, Deng & Feng, 2011
    "PASS-JOIN: a partition-based method for similarity joins"). The
    head splits into d+1 = 9 contiguous segments; by pigeonhole, two
    heads within 8 edits share at least one segment VERBATIM, shifted
    by at most the net indel balance (|shift| <= d). So the probe side
    emits each segment window at every shift in [-8, 8] and candidacy
    is an EQUI-join on (segment#, 9-char piece) — exact mid-length
    string matches, which prune templated corpora ~16x harder than
    q-gram prefix filters (the r3 audit measured the previous
    PPJoin-prefix plan at 6.9M candidates / 482 s at sf0.1; this plan
    yields 434k candidates). Exact JVM levenshtein() confirms the
    survivors; no false negatives at any stage, so the all-pairs SQL
    oracle matches exactly."""
    n_seg = EDIT_MAX_DIST + 1
    base_ln = EDIT_PREFIX_LEN // n_seg  # 8
    # segment i: start 1 + i*(base_ln+1) for the longer segments first
    # layout 80 = 8*9 + 8: eight 9-char segments then one 8-char tail
    seg_rows = []
    pos = 1
    for i in range(n_seg):
        ln = 9 if i < 8 else 8
        seg_rows.append((i, pos, ln))
        pos += ln
    segs = spark.createDataFrame(seg_rows, "seg int, st int, ln int")
    # fan_out (r12): both probe sides below fan each head out ~9-150x
    # (segments x shifts) before their band join — single-task at scan
    # parallelism otherwise (single-row-group testdata file)
    docs = (
        fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
        .where(F.length("text") >= EDIT_PREFIX_LEN)
        .select(
            "doc_id",
            F.substring("text", 1, EDIT_PREFIX_LEN).alias("s"),
        )
    )
    # shuffled-hash for the band join (guide §3.1): both fanned probe
    # sides otherwise get range-SORTED for a sort-merge join, and the
    # shifted side is ~150 rows/doc — hashing the 9-rows/doc side skips
    # both sorts (r12 A/B, min of 4: 3.81 -> 3.51 s, identical rows)
    a = docs.crossJoin(F.broadcast(segs)).select(
        "doc_id", "seg", F.expr("substring(s, st, ln)").alias("piece")
    ).hint("shuffle_hash")
    shifts = spark.range(-EDIT_MAX_DIST, EDIT_MAX_DIST + 1).select(
        F.col("id").cast("int").alias("sh")
    )
    # multi-match-aware substring selection (PASS-JOIN §4.2): with equal
    # lengths, segment i (0-based) of a matching head can only sit
    # shifted by |sh| <= min(i, d-i) in the other head — fewer than i
    # edits before it or fewer than d-i after it would leave some other
    # segment untouched at a smaller shift first. Cuts the probe fan-out
    # from ~150 to 41 rows/doc with zero false negatives (brute-forced
    # over 13k random/adversarial pairs at d<=8 before adoption; the
    # oracle re-verified end-to-end at sf0.01/0.001).
    b = (
        docs.crossJoin(F.broadcast(segs))
        .crossJoin(F.broadcast(shifts))
        .where(
            (F.col("st") + F.col("sh") >= 1)
            & (F.col("st") + F.col("sh") + F.col("ln") - 1
               <= EDIT_PREFIX_LEN)
            & (F.abs("sh")
               <= F.least(F.col("seg"), F.lit(EDIT_MAX_DIST) - F.col("seg")))
        )
        .select(
            "doc_id", "seg",
            F.expr("substring(s, st + sh, ln)").alias("piece"),
        )
    )
    cand = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # character-class histogram lower bound (r12): partition printable
    # ASCII into 16 classes by code%16 and count each class per head
    # with one codegen'd regexp_replace (16 narrow int columns, no
    # arrays, no lambdas). Any single edit changes at most two class
    # counts by 1 each (a substitution leaves one class and enters
    # another; an indel touches one), so lev(a,b) >= L1(hist_a,
    # hist_b)/2 — chars outside the listed classes are simply
    # uncounted, which only SHRINKS L1 and keeps the bound valid. Pairs
    # with L1 > 2d provably exceed the distance cap and skip the banded
    # DP entirely (the CASE guard short-circuits levenshtein): at sf0.1
    # the bound kills 135.9k of 141.3k candidates (96 %), and the
    # templated survivors are the ones the exact verify must score
    # anyway. Interleaved min-of-4: 2.87 -> 1.79 s, identical rows.
    hist_cols = [
        (
            F.lit(EDIT_PREFIX_LEN)
            - F.length(F.regexp_replace("s", cls, ""))
        ).cast("int").alias(f"hc{j}")
        for j, cls in enumerate(_EDIT_HIST_CLASSES)
    ]
    dh = docs.select("doc_id", "s", *hist_cols)
    sa = dh.select(
        F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"),
        *[F.col(f"hc{j}").alias(f"ha{j}")
          for j in range(len(_EDIT_HIST_CLASSES))],
    )
    sb = dh.select(
        F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"),
        *[F.col(f"hc{j}").alias(f"hb{j}")
          for j in range(len(_EDIT_HIST_CLASSES))],
    )
    l1 = sum(
        F.abs(F.col(f"ha{j}") - F.col(f"hb{j}"))
        for j in range(len(_EDIT_HIST_CLASSES))
    )
    # banded verify: 3-arg levenshtein(sa, sb, d) runs the O(len*d)
    # diagonal-band DP and returns -1 past the bound instead of filling
    # the full O(len^2) table — exact distance for every pair the d<=8
    # filter keeps, so the result set is bit-identical while the verify
    # stage does ~len/(2d+1) ≈ 4.7x less DP work per candidate (measured
    # 25.5 s → 3.7 s end-to-end at sf0.1, where the 434k-candidate
    # verify dominated; the r12 optimization round's plan files hold the
    # before/after)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("_l1", l1)
        .withColumn(
            "dist",
            F.expr(
                f"CASE WHEN _l1 <= {2 * EDIT_MAX_DIST} "
                f"THEN levenshtein(sa, sb, {EDIT_MAX_DIST}) "
                "ELSE -1 END"
            ),
        )
        .where(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
        .orderBy("doc_a", "doc_b")
    )


EDIT_DISTANCE_PAIRS_ORACLE = f"""
WITH p AS (
  SELECT doc_id, substr(text, 1, {EDIT_PREFIX_LEN}) AS s
  FROM documents WHERE length(text) >= {EDIT_PREFIX_LEN})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.s, b.s) AS dist
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE levenshtein(a.s, b.s) <= {EDIT_MAX_DIST}
ORDER BY doc_a, doc_b
"""

DEDUP_QUERIES["edit_distance_pairs"] = edit_distance_pairs
DEDUP_ORACLES["edit_distance_pairs"] = EDIT_DISTANCE_PAIRS_ORACLE


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernandez & Stolfo 1995): candidate pairs
# ---------------------------------------------------------------------------

#: neighborhood window size w — each record pairs with the w-1 records
#: that follow it in normalized-key order
SNM_WINDOW = 4
#: normalized sort-key length (lowercased alphanumeric prefix)
SNM_KEY_LEN = 24
#: coarse bucket: a PREFIX of the sort key, so ordering by (bucket,
#: sortkey) equals ordering by sortkey and per-bucket ranks + offsets
#: compose into an exact global rank
SNM_BUCKET_LEN = 1


def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking: sort documents by a
    normalized key (lowercased alphanumeric prefix) and emit every pair
    within a sliding window of ``SNM_WINDOW`` positions — the classic
    merge/purge candidate generator (Hernandez & Stolfo, SIGMOD 1995)
    that complements the hash-based blockers (LSH / SimHash / q-gram):
    it catches near-dups whose edits fall OUTSIDE any fixed hash block
    but preserve the sort prefix.

    Scale shape: a global total order without a global window. Rank is
    computed TWO-PHASE like ``cumulative_counts`` — row_number within
    key-prefix buckets (parallel) plus per-bucket offsets from a tiny
    prefix-summed bucket-count table (|alphabet| rows, broadcast back).
    The neighborhood join is then w-1 rank-shifted EQUI-joins (explode
    of the gap distances), so cross-bucket neighbor pairs fall out of
    the global rank for free — no single-partition window, no range
    join, and the shuffled payload is (rank, doc_id, key), ~40 B/row.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    keyed = (
        docs.select(
            "doc_id",
            F.substring(
                F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""),
                1,
                SNM_KEY_LEN,
            ).alias("sortkey"),
        )
        # a NULL-text row has no derivable sort key and cannot be
        # positioned in the neighborhood order — it is excluded from
        # the blocking pass entirely (pinned in the oracle's WHERE;
        # before this filter NULL keys silently fell out of the bucket
        # equi-join while the oracle ranked them NULLS LAST, r9 sweep)
        .where(F.col("sortkey").isNotNull())
        .withColumn("bkt", F.substring("sortkey", 1, SNM_BUCKET_LEN))
    )
    bkt_counts = keyed.groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt"))
    wb = (
        W.partitionBy()
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # the offsets table is |alphabet| rows — the single-partition window
    # runs over ≤37 rows, then broadcasts
    offsets = bkt_counts.select(
        "bkt", F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("off")
    )
    wr = W.partitionBy("bkt").orderBy("sortkey", "doc_id")
    ranked = (
        keyed.withColumn("rn_in", F.row_number().over(wr))
        .join(F.broadcast(offsets), "bkt")
        .select(
            (F.col("off") + F.col("rn_in")).alias("rn"),
            "doc_id",
            "sortkey",
        )
    )
    gaps = F.array([F.lit(i) for i in range(1, SNM_WINDOW)])
    a = (
        ranked.select(
            "rn",
            F.col("doc_id").alias("doc_a"),
            F.col("sortkey").alias("key_a"),
        )
        .withColumn("gap", F.explode(gaps))
        .withColumn("rn_b", F.col("rn") + F.col("gap"))
    )
    b = ranked.select(
        F.col("rn").alias("rn_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("sortkey").alias("key_b"),
    )
    return (
        a.join(b, "rn_b")
        .select(
            "doc_a", "doc_b", F.col("gap").cast("int").alias("gap"),
            "key_a", "key_b",
        )
        .orderBy("doc_a", "doc_b")
    )


SNM_CANDIDATE_PAIRS_ORACLE = f"""
WITH k AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, {SNM_KEY_LEN}) AS sortkey
  FROM documents
  WHERE text IS NOT NULL),
r AS (
  SELECT doc_id, sortkey,
         row_number() OVER (ORDER BY sortkey, doc_id) AS rn
  FROM k)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(b.rn - a.rn AS INTEGER) AS gap,
       a.sortkey AS key_a, b.sortkey AS key_b
FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND {SNM_WINDOW - 1}
ORDER BY doc_a, doc_b
"""

DEDUP_QUERIES["snm_candidate_pairs"] = snm_candidate_pairs
DEDUP_ORACLES["snm_candidate_pairs"] = SNM_CANDIDATE_PAIRS_ORACLE


# ---------------------------------------------------------------------------
# Dedup cascade: exact → MinHash-LSH near-dup, with per-stage accounting
# ---------------------------------------------------------------------------

def dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline accounting — the per-stage drop report
    every production cleaning run publishes: stage 1 collapses exact
    duplicates (normalized-md5 keep-first), stage 2 drops stage-1
    survivors that have a verified MinHash-LSH near-duplicate with a
    smaller SURVIVING doc_id (the repo's keep-first convention). One row
    per stage with docs_in / docs_out / dropped.

    Scale shape: pure composition of the already-scale-shaped stages
    (hash agg; slim banded LSH join) plus two semi-join accountings —
    no new shuffle patterns; the report itself is three one-row
    aggregates unioned."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # keepers feeds one count and two semi-join sides; pairs feeds a
    # count-bearing join — checkpoint both slim tables so the md5 scan
    # and the LSH banding run once each (14 s -> ~8 s at sf0.1). The
    # three independent materializations (total count, exact-dedup
    # keepers, LSH pairs) overlap on a driver thread pool (guide §2).
    from concurrent.futures import ThreadPoolExecutor

    def _keepers():
        k = build_once(
            dedup_exact(spark, sf_dir)
            .select(F.col("keeper_doc_id").alias("doc_id"))
        )
        return k, k.count()

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_total = pool.submit(docs.count)
        f_keep = pool.submit(_keepers)
        pairs = build_once(
            lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
        )
        n_total = f_total.result()
        keepers, n_keep1 = f_keep.result()
    ka = keepers.select(F.col("doc_id").alias("doc_a"))
    kb = keepers.select(F.col("doc_id").alias("doc_b"))
    dropped2 = (
        pairs.join(ka, "doc_a").join(kb, "doc_b")
        .select("doc_b").distinct()
    )
    n_drop2 = dropped2.count()
    rows = [
        ("01_input", n_total, n_total, 0),
        ("02_exact_dedup", n_total, n_keep1, n_total - n_keep1),
        ("03_near_dedup", n_keep1, n_keep1 - n_drop2, n_drop2),
    ]
    return spark.createDataFrame(
        rows, "stage string, docs_in bigint, docs_out bigint, dropped bigint"
    ).orderBy("stage")


def _dedup_cascade_oracle() -> str:
    lsh = LSH_NEAR_DUP_PAIRS_ORACLE
    return rf"""
WITH total AS (SELECT count(*) AS n FROM documents),
keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
k1 AS (SELECT count(*) AS n FROM keepers),
p AS (SELECT doc_a, doc_b FROM ({lsh})),
drop2 AS (
  SELECT count(DISTINCT p.doc_b) AS n
  FROM p
  JOIN keepers ka ON p.doc_a = ka.doc_id
  JOIN keepers kb ON p.doc_b = kb.doc_id)
SELECT * FROM (
  SELECT '01_input' AS stage, total.n AS docs_in, total.n AS docs_out,
         CAST(0 AS BIGINT) AS dropped FROM total
  UNION ALL
  SELECT '02_exact_dedup', total.n, k1.n, total.n - k1.n
  FROM total CROSS JOIN k1
  UNION ALL
  SELECT '03_near_dedup', k1.n, k1.n - drop2.n, drop2.n
  FROM k1 CROSS JOIN drop2)
ORDER BY stage
"""


DEDUP_CASCADE_REPORT_ORACLE = _dedup_cascade_oracle()

DEDUP_QUERIES["dedup_cascade_report"] = dedup_cascade_report
DEDUP_ORACLES["dedup_cascade_report"] = DEDUP_CASCADE_REPORT_ORACLE


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup: rolling-hash boundaries
# ---------------------------------------------------------------------------

CDC_GRAM = 8        # boundary test window
CDC_DIVISOR = 64    # expected chunk length ~ divisor chars


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-style deduplication via content-defined chunking (the
    LBFS/FastCDC family, Muthitacharoen et al. 2001): chunk boundaries
    fall where the hash of the local ``CDC_GRAM``-char window hits a
    residue class — so an insertion early in a document shifts only the
    chunk it lands in, not every boundary after it (the property
    fixed-size blocks lack). Chunks shared across documents are the
    dedup'able mass; the per-document report counts chunks, duplicated
    chunks, and duplicated characters.

    Scale shape: boundary detection is an explode over character
    positions with a row-local portable hash (one shuffle keyed on
    doc_id reassembles ordered boundary lists); chunk-level dedup is a
    hash aggregate on the chunk fingerprint — identical in shape to
    ``duplicate_spans``'s inverted index, at storage-block granularity."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("len")
    )
    # fan_out (r12): boundary detection runs one md5 per CHARACTER
    # position — by far the heaviest row-local loop in the dedup family
    # — and otherwise runs at scan parallelism (one task on the
    # single-row-group testdata file). Fanned INSIDE this branch only:
    # fanning the shared ``docs`` made all three union branches below
    # identically hash-partitioned, and Spark 4.1.2 then elided the
    # exchange the distinct+window need — which is sound standalone but
    # silently mis-merged partitions once exchange REUSE rewrote the
    # branches (result went 500 -> 391 rows; correct again with
    # spark.sql.exchange.reuse=false). See the fan_out docstring for
    # the hazard statement; tests/test_fan_out_and_chunks.py pins it.
    bounds = (
        fan_out(docs, "doc_id").select(
            "doc_id", "len",
            F.explode(
                F.expr(f"sequence(1, greatest(len - {CDC_GRAM} + 1, 1))")
            ).alias("pos"),
        )
        .where(
            F.expr(
                f"cast(conv(substring(md5(substring(text, pos, "
                f"{CDC_GRAM})), 1, 15), 16, 10) as bigint) "
                f"% {CDC_DIVISOR}"
            )
            == 0
        )
        .select("doc_id", (F.col("pos") + CDC_GRAM - 1).alias("cut"))
    )
    # chunk edges: 0, each cut, len — lag gives (from, to] substrings
    edges = (
        docs.select("doc_id", F.lit(0).alias("cut"))
        .unionByName(bounds)
        .unionByName(docs.select("doc_id", F.col("len").alias("cut")))
        .distinct()
    )
    w = W.partitionBy("doc_id").orderBy("cut")
    chunks = (
        edges.withColumn("prev", F.lag("cut").over(w))
        .where(F.col("prev").isNotNull() & (F.col("cut") > F.col("prev")))
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.expr("substring(text, prev + 1, cut - prev)").alias("chunk"),
        )
        .select(
            "doc_id",
            F.length("chunk").alias("chars"),
            F.md5("chunk").alias("fp"),
        )
    )
    fp_docs = chunks.groupBy("fp").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(F.broadcast(fp_docs), "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_dup_chunks"),
            F.sum(
                F.when(F.col("n_docs") > 1, F.col("chars")).otherwise(0)
            ).alias("dup_chars"),
        )
        .orderBy("doc_id")
    )


CDC_CHUNK_DEDUP_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS len FROM documents),
bounds AS (
  SELECT doc_id, pos + {CDC_GRAM} - 1 AS cut
  FROM d
  CROSS JOIN LATERAL (
    SELECT unnest(range(1, greatest(len - {CDC_GRAM} + 1, 1) + 1)) AS pos)
  WHERE ('0x' || substr(md5(substr(text, CAST(pos AS INTEGER),
                                   {CDC_GRAM})), 1, 15))::BIGINT
        % {CDC_DIVISOR} = 0),
edges AS (
  SELECT DISTINCT doc_id, cut FROM (
    SELECT doc_id, 0 AS cut FROM d
    UNION ALL SELECT doc_id, cut FROM bounds
    UNION ALL SELECT doc_id, len FROM d)),
chunks AS (
  SELECT e.doc_id,
         length(substr(d.text, prev + 1, cut - prev)) AS chars,
         md5(substr(d.text, prev + 1, cut - prev)) AS fp
  FROM (
    SELECT doc_id, cut,
           lag(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS prev
    FROM edges) e
  JOIN d ON d.doc_id = e.doc_id
  WHERE prev IS NOT NULL AND cut > prev),
fp_docs AS (
  SELECT fp, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY fp)
SELECT c.doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(sum(CASE WHEN f.n_docs > 1 THEN c.chars ELSE 0 END) AS BIGINT)
         AS dup_chars
FROM chunks c JOIN fp_docs f USING (fp)
GROUP BY c.doc_id
ORDER BY c.doc_id
"""

DEDUP_QUERIES["cdc_chunk_dedup"] = cdc_chunk_dedup
DEDUP_ORACLES["cdc_chunk_dedup"] = CDC_CHUNK_DEDUP_ORACLE


# ---------------------------------------------------------------------------
# Blocking-recall evaluation: every candidate generator vs the exact truth
# ---------------------------------------------------------------------------

def blocking_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocker-evaluation-as-a-query: each candidate generator (MinHash-
    LSH banding, sorted-neighborhood, PassJoin edit-distance) measured
    against the EXACT n-gram-Jaccard near-dup pairs — per blocker: how
    many candidates it pays for and how many true pairs it recovers.
    The standard entity-resolution blocking scorecard (pairs
    completeness vs reduction), computed relationally so evaluating a
    blocker costs one equi-join of result sets.

    Scale shape: each branch is an existing scale-shaped query; the
    comparison joins slim (doc_a, doc_b) id pairs only. The four
    branches (truth + 3 blockers) are INDEPENDENT DAGs, each with
    serial low-parallelism stages, so they materialize CONCURRENTLY
    from a driver thread pool (guide §2: fill idle executor slots by
    overlapping independent jobs) — same frames, same counts, the rows
    list keeps the fixed blocker order."""
    from concurrent.futures import ThreadPoolExecutor

    def _mat(build):
        df = build_once(build().select("doc_a", "doc_b"))
        return df, df.count()

    blocker_builds = [
        ("lsh_bands", lambda: lsh_near_dup_pairs(spark, sf_dir)),
        ("sorted_neighborhood", lambda: snm_candidate_pairs(spark, sf_dir)),
        ("passjoin_edit", lambda: edit_distance_pairs(spark, sf_dir)),
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_truth = pool.submit(
            _mat, lambda: ngram_jaccard_pairs(spark, sf_dir))
        f_cands = [(name, pool.submit(_mat, build))
                   for name, build in blocker_builds]
        truth, n_truth = f_truth.result()
        blockers = [(name, f.result()) for name, f in f_cands]
    def round6_half_away(x: float) -> float:
        # DuckDB round() replica for NON-NEGATIVE inputs (recall
        # ratios in [0, 1] — the floor-based formula would round
        # negative halves toward +inf, not away from zero; ADVICE r8):
        # scale to 6 dp and round half UP on the binary value. Python's
        # round is banker's — it sent the dyadic 234/256 (= 0.9140625
        # exactly) DOWN to 0.914062 while DuckDB rounds it up (sf0.1
        # sweep find). The floor-compare runs on the same double the
        # oracle rounds, so every edge agrees.
        assert x >= 0.0, "half-away replica only valid for x >= 0"
        s = x * 1000000.0
        f = math.floor(s)
        return (f + 1 if s - f >= 0.5 else f) / 1000000.0

    rows = []
    for name, (cand, n_cand) in blockers:
        n_hit = cand.join(truth, ["doc_a", "doc_b"]).count()
        rows.append((name, n_cand, n_truth, n_hit,
                     round6_half_away(n_hit / n_truth) if n_truth else 0.0))
    return spark.createDataFrame(
        rows,
        "blocker string, n_candidates bigint, n_truth bigint, "
        "n_hits bigint, recall double",
    ).orderBy("blocker")


def _blocking_recall_oracle() -> str:
    def pairs(sql: str) -> str:
        return f"SELECT doc_a, doc_b FROM ({sql})"

    return f"""
WITH truth AS ({pairs(NGRAM_JACCARD_ORACLE)}),
nt AS (SELECT count(*) AS n FROM truth),
b_lsh AS ({pairs(LSH_NEAR_DUP_PAIRS_ORACLE)}),
b_snm AS ({pairs(SNM_CANDIDATE_PAIRS_ORACLE)}),
b_edit AS ({pairs(EDIT_DISTANCE_PAIRS_ORACLE)}),
stats AS (
  SELECT 'lsh_bands' AS blocker,
         (SELECT count(*) FROM b_lsh) AS n_candidates,
         (SELECT count(*) FROM b_lsh JOIN truth USING (doc_a, doc_b))
           AS n_hits
  UNION ALL
  SELECT 'sorted_neighborhood',
         (SELECT count(*) FROM b_snm),
         (SELECT count(*) FROM b_snm JOIN truth USING (doc_a, doc_b))
  UNION ALL
  SELECT 'passjoin_edit',
         (SELECT count(*) FROM b_edit),
         (SELECT count(*) FROM b_edit JOIN truth USING (doc_a, doc_b)))
SELECT blocker, n_candidates, nt.n AS n_truth, n_hits,
       round(CASE WHEN nt.n > 0
                  THEN n_hits / CAST(nt.n AS DOUBLE) ELSE 0.0 END, 6)
         AS recall
FROM stats CROSS JOIN nt
ORDER BY blocker
"""


BLOCKING_RECALL_EVAL_ORACLE = _blocking_recall_oracle()

DEDUP_QUERIES["blocking_recall_eval"] = blocking_recall_eval
DEDUP_ORACLES["blocking_recall_eval"] = BLOCKING_RECALL_EVAL_ORACLE


# ---------------------------------------------------------------------------
# MinHash estimator accuracy: signature-agreement Jaccard vs exact
# ---------------------------------------------------------------------------

def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality measurement for the MinHash family: for every
    true near-dup pair, the Jaccard estimated from K-signature agreement
    (share of agreeing minima — the unbiased MinHash estimator, Broder
    1997) against the exact n-gram Jaccard, with the absolute error.
    This is the calibration evidence behind choosing K: E[err] ~
    sqrt(J(1-J)/K).

    Scale shape: the pair set is the already-bounded near-dup output
    (broadcast), signatures attach via two joins against the
    doc-cardinality signature table; everything integer millionths."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b",
        F.expr("cast(round(jaccard * 1000000) as bigint)")
        .alias("true_milli"),
    )
    sig = minhash_signatures(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(MINHASH_K)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(MINHASH_K)],
    )
    agree = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("long")
        for j in range(MINHASH_K)
    )
    return (
        F.broadcast(pairs)
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b", "true_milli",
            (agree * 1_000_000 / MINHASH_K).cast("long")
            .alias("est_milli"),
        )
        .select(
            "doc_a", "doc_b", "true_milli", "est_milli",
            F.abs(F.col("est_milli") - F.col("true_milli"))
            .alias("abs_err_milli"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _minhash_estimate_error_oracle() -> str:
    pairs_body = NGRAM_JACCARD_ORACLE.strip().removesuffix(
        "ORDER BY doc_a, doc_b"
    )
    base = MD5H_SQL_TEMPLATE.format(expr="s")
    mh_defs = ",\n       ".join(
        f"list_min(list_transform(hs, h -> {_mix_expr('h', j, 'duck')})) AS mh{j}"
        for j in range(MINHASH_K)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END"
        for j in range(MINHASH_K)
    )
    return f"""
WITH truth AS ({pairs_body}),
hb AS (SELECT doc_id, shingles,
              list_transform(shingles, s -> {base}) AS hs
       FROM (SELECT doc_id, {_SHINGLES_SQL} AS shingles
             FROM (SELECT doc_id, {TOKENS_SQL} AS tokens
                   FROM documents) tok) sh2),
sig AS (SELECT doc_id, {mh_defs} FROM hb WHERE len(shingles) > 0)
SELECT t.doc_a, t.doc_b,
       CAST(round(t.jaccard * 1000000) AS BIGINT) AS true_milli,
       CAST(({agree}) * 1000000 // {MINHASH_K} AS BIGINT) AS est_milli,
       abs(CAST(({agree}) * 1000000 // {MINHASH_K} AS BIGINT)
           - CAST(round(t.jaccard * 1000000) AS BIGINT)) AS abs_err_milli
FROM truth t
JOIN sig sa ON t.doc_a = sa.doc_id
JOIN sig sb ON t.doc_b = sb.doc_id
ORDER BY t.doc_a, t.doc_b
"""


MINHASH_ESTIMATE_ERROR_ORACLE = _minhash_estimate_error_oracle()

DEDUP_QUERIES["minhash_estimate_error"] = minhash_estimate_error
DEDUP_ORACLES["minhash_estimate_error"] = MINHASH_ESTIMATE_ERROR_ORACLE


# ---------------------------------------------------------------------------
# Template/boilerplate shingles: high source-spread n-grams
# ---------------------------------------------------------------------------

#: a shingle counts as template text when it appears in at least this
#: many distinct sources (the synthetic corpus's 4-gram spread tops out
#: at 4 of the 20 sources; real web corpora see hundreds)
TEMPLATE_MIN_SOURCES = 3
TEMPLATE_TOP_K = 50


def template_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detector: the 4-gram shingles with the widest
    SOURCE spread — text repeated across many independent sources is
    template/boilerplate (nav chrome, license headers, scraper
    artifacts), the stuff corpus curation strips before near-dup
    scoring (CCNet/RefinedWeb-style line-dedup generalized to
    shingles). Complements the within-corpus df-cap
    (:data:`MAX_SHINGLE_DF` in the LSH path): that cap bounds join
    fan-out, this op REPORTS the offenders with their spread.

    Scale shape: one explode to the (doc, shingle) inverted index, one
    shingle-keyed aggregate with two distinct counts (map-side
    partial), a threshold filter, and a TakeOrdered(50) cut — the
    linear inverted-index shape, no pairwise anything."""
    docs = _with_shingles(load_table(spark, sf_dir, "documents"))
    inv = docs.select(
        "doc_id", "source", F.explode("shingles").alias("s")
    )
    stats = inv.groupBy("s").agg(
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        stats.where(F.col("n_sources") >= TEMPLATE_MIN_SOURCES)
        .select(F.col("s").alias("shingle"), "n_sources", "n_docs")
        .orderBy(
            F.col("n_sources").desc(), F.col("n_docs").desc(), "shingle"
        )
        .limit(TEMPLATE_TOP_K)
    )


TEMPLATE_SHINGLES_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, {TOKENS_SQL} AS tokens
             FROM documents),
sh AS (SELECT doc_id, source, {_SHINGLES_SQL} AS shingles FROM tok),
inv AS (SELECT doc_id, source, unnest(shingles) AS s FROM sh),
stats AS (
  SELECT s AS shingle,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM inv GROUP BY s)
SELECT shingle, n_sources, n_docs
FROM stats WHERE n_sources >= {TEMPLATE_MIN_SOURCES}
ORDER BY n_sources DESC, n_docs DESC, shingle
LIMIT {TEMPLATE_TOP_K}
"""


DEDUP_QUERIES["template_shingles"] = template_shingles
DEDUP_ORACLES["template_shingles"] = TEMPLATE_SHINGLES_ORACLE
