"""One runner for every registry sweep.

A sweep runs every ``queries()`` entry (or the named subset) once per
pass and checks each result against a reference:

- the DuckDB oracle: ``oracle_sql()`` over the same input dir, compared
  with the gate's rules (sorted columns, order-insensitive rows,
  9 dp float fold, canonical dtypes). Modes ``oracle`` (the input as
  is) and the input-dir tiers ``empty``, ``one_row``, ``nulls``,
  ``skew`` and ``skew90``. Queries without an oracle run rows-only
  (they must not raise).
- a Spark reference pass, compared query for query with the same rules
  on the raw Spark dtypes. Modes ``determinism`` (shuffle partitions
  32 vs 17), ``config`` (AQE off, ANSI off) and ``order`` (every table
  row-permuted with seed 777).

``time`` is the same loop into the noop sink: two runs per query, the
min is reported. Every mode writes its result as JSON to ``--out``.

Usage:
    python tools/sweep.py MODE SF_DIR [QUERY ...] [--out PATH]
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile
import time

import duckdb
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from spark_streaming_testbed_spark.session import (  # noqa: E402
    TABLES,
    conf_override,
    get_session,
)

# --- one query, its oracle, and how two results compare ---------------


@dataclasses.dataclass
class Run:
    """One query result. ``rows`` is None for the noop sink; ``error``
    holds the exception text when the query raised."""

    cols: list[str] = dataclasses.field(default_factory=list)
    dtypes: list[str] = dataclasses.field(default_factory=list)
    rows: list[tuple] | None = None
    wall_s: float = 0.0
    error: str | None = None


def run_query(spark, fn, sf_dir: str, noop: bool = False) -> Run:
    """Build and run one registry query: collect it, or write it to the
    noop sink, timing build plus execution."""
    t0 = time.perf_counter()
    try:
        sdf = fn(spark, sf_dir)
        if noop:
            sdf.write.format("noop").mode("overwrite").save()
            rows = None
        else:
            rows = [tuple(r) for r in sdf.collect()]
        dtypes = [f.dataType.simpleString() for f in sdf.schema.fields]
    except Exception as e:  # noqa: BLE001 - recorded, the sweep goes on
        return Run(wall_s=round(time.perf_counter() - t0, 3),
                   error=f"{type(e).__name__}: {str(e)[:300]}")
    return Run(sdf.columns, dtypes, rows, round(time.perf_counter() - t0, 3))


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per registry table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def run_oracle(con, sql: str) -> Run:
    """Run an oracle query on DuckDB; dtypes come out canonicalized."""
    try:
        table = con.execute(sql).arrow()
    except Exception as e:  # noqa: BLE001 - recorded, the sweep goes on
        return Run(error=f"{type(e).__name__}: {str(e)[:300]}")
    cols = table.schema.names
    return Run(cols, [_canon_arrow_type(f.type) for f in table.schema],
               [tuple(row[c] for c in cols) for row in table.to_pylist()])


def _canon_spark_type(dt: str) -> str:
    """Canonicalize a Spark simpleString dtype for cross-engine comparison."""
    dt = dt.lower()
    # Int widths collapse to one class: the driver's hash passed queries
    # with i32-vs-i64 skew in round 1 (tpch_q7/q8/q9, topk_per_group), so
    # only representation-changing skews (HUGEINT->Decimal, float-vs-int)
    # should fail the local gate.
    m = {
        "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
        "bigint": "int", "long": "int", "float": "f32", "double": "f64",
        "string": "str", "boolean": "bool", "date": "date", "binary": "bin",
    }
    if dt in m:
        return m[dt]
    if dt.startswith("decimal"):
        return dt.replace(" ", "")
    if dt.startswith("timestamp"):
        return "ts"
    if dt.startswith("array<"):
        return "array<" + _canon_spark_type(dt[6:-1]) + ">"
    return dt


def _canon_arrow_type(t) -> str:
    """Canonicalize a pyarrow DataType (DuckDB result) the same way."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_float32(t):
        return "f32"
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "array<" + _canon_arrow_type(t.value_type) + ">"
    return str(t)


def canonical(run: Run) -> Run:
    """The Spark run with its dtypes in the oracle's canonical classes."""
    return dataclasses.replace(
        run, dtypes=[_canon_spark_type(t) for t in run.dtypes])


def type_mismatches(a: Run, b: Run) -> list[str]:
    """Columns of both runs, matched by name, whose dtypes differ.

    The driver's value hash is type-sensitive (DuckDB HUGEINT vs Spark
    BIGINT hash differently even when values are equal), so the gate
    must compare declared types, not Python reprs."""
    a_types = dict(zip(a.cols, a.dtypes))
    return [
        f"dtype {c}: {a_types[c]} != {t}"
        for c, t in zip(b.cols, b.dtypes)
        if c in a_types and a_types[c] != t
    ]


def normalize(rows, cols):
    """Sort columns by name, then rows; normalize floats/None.

    List cells canonicalize to tuples so array-valued columns sort and
    hash (the driver's pandas canonicalizer dies on them — registry
    convention is to emit comma-joined strings instead — but the local
    gate should report a value diff, not crash, if one slips in)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, (list, tuple)):
            return tuple(canon(x) for x in v)
        return v

    out = []
    for r in rows:
        out.append(tuple(repr(canon(r[i])) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def compare(a: Run, b: Run) -> list[str]:
    """Every way *b* differs from *a*: dtypes, row count, sorted column
    names and, when those agree, the normalized values. An empty list
    is a match."""
    status = type_mismatches(a, b)
    if len(a.rows) != len(b.rows):
        status.append(f"rowcount {len(a.rows)} != {len(b.rows)}")
    a_cols, a_norm = normalize(a.rows, a.cols)
    b_cols, b_norm = normalize(b.rows, b.cols)
    if a_cols != b_cols:
        status.append(f"cols {a_cols} != {b_cols}")
    if not status and a_norm != b_norm:
        diffs = [(x, y) for x, y in zip(a_norm, b_norm) if x != y][:3]
        status.append(f"values differ, first diffs: {diffs}")
    return status


def digest(run: Run) -> str:
    """Row count plus sha256 over the sorted column names, the dtypes in
    column order and the normalized rows. The schema participates: a
    variant that flips a dtype (e.g. decimal widening under ANSI) is a
    finding even when the printed values round the same."""
    if run.error:
        return f"ERROR: {run.error[:200]}"
    _, norm = normalize(run.rows, run.cols)
    h = hashlib.sha256()
    h.update(repr(sorted(run.cols)).encode())
    h.update(";".join(run.dtypes).encode())
    for r in norm:
        h.update(repr(r).encode())
    return f"{len(run.rows)}:{h.hexdigest()[:16]}"


# --- the registry loop --------------------------------------------------


def sweep_registry(spark, passes, only: set[str], noop: bool = False):
    """Run every selected registry query once per pass, in registry
    order, and yield ``(name, {label: Run})``. A pass is ``(label, conf
    overrides, input dir)``; jobs are labelled ``label:name``."""
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        runs = {}
        for label, confs, sf_dir in passes:
            spark.sparkContext.setJobDescription(f"{label}:{name}")
            with conf_override(spark.conf, confs):
                runs[label] = run_query(spark, fn, sf_dir, noop)
        yield name, runs
    spark.sparkContext.setJobDescription(None)


def run_tier(spark, label: str, tier_dir: str, only: set[str]) -> dict:
    """The correctness gate over one input dir: every query on
    Spark against its ``oracle_sql()`` twin on DuckDB."""
    oracles = entrymod.oracle_sql()
    con = oracle_connection(tier_dir)
    res: dict = {"pass": 0, "fail": 0, "rows_only": 0,
                 "failures": {}, "walls": {}}
    for name, runs in sweep_registry(spark, [(label, {}, tier_dir)], only):
        got = runs[label]
        if got.error:
            status = [f"spark error: {got.error}"]
        else:
            res["walls"][name] = got.wall_s
            if name not in oracles:
                print(f"rows-only [{label}] {name}: {len(got.rows)} rows "
                      f"({got.wall_s:.1f}s)", flush=True)
                res["rows_only"] += 1
                continue
            ref = run_oracle(con, oracles[name])
            status = ([f"duckdb error: {ref.error}"] if ref.error
                      else compare(canonical(got), ref))
        if status:
            msg = "; ".join(status)[:400]
            print(f"FAIL [{label}] {name}: {msg}", flush=True)
            res["failures"][name] = msg
            res["fail"] += 1
        else:
            print(f"PASS [{label}] {name}: {len(got.rows)} rows "
                  f"({got.wall_s:.1f}s)", flush=True)
            res["pass"] += 1
    con.close()
    print(f"\n[{label}] {res['pass']} pass, {res['fail']} fail, "
          f"{res['rows_only']} rows-only", flush=True)
    return res


def run_against_reference(spark, passes, only: set[str]) -> dict:
    """Spark-vs-Spark: the first pass is the reference and every later
    pass must match it query for query. A query that RAISES in any pass
    fails too: the registry's guard contract says all legal configs
    and inputs fail loudly together or not at all."""
    ref_label = passes[0][0]
    result: dict = {
        "reference": ref_label,
        "passes": {label: {"confs": confs, "sf_dir": d}
                   for label, confs, d in passes},
        "restored_to": {k: spark.conf.get(k, None)
                        for _, confs, _ in passes for k in confs},
        "reference_digests": {},
        "variants": {label: {"match": 0, "mismatch": 0, "mismatches": {}}
                     for label, _, _ in passes[1:]},
    }
    for name, runs in sweep_registry(spark, passes, only):
        ref = runs[ref_label]
        result["reference_digests"][name] = digest(ref)
        for label, v in result["variants"].items():
            got = runs[label]
            status = [f"{lb} error: {r.error}"
                      for lb, r in ((ref_label, ref), (label, got))
                      if r.error] or compare(ref, got)
            if status:
                v["mismatch"] += 1
                v["mismatches"][name] = {
                    "reference": digest(ref), "variant": digest(got),
                    "status": "; ".join(status)[:400]}
                print(f"FAIL [{label}] {name}: {'; '.join(status)[:400]}",
                      flush=True)
            else:
                v["match"] += 1
                print(f"PASS [{label}] {name}: {len(got.rows)} rows "
                      f"({ref.wall_s + got.wall_s:.1f}s)", flush=True)
    for label, v in result["variants"].items():
        print(f"\n[{label}] {v['match']} match, {v['mismatch']} mismatch "
              f"vs {ref_label}", flush=True)
    return result


# --- input-dir variants -------------------------------------------------
#
# Each writes every table of ``src`` into ``dst``:
#
# - ``empty``: every table present with its full schema and ZERO rows
#   (a partition with no matching files, a fresh day's landing zone):
#   global aggregates over nothing, ``collect()[0]`` driver scalars,
#   seeded samples of size 0, windows with no frames, DuckDB
#   1-row-NULL vs Spark 0-row divergences on ungrouped aggregates.
# - ``one_row``: every table truncated to its first row: single-element
#   windows, self-joins that vanish, variance of a single sample (NULL
#   vs 0), LSH bands with one signature, one-point percentiles.
# - ``nulls``: the malformed feed of a partially failed upstream
#   extractor (NULL_MASKS): every text/dedup/sketch/events operator
#   must agree with its oracle on NULL propagation instead of assuming
#   the fixtures' accidental non-nullness.
# - ``skew``: one key owns ~50 % (``skew90``: ~90 %) of the group/join
#   keys, the classic 100 TB straggler shape (the reference's
#   ``groupByKey`` at SimpleStreamingApp.scala:81 is exactly this
#   hazard): checked for correctness AND for wall-time ratios.
# - ``permuted``: every table row-permuted with PERMUTE_SEED. Row order
#   inside a parquet file is an accident of the writer task at 100 TB,
#   so a result that changes under a permutation (a window or keep-
#   first dedup anchored on physical order, ``first()`` without a total
#   order) is a real scale bug.


def build_tier(src: str, dst: str, n_rows: int) -> None:
    """Write every table of ``src`` into ``dst`` truncated to n_rows."""
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, f))
        pq.write_table(t.slice(0, n_rows), os.path.join(dst, f))


#: (table, key column, nulled column, key % 5 residue) — the NULL mask
#: is keyed on stable ids, not row position, so the tier is
#: deterministic under any row order
NULL_MASKS = [
    ("documents", "doc_id", "text", 0),
    ("events", "event_id", "value", 0),
    ("events", "event_id", "props", 1),
]


def build_null_tier(src: str, dst: str) -> None:
    """Copy ``src`` with the NULL_MASKS columns nulled on their 20 %."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    masks: dict[str, list] = {}
    for table, key, col, residue in NULL_MASKS:
        masks.setdefault(table, []).append((key, col, residue))
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, f))
        for key, col, residue in masks.get(f[: -len(".parquet")], []):
            keys = t.column(key).to_numpy(zero_copy_only=False)
            hit = pa.array(np.asarray(keys) % 5 == residue)
            i = t.schema.get_field_index(col)
            nulled = pc.if_else(
                hit, pa.nulls(len(t), t.column(col).type), t.column(col)
            )
            t = t.set_column(i, t.schema.field(i), nulled)
        pq.write_table(t, os.path.join(dst, f))


def build_skew_tier(src: str, dst: str, hot: str = "50") -> None:
    """Copy ``src`` with a fraction of the high-cardinality group/join
    keys collapsed onto one hot key (stable-id masks, order-independent).

    ``hot="50"`` keeps the round-10 tier byte-identical (even ids → the
    hot key); ``hot="90"`` is the sharper r11 stretch variant (ids not
    divisible by 10 → the hot key, i.e. one key owns ~90 % of the
    stream). Tables that are not rewritten are symlinked, not copied —
    at sf0.1 the lineitem copy would dominate the tier's build time."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def hot_mask(ids: np.ndarray) -> pa.Array:
        if hot == "90":
            return pa.array(ids % 10 != 0)
        return pa.array(ids % 2 == 0)

    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        name = f[: -len(".parquet")]
        if name not in ("events", "documents"):
            # abspath: a relative src would make the link target resolve
            # relative to the tier's temp dir and dangle (ADVICE r11)
            os.symlink(os.path.abspath(os.path.join(src, f)),
                       os.path.join(dst, f))
            continue
        t = pq.read_table(os.path.join(src, f))
        if name == "events" and len(t) > 0:
            ids = np.asarray(t.column("event_id").to_numpy(zero_copy_only=False))
            hot_key = pc.min(t.column("user_id")).as_py()
            i = t.schema.get_field_index("user_id")
            col = pc.if_else(
                hot_mask(ids),
                pa.array([hot_key] * len(t), t.column("user_id").type),
                t.column("user_id"),
            )
            t = t.set_column(i, t.schema.field(i), col)
        elif name == "documents" and len(t) > 0:
            ids = np.asarray(t.column("doc_id").to_numpy(zero_copy_only=False))
            hot_key = pc.min(t.column("source")).as_py()
            i = t.schema.get_field_index("source")
            col = pc.if_else(
                hot_mask(ids),
                pa.array([hot_key] * len(t), t.column("source").type),
                t.column("source"),
            )
            t = t.set_column(i, t.schema.field(i), col)
        pq.write_table(t, os.path.join(dst, f))


PERMUTE_SEED = 777


def permute_tables(src: str, dst: str) -> None:
    """Copy ``src`` with every table row-permuted (one shuffle per
    table, in file-name order, from one PERMUTE_SEED generator)."""
    import numpy as np

    rng = np.random.default_rng(PERMUTE_SEED)
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, f))
        t = t.take(rng.permutation(len(t)))
        pq.write_table(t, os.path.join(dst, f))


#: input-dir transform of each DuckDB-checked mode (None: the input as is)
ORACLE_INPUTS = {
    "oracle": None,
    "empty": lambda src, dst: build_tier(src, dst, 0),
    "one_row": lambda src, dst: build_tier(src, dst, 1),
    "nulls": build_null_tier,
}


# --- the skew tiers -----------------------------------------------------

#: a hash-correct query whose skew-tier wall exceeds this multiple of
#: its pristine wall (after the absolute floor) has a hot-key bug
SKEW_RATIO_FLAG = 5.0
#: sub-second arms are noise-floor — a 5x on 0.2 s is not a finding
SKEW_MIN_SECONDS = 1.0

#: queries whose hot-key cost is LINEAR in the hot key (a straggler by
#: semantic contract, not a quadratic blowup) — each needs a written
#: rationale, mirroring plan_sweep's allowlist discipline. Allowlisted
#: entries are still measured and printed, just not flagged.
SKEW_ALLOWLIST = {
    "ewma_smooth": (
        "per-key sequential recurrence folded left-to-right as the "
        "bit-exactness contract with the oracle's list_reduce; cost is "
        "linear in the hot key's length (measured 5.17x at a 50% hot "
        "key). The parallel chunked affine-map fold exists but "
        "reassociates float arithmetic — documented upgrade path in "
        "the operator docstring."
    ),
}

#: the skew90 set: the 10 skew-wall-heaviest registry queries from the
#: r10 50 %-tier (minus rs_tcp_roundtrip and blocking_recall_eval, whose
#: walls are socket/replay latency, not key-skew work; plus the two
#: r10 quadratic-fix queries and the two highest measured ratios) — the
#: queries where a 90 % hot key would first show a wall
SKEW90_QUERIES = {
    "streaming_funnel",
    "streaming_sessionize",
    "streaming_ewma",
    "streaming_stateful_totals",
    "streaming_heavy_hitters",
    "streaming_kmv_distinct",
    "streaming_latest_state",
    "streaming_group_sample",
    "streaming_stream_join",
    "attribution_report",
    "cep_pattern_match",
    "ann_lsh_topk",
    "hanoi_load_stats",
}


def _measure_variant_pair(spark, pristine_dir: str, skew_dir: str,
                          user_fn, day_fn) -> dict:
    """Walls + result equality for a user-keyed stateful op vs its
    day-keyed escape-hatch twin on pristine AND hot-key input (VERDICT
    r10 item 2 / r11 item 6). The twins are not registry rows (registry
    is frozen; they share their batch oracles' semantics) so the skew
    tiers measure them here. The tier's registry warmup does NOT cover
    the day-keyed twins, so both variants get their own unmeasured
    warmup pass on the pristine dir first (ADVICE r11: a cold first
    pristine wall biases day_keyed_skew_ratio LOW); each timed pair
    then runs back-to-back so the walls share host state."""
    for fn in (user_fn, day_fn):
        run_query(spark, fn, pristine_dir)
    out: dict = {}
    for tier, d in (("pristine", pristine_dir), ("skew", skew_dir)):
        user = run_query(spark, user_fn, d)
        day = run_query(spark, day_fn, d)
        out[tier] = {
            "user_keyed_s": user.wall_s,
            "day_keyed_s": day.wall_s,
            "results_equal": not (user.error or day.error
                                  or compare(user, day)),
        }
    for arm in ("user_keyed", "day_keyed"):
        out[f"{arm}_skew_ratio"] = round(
            out["skew"][f"{arm}_s"]
            / max(out["pristine"][f"{arm}_s"], 1e-9), 2)
    return out


def _confirm_flag_candidates(spark, src, skew_dir, pristine, skew) -> dict:
    """Re-measure every above-threshold candidate once on BOTH sources
    (Spark walls only, same JVM, back-to-back) and fold the minimum
    into the recorded walls. A single GC pause or compile stall can
    inflate one tier-sweep sample ~7x (observed: a 0.45 s aggregate
    reading 3.1 s once and 0.55-0.65 s on every controlled re-run, and
    a streaming replay that never touches the skewed tables reading
    5.3x) — min-of-2 kills that noise while a REAL hot-key blowup
    repeats and keeps its flag. Returns the re-measured walls for the
    artifact."""
    qs = entrymod.queries()
    confirmed: dict = {}
    for n in list(skew["walls"]):
        if n not in pristine["walls"]:
            continue
        r = skew["walls"][n] / max(pristine["walls"][n], 1e-9)
        if r < SKEW_RATIO_FLAG or skew["walls"][n] < SKEW_MIN_SECONDS:
            continue
        wp = run_query(spark, qs[n], src).wall_s
        ws = run_query(spark, qs[n], skew_dir).wall_s
        confirmed[n] = {
            "first": {"pristine_s": pristine["walls"][n],
                      "skew_s": skew["walls"][n], "ratio": round(r, 2)},
            "confirm": {"pristine_s": wp, "skew_s": ws},
        }
        pristine["walls"][n] = min(pristine["walls"][n], wp)
        skew["walls"][n] = min(skew["walls"][n], ws)
        print(f"[skew-confirm] {n}: first ratio {r:.2f} -> "
              f"min-walls ratio "
              f"{skew['walls'][n] / max(pristine['walls'][n], 1e-9):.2f}",
              flush=True)
    return confirmed


def run_skew(spark, src: str, only: set[str], hot: str = "50") -> dict:
    """Hot-key tier: the full oracle contract on the skew rewrite PLUS
    per-query wall-time ratios vs a pristine run of the same source in
    the same JVM — a hash-correct query reading >= SKEW_RATIO_FLAG x
    pristine (above SKEW_MIN_SECONDS) has a real skew bug (missing salt
    / two-phase agg / broadcast). ``hot="90"`` defaults to the
    SKEW90_QUERIES subset, a sharper signal on the per-key-serial
    ceiling at a fraction of a full-registry sf0.1 run's cost.

    An unmeasured Spark-only warmup pass runs first (compiles every
    plan, spins up Python workers, warms codegen/JIT) so pristine and
    skew walls are EQUALLY warm: with pristine measured cold, the skew
    pass inherits its warmth and ratios bias LOW, and a real hot-key
    regression near the threshold could escape. Any above-threshold
    candidate is re-measured once on both sources (min-of-2) before it
    may flag. The day-keyed funnel and sessionize twins are measured
    under the same key."""
    from spark_streaming_testbed_spark.streaming import stateful

    if hot == "90":
        only = only or set(SKEW90_QUERIES)
    print(f"[skew{hot}] unmeasured warmup pass (plan compile + JIT)...",
          flush=True)
    for _ in sweep_registry(spark, [("warmup", {}, src)], only):
        pass
    pristine = run_tier(spark, "pristine", src, only)
    with tempfile.TemporaryDirectory(prefix=f"sweep_skew{hot}_") as d:
        build_skew_tier(src, d, hot)
        skew = run_tier(spark, f"skew{hot}", d, only)
        variants = {
            f"{key}_variant": (
                _measure_variant_pair(
                    spark, src, d,
                    getattr(stateful, f"streaming_{key}"),
                    getattr(stateful, f"streaming_{key}_daykeyed"))
                if not only or f"streaming_{key}" in only else None)
            for key in ("funnel", "sessionize")
        }
        confirmed = _confirm_flag_candidates(spark, src, d, pristine, skew)
    ratios = {
        n: round(skew["walls"][n] / max(pristine["walls"][n], 1e-9), 2)
        for n in skew["walls"] if n in pristine["walls"]
    }
    over = {
        n: {"pristine_s": pristine["walls"][n], "skew_s": skew["walls"][n],
            "ratio": r}
        for n, r in ratios.items()
        if r >= SKEW_RATIO_FLAG and skew["walls"][n] >= SKEW_MIN_SECONDS
    }
    allowlisted = {
        n: {**v, "rationale": SKEW_ALLOWLIST[n]}
        for n, v in over.items() if n in SKEW_ALLOWLIST
    }
    flagged = {n: v for n, v in over.items() if n not in SKEW_ALLOWLIST}
    walls = {
        n: {"pristine_s": pristine["walls"].get(n),
            "skew_s": skew["walls"][n], "ratio": ratios.get(n)}
        for n in sorted(skew["walls"],
                        key=lambda n: ratios.get(n, 0), reverse=True)
    }
    print(f"\n[skew{hot}] 10 highest wall ratios vs pristine, same JVM:\n"
          + json.dumps(dict(list(walls.items())[:10]), indent=1))
    print(json.dumps(variants, indent=1))
    print(f"\n[skew{hot}] flagged (ratio >= {SKEW_RATIO_FLAG} and "
          f"skew wall >= {SKEW_MIN_SECONDS}s): "
          f"{json.dumps(flagged, indent=1) if flagged else 'NONE'}")
    if allowlisted:
        print(f"\n[skew{hot}] allowlisted linear stragglers (measured, "
              f"not flagged): {json.dumps(allowlisted, indent=1)}",
              flush=True)
    counts = ("pass", "fail", "rows_only")
    return {
        "source": src,
        "hot_key_share_pct": int(hot),
        "queries": sorted(only) if only else "all",
        "pristine": {k: pristine[k] for k in counts},
        "skewed": {k: skew[k] for k in counts},
        "flag_rule": f"ratio >= {SKEW_RATIO_FLAG} and "
                     f"skew wall >= {SKEW_MIN_SECONDS} s",
        "flagged": flagged,
        "allowlisted": allowlisted,
        "walls": walls,
        **variants,
        "flag_confirm_reruns": confirmed,
        "failures": {**pristine["failures"], **skew["failures"]},
    }


# --- modes --------------------------------------------------------------

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
#: ``determinism`` runs every query under both counts: coprime, so
#: reducer assignment and therefore arrival order is thoroughly
#: perturbed. An external harness runs ``queries()`` under ITS session
#: config, so a result that depends on partition count or order
#: (collect_list without array_sort, first/any_value ties, unstable
#: row_number ties, min_by on duplicate keys) can be green locally and
#: red there.
DETERMINISM_PARTITIONS = ("32", "17")

#: config-parity variants: each changes only the physical strategy or
#: the error discipline, never the answer.
#: - ``aqe_off``: a result that changes when AQE stops re-planning was
#:   silently depending on a runtime plan choice (partition coalescing
#:   order, skew-join splitting).
#: - ``ansi_off``: the session default is ON in Spark 4; a result that
#:   changes here was relying on ANSI evaluation (an expression that
#:   errors under ANSI but NULL-propagates without it, or a cast whose
#:   overflow behavior differs). Every edge in the registry is guarded
#:   explicitly (try_divide, try_ casts, headroom guards).
CONF_VARIANTS: dict[str, dict[str, str]] = {
    "aqe_off": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.enabled": "false",
    },
    "ansi_off": {
        "spark.sql.ansi.enabled": "false",
    },
}

#: noop-sink runs per query in ``time`` mode; the min is the best
#: estimate of intrinsic cost on a shared host
TIME_RUNS = 2


def run_time(spark, sf_dir: str, only: set[str]) -> dict:
    """Materialize every query through ``format("noop")`` so the
    computation is timed, not a sink; keep every raw run."""
    passes = [(f"time#{r}", {}, sf_dir) for r in range(TIME_RUNS)]
    queries: dict[str, dict] = {}
    for name, runs in sweep_registry(spark, passes, only, noop=True):
        samples = [r.wall_s for r in runs.values() if not r.error]
        err = next((r.error for r in runs.values() if r.error), None)
        queries[name] = {"min": min(samples) if samples else None,
                         "runs": samples, "err": err}
        print(f"{name}: {queries[name]['min']} {samples}"
              + (f" ERR {err}" if err else ""), flush=True)
    ranked = sorted(((v["min"], k) for k, v in queries.items()
                     if v["min"] is not None), reverse=True)
    print("\nslowest 25:")
    for sec, name in ranked[:25]:
        print(f"  {sec:8.3f}  {name}")
    return {"runs_per_query": TIME_RUNS, "queries": queries}


MODES = (*ORACLE_INPUTS, "skew", "skew90", "determinism", "order", "config",
         "time")


def run_mode(spark, mode: str, sf_dir: str, only: set[str]):
    """Run one mode; returns (result, queries run, failed, bad)."""
    if mode == "time":
        res = run_time(spark, sf_dir, only)
        n_err = sum(1 for v in res["queries"].values() if v["err"])
        return res, len(res["queries"]), n_err, n_err > 0
    if mode in ("skew", "skew90"):
        res = run_skew(spark, sf_dir, only, "90" if mode == "skew90" else "50")
        total = sum(res[k]["pass"] + res[k]["fail"] + res[k]["rows_only"]
                    for k in ("pristine", "skewed"))
        n_fail = res["pristine"]["fail"] + res["skewed"]["fail"]
        unequal = any(v and not (v["pristine"]["results_equal"]
                                 and v["skew"]["results_equal"])
                      for v in (res["funnel_variant"],
                                res["sessionize_variant"]))
        return res, total, n_fail, bool(n_fail or unequal or res["flagged"])
    with tempfile.TemporaryDirectory(prefix=f"sweep_{mode}_") as d:
        if mode in ORACLE_INPUTS:
            if ORACLE_INPUTS[mode]:
                ORACLE_INPUTS[mode](sf_dir, d)
                sf_dir = d
            res = run_tier(spark, mode, sf_dir, only)
            del res["walls"]
            total = res["pass"] + res["fail"] + res["rows_only"]
            return res, total, res["fail"], res["fail"] > 0
        if mode == "determinism":
            passes = [(f"partitions_{p}", {SHUFFLE_PARTITIONS: p}, sf_dir)
                      for p in DETERMINISM_PARTITIONS]
        elif mode == "order":
            permute_tables(sf_dir, d)
            passes = [("pristine", {}, sf_dir), ("permuted", {}, d)]
        else:
            passes = [("baseline", {}, sf_dir),
                      *((k, v, sf_dir) for k, v in CONF_VARIANTS.items())]
        res = run_against_reference(spark, passes, only)
    if mode == "order":
        res["seed"] = PERMUTE_SEED
    n_fail = len({n for v in res["variants"].values() for n in v["mismatches"]})
    return res, len(res["reference_digests"]), n_fail, n_fail > 0


def main(argv: list[str] | None = None) -> int:
    from _guards import guard_artifact_overwrite, validate_sf_dir

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=MODES)
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="*", help="only these registry queries")
    p.add_argument("--out", help="write the result JSON here")
    args = p.parse_intermixed_args(argv)
    sf_dir = validate_sf_dir(args.sf_dir)

    spark = get_session(f"sweep-{args.mode}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    res, total, n_fail, bad = run_mode(spark, args.mode, sf_dir,
                                       set(args.queries))
    if args.out:
        guard_artifact_overwrite(args.out, total=total, errors=n_fail)
        head = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True).stdout.strip()
        doc = {"mode": args.mode, "sf_dir": sf_dir, "head_commit": head,
               "wall_s": round(time.time() - t0, 1), **res}
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)
        print(f"wrote {args.out}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
