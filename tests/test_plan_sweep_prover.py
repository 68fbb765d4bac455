"""Unit tests for tools/plan_sweep.py's static boundedness prover.

The sweep promises that a BroadcastNestedLoopJoin is only auto-cleared
when the formatted plan PROVES the broadcast build side cannot grow
with the data (scalar aggregate, explicit limit, or literal-only
subtree). These canned-plan cases pin that proof logic so a parser or
rule regression turns the gate conservative-red, never silently green.
"""

from __future__ import annotations

import importlib.util
import pathlib

_spec = importlib.util.spec_from_file_location(
    "plan_sweep",
    pathlib.Path(__file__).resolve().parents[1] / "tools" / "plan_sweep.py",
)
plan_sweep = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_sweep)


def _plan(tree: str, details: str = "") -> str:
    return f"== Physical Plan ==\n{tree.strip()}\n\n{details.strip()}\n"


SCALAR_ANCHOR = _plan(
    """
AdaptiveSparkPlan (8)
+- Project (7)
   +- BroadcastNestedLoopJoin Cross BuildRight (6)
      :- Filter (2)
      :  +- Scan parquet  (1)
      +- BroadcastExchange (5)
         +- HashAggregate (4)
            +- Scan parquet  (3)
""",
    """
(4) HashAggregate
Input [1]: [value#1]
Keys: []
Functions [1]: [max(value#1)]
""",
)

KEYED_AGG_OVER_PARQUET = _plan(
    """
AdaptiveSparkPlan (8)
+- Project (7)
   +- BroadcastNestedLoopJoin Cross BuildRight (6)
      :- Filter (2)
      :  +- Scan parquet  (1)
      +- BroadcastExchange (5)
         +- HashAggregate (4)
            +- Scan parquet  (3)
""",
    """
(4) HashAggregate
Input [2]: [key#1, value#2]
Keys [1]: [key#1]
Functions [1]: [max(value#2)]
""",
)

_GRID_TREE = """
AdaptiveSparkPlan (7)
+- BroadcastNestedLoopJoin Inner BuildRight (6)
   :- Filter (2)
   :  +- Scan parquet  (1)
   +- BroadcastExchange (5)
      +- Filter (4)
         +- Scan ExistingRDD (3)
"""


def _rdd_leaf(origin: str) -> str:
    """The detail block Spark prints for ``Scan ExistingRDD (3)`` over
    an RDD made at *origin*."""
    return (
        "(3) Scan ExistingRDD\n"
        "Output [1]: [k#7]\n"
        f"Arguments: [k#7], MapPartitionsRDD[11] at {origin} at "
        "NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)\n"
    )


# createDataFrame over driver rows
LITERAL_GRID = _plan(_GRID_TREE, _rdd_leaf("applySchemaToPythonRDD"))
# the same tree over a checkpointed table (build_once): the leaf is an
# ExistingRDD too, but of a data-sized table
CHECKPOINTED_GRID = _plan(_GRID_TREE, _rdd_leaf("localCheckpoint"))

KEYED_AGG_OVER_TOPK = _plan(
    """
AdaptiveSparkPlan (9)
+- BroadcastNestedLoopJoin Inner BuildRight (8)
   :- Scan parquet  (1)
   +- BroadcastExchange (7)
      +- HashAggregate (6)
         +- Window (5)
            +- Sort (4)
               +- TakeOrderedAndProject (3)
                  +- Scan parquet  (2)
""",
    """
(6) HashAggregate
Input [1]: [key#1]
Keys [1]: [key#1]
Functions [1]: [count(1)]
""",
)

PARQUET_CROSS = _plan(
    """
AdaptiveSparkPlan (6)
+- BroadcastNestedLoopJoin Cross BuildRight (5)
   :- Scan parquet  (1)
   +- BroadcastExchange (4)
      +- Project (3)
         +- Scan parquet  (2)
"""
)

GENERATE_OVER_LITERAL = _plan(
    """
AdaptiveSparkPlan (7)
+- BroadcastNestedLoopJoin Cross BuildRight (6)
   :- Scan parquet  (1)
   +- BroadcastExchange (5)
      +- Generate (4)
         +- LocalTableScan (3)
"""
)

GENERATE_OVER_PARQUET = _plan(
    """
AdaptiveSparkPlan (7)
+- BroadcastNestedLoopJoin Cross BuildRight (6)
   :- Scan parquet  (1)
   +- BroadcastExchange (5)
      +- Generate (4)
         +- Scan parquet  (3)
"""
)


def test_scalar_aggregate_build_is_bounded():
    assert plan_sweep._classify_bnlj(SCALAR_ANCHOR) == "bounded_build"


def test_keyed_aggregate_over_parquet_is_unbounded():
    assert plan_sweep._classify_bnlj(KEYED_AGG_OVER_PARQUET) == "unbounded"


def test_literal_leaf_build_is_bounded():
    assert plan_sweep._classify_bnlj(LITERAL_GRID) == "bounded_build"


def test_checkpointed_leaf_build_is_unbounded():
    assert plan_sweep._classify_bnlj(CHECKPOINTED_GRID) == "unbounded"


def test_keyed_aggregate_passes_through_to_limit():
    assert plan_sweep._classify_bnlj(KEYED_AGG_OVER_TOPK) == "bounded_build"


def test_parquet_cross_is_unbounded():
    assert plan_sweep._classify_bnlj(PARQUET_CROSS) == "unbounded"


def test_generate_over_literal_is_bounded():
    # explode over a driver-local literal stays constant w.r.t. data
    assert plan_sweep._classify_bnlj(GENERATE_OVER_LITERAL) == "bounded_build"


def test_generate_over_parquet_is_unbounded():
    # explode is row-expanding: without a literal-only subtree there is
    # no proof, even though everything above it is pass-through
    assert plan_sweep._classify_bnlj(GENERATE_OVER_PARQUET) == "unbounded"


def test_tree_parser_children_and_labels():
    roots, by_id = plan_sweep._parse_tree(SCALAR_ANCHOR)
    assert roots[0].name == "AdaptiveSparkPlan"
    join = by_id[6]
    assert join.name == "BroadcastNestedLoopJoin"
    assert [c.nid for c in join.children] == [2, 5]
    assert by_id[3].label.startswith("Scan parquet")


def test_missing_tree_is_conservative():
    assert plan_sweep._classify_bnlj("no plan here") == "unbounded"


def test_signature_counts_nodes_not_substrings():
    sig = plan_sweep._signature(KEYED_AGG_OVER_TOPK)
    # one shuffle-less plan: Sort must not double-count SortMergeJoin
    # or TakeOrderedAndProject; Scan parquet counted by label prefix
    assert sig == {
        "nested_loop_joins": 1,
        "parquet_scans": 2,
        "sorts": 1,
        "windows": 1,
    }


def test_signature_separates_exchange_kinds():
    # BroadcastExchange is not a data shuffle: 'exchanges' counts only
    # plain Exchange nodes
    sig = plan_sweep._signature(SCALAR_ANCHOR)
    assert "exchanges" not in sig
    assert sig["nested_loop_joins"] == 1


def _real_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_prover_against_live_spark_plans(spark):
    """Canned plans can drift from the running Spark version's actual
    explain('formatted') layout; this pins the parser + rules against
    live output: a scalar-anchor cross join must auto-prove, a
    table-by-table cross join must stay flagged."""
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    anchor = docs.agg(F.count(F.lit(1)).alias("n_total"))
    good = _real_plan(docs.crossJoin(anchor))
    assert "BroadcastNestedLoopJoin" in good
    assert plan_sweep._classify_bnlj(good) == "bounded_build"

    other = docs.select(F.col("doc_id").alias("d2"))
    bad = _real_plan(docs.crossJoin(other))
    assert plan_sweep._classify_bnlj(bad) == "unbounded"

    grid = spark.range(7).select(F.col("id").alias("offset"))
    literal = _real_plan(docs.crossJoin(grid))
    assert plan_sweep._classify_bnlj(literal) == "bounded_build"

    # an ExistingRDD has no size estimate, so force it to the build side
    rows = spark.createDataFrame([(1,), (2,)], "k int")
    driver_rows = _real_plan(docs.crossJoin(F.broadcast(rows)))
    assert "Scan ExistingRDD" in driver_rows
    assert plan_sweep._classify_bnlj(driver_rows) == "bounded_build"

    from spark_streaming_testbed_spark.session import build_once

    built = build_once(other)
    checkpointed = _real_plan(docs.crossJoin(F.broadcast(built)))
    assert "Scan ExistingRDD" in checkpointed
    assert plan_sweep._classify_bnlj(checkpointed) == "unbounded"


def test_committed_sweep_artifact_is_clean():
    """The latest committed PLAN_SWEEP artifact must be a passing run:
    a regenerated-but-flagged artifact cannot land silently."""
    import glob
    import json

    repo = pathlib.Path(__file__).resolve().parents[1]
    paths = sorted(glob.glob(str(repo / "PLAN_SWEEP_r*.json")))
    assert paths, "no PLAN_SWEEP artifact committed"
    latest = json.load(open(paths[-1]))
    assert latest["flagged"] == {}
    assert latest["errors"] == {}
    assert latest["scanned"] == latest["total"] > 0
    # every allowlist entry carries a written rationale
    for query, hits in latest["allowlisted"].items():
        for reason in hits.values():
            assert len(reason) > 20, (query, reason)
