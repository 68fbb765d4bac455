"""Registry-wide physical-plan anti-pattern sweep.

Builds every DataFrame in the ``__spark_entry__.queries()`` registry at
sf0.01 and scans its ``explain('formatted')`` output for plan shapes
that would not survive a 100x scale-up:

- ``CartesianProduct``            unbounded all-pairs blowup
- ``BroadcastNestedLoopJoin``     O(n*m) probe unless the build side is
                                  provably bounded (see below) or the
                                  query is allowlisted with a reason
- ``BatchEvalPython``             row-at-a-time Python UDF (the slow
                                  path; Arrow/pandas variants are fine)

A BroadcastNestedLoopJoin is auto-classified as a benign
``bounded_build`` when the plan itself proves the broadcast build side
is bounded: walking down from its BroadcastExchange through
row-non-increasing nodes (Project/Filter/Sort/Window/keyed aggregates/
...) reaches an aggregate with ``Keys: []`` (exactly one row, the J3
scalar-anchor pattern from SURVEY.md - e.g. joining a 1-row global
MAX/percentile back onto a fact table), an explicit Limit/TakeOrdered
(at most k rows), or a subtree whose leaves are all driver-local
literals (LocalTableScan, Range, or an ExistingRDD made by
``createDataFrame`` over driver rows - fixed at plan-build time, cannot
grow with the dataset; an ExistingRDD from ``build_once`` holds a
data-sized table and proves nothing). Those nested loops degenerate to a map
over the probe side and are exactly the plan you want at 100 TB -
broadcasting a constant-size side beats shuffling the fact table.
Anything not provable from the plan must be allowlisted by hand with a
scale rationale, or the sweep exits 1.

It also inventories every Python boundary (ArrowEvalPython,
MapInPandas, FlatMapGroupsInPandas[WithState]) so the artifact shows
exactly which of the registry plans leave the JVM.

Each plan also gets a compact structural signature (exchange / join /
scan / window node counts). Passing a previous round's artifact as the
third argument reports per-query signature drift — the radar for silent
plan regressions (a broadcast join degrading to sort-merge, an extra
shuffle appearing) that are not anti-patterns per se and would
otherwise go unnoticed.

tests/test_plans.py pins these shapes per-query for the headline set;
this sweep is the registry-wide completeness check behind the claim
"no scale-killers anywhere". Output: PLAN_SWEEP_r{N}.json.

Usage: python tools/plan_sweep.py SF_DIR OUT.json [PREV_ARTIFACT.json]
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from _guards import guard_artifact_overwrite, validate_sf_dir  # noqa: E402

FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
PYTHON_MARKS = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "BatchEvalPython",
)

# Nodes that cannot increase the row count of their single child; a
# chain of these below BroadcastExchange preserves the boundedness
# proof down to the aggregate / limit / literal leaf that establishes
# it. (Window is 1:1; WindowGroupLimit and keyed aggregates only ever
# shrink; exchanges/sorts/projections/filters are row-preserving or
# row-reducing.)
_PASS_THROUGH = {
    "Project",
    "Filter",
    "Sort",
    "Exchange",
    "AQEShuffleRead",
    "Coalesce",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "Window",
    "WindowGroupLimit",
    "BroadcastExchange",
    "ReusedExchange",
}
_AGGREGATES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}
_LIMITS = {"GlobalLimit", "LocalLimit", "TakeOrderedAndProject", "CollectLimit"}
# Leaves whose row count is fixed at plan-build time (driver-local
# literals / generators) — they cannot grow with the dataset, so any
# subtree built exclusively from them is constant w.r.t. data scale.
_LITERAL_LEAVES = ("LocalTableScan", "Range")
# An ExistingRDD leaf is a literal only when its Arguments line names a
# driver-local origin: ``createDataFrame`` over Python rows. Every eager
# checkpoint scans as ExistingRDD too ("MapPartitionsRDD[n] at
# localCheckpoint"), over a table of any size.
_DRIVER_LOCAL_RDD_ORIGINS = ("at applySchemaToPythonRDD ",)

# Intentional exceptions the plan cannot prove bounded on its own; each
# carries the scale rationale. A hit NOT auto-proven and NOT listed
# here fails the sweep (exit 1) so regressions are loud.
ALLOWLIST: dict[str, dict[str, str]] = {
    "gap_fill_locf": {
        "BroadcastNestedLoopJoin": "grid = cross of two tiny distinct "
        "aggregates (|types| x |days|), both bounded by small domains"
    },
    "conversion_ab_test": {
        "BroadcastNestedLoopJoin": "cross of the two arm readouts; each "
        "side is the per-arm aggregate filtered to ONE arm (arm='A' / "
        "arm='B'), i.e. <=1 row regardless of data size"
    },
    "heavy_hitters": {
        "BroadcastNestedLoopJoin": "build side is the Misra-Gries NULL-"
        "sentinel total — the token IS NULL group of the summary "
        "aggregate, exactly 1 row (a scalar anchor the plan cannot see "
        "past the keyed groupBy)"
    },
    "hll_user_overlap": {
        "BroadcastNestedLoopJoin": "type<type pairs over the event_type "
        "domain (~10 values); each row carries a fixed 2^p-register HLL "
        "sketch, so the pair table is |types|^2 regardless of data size"
    },
    "cosine_topk": {
        "BroadcastNestedLoopJoin": "exact-baseline contract: the "
        "broadcast side is the fixed N_QUERIES probe sample (vec_id < "
        "20); corpus scanned once, O(N_QUERIES * corpus) — the ANN twins "
        "(ann_lsh/ann_ivf/pq) are the sub-linear scale path"
    },
    "ann_recall_eval": {
        "BroadcastNestedLoopJoin": "recall evaluation needs the exact "
        "top-k ground truth over the fixed query sample by definition; "
        "same broadcast-anchor shape as cosine_topk"
    },
    "hard_negatives": {
        "BroadcastNestedLoopJoin": "anchors are the fixed N_QUERIES "
        "sample, broadcast; label-inequality fused into the join so "
        "mismatched pairs never materialize — O(N_QUERIES * corpus)"
    },
    "pq_adc_topk": {
        "BroadcastNestedLoopJoin": "broadcast side is the fixed query "
        "sample joined against PQ codes; O(N_QUERIES * corpus) with "
        "row-local ADC lookups"
    },
    "dedup_embedding_pairs": {
        "BroadcastNestedLoopJoin": "exact all-pairs baseline by "
        "contract (block-matrix join on blk_a <= blk_b, vectors packed "
        "per block via MapInPandas); lsh_near_dup_pairs / ann twins are "
        "the sub-quadratic scale path"
    },
}


class _Node:
    __slots__ = ("label", "name", "nid", "children")

    def __init__(self, label: str, nid: int) -> None:
        self.label = label
        self.name = label.split()[0]
        self.nid = nid
        self.children: list[_Node] = []


_TREE_LINE = re.compile(r"^([ :|+-]*?)(?:[+:]-\s*)?([A-Za-z][\w .]*?)\s*\((\d+)\)\s*$")


def _parse_tree(plan: str) -> tuple[list[_Node], dict[int, _Node]]:
    """Parse the indented tree section of explain('formatted')."""
    lines = plan.splitlines()
    try:
        start = lines.index("== Physical Plan ==") + 1
    except ValueError:
        return [], {}
    roots: list[_Node] = []
    by_id: dict[int, _Node] = {}
    stack: list[tuple[int, _Node]] = []  # (indent, node)
    for line in lines[start:]:
        if not line.strip():
            break
        m = _TREE_LINE.match(line)
        if not m:
            continue
        prefix, label, nid = m.group(1), m.group(2), int(m.group(3))
        indent = len(prefix)
        node = _Node(label, nid)
        by_id[nid] = node
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if stack:
            stack[-1][1].children.append(node)
        else:
            roots.append(node)
        stack.append((indent, node))
    return roots, by_id


def _detail_block(plan: str, nid: int) -> str:
    m = re.search(rf"^\({nid}\) .*?(?=^\(\d+\) |\Z)", plan, re.S | re.M)
    return m.group(0) if m else ""


def _data_independent(node: _Node, plan: str) -> bool:
    """True iff every leaf of the subtree is a driver-local literal
    (LocalTableScan / Range / driver-row ExistingRDD) — its row count
    is fixed at plan-build time and cannot grow with the dataset, no
    matter what joins/explodes sit above the leaves."""
    if not node.children:
        if node.label.startswith("Scan ExistingRDD"):
            detail = _detail_block(plan, node.nid)
            return any(o in detail for o in _DRIVER_LOCAL_RDD_ORIGINS)
        return node.label.startswith(_LITERAL_LEAVES)
    return all(_data_independent(c, plan) for c in node.children)


def _is_bounded(node: _Node, plan: str) -> bool:
    """True iff the subtree provably yields a bounded (scalar / top-k /
    data-independent literal) row count regardless of input size."""
    cur = node
    while True:
        if _data_independent(cur, plan):
            return True
        if cur.name in _LIMITS:
            return True
        if cur.name in _AGGREGATES:
            # Keys: [] -> global aggregate -> exactly one row.
            if "Keys: []" in _detail_block(plan, cur.nid):
                return True
            # keyed aggregate is row-non-increasing: keep walking.
            if len(cur.children) != 1:
                return False
            cur = cur.children[0]
            continue
        if cur.name == "Union":
            return bool(cur.children) and all(
                _is_bounded(c, plan) for c in cur.children
            )
        if cur.name in _PASS_THROUGH:
            if len(cur.children) != 1:
                return False
            cur = cur.children[0]
            continue
        return False


def _find(node: _Node, name: str, acc: list[_Node]) -> None:
    if node.name == name:
        acc.append(node)
    for c in node.children:
        _find(c, name, acc)


_SIGNATURE_NODES = (
    # shuffle + join + scan inventory: enough to catch silent plan
    # drift (broadcast degrading to sort-merge, an extra exchange,
    # a new Python boundary) by diffing artifacts round-over-round.
    ("exchanges", "Exchange"),
    ("broadcast_hash_joins", "BroadcastHashJoin"),
    ("sort_merge_joins", "SortMergeJoin"),
    ("shuffled_hash_joins", "ShuffledHashJoin"),
    ("nested_loop_joins", "BroadcastNestedLoopJoin"),
    ("parquet_scans", "Scan parquet"),
    ("sorts", "Sort"),
    ("windows", "Window"),
    ("generates", "Generate"),
)


def _signature(plan: str) -> dict[str, int]:
    """Compact structural fingerprint of a physical plan, counted over
    tree nodes (not raw substrings, so 'Sort' does not double-count
    'SortMergeJoin' or 'SortAggregate')."""
    roots, by_id = _parse_tree(plan)
    sig = {key: 0 for key, _ in _SIGNATURE_NODES}
    for node in by_id.values():
        for key, name in _SIGNATURE_NODES:
            if name == "Scan parquet":
                if node.label.startswith("Scan parquet"):
                    sig[key] += 1
            elif node.name == name:
                sig[key] += 1
    # BroadcastExchange is not a shuffle; count only data exchanges.
    return {k: v for k, v in sig.items() if v}


def _classify_bnlj(plan: str) -> str:
    """Classify every BroadcastNestedLoopJoin in the plan.

    Returns 'bounded_build' if ALL of them have a provably bounded
    broadcast build side (scalar aggregate, limit, or literal-only
    subtree), else 'unbounded'.
    """
    roots, _ = _parse_tree(plan)
    joins: list[_Node] = []
    for r in roots:
        _find(r, "BroadcastNestedLoopJoin", joins)
    if not joins:
        return "unbounded"  # tree parse failed; stay conservative
    for j in joins:
        builds = [c for c in j.children if c.name in ("BroadcastExchange", "ReusedExchange")]
        if len(builds) != 1 or not _is_bounded(builds[0], plan):
            return "unbounded"
    return "bounded_build"


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__.rsplit("\n\n", 1)[1].strip())
    sf = validate_sf_dir(sys.argv[1])
    out_path = sys.argv[2]

    import __spark_entry__ as entry
    from spark_streaming_testbed_spark.session import get_session

    spark = get_session("plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    flagged: dict[str, list[str]] = {}
    bounded_build: list[str] = []
    allowlisted: dict[str, dict[str, str]] = {}
    python_boundary: dict[str, list[str]] = {}
    signatures: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    t0 = time.time()
    for i, (name, fn) in enumerate(qs.items(), 1):
        try:
            df = fn(spark, sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 - record, keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        hits = [f for f in FLAGS if f in plan]
        allowed = ALLOWLIST.get(name, {})
        bad: list[str] = []
        for h in hits:
            if h in allowed:
                allowlisted.setdefault(name, {})[h] = allowed[h]
            elif h == "BroadcastNestedLoopJoin" and _classify_bnlj(plan) == "bounded_build":
                bounded_build.append(name)
            else:
                bad.append(h)
        if bad:
            flagged[name] = bad
        marks = [m for m in PYTHON_MARKS if m in plan]
        # FlatMapGroupsInPandasWithState contains FlatMapGroupsInPandas
        # as a substring; keep the most specific mark only.
        if "FlatMapGroupsInPandasWithState" in marks:
            marks = [m for m in marks if m != "FlatMapGroupsInPandas"]
        if marks:
            python_boundary[name] = marks
        signatures[name] = _signature(plan)
        if i % 50 == 0:
            print(f"  {i}/{len(qs)} plans scanned "
                  f"({time.time() - t0:.0f}s)", flush=True)

    result = {
        "sf_dir": sf,
        "total": len(qs),
        "scanned": len(qs) - len(errors),
        "clean": len(qs) - len(errors) - len(flagged) - len(allowlisted)
        - len(set(bounded_build) - set(flagged) - set(allowlisted)),
        "bounded_build": sorted(set(bounded_build)),
        "bounded_build_count": len(set(bounded_build)),
        "flagged": flagged,
        "allowlisted": allowlisted,
        "python_boundary": python_boundary,
        "python_boundary_count": len(python_boundary),
        "signatures": signatures,
        "errors": errors,
        "elapsed_sec": round(time.time() - t0, 1),
        "note": "flagged = CartesianProduct / BroadcastNestedLoopJoin / "
        "BatchEvalPython that is neither provably bounded from the plan "
        "(bounded_build: broadcast side ends in a Keys:[] aggregate, a "
        "Limit, or a literal-only subtree, i.e. constant rows at any "
        "data size) nor allowlisted; "
        "python_boundary = plans that leave the JVM (all Arrow-batched "
        "unless BatchEvalPython is listed).",
    }
    prev_path = sys.argv[3] if len(sys.argv) > 3 else None
    if prev_path:
        with open(prev_path) as f:
            prev_sigs = json.load(f).get("signatures", {})
        drift = {
            name: {"was": prev_sigs[name], "now": sig}
            for name, sig in signatures.items()
            if name in prev_sigs and prev_sigs[name] != sig
        }
        result["signature_drift_vs"] = prev_path
        result["signature_drift"] = drift
        print(f"signature drift vs {prev_path}: {len(drift)} queries")
        for name, d in sorted(drift.items()):
            print(f"  {name}: {d['was']} -> {d['now']}")

    guard_artifact_overwrite(out_path, total=len(qs), errors=len(errors))
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"total={result['total']} scanned={result['scanned']} "
          f"clean={result['clean']} bounded_build={result['bounded_build_count']} "
          f"flagged={len(flagged)} allowlisted={len(allowlisted)} "
          f"python_boundary={len(python_boundary)} errors={len(errors)} "
          f"-> {out_path}")
    if flagged or errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
