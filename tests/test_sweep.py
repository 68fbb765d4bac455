"""Spark-free unit tests for the registry-sweep runner (tools/sweep.py),
its input-dir tiers, its CLI guards (tools/_guards.py) and the
round-artifact assembler."""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import assemble_round_artifacts as assembler  # noqa: E402
import sweep  # noqa: E402
from _guards import guard_artifact_overwrite, validate_sf_dir  # noqa: E402
from sweep import Run, canonical, compare, digest, normalize  # noqa: E402

from tests.conftest import SF_SMOKE  # noqa: E402


# --- normalize and digest ----------------------------------------------


def test_normalize_folds_nan_nested_lists_and_floats():
    cols, rows = normalize([(float("nan"), [1, [2.0000000001]])], ["x", "a"])
    assert cols == ["a", "x"]
    assert rows == [(repr((1, (2.0,))), repr("NaN"))]
    # 9 dp fold: last-ulp float noise compares equal
    assert normalize([(0.1 + 0.2,)], ["v"]) == normalize([(0.3,)], ["v"])
    assert normalize([(0.3001,)], ["v"]) != normalize([(0.3,)], ["v"])


def test_normalize_sorts_columns_then_rows():
    cols, rows = normalize([(2, "b"), (1, "a")], ["z", "m"])
    assert cols == ["m", "z"]
    assert rows == [("'a'", "1"), ("'b'", "2")]


def test_digest_is_row_order_insensitive_and_schema_sensitive():
    a = Run(["k", "v"], ["bigint", "double"], [(1, 0.5), (2, float("nan"))])
    b = Run(["k", "v"], ["bigint", "double"], [(2, float("nan")), (1, 0.5)])
    assert digest(a) == digest(b)
    assert digest(a).startswith("2:")
    assert digest(Run(["k", "v"], ["int", "double"], a.rows)) != digest(a)
    assert digest(Run(["k", "v"], a.dtypes, [(1, 0.5)])) != digest(a)
    assert digest(Run(error="ValueError: boom")).startswith("ERROR: ")


# --- compare statuses ---------------------------------------------------


def test_compare_matches_permuted_rows():
    a = Run(["k", "s"], ["int", "str"], [(1, "x"), (2, "y")])
    b = Run(["s", "k"], ["str", "int"], [("y", 2), ("x", 1)])
    assert compare(a, b) == []


def test_compare_statuses():
    base = Run(["k"], ["int"], [(1,), (2,)])
    assert compare(base, Run(["k"], ["int"], [(1,)])) == ["rowcount 2 != 1"]
    assert compare(base, Run(["j"], ["int"], [(1,), (2,)])) == [
        "cols ['k'] != ['j']"]
    assert compare(base, Run(["k"], ["f64"], [(1.0,), (2.0,)])) == [
        "dtype k: int != f64"]
    (status,) = compare(base, Run(["k"], ["int"], [(1,), (3,)]))
    assert status.startswith("values differ")


def test_canonical_collapses_int_widths_only_across_engines():
    spark_run = Run(["k", "d"], ["bigint", "decimal(10, 2)"], [(1, 2)])
    oracle_run = Run(["k", "d"], ["int", "decimal(10,2)"], [(1, 2)])
    assert compare(canonical(spark_run), oracle_run) == []
    # Spark-vs-Spark compares the raw dtypes: a width flip is a finding
    flipped = Run(["k", "d"], ["int", "decimal(10, 2)"], [(1, 2)])
    assert compare(spark_run, flipped) == ["dtype k: bigint != int"]


# --- conf variants capture and restore the session's real values -------


class FakeConf:
    def __init__(self, values: dict[str, str]):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


def test_conf_override_restores_real_values():
    conf = FakeConf({sweep.SHUFFLE_PARTITIONS: "6"})
    with pytest.raises(RuntimeError):
        with sweep.conf_override(
                conf, {sweep.SHUFFLE_PARTITIONS: "17", "x.unset": "y"}) as saved:
            assert conf.values == {sweep.SHUFFLE_PARTITIONS: "17",
                                   "x.unset": "y"}
            assert saved == {sweep.SHUFFLE_PARTITIONS: "6", "x.unset": None}
            raise RuntimeError("query failed")
    assert conf.values == {sweep.SHUFFLE_PARTITIONS: "6"}


def test_determinism_passes_restore_session_partitions(monkeypatch):
    """Each pass sees its own partition count and the session gets its
    own value back, not a hard-coded one."""
    conf = FakeConf({sweep.SHUFFLE_PARTITIONS: "6"})
    spark = SimpleNamespace(
        conf=conf,
        sparkContext=SimpleNamespace(setJobDescription=lambda d: None,
                                     setLocalProperty=lambda k, v: None))
    seen = []

    def query(spark, sf_dir):
        seen.append(conf.get(sweep.SHUFFLE_PARTITIONS))
        field = SimpleNamespace(dataType=SimpleNamespace(
            simpleString=lambda: "bigint"))
        return SimpleNamespace(columns=["n"], collect=lambda: [(1,)],
                               schema=SimpleNamespace(fields=[field]))

    monkeypatch.setattr(sweep.entrymod, "queries", lambda: {"q": query})
    passes = [(f"p{p}", {sweep.SHUFFLE_PARTITIONS: p}, "unused")
              for p in ("32", "17")]
    res = sweep.run_against_reference(spark, passes, set())
    assert seen == ["32", "17"]
    assert conf.values == {sweep.SHUFFLE_PARTITIONS: "6"}
    assert res["restored_to"] == {sweep.SHUFFLE_PARTITIONS: "6"}
    assert res["variants"]["p17"]["match"] == 1


# --- CLI guards ---------------------------------------------------------


def test_validate_sf_dir(tmp_path):
    for bad in ("--help", str(tmp_path / "missing"), str(tmp_path)):
        with pytest.raises(SystemExit):
            validate_sf_dir(bad)
    pq.write_table(pa.table({"x": [1]}), str(tmp_path / "t.parquet"))
    assert validate_sf_dir(str(tmp_path)) == str(tmp_path)


def test_guard_artifact_overwrite(tmp_path):
    out = tmp_path / "ARTIFACT.json"
    guard_artifact_overwrite(str(out), total=10, errors=10)  # first write
    out.write_text("{}")
    guard_artifact_overwrite(str(out), total=10, errors=5)
    guard_artifact_overwrite(str(out), total=0, errors=0)
    with pytest.raises(SystemExit):
        guard_artifact_overwrite(str(out), total=10, errors=6)
    assert out.read_text() == "{}"


def test_unknown_mode_is_rejected():
    with pytest.raises(SystemExit) as exc:
        sweep.main(["bogus", SF_SMOKE])
    assert exc.value.code == 2


# --- order invariance records the seed it used -------------------------


def test_permutation_uses_recorded_seed(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    pq.write_table(pa.table({"id": list(range(50))}), str(src / "t.parquet"))
    sweep.permute_tables(str(src), str(dst))
    got = pq.read_table(str(dst / "t.parquet")).column("id").to_pylist()
    want = np.random.default_rng(sweep.PERMUTE_SEED).permutation(50).tolist()
    assert got == want


def test_order_artifact_copies_the_sweep_seed(tmp_path):
    (tmp_path / "order.json").write_text(json.dumps({
        "mode": "order", "sf_dir": SF_SMOKE, "seed": sweep.PERMUTE_SEED,
        "variants": {"permuted": {"match": 284, "mismatch": 1}},
    }))
    art = assembler.order_artifact(14, str(tmp_path), "abc1234")
    assert art["seed"] == sweep.PERMUTE_SEED == 777
    assert (art["order_invariant"], art["order_dependent"]) == (284, 1)


# --- the data-bound tier ------------------------------------------------


def test_build_scale_tier(tmp_path):
    import pyarrow.compute as pc

    sweep.build_scale_tier(SF_SMOKE, str(tmp_path))
    src = {f: pq.read_table(os.path.join(SF_SMOKE, f))
           for f in os.listdir(SF_SMOKE) if f.endswith(".parquet")}
    big = {f: pq.read_table(str(tmp_path / f)) for f in src}
    for f, t in src.items():
        assert big[f].schema.equals(t.schema, check_metadata=True), f
    for f in ("region.parquet", "nation.parquet"):
        assert big[f].equals(src[f])
    for name in sweep.REKEY:
        assert len(big[f"{name}.parquet"]) == sweep.SCALE * len(
            src[f"{name}.parquet"])

    def keys(table, col):
        return set(big[f"{table}.parquet"][col].to_pylist())

    for table, col, ref, ref_col in (
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey")):
        assert keys(table, col) <= keys(ref, ref_col), (table, col)
    events, src_events = big["events.parquet"], src["events.parquet"]
    assert len(events) == sweep.SCALE * len(src_events)
    assert pc.count_distinct(events["user_id"]).as_py() > 5 * (
        pc.count_distinct(src_events["user_id"]).as_py())
    assert pc.min(events["ts"]).as_py() >= pc.min(src_events["ts"]).as_py()
    assert pc.max(events["ts"]).as_py() <= pc.max(src_events["ts"]).as_py()
    docs = big["documents.parquet"]
    assert len(docs) == sweep.SCALE * len(src["documents.parquet"])
    assert pc.count_distinct(docs["text"]).as_py() < len(docs)
    assert len(big["embeddings.parquet"]) == sweep.SCALE * len(
        src["embeddings.parquet"])
    assert "scale" in sweep.MODES
    registry = sweep.entrymod.queries()
    for names in (sweep.SCALE_ORACLE_EXEMPT, sweep.SCALE_QUERIES,
                  sweep.SCALE_WALL_BOUNDS):
        assert set(names) <= set(registry)


def test_scale_artifact_copies_the_sweep_guards(tmp_path):
    guards = {"ann_ivf_topk.recall": sweep._guard(0.89, lo=0.7),
              "streaming_ewma.wall_ratio": sweep._guard(13.0, hi=12.0)}
    assert [g["pass"] for g in guards.values()] == [True, False]
    assert sweep._guard(None, hi=2)["pass"] is False
    doc = {"mode": "scale", "sf_dir": SF_SMOKE, "scale": sweep.SCALE,
           "source_counts": {"pass": 39, "fail": 0, "rows_only": 0},
           "scale_counts": {"pass": 34, "fail": 0, "rows_only": 5},
           "walls": {}, "state": {}, "guards": guards,
           "failed_guards": ["streaming_ewma.wall_ratio"], "failures": {}}
    (tmp_path / "scale.json").write_text(json.dumps(doc))
    art = assembler.scale_artifact(14, str(tmp_path), "abc1234")
    assert art["head_commit"] == "abc1234"
    assert art["guards"] == guards
    assert art["failed_guards"] == ["streaming_ewma.wall_ratio"]
    assert art["scale_counts"]["rows_only"] == 5
