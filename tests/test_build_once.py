"""``session.build_once``: the package's one checkpoint, and its fault model.

The Spark-free tests pin that nothing else in the package checkpoints
and which Spark method ``build_once`` picks. The session test shows the
cost of local blocks: once the block a build stored is gone (what a lost
executor does on a cluster), the next action fails. The opt-in test runs
in its own Spark application, because a checkpoint dir cannot be unset:
with one set, the same block loss is harmless, and every registry query
still matches its oracle. It is marked ``degenerate`` (deselected by
default, see pytest.ini) because it runs the whole registry:

    python -m pytest -m degenerate tests/test_build_once.py -q
"""

from __future__ import annotations

import ast
import glob
import json
import pathlib
import subprocess
import sys
import tempfile
import types

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "spark_streaming_testbed_spark"
SF_SMOKE = "/root/testdata/sf0.001"
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint")


def _checkpoint_calls() -> list[tuple[str, str | None, int]]:
    """``(module, enclosing function, line)`` of every ``.localCheckpoint(``
    or ``.checkpoint(`` call in the package."""
    calls = []

    def visit(node, path, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif (isinstance(child, ast.Call)
                  and isinstance(child.func, ast.Attribute)
                  and child.func.attr in CHECKPOINT_METHODS):
                calls.append((path, fn, child.lineno))
            visit(child, path, inner)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(PKG).as_posix(),
              None)
    return calls


def test_build_once_is_the_only_checkpoint():
    calls = _checkpoint_calls()
    assert {(path, fn) for path, fn, _ in calls} == {
        ("session.py", "build_once")
    }, calls
    assert len(calls) == len(CHECKPOINT_METHODS)


class _FakeFrame:
    """Just enough DataFrame for ``build_once``: a session whose
    SparkContext reports *checkpoint_dir*, and both checkpoint methods
    recording their calls."""

    def __init__(self, checkpoint_dir):
        sc = types.SimpleNamespace(getCheckpointDir=lambda: checkpoint_dir)
        self.sparkSession = types.SimpleNamespace(sparkContext=sc)
        self.calls = []

    def checkpoint(self, eager=True):
        self.calls.append(("checkpoint", eager))
        return self

    def localCheckpoint(self, eager=True):  # noqa: N802 - Spark's name
        self.calls.append(("localCheckpoint", eager))
        return self


@pytest.mark.parametrize("checkpoint_dir, method", [
    (None, "localCheckpoint"),
    ("file:/tmp/checkpoints", "checkpoint"),
])
def test_build_once_follows_the_checkpoint_dir(checkpoint_dir, method):
    from spark_streaming_testbed_spark.session import build_once

    df = _FakeFrame(checkpoint_dir)
    assert build_once(df) is df
    assert df.calls == [(method, True)]


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _build_and_drop_blocks(spark):
    """Build a 100-row table through ``build_once``, then unpersist the
    RDDs the build left in executor storage (found by diffing the
    persistent RDDs). Returns the table and how many RDDs were dropped."""
    from spark_streaming_testbed_spark.session import build_once

    before = _persistent_rdds(spark)
    df = build_once(spark.range(100).selectExpr("id", "id * 2 AS v"))
    added = _persistent_rdds(spark) - before
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in added:
        rdds[rdd_id].unpersist(True)
    return df, len(added)


def test_lost_local_block_fails_the_next_action(spark):
    """Without a checkpoint dir the table exists only as blocks in
    executor storage, with no lineage to rebuild them from."""
    assert spark.sparkContext.getCheckpointDir() is None
    df, dropped = _build_and_drop_blocks(spark)
    assert dropped == 1
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.count()


def _rdd_dirs(checkpoint_dir: str) -> set[str]:
    return set(glob.glob(f"{checkpoint_dir}/*/rdd-*"))


def reliable_run(sf_dir: str, out_path: str) -> None:
    """In a new Spark application with a checkpoint dir set: the block
    loss check, then every registry query against its oracle, noting
    the queries that wrote checkpoint files. Writes the result as JSON."""
    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "tools"))
    import sweep

    from spark_streaming_testbed_spark.session import get_session

    spark = get_session("build-once-reliable")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="build_once_") as checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        df, dropped = _build_and_drop_blocks(spark)
        block_loss = {"dropped_rdds": dropped, "count": df.count()}
        result = {"block_loss": block_loss, "writers": [], "passed": [],
                  "failures": {}}
        for name in sweep.entrymod.queries():
            before = _rdd_dirs(checkpoint_dir)
            res = sweep.run_tier(spark, "reliable", sf_dir, {name})
            if _rdd_dirs(checkpoint_dir) - before:
                result["writers"].append(name)
            if res["fail"]:
                result["failures"].update(res["failures"])
            else:
                result["passed"].append(name)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)


@pytest.mark.degenerate
def test_reliable_checkpoints_survive_block_loss(tmp_path):
    out = tmp_path / "reliable.json"
    proc = subprocess.run(
        [sys.executable, __file__, SF_SMOKE, str(out)],
        cwd=tmp_path, capture_output=True, text=True, timeout=3600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(out.read_text())
    print(json.dumps({k: res[k] for k in ("block_loss", "writers")}))
    assert res["block_loss"]["count"] == 100
    assert res["failures"] == {}
    assert res["writers"]
    assert set(res["writers"]) <= set(res["passed"])


if __name__ == "__main__":
    reliable_run(*sys.argv[1:3])
