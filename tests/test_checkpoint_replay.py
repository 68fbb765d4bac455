"""Kill-and-resume contract replays (round-12 evidence class).

``tests/test_checkpoint_recovery.py`` pins the recovery mechanics fast
on two ops; the replay test here regression-locks the FULL sweep harness
(``tools/checkpoint_sweep.py``) — deterministic mid-stream kill,
restart from checkpoint, digest equality against the uninterrupted run
— for every stateful streaming op, at each op's own file count and
shuffle width, without waiting for the per-round CHECKPOINT_SWEEP
artifact. It is marked ``degenerate`` (deselected by default, see
pytest.ini) because the full dozen replays take several minutes: run
with

    python -m pytest -m degenerate tests/test_checkpoint_replay.py -q

The Spark-free guard below runs by default: it keeps the sweep on the
registry's own replay parts, so the restart proof cannot drift from the
queries it vouches for.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo/tools")

SF_SMOKE = "/root/testdata/sf0.001"
PKG = "spark_streaming_testbed_spark"


def _sweep():
    import checkpoint_sweep as cs

    return cs


def _names(code) -> set[str]:
    """Global and attribute names a function's code (nested code too)
    refers to."""
    names = set(code.co_names)
    for const in code.co_consts:
        if hasattr(const, "co_names"):
            names |= _names(const)
    return names


def test_sweep_replays_the_registry_parts():
    """The sweep proves exactly the registry's stateful queries, through
    the package's own source writers and stream transforms."""
    from spark_streaming_testbed_spark.streaming import stateful
    from spark_streaming_testbed_spark.streaming.pipeline import (
        STREAMING_QUERIES,
    )

    cs = _sweep()
    registry = {
        name for name, fn in STREAMING_QUERIES.items()
        if fn.__module__ == stateful.__name__
    }
    assert len(registry) == 12
    assert set(cs.OPS) == registry
    for name, replay in cs.SPECS.items():
        for part in (replay.source, replay.transform):
            assert part.__module__.startswith(f"{PKG}."), (name, part)
    # the MERGE loop's feed writer and merge step come from the package
    assert {"upsert_source", "merge_upsert"} <= _names(cs.run_upsert.__code__)
    for part in (stateful.upsert_source, stateful.merge_upsert):
        assert part.__module__.startswith(f"{PKG}.")


@pytest.mark.degenerate
@pytest.mark.parametrize("name", sorted(_sweep().OPS))
def test_kill_and_resume_recovers_exactly(spark, name):
    """Each stateful op, killed at the mid-stream trigger boundary and
    restarted from its checkpoint, must produce the same final rows as
    an uninterrupted run — and the kill must actually land mid-stream
    (commits at kill strictly between 0 and the batch count)."""
    cs = _sweep()
    if name in cs.SPECS:
        res = cs.run_generic(spark, name, cs.SPECS[name], SF_SMOKE)
    else:
        res = cs.run_upsert(spark, SF_SMOKE)
    assert res["equal"], res.get("first_diff")
    assert res["interrupted_mid_stream"], res
    assert res["rows"] > 0
