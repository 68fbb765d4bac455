"""End-to-end degenerate-tier contract replays (VERDICT r9 item 7).

``tests/test_degenerate_inputs.py`` unit-pins the 52 round-9 fix sites
fast; these tests regression-lock the TIERS themselves — the full
285-query Spark-vs-DuckDB contract over each malformed-warehouse shape
— without waiting for the per-round DEGENERATE_SWEEP artifact. They
are marked ``degenerate`` (deselected by default, see pytest.ini)
because each tier replays the whole registry: run with

    python -m pytest -m degenerate tests/test_degenerate_tiers.py -q
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, "/root/repo/tools")

SF_SMOKE = "/root/testdata/sf0.001"

pytestmark = pytest.mark.degenerate


def _sweep():
    import sweep as ds

    return ds


@pytest.mark.parametrize("tier", ["empty", "one_row", "nulls", "skew"])
def test_tier_full_contract(spark, tier):
    ds = _sweep()
    with tempfile.TemporaryDirectory(prefix=f"degen_pytest_{tier}_") as d:
        if tier == "empty":
            ds.build_tier(SF_SMOKE, d, 0)
        elif tier == "one_row":
            ds.build_tier(SF_SMOKE, d, 1)
        elif tier == "nulls":
            ds.build_null_tier(SF_SMOKE, d)
        else:
            # correctness half of the skew tier only: the wall-ratio
            # half needs sf0.01 volume to mean anything and stays in
            # the per-round sweep artifact
            ds.build_skew_tier(SF_SMOKE, d)
        res = ds.run_tier(spark, tier, d, set())
        assert res["fail"] == 0, res["failures"]
        # every registry query must have run (pass, or rows-only for
        # the genuinely non-SQL-expressible ops)
        import __spark_entry__ as entry

        assert res["pass"] + res["rows_only"] == len(entry.queries())


def test_skew_tier_masks_are_half_hot():
    """The builder's contract: ~50 % of events.user_id and
    documents.source collapse onto one hot key, keyed on stable ids."""
    import pyarrow.parquet as pq

    ds = _sweep()
    with tempfile.TemporaryDirectory(prefix="degen_skewmask_") as d:
        ds.build_skew_tier(SF_SMOKE, d)
        ev = pq.read_table(os.path.join(d, "events.parquet"))
        uid = ev.column("user_id").to_pylist()
        hot_share = max(uid.count(u) for u in set(uid)) / len(uid)
        assert hot_share >= 0.5
        docs = pq.read_table(os.path.join(d, "documents.parquet"))
        src = docs.column("source").to_pylist()
        hot_share_d = max(src.count(s) for s in set(src)) / len(src)
        assert hot_share_d >= 0.5
        # untouched tables byte-identical in content
        lo = pq.read_table(os.path.join(d, "lineitem.parquet"))
        ref = pq.read_table(os.path.join(SF_SMOKE, "lineitem.parquet"))
        assert lo.equals(ref)


def test_skew90_tier_masks_are_ninety_hot():
    """The r11 stretch variant: hot='90' collapses ~90 % of the keys
    onto the hot key (ids not divisible by 10)."""
    import pyarrow.parquet as pq

    ds = _sweep()
    with tempfile.TemporaryDirectory(prefix="degen_skew90mask_") as d:
        ds.build_skew_tier(SF_SMOKE, d, hot="90")
        ev = pq.read_table(os.path.join(d, "events.parquet"))
        uid = ev.column("user_id").to_pylist()
        hot_share = max(uid.count(u) for u in set(uid)) / len(uid)
        assert hot_share >= 0.9
        docs = pq.read_table(os.path.join(d, "documents.parquet"))
        src = docs.column("source").to_pylist()
        hot_share_d = max(src.count(s) for s in set(src)) / len(src)
        assert hot_share_d >= 0.9
        lo = pq.read_table(os.path.join(d, "lineitem.parquet"))
        ref = pq.read_table(os.path.join(SF_SMOKE, "lineitem.parquet"))
        assert lo.equals(ref)
