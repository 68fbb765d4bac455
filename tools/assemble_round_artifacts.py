"""Assemble the per-round gate artifacts from a marathon's outputs.

Companion to ``tools/run_round_gates.sh``: reads the JSON results that
``tools/sweep.py --out`` wrote for the oracle / determinism / order /
degenerate / scale modes, and writes
ORACLE_TRIPLE_SF_rN.json, DETERMINISM_rN.json, ORDER_INVARIANCE_rN.json,
DEGENERATE_SWEEP_rN.json and SCALE_SMOKE_rN.json stamped with the
current HEAD. Refuses to record a non-green summary over an existing
artifact (same rationale as tools/_guards: a broken run must not
destroy a good record — pass --force to record a genuine regression).

Usage: python tools/assemble_round_artifacts.py <round> [gates_dir]
       [--force]
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: sweep --out name (in the gates dir) per scale factor
SF_TAGS = {"sf0.001": "sf0001", "sf0.01": "sf001", "sf0.1": "sf01"}
#: degenerate-sweep modes merged into DEGENERATE_SWEEP_rN.json
DEGEN_MODES = ("empty", "one_row", "nulls", "skew", "skew90")


def _head() -> str:
    return subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()


def _load(g: str, tag: str) -> dict:
    with open(os.path.join(g, f"{tag}.json")) as f:
        return json.load(f)


def oracle_artifact(n: int, g: str, head: str) -> dict:
    out: dict = {
        "note": (
            f"Round-{n} full-registry oracle parity at THREE scale "
            "factors (tools/sweep.py oracle: Spark vs DuckDB, sorted "
            "columns, order-insensitive value hashes) — the standing "
            "per-round gate."
        ),
        "head_commit": head,
    }
    for sf, tag in SF_TAGS.items():
        doc = _load(g, f"oracle_{tag}")
        out[sf] = {"pass": doc["pass"], "fail": doc["fail"],
                   "rows_only": doc["rows_only"]}
    return out


def determinism_artifact(n: int, g: str, head: str) -> dict:
    per_sf = {}
    for sf, tag in SF_TAGS.items():
        (v,) = _load(g, f"det_{tag}")["variants"].values()
        per_sf[sf] = {"stable": v["match"],
                      "partition_dependent": v["mismatch"]}
    return {
        "note": (
            f"Round-{n} partition-stability: every registry query re-run "
            "with coprime shuffle-partition counts (32 vs 17) at three "
            "SFs, normalized results compared exactly."
        ),
        "head_commit": head,
        "stable_per_sf": per_sf,
        "stable": sum(v["stable"] for v in per_sf.values()),
        "partition_dependent": sum(
            v["partition_dependent"] for v in per_sf.values()
        ),
    }


def order_artifact(n: int, g: str, head: str) -> dict:
    doc = _load(g, "order")
    (v,) = doc["variants"].values()
    return {
        "note": (
            f"Round-{n} row-order invariance: every table row-permuted "
            "with a fixed seed, full registry re-run and compared."
        ),
        "head_commit": head,
        "sf_dir": doc["sf_dir"],
        "seed": doc["seed"],
        "order_invariant": v["match"],
        "order_dependent": v["mismatch"],
    }


def degenerate_artifact(n: int, g: str, head: str) -> dict:
    out: dict = {
        "note": (
            f"Round-{n} degenerate-input sweep: empty / one-row / "
            "20%-NULL tiers at sf0.001, the 50% hot-key tier at sf0.01, "
            "and the 90% hot-key tier at sf0.1 — full Spark-vs-DuckDB "
            "contract on every tier plus wall ratios and the day-keyed "
            "variant-pair measurements on the skew tiers."
        ),
        "head_commit": head,
    }
    for mode in DEGEN_MODES:
        out[mode] = _load(g, f"degen_{mode}")
    return out


def scale_artifact(n: int, g: str, head: str) -> dict:
    doc = _load(g, "scale")
    return {
        "note": (
            f"Round-{n} data-bound tier: the scale query set on sf0.1 "
            "and on its 10x tier, each against its DuckDB oracle, with "
            "wall and row ratios and the recall, agreement and "
            "state-size guards."
        ),
        "head_commit": head,
        **{k: doc[k] for k in ("sf_dir", "scale", "source_counts",
                               "scale_counts", "walls", "state", "guards",
                               "failed_guards", "failures")},
    }


def _degen_green(doc: dict) -> bool:
    return all(
        not doc[m].get("flagged")
        and all(t.get("fail", 0) == 0
                for t in (doc[m], doc[m].get("pristine", {}),
                          doc[m].get("skewed", {})))
        for m in DEGEN_MODES
    )


def _write(path: str, obj: dict, green: bool, force: bool) -> None:
    if os.path.exists(path) and not green and not force:
        sys.exit(
            f"refusing to overwrite {path}: the new summary is not green "
            "(pass --force to record a genuine regression)"
        )
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
    print(f"wrote {path}")


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv
    n = int(args[0])
    g = args[1] if len(args) > 1 else f"/tmp/gates_r{n}"
    head = _head()

    def write(name: str, obj: dict, green: bool) -> None:
        _write(os.path.join(REPO, f"{name}_r{n}.json"), obj, green, force)

    oracle = oracle_artifact(n, g, head)
    write("ORACLE_TRIPLE_SF", oracle,
          all(oracle[sf]["fail"] == 0 for sf in SF_TAGS))
    det = determinism_artifact(n, g, head)
    write("DETERMINISM", det, det["partition_dependent"] == 0)
    order = order_artifact(n, g, head)
    write("ORDER_INVARIANCE", order, order["order_dependent"] == 0)
    degen = degenerate_artifact(n, g, head)
    write("DEGENERATE_SWEEP", degen, _degen_green(degen))

    scale = scale_artifact(n, g, head)
    write("SCALE_SMOKE", scale, not scale["failed_guards"]
          and not scale["failures"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
