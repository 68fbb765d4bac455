"""Calibration guard for the bench burn kernel (VERDICT r2 item 2).

The scenario benchmarks are only comparable to BASELINE.md if the
per-record CPU burn actually costs what the reference's kernel cost:
mean ≈ 0.031 ms at n=7 (test-runs-001/vanilla-1.4.0-7-50000/
execution.log:1-5 cols 6-7, via BASELINE.md:28). This pins the
calibration constant to a MEASURED band so silent drift (numpy upgrade,
different CPU, edited constant) fails CI instead of quietly inflating
the headline rows/s.
"""

from __future__ import annotations

import time

from spark_streaming_testbed_spark.functions.hanoi import (
    BURN_ADDS_PER_MOVE,
    _burn_adds,
    hanoi_moves,
)

REF_US_N7 = 31.0  # reference mean per-record cost at n=7, in micros


def _burn_cpu_us_per_record(n: int, reps: int = 20_000) -> float:
    """``burn_us_per_record``'s probe timed on this thread's CPU clock.

    The same ``_burn_adds`` call, but a neighbour's load on a shared
    host no longer counts against the burn: wall-clock probes failed
    the bands below on a busy 4-core host and passed alone right after.
    """
    total = ((1 << n) - 1) * BURN_ADDS_PER_MOVE * reps
    t0 = time.thread_time_ns()
    _burn_adds(total)
    return (time.thread_time_ns() - t0) / 1000.0 / reps


def test_burn_constant_is_pinned():
    """The calibration constant tolerates ZERO drift: 1600 adds/move was
    derived once against the reference's 31 us at n=7 (numpy sustaining
    ~6.5e9 int64 adds/s on the derivation host), and every published
    rows/s figure since assumes that exact per-record work. Anyone
    re-deriving it must update this pin AND re-baseline the bench
    history in the same commit (VERDICT r6 item 2: drift in the
    calibration must fail loudly)."""
    assert BURN_ADDS_PER_MOVE == 1600


def test_burn_cost_matches_reference_band():
    """Per-record burn at n=7 must sit within a 0.8x-2.0x band of the
    reference's 0.031 ms (best of 3 probes, to shrug off CI-neighbor
    contention).

    Why not the +-15% band VERDICT r6 item 2 asked to try: the burn
    loop is NOT stable to 15% even on a quiet host with identical code
    — measured min-of-21 single probes was 41.45 us with singles
    spreading 41.5-57 us (load 0.01), against 36.2 (r5) and 42.6 (r6)
    on other days; the recorded one-day swing is 36.2->48->36.3 us.
    That is >+-20% HOST variance (VM CPU steal / frequency scaling),
    so a +-15% absolute guard would false-fail on machine weather.
    The band below is the tightest that clears the observed host range
    while still failing loudly on a real cheapening (e.g. a numpy
    upgrade halving the add cost lands ~18-21 us < 24.8) — and the
    constant itself is pinned exactly by test_burn_constant_is_pinned,
    so CODE drift is caught at 0%, not 15%."""
    best = min(_burn_cpu_us_per_record(7) for _ in range(3))
    assert REF_US_N7 * 0.8 <= best <= REF_US_N7 * 2.0, (
        f"burn kernel cost {best:.1f} us/record at n=7 is outside the "
        f"calibration band around the reference's {REF_US_N7} us — "
        f"re-derive BURN_ADDS_PER_MOVE (currently {BURN_ADDS_PER_MOVE})"
    )


def test_burn_keeps_reference_growth_shape():
    """Cost must grow ~2x per height step (the 2^n hanoi shape), matching
    the faithful solver's move count."""
    c6 = min(_burn_cpu_us_per_record(6) for _ in range(3))
    c8 = min(_burn_cpu_us_per_record(8) for _ in range(3))
    assert 2.5 <= c8 / c6 <= 6.5  # ideal 4.03x = (2^8-1)/(2^6-1)
    assert hanoi_moves(8) + 1 == 2 * (hanoi_moves(7) + 1)
