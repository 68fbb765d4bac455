"""Deterministic rate-profile test plans (SURVEY.md §2.6 T7).

Re-implements the reference's declarative load profiles — fixed / ramp /
cycle / loop / noop phases — as pure Python. The *bucket arithmetic* is the
correctness contract (golden-tested against the reference's
``RampPhaseSpec``/``LoopPhaseSpec``, see ``tests/test_phases_golden.py``):

- each second is split into 100 buckets of 10 ms; at rate ``r`` items/s,
  bucket ``i`` carries ``int((i+1)*r/100) - int(i*r/100)`` items stamped at
  offset ``i*10`` ms (reference: testbed FixedPhase.scala:12-21);
- a ramp interpolates ``start + (end-start)/(duration-1)*second``, using
  ``start`` when duration is 1 (RampPhase.scala:14-20);
- a cycle round-robins its value list across emitted items, carrying the
  element counter across buckets within a second (CyclePhase.scala:12-25);
- a loop re-plays its child sequence, shifting times by the completed-loop
  offset; children without finite duration are allowed (LoopPhase.scala:11-29);
- expiry quirks are preserved exactly: fixed and loop phases are expired
  only when ``duration < second`` (they still emit at ``second ==
  duration``), while ramp and cycle are expired at ``duration <= second``
  (FixedPhase.scala:8 vs RampPhase.scala:12 / CyclePhase.scala:8).

Phases compose sequentially; a plan's duration is the sum of phase
durations, or None (unbounded) if any child is unbounded.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass(frozen=True, order=True)
class DataAtTime:
    """A batch of integer values stamped at one epoch-offset millisecond."""

    time_ms: int
    values: tuple[int, ...]

    def shift(self, shift_ms: int) -> "DataAtTime":
        return DataAtTime(self.time_ms + shift_ms, self.values)


def _bucket_counts(rate: float) -> list[int]:
    """Items per 10 ms bucket for one second at ``rate`` items/s.

    ``int()`` truncation (rates are non-negative) reproduces the
    reference's ``.toInt`` exactly. The sum telescopes to
    ``int(100 * (rate/100.0))`` — which is ``rate - 1`` for integer rates
    whose ``/100`` is not exactly representable in binary (29, 251, …).
    The reference's Scala double math drops the same item; reproduced
    faithfully (property-tested in tests/test_phases_properties.py).
    """
    per_bucket = rate / 100.0
    return [int((i + 1) * per_bucket) - int(i * per_bucket) for i in range(100)]


class Phase:
    """A segment of a test plan: emits timed values for each plan-second."""

    duration: int | None = None

    def values_for(self, second: int) -> list[DataAtTime]:
        raise NotImplementedError


@dataclass
class NoopPhase(Phase):
    duration: int | None = None

    def values_for(self, second: int) -> list[DataAtTime]:
        return []


@dataclass
class FixedPhase(Phase):
    value: int
    rate: int
    duration: int | None = None

    def values_for(self, second: int) -> list[DataAtTime]:
        if self.duration is not None and self.duration < second:
            return []
        out = []
        for i, n in enumerate(_bucket_counts(self.rate)):
            if n:
                out.append(DataAtTime(second * 1000 + i * 10, (self.value,) * n))
        return out


@dataclass
class RampPhase(Phase):
    value: int
    start_rate: int
    end_rate: int
    duration: int | None = None

    def __post_init__(self) -> None:
        if self.duration is None:
            raise ValueError("ramp phase requires a duration")

    def values_for(self, second: int) -> list[DataAtTime]:
        d = self.duration
        if d <= second:
            return []
        if d == 1:
            rate = float(self.start_rate)
        else:
            rate = self.start_rate + (self.end_rate - self.start_rate) / (d - 1.0) * second
        out = []
        for i, n in enumerate(_bucket_counts(rate)):
            if n:
                out.append(DataAtTime(second * 1000 + i * 10, (self.value,) * n))
        return out


@dataclass
class CyclePhase(Phase):
    values: tuple[int, ...]
    rate: int
    duration: int | None = None

    def values_for(self, second: int) -> list[DataAtTime]:
        if self.duration is not None and self.duration <= second:
            return []
        out = []
        element_count = 0
        vals, nvals = self.values, len(self.values)
        for i, n in enumerate(_bucket_counts(self.rate)):
            if n:
                batch = tuple(vals[(element_count + x) % nvals] for x in range(n))
                out.append(DataAtTime(second * 1000 + i * 10, batch))
            element_count += n
        return out


class _Sequence:
    """Sequential composition: route a plan-second to the owning phase."""

    phases: list[Phase]

    @property
    def phases_duration(self) -> int | None:
        total = 0
        for p in self.phases:
            if p.duration is None:
                return None
            total += p.duration
        return total

    def _current_phase(self, second: int) -> tuple[Phase, int] | None:
        remaining = second
        for p in self.phases:
            if p.duration is None or p.duration > remaining:
                return p, remaining
            remaining -= p.duration
        return None

    def seq_values_for(self, second: int) -> list[DataAtTime]:
        hit = self._current_phase(second)
        if hit is None:
            return []
        phase, second_in_phase = hit
        shift_ms = (second - second_in_phase) * 1000
        return [d.shift(shift_ms) for d in phase.values_for(second_in_phase)]


@dataclass
class LoopPhase(Phase, _Sequence):
    times: int | None
    phases: list[Phase] = field(default_factory=list)

    @property
    def duration(self) -> int | None:  # type: ignore[override]
        if self.times is None:
            return None
        inner = self.phases_duration
        return None if inner is None else inner * self.times

    def values_for(self, second: int) -> list[DataAtTime]:
        d = self.duration
        if d is not None and d < second:
            return []
        inner = self.phases_duration
        if inner is None:
            second_in_loop, before_ms = second, 0
        else:
            second_in_loop = second % inner
            before_ms = (second // inner) * inner * 1000
        return [d_.shift(before_ms) for d_ in self.seq_values_for(second_in_loop)]


@dataclass
class TestPlan(_Sequence):
    phases: list[Phase] = field(default_factory=list)

    def values_for(self, second: int) -> list[DataAtTime]:
        return self.seq_values_for(second)

    @property
    def duration(self) -> int | None:
        return self.phases_duration

    def is_done_at(self, second: int) -> bool:
        d = self.phases_duration
        return d is not None and d <= second

    def n_seconds(self, max_seconds: int | None = None) -> int:
        """Plan-seconds to render: ``max_seconds`` if given, else the
        plan's duration. An unbounded plan needs ``max_seconds``."""
        n = self.duration if max_seconds is None else max_seconds
        if n is None:
            raise ValueError("unbounded plan: pass max_seconds")
        return n

    def rows(self, max_seconds: int | None = None) -> list[tuple[int, int]]:
        """Flatten to ``(time_ms, value)`` rows, time-ordered, over
        :meth:`n_seconds` plan-seconds."""
        out: list[tuple[int, int]] = []
        for second in range(self.n_seconds(max_seconds)):
            for dat in self.values_for(second):
                out.extend((dat.time_ms, v) for v in dat.values)
        return out


# ---------------------------------------------------------------------------
# Plan parsing (JSON stands in for the reference's HOCON)
# ---------------------------------------------------------------------------

def _parse_phase(cfg: dict) -> Phase:
    tpe = cfg["type"]
    duration = cfg.get("duration")
    if tpe == "noop":
        return NoopPhase(duration=duration)
    if tpe == "fixed":
        return FixedPhase(value=cfg["value"], rate=cfg["rate"], duration=duration)
    if tpe == "ramp":
        return RampPhase(
            value=cfg["value"],
            start_rate=cfg["startRate"],
            end_rate=cfg["endRate"],
            duration=cfg["duration"],
        )
    if tpe == "cycle":
        return CyclePhase(
            values=tuple(cfg["values"]), rate=cfg["rate"], duration=duration
        )
    if tpe == "loop":
        return LoopPhase(
            times=cfg.get("times"),
            phases=[_parse_phase(c) for c in cfg["phases"]],
        )
    raise ValueError(f"unknown phase type: {tpe!r}")


def parse_plan(config: str | dict) -> TestPlan:
    """Parse a test plan from a JSON string, a dict, or the reference's
    HOCON plan syntax (testbed TestPlan.scala:19-36):
    ``{"sequence": [{"type": "fixed", "value": 7, "rate": 50000, ...}]}``
    or::

        sequence = [
          { type = fixed
            value = 7
            rate = 50000
            duration = 300
          }
        ]
    """
    if isinstance(config, str):
        try:
            config = json.loads(config)
        except json.JSONDecodeError:
            from .hocon import parse_hocon

            config = parse_hocon(config)
    return TestPlan(phases=[_parse_phase(c) for c in config["sequence"]])
