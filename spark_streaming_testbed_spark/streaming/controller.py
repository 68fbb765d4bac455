"""Back-pressure semantics: PID rate controller + admission accounting
(SURVEY.md §2.6 T2-T5, §4).

Structured Streaming has built-in admission control (per-trigger source
limits like ``maxFilesPerTrigger``/``maxOffsetsPerTrigger``) but no
adaptive estimator. This module provides the policy layer the reference
exercised:

- :class:`PIDRateController` — the proportional-integral-derivative rate
  estimator, following the published algorithm of Apache Spark's
  ``PIDRateEstimator`` (org.apache.spark.streaming.scheduler.rate — the
  estimator the reference enables at SimpleStreamingApp.scala:42-44 and
  whose ``Received a new rate limit`` pushes the log-lake parses). Feed
  it per-batch metrics from a ``StreamingQueryListener`` and apply the
  estimate to the next trigger's source limit.

- :class:`AdmissionSimulator` — deterministic replay of the
  offered-vs-admitted loop producing the requested/dropped/backlog
  accounting tables the reference logs (DataGeneratorActor.scala:257-276
  observables), used to validate controller behavior (spike recovery,
  steady-state convergence) without wall-clock flakiness.

- :func:`admit` — the congestion strategies (test-runs-001 README):
  ``ignore`` (admit all), ``drop`` (admit ≤ budget, surplus dropped),
  ``sampling`` (over budget → admit every k-th row), ``pushback``
  (surplus stays queued) — the four ``-s`` modes. The one admission
  rule: the simulator and the live ``rate_profile`` source both call it.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def admit(
    strategy: str, available: int, budget: int | None
) -> tuple[int, int, int, int]:
    """Admit from ``available`` offered rows under a per-trigger
    ``budget`` (None = unlimited); returns ``(admitted, dropped, queued,
    stride)``. The admitted rows are ``rows[::stride][:admitted]``:
    within budget, or under ``ignore``, everything; ``drop`` admits the
    first ``budget`` and drops the rest; ``sampling`` admits every
    ``stride = ceil(available / budget)``-th row and drops the rest;
    ``pushback`` admits the first ``budget`` and leaves the rest queued
    at the source. A budget is at least 1."""
    if strategy not in ("ignore", "drop", "sampling", "pushback"):
        raise ValueError(f"unknown congestion strategy: {strategy}")
    if budget is None or strategy == "ignore" or available <= budget:
        return available, 0, 0, 1
    if strategy == "sampling":
        stride = -(-available // budget)
        admitted = -(-available // stride)
        return admitted, available - admitted, 0, stride
    surplus = available - budget
    if strategy == "drop":
        return budget, surplus, 0, 1
    return budget, 0, surplus, 1


@dataclass
class PIDRateController:
    """PID estimator: returns records/sec the source should admit.

    ``update`` mirrors the published PID formula: error terms are computed
    from the latest batch's processing rate and scheduling delay;
    the new rate is ``latest - Kp·error - Ki·histError - Kd·dError``,
    floored at ``min_rate``.
    """

    proportional: float = 1.0
    integral: float = 0.2
    derivative: float = 0.0
    min_rate: float = 100.0
    #: Overhead compensation (off by default = the published Spark
    #: algorithm). A micro-batch costs ``duration = a + c*rows``; at
    #: small batches the fixed term ``a`` dominates, so the naive
    #: ``rows/duration`` estimate reads far below the true marginal
    #: capacity ``1/c`` and the controller gets stuck at ``min_rate``
    #: admitting tiny batches forever (it can never observe a rate it
    #: never admits). With compensation on, an online least-squares fit
    #: of (rows, duration) pairs recovers ``a``, and the rate fed to the
    #: PID is ``rows / (duration - a_hat)`` — the marginal rate, which
    #: lets the controller grow batches until amortization stops
    #: helping. This is the local-overhead analogue of sizing
    #: ``maxOffsetsPerTrigger`` to amortize task-launch latency on a
    #: real cluster.
    compensate_overhead: bool = False
    overhead_window: int = 12

    _latest_time_ms: float = field(default=-1.0, init=False)
    _latest_rate: float = field(default=-1.0, init=False)
    _latest_error: float = field(default=-1.0, init=False)
    _fit_samples: list = field(default_factory=list, init=False)
    _a_hat: float = field(default=0.0, init=False)

    def _overhead_ms(self) -> float:
        """Least-squares intercept of duration ~ rows over the recent
        window. A steady stream produces identical batch sizes (a
        degenerate, zero-determinant fit) — the LAST well-conditioned
        estimate is kept rather than resetting to 0, so the controller
        doesn't unlearn the overhead the moment the loop stabilizes."""
        pts = self._fit_samples
        if len(pts) < 2:
            return self._a_hat
        n = float(len(pts))
        sx = sum(r for r, _ in pts)
        sy = sum(d for _, d in pts)
        sxx = sum(r * r for r, _ in pts)
        sxy = sum(r * d for r, d in pts)
        det = n * sxx - sx * sx
        # require real spread in batch sizes (>1% relative variance),
        # not just float noise, before trusting the fit
        if det <= 1e-4 * sx * sx:
            return self._a_hat
        c = (n * sxy - sx * sy) / det
        a = (sy - c * sx) / n
        # clamp: the intercept can only be a non-negative overhead and
        # can never exceed the smallest batch actually observed
        self._a_hat = max(0.0, min(a, min(d for _, d in pts)))
        return self._a_hat

    def update(
        self,
        time_ms: float,
        num_elements: int,
        processing_delay_ms: float,
        scheduling_delay_ms: float,
    ) -> float | None:
        """Feed one completed batch; returns the new rate estimate
        (records/sec) or None if the sample is unusable."""
        if time_ms <= self._latest_time_ms or num_elements <= 0 or processing_delay_ms <= 0:
            return None
        delay_since_update = time_ms - self._latest_time_ms
        effective_delay_ms = processing_delay_ms
        if self.compensate_overhead:
            self._fit_samples.append(
                (float(num_elements), float(processing_delay_ms))
            )
            del self._fit_samples[: -self.overhead_window]
            a_hat = self._overhead_ms()
            # keep at least 5% of the raw duration so a perfect fit on
            # overhead-dominated samples can't divide by ~zero
            effective_delay_ms = max(
                processing_delay_ms - a_hat, 0.05 * processing_delay_ms
            )
        processing_rate = num_elements / effective_delay_ms * 1000.0
        error = self._latest_rate - processing_rate
        hist_error = scheduling_delay_ms * processing_rate / delay_since_update
        d_error = (
            (error - self._latest_error) / delay_since_update
            if self._latest_error >= 0
            else 0.0
        )
        new_rate = max(
            self._latest_rate
            - self.proportional * error
            - self.integral * hist_error
            - self.derivative * d_error,
            self.min_rate,
        )
        first_run = self._latest_rate < 0
        self._latest_time_ms = time_ms
        self._latest_rate = processing_rate if first_run else new_rate
        self._latest_error = 0.0 if first_run else error
        return self._latest_rate


@dataclass
class TriggerRecord:
    trigger: int
    offered: int
    requested: int
    admitted: int
    dropped: int
    backlog: int
    processing_ms: float
    rate_limit: float


class AdmissionSimulator:
    """Deterministic micro-batch loop: an offered-rate profile vs a
    per-record processing cost, admission controlled by a congestion
    strategy and (optionally) the PID controller."""

    def __init__(
        self,
        per_record_ms: float,
        batch_interval_ms: float = 5000.0,
        strategy: str = "pushback",
        controller: PIDRateController | None = None,
    ) -> None:
        self.per_record_ms = per_record_ms
        self.batch_interval_ms = batch_interval_ms
        self.strategy = strategy
        self.controller = controller
        self.records: list[TriggerRecord] = []

    def run(self, offered_per_trigger: list[int]) -> list[TriggerRecord]:
        backlog = 0
        rate_limit = float("inf")
        scheduling_delay = 0.0
        now = 0.0
        for i, offered in enumerate(offered_per_trigger):
            # the same per-trigger budget rounding as the live source
            limit = (
                max(1, int(rate_limit * self.batch_interval_ms / 1000.0))
                if rate_limit != float("inf")
                else None
            )
            available = offered + backlog
            admitted, dropped, backlog, _ = admit(
                self.strategy, available, limit
            )
            processing_ms = admitted * self.per_record_ms
            now += max(processing_ms, self.batch_interval_ms)
            scheduling_delay = max(
                0.0, scheduling_delay + processing_ms - self.batch_interval_ms
            )
            if self.controller and admitted > 0 and processing_ms > 0:
                est = self.controller.update(
                    now, admitted, processing_ms, scheduling_delay
                )
                if est is not None:
                    rate_limit = est
            self.records.append(
                TriggerRecord(
                    trigger=i,
                    offered=offered,
                    requested=limit if limit is not None else available,
                    admitted=admitted,
                    dropped=dropped,
                    backlog=backlog,
                    processing_ms=processing_ms,
                    rate_limit=rate_limit,
                )
            )
        return self.records
