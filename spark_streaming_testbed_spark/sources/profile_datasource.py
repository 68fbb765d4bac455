"""Spark 4 Python DataSource for rate-profile plans (SURVEY.md §2.7 F4).

The reference implements a custom receiver contract
(``SubscriberInputDStream`` + the toy-rs-tcp ``Publisher/Subscriber``
factories, simple-streaming-app rs/SubscriberInputDStream.scala:13-49) to
pull demand-driven data into Spark. The Spark-4-native equivalent is the
Python DataSource API: this module registers ``format("rate_profile")``
as a **streaming reader** whose per-microbatch offset range advances
``seconds_per_batch`` plan-seconds at a time — admission control as
offsets, replacing the reactive-streams demand handshake (each trigger
*requests* a bounded slice, exactly like ``Subscription.request(n)``).
A batch render of the same plan is ``profile_source.profile_dataframe``.

Options:

- ``plan`` (JSON test plan), ``max_seconds`` (bound for unbounded
  plans), ``epoch_ms`` (timestamp anchor), ``stream_id``,
  ``seconds_per_batch`` (admission quantum, default 1);
- ``strategy``: ``ignore`` (admit everything, default), ``drop`` (admit
  up to the rate budget, surplus discarded), ``sampling`` (over budget →
  admit every k-th row), ``pushback`` (surplus stays queued at the
  source; offsets simply stop advancing) — the four ``-s`` modes of the
  reference's receiver (test-runs-001/README.md:20-61), applied by
  ``streaming.controller.admit``, the rule the simulator uses too;
- ``rate_limit``: static budget in rows/sec (budget per trigger =
  rate × seconds_per_batch);
- ``control_file``: JSON file ``{"rate": <rows/sec>}`` polled at every
  ``read()`` — the live feedback channel. A ``RateFeedbackListener``
  writing PID estimates here closes the back-pressure loop *mid-run*,
  matching the reference's ``updateRateLimit`` push
  (simple-streaming-app rs/SubscriberInputDStream.scala:43-48);
- ``accounting_file``: JSONL sink for per-trigger
  offered/requested/admitted/dropped/queued accounting — the observables
  the reference logs and parses back (ReceiverLogData.scala:31-36).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    IntegerType,
    StructField,
    StructType,
    TimestampType,
)

from ..plans.phases import TestPlan, parse_plan
from ..streaming.controller import admit
from .profile_source import DEFAULT_EPOCH_MS

SCHEMA = StructType([
    StructField("ts", TimestampType()),
    StructField("value", IntegerType()),
    StructField("stream_id", IntegerType()),
])


def _rows_for_seconds(
    plan: TestPlan, lo: int, hi: int, epoch_ms: int, stream_id: int
) -> Iterator[tuple]:
    import datetime

    for second in range(lo, hi):
        for dat in plan.values_for(second):
            ts = datetime.datetime.fromtimestamp(
                (epoch_ms + dat.time_ms) / 1000.0, tz=datetime.timezone.utc
            ).replace(tzinfo=None)
            for v in dat.values:
                yield (ts, int(v), stream_id)


class ProfileStreamReader(SimpleDataSourceStreamReader):
    """Offsets are ``(plan-second, row-within-second)`` positions; each
    microbatch admits a bounded slice — the structured-streaming form of
    demand signaling (T4), extended with live congestion strategies
    (T2/T3, see module docstring).

    Replay determinism: when rows are dropped the *end* offset also
    records the admission stride (``stride``) and how many rows were
    admitted (``adm``), so ``readBetweenOffsets`` reproduces the exact
    admitted subset from the two offsets alone after a restart.
    """

    def __init__(self, options: dict) -> None:
        self.plan = parse_plan(options["plan"])
        self.max_seconds = int(options.get("max_seconds", 0)) or None
        self.epoch_ms = int(options.get("epoch_ms", DEFAULT_EPOCH_MS))
        self.stream_id = int(options.get("stream_id", 0))
        self.quantum = int(options.get("seconds_per_batch", 1))
        self.strategy = options.get("strategy", "ignore")
        self.rate_limit = float(options.get("rate_limit", 0)) or None
        self.control_file = options.get("control_file")
        self.accounting_file = options.get("accounting_file")
        self._trigger = 0
        # generation watermark: the plan-second the *generator* has
        # produced up to. Advances one quantum per trigger regardless of
        # consumption — a pushback-stalled offset therefore accumulates a
        # backlog of generated-but-unadmitted rows, like a push source.
        self._gen_second = 0

    def initialOffset(self) -> dict:
        return {"second": 0, "row": 0}

    def _current_rate(self) -> float | None:
        """Latest rows/sec budget: control-file estimate wins over the
        static option — polled every trigger, so a listener updating the
        file re-limits the *running* query without a restart."""
        if self.control_file:
            import json
            import os

            try:
                if os.path.exists(self.control_file):
                    with open(self.control_file) as fh:
                        rate = json.load(fh).get("rate")
                    if rate is not None and float(rate) > 0:
                        return float(rate)
            except (OSError, ValueError):
                pass  # torn read during atomic replace: keep previous
        return self.rate_limit

    def _offered(self, lo_s: int, lo_r: int, hi_s: int) -> list[tuple]:
        rows = list(
            _rows_for_seconds(self.plan, lo_s, hi_s, self.epoch_ms, self.stream_id)
        )
        return rows[lo_r:]

    def _advance(self, lo_s: int, lo_r: int, n_admit: int, hi_s: int) -> dict:
        """Position after consuming ``n_admit`` rows from (lo_s, lo_r)."""
        pos = lo_r + n_admit
        for s in range(lo_s, hi_s):
            n_in_s = sum(
                len(d.values) for d in self.plan.values_for(s)
            )
            if pos < n_in_s:
                return {"second": s, "row": pos}
            pos -= n_in_s
        return {"second": hi_s, "row": pos}

    def _account(self, rec: dict) -> None:
        if self.accounting_file:
            import json

            with open(self.accounting_file, "a") as fh:
                fh.write(json.dumps(rec) + "\n")

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo_s, lo_r = start["second"], start.get("row", 0)
        gen_lo = max(self._gen_second, lo_s)
        gen_hi = min(gen_lo + self.quantum, self.plan.n_seconds(self.max_seconds))
        self._gen_second = gen_hi
        n_new = sum(
            len(d.values)
            for s in range(gen_lo, gen_hi)
            for d in self.plan.values_for(s)
        )
        # available = backlog behind the stalled offset + newly generated
        available = self._offered(lo_s, lo_r, gen_hi)
        rate = self._current_rate()
        budget = (
            max(1, int(rate * self.quantum)) if rate is not None else None
        )
        n_admit, dropped, queued, stride = admit(
            self.strategy, len(available), budget
        )
        admitted = available[::stride][:n_admit]
        if dropped:
            end = {"second": gen_hi, "row": 0, "stride": stride, "adm": n_admit}
        else:  # queued (pushback) rows stay behind the offset
            end = self._advance(lo_s, lo_r, n_admit, gen_hi)
        if available:
            self._account(
                {
                    "trigger": self._trigger,
                    "second": lo_s,
                    "row": lo_r,
                    "offered": n_new,
                    "requested": budget if budget is not None else n_new,
                    "admitted": n_admit,
                    "dropped": dropped,
                    "queued": queued,
                }
            )
            self._trigger += 1
        # the runner copies/pickles the prefetched batch and calls next()
        # on it → must be a list_iterator (picklable), not a generator
        return iter(admitted), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        lo_s, lo_r = start["second"], start.get("row", 0)
        hi_s, hi_r = end["second"], end.get("row", 0)
        rows = list(
            _rows_for_seconds(
                self.plan, lo_s, hi_s + (1 if hi_r else 0),
                self.epoch_ms, self.stream_id,
            )
        )
        if hi_r:
            n_tail = sum(len(d.values) for d in self.plan.values_for(hi_s))
            rows = rows[: len(rows) - (n_tail - hi_r)]
        rows = rows[lo_r:]
        return iter(rows[:: end.get("stride", 1)][: end.get("adm")])


class ProfileDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rate_profile"

    def schema(self) -> StructType:
        return SCHEMA

    def simpleStreamReader(self, schema: StructType) -> ProfileStreamReader:
        return ProfileStreamReader(self.options)


def register(spark) -> None:
    from ..session import ensure_session_confs, pickle_datasources_by_value

    ensure_session_confs(spark)  # ships the package to Python workers
    # the streaming source runner doesn't apply addPyFile includes, so the
    # pickled source must carry its own code (see session.py)
    pickle_datasources_by_value()
    spark.dataSource.register(ProfileDataSource)
