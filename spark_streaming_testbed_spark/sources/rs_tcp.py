"""Reactive-streams-over-TCP demand wire (SURVEY.md §2.1 S2, §2.6 T4).

The reference's ``toy-rs-tcp`` signals demand as newline-delimited longs
written back over the data socket (``Subscription.request(n)`` →
``socket.write("$n\\n")``, toy-rs-tcp internal/Subscription.scala:11-13)
and the testbed's publisher *drops the excess* when a tick offers more
values than the accumulated demand (``unable to deliver`` accounting,
testbed DataGeneratorActor.scala:259-276). This module provides both
halves live:

- :class:`RsDemandServer` — publisher serving a rate plan over TCP with
  a demand back-channel. ``paced`` mode replays the reference semantics
  exactly: per plan-second, deliver ``min(offered, requested)``, drop
  the surplus, zero the remaining demand when over-offered; ``demand``
  mode is the pull variant (each ``request(n)`` drains the next ``n``
  values), which is what a replayable Spark source wants.
- ``format("rs_tcp")`` — a Spark DataSource whose streaming reader
  sends ``request(rows_per_trigger)`` per micro-batch and admits exactly
  the delivered rows — live two-way demand between a running Spark query
  and the generator.

Like Spark's built-in socket source, the wire has no offsets: replay
within a run is served from a driver-side cache, and the source is for
testbed parity, not fault-tolerant production ingest (use Kafka there).
"""

from __future__ import annotations

import socket
import threading
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..plans.phases import TestPlan


class RsDemandServer:
    """Demand-signaled publisher for a rate plan (see module docstring).

    Accounting (per connection, ``paced`` mode): one record per
    plan-second — ``{"second", "offered", "requested", "delivered",
    "dropped"}`` with the reference's exact semantics: over-offering
    zeroes the remaining demand; zero demand drops the whole batch.
    """

    def __init__(
        self,
        plan: TestPlan,
        max_seconds: int | None = None,
        mode: str = "demand",
    ) -> None:
        if mode not in ("demand", "paced"):
            raise ValueError(f"unknown RsDemandServer mode: {mode}")
        self.mode = mode
        self.values = [v for _, v in plan.rows(max_seconds=max_seconds)]
        self.per_second: list[list[int]] = []
        n_seconds = plan.duration if max_seconds is None else max_seconds
        for s in range(n_seconds):
            vals: list[int] = []
            for dat in plan.values_for(s):
                vals.extend(dat.values)
            self.per_second.append(vals)
        self.accounting: list[dict] = []
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(4)
        self.host, self.port = self._srv.getsockname()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._accept, daemon=True)
        self._thread.start()

    def _accept(self) -> None:
        self._srv.settimeout(0.2)
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except TimeoutError:
                continue
            except OSError:
                break
            threading.Thread(
                target=self._serve_conn, args=(conn,), daemon=True
            ).start()

    def _serve_conn(self, conn: socket.socket) -> None:
        demand_lock = threading.Condition()
        state = {"requested": 0, "closed": False}

        def read_demand() -> None:
            try:
                fh = conn.makefile("r")
                for line in fh:
                    n = int(line.strip() or 0)
                    with demand_lock:
                        state["requested"] += n
                        demand_lock.notify_all()
            except (OSError, ValueError):
                pass
            with demand_lock:
                state["closed"] = True
                demand_lock.notify_all()

        threading.Thread(target=read_demand, daemon=True).start()
        try:
            if self.mode == "demand":
                self._serve_demand(conn, demand_lock, state)
            else:
                self._serve_paced(conn, demand_lock, state)
        except OSError:
            pass
        finally:
            try:
                conn.shutdown(socket.SHUT_WR)
            except OSError:
                pass

    def _serve_demand(self, conn, demand_lock, state) -> None:
        """Pull mode: each request(n) drains the next n plan values."""
        pos = 0
        while pos < len(self.values) and not self._stop.is_set():
            with demand_lock:
                while state["requested"] == 0 and not state["closed"]:
                    if not demand_lock.wait(timeout=0.2) and self._stop.is_set():
                        return
                if state["closed"]:
                    return
                n = min(state["requested"], len(self.values) - pos)
                state["requested"] -= n
            payload = "".join(f"{v}\n" for v in self.values[pos:pos + n])
            conn.sendall(payload.encode())
            pos += n

    def _serve_paced(self, conn, demand_lock, state) -> None:
        """Push mode, reference semantics (DataGeneratorActor.scala:259-276):
        per plan-second, deliver min(offered, requested); over-offering
        drops the surplus AND zeroes the remaining demand; zero demand
        drops the whole batch. The clock starts at the first demand so
        the delivered/dropped split is deterministic for tests."""
        with demand_lock:
            while state["requested"] == 0 and not state["closed"]:
                if not demand_lock.wait(timeout=0.2) and self._stop.is_set():
                    return
            if state["closed"]:
                return
        for second, vals in enumerate(self.per_second):
            if self._stop.is_set() or state["closed"]:
                return
            offered = len(vals)
            with demand_lock:
                requested = state["requested"]
                delivered = min(offered, requested)
                state["requested"] = (
                    0 if offered > requested else requested - offered
                )
            if delivered:
                payload = "".join(f"{v}\n" for v in vals[:delivered])
                conn.sendall(payload.encode())
            self.accounting.append(
                {
                    "second": second,
                    "offered": offered,
                    "requested": requested,
                    "delivered": delivered,
                    "dropped": offered - delivered,
                }
            )

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self._srv.close()


RS_SCHEMA = StructType([
    StructField("idx", LongType()),
    StructField("value", IntegerType()),
])


class RsTcpStreamReader(SimpleDataSourceStreamReader):
    """Driver-side reader holding the two-way socket: each trigger sends
    ``request(rows_per_trigger)`` up the demand channel and admits the
    rows the publisher delivers. Offsets count delivered rows; replay
    within the run is served from a driver-side cache (the wire itself
    is not replayable — same contract as Spark's socket source)."""

    def __init__(self, options: dict) -> None:
        self.host = options.get("host", "127.0.0.1")
        self.port = int(options["port"])
        self.budget = int(options.get("rows_per_trigger", 1000))
        self._sock: socket.socket | None = None
        self._fh = None
        self._eof = False
        self._cache: list[int] = []

    def _ensure_conn(self) -> None:
        if self._sock is None:
            self._sock = socket.create_connection(
                (self.host, self.port), timeout=30
            )
            self._fh = self._sock.makefile("r")

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        pos = start["pos"]
        if self._eof:
            return iter([]), {"pos": pos}
        self._ensure_conn()
        # demand signal: newline long on the back channel
        self._sock.sendall(f"{self.budget}\n".encode())
        rows: list[tuple] = []
        for _ in range(self.budget):
            line = self._fh.readline()
            if not line:  # publisher exhausted the plan and closed
                self._eof = True
                break
            v = int(line.strip())
            rows.append((pos + len(rows), v))
            self._cache.append(v)
        return iter(rows), {"pos": pos + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        lo, hi = start["pos"], end["pos"]
        return iter(
            [(lo + i, v) for i, v in enumerate(self._cache[lo:hi])]
        )

    def stop(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            except OSError:
                pass


class RsTcpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rs_tcp"

    def schema(self) -> StructType:
        return RS_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> RsTcpStreamReader:
        return RsTcpStreamReader(self.options)


def register(spark) -> None:
    from ..session import ensure_session_confs, pickle_datasources_by_value

    ensure_session_confs(spark)
    # the streaming source runner doesn't apply addPyFile includes, so the
    # pickled source must carry its own code (see session.py)
    pickle_datasources_by_value()
    spark.dataSource.register(RsTcpDataSource)


# ---------------------------------------------------------------------------
# Contract query: live two-way demand roundtrip, oracle-checked
# ---------------------------------------------------------------------------

def rs_tcp_roundtrip(spark, sf_dir: str):
    """ORACLE-CHECKED S2/T4 query: serve the fixed+ramp plan over the
    reactive-streams TCP wire (demand mode) and read it back with the
    ``rs_tcp`` Spark source requesting 137 rows per trigger; aggregate
    delivered counts per value. The DuckDB twin re-derives the counts
    from the generator's bucket arithmetic — end-to-end proof the demand
    wire delivers exactly the plan."""
    import uuid

    from pyspark.sql import functions as F

    from ..plans.phases import parse_plan
    from ..session import conf_override
    from .profile_source import _FIXED_RAMP_PLAN_JSON

    plan = parse_plan(_FIXED_RAMP_PLAN_JSON)
    server = RsDemandServer(plan, mode="demand")
    # the running aggregation has TWO state keys (values 7 and 8), so
    # the session's 32 state partitions are pure per-trigger commit tax
    # over the ~7-trigger demand replay — pin the narrow width the other
    # few-key profile replays use (r12 A/B: 6.0 s -> 3.8 s at sf0.1; at
    # scale this knob is frozen into the query's checkpoint)
    with conf_override(spark.conf, {"spark.sql.shuffle.partitions": "4"}):
        try:
            register(spark)
            stream = (
                spark.readStream.format("rs_tcp")
                .option("port", server.port)
                .option("rows_per_trigger", 137)
                .load()
            )
            agg = stream.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
            name = f"rs_{uuid.uuid4().hex[:8]}"
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory").queryName(name).start()
            )
            q.processAllAvailable()
            q.stop()
            return spark.table(name).orderBy("value")
        finally:
            server.close()


RS_TCP_ROUNDTRIP_ORACLE = """
WITH ramp AS (
  SELECT 7 AS value,
         CAST(floor((i+1) * rb) AS INT) - CAST(floor(i * rb) AS INT) AS n
  FROM (SELECT s, i, (50 + (150-50)/4.0*s)/100.0 AS rb
        FROM (SELECT unnest(range(5)) AS s), (SELECT unnest(range(100)) AS i))
), fx AS (
  SELECT 8 AS value,
         CAST(floor((i+1) * (120/100.0)) AS INT) - CAST(floor(i * (120/100.0)) AS INT) AS n
  FROM (SELECT unnest(range(3)) AS s), (SELECT unnest(range(100)) AS i)
), allb AS (SELECT * FROM ramp UNION ALL SELECT * FROM fx)
SELECT value, CAST(sum(n) AS BIGINT) AS cnt
FROM allb GROUP BY value ORDER BY value
"""

RS_TCP_QUERIES = {"rs_tcp_roundtrip": rs_tcp_roundtrip}
RS_TCP_ORACLES = {"rs_tcp_roundtrip": RS_TCP_ROUNDTRIP_ORACLE}
