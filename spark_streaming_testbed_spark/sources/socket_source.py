"""TCP socket source (SURVEY.md §2.1 S1) — the reference's literal intake.

The reference reads newline-delimited integers over TCP
(``ssc.socketTextStream``, simple-streaming-app SimpleStreamingApp.scala:51-53)
written by the testbed generator (DataGeneratorActor.scala:206-216). This
module provides both halves for live use and tests:

- :class:`TcpServer` — the bind/accept-loop/close scaffold shared by
  every loopback TCP endpoint of the package (this generator, the
  demand-wire publisher, the broadcast sink), each adding its handler;
- :class:`ProfileSocketServer` — a background thread serving a rate
  plan's values as ``"v\\n"`` lines to every client (the generator side);
- :func:`socket_stream` — ``readStream.format("socket")`` plus the P1
  parse-filter (``try_cast`` + null-drop) and stream-id tagging, i.e. the
  exact head of the reference pipeline.

Production note: socket sources have no replay/offsets — at scale the
same head runs against Kafka with identical downstream plans.
"""

from __future__ import annotations

import socket
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.phases import TestPlan


class TcpServer:
    """Loopback TCP endpoint: binds an ephemeral port and accepts clients
    on a daemon thread, handing each connection to :meth:`handle` on that
    thread. Subclasses set their state before calling ``__init__``, since
    the accept loop starts at once; :meth:`close` stops the loop."""

    def __init__(self, host: str = "127.0.0.1") -> None:
        self._srv = socket.create_server((host, 0), backlog=16)
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
            self.handle(conn)

    def handle(self, conn: socket.socket) -> None:
        raise NotImplementedError

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self._srv.close()


class ProfileSocketServer(TcpServer):
    """Serves a plan's flattened values to each connecting client. Rate
    pacing is collapsed (values sent immediately) — tests verify
    content; pacing lives in the plan's timestamps."""

    def __init__(self, plan: TestPlan, max_seconds: int | None = None) -> None:
        self._payload = "".join(
            f"{v}\n" for _, v in plan.rows(max_seconds=max_seconds)
        ).encode()
        super().__init__()

    def handle(self, conn: socket.socket) -> None:
        try:
            conn.sendall(self._payload)
        except OSError:
            pass
        # leave the connection open; spark's socket source reads until
        # the query stops (closing immediately can drop buffered lines)


def socket_stream(
    spark: SparkSession, host: str, port: int, stream_id: int = 0
) -> DataFrame:
    """The reference pipeline head: socket text lines → parse-filter (P1)
    → ``(value, stream_id)`` with processing-time stamps."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return (
        lines.select(F.expr("try_cast(value AS INT)").alias("value"))
        .where(F.col("value").isNotNull())
        .withColumn("stream_id", F.lit(stream_id))
        .withColumn("ts", F.current_timestamp())
    )
