"""Streaming sinks (SURVEY.md §2.1 S4/S5).

The reference's sinks are a console printer (collect + println per batch,
SimpleStreamingApp.scala:87-91) and a TCP broadcast writer
(DataGeneratorActor.scala:206-216). Rebuilt as distributed sinks:

- :func:`foreach_batch_tsv` — ``foreachBatch`` writer appending the
  reference's TSV lines as text files per epoch (the scalable replacement
  for collect-to-console: executors write, the driver never sees rows);
- ``format("console")`` remains available for debugging via
  :func:`console_sink`;
- :class:`SocketBroadcastServer` + :func:`socket_sink` — the reference's
  TCP fan-out writer (every connected client receives each batch's TSV
  lines, DataGeneratorActor.scala:206-216), driven by ``foreachBatch``.
"""

from __future__ import annotations

import socket
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..sources.socket_source import TcpServer
from .pipeline import tsv_lines


def foreach_batch_tsv(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Returns a foreachBatch function writing each epoch's stats as TSV
    text under ``out_dir/epoch=N/`` — idempotent per epoch (overwrite), so
    replays after failure keep exactly-once file contents."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            tsv_lines(batch_df)
            .write.mode("overwrite")
            .text(f"{out_dir}/epoch={epoch_id}")
        )

    return write


def console_sink(stats: DataFrame, **options):
    """Debug sink: the reference's console printer, distributed."""
    return (
        stats.writeStream.outputMode("update")
        .format("console")
        .options(**options)
    )


class SocketBroadcastServer(TcpServer):
    """Per-connection TCP fan-out endpoint (S5): every client connected
    at broadcast time receives the full payload, mirroring the
    reference's one-writer-per-connection actor
    (DataGeneratorActor.scala:206-216). Dead connections are pruned on
    write failure."""

    def __init__(self, host: str = "127.0.0.1") -> None:
        self._conns: list[socket.socket] = []
        self._lock = threading.Lock()
        super().__init__(host)

    def handle(self, conn: socket.socket) -> None:
        with self._lock:
            self._conns.append(conn)

    def broadcast(self, data: bytes) -> int:
        """Send ``data`` to every live client; returns clients reached."""
        sent = 0
        with self._lock:
            alive = []
            for conn in self._conns:
                try:
                    conn.sendall(data)
                    alive.append(conn)
                    sent += 1
                except OSError:
                    try:
                        conn.close()
                    except OSError:
                        pass
            self._conns = alive
        return sent

    def close(self) -> None:
        super().close()
        with self._lock:
            for conn in self._conns:
                try:
                    conn.close()
                except OSError:
                    pass
            self._conns = []


def socket_sink(stats: DataFrame, server: SocketBroadcastServer,
                mode: str = "update", chunk_lines: int = 1000):
    """TCP broadcast sink (S5): each epoch's stats stream out as the
    reference's TSV wire lines to every connected client.

    Rows flow through ``toLocalIterator`` in bounded chunks — one
    partition in driver memory at a time, never a full collect — and the
    TSV formatting itself stays executor-side (``tsv_lines``)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        chunk: list[str] = []
        for row in tsv_lines(batch_df).toLocalIterator():
            chunk.append(row[0])
            if len(chunk) >= chunk_lines:
                server.broadcast(("\n".join(chunk) + "\n").encode())
                chunk = []
        if chunk:
            server.broadcast(("\n".join(chunk) + "\n").encode())

    return stats.writeStream.outputMode(mode).foreachBatch(write)
