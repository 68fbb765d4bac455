"""Open-loop load generator for the ``live`` workload.

Runs as its own process so that its pacing never shares an interpreter
with the engine's Spark session. It renders a rate plan into 10 ms buckets with
``TestPlan.values_for`` (the reference testbed's bucket arithmetic) and
writes each bucket's values as ``"v\\n"`` lines to the one TCP client at
the bucket's wall-clock due time, however far behind the reader is.

Protocol on stdout, one JSON object per line:

1. ``{"port": p}`` once listening on 127.0.0.1;
2. ``{"t0": epoch_s}`` once the client connected: bucket ``time_ms`` is
   due at ``t0 + time_ms / 1000``;
3. ``{"sent": n, "late_ms": [...]}`` after the last bucket: rows written
   and, per bucket, how late the write started against its due time.

The process then holds the connection open until its stdin closes, so
the reader never sees an early end of stream.

Usage: ``python3 generator.py '<plan json>' <phase_ms>``
"""

from __future__ import annotations

import json
import math
import os
import socket
import sys
import time


def _emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spark_streaming_testbed_spark.plans import parse_plan

    plan = parse_plan(argv[0])
    phase_ms = int(argv[1])
    if plan.duration is None:
        raise SystemExit("generator: the plan must have a finite duration")
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as srv:
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        _emit({"port": srv.getsockname()[1]})
        conn, _ = srv.accept()
    with conn:
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        # start on a whole second plus the seeded phase, at least 0.5 s
        # out, so the first buckets are not due before pacing begins
        t0 = math.ceil(time.time() + 0.5) + phase_ms / 1000.0
        _emit({"t0": t0})
        sent = 0
        late_ms: list[float] = []
        for second in range(plan.duration):
            for bucket in plan.values_for(second):
                due = t0 + bucket.time_ms / 1000.0
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                late_ms.append(max(0.0, (time.time() - due) * 1000.0))
                conn.sendall("".join(f"{v}\n" for v in bucket.values).encode())
                sent += len(bucket.values)
        _emit({"sent": sent, "late_ms": [round(x, 3) for x in late_ms]})
        sys.stdin.read()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
