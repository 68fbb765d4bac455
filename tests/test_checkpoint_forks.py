"""Checkpoint renames must not fork `readlink`.

Without Hadoop's native library, the FileContext-based checkpoint file
manager forks `readlink` several times for every checkpoint rename (the
offset and commit logs, each state partition's delta and checksum
file), which made process start-up most of a stateful trigger's
checkpoint commit time. `get_session` selects the FileSystem-based
manager, whose local rename is `File.renameTo`. This test records the
driver JVM's `jdk.ProcessStart` events with JFR around a short stateful
stream and counts the `readlink` commands among them. (Hadoop still
forks `chmod` for each file it creates; only `libhadoop` removes that.)
"""

from __future__ import annotations

import time

import pytest
from py4j.protocol import Py4JError


def _readlink_starts(spark, run) -> int:
    jvm = spark._jvm
    try:
        rec = jvm.jdk.jfr.Recording()
    except Py4JError as exc:  # no jdk.jfr module in this JVM
        pytest.skip(f"jdk.jfr is not available: {exc}")
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        run()
        rec.stop()
        dump = jvm.java.io.File.createTempFile("ckpt_forks", ".jfr")
        try:
            rec.dump(dump.toPath())
            events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(
                dump.toPath()
            )
            commands = [str(e.getString("command")) for e in events]
        finally:
            dump.delete()
    finally:
        rec.close()
    return sum(1 for c in commands if c.split(" ", 1)[0].endswith("readlink"))


def test_stateful_stream_checkpoints_fork_no_readlink(spark, tmp_path):
    def run():
        counts = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 100)
            .load()
            .groupBy()
            .count()
        )
        q = (
            counts.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                progress = q.lastProgress
                if progress and progress["batchId"] >= 4:
                    break
                assert q.exception() is None, q.exception()
                time.sleep(0.1)
            else:
                pytest.fail("stream did not complete 5 triggers in 60 s")
        finally:
            q.stop()

    assert _readlink_starts(spark, run) == 0
