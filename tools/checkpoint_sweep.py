"""Checkpoint kill-and-resume sweep over the stateful streaming family.

A 100 TB streaming deployment's defining failure mode is not a slow
query — it is an executor loss or job restart mid-stream.  Structured
Streaming's contract is that restarting from the checkpoint resumes the
state fold exactly where it stopped, so the final answer is identical to
an uninterrupted run.  This sweep proves that contract for EVERY
stateful registry query in ``streaming/stateful.py``:

- each op's source is written ONCE by the registry's own source writer
  (a restart must see the same files — the file-source offset log pins
  file→batch mapping), so the replay keeps the registry's file count
  and chunk order;
- the op runs twice on those files, through the registry's own stream
  transform and output mode at the registry's own shuffle width: once
  uninterrupted, and once with a DETERMINISTIC kill injected at a
  mid-stream trigger boundary — the foreachBatch sink raises on batch
  ``n_files // 2`` before writing anything, so the checkpoint holds
  exactly the earlier commits and the restart must recover state and
  reprocess from there (no timing race, unlike a poll-and-stop kill);
- both runs write each micro-batch's output to ``out/bid=N`` with
  ``mode=overwrite`` (idempotent under at-least-once batch replay, the
  documented foreachBatch semantics), and a per-output-mode finalizer
  derives the op's final answer: update → each key's rows from its last
  emitting batch; append → the union over batches; complete → the last
  batch; merge → the last table of the merge chain;
- the two finals must digest-equal, row for row.

The replays are the registry's ``FileReplay`` parts (``stateful.REPLAYS``),
not copies of them; ``streaming_upsert`` uses the registry's feed writer
and merge step under a restart-safe merge chain (see ``run_upsert``).
Only the kill-injecting sink, the checkpoint restart and the finalizers
live in this tool.

Usage: python tools/checkpoint_sweep.py [sf_dir] [out.json] [op ...]
"""
from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from spark_streaming_testbed_spark.session import (  # noqa: E402
    conf_override,
    get_session,
)
from spark_streaming_testbed_spark.streaming import stateful as st  # noqa: E402
from spark_streaming_testbed_spark.streaming.replay import (  # noqa: E402
    SHUFFLE_PARTITIONS,
    read_replay,
)

KILL_MSG = "checkpoint-sweep injected kill"

#: the memory-sink replays, each run through its registry parts
SPECS = st.REPLAYS
#: every op the sweep proves: the replays plus the foreachBatch MERGE loop
OPS = (*SPECS, "streaming_upsert")


def _n_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "*.parquet")))


def _canon_hh(row):
    """Canonicalize the Misra-Gries JSON payload: dict key order is an
    implementation detail of the fold, not part of the summary."""
    d = row.asDict()
    d["payload"] = tuple(sorted(json.loads(d["payload"]).items()))
    return tuple(d[k] for k in sorted(d))


CANON = {"streaming_heavy_hitters": _canon_hh}


# ---------------------------------------------------------------------------
# Runners
# ---------------------------------------------------------------------------

def _committed_batches(ckpt: str) -> int:
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(commits):
        return 0
    return len(
        [f for f in os.listdir(commits)
         if not f.startswith(".") and not f.endswith(".tmp")]
    )


def _killable(write_batch, kill_bid: int | None):
    """foreachBatch sink that raises the injected kill once, on batch
    ``kill_bid`` and before writing anything; else ``write_batch``."""
    fired = []

    def sink(df, bid):
        if bid == kill_bid and not fired:
            fired.append(bid)
            raise RuntimeError(KILL_MSG)
        write_batch(df, bid)

    return sink


def _run_resumed(start, ckpt: str) -> int:
    """Run ``start()``'s availableNow query to completion; if the
    injected kill fires, restart it once on the same checkpoint. Returns
    the number of batches committed before the kill (0 for the
    uninterrupted arm)."""
    try:
        start().awaitTermination()
        return 0
    except Exception as e:  # noqa: BLE001
        if KILL_MSG not in str(e):
            raise
    committed = _committed_batches(ckpt)
    start().awaitTermination()
    return committed


def _final_rows(spark, name, replay, out):
    df = spark.read.parquet(out)  # bid=N partition discovery
    if replay.mode == "append":
        fin = df.drop("bid")
    elif replay.mode == "complete":
        m = df.agg(F.max("bid")).first()[0]
        fin = df.where(F.col("bid") == m).drop("bid")
    else:  # update: each key's rows from its last emitting batch
        w = Window.partitionBy(*replay.keys)
        fin = (
            df.withColumn("_mb", F.max("bid").over(w))
            .where(F.col("bid") == F.col("_mb"))
            .drop("bid", "_mb")
        )
    canon = CANON.get(name, lambda r: tuple(
        r.asDict()[k] for k in sorted(r.asDict())
    ))
    return sorted(repr(canon(r)) for r in fin.collect())


def _digest(rows: list[str]) -> str:
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _verdict(res: dict, committed: int, rows_un: list[str],
             rows_int: list[str]) -> dict:
    """Record the kill point and compare the two arms' final rows."""
    res.update(
        committed_before_kill=committed,
        interrupted_mid_stream=0 < committed < res["n_source_files"],
        rows=len(rows_un),
        digest_uninterrupted=_digest(rows_un),
        digest_resumed=_digest(rows_int),
    )
    res["equal"] = (
        res["digest_uninterrupted"] == res["digest_resumed"]
        and res["rows"] > 0
    )
    if not res["equal"]:
        res["first_diff"] = next(
            ((a, b) for a, b in zip(rows_un, rows_int) if a != b),
            (f"row counts {len(rows_un)} vs {len(rows_int)}", ""),
        )
    return res


def run_generic(spark, name, replay, sf_dir) -> dict:
    """Kill-and-resume for one registry ``FileReplay``: its own source
    files, transform, output mode and width, into a parquet sink."""
    with tempfile.TemporaryDirectory(prefix=f"cksweep_{name}_") as tmp:
        src = f"{tmp}/src"
        schema, width = replay.write(spark, sf_dir, src)
        n_files = _n_files(src)
        res = {"n_source_files": n_files, "kill_bid": max(1, n_files // 2),
               "width": int(width)}

        def run(arm: str, kill: int | None) -> tuple[int, list[str]]:
            out, ckpt = f"{tmp}/out_{arm}", f"{tmp}/ckpt_{arm}"
            sink = _killable(
                lambda df, bid: df.write.mode("overwrite").parquet(
                    f"{out}/bid={bid}"
                ),
                kill,
            )

            def start():
                return (
                    replay.transform(read_replay(spark, schema, src))
                    .writeStream.outputMode(replay.mode)
                    .foreachBatch(sink)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )

            with conf_override(spark.conf, {SHUFFLE_PARTITIONS: width}):
                committed = _run_resumed(start, ckpt)
            return committed, _final_rows(spark, name, replay, out)

        _, rows_un = run("un", None)
        committed, rows_int = run("int", res["kill_bid"])
        return _verdict(res, committed, rows_un, rows_int)


def run_upsert(spark, sf_dir) -> dict:
    """Kill-and-resume for the foreachBatch MERGE loop.  The registry op's
    ping-pong A/B flip tracks the current table in driver memory, which a
    restart loses — the recoverable shape writes each merge's result to a
    per-batch-id table ``state_N`` reading from ``state_{N-1}``, so batch
    replay re-reads the PRE-batch base (idempotent) and a restart finds
    the chain on disk.  The feed, the base table and the merge step are
    the registry's own (``stateful.upsert_source``,
    ``stateful.merge_upsert``); only the commit protocol differs."""
    with tempfile.TemporaryDirectory(prefix="cksweep_upsert_") as tmp:
        feed = f"{tmp}/feed"
        base = st.upsert_source(spark, sf_dir, feed)
        n_files = _n_files(feed)
        res = {"n_source_files": n_files, "kill_bid": max(1, n_files // 2)}

        def run(arm: str, kill: int | None) -> tuple[int, list[str]]:
            root = f"{tmp}/{arm}"
            base.write.mode("overwrite").parquet(f"{root}/state_seed")

            def merge_batch(batch, bid):
                prev = (
                    f"{root}/state_seed" if bid == 0
                    else f"{root}/state_{bid - 1}"
                )
                st.merge_upsert(spark.read.parquet(prev), batch).write.mode(
                    "overwrite"
                ).parquet(f"{root}/state_{bid}")

            sink = _killable(merge_batch, kill)

            def start():
                return (
                    read_replay(spark, st.UPSERT_FEED_SCHEMA, feed)
                    .writeStream.foreachBatch(sink)
                    .option("checkpointLocation", f"{root}/ckpt")
                    .trigger(availableNow=True)
                    .start()
                )

            committed = _run_resumed(start, f"{root}/ckpt")
            last = max(
                int(d.rsplit("_", 1)[1])
                for d in os.listdir(root)
                if d.startswith("state_") and d != "state_seed"
            )
            rows = sorted(
                repr(tuple(r))
                for r in spark.read.parquet(f"{root}/state_{last}")
                .select("o_orderkey", "cents", "action")
                .collect()
            )
            return committed, rows

        _, rows_un = run("un", None)
        committed, rows_int = run("int", res["kill_bid"])
        return _verdict(res, committed, rows_un, rows_int)


def main() -> int:
    from _guards import guard_artifact_overwrite, validate_sf_dir

    sf_dir = validate_sf_dir(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    )
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    only = set(sys.argv[3:])

    spark = get_session("checkpoint-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    n_equal = n_err = 0
    for name in OPS:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            if name in SPECS:
                res = run_generic(spark, name, SPECS[name], sf_dir)
            else:
                res = run_upsert(spark, sf_dir)
            res["wall_s"] = round(time.time() - t0, 2)
            ok = res["equal"] and res["interrupted_mid_stream"]
            n_equal += int(ok)
            print(
                f"{'PASS' if ok else 'FAIL'} {name}: "
                f"killed at batch {res['kill_bid']}/{res['n_source_files']}"
                f" (committed {res['committed_before_kill']}), "
                f"{res['rows']} rows, equal={res['equal']} "
                f"({res['wall_s']}s)"
            )
        except Exception as e:  # noqa: BLE001
            res = {"err": f"{type(e).__name__}: {e}"}
            n_err += 1
            print(f"FAIL {name}: error: {res['err']}")
        results[name] = res

    total = len(results)
    summary = {
        "sf_dir": sf_dir,
        "n_ops": total,
        "n_recovered_equal": n_equal,
        "n_errors": n_err,
    }
    print(f"\n{n_equal}/{total} recovered hash-equal, {n_err} errors")
    if out_path:
        guard_artifact_overwrite(out_path, total, total - n_equal)
        with open(out_path, "w") as f:
            json.dump({"summary": summary, "ops": results}, f, indent=1)
        print(f"wrote {out_path}")
    return 0 if n_equal == total else 1


if __name__ == "__main__":
    raise SystemExit(main())
