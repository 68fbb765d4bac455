"""The engine's benchmark: one workload per run, one JSON result line.

Usage, from the root of the repository::

    python3 perfbench/run.py --workload live|ingest|batch --seed N \\
        --seconds S --trace 0|1 [--size full|small]

Set-up starts a local session (``session.get_session`` with at most four
worker threads, ``ensure_session_confs`` shipping the engine, one job
run), then stops and restarts it twice on the same JVM; ``setup_s`` is
the median of the three set-ups. A pandas-UDF job then starts the Python
workers, which import the engine; ``session.cold_setup_s`` is process
start to that point, less the restarts. The workload then runs (see ``live.py``,
``ingest.py``, ``batch.py`` and README.md), checks its outputs and
reports. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a
separate traced run, whose spans are written to the work directory.
The line before it is a human-readable summary with every metric's unit
and better-direction and the run's ``error_rate``; the line before that
records the host context. ``--size small`` runs the same workloads on
small inputs, for the benchmark's own tests.

Everything the run writes goes under ``perfbench/.work``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: set-ups per run: the cold one plus restarts on the same JVM
SETUP_REPEATS = 3
MAX_CPUS = 4


class Context:
    """What a workload's ``run`` gets: the session, its seed and size,
    the tracer, the memory sampler and the work directories."""

    def __init__(self, args, spark, tracer, rss, tmp_dir: str) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.tracer = tracer
        self.rss = rss
        self.work_dir = WORK
        self.tmp_dir = tmp_dir


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("live", "ingest", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "small"), default="full")
    return ap.parse_args(argv)


def _environment(tmp_dir: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    size the session for a small shared host."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp_dir,
        "SPARK_LOCAL_DIRS": tmp_dir,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "2g",
        # no JVM, the launcher included, writes its perf data to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData' pyspark-shell",
    })
    sys.path[:0] = [ROOT, HERE]


def _open_session():
    from spark_streaming_testbed_spark.session import ensure_session_confs, get_session

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_session_confs(spark)
    spark.range(1).count()
    return spark


def _warm_workers(spark) -> None:
    """One pandas-UDF job on every worker thread: the Python workers start,
    load Arrow and import the engine that ``ensure_session_confs`` shipped."""
    from pyspark.sql import functions as F

    from spark_streaming_testbed_spark.functions.hanoi import hanoi_burn_us
    from spark_streaming_testbed_spark.session import default_parallelism

    n = default_parallelism()
    spark.range(0, 16 * n, 1, n).select(
        F.sum(hanoi_burn_us((F.col("id") % 4 + 1).cast("int")))).collect()


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    tmp_dir = os.path.join(WORK, f"tmp-{os.getpid()}")
    _environment(tmp_dir)
    try:
        import spark_streaming_testbed_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    os.makedirs(tmp_dir, exist_ok=True)

    import batch
    import host
    import ingest
    import live
    import metrics
    from spans import Tracer

    from spark_streaming_testbed_spark.functions.hanoi import burn_us_per_record

    workload = {"live": live, "ingest": ingest, "batch": batch}[args.workload]
    context = {"load_start": os.getloadavg()[0], "cpus": host.usable_cpus()}
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.setup"):
                spark = _open_session()
            cold_setup_s = time.perf_counter() - PROCESS_START
            setups = [time.perf_counter() - t0]
            for _ in range(SETUP_REPEATS - 1):
                spark.stop()
                t0 = time.perf_counter()
                with tracer.span("session.setup"):
                    spark = _open_session()
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.span("session.warm_workers"):
                _warm_workers(spark)
            cold_setup_s += time.perf_counter() - t0
            ctx = Context(args, spark, tracer, rss, tmp_dir)
            res = workload.run(ctx)
            peak_rss_mb = max(rss.peak_bytes, rss.sample()) / 2**20
        context["kernel_us_per_row_h7"] = burn_us_per_record(7, reps=5000)
        context["load_end"] = os.getloadavg()[0]
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(tmp_dir, ignore_errors=True)

    lat = res["latencies_ms"]
    e2e = {
        "setup_s": statistics.median(setups),
        "latency_p50_ms": metrics.percentile(lat, 50) if len(lat) else 0.0,
        "latency_p99_ms": metrics.percentile(lat, 99) if len(lat) else 0.0,
        "throughput_per_s": res["throughput_per_s"],
    }
    if args.trace:
        values = dict.fromkeys(metrics.PER_LAYER, 0.0)
        values.update(res["layer"])
        values.update({
            "session.cold_setup_s": cold_setup_s,
            "session.peak_rss_mb": peak_rss_mb,
            "functions.kernel_us_per_row_h7": context["kernel_us_per_row_h7"],
            "trace.latency_p50_ms": e2e["latency_p50_ms"],
            "trace.latency_p99_ms": e2e["latency_p99_ms"],
            "trace.throughput_per_s": e2e["throughput_per_s"],
            "trace.latency_samples": len(lat),
        })
        names = metrics.PER_LAYER
        tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    else:
        values, names = e2e, metrics.END_TO_END
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({"host": context}))
    print(metrics.summary_line(
        args.workload, values, names, attempted, failed,
        {**res["summary"], "latency_samples": len(lat), "cold_setup_s": cold_setup_s,
         "peak_rss_mb": peak_rss_mb}))
    print(metrics.result_line(failed == 0, attempted, failed, values, names),
          flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
