"""Spark scheduler totals, read from the Spark status store.

Jobs are attributed by job group: the benchmark sets one group per batch
query and per ingest phase, and a streaming query's micro-batch thread
runs its jobs under the query's run id. Totals sum every stage of the
group's jobs. ``task_jvm_cpu_s`` counts JVM executor CPU only, so
``task_run_s - task_jvm_cpu_s`` is mostly Python-worker and Arrow time.
"""

from __future__ import annotations

COUNTS = ("jobs", "stages", "tasks")
TOTALS = ("task_run_s", "task_jvm_cpu_s", "gc_s", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes")
FIELDS = COUNTS + TOTALS


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def group_totals(spark, group: str) -> dict[str, float]:
    """Scheduler totals over every job of job group ``group``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(FIELDS, 0.0)
    stage_ids: set[int] = set()
    for job in _seq(store.jobsList(None)):
        job_group = job.jobGroup()
        if job_group.isDefined() and job_group.get() == group:
            out["jobs"] += 1
            stage_ids.update(_seq(job.stageIds()))
    for stage_id in sorted(stage_ids):
        stage = store.lastStageAttempt(stage_id)
        if stage.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += stage.numCompleteTasks()
        out["task_run_s"] += stage.executorRunTime() / 1e3
        out["task_jvm_cpu_s"] += stage.executorCpuTime() / 1e9
        out["gc_s"] += stage.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += stage.shuffleReadBytes()
        out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
        out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out


def as_layer_metrics(totals: dict[str, float]) -> dict[str, float]:
    return {f"spark.{k}": totals[k] for k in TOTALS}
