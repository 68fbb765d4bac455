"""spark_streaming_testbed_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
``skyluc/spark-streaming-testbed`` (reference, read-only at
``/root/reference``), re-expressed Spark-first:

- batch analytics as declarative DataFrame/SQL plans (Catalyst optimizes),
- the streaming testbed semantics as Structured Streaming
  (event-time tumbling windows, admission control, ``foreachBatch`` sinks),
- the deterministic rate-profile generator as pure Python + DataFrame
  materialization (``plans/``),
- the log-analytics pipeline as regex-extract DataFrame transforms
  (``sources/loglake.py``),
- plus LLM-data-pipeline operators (dedup, similarity search, text
  analysis, multimodal columns) designed for 100 TB scale.

Layout:
    plans/      rate-profile test plans (fixed/ramp/cycle/loop/noop)
    sources/    profile source materialization, log-lake parsers
    operators/  relational + dedup + similarity + text + multimodal ops
    functions/  scalar/agg function helpers (stats exprs, hanoi kernel)
    streaming/  structured-streaming pipelines + rate controller
"""

__version__ = "0.1.0"


def _trim_zip_subimporters() -> None:
    """Drop the per-package ``zipimporter`` entries from
    ``sys.path_importer_cache``, once per Python process.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
    Under CPython 3.11 that makes every cached ``zipimporter`` re-read
    its archive's central directory, and importing a package from a zip
    caches one importer per package directory (``prefix`` set), on top
    of the one for the archive root. A worker that imports pyspark from
    ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) holds 16-20
    of them once a pandas UDF has run; measured inside a worker on a
    4-CPU x86-64 container, the 17 importers of a kernel task took
    225-230 ms per task, whatever its input size. After the trim 4 are
    left (the archive roots) and the call takes 35-45 ms, most of it the
    spark-core jar PySpark also puts on the worker path. CPython 3.13
    made the invalidation lazy.

    Dropping a sub-importer is safe: modules it loaded keep it as their
    ``__loader__``, with the directory it read, which stays valid while
    the archive is unchanged; a later import under that package builds
    a new one from the directory already parsed into
    ``zipimport._zip_directory_cache``. The archive-root importers stay,
    so every ``sys.path`` entry still resolves as before. In the driver
    (pyspark from site-packages) there is nothing to drop. Packages a
    worker first imports after this point get sub-importers again, so a
    long-lived worker that runs many kinds of task holds a few more.
    """
    import sys
    import zipimport

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            sys.path_importer_cache.pop(path, None)


_trim_zip_subimporters()
