"""Per-task import cost in Python workers, and the shipped engine zip.

PySpark's worker calls ``importlib.invalidate_caches()`` on every task;
under CPython 3.11 that re-reads the central directory of every cached
``zipimporter``. Importing the engine package drops the per-package
zip sub-importers (``spark_streaming_testbed_spark._trim_zip_subimporters``)
so a task re-reads only the archive roots.
"""
from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

import spark_streaming_testbed_spark
from spark_streaming_testbed_spark.session import _engine_zip_path, ensure_session_confs

REPO_ROOT = os.path.dirname(os.path.dirname(spark_streaming_testbed_spark.__file__))

#: zip importers a worker task may hold once the engine is imported.
#: Measured 4 with this file run alone (the archive roots of pyspark.zip,
#: py4j, spark-core's jar and the shipped engine zip; 6 when the engine
#: is imported from that zip rather than the worker's cwd) and 9 after
#: the whole suite ran in the same workers, which imported more pyspark
#: packages after the trim. Without the trim: 17 alone, 20 after the suite.
MAX_WORKER_ZIP_IMPORTERS = 12


def test_trim_keeps_zip_imports_working(tmp_path):
    archive = tmp_path / "nested.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("outer/__init__.py", "")
        z.writestr("outer/inner/__init__.py", "")
        z.writestr("outer/inner/leaf.py", "VALUE = 1\n")
        z.writestr("outer/inner/later.py", "VALUE = 2\n")
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipimport
        sys.path[:0] = [{str(archive)!r}, {REPO_ROOT!r}]
        import outer.inner.leaf as leaf

        def zips():
            return {{k: f for k, f in sys.path_importer_cache.items()
                     if isinstance(f, zipimport.zipimporter)}}

        assert any(f.prefix for f in zips().values()), zips()
        import spark_streaming_testbed_spark  # noqa: F401
        assert not [k for k, f in zips().items() if f.prefix], zips()
        assert isinstance(sys.path_importer_cache[{str(archive)!r}],
                          zipimport.zipimporter)
        importlib.invalidate_caches()
        import outer.inner.later as later
        assert later.VALUE == 2
        data = leaf.__loader__.get_data(leaf.__file__)
        assert data == b"VALUE = 1\\n", data
        print("ok")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=tmp_path
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_worker_tasks_hold_few_zip_importers(spark):
    ensure_session_confs(spark)

    @pandas_udf("long")
    def zip_importers(v: pd.Series) -> pd.Series:
        import sys
        import zipimport

        from spark_streaming_testbed_spark.functions import hanoi  # noqa: F401

        if not any(p.endswith("pyspark.zip") for p in sys.path):
            return pd.Series([-1] * len(v))
        n = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return pd.Series([n] * len(v))

    def run() -> int:
        df = spark.range(1, numPartitions=1)
        return df.agg(F.max(zip_importers("id"))).first()[0]

    first, second = run(), run()
    if second < 0:
        pytest.skip("workers import pyspark from an unzipped path")
    print(f"worker zip importers: first task {first}, second task {second}")
    assert second <= MAX_WORKER_ZIP_IMPORTERS


def test_engine_zip_key_sees_same_second_edits(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    mod = pkg / "mod.py"
    mod.write_text("A = 1\n")
    (pkg / "other.py").write_text("B = 2\n")
    second_ns = 1_700_000_000 * 10**9
    os.utime(mod, ns=(second_ns, second_ns + 1000))
    before, sources = _engine_zip_path(str(pkg))
    assert sorted(os.path.basename(p) for p in sources) == ["mod.py", "other.py"]

    os.utime(mod, ns=(second_ns, second_ns + 2000))  # same whole second
    touched, _ = _engine_zip_path(str(pkg))
    assert touched != before

    (pkg / "other.py").unlink()
    removed, _ = _engine_zip_path(str(pkg))
    assert removed not in (before, touched)
