"""The sessions ``get_spark`` builds fork their Python workers from the
package's daemon (``logsight_filebeat_spark.pyworker``), which re-reads a
zip archive's directory only when the archive has changed.

These tests pin that the daemon is the one running, that zips added or
rewritten between tasks are still imported fresh, and that a session
started outside the repository can still start its workers.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from pyspark import SparkFiles
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _on_workers(spark, fn, partitions: int = 4) -> list:
    """``fn()`` evaluated by a Python UDF in every one of ``partitions``
    tasks."""
    udf = F.udf(lambda _: fn(), "string")
    df = spark.range(partitions).repartition(partitions)
    rows = df.select(udf("id").alias("v")).collect()
    return [r.v for r in rows]


def test_workers_run_the_package_daemon(spark):
    def invalidate_caches_file():
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    got = _on_workers(spark, invalidate_caches_file)
    want = os.path.join("logsight_filebeat_spark", "pyworker.py")
    assert got and all(f.endswith(want) for f in got), got


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_added_and_rewritten_zips_are_imported_fresh(spark, tmp_path):
    """A zip added after the workers started is importable by the next
    task; rewriting it (a changed module and a new one) is seen by the task
    after that, in every worker."""
    _on_workers(spark, lambda: "warm")  # workers up before the zip exists
    src = tmp_path / "lfs_zip_probe.zip"
    _write_zip(src, {"lfs_zip_probe_a": "VALUE = 'one'\n"})
    spark.sparkContext.addPyFile(str(src))

    def import_a():
        import importlib
        import sys

        sys.modules.pop("lfs_zip_probe_a", None)
        return importlib.import_module("lfs_zip_probe_a").VALUE

    assert set(_on_workers(spark, import_a)) == {"one"}

    # the workers read the copy Spark keeps in its files directory
    _write_zip(SparkFiles.get(src.name), {
        "lfs_zip_probe_a": "VALUE = 'two, rewritten'\n",
        "lfs_zip_probe_b": "VALUE = 'new'\n",
    })

    def import_both():
        import importlib

        b = importlib.import_module("lfs_zip_probe_b").VALUE
        return f"{import_a()}|{b}"

    assert set(_on_workers(spark, import_both)) == {"two, rewritten|new"}


def test_session_started_outside_the_repo_runs_python_udfs(tmp_path):
    """The JVM starts the daemon as ``python -m <module>`` from its own
    working directory; the package must still be importable there."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from logsight_filebeat_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        plus = F.udf(lambda x: x + 1, "long")
        print("RESULT", spark.range(3).select(plus("id")).collect())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT [Row(<lambda>(id)=1), Row(<lambda>(id)=2), Row(<lambda>(id)=3)]" in proc.stdout
