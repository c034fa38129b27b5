"""The sessions ``get_spark`` builds use the package's local file system
(``logsight_filebeat_spark.jvm.NioLocalFileSystem``), which makes in-process
the ``chmod`` and ``readlink`` calls Hadoop's stock one starts a process for.

These tests pin that a batch and a stream micro-batch start no such
process, that the file system leaves the same files with the same modes as
Hadoop's, and that the committed jar is the compiled source.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from logsight_filebeat_spark.session import LOCALFS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE = os.path.join(REPO, "logsight_filebeat_spark", "jvm", "NioLocalFileSystem.java")
COUNTED = ("chmod", "readlink")


def _counting_bin(tmp_path) -> str:
    """A directory of ``chmod``/``readlink`` wrappers that log each call to
    ``<tmp_path>/calls.<name>`` before running the real command."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    for name in COUNTED:
        real = shutil.which(name)
        assert real, name
        log = tmp_path / f"calls.{name}"
        wrapper = bin_dir / name
        wrapper.write_text(f'#!/bin/sh\necho "$*" >> {str(log)!r}\nexec {real!r} "$@"\n')
        wrapper.chmod(0o755)
    return str(bin_dir)


def test_batch_and_stream_start_no_chmod_or_readlink(tmp_path):
    """One ``run_batch`` and a one-file ``run_stream`` on a fresh session.
    With Hadoop's stock local file system this run started 66 ``chmod``
    for the batch, 9 to stage the input file and 56 ``chmod`` plus 32
    ``readlink`` for the stream."""
    script = textwrap.dedent(f"""
        import json, os, sys
        sys.path.insert(0, {REPO!r})
        from logsight_filebeat_spark.operators.enrich import url_host
        from logsight_filebeat_spark.plans.pipeline import Lookup, compile, standard_pages_config
        from logsight_filebeat_spark.session import get_spark
        from logsight_filebeat_spark.sources.pages import host_meta, pages
        from logsight_filebeat_spark.streaming.micro_batch import run_stream

        def calls():
            out = {{}}
            for name in {COUNTED!r}:
                try:
                    with open(os.path.join({str(tmp_path)!r}, "calls." + name)) as fh:
                        out[name] = len(fh.readlines())
                except FileNotFoundError:
                    out[name] = 0
            return out

        spark = get_spark(master="local[2]", shuffle_partitions=2)
        work = {str(tmp_path)!r}
        plan = compile(standard_pages_config(), lookups=[Lookup(
            host_meta(spark), url_host("url"), {{"site_category": "site_category"}}, "host")])
        phases = {{"session": calls()}}
        plan.run_batch(spark, pages(spark, 200, seed=1), "b0", sink_root=work + "/batch")
        phases["run_batch"] = calls()
        pages(spark, 200, seed=2).coalesce(1).write.parquet(work + "/in")
        phases["stage_input"] = calls()
        q = run_stream(spark, plan, work + "/in", work + "/stream",
                       checkpoint_dir=work + "/ck")
        assert q.awaitTermination(300) and q.exception() is None
        phases["run_stream"] = calls()
        spark.stop()
        print("PHASES", json.dumps(phases))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PATH"] = _counting_bin(tmp_path) + os.pathsep + env.get("PATH", "")
    env["SPARK_DRIVER_MEM"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("PHASES ")]
    phases = json.loads(line[len("PHASES "):])
    assert phases["run_stream"] == phases["session"], phases


def test_get_spark_raises_when_the_running_jvm_lacks_the_jar(tmp_path):
    """A class path is fixed when its JVM starts. After a stock session has
    started and stopped, the driver JVM has no ``localfs.jar``, so
    ``get_spark`` must stop the session it got and raise at once instead
    of leaving a session whose first ``file:`` access fails with
    ``ClassNotFoundException``."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from logsight_filebeat_spark.session import get_spark

        SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false") \\
            .getOrCreate().stop()
        try:
            get_spark(master="local[1]", shuffle_partitions=1)
        except RuntimeError as e:
            print("RAISED", e)
        print("ACTIVE", SparkSession.getActiveSession())
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("RAISED ")]
    assert LOCALFS_JAR in line and "--driver-class-path" in line, line
    assert "ACTIVE None" in proc.stdout.splitlines(), proc.stdout  # the session was stopped


# --- the file system's semantics against Hadoop's stock one ---------------


@pytest.fixture(scope="module")
def hadoop(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm, conf, jvm.org.apache.hadoop.fs


def _stock_raw(hadoop, conf=None):
    """Hadoop's own RawLocalFileSystem, under ``conf`` (default: the session's)."""
    jvm, session_conf, fs = hadoop
    raw = fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), session_conf if conf is None else conf)
    return raw


def _mode(path: str) -> int:
    return stat.S_IMODE(os.lstat(path).st_mode)


def test_session_file_systems_are_the_package_ones(hadoop):
    jvm, conf, fs = hadoop
    local = fs.FileSystem.getLocal(conf)
    assert local.getClass().getName() == "logsight_filebeat_spark.jvm.NioLocalFileSystem"
    assert jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem").isInstance(local)
    fc = fs.FileContext.getLocalFSFileContext(conf)
    assert (
        fc.getDefaultFileSystem().getClass().getName()
        == "logsight_filebeat_spark.jvm.NioLocalFileSystem$Fs"
    )


def test_partitioned_write_modes_and_crc_match_stock(spark, hadoop, tmp_path):
    jvm, conf, fs = hadoop
    out = tmp_path / "out"
    spark.range(40).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(str(out))

    stock = _stock_raw(hadoop)
    stock.mkdirs(fs.Path(str(tmp_path / "stock" / "d")))
    stock.create(fs.Path(str(tmp_path / "stock" / "d" / "f")), True).close()
    dir_mode, file_mode = _mode(tmp_path / "stock" / "d"), _mode(tmp_path / "stock" / "d" / "f")

    dirs = [p for p in glob.glob(f"{out}/**", recursive=True) if os.path.isdir(p)]
    files = [p for p in glob.glob(f"{out}/**/*", recursive=True) if os.path.isfile(p)]
    files += glob.glob(f"{out}/**/.*.crc", recursive=True)
    parts = [p for p in files if os.path.basename(p).startswith("part-")]
    assert len(dirs) == 4 and len(parts) >= 3
    assert {_mode(p) for p in dirs} == {dir_mode}
    assert {_mode(p) for p in files} == {file_mode}
    for p in parts + [f"{out}/_SUCCESS"]:  # .crc side files are still written
        head, name = os.path.split(p)
        assert os.path.isfile(os.path.join(head, f".{name}.crc")), p


def test_new_files_and_dirs_follow_the_configured_umask(hadoop, tmp_path):
    jvm, session_conf, fs = hadoop
    conf = jvm.org.apache.hadoop.conf.Configuration(session_conf)
    conf.set("fs.permissions.umask-mode", "027")
    nio = fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
    assert nio.getClass().getName() == "logsight_filebeat_spark.jvm.NioLocalFileSystem"
    stock = _stock_raw(hadoop, conf)
    for name, impl in (("nio", nio), ("stock", stock)):
        impl.mkdirs(fs.Path(str(tmp_path / name / "a" / "b")))
        impl.create(fs.Path(str(tmp_path / name / "a" / "b" / "f")), True).close()
    nio.close()
    for rel in ("a", "a/b", "a/b/f"):
        assert _mode(tmp_path / "nio" / rel) == _mode(tmp_path / "stock" / rel), rel
    assert _mode(tmp_path / "nio" / "a") == 0o750
    assert _mode(tmp_path / "nio" / "a" / "b" / "f") == 0o640


@pytest.mark.parametrize("mode, is_dir", [(0o600, False), (0o1777, True), (0o1750, True)])
def test_set_permission_reads_back_exactly(hadoop, tmp_path, mode, is_dir):
    """Plain modes are set through java.nio; a sticky bit goes to Hadoop."""
    jvm, conf, fs = hadoop
    target = tmp_path / "t"
    target.mkdir() if is_dir else target.write_text("x")
    local = fs.FileSystem.getLocal(conf)
    local.setPermission(fs.Path(str(target)), fs.permission.FsPermission(mode))
    assert _mode(target) == mode
    assert local.getFileStatus(fs.Path(str(target))).getPermission().toShort() == mode


def test_file_link_status_matches_stock(hadoop, tmp_path):
    jvm, conf, fs = hadoop
    (tmp_path / "target").write_text("twelve bytes")
    os.symlink(tmp_path / "target", tmp_path / "link")
    local = fs.FileSystem.getLocal(conf)
    stock = _stock_raw(hadoop)
    fc = fs.FileContext.getLocalFSFileContext(conf)

    link = fs.Path(str(tmp_path / "link"))
    got = local.getFileLinkStatus(link)
    want = stock.getFileLinkStatus(link)
    assert got.isSymlink() and want.isSymlink()
    assert got.getSymlink().toString() == want.getSymlink().toString() == f"file:{tmp_path}/target"
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    stock_fc = fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), stock_conf)
    got, want = fc.getFileLinkStatus(link), stock_fc.getFileLinkStatus(link)
    assert got.isSymlink() and want.isSymlink()
    assert got.getSymlink().toString() == want.getSymlink().toString()

    plain = fs.Path(str(tmp_path / "target"))
    got, want = local.getFileLinkStatus(plain), stock.getFileLinkStatus(plain)
    assert not got.isSymlink() and not want.isSymlink()
    assert (got.getLen(), got.isFile(), got.getPath()) == (want.getLen(), want.isFile(), want.getPath())

    missing = fs.Path(str(tmp_path / "missing"))
    for impl in (local, stock):
        with pytest.raises(Py4JJavaError) as e:
            impl.getFileLinkStatus(missing)
        assert e.value.java_exception.getClass().getName() == "java.io.FileNotFoundException"


# --- the committed jar is the compiled source ------------------------------


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK to compile the source")
def test_jar_is_the_compiled_source(tmp_path):
    """tools/build_localfs_jar.sh builds the jar; rebuild it after editing
    the source."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    subprocess.run(
        ["javac", "--release", "17", "-cp", os.path.join(jars, "*"),
         "-d", str(tmp_path), SOURCE],
        check=True, capture_output=True, text=True,
    )
    compiled = {
        os.path.relpath(p, tmp_path): open(p, "rb").read()
        for p in glob.glob(f"{tmp_path}/**/*.class", recursive=True)
    }
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(committed) == sorted(compiled)
    for name, body in compiled.items():
        assert committed[name] == body, f"{name} differs: run tools/build_localfs_jar.sh"
