"""SparkSession factory tuned for the log-pipeline workload.

Scale stance: these configs are chosen for a multi-executor cluster reading
~100 TB; the sandbox runs them on local[N]. Everything here is stock Spark —
AQE (runtime re-planning, skew-join splitting, partition coalescing), Arrow
batching for the single vectorized parse stage, and a shuffle-partition count
sized to the local core count (on a real cluster this is set per-job from
input size / target partition bytes) — except the Python-worker daemon and
the local file system.

Python workers are forked from ``logsight_filebeat_spark.pyworker`` instead
of ``pyspark.daemon``. Stock pyspark re-reads the directory of every zip on
the worker's ``sys.path`` at the start of every task, once per importer, and
importing pyspark from ``pyspark.zip`` makes a dozen or more: tens of ms
of Python CPU per task before a row moves, which dominated the Arrow grok
stage. The package's daemon re-reads an archive only when it has changed
(see that module). The JVM starts the daemon as ``python -m <module>`` from its own
working directory, so the package's parent directory goes on the workers'
``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, merged with any value the
caller passes), or a session started elsewhere could not run a Python UDF.

``file:`` paths go through ``logsight_filebeat_spark.jvm.NioLocalFileSystem``
(``spark.hadoop.fs.file.impl`` and ``fs.AbstractFileSystem.file.impl``).
pyspark ships no ``libhadoop``, so Hadoop's stock local file system starts a
``chmod`` process for every file and directory it creates and a ``readlink``
process for every ``FileContext`` rename: 44 and 24 per stream micro-batch,
about 3 ms each, a fifth of a small batch. The package's file system makes
the same system calls in-process through ``java.nio`` and is otherwise
Hadoop's checksummed ``LocalFileSystem`` (same ``.crc`` files, same layout).
Its compiled jar, ``jvm/localfs.jar``, goes first on the driver's and the
executors' ``extraClassPath``, merged with any value the caller passes. A
class path is fixed when its JVM starts: in a process whose driver JVM is
already running (spark-submit, or a stopped session built elsewhere), pass
the jar at launch (``--driver-class-path``): ``get_spark`` raises a
``RuntimeError`` when the running JVM cannot load the class.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory holding this package, for the Python workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# jvm/NioLocalFileSystem.java, compiled (tools/build_localfs_jar.sh)
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")

# path-list confs whose first entry the package needs; a caller's entries are
# kept after it
_PATH_CONFS = {
    "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
    "spark.driver.extraClassPath": LOCALFS_JAR,
    # executors read the same spark.hadoop.* settings, so a cluster executor
    # writing a file: path needs the classes too
    "spark.executor.extraClassPath": LOCALFS_JAR,
}
_LOCAL_FS = "logsight_filebeat_spark.jvm.NioLocalFileSystem"
# the package's non-stock parts (see the module docstring)
_PACKAGE_CONF = {
    "spark.python.daemon.module": "logsight_filebeat_spark.pyworker",
    "spark.hadoop.fs.file.impl": _LOCAL_FS,
    "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_LOCAL_FS}$Fs",
}

# Arrow batch size for the vectorized parse stage (SURVEY §4.2): big enough to
# amortize the JVM->Python hop, small enough that a batch of pages with large
# `html`/`text` payloads stays comfortably in worker memory.
ARROW_MAX_RECORDS_PER_BATCH = 4096


def task_retry_conf(max_retries: int) -> dict[str, str]:
    """Map the reference's per-batch retry budget onto Spark's task-attempt
    budget. Reference: max_retries=20 (plugin/config.go:67) consumed by the
    SuccessNet/WithBackoff wrappers (plugin/logsight.go:60-63) — each failed
    publish is retried up to the budget with backoff. Spark's analogue is
    ``spark.task.maxFailures``, which counts ATTEMPTS (so budget + 1);
    backoff between attempts is the scheduler's, and job-level rerun on top
    of that is the lineage resume (sinks/lineage.py), which is what upgrades
    the reference's at-least-once to exactly-once.

    Must be applied at SparkContext creation (it is a core scheduler conf —
    a running session ignores it): pass via ``get_spark(max_retries=...)``
    or spark-submit ``--conf``.

    Local-mode caveat: a bare ``local[N]`` master hardcodes maxFailures=1
    and IGNORES this conf — retries only exist locally under the
    ``local[N,F]`` master form. ``get_spark`` handles that rewrite itself;
    anything else launching local masters must use ``local[N,F]`` directly
    (spark-submit --master "local[8,21]").
    """
    return {"spark.task.maxFailures": str(max(0, max_retries) + 1)}


def get_spark(
    app_name: str = "logsight-filebeat-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    max_retries: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the pipeline's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) in
    the sandbox; on a real cluster the caller passes none and spark-submit
    supplies the master. ``max_retries`` maps the job config's retry budget
    onto ``spark.task.maxFailures`` (task_retry_conf).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism on local[N]; a real deployment sizes this from
        # input bytes / spark.sql.files.maxPartitionBytes. Non-local masters
        # (and local[*]) keep Spark's cluster default.
        m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
        shuffle_partitions = max(int(m.group(1)), 4) if m else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # files.maxPartitionBytes default 128m is right for the parquet scans;
        # keep autoBroadcastJoinThreshold default (10m) — dims are tiny and we
        # additionally hint F.broadcast explicitly at every dim join.
        .config("spark.ui.enabled", "false")
        # local mode: every executor thread shares the driver JVM — size the
        # heap for 32 allocation-heavy threads (string/array churn in the
        # parse stage) or GC serializes the whole pipeline. 24g measured best
        # here: bigger heaps are slower in this sandbox (a Firecracker microVM
        # where FIRST TOUCH of new guest memory is an expensive host fault, so
        # a huge heap pays minutes of kernel time faulting in; a small heap
        # GC-thrashes). A real cluster sizes executor memory per-node instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # -XX:-DontCompileHugeMethods (spark.executor.extraJavaOptions on a
        # real cluster): whole-stage codegen for this pipeline (multiline
        # fold + grok + validation + router fused into one stage) emits
        # methods past HotSpot's 8 KB compile limit; without the flag they
        # run interpreted, 10-40× slower.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        )
    )
    if max_retries is not None:
        for k, v in task_retry_conf(max_retries).items():
            builder = builder.config(k, v)
        # local[N] ignores spark.task.maxFailures (hardcoded 1); the retry
        # budget only takes effect locally via the local[N,F] master form
        attempts = max(0, max_retries) + 1
        m = re.fullmatch(r"local\[([^\],]+)\]", master)
        if m:
            builder = builder.master(f"local[{m.group(1)},{attempts}]")
    extra_conf = dict(extra_conf or {})
    for k, v in _PACKAGE_CONF.items():
        builder = builder.config(k, v)
    for k, first in _PATH_CONFS.items():
        rest = [p for p in extra_conf.pop(k, "").split(os.pathsep) if p and p != first]
        builder = builder.config(k, os.pathsep.join([first] + rest))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if not SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(_LOCAL_FS):
        # every file: access of this session would fail, and a later
        # getOrCreate() would hand it out again
        spark.stop()
        raise RuntimeError(
            f"the running JVM cannot load {_LOCAL_FS}, which fs.file.impl names: "
            f"it started without {LOCALFS_JAR} on its class path; pass the jar "
            f"when the JVM starts (spark-submit --driver-class-path {LOCALFS_JAR})"
        )
    return spark
