"""Checkpoint / lineage — the registrar analogue, upgraded to exactly-once.

Reference: Filebeat's registrar "records positions of files read"; on restart
it resumes from the recorded position (/root/reference/filebeat/main.go:31-34),
and delivery is at-least-once via batch.ACK()/RetryEvents
(/root/reference/plugin/client.go:121-124).

Here a BATCH is a resumable unit of input (an input partition/slice — e.g. an
hour of warc_ts, or a file group). Protocol:

  1. rerun guard: a marker file for batch_id exists under ``_lineage/`` ⇒
     skip (resume). One ``exists`` call — no Spark job, no directory scan,
     so the check costs the same after ten batches or ten thousand.
  2. data writes: the routed rows are one Spark write with dynamic
     partition overwrite keyed by batch_id. The metrics and receipts are a
     few rows the driver already holds, so it writes each as one parquet
     file into the same ``batch_id=<v>`` partition layout through the
     Hadoop FileSystem API (``write_batch_table``): a hidden temp copy, the
     old partition deleted, the new one renamed in. Either way a crashed,
     half-written batch is fully replaced on rerun, so retries cannot
     duplicate rows (exactly-once, vs the reference's at-least-once).
  3. lineage commit: ONLY after the data writes return, the batch's
     (batch_id, status, rows, bytes) marker is written to a hidden temp file
     and renamed into place the same way — the rename is the ACK
     (client.go:121-122).

A crash anywhere before the rename reruns the batch; the overwrites make
that safe. Until then the batch's rows are on disk but not committed, so
the readers (``read_receipts``, ``writers.read_sink``) return only batches
that have a marker. On Iceberg both steps fold into one snapshot commit;
the parquet sandbox keeps them as ordered writes with the same invariant.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # 'committed'
        T.StructField("rows_ok", T.LongType(), False),
        T.StructField("rows_failed", T.LongType(), False),
        T.StructField("byte_total", T.LongType(), False),
    ]
)


RECEIPTS_SCHEMA = T.StructType(
    [
        T.StructField("receipt_id", T.StringType(), False),
        T.StructField("sink", T.StringType(), False),
        T.StructField("logs_count", T.LongType(), True),
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("status", T.IntegerType(), True),
    ]
)


_MARKER_SUFFIX = ".json"


def _dir(sink_root: str) -> str:
    return os.path.join(sink_root, "_lineage")


def _marker_name(batch_id: str) -> str:
    # hex keeps any id a plain file name: a Hadoop Path reads ':' as a scheme
    # separator and '/' as a directory
    return batch_id.encode("utf-8").hex() + _MARKER_SUFFIX


def _lineage_fs(spark: SparkSession, sink_root: str):
    """(FileSystem, Path of the _lineage dir, Path class) for ``sink_root``."""
    jvm = spark.sparkContext._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    d = path_cls(_dir(sink_root))
    return d.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), d, path_cls


def read_lineage(spark: SparkSession, sink_root: str) -> DataFrame:
    """One LINEAGE_SCHEMA row per committed batch, read from the markers.
    Only a missing ``_lineage`` dir reads as empty; an unreadable or
    inconsistent marker raises, because an empty answer would mean
    "republish everything"."""
    fs, d, _ = _lineage_fs(spark, sink_root)
    rows = []
    if fs.exists(d):
        read_all = spark.sparkContext._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray
        for status in fs.listStatus(d):
            name = status.getPath().getName()
            if name.startswith(".") or not name.endswith(_MARKER_SUFFIX):
                continue  # in-flight temp files and checksum side files
            stream = fs.open(status.getPath())
            try:
                rec = json.loads(bytes(read_all(stream)).decode("utf-8"))
            finally:
                stream.close()
            if _marker_name(rec["batch_id"]) != name:
                raise ValueError(f"lineage marker {name} holds batch {rec['batch_id']!r}")
            rows.append(tuple(rec[f.name] for f in LINEAGE_SCHEMA.fields))
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)


def is_committed(spark: SparkSession, sink_root: str, batch_id: str) -> bool:
    fs, d, path_cls = _lineage_fs(spark, sink_root)
    return bool(fs.exists(path_cls(d, _marker_name(batch_id))))


def read_receipts(spark: SparkSession, sink_root: str) -> DataFrame:
    """Read the committed batches' receipts leniently: a missing,
    unreadable, or corrupt receipts file yields no rows, never an error.

    Reference behavior pinned here: the plugin treats HTTP 200 with an
    unparseable receipt body as a successful delivery with a nil receipt
    (/root/reference/plugin/api/log_test.go:332-337 — SendLogs returns
    (nil, nil), the batch is still ACKed). Receipts are advisory delivery
    accounting; the committed data + lineage rows are the source of truth,
    so a damaged receipts file must not fail reads or block a resume. The
    lineage is not advisory: a bad marker raises (``read_lineage``)."""
    committed = read_lineage(spark, sink_root).select("batch_id")
    path = os.path.join(sink_root, "receipts")
    try:
        # ignoreCorruptFiles drops files with damaged footers at scan time
        # (the per-file analogue of the nil-receipt lenience); the except
        # arm covers a missing/unlistable receipts dir
        receipts = spark.read.schema(RECEIPTS_SCHEMA).option(
            "ignoreCorruptFiles", "true"
        ).parquet(path)
    except Exception:
        return spark.createDataFrame([], RECEIPTS_SCHEMA)
    return only_committed(receipts, committed)


def only_committed(df: DataFrame, committed: DataFrame) -> DataFrame:
    """The rows of ``df`` whose ``batch_id`` is in ``committed`` (a frame of
    committed batch ids): a batch that crashed before its marker, or that
    a replaced checkpoint abandoned, stays invisible."""
    return df.join(committed, df["batch_id"] == committed["batch_id"], "left_semi")


def write_batch_table(
    spark: SparkSession, sink_root: str, table: str, batch_id: str, rows: pa.Table
) -> None:
    """Write a batch's few rows of ``table`` from the driver as one parquet
    file in ``<sink_root>/<table>/batch_id=<v>/``, the layout a Spark write
    partitioned by ``batch_id`` makes (``<v>`` escaped by Spark's own rule),
    replacing whatever an earlier run of the batch left there. ``rows``
    holds every column but ``batch_id``, which the path carries."""
    escape = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.escapePathName
    buf = pa.BufferOutputStream()
    pq.write_table(rows, buf)
    _replace(
        spark,
        os.path.join(sink_root, table, f"batch_id={escape(batch_id)}"),
        buf.getvalue().to_pybytes(),
        file_name="part-00000.parquet",
    )


def commit_batch(
    spark: SparkSession,
    sink_root: str,
    batch_id: str,
    rows_ok: int,
    rows_failed: int,
    byte_total: int,
) -> None:
    """The ACK: the batch's marker goes to a hidden temp file, then is
    renamed into place. The rename is the commit point — a crash before it
    leaves no marker (the batch reruns), never a half-written one."""
    record = {
        "batch_id": batch_id,
        "status": "committed",
        "rows_ok": rows_ok,
        "rows_failed": rows_failed,
        "byte_total": byte_total,
    }
    _replace(
        spark,
        os.path.join(_dir(sink_root), _marker_name(batch_id)),
        json.dumps(record).encode("utf-8"),
    )


def _replace(spark: SparkSession, path: str, data: bytes, file_name: str | None = None) -> None:
    """Put ``data`` at ``path`` — or, given ``file_name``, make ``path`` a
    directory holding only ``path/file_name`` — replacing what was there.
    The new content goes to a hidden temp file (or directory) beside
    ``path``; the old ``path`` is then deleted and the temp one renamed in.
    A crash leaves at ``path`` the old content or nothing, never a partial
    file."""
    jvm = spark.sparkContext._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    dst = path_cls(path)
    fs = dst.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    tmp = path_cls(dst.getParent(), f".{uuid.uuid4().hex}.tmp")
    out = fs.create(path_cls(tmp, file_name) if file_name else tmp, False)
    try:
        out.write(data)
    finally:
        out.close()
    fs.delete(dst, True)
    if not fs.rename(tmp, dst):
        fs.delete(tmp, True)
        raise OSError(f"replacing {path}: rename of {tmp} failed")
