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
  2. data writes: routed rows, metrics and receipts are each written with
     dynamic partition overwrite keyed by batch_id — a crashed, half-written
     batch is fully replaced on rerun, so retries cannot duplicate rows
     (exactly-once, vs the reference's at-least-once).
  3. lineage commit: ONLY after the data writes return, the batch's
     (batch_id, status, rows, bytes) marker is written to a hidden temp file
     and renamed into place through the Hadoop FileSystem API — the rename
     is the ACK (client.go:121-122).

A crash anywhere before the rename reruns the batch; the overwrites make
that safe. On Iceberg both steps fold into one snapshot commit; the parquet
sandbox keeps them as ordered writes with the same invariant.
"""

from __future__ import annotations

import json
import os
import uuid

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
    """Read the receipts table leniently: a missing, unreadable, or corrupt
    receipts file yields an EMPTY receipts frame, never an error.

    Reference behavior pinned here: the plugin treats HTTP 200 with an
    unparseable receipt body as a successful delivery with a nil receipt
    (/root/reference/plugin/api/log_test.go:332-337 — SendLogs returns
    (nil, nil), the batch is still ACKed). Receipts are advisory delivery
    accounting; the committed data + lineage rows are the source of truth,
    so a damaged receipts file must not fail reads or block a resume."""
    path = os.path.join(sink_root, "receipts")
    try:
        # ignoreCorruptFiles drops files with damaged footers at scan time
        # (the per-file analogue of the nil-receipt lenience); the except
        # arm covers a missing/unlistable receipts dir
        return spark.read.schema(RECEIPTS_SCHEMA).option(
            "ignoreCorruptFiles", "true"
        ).parquet(path)
    except Exception:
        return spark.createDataFrame([], RECEIPTS_SCHEMA)


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
    fs, d, path_cls = _lineage_fs(spark, sink_root)
    tmp = path_cls(d, f".{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(json.dumps(record).encode("utf-8"))
    finally:
        out.close()
    marker = path_cls(d, _marker_name(batch_id))
    if not fs.rename(tmp, marker):
        fs.delete(tmp, False)
        raise OSError(f"lineage commit of {batch_id!r}: rename to {marker} failed")
