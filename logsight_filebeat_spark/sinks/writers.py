"""Fan-out sink writers (O18/O19).

Reference: one HTTP POST per batch to a single endpoint
(/root/reference/plugin/api/log.go:70-91, route :16). Here the sinks are
tables: ONE write of the routed DataFrame, dynamically partitioned by the
`sink` column — N sinks cost one pass over the parse stage, never N rescans
(SURVEY §4.3). In the sandbox the format is parquet under sink_root/; on a
real catalog the same shape is `writeTo(...).append()` per Iceberg table or a
single table partitioned by sink.

JSON encode (base.go:66-84) has no columnar analogue — where byte parity with
the reference sink body matters, ``encode_json_body`` reproduces it.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logsight_filebeat_spark.operators.router import SINK_COL
from logsight_filebeat_spark.sinks import lineage

LOG_SINK_COLUMNS = ("timestamp", "message", "level", "tags")


def encode_json_body(df: DataFrame, columns=LOG_SINK_COLUMNS) -> Column:
    """JSON body of one api.Log record (api/base.go:66-84 encodes the batch
    as a JSON array; per-row objects here — batching is the file)."""
    return F.to_json(F.struct(*[F.col(c) for c in columns]))


def write_routed(
    routed: DataFrame,
    sink_root: str,
    mode: str = "overwrite",
    partition_cols: tuple[str, ...] = (SINK_COL,),
    target_file_rows: int | None = None,
) -> str:
    """Write the routed DF once, partitioned by sink (+ any extra cols, e.g.
    an hour bucket at scale). ``mode='overwrite'`` with dynamic partition
    overwrite gives idempotent re-runs per partition — the exactly-once
    upgrade of the reference's at-least-once retry (client.go:121-124).
    """
    out = os.path.join(sink_root, "routed")
    writer = routed.write.mode(mode).option(
        "partitionOverwriteMode", "dynamic"
    )
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", target_file_rows)
    writer.partitionBy(*partition_cols).parquet(out)
    return out


def read_sink(spark, sink_root: str, sink: str) -> DataFrame:
    """One sink's rows of the committed batches: a batch whose run crashed
    before its lineage marker is not read, even when its rows are on disk."""
    routed = spark.read.parquet(os.path.join(sink_root, "routed")).filter(
        F.col(SINK_COL) == sink
    )
    committed = lineage.read_lineage(spark, sink_root).select("batch_id")
    return lineage.only_committed(routed, committed)
