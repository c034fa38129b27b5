"""Structured Streaming front-end for the pipeline — the harvester/spooler
loop as micro-batches.

The reference's execution model is a continuous loop: input → harvester →
spooler → publisher → registrar (/root/reference/filebeat/main.go:27-34).
The batch engine (plans/pipeline.py) already models one publisher batch; this
module closes the loop with Structured Streaming: a file-source readStream
tails the pages directory (the harvester — new files are discovered and
offset-tracked by the streaming checkpoint, exactly the registrar's job), and
``foreachBatch`` hands each micro-batch to PipelinePlan.run_batch, which
overwrites the batch's partition of routed data, metrics and receipts and
then renames its lineage marker into place (the ACK).

Delivery is exactly-once from either side alone — the streaming checkpoint
replays an epoch only if it did not commit, and run_batch's marker guard +
batch_id partition overwrite make replays idempotent anyway (belt and
braces, SURVEY §4.4). A batch is named ``epoch-{queryId}-{epoch}``: the
query id lives in the checkpoint, so a replaced checkpoint starts a fresh
id space instead of colliding with (and skipping as "already committed")
the batches of the old one. The flip side: re-reading the same files under
a new checkpoint republishes them under new batch ids.

There is also a pure-streaming aggregate path (``streaming_aggregates``):
watermarked event-time windows over the routed stream for the per-(sink,
hour) counters — the stock Spark shape for late data; the reference has no
event-time windowing to preserve (SURVEY §2, "not implemented" list).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logsight_filebeat_spark.operators.log_mapper import ERROR_COL
from logsight_filebeat_spark.operators.router import SINK_COL
from logsight_filebeat_spark.plans.pipeline import PipelinePlan
from logsight_filebeat_spark.sources.pages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a pages directory (the harvester: new parquet
    files are picked up as they land; the checkpoint records what was read)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_stream(
    spark: SparkSession,
    plan: PipelinePlan,
    input_dir: str,
    sink_root: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Drive the pipeline as a stream. With ``available_now`` (default) the
    query drains everything currently in ``input_dir`` and stops — the
    resumable-batch shape; rerunning after new files land processes only the
    new ones (streaming checkpoint = registrar offsets).

    Returns the StreamingQuery (caller awaits termination).
    """
    checkpoint = checkpoint_dir or os.path.join(sink_root, "_stream_checkpoint")
    stream = read_pages_stream(spark, input_dir, max_files_per_trigger)

    def publish(batch_df: DataFrame, epoch_id: int) -> None:
        # stable across restarts of one checkpoint, distinct per checkpoint
        spark = batch_df.sparkSession
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        plan.run_batch(
            spark, batch_df, f"epoch-{query_id}-{epoch_id}", sink_root=sink_root
        )

    writer = stream.writeStream.foreachBatch(publish).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_aggregates(
    plan: PipelinePlan,
    pages_stream: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Event-time windowed per-sink counters over the routed stream, with a
    watermark bounding state for late pages (stock Structured Streaming; all
    upstream stages — multiline, grok, validate, enrich, route — are
    stateless and stream as-is; the broadcast lookup sides are static)."""
    routed = plan.mapped(pages_stream)
    is_failed = F.col(ERROR_COL).isNotNull()
    return (
        routed.withWatermark(plan.event_ts_col, watermark)
        .groupBy(
            F.window(F.col(plan.event_ts_col), window).alias("hour_window"),
            F.col(SINK_COL),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(
                F.when(~is_failed, F.coalesce(F.octet_length("message"), F.lit(0)))
                .otherwise(0)
            ).alias("byte_total"),
            F.sum(F.when(is_failed, 1).otherwise(0)).alias("failed_count"),
        )
    )


def content_dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Streaming exact dedup for continuous corpus ingestion — the batch
    dedup_exact semantics made incremental. Rows hash with the portable
    md5 (functions/hashing.py, the same key batch dedup groups on) and
    pass through dropDuplicatesWithinWatermark: the state store holds one
    entry per distinct document no older than the watermark horizon, so
    state stays BOUNDED on an unbounded stream while any duplicate
    arriving within the horizon is dropped. First arrival wins; the
    append-mode output is exactly the never-seen-before documents."""
    from logsight_filebeat_spark.functions.hashing import md5_hex

    return (
        stream.withColumn(hash_col, md5_hex(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([hash_col])
    )


def session_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str | None = "value",
) -> DataFrame:
    """Streaming gap-sessionization: the stock ``session_window`` aggregate
    over a watermarked event stream — the streaming twin of
    operators/aggregate.py::sessionize (same gap-merge rule, same outputs),
    so a batch backfill and the live stream produce the SAME session table.

    State is bounded by the watermark: a session closes (and its state
    drops) once the watermark passes session_end — the property a batch
    window over an unbounded stream cannot offer. Scale shape: one shuffle
    on key; session merge is per-key state-store work, never a sort of the
    corpus."""
    aggs = [
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("total_value"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(*aggs)
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("last_ts").alias("session_end"),
            *(
                ["n_events", "total_value"]
                if value_col is not None
                else ["n_events"]
            ),
        )
    )


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with a time bound: pair every left event
    with the right events of the same key that happen within
    ``[left_ts, left_ts + max_delay]`` — the click-attribution /
    request-response correlation shape. Both sides are watermarked and the
    join carries the range condition Spark needs to EVICT buffered state:
    a left row's state drops once the right watermark passes
    left_ts + max_delay, so state is bounded by (rate × delay), never the
    stream history. Inner matches emit immediately (no watermark wait).

    Column names other than ``key_col`` must be disjoint between the two
    sides (pre-rename upstream); the joined frame carries one key column."""
    overlap = (set(left.columns) & set(right.columns)) - {key_col}
    if overlap:
        raise ValueError(
            f"correlate_streams: both sides carry {sorted(overlap)}; "
            "rename upstream so only the key is shared"
        )
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        f"l.{key_col} = r.{key_col} AND r.{right_ts} >= l.{left_ts} "
        f"AND r.{right_ts} <= l.{left_ts} + interval {max_delay}"
    )
    joined = l.join(r, cond, "inner")
    keep = [F.col(f"l.{key_col}").alias(key_col)]
    keep += [F.col(f"l.{c}") for c in left.columns if c != key_col]
    keep += [F.col(f"r.{c}") for c in right.columns if c != key_col]
    return joined.select(*keep)
