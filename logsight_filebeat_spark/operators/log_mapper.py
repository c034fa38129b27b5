"""Record assembly + validation + failure segregation (O10–O13).

Reference: /root/reference/plugin/mapper/log_mapper.go
  - LogMapper.ToLog (log_mapper.go:28-56): run the four sub-mapper trees
    (timestamp, message, level — each StringMapper-wrapped; tags), upper-case
    the level (:48), then ValidateLog (plugin/api/log.go:28-36). Any
    sub-mapper error fails the row, first error wins in declaration order.
  - LogMapper.ToLogs (log_mapper.go:58-79): batch map + FailedMapping
    side-channel. (The reference returns the failed list inverted —
    log_mapper.go:74-78 hands back nil exactly when failures exist, which
    client.go:134 compensates for; we implement the documented intent:
    failures are always reported.)

Spark shape: ONE projection producing `timestamp, message, level, tags,
_error` columns, then two narrow filters (`_error IS NULL` / `IS NOT NULL`).
No per-row Python; no shuffle; whole-stage codegen end to end. At 100 TB the
ok/failed split is two pipelined scans of the same stage output (or one
writeByPartition when both sides are materialized — see sinks/writers.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logsight_filebeat_spark.config import DEFAULT_LEVEL, PipelineConfig
from logsight_filebeat_spark.functions.mappers import (
    Mapped,
    constant_mapper,
    event_time_mapper,
    string_key_mapper,
    tags_mapper,
)
from logsight_filebeat_spark.functions.validation import valid_level, valid_timestamp
from logsight_filebeat_spark.operators.stage import Stage

ERROR_COL = "_error"
LOG_COLUMNS = ("timestamp", "message", "level", "tags")


def compile_log_mapper(
    df: DataFrame | T.StructType, cfg: PipelineConfig, event_ts_col: str = "warc_ts"
) -> dict[str, Mapped]:
    """Wire the mapper tree exactly as NewClient does (plugin/client.go:63-87):

      timestamp := timestamp_key == "" ? EventTimeMapper : Key(timestamp_key)
      level     := level_key == ""     ? Constant("INFO") : Key(level_key)
      message   := Key(message_key)
      tags      := MultipleKeyValueStringMapper(tags_mapping)
    """
    timestamp = (
        event_time_mapper(event_ts_col)
        if not cfg.timestamp_key
        else string_key_mapper(df, cfg.timestamp_key)
    )
    level = (
        constant_mapper(DEFAULT_LEVEL)
        if not cfg.level_key
        else string_key_mapper(df, cfg.level_key)
    )
    message = string_key_mapper(df, cfg.message_key)
    tags = tags_mapper(df, cfg.tags_mapping)
    return {"timestamp": timestamp, "message": message, "level": level, "tags": tags}


def to_log_stage(
    schema: T.StructType, cfg: PipelineConfig, event_ts_col: str = "warc_ts"
) -> Callable[[DataFrame], DataFrame]:
    """``to_log``'s projection for input of ``schema``, built once: the
    returned function only adds the prebuilt Columns to a frame."""
    m = compile_log_mapper(schema, cfg, event_ts_col)
    level_value = F.upper(m["level"].value)
    mapper_error = F.coalesce(
        m["timestamp"].error, m["message"].error, m["level"].error, m["tags"].error
    )
    validation_error = F.coalesce(
        F.when(
            ~valid_level(level_value),
            F.lit("invalid log level"),  # api/log.go:38-45
        ),
        F.when(
            ~valid_timestamp(m["timestamp"].value),
            F.lit("timestamp must be in ISO 8601 format"),  # api/log.go:47-54
        ),
    )
    return Stage().select(
        F.col("*"),
        m["timestamp"].value.alias("timestamp"),
        m["message"].value.alias("message"),
        level_value.alias("level"),
        m["tags"].value.alias("tags"),
        F.coalesce(mapper_error, validation_error).alias(ERROR_COL),
    )


def to_log(
    df: DataFrame,
    cfg: PipelineConfig,
    event_ts_col: str = "warc_ts",
    stage: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """ToLog as a single projection (O10): adds the four api.Log columns and
    `_error` (NULL ⇔ row valid). Error precedence matches log_mapper.go:28-56
    (timestamp → message → level → tags → validateLevel → validateTimestamp).
    Level is upper-cased BEFORE validation (log_mapper.go:48 then :51).

    ``stage``: ``to_log_stage(df.schema, cfg, event_ts_col)`` built earlier
    and reused; without it the projection is built for this call.
    """
    return (stage or to_log_stage(df.schema, cfg, event_ts_col))(df)


def split_ok_failed(mapped: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ToLogs / FailedMapping segregation (O13, log_mapper.go:58-79):
    ok rows carry the api.Log schema; failed rows keep their source columns
    plus the error — the quarantine/dead-letter side-channel."""
    ok = mapped.filter(F.col(ERROR_COL).isNull())
    failed = mapped.filter(F.col(ERROR_COL).isNotNull())
    return ok, failed
