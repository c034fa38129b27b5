"""Output selector / router + fan-out (O14).

Reference: /root/reference/plugin/config.go:40-55 — a mapperConf compiles to
exactly one mapper by precedence (Key+Regex → KeyRegexMapper, else Key →
KeyMapper, else Name → ConstantStringMapper, else config error; pinned by
plugin/config_test.go:30-106). The mapper's output string IS the routing key
(the sink/application name).

Spark shape: rules compile on the driver into one `sink` Column —
first-successful-rule-wins as a coalesce chain (a generalization of the
reference's single-rule selector that reduces to it for one rule). Rows whose
every rule fails route to the quarantine sink, mirroring the per-event mapper
error. Fan-out is then either N narrow filters over one persisted DF or a
single write partitioned by `sink` (sinks/writers.py) — never N rescans of
the parse stage (SURVEY §4.3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logsight_filebeat_spark.config import PipelineConfig
from logsight_filebeat_spark.functions.mappers import string_key_mapper
from logsight_filebeat_spark.operators.stage import Stage

SINK_COL = "sink"


def route_stage(
    schema: T.StructType, cfg: PipelineConfig
) -> Callable[[DataFrame], DataFrame]:
    """``route``'s Columns for input of ``schema``, built once: the
    returned function only adds them to a frame."""
    captures: dict[str, Column] = {}
    values: list[Column] = []
    for i, rule in enumerate(cfg.routes):
        kind = rule.kind()
        if kind == "regex":
            tmp = f"__{SINK_COL}_capture{i}"
            key = string_key_mapper(schema, rule.key).value
            captures[tmp] = F.regexp_extract(key, rule.regex_matcher, 1)
            values.append(F.when(F.col(tmp) != "", F.col(tmp)))
        elif kind == "key":
            values.append(string_key_mapper(schema, rule.key).value)
        else:  # constant
            values.append(F.lit(rule.name))
    sink = F.coalesce(*values, F.lit(cfg.quarantine_sink))
    if "_error" in schema.fieldNames():
        sink = F.when(
            F.col("_error").isNotNull(), F.lit(cfg.quarantine_sink)
        ).otherwise(sink)
    if not captures:
        return Stage().with_column(SINK_COL, sink)
    return Stage().with_columns(captures).with_column(SINK_COL, sink).drop(*captures)


def route(
    df: DataFrame,
    cfg: PipelineConfig,
    stage: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Add the `sink` column: first-success-wins over ``cfg.routes``, every
    rule failing ⇒ the quarantine sink. Rows already failed by the log
    mapper (non-NULL `_error`) route to quarantine regardless of rules.

    Each rule compiles by precedence (mapperConf.toMapper, config.go:40-55);
    ``rule.kind()`` raises ConfigError for an invalid regex or an all-empty
    rule at compile time, exactly where the reference errors. A rule's
    value is NULL exactly when its mapper fails (mappers.py invariant), so
    routing reads values only. For a regex rule that value is
    ``key_regex_mapper(...).value``: the first capture, NULL on a NULL or
    non-string key, on no match and on an empty capture. Its
    ``regexp_extract`` is projected once into a temporary column, and the
    value is ``when(capture != '', capture)`` over it — no ``rlike``, and
    the capture, referenced twice, stays in its own projection
    (CollapseProject does not inline it), so the regex runs once per row.

    ``stage``: ``route_stage(df.schema, cfg)`` built earlier and reused;
    without it the Columns are built for this call.
    """
    return (stage or route_stage(df.schema, cfg))(df)
