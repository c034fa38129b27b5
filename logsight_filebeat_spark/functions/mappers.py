"""Mapper-expression compiler — the heart of the engine.

The reference evaluates a tree of row-at-a-time ``Mapper`` objects per event
(/root/reference/plugin/mapper/mapper.go). Here every mapper compiles on the
driver into a pair of Columns — ``value`` (NULL on failure) and ``error``
(NULL on success, message on failure) — so the whole tree executes inside
Catalyst whole-stage codegen with zero per-row Python. Row failure becomes a
NULL/err pair that the O13 failure-segregation filter routes to quarantine.
The mappers read only the input's schema (a DataFrame or its StructType), so
PipelinePlan compiles them once per input schema and reuses the Columns for
every batch of that schema, as NewClient wires its tree once
(plugin/client.go:28-96).

Semantics pinned to the reference (and its tests):
  - ConstantStringMapper (mapper.go:38-44): emit a literal, never fails.
  - KeyMapper (mapper.go:82-92): dotted-path lookup; missing key ⇒ row error
    "key not found" (mapper_test.go:104-109). Nested access "Key.key1"
    (mapper_test.go:90-95).
  - StringMapper (mapper.go:15-35): result must BE a string — an int is an
    error, not coerced (mapper_test.go:279-284). With a static schema this is
    decided at compile time per column type.
  - KeyRegexMapper (mapper.go:132-163): first capture group; row error when
    no match, when the pattern has no group, or when the captured text is
    empty (mapper_test.go:210-222). NOTE Spark's regexp_extract returns ''
    for both no-match and empty-capture — we split those into distinct error
    messages via rlike, and map '' ⇒ failure, never ⇒ value.
  - EventTimeMapper (mapper.go:77-79): RFC3339-format the event timestamp.
  - MultipleKeyValueStringMapper (mapper.go:96-130): build map from
    (out_key → source_key) pairs; missing keys and non-string values are
    silently SKIPPED, not row errors (mapper.go:103-106, 123-127).

Regex dialect: the reference uses Go regexp (RE2). Spark `regexp_extract` /
`rlike` use Java regex. All supported patterns must be in the RE2∩Java-safe
subset (no backreferences); compile-time validation lives in config.MapperConf.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Java/Go-compatible RFC3339 second resolution with offset or Z, matching Go's
# time.RFC3339 ("2006-01-02T15:04:05Z07:00") used by EventTimeMapper.
RFC3339_FORMAT = "yyyy-MM-dd'T'HH:mm:ssXXX"


@dataclass(frozen=True)
class Mapped:
    """Compiled mapper output: value column + error column (both nullable)."""

    value: Column
    error: Column

    @staticmethod
    def ok(value: Column) -> "Mapped":
        return Mapped(value=value, error=F.lit(None).cast("string"))

    @staticmethod
    def fail(message: str, value_type: str = "string") -> "Mapped":
        """A mapper that fails every row (static schema mismatch)."""
        return Mapped(
            value=F.lit(None).cast(value_type), error=F.lit(message)
        )


def _schema(df: DataFrame | T.StructType) -> T.StructType:
    return df if isinstance(df, T.StructType) else df.schema


def _resolve_path(
    schema: T.StructType, path: str
) -> tuple[Column | None, T.DataType | None]:
    """Resolve a dotted path against a schema, mirroring MapStr.GetValue
    (used at mapper.go:87; nested lookup pinned by mapper_test.go:90-95).

    Walks structs by field name; descends into MapType via element_at (value
    type unknown-until-runtime in the reference, statically typed here).
    Returns (column, dtype) or (None, None) when the path cannot resolve —
    the static analogue of the per-row "key not found" error.
    """
    parts = path.split(".")
    cur: T.DataType = schema
    col: Column | None = None
    for part in parts:
        if isinstance(cur, T.StructType):
            match = next((f for f in cur.fields if f.name == part), None)
            if match is None:
                return None, None
            col = F.col(f"`{part}`") if col is None else col.getField(part)
            cur = match.dataType
        elif isinstance(cur, T.MapType):
            if col is None:
                return None, None
            col = F.element_at(col, F.lit(part))
            cur = cur.valueType
        else:
            return None, None
    return col, cur


def constant_mapper(value: str) -> Mapped:
    """ConstantStringMapper (mapper.go:38-44)."""
    return Mapped.ok(F.lit(value))


def key_mapper(df: DataFrame | T.StructType, key: str) -> Mapped:
    """KeyMapper (mapper.go:82-92): dotted-path lookup, error when absent.

    A path that does not resolve in the schema fails every row (the columnar
    analogue of the per-event lookup error, mapper_test.go:104-109); a NULL
    value at runtime is likewise "key not found" — in MapStr a key holding
    nothing does not exist.
    """
    col, _ = _resolve_path(_schema(df), key)
    if col is None:
        return Mapped.fail(f"Key {key} not found in event")
    return Mapped(
        value=col,
        error=F.when(col.isNull(), F.lit(f"Key {key} not found in event")),
    )


def string_guard(df: DataFrame | T.StructType, key: str, mapped: Mapped) -> Mapped:
    """StringMapper.checkString (mapper.go:27-35): non-string ⇒ row error,
    never a cast (mapper_test.go:279-284 — int 4 must fail).

    With a typed schema this is a compile-time decision on the column's
    DataType; the runtime NULL/error propagation of ``mapped`` is preserved.
    """
    _, dtype = _resolve_path(_schema(df), key)
    if dtype is None:
        return mapped  # path missing — key_mapper already failed the rows
    if not isinstance(dtype, T.StringType):
        return Mapped.fail(
            f"result of applying mapper on key {key} is not a string "
            f"but {dtype.simpleString()}"
        )
    return mapped


def string_key_mapper(df: DataFrame | T.StructType, key: str) -> Mapped:
    """StringMapper(KeyMapper) — the composition the reference wires for
    timestamp/message/level keys (plugin/client.go:63-76)."""
    return string_guard(df, key, key_mapper(df, key))


def key_regex_mapper(df: DataFrame | T.StructType, key: str, pattern: str) -> Mapped:
    """KeyRegexMapper (mapper.go:132-163).

    Failure cases pinned by mapper_test.go:155-222:
      * upstream key failure propagates;
      * no match ⇒ error;
      * pattern without capture group ⇒ error (every row);
      * empty captured text ⇒ error (e.g. `.*/(.*)/.*` on "/path//here").
    Success returns the FIRST capture group (`va(.*)e` on "value2" ⇒ "lu").
    """
    try:
        compiled = re.compile(pattern)
    except re.error as e:
        return Mapped.fail(f"invalid regex expression {pattern!r}: {e}")
    if compiled.groups < 1:
        return Mapped.fail(
            f"no string submatches found with regular expression {pattern!r}"
        )
    base = string_key_mapper(df, key)
    extracted = F.regexp_extract(base.value, pattern, 1)
    no_match = ~base.value.rlike(pattern)
    empty_capture = extracted == F.lit("")
    value = F.when(
        base.error.isNull() & ~no_match & ~empty_capture, extracted
    )
    error = F.coalesce(
        base.error,
        F.when(no_match, F.lit(f"no matches found with regular expression {pattern!r}")),
        F.when(
            empty_capture,
            F.lit(f"regular expression {pattern!r} results in an empty string"),
        ),
    )
    return Mapped(value=value, error=error)


def event_time_mapper(ts_col: str | Column) -> Mapped:
    """EventTimeMapper (mapper.go:77-79): RFC3339-format the native event
    timestamp. Wired when timestamp_key is unset (plugin/client.go:65-69)."""
    col = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    value = F.date_format(col, RFC3339_FORMAT)
    return Mapped(
        value=value,
        error=F.when(col.isNull(), F.lit("event timestamp is null")),
    )


def wallclock_mapper() -> Mapped:
    """ISO8601TimestampGenerator via GeneratorMapper (mapper.go:50-70).
    Non-deterministic; tests inject a fixed timestamp instead (SURVEY §7)."""
    return Mapped.ok(F.date_format(F.current_timestamp(), RFC3339_FORMAT))


def tags_mapper(df: DataFrame | T.StructType, mapping: dict[str, str]) -> Mapped:
    """MultipleKeyValueStringMapper (mapper.go:96-130).

    For each (out_key → source_key): missing source keys are silently
    skipped (mapper.go:103-106) and non-string values are silently dropped
    (mapper.go:123-127) — neither fails the row. Compiles to
    map_from_entries over the subset of resolvable, string-typed sources,
    with NULL values filtered out; never errors.
    """
    entries = []
    for out_key, source_key in sorted(mapping.items()):
        col, dtype = _resolve_path(_schema(df), source_key)
        if col is None or not isinstance(dtype, T.StringType):
            continue  # skip-on-missing / drop-non-string
        entries.append(F.struct(F.lit(out_key).alias("key"), col.alias("value")))
    if not entries:
        value = F.map_from_entries(
            F.array().cast("array<struct<key:string,value:string>>")
        )
        return Mapped.ok(value)
    arr = F.filter(F.array(*entries), lambda e: e.getField("value").isNotNull())
    return Mapped.ok(F.map_from_entries(arr))
