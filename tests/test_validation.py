"""Validation matrices from /root/reference/plugin/api/log_test.go."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsight_filebeat_spark.functions.validation import (
    valid_level,
    valid_timestamp,
)

# log_test.go:20-68 — case-sensitive enum, anchored alternatives
LEVEL_CASES = [
    ("INFO", True),
    ("WARNING", True),
    ("WARN", True),
    ("FINER", True),
    ("FINE", True),
    ("DEBUG", True),
    ("ERROR", True),
    ("ERR", True),
    ("EXCEPTION", True),
    ("SEVERE", True),
    ("info", False),
    ("err", False),
    ("errerr", False),
    ("ERROR!", False),
    ("", False),
    ("BoGus", False),
    ("BOGUS", False),
    ("INFOINFO", False),
    # Go's `$` (and RE2's, in the DuckDB oracles) is the end of text; Java's
    # also matches before a final line terminator
    ("INFO\n", False),
    ("INFO\r\n", False),
    ("INFO\u2028", False),
    (None, False),
]

# log_test.go:138-186 — string-shape check, never value-parsed
TS_CASES = [
    ("2022-04-04T09:00:35+00:00", True),
    ("2022-04-04T09:00:35.1111+00:00", True),
    ("2022-04-04T09:00:35.1111", True),
    ("2022-04-04T09:00:35", True),
    ("2022-04-04T09:00:35Z", True),
    ("2022-04-04T09:00:35.111Z", True),
    ("2022-04-04T09:00", False),
    ("2022-04-04T09:00:35Z+02:00", False),
    ("2022-04-04", False),
    ("2022-99-99T09:00:35", True),  # shape-valid: the regex checks digits only
    ("2022-04-04T09:00:35Z\n", False),  # `$` is the end of text, as in Go
    (None, False),
]


@pytest.mark.parametrize("value,expected", LEVEL_CASES)
def test_level_matrix(spark, value, expected):
    df = spark.createDataFrame([(value,)], "level: string")
    got = df.select(valid_level("level").alias("ok")).first().ok
    assert got is expected


@pytest.mark.parametrize("value,expected", TS_CASES)
def test_timestamp_matrix(spark, value, expected):
    df = spark.createDataFrame([(value,)], "ts: string")
    got = df.select(valid_timestamp("ts").alias("ok")).first().ok
    assert got is expected


def test_matrices_vectorized(spark):
    """All cases in one DataFrame — the columnar execution path."""
    rows = [(lv, exp) for lv, exp in LEVEL_CASES]
    df = spark.createDataFrame(rows, "level: string, expected: boolean")
    bad = df.filter(valid_level("level") != F.col("expected")).count()
    assert bad == 0
