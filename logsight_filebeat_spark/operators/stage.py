"""Prebuilt layer stages: a layer's DataFrame operations with their JVM
arguments built once, applied to many frames.

Each map-stage layer (multiline, grok, to_log, a lookup, route) adds a few
Columns to its input. Building those Columns costs a py4j round trip per
expression node, and passing a list of Columns through the DataFrame API
costs one more per Column, because py4j copies a Python list into a Java
list element by element. A ``Stage`` records the layer's operations with
their Columns already converted to JVM sequences, so applying it to a
batch's frame costs one JVM call per operation, plus Spark's analysis of
the new plan node. Its Columns name their inputs (``F.col``); none may
hold an attribute resolved against one particular frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


class Stage:
    """DataFrame operations recorded once; calling the stage on a frame
    applies them in order. The recording methods mirror the DataFrame
    methods of the same names and return the stage."""

    def __init__(self) -> None:
        self._calls: list[tuple[str, tuple]] = []

    def select(self, *cols: Column) -> Stage:
        return self._add("select", _seq(cols))

    def with_columns(self, cols: dict[str, Column]) -> Stage:
        return self._add("withColumns", _seq(cols), _seq(cols.values()))

    def with_column(self, name: str, col: Column) -> Stage:
        return self._add("withColumn", name, col._jc)

    def drop(self, *names: str) -> Stage:
        return self._add("drop", _seq(names))

    def __call__(self, df: DataFrame) -> DataFrame:
        jdf = df._jdf
        for method, args in self._calls:
            jdf = getattr(jdf, method)(*args)
        return ClassicDataFrame(jdf, df.sparkSession)

    def _add(self, method: str, *args) -> Stage:
        self._calls.append((method, args))
        return self


def _seq(items):
    """A JVM Seq of the Columns' (or strings') JVM values."""
    values = [c._jc if isinstance(c, Column) else c for c in items]
    return SparkSession.active().sparkContext._jvm.PythonUtils.toSeq(values)
