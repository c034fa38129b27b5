"""O14 routing precedence — /root/reference/plugin/config_test.go:30-106."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsight_filebeat_spark.config import ConfigError, MapperConf, PipelineConfig
from logsight_filebeat_spark.functions.mappers import key_regex_mapper, string_key_mapper
from logsight_filebeat_spark.operators.router import SINK_COL, route


def test_precedence_regex_over_key_over_constant():
    # config_test.go:87-105 — regex wins when key+regex set; key beats name
    assert MapperConf(name="n", key="k", regex_matcher="(x)").kind() == "regex"
    assert MapperConf(name="n", key="k").kind() == "key"
    assert MapperConf(name="n").kind() == "constant"


def test_invalid_regex_is_config_error():
    # config.go:42-45 / config_test.go invalid regex `^.*($[T|t]est.*$`
    with pytest.raises(ConfigError):
        MapperConf(key="k", regex_matcher="^.*($[T|t]est.*$").kind()


def test_all_empty_is_config_error():
    # config.go:52-53
    with pytest.raises(ConfigError):
        MapperConf().kind()


def test_groupless_regex_is_config_error():
    with pytest.raises(ConfigError):
        MapperConf(key="k", regex_matcher="^test$").kind()


def test_regex_route(spark):
    # config_test.go regex fixture `^.*([T|t]est).*$` over field values
    df = spark.createDataFrame(
        [("this is a Test line",), ("no match here",), ("test lower",)],
        ["app"],
    )
    cfg = PipelineConfig(
        routes=(MapperConf(key="app", regex_matcher="^.*([T|t]est).*$"),),
        quarantine_sink="_q",
    )
    got = [r[SINK_COL] for r in route(df, cfg).collect()]
    assert got == ["Test", "_q", "test"]


def test_key_route_and_constant_fallback(spark):
    df = spark.createDataFrame([("svc-a",), (None,)], ["app"])
    cfg = PipelineConfig(
        routes=(MapperConf(key="app"), MapperConf(name="default_app")),
        quarantine_sink="_q",
    )
    got = [r[SINK_COL] for r in route(df, cfg).collect()]
    assert got == ["svc-a", "default_app"]


def test_route_sends_failed_rows_to_quarantine(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", "boom")], ["app", "_error"]
    )
    cfg = PipelineConfig(routes=(MapperConf(key="app"),))
    got = {r.app: r[SINK_COL] for r in route(df, cfg).collect()}
    assert got == {"a": "a", "b": "_quarantine"}


def test_no_rules_all_quarantine(spark):
    df = spark.createDataFrame([("x",)], ["app"])
    cfg = PipelineConfig()
    assert route(df, cfg).first()[SINK_COL] == "_quarantine"


def test_route_equals_key_regex_mapper_routing(spark):
    """A regex rule routes on its capture alone (one regexp_extract, no
    rlike); that must equal routing on key_regex_mapper's value on every
    failure shape — NULL key, non-string key, missing key, no match, empty
    capture — with fall-through to the next rule and to quarantine, and
    rows failed upstream still quarantined."""
    df = spark.createDataFrame(
        [
            (1, "https://h/path/a/here", 7, "app-x", None),
            (2, None, 7, "app-x", None),  # NULL key ⇒ next rule
            (3, "no-slash", 7, None, None),  # no match anywhere: quarantine
            (4, "/path//here", 7, "app-x", None),  # empty capture
            (5, "https://h/path/b/here", 7, "app-x", "boom"),  # failed row
            (6, "/path/test/here", None, None, None),  # second rule wins
            (7, "", 7, None, None),
        ],
        "i long, url string, code int, app string, _error string",
    )
    rules = (
        ("url", "https://[^/]*/path/(.+)/here.*"),
        ("url", ".*/(.*)/.*"),  # the reference's empty-capture fixture
        ("code", "(7)"),  # non-string key: fails every row
        ("missing", "(x)"),  # unresolvable key: fails every row
    )
    cfg = PipelineConfig(
        routes=tuple(MapperConf(key=k, regex_matcher=p) for k, p in rules)
        + (MapperConf(key="app"),),
        quarantine_sink="_q",
    )
    before = F.coalesce(
        *[key_regex_mapper(df, k, p).value for k, p in rules],
        string_key_mapper(df, "app").value,
        F.lit("_q"),
    )
    before = F.when(F.col("_error").isNotNull(), F.lit("_q")).otherwise(before)
    expected = {r.i: r.s for r in df.select("i", before.alias("s")).collect()}
    out = route(df, cfg)
    assert out.columns == df.columns + [SINK_COL]  # no leftover temporaries
    got = {r.i: r[SINK_COL] for r in out.collect()}
    assert got == expected
    assert got == {1: "a", 2: "app-x", 3: "_q", 4: "app-x", 5: "_q", 6: "test", 7: "_q"}
