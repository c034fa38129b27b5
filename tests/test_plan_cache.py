"""PipelinePlan builds its map stage's Columns once per input schema.

``mapped`` still calls every layer's operator once per batch — the traced
benchmark wraps those module attributes and reads their positional
arguments — but each call only applies the Columns cached for
``pages.schema``. These tests pin that the cached build equals a fresh one
and that a new schema compiles afresh.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsight_filebeat_spark.config import MapperConf, PipelineConfig
from logsight_filebeat_spark.operators import parse as parse_ops
from logsight_filebeat_spark.operators.enrich import (
    LITERAL_MAP_MAX_ENTRIES,
    enrich_with_lookup,
    url_host,
)
from logsight_filebeat_spark.operators.log_mapper import to_log
from logsight_filebeat_spark.operators.router import route
from logsight_filebeat_spark.plans import pipeline
from logsight_filebeat_spark.plans.pipeline import (
    DEFAULT_GROK,
    Lookup,
    compile,
    standard_pages_config,
)
from logsight_filebeat_spark.sources.pages import host_meta, lang_meta, pages

GROK_LIST = [
    "%{NOTSPACE:timestamp} %{LOGLEVEL:level} %{GREEDYDATA:message}",
    DEFAULT_GROK,
]


def _big_host_meta(spark):
    """host_meta padded past the literal-map limit: the broadcast-join path."""
    pad = spark.createDataFrame(
        [(f"pad{i}.example", "cold", f"org-pad{i}") for i in range(LITERAL_MAP_MAX_ENTRIES)],
        "host string, site_category string, org string",
    )
    return host_meta(spark).unionByName(pad)


def _plan(spark, variant: str):
    host = host_meta(spark) if variant != "broadcast" else _big_host_meta(spark)
    lookups = [
        Lookup(host, url_host("url"), {"site_category": "site_category", "org": "org"}, "host"),
        Lookup(lang_meta(spark), "lang", {"lang_name": "lang_name"}),
    ]
    return compile(
        standard_pages_config(),
        grok_pattern=GROK_LIST if variant == "grok_list" else DEFAULT_GROK,
        multiline=variant != "no_multiline",
        vectorized=variant == "vectorized",
        lookups=lookups,
    )


def _uncached(plan, pages_df):
    """The map stage from the operators alone, every Column built anew."""
    df, src = pages_df, "text"
    if plan.multiline:
        df, src = parse_ops.explode_multiline(df, "text", "event_text"), "event_text"
    if len(plan.grok.patterns) > 1:
        op = parse_ops.with_grok_set_vectorized if plan.vectorized else parse_ops.with_grok_set_native
        grok = plan.grok
    else:  # a one-pattern plan carries no pattern index
        op = parse_ops.with_grok_vectorized if plan.vectorized else parse_ops.with_grok_native
        grok = plan.grok.patterns[0]
    df = to_log(op(df, src, grok, "parsed"), plan.cfg, event_ts_col=plan.event_ts_col)
    for lk in plan.lookups:
        df = enrich_with_lookup(df, lk.table, lk.on, lk.tag_cols, lookup_key=lk.lookup_key)
    return route(df, plan.cfg)


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("variant", ["default", "grok_list", "vectorized", "no_multiline", "broadcast"])
def test_one_entry_per_schema_equals_an_uncached_build(spark, variant):
    plan = _plan(spark, variant)
    if variant == "broadcast":
        assert plan.lookups[0]._rows is None  # over the limit: not pinned
        assert "Join" in plan.mapped(pages(spark, 10, seed=1))._jdf.queryExecution() \
            .optimizedPlan().toString()
    for seed in (31, 32):
        pg = pages(spark, 150, seed=seed)
        got = plan.mapped(pg)
        assert len(plan._stages) == 1
        assert got.columns == _uncached(plan, pg).columns
        assert _rows(got) == _rows(_uncached(plan, pg))


@pytest.mark.parametrize("lang", ["missing", "int"])
def test_another_schema_compiles_afresh(spark, lang):
    """``lang`` feeds a tag mapping: missing or non-string, it is skipped,
    so the to_log projection differs from the one built for string lang."""
    cfg = standard_pages_config()
    lookups = [Lookup(host_meta(spark), url_host("url"), {"site_category": "site_category"}, "host")]
    plan = compile(cfg, lookups=lookups)
    pg = pages(spark, 150, seed=33)
    before = _rows(plan.mapped(pg))

    other = pg.drop("lang") if lang == "missing" else pg.withColumn("lang", F.lit(7))
    got = plan.mapped(other)
    assert len(plan._stages) == 2
    assert got.schema == compile(cfg, lookups=lookups).mapped(other).schema
    assert _rows(got) == _rows(compile(cfg, lookups=lookups).mapped(other))
    assert all("lang" not in r.tags for r in got.select("tags").collect())
    assert _rows(plan.mapped(pg)) == before  # the first entry still serves its schema


def test_compile_pins_small_lookups_with_their_rows(spark):
    plan = _plan(spark, "default")
    assert [len(lk._rows) for lk in plan.lookups] == [
        host_meta(spark).count(), lang_meta(spark).count()
    ]


def test_each_layer_operator_runs_once_per_batch(spark, tmp_path, monkeypatch):
    """perfbench's tracer wraps these module attributes and reads
    ``args[3]`` (grok: output column; lookup: tag columns) and ``args[1]``
    (route: the config). With a warm cache every run_batch still calls each
    of them once per layer, positionally."""
    plan = _plan(spark, "default")
    root = str(tmp_path / "sinks")
    plan.run_batch(spark, pages(spark, 100, seed=34), "warm", sink_root=root)
    assert len(plan._stages) == 1

    calls: dict[str, list[tuple]] = {}

    def count(owner, name):
        fn = getattr(owner, name)

        def wrapper(*args, **kwargs):
            calls.setdefault(name, []).append(args)
            return fn(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    for name in ("explode_multiline", "with_grok_native", "with_grok_vectorized",
                 "with_grok_set_native", "with_grok_set_vectorized"):
        count(parse_ops, name)
    for name in ("to_log", "enrich_with_lookup", "route", "sink_hour_aggregates",
                 "sink_hour_stage"):
        count(pipeline, name)

    for i in range(2):
        plan.run_batch(spark, pages(spark, 100, seed=35 + i), f"b{i}", sink_root=root)

    # the (sink, hour) aggregate is applied per batch, but built with the map stage
    assert {k: len(v) for k, v in calls.items()} == {
        "explode_multiline": 2, "with_grok_set_native": 2, "to_log": 2,
        "enrich_with_lookup": 4, "route": 2, "sink_hour_aggregates": 2,
    }
    assert all(args[3] == "parsed" for args in calls["with_grok_set_native"])
    assert [args[3] for args in calls["enrich_with_lookup"]] == [
        lk.tag_cols for lk in plan.lookups
    ] * 2
    assert all(args[1] is plan.cfg for args in calls["route"])
    assert len(plan._stages) == 1


def test_route_stage_without_a_regex_rule(spark):
    """A config whose rules need no capture column routes the same through
    its stage as through a fresh route()."""
    cfg = PipelineConfig(
        message_key="parsed.message",
        timestamp_key="parsed.timestamp",
        level_key="parsed.level",
        routes=(MapperConf(key="lang"), MapperConf(name="default")),
    )
    plan = compile(cfg)
    pg = pages(spark, 100, seed=36)
    for _ in range(2):
        got = plan.mapped(pg)
        assert _rows(got) == _rows(_uncached(plan, pg))
    assert set(r.sink for r in got.select("sink").distinct().collect()) >= {"en", "_quarantine"}
