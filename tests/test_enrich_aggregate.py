"""Enrichment broadcast joins (O22) + delivery accounting aggregates (O17/O21)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsight_filebeat_spark.operators.aggregate import receipts, sink_hour_aggregates
from logsight_filebeat_spark.operators.enrich import (
    add_fields,
    enrich_with_lookup,
    url_host,
)
from logsight_filebeat_spark.sources.pages import host_meta, lang_meta, pages


def test_url_host_extraction(spark):
    df = spark.createDataFrame(
        [("https://hot.example.com/path/a/here?id=1",), ("not a url",)], ["url"]
    )
    got = [r.h for r in df.select(url_host("url").alias("h")).collect()]
    assert got == ["hot.example.com", None]


def test_add_fields_merges_literals(spark):
    df = spark.createDataFrame([({"a": "1"},)], "tags: map<string,string>")
    r = add_fields(df, {"env": "prod"}).first()
    assert dict(r.tags) == {"a": "1", "env": "prod"}


def test_enrich_skip_on_missing(spark):
    """Unmatched lookup key or NULL lookup value ⇒ tag absent, never NULL
    (mapper.go:103-106 skip-on-missing)."""
    df = spark.createDataFrame(
        [("en", {"x": "1"}), ("zz", {"x": "2"})], "lang: string, tags: map<string,string>"
    )
    out = enrich_with_lookup(df, lang_meta(spark), "lang", {"lang_name": "lang_name"})
    got = {r.lang: dict(r.tags) for r in out.collect()}
    assert got["en"] == {"x": "1", "lang_name": "English"}
    assert got["zz"] == {"x": "2"}  # no lang_name key at all


def test_enrich_by_expression_key_literal_and_join_paths_agree(spark):
    df = pages(spark, 200).withColumn("tags", F.create_map().cast("map<string,string>"))
    lit = enrich_with_lookup(
        df, host_meta(spark), url_host("url"), {"site_category": "site_category"},
        lookup_key="host",
    )
    # config-sized lookup ⇒ literal-map fast path: no join in the plan
    plan = lit._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    cats = {r[0] for r in lit.select(F.element_at("tags", "site_category")).distinct().collect()}
    assert "hot" in cats
    # forced join path (max_literal_entries=None) is row-identical
    jn = enrich_with_lookup(
        df, host_meta(spark), url_host("url"), {"site_category": "site_category"},
        lookup_key="host", max_literal_entries=None,
    )
    plan_jn = jn._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_jn
    key = lambda r: r.url
    assert sorted(
        [(r.url, dict(r.tags)) for r in lit.select("url", "tags").collect()]
    ) == sorted(
        [(r.url, dict(r.tags)) for r in jn.select("url", "tags").collect()]
    )
    # a duplicate-keyed lookup must refuse the map path (joins duplicate
    # fact rows; a map cannot) and fall back
    dup = host_meta(spark).unionByName(host_meta(spark).limit(1))
    out_dup = enrich_with_lookup(
        df, dup, url_host("url"), {"site_category": "site_category"},
        lookup_key="host",
    )
    assert "Join" in out_dup._jdf.queryExecution().executedPlan().toString()


def test_sink_hour_aggregates_and_failure_rate(spark):
    df = spark.createDataFrame(
        [
            ("s1", "2024-03-01 10:05:00", "hello", None),
            ("s1", "2024-03-01 10:55:00", "world!", None),
            ("s1", "2024-03-01 10:30:00", None, "boom"),
            ("s2", "2024-03-01 11:00:00", "abc", None),
        ],
        "sink: string, warc_ts: string, message: string, _error: string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    agg = sink_hour_aggregates(df).orderBy("sink", "hour_bucket").collect()
    assert len(agg) == 2
    s1 = agg[0]
    assert s1.event_count == 2 + 1
    assert s1.byte_total == 5 + 6  # failed row's bytes not counted
    assert s1.failed_count == 1
    assert abs(s1.parse_failure_rate - 1 / 3) < 1e-6
    assert agg[1].parse_failure_rate == 0.0


def test_sink_hour_stage_serves_every_frame_of_its_schema(spark):
    """One prebuilt stage, applied to two frames of the same schema, gives
    what a fresh ``sink_hour_aggregates`` gives for each."""
    from logsight_filebeat_spark.operators.aggregate import sink_hour_stage

    def frame(rows):
        return spark.createDataFrame(rows, "sink: string, warc_ts: string, message: string, _error: string") \
            .withColumn("warc_ts", F.to_timestamp("warc_ts"))

    a = frame([("s1", "2024-03-01 10:05:00", "hello", None), ("s2", "2024-03-01 11:00:00", None, "x")])
    b = frame([("s3", "2024-03-02 09:00:00", "abcd", None)])
    assert a.schema == b.schema
    stage = sink_hour_stage(a.schema)
    for df in (a, b):
        assert sorted(stage(df).collect()) == sorted(sink_hour_aggregates(df).collect())


def test_receipts_status_codes(spark):
    df = spark.createDataFrame(
        [("s1", None), ("s1", "err"), ("s2", None)],
        "sink: string, _error: string",
    )
    rec = {r.sink: r for r in receipts(df, "b1").collect()}
    assert rec["s1"].logs_count == 1 and rec["s1"].status == 207
    assert rec["s2"].logs_count == 1 and rec["s2"].status == 200
    assert rec["s1"].batch_id == "b1"
    assert len(rec["s1"].receipt_id) == 64


def test_canonical_url_rules(spark):
    """Fragment, tracking params, scheme/authority case, default ports,
    trailing slashes — and the things canonicalization must NOT touch:
    path case, non-default ports, non-URL strings, the authority's //."""
    from logsight_filebeat_spark.operators.enrich import canonical_url

    cases = {
        "HTTPS://Example.COM:443/Path/?utm_source=x&id=3&utm_c=z#frag":
            "https://example.com/Path/?id=3",
        "http://example.com:80/a//": "http://example.com/a",
        "https://example.com/?utm_only=1": "https://example.com",
        "https://example.com/a?x=1&gclid=g&y=2":
            "https://example.com/a?x=1&y=2",
        "https://example.com/": "https://example.com",
        "https://": "https://",
        "http://h:8080/x": "http://h:8080/x",
        "not a url": "not a url",
    }
    df = spark.createDataFrame([(k,) for k in cases], "url string")
    got = {
        r.url: r.c
        for r in df.select("url", canonical_url("url").alias("c")).collect()
    }
    assert got == cases


def test_url_dup_groups_collapses_variants(spark):
    from logsight_filebeat_spark.operators.enrich import url_dup_groups

    df = spark.createDataFrame(
        [
            (1, "https://a.com/x"),
            (2, "HTTPS://A.com/x#top"),
            (3, "https://a.com/x?utm_source=s"),
            (4, "https://b.com/y"),
        ],
        "doc_id bigint, url string",
    )
    got = {
        r.canon_url: (r.n_dups, r.keep_id)
        for r in url_dup_groups(df).collect()
    }
    assert got == {
        "https://a.com/x": (3, 1),
        "https://b.com/y": (1, 4),
    }


def test_range_join_matches_theta_join_with_overlaps_and_gaps(spark):
    import pyspark.sql.functions as F

    from logsight_filebeat_spark.operators.enrich import range_join

    facts = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 499, 500, 999, 2500, 7000, 99999, 100000, -5])],
        "id long, v long",
    )
    ranges = spark.createDataFrame(
        [
            (0, 500, "a"),
            (500, 1000, "b"),
            (0, 100000, "all"),      # overlaps everything in-domain
            (200000, 300000, "far"), # matches nothing
            (10, 10, "empty"),       # degenerate lo == hi: dropped
        ],
        "lo bigint, hi bigint, label string",
    )
    for w in (1, 100, 1000, 250000):
        got = {
            (r.id, r.label)
            for r in range_join(facts, ranges, "v", bucket_width=w).collect()
        }
        want = {
            (r.id, r.label)
            for r in facts.join(
                ranges,
                (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")),
            ).collect()
        }
        assert got == want, f"bucket_width={w}"
    # 100000 and -5 are out of every range; 0 matches a + all
    assert (7, "all") not in got and (8, "a") not in got
    assert {(0, "a"), (0, "all")} <= got


def test_range_join_plans_as_hash_join_not_nested_loop(spark):
    from logsight_filebeat_spark.operators.enrich import range_join

    facts = spark.createDataFrame([(i, i * 7 % 5000) for i in range(500)], "id long, v long")
    ranges = spark.createDataFrame(
        [(0, 1000, "x"), (1000, 5000, "y")], "lo bigint, hi bigint, label string"
    )
    plan = range_join(facts, ranges, "v", bucket_width=500)._jdf.queryExecution().explainString(
        facts.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # an actual equi-join on the bucket id


def test_rate_anomalies_flag_bursts_and_stay_repartition_stable(spark):
    import datetime as dt

    from logsight_filebeat_spark.operators.aggregate import rate_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    # steady 10 events/hour for 30 hours, then one 100-event burst
    for h in range(30):
        n = 100 if h == 28 else 10
        rows += [
            ("err", base + dt.timedelta(hours=h, seconds=i), i) for i in range(n)
        ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, i long")
    out = {
        (r.hour, r.n): (r.z, r.is_anomaly)
        for r in rate_anomalies(df, "event_type", "ts", trailing=24).collect()
    }
    burst = [(z, a) for (h, n), (z, a) in out.items() if n == 100]
    assert burst and burst[0][1] is True and burst[0][0] > 2
    # steady mid-series hours are not anomalous
    steady = [(z, a) for (h, n), (z, a) in out.items() if n == 10]
    assert all(a is False for _, a in steady)
    # first row has no baseline → z defined as 0
    first_hour = min(h for h, _ in out)
    assert out[(first_hour, 10)] == (0.0, False)
    # partitioning independence of the float scores
    again = {
        (r.hour, r.n): (r.z, r.is_anomaly)
        for r in rate_anomalies(
            df.repartition(13), "event_type", "ts", trailing=24
        ).collect()
    }
    assert again == out


def test_registered_domain_longest_suffix_wins(spark):
    from logsight_filebeat_spark.operators.enrich import registered_domain

    df = spark.createDataFrame(
        [
            ("a.b.example.com",),
            ("example.org",),
            ("deep.sub.site.co.uk",),
            ("localhost",),   # no known suffix → NULL, never misgrouped
            ("x.co.jp",),
            ("co.uk",),       # bare suffix: no label left → NULL via n >= k+1 guard
        ],
        "host string",
    )
    got = dict(
        (r.host, r.etld1) for r in registered_domain(df).collect()
    )
    assert got == {
        "a.b.example.com": "example.com",
        "example.org": "example.org",
        "deep.sub.site.co.uk": "site.co.uk",
        "localhost": None,
        "x.co.jp": "x.co.jp",
        "co.uk": None,
    }


def test_registered_domain_depth_follows_suffix_table(spark):
    """Round-4 regression: candidate-tail depth derives from the suffix
    table's max(labels), so real PSL rules 3+ labels deep (pvt.k12.ma.us
    style) match instead of silently falling back to the 1-label TLD."""
    from logsight_filebeat_spark.operators.enrich import registered_domain

    suffixes = spark.createDataFrame(
        [("com", 1), ("us", 1), ("k12.ma.us", 3)], "suffix string, labels int"
    )
    df = spark.createDataFrame(
        [
            ("www.district.k12.ma.us",),
            ("school.k12.ma.us",),
            ("a.b.example.com",),
            ("k12.ma.us",),  # bare suffix → NULL
        ],
        "host string",
    )
    got = {
        r.host: r.etld1 for r in registered_domain(df, suffixes=suffixes).collect()
    }
    assert got == {
        "www.district.k12.ma.us": "district.k12.ma.us",
        "school.k12.ma.us": "school.k12.ma.us",
        "a.b.example.com": "example.com",
        "k12.ma.us": None,
    }


def test_rate_anomalies_densified_hours_flag_cliff_to_zero(spark):
    """Round-4 regression: zero-event hours enter the trailing baseline as
    explicit n=0 rows, so (a) a traffic cliff to zero is itself scored and
    flagged, and (b) a post-gap baseline spans true wall-clock hours, not
    arbitrarily-old observed buckets."""
    import datetime as dt

    from logsight_filebeat_spark.operators.aggregate import rate_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    # steady 10/hour for hours 0..24, silence for 25..34, one event at 35
    for h in range(25):
        rows += [("err", base + dt.timedelta(hours=h, seconds=i), i) for i in range(10)]
    rows.append(("err", base + dt.timedelta(hours=35), 0))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, i long")

    out = {
        r.hour.hour + (r.hour.day - 1) * 24: (r.n, r.z, r.is_anomaly)
        for r in rate_anomalies(df, "event_type", "ts", trailing=24).collect()
    }
    # the grid is dense: every hour 0..35 present exactly once
    assert sorted(out) == list(range(36))
    # hour 25 (first silent hour): steady baseline, zero variance →
    # raw-deviation scoring, n − mean = −10 → flagged
    n25, z25, a25 = out[25]
    assert (n25, z25, a25) == (0, -10.0, True)
    # the single post-gap event is NOT anomalous once the silent hours
    # (n=0) are in its baseline
    n35, z35, a35 = out[35]
    assert n35 == 1 and a35 is False
    # opt-out keeps the sparse observed-buckets-only reading
    sparse = rate_anomalies(df, "event_type", "ts", trailing=24, densify=False)
    assert sparse.count() == 26  # 25 busy hours + the single event hour


def test_funnel_strict_sequence(spark):
    """A user only counts at step i if the step-i event is STRICTLY after
    their step-(i-1) completion; out-of-order completions don't count."""
    from datetime import datetime, timedelta

    from logsight_filebeat_spark.operators.aggregate import funnel_steps

    t0 = datetime(2024, 5, 1, 10, 0, 0)
    m = timedelta(minutes=1)
    rows = [
        # user 1: full ordered funnel
        (1, t0, "view"), (1, t0 + m, "click"), (1, t0 + 2 * m, "purchase"),
        # user 2: purchase BEFORE click — stops at click
        (2, t0, "view"), (2, t0 + 2 * m, "click"), (2, t0 + m, "purchase"),
        # user 3: click before any view — never enters step 2
        (3, t0 + m, "view"), (3, t0, "click"),
        # user 4: view only
        (4, t0, "view"),
        # user 5: no view at all — not even step 1
        (5, t0, "click"), (5, t0 + m, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )
    got = {
        (r.step, r.event_type): r.n_users
        for r in funnel_steps(df, steps=("view", "click", "purchase")).collect()
    }
    assert got == {(1, "view"): 4, (2, "click"): 2, (3, "purchase"): 1}


def test_cohort_retention_triangle(spark):
    """day_offset counts calendar days since the user's first-seen day;
    multiple events on one day count the user once."""
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import cohort_retention

    d = lambda day, h: datetime(2024, 5, day, h, 0, 0)
    rows = [
        (1, d(1, 9)), (1, d(1, 23)), (1, d(3, 1)),   # cohort 5/1, offsets 0,0,2
        (2, d(1, 5)), (2, d(2, 5)),                   # cohort 5/1, offsets 0,1
        (3, d(2, 12)),                                 # cohort 5/2, offset 0
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        (r.cohort_day.strftime("%m-%d"), r.day_offset): r.n_users
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("05-01", 0): 2, ("05-01", 1): 1, ("05-01", 2): 1, ("05-02", 0): 1,
    }


def test_ewma_scores_recency_weighting_and_burst(spark):
    """EWMA weights recent hours over old ones (hour-difference based, so
    dense grid or sparse key give identical scores), and flags n/ewma
    bursts."""
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import ewma_scores

    h = lambda hh: datetime(2024, 5, 1, hh, 30, 0)
    # key 'a': steady 2/hour for 4 hours, then a 12-event burst at hour 4
    rows = [("a", h(hh)) for hh in range(4) for _ in range(2)]
    rows += [("a", h(4))] * 12
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    out = {
        r.hour.hour: r
        for r in ewma_scores(df, "k", "ts", alpha=0.5, burst_ratio=3.0).collect()
    }
    # hour 4 baseline: weights (1-α)^(age-1) over n=2,2,2,2 → ewma = 2
    assert abs(out[4].ewma - 2.0) < 1e-6
    assert abs(out[4].ratio - 6.0) < 1e-6 and out[4].is_burst
    assert not out[3].is_burst
    # hour 0: empty history → ewma 0, ratio 0, no flag
    assert out[0].ewma == 0.0 and out[0].ratio == 0.0 and not out[0].is_burst


def test_ewma_scores_age_weighting_beats_position(spark):
    """A recent spike outweighs an equal old spike: weights derive from
    wall-clock age, so the baseline right after a spike is higher."""
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import ewma_scores

    h = lambda hh: datetime(2024, 5, 1, hh, 0, 0)
    rows = [("a", h(0))] * 10 + [("a", h(1))] + [("a", h(2))] + [("a", h(3))]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    out = {r.hour.hour: r.ewma for r in ewma_scores(df, "k", "ts", alpha=0.5).collect()}
    # hour 1 baseline (only the spike, age 1) > hour 3 baseline (spike aged 3)
    assert out[1] > out[3] > 0


def test_ip_range_lookup_matches_and_misses(spark):
    from logsight_filebeat_spark.operators.enrich import ip_range_lookup

    # blocks: 10.0.0.0–10.0.63.255 (US), 10.1.0.0–10.1.63.255 (DE); the
    # second spans a /16 boundary on purpose: 10.2.255.0–10.3.0.255 (FR)
    blocks = spark.createDataFrame(
        [
            (167772160, 167772160 + 16383, "US"),
            (167837696, 167837696 + 16383, "DE"),
            (167968512, 167969023, "FR"),
        ],
        "ip_start long, ip_end long, country string",
    )
    df = spark.createDataFrame(
        [
            (1, "10.0.1.2"),      # US
            (2, "10.1.63.255"),   # DE upper edge
            (3, "10.1.64.0"),     # just past DE ⇒ miss
            (4, "10.2.255.7"),    # FR, low /16 bucket
            (5, "10.3.0.9"),      # FR, high /16 bucket
            (6, "nope"),          # unparseable ⇒ miss, row kept
        ],
        "id int, ip string",
    )
    out = {r.id: r.country for r in ip_range_lookup(df, "ip", blocks).collect()}
    assert out == {1: "US", 2: "DE", 3: None, 4: "FR", 5: "FR", 6: None}


def test_ip_range_lookup_plans_as_hash_join_not_nested_loop(spark):
    from logsight_filebeat_spark.operators.enrich import ip_range_lookup

    blocks = spark.createDataFrame(
        [(167772160, 167788543, "US")], "ip_start long, ip_end long, country string"
    )
    df = spark.createDataFrame([(1, "10.0.1.2")], "id int, ip string")
    plan = (
        ip_range_lookup(df, "ip", blocks)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_transition_counts_matrix(spark):
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import transition_counts

    t = lambda s: datetime(2024, 5, 1, 0, 0, s)
    # user 1: view->click->view->click ; user 2: view->click (first events
    # contribute no transition)
    rows = [
        (1, t(0), "view", 10), (1, t(1), "click", 11),
        (1, t(2), "view", 12), (1, t(3), "click", 13),
        (2, t(0), "view", 20), (2, t(1), "click", 21),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, event_id int"
    )
    out = {
        (r.src, r.dst): (r.cnt, r.prob)
        for r in transition_counts(df).collect()
    }
    assert out == {("view", "click"): (3, 1.0), ("click", "view"): (1, 1.0)}


def test_transition_counts_probability_normalizes_per_source(spark):
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import transition_counts

    t = lambda s: datetime(2024, 5, 1, 0, 0, s)
    rows = [
        (1, t(0), "a", 0), (1, t(1), "b", 1),
        (1, t(2), "a", 2), (1, t(3), "c", 3),
        (1, t(4), "a", 4), (1, t(5), "b", 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, event_id int"
    )
    out = {
        (r.src, r.dst): r.prob for r in transition_counts(df).collect()
    }
    assert abs(out[("a", "b")] - 2 / 3) < 1e-6
    assert abs(out[("a", "c")] - 1 / 3) < 1e-6


def test_state_runs_rle_and_change_points(spark):
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import state_runs

    t = lambda s: datetime(2024, 5, 1, 0, 0, s)
    rows = [
        (1, t(0), "ok", 0), (1, t(1), "ok", 1), (1, t(2), "err", 2),
        (1, t(3), "err", 3), (1, t(4), "ok", 4),
        (2, t(0), "ok", 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, event_id int"
    )
    out = sorted(
        (r.key, r.run_seq, r.state, r.run_length)
        for r in state_runs(df).collect()
    )
    assert out == [
        (1, 1, "ok", 2), (1, 2, "err", 2), (1, 3, "ok", 1), (2, 1, "ok", 1),
    ]
    # run bounds cover the run's wall-clock span
    r1 = [r for r in state_runs(df).collect() if r.key == 1 and r.run_seq == 1][0]
    assert r1.ts_start == t(0) and r1.ts_end == t(1)


def test_state_runs_single_data_shuffle(spark):
    """Both windows and the final aggregate share one hashpartitioning on
    the key: exactly ONE data-sized Exchange in the plan."""
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import state_runs

    df = spark.createDataFrame(
        [(1, datetime(2024, 5, 1), "ok", 0)],
        "user_id int, ts timestamp, event_type string, event_id int",
    )
    plan = (
        state_runs(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_grouped_quantiles_matches_builtin_percentile(spark):
    """The histogram form reproduces Spark's own exact percentile()
    (type-7 interpolation) on data with heavy duplicate values."""
    import random

    from pyspark.sql import functions as F

    from logsight_filebeat_spark.operators.aggregate import grouped_quantiles

    rng = random.Random(7)
    rows = [
        (k, round(rng.uniform(0, 100), 1))
        for k in ("a", "b") for _ in range(500)
    ] + [("c", 42.0)]  # single-value key: all quantiles = the value
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.key: r
        for r in grouped_quantiles(
            df, "k", "v", {"p50": 0.5, "p95": 0.95, "p99": 0.99}
        ).collect()
    }
    want = {
        r.k: r
        for r in df.groupBy("k")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.95)").alias("p95"),
            F.expr("percentile(v, 0.99)").alias("p99"),
        )
        .collect()
    }
    for k in ("a", "b", "c"):
        for q in ("p50", "p95", "p99"):
            assert abs(got[k][q] - want[k][q]) < 1e-9, (k, q)
    assert got["c"].n == 1 and got["c"].p99 == 42.0


def test_grouped_quantiles_ignores_nulls(spark):
    from logsight_filebeat_spark.operators.aggregate import grouped_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0)], "k string, v double"
    )
    r = grouped_quantiles(df, "k", "v", {"p50": 0.5}).collect()[0]
    assert r.n == 2 and abs(r.p50 - 2.0) < 1e-9


def test_session_paths_gap_split_and_step_cap(spark):
    from datetime import datetime, timedelta

    from logsight_filebeat_spark.operators.aggregate import session_paths

    t0 = datetime(2024, 5, 1, 0, 0, 0)
    m = lambda mins: t0 + timedelta(minutes=mins)
    rows = [
        # user 1, session 1: 7 events 1 min apart (path capped at 5)
        *[(1, m(i), f"e{i}", i) for i in range(7)],
        # >30 min gap -> session 2
        (1, m(45), "view", 10), (1, m(46), "click", 11),
        # user 2: exactly 30 min gap MERGES (strictly-over rule)
        (2, m(0), "view", 20), (2, m(30), "click", 21),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, event_id int"
    )
    out = {r.path: r.n_sessions for r in session_paths(df).collect()}
    assert out == {
        "e0>e1>e2>e3>e4": 1,  # capped at 5 steps
        "view>click": 2,      # user 1 session 2 + user 2's merged session
    }


def test_session_paths_single_data_shuffle(spark):
    """Both labeling windows and the per-session fold share one
    hashpartitioning on the key; only the path histogram adds a second
    (bounded) exchange."""
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import session_paths

    df = spark.createDataFrame(
        [(1, datetime(2024, 5, 1), "v", 0)],
        "user_id int, ts timestamp, event_type string, event_id int",
    )
    plan = (
        session_paths(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_hopping_counts_overlap_and_boundaries(spark):
    from logsight_filebeat_spark.operators.aggregate import hopping_counts

    rows = [
        # 00:10 -> covered by windows starting 23:15..00:00 (4 windows)
        (1, "2024-03-01 00:10:00", "a", 1.0),
        # boundary: exactly 01:00 -> windows 00:15..01:00, NOT 00:00
        (2, "2024-03-01 01:00:00", "a", 2.0),
    ]
    ev = spark.createDataFrame(rows, "id bigint, ts string, k string, value double").select(
        "id", F.to_timestamp("ts").alias("ts"), "k", "value"
    )
    got = {
        (r.window_start, r.window_end): (r.n_events, r.value_sum)
        for r in hopping_counts(
            ev, key_col="k", ts_col="ts", size="1 hour", slide="15 minutes"
        ).collect()
    }
    # each event in exactly 4 windows
    assert sum(n for n, _ in got.values()) == 8
    # event 1's windows
    assert got[("2024-03-01 00:00:00", "2024-03-01 01:00:00")] == (1, 1.0)
    assert got[("2024-02-29 23:15:00", "2024-03-01 00:15:00")] == (1, 1.0)
    # boundary event 2 excluded from the window ENDING at 01:00, included
    # in the one starting there
    assert ("2024-03-01 00:00:00", "2024-03-01 01:00:00") in got
    assert got[("2024-03-01 01:00:00", "2024-03-01 02:00:00")] == (1, 2.0)
    # 00:30-01:30 holds only the boundary event (00:10 predates its start)
    assert got[("2024-03-01 00:30:00", "2024-03-01 01:30:00")] == (1, 2.0)


def test_hopping_counts_partition_stable(spark):
    from logsight_filebeat_spark.operators.aggregate import hopping_counts

    ev = (
        spark.range(200)
        .select(
            F.col("id"),
            F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("t0"),
            (F.col("id") % 3).cast("string").alias("k"),
            (F.col("id") * 0.5).alias("value"),
        )
        .select(
            "id", F.timestamp_seconds(F.unix_timestamp("t0") + F.col("id") * 37).alias("ts"),
            "k", "value",
        )
    )
    a = sorted(
        tuple(r)
        for r in hopping_counts(ev, key_col="k").collect()
    )
    b = sorted(
        tuple(r)
        for r in hopping_counts(ev.repartition(7), key_col="k").collect()
    )
    assert a == b and len(a) > 0


def test_seasonal_anomalies_quiet_on_daily_peak_loud_off_hours(spark):
    import datetime as dt

    from logsight_filebeat_spark.operators.aggregate import (
        seasonal_anomalies,
    )

    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    rows = []
    # 6 days of a strong daily noon peak (20 events) over a floor of 1
    for day in range(6):
        for h in range(24):
            cnt = 20 if h == 12 else 1
            for i in range(cnt):
                rows.append(
                    ("svc", base + dt.timedelta(days=day, hours=h, minutes=i))
                )
    # day 6: the same noon peak (NOT an anomaly) + a 3am burst (IS one)
    for i in range(20):
        rows.append(("svc", base + dt.timedelta(days=6, hours=12, minutes=i)))
    for i in range(15):
        rows.append(("svc", base + dt.timedelta(days=6, hours=3, minutes=i)))
    rows.append(("svc", base + dt.timedelta(days=6, hours=1)))
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    got = {
        (r.hour.day, r.hour.hour): r
        for r in seasonal_anomalies(df, "key", "ts", days=7, min_days=2).collect()
    }
    # the day-7 noon peak matches its history: ratio ~1, no burst
    noon = got[(7, 12)]
    assert noon.baseline == 20.0 and noon.ratio == 1.0 and not noon.is_burst
    # the 3am burst: history 1/hour, n=15 -> ratio 15
    burst = got[(7, 3)]
    assert burst.baseline == 1.0 and burst.ratio == 15.0 and burst.is_burst
    # normal 1am hour: ratio 1, quiet
    assert not got[(7, 1)].is_burst
    # first day has no history: ratio 0, quiet
    assert got[(1, 12)].ratio == 0.0 and not got[(1, 12)].is_burst
    # partitioning invariance
    got2 = {
        (r.hour.day, r.hour.hour): (r.ratio, r.is_burst)
        for r in seasonal_anomalies(
            df.repartition(7), "key", "ts", days=7, min_days=2
        ).collect()
    }
    assert got2 == {k: (v.ratio, v.is_burst) for k, v in got.items()}


def test_seasonal_anomalies_burst_from_silence_sentinel(spark):
    import datetime as dt

    from logsight_filebeat_spark.operators.aggregate import (
        seasonal_anomalies,
    )

    base = dt.datetime(2025, 1, 1, 5, 0, 0)
    # key active at 5am on days 0 and 10 only; the densified grid spans
    # the gap, so day 10's 5am sees a FULL 7-day same-hour history of
    # zeros (day 0 has aged out of the window) -> sentinel ratio
    rows = [("k", base)] + [
        ("k", base + dt.timedelta(days=10, minutes=i)) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    got = {
        (r.hour.day, r.hour.hour): r
        for r in seasonal_anomalies(df, "key", "ts", days=7, min_days=2).collect()
    }
    b = got[(11, 5)]
    assert b.baseline == 0.0 and b.ratio == 1000000.0 and b.is_burst
    assert b.hist_days == 7


def test_parse_user_agent_rules_and_precedence(spark):
    from logsight_filebeat_spark.operators.enrich import parse_user_agent

    rows = [
        ("Mozilla/5.0 (Windows NT 10.0) Chrome/124.0 Safari/537.36",),
        ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15) Version/17.4 Safari/605.1.15",),
        ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://example)",),  # bot wins
        ("SpecialBot Chrome/99",),  # bot outranks Chrome token
        ("curl/8.5.0",),
        ("something unknown",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "ua string")
    got = [r.p for r in df.select(parse_user_agent("ua").alias("p")).collect()]
    assert (got[0].browser, got[0].os, got[0].is_bot, got[0].version) == (
        "chrome", "windows", False, "124")
    assert (got[1].browser, got[1].os, got[1].version) == ("safari", "macos", "17")
    assert got[2].is_bot and got[3].is_bot and got[4].is_bot
    assert got[5].browser == "other" and got[5].os == "other"
    assert got[6] is None
    # pure codegen: no Python stage
    plan = df.select(parse_user_agent("ua"))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_parse_url_parts_components(spark):
    from logsight_filebeat_spark.operators.enrich import parse_url_parts

    rows = [
        ("https://h.example:8443/a/b?x=1&y=2#top",),
        ("http://h.example/a",),
        ("::garbage::",),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = [r.p for r in df.select(parse_url_parts("url").alias("p")).collect()]
    assert tuple(got[0]) == ("https", "h.example", 8443, "/a/b", "x=1&y=2", "top")
    assert tuple(got[1]) == ("http", "h.example", None, "/a", None, None)
    assert all(v is None for v in got[2])


def test_normalize_severity_aliases_numbers_unknowns(spark):
    from logsight_filebeat_spark.operators.enrich import normalize_severity

    rows = [("INFO",), ("err",), (" FATAL ",), ("5",), ("9",), ("junk",)]
    df = spark.createDataFrame(rows, "l string")
    got = [r.s for r in df.select(normalize_severity("l").alias("s")).collect()]
    assert tuple(got[0]) == (6, "informational")
    assert tuple(got[1]) == (3, "error")
    assert tuple(got[2]) == (2, "critical")
    assert tuple(got[3]) == (5, "notice")
    assert got[4] is None and got[5] is None


# ---------------------------------------------------------------------------
# path_rollup
# ---------------------------------------------------------------------------

def test_path_rollup_builds_prefix_lattice(spark):
    from logsight_filebeat_spark.operators.enrich import path_rollup

    df = spark.createDataFrame(
        [
            ("https://a.com/x/y/z?q=1",),
            ("https://a.com/x/y/w",),
            ("https://a.com/x",),
            ("https://b.com/",),          # zero segments: contributes nothing
        ],
        "url string",
    )
    out = {(r.host, r.depth, r.prefix): r.n_pages
           for r in path_rollup(df, max_depth=3).collect()}
    assert out[("a.com", 1, "/x")] == 3
    assert out[("a.com", 2, "/x/y")] == 2
    assert out[("a.com", 3, "/x/y/z")] == 1
    assert out[("a.com", 3, "/x/y/w")] == 1
    assert not any(h == "b.com" for h, _, _ in out)


def test_robust_outliers_resist_masking(spark):
    from logsight_filebeat_spark.operators.aggregate import robust_outliers

    # 20 values at ~10 plus TWO huge spikes: a stddev z-score would be
    # dragged up by the spikes themselves; median/MAD flags exactly them
    rows = [("k", i, 10.0 + (i % 3) * 0.1) for i in range(20)]
    rows += [("k", 100, 500.0), ("k", 101, 900.0)]
    df = spark.createDataFrame(rows, "key string, id bigint, v double")
    out = robust_outliers(df, "key", "v", "id")
    flagged = {r.id for r in out.collect()}
    assert flagged == {100, 101}


def test_robust_outliers_mad_zero_fallback(spark):
    from logsight_filebeat_spark.operators.aggregate import robust_outliers

    # all-but-one identical: MAD = 0, any deviation flags, rz is NULL
    rows = [("k", i, 5.0) for i in range(10)] + [("k", 99, 5.1)]
    df = spark.createDataFrame(rows, "key string, id bigint, v double")
    [r] = robust_outliers(df, "key", "v", "id").collect()
    assert r.id == 99 and r.mad == 0.0 and r.rz is None


# ---------------------------------------------------------------------------
# cusum_changepoints
# ---------------------------------------------------------------------------

def test_cusum_matches_recursive_definition(spark):
    import datetime as dt

    from logsight_filebeat_spark.operators.aggregate import (
        cusum_changepoints,
    )

    # 12 quiet hours at 2/h then a persistent drift to 6/h — each drift
    # hour is small, but CUSUM accumulates them into an alarm
    counts = [2] * 12 + [6] * 6
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        ("k", base + dt.timedelta(hours=h), i)
        for h, n in enumerate(counts)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, id int")
    got = {
        r["hour"].hour: (r["n"], r["cusum_scaled"], r["alarm"])
        for r in cusum_changepoints(df, "event_type", "ts").collect()
    }
    # python reference: the classic recursion in the same scaled integers
    t, total = len(counts), sum(counts)
    s, expect = 0, {}
    for h, n in enumerate(counts):
        s = max(0, s + (n * t - total))
        expect[h] = (n, s, 10 * s > 30 * total)
    assert got == expect
    assert any(a for _, _, a in got.values())  # drift does alarm
    assert not got[5][2]  # quiet period does not


def test_cusum_densifies_hour_gaps(spark):
    import datetime as dt

    from logsight_filebeat_spark.operators.aggregate import (
        cusum_changepoints,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    # events at hours 0 and 3 only: hours 1-2 must appear with n=0
    rows = [("k", base, 0), ("k", base + dt.timedelta(hours=3), 1)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, id int")
    got = sorted(
        (r["hour"].hour, r["n"])
        for r in cusum_changepoints(df, "event_type", "ts").collect()
    )
    assert got == [(0, 1), (1, 0), (2, 0), (3, 1)]
