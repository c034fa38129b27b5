"""End-to-end PipelinePlan: parse → map → enrich → route → write → lineage.

Covers the execute path (plugin/client.go:112-129), receipt accounting, and
the registrar resume semantics (filebeat/main.go:31-34) upgraded to
exactly-once (SURVEY §4.4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsight_filebeat_spark.config import MapperConf, PipelineConfig
from logsight_filebeat_spark.plans.pipeline import (
    Lookup,
    compile,
    standard_pages_config,
)
from logsight_filebeat_spark.sinks import lineage as lineage_ops
from logsight_filebeat_spark.sources.pages import host_meta, pages
from logsight_filebeat_spark.operators.enrich import url_host


@pytest.fixture(scope="module")
def plan(spark):
    return compile(
        standard_pages_config(),
        lookups=[
            Lookup(
                table=host_meta(spark),
                on=url_host("url"),
                tag_cols={"site_category": "site_category"},
                lookup_key="host",
            )
        ],
    )


@pytest.fixture(scope="module")
def routed(plan, spark):
    df = plan.mapped(pages(spark, 1000, seed=42))
    df.persist()
    yield df
    df.unpersist()


def test_routing_targets(routed):
    sinks = {r.sink for r in routed.select("sink").distinct().collect()}
    # app-segment sinks + quarantine; 'default' fallback unreachable for valid
    # rows only when url always matches — /path and /path//here rows fall to it
    assert {"auth", "checkout", "search", "ingest", "frontend"} <= sinks
    assert "_quarantine" in sinks


def test_failed_rows_quarantined(routed):
    q = routed.filter(F.col("sink") == "_quarantine")
    assert q.count() > 0
    assert q.filter(F.col("_error").isNull() & ~F.col("url").rlike("/path/(.+)/here")).count() == 0


def test_valid_rows_have_log_schema(routed):
    ok = routed.filter(F.col("_error").isNull())
    r = ok.select("timestamp", "message", "level", "tags").first()
    assert r.timestamp and r.message and r.level
    assert r.level == r.level.upper()
    assert "lang" in dict(r.tags)
    assert dict(r.tags).get("site_category") in {"hot", "mid", "cold", None}


def test_invalid_level_and_ts_fail_validation(routed):
    failed = routed.filter(F.col("_error").isNotNull())
    msgs = [r._error for r in failed.select("_error").distinct().collect()]
    assert any("level" in m for m in msgs)
    assert any("ISO 8601" in m for m in msgs)


def test_run_batch_writes_and_commits(plan, spark, tmp_path):
    root = str(tmp_path / "sinks")
    res = plan.run_batch(spark, pages(spark, 500, seed=1), "b0", sink_root=root)
    assert not res["skipped"] and res["rows_ok"] > 0 and res["rows_failed"] > 0

    routed = spark.read.parquet(f"{root}/routed")
    assert routed.count() == res["rows_ok"] + res["rows_failed"]
    metrics = spark.read.parquet(f"{root}/metrics")
    assert metrics.filter(F.col("batch_id") == "b0").count() > 0
    receipts = spark.read.parquet(f"{root}/receipts")
    assert receipts.count() > 0
    assert lineage_ops.is_committed(spark, root, "b0")


def test_rerun_skips_committed_batch(plan, spark, tmp_path):
    root = str(tmp_path / "sinks")
    plan.run_batch(spark, pages(spark, 200, seed=2), "b1", sink_root=root)
    n1 = spark.read.parquet(f"{root}/routed").count()
    res2 = plan.run_batch(spark, pages(spark, 200, seed=2), "b1", sink_root=root)
    assert res2["skipped"] is True
    assert spark.read.parquet(f"{root}/routed").count() == n1  # rows written once


def test_crash_rerun_is_exactly_once(plan, spark, tmp_path):
    """Simulate a crash AFTER data write, BEFORE lineage ACK: rerun must
    overwrite, not duplicate (dynamic partition overwrite keyed by batch)."""
    root = str(tmp_path / "sinks")
    df = pages(spark, 300, seed=3)
    # full run to learn expected row count
    plan.run_batch(spark, df, "bx", sink_root=root)
    expected = spark.read.parquet(f"{root}/routed").count()

    # "crash": wipe lineage so bx looks uncommitted, data remains on disk
    import shutil

    shutil.rmtree(f"{root}/_lineage")
    res = plan.run_batch(spark, df, "bx", sink_root=root)
    assert res["skipped"] is False
    assert spark.read.parquet(f"{root}/routed").count() == expected  # no dupes
    assert lineage_ops.is_committed(spark, root, "bx")


def test_run_batch_tables_equal_the_operators(plan, spark, tmp_path):
    """The metrics and receipts run_batch derives from its one collected
    aggregate are exactly what the Spark operators compute over the same
    routed rows."""
    from logsight_filebeat_spark.operators.aggregate import (
        receipts,
        sink_hour_aggregates,
    )

    root = str(tmp_path / "sinks")
    pg = pages(spark, 300, seed=12)
    res = plan.run_batch(spark, pg, "bt", sink_root=root)
    routed = plan.mapped(pg)

    want = sink_hour_aggregates(routed)
    got = spark.read.parquet(f"{root}/metrics").filter(F.col("batch_id") == "bt")
    assert sorted(got.select(*want.columns).collect()) == sorted(want.collect())

    want = receipts(routed, "bt")
    got = lineage_ops.read_receipts(spark, root).select(*want.columns)
    assert sorted(got.collect()) == sorted(want.collect())

    [row] = lineage_ops.read_lineage(spark, root).collect()
    assert row.asDict() == {
        "batch_id": "bt",
        "status": "committed",
        "rows_ok": res["rows_ok"],
        "rows_failed": res["rows_failed"],
        "byte_total": res["byte_total"],
    }
    assert res["byte_total"] == routed.agg(
        F.sum(F.coalesce(F.octet_length("message"), F.lit(0)))
    ).first()[0]


def _published(spark, root: str) -> dict[str, list[str]]:
    """Every table run_batch writes, as sorted row reprs."""
    def rows(df):
        return sorted(map(repr, df.collect()))

    return {
        "routed": rows(spark.read.parquet(f"{root}/routed")),
        "metrics": rows(spark.read.parquet(f"{root}/metrics")),
        "receipts": rows(spark.read.parquet(f"{root}/receipts")),
        "lineage": rows(lineage_ops.read_lineage(spark, root)),
    }


class _Crash(Exception):
    pass


@pytest.fixture(scope="module")
def crash_pages(spark):
    return pages(spark, 200, seed=6)


@pytest.fixture(scope="module")
def clean_run(plan, spark, crash_pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("clean"))
    plan.run_batch(spark, crash_pages, "bc", sink_root=root)
    return _published(spark, root)


@pytest.mark.parametrize("step", ["routed", "metrics", "receipts", "marker"])
def test_crash_after_any_write_reruns_exactly_once(
    plan, spark, crash_pages, clean_run, tmp_path, monkeypatch, step
):
    """A crash right after any write of run_batch, then a rerun of the same
    batch id, leaves every table equal to one clean run: the rerun replaces
    the batch's partitions instead of appending to them. The metrics and
    receipts are written from the driver (``write_batch_table``)."""
    from logsight_filebeat_spark.plans import pipeline

    def then_crash(fn):
        def wrapper(*args, **kwargs):
            fn(*args, **kwargs)
            raise _Crash(step)
        return wrapper

    if step == "routed":
        monkeypatch.setattr(pipeline, "write_routed", then_crash(pipeline.write_routed))
    elif step == "marker":
        monkeypatch.setattr(lineage_ops, "commit_batch", then_crash(lineage_ops.commit_batch))
    else:
        write = lineage_ops.write_batch_table

        def crash_on_table(spark, root, table, *args, **kwargs):
            write(spark, root, table, *args, **kwargs)
            if table == step:
                raise _Crash(step)

        monkeypatch.setattr(lineage_ops, "write_batch_table", crash_on_table)

    root = str(tmp_path / "sinks")
    with pytest.raises(_Crash):
        plan.run_batch(spark, crash_pages, "bc", sink_root=root)
    monkeypatch.undo()
    res = plan.run_batch(spark, crash_pages, "bc", sink_root=root)
    assert res["skipped"] is (step == "marker")
    assert _published(spark, root) == clean_run


def test_lineage_errors_raise(plan, spark, tmp_path):
    """Only a missing _lineage dir reads as "nothing committed"; a marker
    that cannot be read, or that names another batch, raises."""
    import glob
    import os
    import shutil

    root = str(tmp_path / "sinks")
    assert lineage_ops.read_lineage(spark, root).count() == 0
    assert not lineage_ops.is_committed(spark, root, "bu")

    plan.run_batch(spark, pages(spark, 100, seed=9), "bu", sink_root=root)
    assert lineage_ops.is_committed(spark, root, "bu")
    [marker] = glob.glob(f"{root}/_lineage/*.json")

    # a marker filed under another batch's name
    other = os.path.join(os.path.dirname(marker), "bv".encode().hex() + ".json")
    shutil.copy(marker, other)
    with pytest.raises(ValueError, match="holds batch"):
        lineage_ops.read_lineage(spark, root)
    os.remove(other)

    # garbage in the marker (checksum side files dropped, so the bytes reach
    # the parser)
    for crc in glob.glob(f"{root}/_lineage/.*.crc"):
        os.remove(crc)
    with open(marker, "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError):
        lineage_ops.read_lineage(spark, root)


def test_new_checkpoint_on_a_shared_sink_publishes_its_files(plan, spark, tmp_path):
    """Draining in1 with checkpoint ck1, then in2 with a new checkpoint ck2,
    into the same sink routes both: the second checkpoint's epochs do not
    collide with the batches the first one committed."""
    from logsight_filebeat_spark.streaming.micro_batch import run_stream

    sink = str(tmp_path / "sink")
    expected = 0
    for n, seed in ((1, 21), (2, 22)):
        pg = pages(spark, 200, seed=seed)
        pg.coalesce(1).write.parquet(str(tmp_path / f"in{n}"))
        expected += plan.mapped(pg).count()
        q = run_stream(
            spark, plan, str(tmp_path / f"in{n}"), sink,
            checkpoint_dir=str(tmp_path / f"ck{n}"),
        )
        assert q.awaitTermination(120)
        assert q.exception() is None
    assert spark.read.parquet(f"{sink}/routed").count() == expected
    assert len({r.batch_id for r in lineage_ops.read_lineage(spark, sink).collect()}) == 2


@pytest.mark.parametrize("step", ["routed", "receipts"])
def test_readers_skip_a_crashed_stream_batch(plan, spark, tmp_path, monkeypatch, step):
    """A stream crashes right after a write of its batch; the same file is
    then drained under a new checkpoint, which publishes it under a new
    batch id. The crashed batch's rows stay on disk, but it never
    committed, so the readers return the file's rows once."""
    from logsight_filebeat_spark.plans import pipeline
    from logsight_filebeat_spark.sinks.writers import read_sink
    from logsight_filebeat_spark.streaming.micro_batch import run_stream

    pg = pages(spark, 200, seed=24)
    pg.coalesce(1).write.parquet(str(tmp_path / "in"))
    want = plan.mapped(pg)
    sink = str(tmp_path / "sink")

    def crash_after(fn, table=None):
        def wrapper(*args, **kwargs):
            fn(*args, **kwargs)
            if table is None or args[2] == table:
                raise _Crash(step)
        return wrapper

    if step == "routed":
        monkeypatch.setattr(pipeline, "write_routed", crash_after(pipeline.write_routed))
    else:
        monkeypatch.setattr(
            lineage_ops, "write_batch_table", crash_after(lineage_ops.write_batch_table, step)
        )
    q = run_stream(spark, plan, str(tmp_path / "in"), sink, checkpoint_dir=str(tmp_path / "ck1"))
    with pytest.raises(Exception):
        q.awaitTermination(120)
    monkeypatch.undo()
    q = run_stream(spark, plan, str(tmp_path / "in"), sink, checkpoint_dir=str(tmp_path / "ck2"))
    assert q.awaitTermination(120)
    assert q.exception() is None

    on_disk = spark.read.parquet(f"{sink}/routed")
    assert on_disk.count() == 2 * want.count()  # the crashed batch's rows too
    [committed] = [r.batch_id for r in lineage_ops.read_lineage(spark, sink).collect()]
    sinks = [r.sink for r in want.select("sink").distinct().collect()]
    for name in sinks:
        got = read_sink(spark, sink, name)
        assert got.count() == want.filter(F.col("sink") == name).count(), name
        assert {r.batch_id for r in got.select("batch_id").distinct().collect()} == {committed}
    receipts = lineage_ops.read_receipts(spark, sink).collect()
    assert {r.batch_id for r in receipts} == {committed}
    ok = F.sum(F.when(F.col("_error").isNull(), 1).otherwise(0))
    assert {r.sink: r.logs_count for r in receipts} == dict(
        want.groupBy("sink").agg(ok).collect()
    )


def test_batch_ids_spark_escapes_round_trip(plan, spark, tmp_path):
    """The driver writes metrics and receipts into the same escaped
    ``batch_id=<v>`` directories as the Spark-written routed table, so each
    reads back with the batch id it was published under."""
    import os

    root = str(tmp_path / "sinks")
    ids = ["hour-2024-01-01 10", "a:b/c", "k=v"]
    for i, bid in enumerate(ids):
        plan.run_batch(spark, pages(spark, 60, seed=40 + i), bid, sink_root=root)

    def dirs(table):
        return sorted(os.listdir(f"{root}/{table}"))

    routed_dirs = [d for d in dirs("routed") if d.startswith("batch_id=")]
    assert len(routed_dirs) == len(ids)
    for table in ("metrics", "receipts"):
        assert [d for d in dirs(table) if not d.startswith(".")] == routed_dirs
        got = spark.read.parquet(f"{root}/{table}")
        assert sorted(r.batch_id for r in got.select("batch_id").distinct().collect()) == sorted(ids)
    assert sorted(
        r.batch_id for r in spark.read.parquet(f"{root}/routed").select("batch_id").distinct().collect()
    ) == sorted(ids)
    assert sorted(
        r.batch_id for r in lineage_ops.read_receipts(spark, root).select("batch_id").distinct().collect()
    ) == sorted(ids)


def test_compile_rejects_bad_route():
    from logsight_filebeat_spark.config import ConfigError

    cfg = PipelineConfig(routes=(MapperConf(key="url", regex_matcher="^(unclosed"),))
    with pytest.raises(ConfigError):
        compile(cfg)


def test_pipeline_with_grok_pattern_list(spark):
    """A pipeline compiled with a fallback chain parses BOTH line formats;
    only true noise quarantines. A single-pattern pipeline over the same
    corpus quarantines every second-format line — the failure mode pattern
    lists exist to fix."""
    cfg = PipelineConfig(
        message_key="parsed.message",
        timestamp_key="parsed.timestamp",
        level_key="parsed.level",
        routes=(MapperConf(name="app"),),
    )
    plan = compile(
        cfg,
        grok_pattern=[
            "%{TIMESTAMP_ISO8601:timestamp} %{LOGLEVEL:level} %{GREEDYDATA:message}",
            # bracketed level variant: [INFO] 2024-...
            r"\[%{LOGLEVEL:level}\] %{TIMESTAMP_ISO8601:timestamp} %{GREEDYDATA:message}",
        ],
        multiline=False,
        event_ts_col="ts",
    )
    import datetime as dt

    ts = dt.datetime(2024, 3, 1)
    rows = [
        (ts, "2024-03-01T10:00:00Z INFO plain format"),
        (ts, "[WARN] 2024-03-01T11:00:00Z bracket format"),
        (ts, "garbage line with no format"),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, text string")
    routed = plan.mapped(df)
    got = {r.message: (r.sink, r.level) for r in routed.collect() if r.message}
    assert got["plain format"] == ("app", "INFO")
    assert got["bracket format"] == ("app", "WARN")
    quarantined = routed.filter(F.col("sink") == "_quarantine").count()
    assert quarantined == 1  # only the noise line

    single = compile(cfg, multiline=False, event_ts_col="ts")
    assert (
        single.mapped(df).filter(F.col("sink") == "_quarantine").count() == 2
    )  # bracket format quarantines without the chain


def test_task_retry_conf_maps_budget_to_attempts():
    """max_retries (ref default 20, plugin/config.go:67) lands on Spark's
    attempt budget: retries + the first attempt."""
    from logsight_filebeat_spark.session import task_retry_conf

    assert task_retry_conf(20) == {"spark.task.maxFailures": "21"}
    assert task_retry_conf(0) == {"spark.task.maxFailures": "1"}
    assert task_retry_conf(PipelineConfig().max_retries) == {
        "spark.task.maxFailures": "21"
    }


def test_get_spark_rewrites_local_master_for_retries(spark):
    """local[N] hardcodes maxFailures=1 and ignores spark.task.maxFailures;
    get_spark must emit the local[N,F] master form so the retry budget
    exists in local runs too. Assert on the builder's staged options (no
    new JVM: the shared session fixture must stay the active context).
    Every session also gets the package's local file system, whose jar goes
    first on the class paths without dropping the caller's entries."""
    import os

    from logsight_filebeat_spark.session import LOCALFS_JAR, get_spark

    import pyspark.sql.session as _s

    staged: dict[str, str] = {}

    class FakeBuilder:
        def appName(self, *_a):
            return self

        def master(self, m):
            staged["master"] = m
            return self

        def config(self, k, v):
            staged[k] = v
            return self

        def getOrCreate(self):
            return staged

    orig = _s.SparkSession.builder
    try:
        _s.SparkSession.builder = FakeBuilder()  # type: ignore[assignment]
        out = get_spark(master="local[4]", max_retries=20)
    finally:
        _s.SparkSession.builder = orig
    assert out["master"] == "local[4,21]"
    assert out["spark.task.maxFailures"] == "21"
    fs = "logsight_filebeat_spark.jvm.NioLocalFileSystem"
    assert out["spark.hadoop.fs.file.impl"] == fs
    assert out["spark.hadoop.fs.AbstractFileSystem.file.impl"] == f"{fs}$Fs"
    assert out["spark.driver.extraClassPath"] == LOCALFS_JAR
    assert out["spark.executor.extraClassPath"] == LOCALFS_JAR
    # non-local masters keep the conf only (cluster scheduler honors it)
    staged.clear()
    try:
        _s.SparkSession.builder = FakeBuilder()  # type: ignore[assignment]
        out = get_spark(
            master="spark://host:7077", max_retries=2,
            extra_conf={
                "spark.driver.extraClassPath": os.pathsep.join(["/jars/a.jar", LOCALFS_JAR]),
                "spark.executor.extraClassPath": "/jars/b.jar",
            },
        )
    finally:
        _s.SparkSession.builder = orig
    assert out["master"] == "spark://host:7077"
    assert out["spark.task.maxFailures"] == "3"
    # the caller's class path is kept beside the jar, which stays first
    assert out["spark.driver.extraClassPath"] == os.pathsep.join([LOCALFS_JAR, "/jars/a.jar"])
    assert out["spark.executor.extraClassPath"] == os.pathsep.join([LOCALFS_JAR, "/jars/b.jar"])
    assert out["spark.hadoop.fs.file.impl"] == fs


def test_read_receipts_lenient_on_missing_and_corrupt(plan, spark, tmp_path):
    """Reference parity (plugin/api/log_test.go:332-337): delivered batch +
    unreadable receipt = success with nil receipt, never an error. Here: a
    missing or corrupt receipts file reads as an EMPTY receipts frame."""
    root = str(tmp_path / "sinks")
    # missing dir → empty, no raise
    assert lineage_ops.read_receipts(spark, root).count() == 0

    plan.run_batch(spark, pages(spark, 200, seed=4), "br", sink_root=root)
    good = lineage_ops.read_receipts(spark, root)
    n_good = good.count()
    assert n_good > 0
    assert {"receipt_id", "sink", "logs_count", "batch_id", "status"} <= set(
        good.columns
    )

    # corrupt one receipt file in place → that file is skipped, read succeeds
    import glob

    victim = glob.glob(f"{root}/receipts/**/*.parquet")[0]
    with open(victim, "wb") as f:
        f.write(b"not a parquet file at all")
    lenient = lineage_ops.read_receipts(spark, root)
    assert lenient.count() < n_good  # damaged file dropped, not fatal
    # and the batch itself is still committed — receipts are advisory
    assert lineage_ops.is_committed(spark, root, "br")


def test_replay_quarantine_redrives_only_failed_pages(spark, tmp_path):
    """A too-narrow grok quarantines the events it can't parse; after the
    config fix, replay_quarantine re-drives EXACTLY the quarantined pages
    under a new lineage-guarded batch — previously-clean pages are not
    re-published, and the replay recovers rows the fixed plan parses."""
    from logsight_filebeat_spark.plans.pipeline import (
        DEFAULT_GROK,
        replay_quarantine,
    )

    root = str(tmp_path / "out")
    pg = pages(spark, 2000, seed=5)
    # broken config: only 'request ...' messages parse; everything else
    # (follow-up events, failure-shape rows) quarantines
    broken = compile(
        standard_pages_config(),
        grok_pattern="%{NOTSPACE:timestamp} %{WORD:level} request %{GREEDYDATA:message}",
    )
    r1 = broken.run_batch(spark, pg, "b0", sink_root=root)
    assert r1["rows_failed"] > 0

    routed = spark.read.parquet(f"{root}/routed")
    quarantined_urls = {
        r.url
        for r in routed.filter(
            (F.col("batch_id") == "b0") & (F.col("sink") == "_quarantine")
        )
        .select("url")
        .distinct()
        .collect()
    }

    fixed = compile(standard_pages_config(), grok_pattern=DEFAULT_GROK)
    rr = replay_quarantine(spark, fixed, pg, root, "b0")
    assert rr["batch_id"] == "b0-replay" and rr["skipped"] is False
    assert rr["replayed_pages"] == len(quarantined_urls)
    assert rr["rows_ok"] > 0  # the fixed grok recovers rows

    replay_rows = spark.read.parquet(f"{root}/routed").filter(
        F.col("batch_id") == "b0-replay"
    )
    # only quarantined pages re-entered
    assert {
        r.url for r in replay_rows.select("url").distinct().collect()
    } <= quarantined_urls
    # rows the fixed plan parses land in REAL sinks now
    assert replay_rows.filter(F.col("sink") != "_quarantine").count() > 0
    # replay is itself lineage-guarded: re-running skips
    assert replay_quarantine(spark, fixed, pg, root, "b0")["skipped"] is True


def test_run_backfill_skips_committed_hours(plan, spark, tmp_path):
    """Backfill over a range is idempotent per hour: already-committed
    hours skip, missing hours publish, and the per-hour rows sum to the
    single-run total (no hour double-published, none missed)."""
    from logsight_filebeat_spark.plans.pipeline import run_backfill

    root = str(tmp_path / "out")
    pg = pages(spark, 1500, seed=11)
    hours = sorted(
        r.h
        for r in pg.select(
            F.date_format(
                F.date_trunc("hour", F.col("warc_ts")), "yyyy-MM-dd HH"
            ).alias("h")
        )
        .distinct()
        .collect()
    )[:4]
    assert len(hours) == 4

    first = run_backfill(spark, plan, pg, hours[:2], root)
    assert [r["skipped"] for r in first] == [False, False]

    full = run_backfill(spark, plan, pg, hours, root)
    assert [r["skipped"] for r in full] == [True, True, False, False]

    # per-hour totals reconcile with one run over the union of the hours
    hour_expr = F.date_format(
        F.date_trunc("hour", F.col("warc_ts")), "yyyy-MM-dd HH"
    )
    union_receipt = plan.run_batch(
        spark,
        pg.filter(hour_expr.isin(hours)),
        "union-check",
        sink_root=str(tmp_path / "out2"),
    )
    done = first + full[2:]
    assert sum(r["rows_ok"] for r in done) == union_receipt["rows_ok"]
    assert sum(r["rows_failed"] for r in done) == union_receipt["rows_failed"]
