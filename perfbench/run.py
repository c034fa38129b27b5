"""Pipeline benchmark: one command, one named workload per run.

    python3 perfbench/run.py --workload flagship_agg --seed 1 --seconds 12 --trace 0

Run from the repository root. The benchmark imports the pipeline package
from the checkout, generates its input from ``--seed`` with
``sources.pages.pages`` into a scratch directory under the checkout
(``.perfbench_run/``, removed on exit), and drives the package's public
functions from one process on ``local[nproc]``. Load is a closed loop with
one client: a pass or micro-batch starts only after the previous returned.

Workloads:
  flagship_agg      scan -> multiline -> grok -> to_log -> 2 lookups -> route
                    -> sink_hour_aggregates; the DAG is built once and
                    collected once per pass (no writes).
  arrow_grok_chain  the same pages through the two-pattern first-match-wins
                    grok chain on the Arrow path (vectorized=True).
  stream_publish    run_stream(max_files_per_trigger=1) draining pre-staged
                    small parquet files; every micro-batch is a full
                    run_batch (lineage check, writes, receipts, commit).

Every pass/batch output is checked, untimed: flagship_agg against the
DuckDB oracle SQL of ``pg_flagship``, arrow_grok_chain against the native
grok-set path, stream_publish against the oracle per staged file plus the
exactly-once lineage invariants.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (see tracing.py); the trace's spans are
written to ``.perfbench_out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter, defaultdict

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PASS_PAGES = 60_000  # flagship_agg / arrow_grok_chain input, pages
STREAM_FILE_PAGES = 2_000  # pages per staged file = per micro-batch
STREAM_NOMINAL_BATCH_S = 3.0  # sizes the staged file count from --seconds
SETUP_REPS = 3  # set-up is repeated and its median reported
PREFIX_REPS = 5  # materialisations per DAG prefix in the traced run

WORKLOADS = ("flagship_agg", "arrow_grok_chain", "stream_publish")

END_TO_END = {
    "events_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "batch_latency_p75_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "parse.multiline_s": "s",
    "parse.grok_s": "s",
    "parse.events_out": "count",
    "parse.grok_match_ratio": "ratio",
    "parse.python_s": "s",
    "parse.arrow_bytes_to_python": "bytes",
    "log_mapper.to_log_s": "s",
    "log_mapper.failed_ratio": "ratio",
    "enrich.lookup_s": "s",
    "enrich.hit_ratio": "ratio",
    "router.route_s": "s",
    "router.quarantine_ratio": "ratio",
    "aggregate.sink_hour_s": "s",
    "aggregate.shuffle_bytes": "bytes",
    "aggregate.receipts_s": "s",
    "writers.write_routed_s": "s",
    "writers.files": "count",
    "writers.bytes": "bytes",
    "lineage.is_committed_s": "s",
    "lineage.commit_s": "s",
    "lineage.files_scanned": "count",
    "pipeline.run_batch_s": "s",
    "spark.jobs_per_batch": "count",
    "stream.add_batch_s": "s",
    "stream.latest_offset_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.task_failures": "count",
    "trace.overhead_events_per_s": "1/s",
}

# columns the flagship aggregate still needs after each layer: the prefix
# profile materialises each prefix over this pruned set, as the full plan
# would (tags from to_log/enrich are pruned from the aggregate's plan)
PASS_KEEP = {
    "scan": ("url", "warc_ts", "text"),
    "multiline": ("url", "warc_ts", "event_text"),
    "grok": ("url", "warc_ts", "parsed"),
    "to_log": ("url", "warc_ts", "message", "_error"),
    "enrich": ("url", "warc_ts", "message", "_error"),
    "route": ("warc_ts", "message", "_error", "sink"),
}
SCAN_COLS = ("url", "warc_ts", "text", "lang")


def generate_pages(spark, n: int, seed: int, partitions: int | None = None):
    """The seeded pages table without its ``html`` column: no workload
    reads it, and rendering it would dominate input generation."""
    from logsight_filebeat_spark.sources.pages import pages

    return pages(spark, n, seed=seed, partitions=partitions).select(*SCAN_COLS)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def box() -> tuple[int, str]:
    """(task threads, driver heap) that fit this machine: one thread per
    available CPU, a fifth of physical memory for the heap (1-4 GB)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    heap_gb = max(1, min(4, total_kb // (5 * 1024 * 1024)))
    return nproc, f"{heap_gb}g"


def start_session(work: str, event_log: str | None):
    """The package's own session factory, with the master, heap and every
    scratch path pinned explicitly (its defaults assume 32 cores and a
    24 GB heap)."""
    from logsight_filebeat_spark.session import get_spark

    nproc, heap = box()
    jtmp = os.path.join(work, "jvm_tmp")
    os.makedirs(jtmp, exist_ok=True)
    conf = {
        "spark.driver.memory": heap,
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # initial heap = max heap: G1's run-to-run heap-growth decisions
        # would otherwise move peak RSS by a quarter between identical runs
        "spark.driver.defaultJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.dir"] = event_log
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    keys = sorted(set(conf) | {
        "spark.master", "spark.sql.shuffle.partitions", "spark.driver.extraJavaOptions",
        "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.maxRecordsPerBatch",
    })
    sc_conf = spark.sparkContext.getConf()
    resolved = {k: sc_conf.get(k) or spark.conf.get(k, None) for k in keys}
    return spark, {"nproc": nproc, "conf": resolved}


def stop_session(spark) -> None:
    """Stop Spark, the py4j gateway and the JVM, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# plans and oracles
# ---------------------------------------------------------------------------

def pipeline_plan(spark, grok=None, vectorized: bool = False):
    """The flagship plan: standard pages config, host + lang lookups."""
    from logsight_filebeat_spark.operators.enrich import url_host
    from logsight_filebeat_spark.plans.pipeline import (
        DEFAULT_GROK,
        Lookup,
        compile,
        standard_pages_config,
    )
    from logsight_filebeat_spark.sources.pages import host_meta, lang_meta

    return compile(
        standard_pages_config(),
        grok_pattern=grok or DEFAULT_GROK,
        vectorized=vectorized,
        lookups=[
            Lookup(host_meta(spark), url_host("url"),
                   {"site_category": "site_category", "org": "org"}, "host"),
            Lookup(lang_meta(spark), "lang", {"lang_name": "lang_name"}),
        ],
    )


def sink_hour(routed):
    from logsight_filebeat_spark.operators.aggregate import sink_hour_aggregates

    return sink_hour_aggregates(routed, ts_col="warc_ts", bytes_cols=("message",))


def normalise(rows) -> list[tuple]:
    """Aggregate rows as comparable tuples (hour rendered in UTC)."""
    out = []
    for r in rows:
        hour = r[1] if isinstance(r[1], str) else r[1].strftime("%Y-%m-%d %H:%M:%S")
        out.append((r[0], hour, int(r[2]), int(r[3]), int(r[4]), round(float(r[5]), 6)))
    return sorted(out)


def duckdb_flagship(work: str, parquet_glob: str) -> list[tuple]:
    """The pg_flagship oracle SQL, pointed at the generated parquet."""
    import duckdb

    from logsight_filebeat_spark.entry_queries import ORACLES
    from logsight_filebeat_spark.entry_queries_corpus import _PG

    sql = ORACLES["pg_flagship"]
    if f"'{_PG}'" not in sql:
        raise RuntimeError("pg_flagship oracle no longer reads the pages fixture by path")
    sql = sql.replace(f"'{_PG}'", f"read_parquet('{parquet_glob}')")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {box()[0]}")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
        return normalise(con.execute(sql).fetchall())
    finally:
        con.close()


def sink_counts(rows: list[tuple]) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for r in rows:
        out[r[0]] += r[2]
    return dict(out)


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    return len(a) == len(b) and all(
        x[:5] == y[:5] and abs(x[5] - y[5]) < 1e-9 for x, y in zip(a, b)
    )


# ---------------------------------------------------------------------------
# pass workloads: flagship_agg, arrow_grok_chain
# ---------------------------------------------------------------------------

class PassWorkload:
    """One DAG over generated pages, built once and collected per pass."""

    def __init__(self, spark, work: str, seed: int, n_pages: int, arrow: bool):
        self.spark, self.work, self.seed, self.n = spark, work, seed, n_pages
        self.arrow = arrow
        self.path = None
        self.plan = None
        self.dag = None

    def _plan(self, vectorized: bool):
        from logsight_filebeat_spark.entry_queries_corpus import GROK_MULTI_PATTERNS

        if self.arrow:
            return pipeline_plan(self.spark, list(GROK_MULTI_PATTERNS), vectorized=vectorized)
        return pipeline_plan(self.spark)

    def setup_once(self, rep: int) -> None:
        """Generate the input, compile the plan, build the DAG, warm it up."""
        path = os.path.join(self.work, f"pages_{rep}")
        generate_pages(self.spark, self.n, self.seed).write.parquet(path)
        self.path = path
        self.plan = self._plan(vectorized=self.arrow)
        self.dag = sink_hour(self.plan.mapped(self.spark.read.parquet(path)))
        self.run_pass()

    def run_pass(self):
        return fresh_collect(self.dag)

    def expected(self) -> list[tuple]:
        if self.arrow:
            native = self._plan(vectorized=False)
            return normalise(sink_hour(native.mapped(self.spark.read.parquet(self.path))).collect())
        return duckdb_flagship(self.work, os.path.join(self.path, "*.parquet"))


def fresh_collect(df):
    """Execute ``df`` anew: a new Dataset over the same logical plan gets
    its own physical plan, so no shuffle output of an earlier pass is
    reused (collecting the same Dataset twice would skip its map stages)."""
    return df.select("*").collect()


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))


def timed_passes(run_pass, seconds: float, span=None, min_passes: int = 3):
    times, outputs = [], []
    end = time.perf_counter() + seconds
    while len(times) < min_passes or time.perf_counter() < end:
        t0 = time.perf_counter()
        if span is None:
            out = run_pass()
        else:
            with span("pass"):
                out = run_pass()
        times.append(time.perf_counter() - t0)
        outputs.append(out)
    return times, outputs


def check_passes(outputs, expected, corrupt_pass: int | None) -> int:
    failed = 0
    for i, rows in enumerate(outputs):
        got = normalise(rows)
        if i == corrupt_pass:  # self-test hook: a wrong-output pass
            got = got[1:]
        failed += not same_rows(got, expected)
    return failed


def run_pass_workload(spark, work, args, tracer, info) -> dict:
    wl = PassWorkload(spark, work, args.seed, args.pages or PASS_PAGES,
                      arrow=args.workload == "arrow_grok_chain")
    setup = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup_once(rep)
        setup.append(time.perf_counter() - t0)
    info["setup_reps_s"] = setup

    if tracer:  # untraced half: pass spans only, for the event-log windows
        tracer.phase = "untraced"
        times, outputs = timed_passes(wl.run_pass, args.seconds / 2, span=tracer.span)
    else:
        times, outputs = timed_passes(wl.run_pass, args.seconds)
    rss = jvm_peak_rss_mb(spark)
    expected = wl.expected()
    events = sum(r[2] for r in expected)
    failed = check_passes(outputs, expected, args.corrupt_pass)
    info.update(passes=len(times), events_per_pass=events, pass_s=times)
    result = {
        "attempted": len(times),
        "failed": failed,
        "metrics": {
            "events_per_s": events / statistics.median(times),
            "batch_latency_p50_s": statistics.median(times),
            "batch_latency_p75_s": pct(times, 0.75),
            "setup_s": info["session_s"] + statistics.median(setup),
            "peak_rss_mb": rss,
        },
    }
    if tracer:
        trace_passes(spark, wl, args, tracer, info, result, expected, events)
    return result


def trace_passes(spark, wl, args, tracer, info, result, expected, events) -> None:
    """Traced half of a --trace 1 run: prefix profile, then traced passes."""
    tracer.install()
    try:
        tracer.phase = "prefix"
        scan = spark.read.parquet(wl.path).select(*SCAN_COLS)
        tracer.layer_dfs.clear()
        routed = wl.plan.mapped(scan)
        prefixes = [("scan", scan.select(*PASS_KEEP["scan"]), noop)]
        for i, (layer, df) in enumerate(tracer.layer_dfs):
            prefixes.append((f"{layer}#{i}", df.select(*PASS_KEEP[layer]), noop))
        prefixes.append(("aggregate", sink_hour(routed), fresh_collect))
        prefix_s = tracing.prefix_profile(tracer, prefixes, PREFIX_REPS)

        tracer.phase = "traced"
        tracer.observing = True
        dag = sink_hour(wl.plan.mapped(spark.read.parquet(wl.path)))
        times, outputs = timed_passes(lambda: fresh_collect(dag), args.seconds / 2,
                                      span=tracer.span)
    finally:
        tracer.observing = False
        tracer.uninstall()
    result["attempted"] += len(times)
    result["failed"] += check_passes(outputs, expected, None)
    info["traced_pass_s"] = times
    traced_eps = events / statistics.median(times)
    result["layer"] = {
        "self_s": tracing.self_times(prefix_s, [p[0] for p in prefixes]),
        "counts": tracer.counts("traced"),
        "windows": tracer.spans_named("pass", "untraced"),
        "overhead": traced_eps - result["metrics"]["events_per_s"],
        "input_bytes": parquet_bytes(wl.path),
    }


# ---------------------------------------------------------------------------
# stream_publish
# ---------------------------------------------------------------------------

class StreamWorkload:
    """Pre-staged small parquet files drained by run_stream, one per batch."""

    def __init__(self, spark, work: str, seed: int, file_pages: int, n_files: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.file_pages, self.n_files = file_pages, n_files
        self.inputs: list[str] = []
        self.plan = None

    def stage(self, out_dir: str, n_files: int) -> None:
        # contiguous page-id ranges, one output file per partition
        generate_pages(self.spark, n_files * self.file_pages, self.seed,
                       partitions=n_files).write.parquet(out_dir)

    def setup_once(self, rep: int) -> None:
        """Stage the input files, compile the plan, warm up with a one-file
        stream into a throwaway sink."""
        from logsight_filebeat_spark.streaming.micro_batch import run_stream

        d = os.path.join(self.work, f"stream_{rep}")
        self.stage(os.path.join(d, "in"), self.n_files)
        self.stage(os.path.join(d, "warm_in"), 1)
        self.plan = pipeline_plan(self.spark)
        q = run_stream(self.spark, self.plan, os.path.join(d, "warm_in"),
                       os.path.join(d, "warm_sink"), max_files_per_trigger=1)
        q.awaitTermination()
        self.inputs.append(os.path.join(d, "in"))

    def drain(self, in_dir: str, sink: str) -> tuple[float, list]:
        from logsight_filebeat_spark.streaming.micro_batch import run_stream

        t0 = time.perf_counter()
        q = run_stream(self.spark, self.plan, in_dir, sink, max_files_per_trigger=1)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        return wall, [p for p in q.recentProgress if p.numInputRows]

    def oracle(self, in_dir: str) -> list[dict[str, int]]:
        """Per staged file, the oracle's routed count per sink."""
        files = sorted(f for f in os.listdir(in_dir) if f.endswith(".parquet"))
        return [sink_counts(duckdb_flagship(self.work, os.path.join(in_dir, f))) for f in files]

    def check(self, in_dir: str, sink: str, expected: list[dict[str, int]]) -> tuple[int, int]:
        """Failed batches of a drain into ``sink``: a batch fails unless its
        routed per-sink counts equal one staged file's oracle counts, its
        lineage row total equals its routed rows, and it committed exactly
        once. Also checks run totals and that a rerun commits nothing.
        Returns (failed batches, events committed)."""
        from logsight_filebeat_spark.sinks.lineage import read_lineage

        spark = self.spark
        lineage = read_lineage(spark, sink).collect()
        commits = Counter(r.batch_id for r in lineage)
        lineage_rows = {r.batch_id: r.rows_ok + r.rows_failed for r in lineage}
        routed: dict[str, dict[str, int]] = defaultdict(dict)
        for r in (spark.read.parquet(os.path.join(sink, "routed"))
                  .groupBy("batch_id", "sink").count().collect()):
            routed[r["batch_id"]][r["sink"]] = r["count"]

        remaining = list(expected)
        matched = 0
        for bid in sorted(set(routed) | set(commits)):
            got = routed.get(bid, {})
            if (commits[bid] == 1 and lineage_rows.get(bid) == sum(got.values())
                    and got in remaining):
                remaining.remove(got)
                matched += 1
        extra = len(set(routed) | set(commits)) - matched
        failed = len(expected) - matched

        totals: dict[str, int] = defaultdict(int)
        for e in expected:
            for s, n in e.items():
                totals[s] += n
        routed_totals: dict[str, int] = defaultdict(int)
        for got in routed.values():
            for s, n in got.items():
                routed_totals[s] += n
        _, rerun = self.drain(in_dir, sink)
        ok = (extra == 0
              and sum(lineage_rows.values()) == sum(totals.values())
              and dict(routed_totals) == dict(totals)
              and not rerun
              and len(read_lineage(spark, sink).collect()) == len(lineage))
        if not ok:
            failed = max(failed, 1)
        return failed, sum(lineage_rows.values())


def batch_metrics(wall: float, progress: list, events: int) -> dict[str, float]:
    lat = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
    return {
        "events_per_s": events / wall,
        "batch_latency_p50_s": statistics.median(lat),
        "batch_latency_p75_s": pct(lat, 0.75),
    }


def run_stream_workload(spark, work, args, tracer, info) -> dict:
    n_files = max(3, round(args.seconds / STREAM_NOMINAL_BATCH_S))
    wl = StreamWorkload(spark, work, args.seed, args.pages or STREAM_FILE_PAGES, n_files)
    setup = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup_once(rep)
        setup.append(time.perf_counter() - t0)
    info["setup_reps_s"] = setup

    in_dir = wl.inputs[-1]
    sink = os.path.join(work, "sink")
    wall, progress = wl.drain(in_dir, sink)
    rss = jvm_peak_rss_mb(spark)
    expected = wl.oracle(in_dir)
    if args.corrupt_pass is not None:  # self-test hook: a wrong-output batch
        wrong = expected[args.corrupt_pass % len(expected)]
        wrong["default"] = wrong.get("default", 0) + 1
    failed, events = wl.check(in_dir, sink, expected)
    metrics = batch_metrics(wall, progress, events)
    metrics["setup_s"] = info["session_s"] + statistics.median(setup)
    metrics["peak_rss_mb"] = rss
    info.update(batches=len(progress), files=n_files, drain_s=wall,
                batch_s=[p.durationMs["triggerExecution"] / 1000.0 for p in progress])
    result = {"attempted": n_files, "failed": failed, "metrics": metrics}
    if tracer:
        trace_stream(spark, wl, tracer, info, result, expected)
    return result


def trace_stream(spark, wl, tracer, info, result, expected) -> None:
    """Traced half of a --trace 1 run: prefix profile over one staged file
    (the batch's parse/map/route cost), then a traced drain of an identical
    input into a fresh sink."""
    tracer.install()
    try:
        tracer.phase = "prefix"
        first = sorted(f for f in os.listdir(wl.inputs[0]) if f.endswith(".parquet"))[0]
        scan = spark.read.parquet(os.path.join(wl.inputs[0], first))
        tracer.layer_dfs.clear()
        wl.plan.mapped(scan)
        prefixes = [("scan", scan, noop)]
        prefixes += [(f"{layer}#{i}", df, noop) for i, (layer, df) in enumerate(tracer.layer_dfs)]
        prefix_s = tracing.prefix_profile(tracer, prefixes, PREFIX_REPS)

        tracer.phase = "traced"
        tracer.observing = True
        sink = os.path.join(wl.work, "sink_traced")
        with tracer.span("drain"):
            wall, progress = wl.drain(wl.inputs[0], sink)
        counts = tracer.counts("traced")
    finally:
        tracer.observing = False
        tracer.uninstall()
    failed, events = wl.check(wl.inputs[0], sink, expected)
    result["attempted"] += wl.n_files
    result["failed"] += failed
    traced = batch_metrics(wall, progress, events)
    info["traced_batch_s"] = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
    result["layer"] = {
        "self_s": tracing.self_times(prefix_s, [p[0] for p in prefixes]),
        "counts": counts,
        "windows": tracer.spans_named("run_batch", "traced"),
        "overhead": traced["events_per_s"] - result["metrics"]["events_per_s"],
        "input_bytes": parquet_bytes(wl.inputs[0]) / wl.n_files,
        "progress": [p.durationMs for p in progress],
    }


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def layer_metrics(layer: dict, tracer, log: dict) -> dict[str, float]:
    self_s = defaultdict(float)
    for name, v in layer["self_s"].items():
        self_s[name.split("#")[0]] += v
    c = layer["counts"]

    def ratio(name):
        got = c.get(name, {"rows": 0, "hits": 0})
        return got["hits"] / got["rows"] if got["rows"] else 0.0

    multiline = c.get("multiline", {"rows": 0, "n": 1})
    per = len(layer["windows"])
    spark_tot = tracing.attribute(log, layer["windows"])
    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "sources.scan_s": self_s["scan"],
        "sources.bytes_read": layer["input_bytes"],
        "parse.multiline_s": self_s["multiline"],
        "parse.grok_s": self_s["grok"],
        "parse.events_out": multiline["rows"] / multiline["n"],
        "parse.grok_match_ratio": ratio("grok"),
        "parse.python_s": spark_tot.get("py_s", 0.0) / per,
        "parse.arrow_bytes_to_python": spark_tot.get("py_sent", 0.0) / per,
        "log_mapper.to_log_s": self_s["to_log"],
        "log_mapper.failed_ratio": ratio("to_log"),
        "enrich.lookup_s": self_s["enrich"],
        "enrich.hit_ratio": ratio("enrich"),
        "router.route_s": self_s["route"],
        "router.quarantine_ratio": ratio("route"),
        "aggregate.sink_hour_s": self_s["aggregate"],
        "aggregate.shuffle_bytes": spark_tot.get("shuffle_bytes", 0.0) / per,
        "spark.jobs_per_batch": spark_tot.get("jobs", 0) / per,
        "spark.executor_cpu_s": spark_tot.get("cpu_s", 0.0) / per,
        "spark.gc_s": spark_tot.get("gc_s", 0.0) / per,
        "spark.spill_bytes": spark_tot.get("spill_bytes", 0.0) / per,
        "spark.task_failures": spark_tot.get("failed", 0.0),
        "trace.overhead_events_per_s": layer["overhead"],
    })
    if "progress" in layer:  # stream_publish: eager spans + query progress
        def med(name, key=None):
            spans = tracer.spans_named(name, "traced")
            vals = [s[key] if key else s["end"] - s["start"] for s in spans]
            return statistics.median(vals) if vals else 0.0

        def prog(key):
            return statistics.median(d.get(key, 0) for d in layer["progress"]) / 1000.0

        m.update({
            "aggregate.sink_hour_s": med("write:metrics"),
            "aggregate.receipts_s": med("write:receipts"),
            "writers.write_routed_s": med("write_routed"),
            "writers.files": med("write_routed", "files"),
            "writers.bytes": med("write_routed", "bytes"),
            "lineage.is_committed_s": med("is_committed"),
            "lineage.commit_s": med("commit_batch"),
            "lineage.files_scanned": med("is_committed", "files_scanned"),
            "pipeline.run_batch_s": med("run_batch"),
            "stream.add_batch_s": prog("addBatch"),
            "stream.latest_offset_s": prog("latestOffset"),
            "stream.wal_commit_s": prog("walCommit"),
            "stream.commit_offsets_s": prog("commitOffsets"),
        })
    return m


def shares(workload: str, m: dict[str, float], e2e: dict[str, float]) -> dict[str, float]:
    """The workload rationale as shares of the untraced batch latency."""
    parse_map_route = (m["parse.multiline_s"] + m["parse.grok_s"] + m["log_mapper.to_log_s"]
                       + m["enrich.lookup_s"] + m["router.route_s"])
    p50 = e2e["batch_latency_p50_s"]
    out = {"parse_map_route_of_batch": parse_map_route / p50}
    if workload == "stream_publish":
        out["sinks_lineage_run_batch_overhead_of_batch"] = (
            m["pipeline.run_batch_s"] - parse_map_route - m["sources.scan_s"]) / p50
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: input size, and a pass whose output is made wrong
    p.add_argument("--pages", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--corrupt-pass", type=int, default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import logsight_filebeat_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the pipeline package from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every scratch file of Spark, the JVM, Python workers and DuckDB stays
    # inside the work dir; timestamps render in UTC on both sides
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                      TZ="UTC", PYSPARK_PYTHON=sys.executable)
    time.tzset()
    tempfile.tempdir = tmp

    event_log = os.path.join(work, "eventlog") if args.trace else None
    tracer = tracing.Tracer() if args.trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark, info = start_session(work, event_log)
        info["session_s"] = time.perf_counter() - t0
        run = run_stream_workload if args.workload == "stream_publish" else run_pass_workload
        result = run(spark, work, args, tracer, info)
        stop_session(spark)
        spark = None
        if tracer:
            log = tracing.read_event_log(event_log)
            metrics = layer_metrics(result["layer"], tracer, log)
            info["shares"] = shares(args.workload, metrics, result["metrics"])
            write_trace(args, info, tracer, metrics)
        else:
            metrics = result["metrics"]
        units = PER_LAYER if tracer else END_TO_END
        out = {
            "correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(out))
    return 0


def write_trace(args, info, tracer, metrics) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "info": info,
                   "metrics": metrics, "spans": tracer.spans}, fh, default=str, indent=1)


if __name__ == "__main__":
    sys.exit(main())
