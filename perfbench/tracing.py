"""Tracing for the traced benchmark run: spans, layer-boundary counts, and the
Spark event log.

Nothing here runs in a timed (untraced) run. Three sources feed the
per-layer metrics:

* Spans. ``Tracer.install()`` replaces module attributes of the pipeline
  package with wrappers defined here, so every eager call (``run_batch``,
  ``write_routed``, ``is_committed``, ``commit_batch`` and each
  ``DataFrameWriter.parquet``) records a span: name, start, end, parent.
  Spans stay in memory and are written out once, at the end of the run.
* Counts. The lazy operators (multiline, grok, ``to_log``, each lookup,
  ``route``) only build a plan, so their wrappers attach a
  ``DataFrame.observe`` at the layer boundary and keep the layer's output
  DataFrame, which the prefix profiler materialises.
* The Spark event log (enabled only in the traced run): executor CPU, GC,
  shuffle, spill, task failures, jobs and the Python-worker SQL metrics,
  attributed to spans by job submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

class Tracer:
    """Spans plus layer-boundary observations, recorded in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.layer_dfs: list[tuple[str, object]] = []  # (layer, DataFrame)
        self.observations: list[tuple[str, str, object]] = []  # (phase, layer, Observation)
        self.phase = "setup"
        # off: lazy wrappers only keep the layer outputs (prefix timing runs
        # on plain plans); on: they also attach the counting observe
        self.observing = False
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ---- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        """One span. The parent is the innermost open span of this thread,
        or, on a thread with none open (the streaming callback thread), the
        innermost span of the main thread that was open at the time."""
        stack = self._thread_stack()
        with self._lock:
            parent = stack[-1] if stack else self._main_open()
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "phase": self.phase, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def _thread_stack(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
            if threading.current_thread() is threading.main_thread():
                self._main_ids = self._stack.ids
        return self._stack.ids

    def _main_open(self):
        ids = getattr(self, "_main_ids", None)
        return ids[-1] if ids else None

    def spans_named(self, name: str, phase: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (phase is None or s["phase"] == phase)]

    # ---- module-attribute wrappers ----------------------------------------
    def install(self) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.readwriter import DataFrameWriter

        from logsight_filebeat_spark.operators import parse
        from logsight_filebeat_spark.plans import pipeline
        from logsight_filebeat_spark.sinks import lineage

        def lazy(layer, exprs_of):
            def deco(fn):
                @functools.wraps(fn)
                def wrapper(*args, **kwargs):
                    out = fn(*args, **kwargs)
                    return self._observe(layer, out, exprs_of(out, args, kwargs))
                return wrapper
            return deco

        count = F.count(F.lit(1)).alias("rows")

        def hits(col):
            return F.sum(F.when(col, 1).otherwise(0))

        def grok_exprs(out, args, kwargs):
            col = args[3] if len(args) > 3 else kwargs.get("out", "parsed")
            return [count, hits(F.col(col).isNotNull()).alias("hits")]

        def enrich_exprs(out, args, kwargs):
            tag_cols = args[3] if len(args) > 3 else kwargs["tag_cols"]
            tags = kwargs.get("tags_col", "tags")
            first = sorted(tag_cols)[0]
            return [count, hits(F.col(tags)[first].isNotNull()).alias("hits")]

        def route_exprs(out, args, kwargs):
            cfg = args[1] if len(args) > 1 else kwargs["cfg"]
            return [count, hits(F.col("sink") == cfg.quarantine_sink).alias("hits")]

        self._patch(parse, "explode_multiline",
                    lazy("multiline", lambda out, a, k: [count]))
        for name in ("with_grok_native", "with_grok_vectorized",
                     "with_grok_set_native", "with_grok_set_vectorized"):
            self._patch(parse, name, lazy("grok", grok_exprs))
        self._patch(pipeline, "to_log", lazy(
            "to_log", lambda out, a, k: [count, hits(F.col("_error").isNotNull()).alias("hits")]))
        self._patch(pipeline, "enrich_with_lookup", lazy("enrich", enrich_exprs))
        self._patch(pipeline, "route", lazy("route", route_exprs))

        self._patch(pipeline.PipelinePlan, "run_batch", self._eager("run_batch"))
        self._patch(pipeline, "write_routed", self._eager("write_routed", self._files_written))
        self._patch(lineage, "is_committed", self._eager("is_committed", self._lineage_files))
        self._patch(lineage, "commit_batch", self._eager("commit_batch"))

        def parquet_name(fn):
            @functools.wraps(fn)
            def wrapper(writer, path, *args, **kwargs):
                with self.span("write:" + os.path.basename(os.path.normpath(path))):
                    return fn(writer, path, *args, **kwargs)
            return wrapper

        self._patch(DataFrameWriter, "parquet", parquet_name)

    def uninstall(self) -> None:
        while self._undo:
            owner, name, original = self._undo.pop()
            setattr(owner, name, original)

    def _patch(self, owner, name, deco) -> None:
        original = getattr(owner, name)
        self._undo.append((owner, name, original))
        setattr(owner, name, deco(original))

    def _eager(self, name, extra=None):
        def deco(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.span(name) as rec:
                    before = extra(args, kwargs, None) if extra else None
                    result = fn(*args, **kwargs)
                    if extra:
                        rec.update(extra(args, kwargs, before))
                    return result
            return wrapper
        return deco

    def _observe(self, layer, df, exprs):
        from pyspark.sql import Observation

        if self.observing:
            obs = Observation()
            self.observations.append((self.phase, layer, obs))
            df = df.observe(obs, *exprs)
        self.layer_dfs.append((layer, df))
        return df

    # ---- file counts beside the eager calls --------------------------------
    @staticmethod
    def _lineage_files(args, kwargs, before):
        if before is not None:
            return {"files_scanned": before}
        root = args[1] if len(args) > 1 else kwargs["sink_root"]
        return len(glob.glob(os.path.join(root, "_lineage", "*.parquet")))

    @staticmethod
    def _files_written(args, kwargs, before):
        root = args[1] if len(args) > 1 else kwargs["sink_root"]
        files = {
            p: os.path.getsize(p)
            for p in glob.glob(os.path.join(root, "routed", "**", "*.parquet"), recursive=True)
        }
        if before is None:
            return files
        new = {p: n for p, n in files.items() if p not in before}
        return {"files": len(new), "bytes": sum(new.values())}

    def counts(self, phase: str) -> dict[str, dict[str, int]]:
        """Summed observation rows/hits per layer for one phase, and the
        number of observed DataFrames (``n``: one per built plan). Every
        observed DataFrame of the phase must have run an action, else the
        blocking ``Observation.get`` would wait forever."""
        out: dict[str, dict[str, int]] = defaultdict(lambda: {"rows": 0, "hits": 0, "n": 0})
        for ph, layer, obs in self.observations:
            if ph != phase:
                continue
            got = obs.get
            out[layer]["rows"] += int(got.get("rows") or 0)
            out[layer]["hits"] += int(got.get("hits") or 0)
            out[layer]["n"] += 1
        return dict(out)


# ---------------------------------------------------------------------------
# prefix profile: self time of the lazy layers
# ---------------------------------------------------------------------------

def prefix_profile(tracer: Tracer, prefixes: list[tuple[str, object, object]], reps: int) -> dict[str, float]:
    """Materialise each cumulative DAG prefix ``reps`` times (round robin)
    and return the fastest wall time per prefix (noise on a shared machine
    only adds time). ``prefixes`` holds (layer, DataFrame, action); the
    action forces every row of the prefix. A layer's self time is its
    prefix's time minus the previous one's — approximate, because
    whole-stage codegen fuses neighbouring layers differently in a prefix
    than in the full plan, so a small layer can read slightly negative."""
    times: dict[str, list[float]] = defaultdict(list)
    for _ in range(reps):
        for layer, df, action in prefixes:
            with tracer.span("prefix:" + layer) as rec:
                action(df)
            times[layer].append(rec["end"] - rec["start"])
    return {layer: min(v) for layer, v in times.items()}


def self_times(prefix_s: dict[str, float], order: list[str]) -> dict[str, float]:
    out, prev = {}, 0.0
    for layer in order:
        out[layer] = prefix_s[layer] - prev
        prev = prefix_s[layer]
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_TIME = "time to run Python workers"


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission time, stages) and per-task metrics from the
    uncompressed JSON event log the traced session wrote."""
    jobs, tasks = [], []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "submitted": ev["Submission Time"] / 1000.0,
                                 "stages": ev.get("Stage IDs", [])})
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task_record(ev))
    return {"jobs": jobs, "tasks": tasks}


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
    shuffle_w = m.get("Shuffle Write Metrics") or {}
    return {
        "stage": ev.get("Stage ID"),
        "cpu_s": (m.get("Executor CPU Time") or 0) / 1e9,
        "gc_s": (m.get("JVM GC Time") or 0) / 1000.0,
        "spill_bytes": (m.get("Memory Bytes Spilled") or 0) + (m.get("Disk Bytes Spilled") or 0),
        "shuffle_bytes": shuffle_w.get("Shuffle Bytes Written") or 0,
        "py_sent": int(acc.get(PY_SENT) or 0),
        # SQL timing metrics are accumulated in milliseconds
        "py_s": int(acc.get(PY_TIME) or 0) / 1000.0,
        "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
    }


def attribute(log: dict, spans: list[dict]) -> dict:
    """Sum task metrics and count jobs over the jobs submitted inside any of
    ``spans`` (each span's [start, end])."""
    windows = [(s["start"], s["end"]) for s in spans]
    stages = set()
    n_jobs = 0
    for job in log["jobs"]:
        if any(a <= job["submitted"] <= b for a, b in windows):
            n_jobs += 1
            stages.update(job["stages"])
    total = defaultdict(float)
    for t in log["tasks"]:
        if t["stage"] in stages:
            for k, v in t.items():
                if k != "stage":
                    total[k] += float(v)
    total["jobs"] = n_jobs
    return dict(total)
