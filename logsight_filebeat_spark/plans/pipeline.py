"""Config → PipelinePlan compiler — the query-compile path (SURVEY §3).

Reference: makeLogsight (/root/reference/plugin/logsight.go:19-64) parses and
validates config, NewClient (/root/reference/plugin/client.go:28-96) wires the
mapper tree once, SuccessNet/WithBackoff fix the physical batch/retry policy.
All of that happens on the driver, before any event flows — we keep exactly
that split: ``compile()`` raises every config error eagerly and builds Column
expressions; ``run_batch()`` is the hot path (plugin/client.go:112-129).

Dataflow per batch (all-Column except the optional vectorized grok stage):

  scan(pages) → [multiline explode] → grok parse → to_log (map + validate)
  → enrich (broadcast joins) → route → ONE persisted DF
  → routed write (partitioned by batch_id, sink)
  → ONE collected (sink, hour) aggregate → on the driver: metrics rows,
    per-sink receipts, ACK totals → metrics + receipts writes (partitioned
    by batch_id) → lineage marker renamed into place (the ACK)

Scale notes: the persist before fan-out avoids rescanning the parse stage per
sink (§4.3); the aggregate is a single low-cardinality hash agg whose few
hundred rows are all the driver needs for receipts and totals; every write
overwrites its batch_id partition, so reruns are idempotent; the lineage
check and commit are single FileSystem calls, not Spark jobs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field, replace

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from logsight_filebeat_spark.config import PipelineConfig
from logsight_filebeat_spark.operators import parse as parse_ops
from logsight_filebeat_spark.operators.aggregate import sink_hour_aggregates
from logsight_filebeat_spark.operators.enrich import (
    LITERAL_MAP_MAX_ENTRIES,
    enrich_with_lookup,
    url_host,
)
from logsight_filebeat_spark.operators.log_mapper import ERROR_COL, to_log
from logsight_filebeat_spark.operators.parse import (
    CompiledGrok,
    CompiledGrokSet,
    compile_grok,
    compile_grok_set,
)
from logsight_filebeat_spark.operators.router import SINK_COL, route
from logsight_filebeat_spark.sinks import lineage as lineage_ops
from logsight_filebeat_spark.sinks.writers import write_routed

DEFAULT_GROK = "%{NOTSPACE:timestamp} %{WORD:level} %{GREEDYDATA:message}"
_ACK_BYTES = "_ack_bytes"  # run_batch's all-rows byte sum, for the ACK only


@dataclass
class Lookup:
    """One broadcast enrichment: fact key expr/name + lookup table + tag cols."""

    table: DataFrame
    on: object  # str column name or Column expression
    tag_cols: dict[str, str]
    lookup_key: str | None = None


@dataclass
class PipelinePlan:
    cfg: PipelineConfig
    # a single pattern or a first-match-wins fallback chain (heterogeneous
    # corpora: one pattern per line format, Beats' multi-pattern config)
    grok: CompiledGrok | CompiledGrokSet
    multiline: bool = True
    vectorized: bool = False  # grok via mapInPandas instead of native Columns
    lookups: list[Lookup] = field(default_factory=list)
    event_ts_col: str = "warc_ts"

    # ---- logical plan (no actions) -------------------------------------
    def parsed(self, pages: DataFrame) -> DataFrame:
        df = pages
        if self.multiline:
            df = parse_ops.explode_multiline(df, "text", "event_text")
            src = "event_text"
        else:
            src = "text"
        if isinstance(self.grok, CompiledGrokSet):
            if self.vectorized:
                return parse_ops.with_grok_set_vectorized(
                    df, src, self.grok, "parsed"
                )
            return parse_ops.with_grok_set_native(df, src, self.grok, "parsed")
        if self.vectorized:
            df = parse_ops.with_grok_vectorized(df, src, self.grok, "parsed")
        else:
            df = parse_ops.with_grok_native(df, src, self.grok, "parsed")
        return df

    def mapped(self, pages: DataFrame) -> DataFrame:
        df = self.parsed(pages)
        df = to_log(df, self.cfg, event_ts_col=self.event_ts_col)
        for lk in self.lookups:
            df = enrich_with_lookup(
                df, lk.table, lk.on, lk.tag_cols, lookup_key=lk.lookup_key
            )
        return route(df, self.cfg)

    # ---- physical execution (actions) ----------------------------------
    def run_batch(
        self,
        spark: SparkSession,
        pages: DataFrame,
        batch_id: str,
        sink_root: str | None = None,
    ) -> dict:
        """Publish one batch (plugin/client.go:112-129) in one pass: map,
        segregate, write, account, ACK. Returns the receipt summary.

        The routed write is the only full pass over the mapped rows; the
        (sink, hour) aggregate then runs off the persisted frame and is
        collected — a few hundred rows — so receipts and the ACK totals are
        sums over it on the driver, not further jobs. Every write overwrites
        the batch's ``batch_id`` partition, so a rerun after a crash at any
        step replaces what the crashed run wrote."""
        root = sink_root or self.cfg.sink_root
        if lineage_ops.is_committed(spark, root, batch_id):
            return {"batch_id": batch_id, "skipped": True}  # registrar resume

        routed = self.mapped(pages).withColumn("batch_id", F.lit(batch_id))
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            write_routed(
                routed.select(
                    "batch_id", SINK_COL, "timestamp", "message", "level",
                    "tags", ERROR_COL, "url", self.event_ts_col,
                ),
                root,
                partition_cols=("batch_id", SINK_COL),
                target_file_rows=self.cfg.batch_size * 1000,
            )
            # the ACK's byte_total counts every row's message, failed too
            agg = sink_hour_aggregates(
                routed,
                ts_col=self.event_ts_col,
                extra_aggs=(
                    F.sum(F.coalesce(F.octet_length("message"), F.lit(0))).alias(_ACK_BYTES),
                ),
            ).toArrow()
        finally:
            routed.unpersist()

        byte_total = sum(agg.column(_ACK_BYTES).to_pylist())
        metrics = agg.drop_columns([_ACK_BYTES])
        metrics = metrics.append_column(
            "batch_id", pa.array([batch_id] * metrics.num_rows, pa.string())
        )
        _overwrite_batch(spark.createDataFrame(metrics), root, "metrics")

        by_sink = agg.group_by(SINK_COL).aggregate(
            [("event_count", "sum"), ("failed_count", "sum")]
        )
        sinks = by_sink.column(SINK_COL).to_pylist()
        failed = by_sink.column("failed_count_sum").to_pylist()
        ok = [n - f for n, f in zip(by_sink.column("event_count_sum").to_pylist(), failed)]
        receipts = pa.table({  # cast to RECEIPTS_SCHEMA by createDataFrame
            "receipt_id": [
                hashlib.sha256(f"{batch_id}|{s}".encode("utf-8")).hexdigest() for s in sinks
            ],
            "sink": sinks,
            "logs_count": ok,
            "batch_id": [batch_id] * len(sinks),
            "status": [200 if f == 0 else 207 for f in failed],
        })
        _overwrite_batch(
            spark.createDataFrame(receipts, lineage_ops.RECEIPTS_SCHEMA), root, "receipts"
        )

        rows_ok, rows_failed = sum(ok), sum(failed)
        lineage_ops.commit_batch(  # the ACK — after data is durable
            spark, root, batch_id, rows_ok, rows_failed, byte_total
        )
        return {
            "batch_id": batch_id,
            "skipped": False,
            "rows_ok": rows_ok,
            "rows_failed": rows_failed,
            "byte_total": byte_total,
        }


def _overwrite_batch(rows: DataFrame, root: str, table: str) -> None:
    """Write a batch's few rows of ``table`` as one file, replacing whatever
    an earlier (crashed) run of the same batch left in its partition."""
    rows.coalesce(1).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(os.path.join(root, table))


def compile(
    cfg: PipelineConfig,
    grok_pattern: str | list[str] | tuple[str, ...] = DEFAULT_GROK,
    multiline: bool = True,
    vectorized: bool = False,
    lookups: list[Lookup] | None = None,
    event_ts_col: str = "warc_ts",
) -> PipelinePlan:
    """Driver-side compile; raises ConfigError/ValueError on any bad rule or
    pattern — errors surface exactly where the reference errors
    (plugin/logsight.go:28-47, plugin/config.go:42-53).

    ``grok_pattern`` may be a LIST of patterns, tried first-match-wins per
    event (real corpora are heterogeneous; a single pattern quarantines
    every other line format). The mapper keys (cfg.message_key etc.) address
    the union field schema — a field the winning pattern lacks is NULL,
    which the validation stage turns into a per-row failure as usual."""
    cfg.validate()
    if isinstance(grok_pattern, (list, tuple)):
        grok: CompiledGrok | CompiledGrokSet = compile_grok_set(list(grok_pattern))
    else:
        grok = compile_grok(grok_pattern)
    return PipelinePlan(
        cfg=cfg,
        grok=grok,
        multiline=multiline,
        vectorized=vectorized,
        lookups=[_pin_small(lk) for lk in lookups or []],
        event_ts_col=event_ts_col,
    )


def _pin_small(lookup: Lookup) -> Lookup:
    """Copy a lookup small enough for enrich's literal-map path into a
    driver-local relation, once. ``mapped`` probes every lookup each time it
    builds a batch's plan; on a local relation that probe runs no Spark job.
    Like the reference's config, the copy is taken at compile time. Larger
    lookups stay as given (broadcast join)."""
    table = lookup.table
    rows = table.limit(LITERAL_MAP_MAX_ENTRIES + 1).toArrow()
    if rows.num_rows > LITERAL_MAP_MAX_ENTRIES:
        return lookup
    local = table.sparkSession.createDataFrame(rows, table.schema)
    return replace(lookup, table=local)


def standard_pages_config(sink_root: str = "") -> PipelineConfig:
    """The canonical pages-pipeline config used by entry()/bench: fields come
    from the grok'd struct via dotted paths (the KeyMapper nested-path
    semantics doing real work), routing captures the app segment of the url
    path — the `.*/(.*)/.*` fixture pattern (mapper_test.go:203-208)."""
    from logsight_filebeat_spark.config import MapperConf

    return PipelineConfig(
        message_key="parsed.message",
        timestamp_key="parsed.timestamp",
        level_key="parsed.level",
        tags_mapping={"lang": "lang"},
        routes=(
            MapperConf(key="url", regex_matcher="https://[^/]*/path/(.+)/here.*"),
            MapperConf(name="default"),
        ),
        sink_root=sink_root,
    )


def replay_quarantine(
    spark: SparkSession,
    fixed_plan: PipelinePlan,
    pages: DataFrame,
    sink_root: str,
    failed_batch_id: str,
    replay_batch_id: str | None = None,
) -> dict:
    """Re-drive EXACTLY the quarantined pages of a committed batch through
    a corrected plan — the ops loop the reference's at-least-once design
    implies but leaves manual: rows that failed parse/validation routed to
    ``_quarantine`` (data preserved, never dropped); once the config is
    fixed (new grok chain, corrected mapper keys), the failures replay
    WITHOUT re-publishing the pages that already succeeded.

    Mechanics: the quarantined urls of ``failed_batch_id`` are read back
    from the routed store (a partition-pruned scan — batch_id and sink are
    partition columns, so only the one quarantine directory is touched),
    semi-joined against the raw pages input (only failed pages re-enter
    the pipeline), and published under a NEW batch_id with its own lineage
    entry — idempotent like any other batch, so a crashed replay reruns to
    the identical result. Pages whose rows STILL fail land in quarantine
    again under the replay batch, preserving at-least-once accounting.
    Granularity is the PAGE (the registrar's file/offset unit): a page
    where only some events failed re-publishes all its events under the
    replay batch — at-least-once across batches, deduplicable downstream
    on (url, event_idx) exactly like any Beats redelivery.

    Returns the replay receipt plus ``replayed_pages``."""
    if replay_batch_id is None:
        replay_batch_id = f"{failed_batch_id}-replay"
    routed = spark.read.parquet(os.path.join(sink_root, "routed"))
    failed_urls = (
        routed.filter(
            (F.col("batch_id") == failed_batch_id)
            & (F.col(SINK_COL) == "_quarantine")
        )
        .select("url")
        .distinct()
    )
    replay_pages = pages.join(failed_urls, ["url"], "left_semi")
    receipt = fixed_plan.run_batch(
        spark, replay_pages, replay_batch_id, sink_root=sink_root
    )
    receipt["replayed_pages"] = failed_urls.count()
    return receipt


def run_backfill(
    spark: SparkSession,
    plan: PipelinePlan,
    pages: DataFrame,
    hours: list[str],
    sink_root: str,
    ts_col: str = "warc_ts",
    batch_prefix: str = "hour-",
) -> list[dict]:
    """Backfill a range of hour buckets, one lineage-guarded batch per
    hour: already-committed hours SKIP (registrar resume), missing hours
    publish — so a backfill over an interrupted range is one idempotent
    call, and re-running the whole range is a no-op. ``hours`` entries are
    'yyyy-MM-dd HH' strings; each batch reads only its hour's slice of the
    input (a pushed-down timestamp filter, partition-prunable when the
    input is hour-partitioned).

    Returns one receipt per hour, in order — the caller's audit trail
    (sum of rows_ok across receipts ≡ the union run, pinned by test)."""
    out = []
    hour_expr = F.date_format(F.date_trunc("hour", F.col(ts_col)), "yyyy-MM-dd HH")
    for h in hours:
        receipt = plan.run_batch(
            spark,
            pages.filter(hour_expr == h),
            f"{batch_prefix}{h}",
            sink_root=sink_root,
        )
        out.append(receipt)
    return out
