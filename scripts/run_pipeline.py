#!/usr/bin/env python
"""spark-submit entry point for the pages pipeline.

Packaged run (north rule: `spark-submit --py-files` on a multi-executor
cluster; the sandbox stand-in is local[N]):

    python tools/build_pkg.py                       # → dist/logsight_filebeat_spark.zip
    spark-submit --master local[8] \\
        --py-files dist/logsight_filebeat_spark.zip \\
        scripts/run_pipeline.py \\
        --input /path/to/pages_parquet --sink-root /tmp/pipeline_out \\
        --batch-id hour-2024-03-01-00

On a real cluster the same command takes `--master yarn|k8s://…` and the
executor flags from session.py's comments; nothing in the job changes.
Re-running with the same --batch-id is a no-op (lineage resume); --stream
drains new files via Structured Streaming instead of one batch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python scripts/run_pipeline.py` runs (dev loop): resolve the package
# from the repo root. Under spark-submit, --py-files supplies it instead.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="pages parquet path (or log dir with --logs)")
    p.add_argument("--sink-root", required=True)
    p.add_argument("--batch-id", default="batch-0")
    p.add_argument(
        "--grok", action="append", default=None,
        help="grok pattern override; repeat for a first-match-wins chain",
    )
    p.add_argument("--logs", action="store_true", help="input is a directory of .log files")
    p.add_argument("--warc", action="store_true", help="input is a directory of WARC archives")
    p.add_argument("--stream", action="store_true", help="drain via Structured Streaming")
    p.add_argument("--no-enrich", action="store_true")
    args = p.parse_args(argv)

    # --py-files ships the package zip; imports resolve from it on executors
    from pyspark.sql import SparkSession

    from logsight_filebeat_spark.operators.enrich import url_host
    from logsight_filebeat_spark.plans.pipeline import (
        DEFAULT_GROK,
        Lookup,
        compile,
        standard_pages_config,
    )
    from logsight_filebeat_spark.sources.pages import host_meta, lang_meta

    from logsight_filebeat_spark.session import task_retry_conf

    cfg = standard_pages_config(sink_root=args.sink_root)
    # master/conf come from spark-submit; the job config's retry budget maps
    # onto the task-attempt budget here, at context creation (the only point
    # it can land — see session.task_retry_conf)
    builder = SparkSession.builder
    for k, v in task_retry_conf(cfg.max_retries).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    lookups = []
    if not args.no_enrich:
        lookups = [
            Lookup(
                table=host_meta(spark),
                on=url_host("url"),
                tag_cols={"site_category": "site_category", "org": "org"},
                lookup_key="host",
            ),
            Lookup(table=lang_meta(spark), on="lang", tag_cols={"lang_name": "lang_name"}),
        ]
    plan = compile(cfg, grok_pattern=args.grok or DEFAULT_GROK, lookups=lookups)

    if args.stream:
        from logsight_filebeat_spark.streaming.micro_batch import run_stream

        q = run_stream(spark, plan, args.input, args.sink_root)
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "sink_root": args.sink_root}))
        return 0

    if args.logs:
        from logsight_filebeat_spark.sources.logfiles import logfiles_as_pages

        pages_df = logfiles_as_pages(spark, args.input)
    elif args.warc:
        from logsight_filebeat_spark.sources.warc import warc_pages

        pages_df = warc_pages(spark, args.input)
    else:
        pages_df = spark.read.parquet(args.input)

    receipt = plan.run_batch(spark, pages_df, args.batch_id, sink_root=args.sink_root)
    print(json.dumps(receipt))
    return 0


if __name__ == "__main__":
    sys.exit(main())
