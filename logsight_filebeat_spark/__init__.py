"""logsight_filebeat_spark — a PySpark-native log parse → enrich → route →
aggregate engine with the query semantics of aiops/logsight-filebeat.

This is NOT a port of the reference Go plugin (`/root/reference/plugin`): the
reference is a single-process, row-at-a-time Filebeat output; this package
re-expresses its semantics (field extraction, regex capture, validation,
routing, batching, delivery accounting) as a declarative Spark DataFrame DAG —
Columns compiled once on the driver, vectorized Arrow UDFs only where
Column expressions genuinely cannot express the semantics (the pipeline's
one Python hop is the Arrow grok path: a scalar ``arrow_udf``, no pandas),
and Catalyst/AQE doing all physical planning.

Layout
------
- ``config``     — job config dataclasses (ref: plugin/config.go)
- ``functions``  — mapper-expression compiler, validation regexes, text/hash fns
- ``operators``  — log assembly, routing, enrichment, parse stage, aggregates,
                   dedup, similarity, multimodal plumbing
- ``sources``    — synthetic pages generator + testdata loaders
- ``sinks``      — fan-out writers, lineage/checkpoint (exactly-once resume)
- ``plans``      — config → PipelinePlan compiler (ref: plugin/logsight.go)
- ``streaming``  — Structured Streaming variant of the pipeline
- ``session``    — SparkSession factory (``get_spark``)
- ``pyworker``   — the sessions' Python-worker daemon: pyspark's, reading a
                   zip's directory once per change instead of once per task
"""

__version__ = "0.1.0"
