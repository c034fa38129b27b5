"""Physical-plan assertions — the scale properties SURVEY §4 promises.

These pin the *plan shape*, not timings: column pruning reaching the scan,
predicate pushdown, broadcast joins for dim lookups, and no Python eval in
the Column-only path. A regression here is a silent 100TB-scale bug even
when results stay correct.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from logsight_filebeat_spark.entry_queries_corpus import _pages_plan, pages_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = os.path.join(REPO, "data", "pages_sf0.001.parquet")


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_flagship_prunes_html_from_scan(spark):
    from logsight_filebeat_spark.operators.aggregate import sink_hour_aggregates

    pg = spark.read.parquet(PAGES)
    agg = sink_hour_aggregates(
        _pages_plan(spark).mapped(pg), ts_col="warc_ts", bytes_cols=("message",)
    )
    plan = _formatted(agg)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    # the aggregate never touches html — a scan reading it would drag the
    # biggest column of a 100TB table through the parse stage
    assert all("html" not in l for l in read_schema), read_schema


def test_flagship_lookups_compile_to_literal_maps_not_joins(spark):
    """Config-sized lookups (host_meta, lang_meta) take enrich_with_lookup's
    literal-map fast path: the probe is element_at inside the scan's
    codegen — NO join operator and NO exchange anywhere in the mapped
    plan, so stacking lookups never stacks broadcast builds. Bigger or
    duplicate-keyed lookups still broadcast-join (covered in
    test_enrich_aggregate.py)."""
    pg = spark.read.parquet(PAGES)
    plan = _formatted(_pages_plan(spark).mapped(pg))
    assert "Join" not in plan
    assert "Exchange" not in plan  # the whole map stage is shuffle-free


def test_flagship_column_path_has_no_python_eval(spark):
    pg = spark.read.parquet(PAGES)
    plan = _formatted(_pages_plan(spark).mapped(pg))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_flagship_runs_each_grok_and_route_regex_once(spark):
    """Every grok capture and the route capture is one regexp_extract, and
    no RLIKE re-runs either regex: the grok match test reads the witness
    capture and the route value reads its capture. The captures sit in
    their own Project under the one building ``parsed`` (CollapseProject
    must not inline a regexp_extract referenced twice), so the CASE WHEN
    does not evaluate them again."""
    import re

    flagship = _pages_plan(spark)
    pg = spark.read.parquet(PAGES)
    plan = flagship.mapped(pg)._jdf.queryExecution().optimizedPlan().toString()

    def calls(fn, regex):
        return len(re.findall(fn + r"\(\w+#\d+, " + re.escape(regex) + r"[,)]", plan))

    grok = flagship.grok.patterns[0]
    (rule,) = [r for r in flagship.cfg.routes if r.kind() == "regex"]
    assert calls("regexp_extract", grok.regex) == len(grok.fields), plan
    assert calls("RLIKE", grok.regex) == 0, plan
    assert calls("regexp_extract", rule.regex_matcher) == 1, plan
    assert calls("RLIKE", rule.regex_matcher) == 0, plan
    lines = plan.splitlines()
    (at,) = [i for i, l in enumerate(lines) if " AS parsed#" in l]
    assert "regexp_extract" not in lines[at], lines[at]
    assert lines[at + 1].count("regexp_extract(") == len(grok.fields), lines[at + 1]


def test_vectorized_grok_is_single_python_stage(spark):
    from logsight_filebeat_spark.operators.parse import (
        compile_grok,
        explode_multiline,
        with_grok_vectorized,
    )
    from logsight_filebeat_spark.plans.pipeline import DEFAULT_GROK

    pg = spark.read.parquet(PAGES).select("url", "text")
    df = explode_multiline(pg, "text", "event_text").select("url", "event_text")
    out = with_grok_vectorized(df, "event_text", compile_grok(DEFAULT_GROK))
    plan = _formatted(out)
    import re

    # exactly ONE Python stage, and it is the SCALAR arrow_udf form
    # (ArrowEvalPython over the text column) — mapInPandas would round-trip
    # every passenger column through Arrow (measured 2.2x slower)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "MapInPandas" not in plan
    # eval type 250 is a scalar arrow_udf (200 would be a pandas_udf)
    from pyspark.util import PythonEvalType

    assert re.search(
        rf"Arguments: \[extract\(event_text#\d+\)#\d+\], .*, {PythonEvalType.SQL_SCALAR_ARROW_UDF}\n",
        plan,
    )
    # only the text column enters the Python stage
    arrow_line = [
        l for l in plan.splitlines() if "ArrowEvalPython" in l and "(" in l
    ]
    assert arrow_line


def test_filter_pushdown_reaches_parquet_scan(spark):
    pg = spark.read.parquet(PAGES).filter(F.col("lang") == "en").select("url", "lang")
    plan = _formatted(pg)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "lang" in pushed and "[]" not in pushed.split("PushedFilters")[1][:40]


def test_blocked_pair_generators_have_no_cartesian_product(spark):
    """The round-1 quadratic forms are gone from the production paths: the
    SimHash pigeonhole join, the LSH near-dup composition, and the capped
    Jaccard join must all plan as equi-joins — a CartesianProduct or
    BroadcastNestedLoopJoin here is the 100TB-scale regression."""
    from logsight_filebeat_spark.operators.dedup import jaccard_pairs, simhash_pairs
    from logsight_filebeat_spark.operators.similarity import embedding_near_dups_lsh

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma delta") for i in range(50)],
        "doc_id bigint, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    from logsight_filebeat_spark.operators.webgraph import adamic_adar

    edges = spark.createDataFrame(
        [(f"s{i % 9}", f"d{i % 17}") for i in range(60)],
        "src string, dst string",
    )
    for df in (
        simhash_pairs(docs),
        jaccard_pairs(docs, max_doc_freq=10),
        embedding_near_dups_lsh(vecs),
        adamic_adar(edges),
    ):
        plan = _formatted(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    from logsight_filebeat_spark.functions.caching import release_persisted

    release_persisted()


def test_grok_set_native_path_has_no_python_eval(spark):
    from logsight_filebeat_spark.operators.parse import (
        compile_grok_set,
        with_grok_set_native,
    )

    gs = compile_grok_set(
        ["%{TIMESTAMP_ISO8601:ts} %{GREEDYDATA:m}", "%{IP:ip} %{GREEDYDATA:m}"]
    )
    df = spark.createDataFrame([("x",)], ["t"])
    plan = _formatted(with_grok_set_native(df, "t", gs))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_grok_set_native_runs_pattern_0_captures_once(spark):
    """Pattern 0 of a native set runs like a single pattern: each capture is
    one regexp_extract and the match test reads its witness, so its regex
    never runs as RLIKE. Pattern 1 runs only inside the CASE WHEN, over
    the rows pattern 0 missed."""
    import re

    from logsight_filebeat_spark.operators.parse import (
        compile_grok_set,
        with_grok_set_native,
    )

    gs = compile_grok_set(
        ["%{TIMESTAMP_ISO8601:ts} %{GREEDYDATA:m}", "%{IP:ip} %{GREEDYDATA:m}"]
    )
    p0, p1 = gs.patterns
    assert p0.witness is not None
    df = spark.read.parquet(PAGES).select("text")
    plan = with_grok_set_native(df, "text", gs)._jdf.queryExecution().optimizedPlan().toString()

    def calls(fn, regex):
        return len(re.findall(fn + r"\(\w+#\d+, " + re.escape(regex) + r"[,)]", plan))

    assert calls("regexp_extract", p0.regex) == len(p0.fields), plan
    assert calls("RLIKE", p0.regex) == 0, plan
    assert calls("RLIKE", p1.regex) >= 1, plan
    for line in plan.splitlines():
        for m in re.finditer(re.escape(p1.regex), line):
            assert line.rfind("CASE WHEN", 0, m.start()) > line.rfind(" END", 0, m.start()), line


def test_ivf_codebook_selection_is_distributed(spark):
    """Codebook seed selection must plan as TakeOrderedAndProject (every
    partition contributes its local top-n) — the round-2 shape was an
    unpartitioned Window.orderBy, i.e. a global single-task sort over the
    whole vectors table."""
    from logsight_filebeat_spark.operators.similarity import ivf_codebook

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in range(100)],
        "vec_id bigint, embedding array<double>",
    )
    plan = _formatted(ivf_codebook(vecs, n_centroids=8))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_ivf_training_has_no_single_task_stage(spark):
    """The Lloyd recenter is a hash aggregate by (centroid, dim) — no global
    Sort, no unpartitioned Window, no cartesian blowup anywhere in the
    training DAG (the assign window partitions by vector id)."""
    from logsight_filebeat_spark.operators.similarity import ivf_train_codebook

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(100)],
        "vec_id bigint, embedding array<double>",
    )
    plan = _formatted(ivf_train_codebook(vecs, n_centroids=4, iterations=2))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # every Window in the plan must be partitioned (the ivf_assign argmax);
    # an unpartitioned one prints 'Window [...], [...]' with no partition spec
    import re

    for m in re.finditer(r"Arguments: \[row_number\(\).*", plan):
        assert "windowspecdefinition(id" in m.group(0) or "partitionBy" in m.group(0), m.group(0)


def test_exact_dedup_is_two_hash_shuffles_not_a_sort(spark):
    from logsight_filebeat_spark.operators.dedup import dedup_exact

    docs = spark.createDataFrame(
        [(i, f"text {i % 10}") for i in range(100)], "doc_id bigint, text string"
    )
    plan = _formatted(dedup_exact(docs))
    # agg+semi-join shape hashes; a window implementation would sort
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_substring_dedup_plans_as_hash_aggregates_no_cartesian(spark):
    """Substring dedup is explode → hash aggregate → equi-join; a cartesian
    or a global sort here would be the 100TB regression."""
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.dedup import substring_dup_stats

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 9, i % 9 + 20)))
         for i in range(40)],
        "doc_id bigint, text string",
    )
    plan = _formatted(substring_dup_stats(docs, width=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan
    release_persisted()


def test_url_blocklist_filter_is_broadcast_anti_join(spark):
    """The corpus side of the blocklist filter must never shuffle: plan is
    one BroadcastHashJoin LeftAnti against the tiny blocklist."""
    from logsight_filebeat_spark.operators.enrich import filter_blocked_hosts

    pg = spark.read.parquet(PAGES)
    blocked = spark.createDataFrame([("x.example.com",)], "host string")
    plan = _formatted(filter_blocked_hosts(pg, blocked))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan


def test_sessionize_shuffles_once_on_key_no_global_sort(spark):
    """Session windows aggregate per key: exactly the key-hash exchanges of
    a grouped aggregate, never a global (singlepartition) exchange."""
    from datetime import datetime

    from logsight_filebeat_spark.operators.aggregate import sessionize

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12, 0, 0), 7, 1.0)],
        "event_id bigint, ts timestamp, user_id bigint, value double",
    )
    plan = _formatted(sessionize(df))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_byte_histogram_is_single_python_stage(spark):
    import re

    from logsight_filebeat_spark.operators.multimodal import with_byte_histogram

    df = spark.createDataFrame([(1, b"abc")], "doc_id bigint, payload binary")
    plan = _formatted(with_byte_histogram(df))
    # scalar pandas_udf: payload in, feature struct out, ids stay JVM-side
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "MapInPandas" not in plan


def test_quantize_is_join_free_projection(spark):
    from logsight_filebeat_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    vecs = spark.createDataFrame(
        [(1, [0.5, -1.0])], "vec_id bigint, embedding array<double>"
    )
    plan = _formatted(dequantize_embeddings(quantize_embeddings(vecs, keep_vec=True)))
    for marker in ("Join", "Exchange", "MapInPandas", "BatchEvalPython"):
        assert marker not in plan, marker


def test_prefix_sum_data_window_is_bucket_partitioned(spark):
    """The data-side running sum must be partitioned by bucket; only the
    tiny bucket-totals table may pass through a single partition."""
    from logsight_filebeat_spark.operators.packing import with_prefix_sum

    df = spark.createDataFrame(
        [(i, 3) for i in range(100)], "doc_id bigint, n_tokens bigint"
    )
    plan = _formatted(with_prefix_sum(df, bucket_size=10))
    assert "hashpartitioning(_bucket" in plan, plan


def test_line_dedup_has_no_cartesian_and_no_python(spark):
    from logsight_filebeat_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, f"header\nbody {i}\nfooter") for i in range(50)],
        "doc_id bigint, text string",
    )
    plan = _formatted(line_dedup(docs))
    for marker in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
    ):
        assert marker not in plan, marker


def test_bpe_pair_counts_is_one_aggregate_no_join(spark):
    from logsight_filebeat_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, "low lower lowest") for i in range(20)],
        "doc_id bigint, text string",
    )
    plan = _formatted(
        bpe.pair_counts(bpe.word_freqs(docs), bpe.bpe_symbols("word"))
    )
    # word-freq agg + pair agg: hash aggregates only — no join, no sort,
    # no Python stage anywhere in BPE's inner loop statistic
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Sort "):
        assert marker not in plan, marker


def test_bpe_doc_token_counts_is_pure_projection(spark):
    from logsight_filebeat_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "low lower")], "doc_id bigint, text string"
    )
    plan = _formatted(bpe.doc_token_counts(docs, [("l", "o"), ("lo", "w")]))
    # merge chain applied in the scan projection: no explode, no join,
    # no shuffle, no Python
    for marker in ("Join", "Exchange", "Generate", "BatchEvalPython",
                   "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_dsir_weights_broadcast_the_model_tables(spark):
    from logsight_filebeat_spark.operators.sampling import dsir_log_weights

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(30)],
        "doc_id bigint, text string",
    )
    plan = _formatted(dsir_log_weights(docs, docs.limit(10)))
    # the ≤dim-row log-ratio table and the 1-row totals join via broadcast;
    # the corpus-sized gram table must never sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hits_rounds_are_hash_joins_no_cartesian_no_sort(spark):
    """Each HITS half-round is an equi-join + hash aggregate; the
    renormalize totals are broadcast 1-row joins — never a cartesian over
    data, never a global sort."""
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.webgraph import hits

    nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(50)], "node string"
    )
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7) % 50}") for i in range(50)],
        "src string, dst string",
    )
    plan = _formatted(hits(nodes, edges, n_iter=1))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # the only nested-loop joins are the broadcast 1-row renormalize
    # totals (Cross BuildRight); a data-sized nested loop would print
    # without a broadcast build side
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+) (\w+)", plan):
        assert m.group(2) in ("BuildRight", "BuildLeft"), m.group(0)
    release_persisted()


def test_quantile_gate_never_sorts_the_data(spark):
    """The only Sort allowed is inside the running-sum window over the
    distinct-score table (post-aggregate); the corpus path is scan →
    hash aggregate → broadcast-joined filter."""
    from logsight_filebeat_spark.operators.sampling import quantile_gate

    df = spark.createDataFrame(
        [(i, float(i % 17)) for i in range(200)], "id bigint, score double"
    )
    plan = _formatted(quantile_gate(df, "score", 0.25))
    assert "CartesianProduct" not in plan
    # the threshold join must broadcast (1 row), not shuffle the corpus
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # every Sort in the plan feeds the window over the aggregated
    # distinct-value table, which sits BELOW a HashAggregate — the raw
    # data is never globally sorted: assert the scan side reaches the
    # filter through no Sort by checking the aggregate appears
    assert "HashAggregate" in plan


def test_bm25_corpus_side_joins_are_never_nested_loop(spark):
    from logsight_filebeat_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 3} filler") for i in range(100)],
        "doc_id bigint, text string",
    )
    qt = spark.createDataFrame(
        [("q1", "tok1"), ("q2", "tok2")], "query_id string, tok string"
    )
    plan = _formatted(bm25_topk(docs, qt, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_curation_funnel_is_one_low_cardinality_aggregate(spark):
    """The funnel's per-doc labeling joins on hash/id keys only; the final
    aggregate is over the stage label. No cartesian, no global sort of
    the docs."""
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.curation import curation_funnel

    docs = spark.createDataFrame(
        [(i, f"some text body number {i % 25} with more words here")
         for i in range(80)],
        "doc_id bigint, text string",
    )
    plan = _formatted(curation_funnel(docs))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    release_persisted()


def test_heavy_hitters_recount_is_broadcast_join_no_full_shuffle_sort(spark):
    from logsight_filebeat_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame(
        [(f"w{i % 50}",) for i in range(2000)], "value string"
    )
    plan = _formatted(heavy_hitters(df, "value", k=5))
    # candidate filter must reach the recount as a broadcast hash join —
    # a sort-merge join here would shuffle the full value multiset, the
    # exact thing the two-pass construction exists to avoid
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # top-k of the recounted candidates is the distributed TakeOrdered
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_global_topk_is_take_ordered(spark):
    from logsight_filebeat_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 1 + i % 9) for i in range(1000)], "doc_id long, w long"
    )
    plan = _formatted(weighted_sample(df, k=10, weight_col="w"))
    # global k must plan as distributed per-partition top-k + tiny merge,
    # never a global sort of the corpus
    assert "TakeOrderedAndProject" in plan, plan
    # the A-ES key is a pure Column — no Python eval anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_stratified_shuffles_by_stratum(spark):
    from logsight_filebeat_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, f"g{i % 4}", 1 + i % 9) for i in range(1000)],
        "doc_id long, grp string, w long",
    )
    plan = _formatted(
        weighted_sample(df, k=10, weight_col="w", strata_col="grp")
    )
    # the per-stratum window partitions by the stratum key — hashpartitioning
    # on grp, never a single-partition global window
    assert "hashpartitioning(grp" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_main_content_is_pure_projection_no_shuffle_no_python(spark):
    import pyspark.sql.functions as F

    from logsight_filebeat_spark.functions.cleaning import main_content

    pg = spark.read.parquet(PAGES)
    plan = _formatted(
        pg.select("url", main_content(F.col("html").cast("string")).alias("m"))
    )
    # the boilerplate pass must cost exactly one corpus read: no shuffle,
    # no Python worker
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_table_is_one_hash_aggregate_no_python(spark):
    from logsight_filebeat_spark.operators.sketches import cms_table

    df = spark.createDataFrame([(f"v{i}",) for i in range(100)], "value string")
    plan = _formatted(cms_table(df, "value", depth=4, width=64))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "SortAggregate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # cells come from the scan, not a join


def test_resolve_chains_plan_is_leaf_per_round(spark):
    """The pointer-jump round self-joins the previous state; without
    per-round lineage truncation the lineage DOUBLES per round (round-3
    verdict measured 63 joins / ~64 duplicated upstream scans at n_iter=5
    — at crawl scale, 2^n re-parses of the raw html edge derivation; and
    even with persist the ANALYZED plan still nests 2^n copies). With the
    per-round iteration_barrier (eager localCheckpoint) the returned plan
    is a projection over the last round's leaf LogicalRDD: zero joins in
    the final plan, size independent of n_iter — each round executed
    exactly one hash join over the previous round's materialized blocks."""
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.webgraph import resolve_chains

    df = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(50)], "src string, dst string"
    )
    try:
        res5 = resolve_chains(df, n_iter=5, converge=False)
        opt5 = res5._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in opt5
        assert opt5.count("Join") == 0
        # round-count independence: n_iter=7 plan is the same size class
        res7 = resolve_chains(df, n_iter=7, converge=False)
        opt7 = res7._jdf.queryExecution().optimizedPlan().toString()
        assert len(opt7) < 2 * len(opt5) + 500
        plan = _formatted(res5)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        release_persisted()


def test_connected_components_plan_is_leaf_per_round(spark):
    """CC's round body references the previous labels 3x (message join,
    union, convergence probe) — persist-only lineage grows 3^rounds and
    kills the driver at real max_iterations. The barrier pins the result
    to a leaf LogicalRDD regardless of how many rounds ran."""
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.curation import (
        connected_components,
    )

    # a 30-hop path needs 30+ min-label rounds: the old 3^rounds plan
    # growth would OOM stringification long before convergence
    df = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i+1:02d}") for i in range(30)],
        "id_a string, id_b string",
    )
    try:
        res = connected_components(df, max_iterations=40)
        rows = {r.id: r.comp for r in res.collect()}
        assert set(rows.values()) == {"d00"}  # one component, min label
        opt = res._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in opt
        assert opt.count("Join") == 0
        assert len(opt) < 4000
    finally:
        release_persisted()


def test_salted_join_shuffles_on_key_plus_salt(spark):
    import pyspark.sql.functions as F

    from logsight_filebeat_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(f"u{i}", "hot" if i % 2 else f"k{i % 5}") for i in range(200)],
        "url string, host string",
    )
    dims = big.select("host").distinct().withColumn("v", F.length("host"))
    joined = salted_join(big, dims, "host", salt_col="url", n_salt=8)
    plan = _formatted(joined)
    # the join key must include the salt so the hot key spreads across
    # tasks; and with the small side exploded 8x, no broadcast shortcut
    # may silently defeat the salting demonstration
    assert "_salt" in plan, plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_broadcasts_the_filter(spark):
    """The built filter is ≤ n_bits rows — probing must be a broadcast
    hash join, never a shuffle of the candidate side against it."""
    from logsight_filebeat_spark.operators.sketches import bloom_bits, bloom_probe

    vals = spark.createDataFrame([(f"v{i}",) for i in range(200)], "value string")
    bloom = bloom_bits(vals, "value", n_bits=1024, n_hashes=3)
    plan = _formatted(bloom_probe(bloom, vals, "value", 1024, 3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_split_sides_are_pure_filters(spark):
    """Both split sides must plan as filters in the scan — no shuffle, no
    group table, no join (the membership is a pure Column of the group)."""
    from logsight_filebeat_spark.operators.sampling import group_split

    df = spark.createDataFrame(
        [(i, f"h{i % 9}") for i in range(100)], "doc_id bigint, host string"
    )
    train, val = group_split(df, "host", 0.25)
    for side in (train, val):
        plan = _formatted(side)
        assert "Exchange" not in plan
        assert "Join" not in plan.split("\n\n(")[0]


def test_snapshot_diff_is_one_join_hashes_before_shuffle(spark):
    """One full-outer equi-join on the key; the text column must be
    reduced to its md5 BELOW the exchange (text bytes never shuffle)."""
    from logsight_filebeat_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame([("u1", "x" * 100)], "url string, text string")
    new = spark.createDataFrame([("u1", "y" * 100)], "url string, text string")
    plan = _formatted(snapshot_diff(old, new))
    tree = plan.split("\n\n(")[0]
    assert tree.count("Join") == 1
    assert "CartesianProduct" not in plan
    # md5 is computed in a Project below each Exchange: the exchange's
    # output attributes carry the hash, not the text column
    assert "md5" in plan


def test_rendezvous_shard_is_shuffle_free(spark):
    from logsight_filebeat_spark.operators.sampling import rendezvous_shard

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id bigint")
    plan = _formatted(df.select(rendezvous_shard("doc_id", 16)))
    assert "Exchange" not in plan
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


# ---------------------------------------------------------------------------
# storage-layout plans: bucketed co-located joins + dynamic partition pruning
# ---------------------------------------------------------------------------

def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Bucketing is THE 100-TB co-location tool: two tables bucketed by the
    same key into the same bucket count join with ZERO shuffle — each task
    reads matching buckets from both sides. At 10^12 rows the recurring
    join against an also-huge side (e.g. pages ⋈ per-url fetch history)
    must not re-exchange either side every run; bucketed layout moves that
    cost to write time, once."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        for name, df in (("bkt_a", a), ("bkt_b", b)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .bucketBy(8, "k")
                .sortBy("k")
                .saveAsTable(name)
            )
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = _formatted(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
        # contrast: the same join over plain (unbucketed) parquet shuffles
        a.write.mode("overwrite").parquet(str(tmp_path / "plain_a"))
        b.write.mode("overwrite").parquet(str(tmp_path / "plain_b"))
        pj = spark.read.parquet(str(tmp_path / "plain_a")).join(
            spark.read.parquet(str(tmp_path / "plain_b")), "k"
        )
        assert "Exchange" in _formatted(pj)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_partitioned_scan_gets_dynamic_partition_pruning(spark, tmp_path):
    """Hour/host-partitioned fact tables must prune partitions from a
    dimension filter at RUNTIME (DPP): filtering the dim side of
    fact ⋈ dim injects a dynamicpruning subquery into the fact scan's
    partition filters, so a 10^12-row table reads only the joined hours —
    the difference between scanning 100 TB and scanning one bucket."""
    fact = spark.range(2000).select(
        (F.col("id") % 24).alias("hour_bucket"), F.col("id").alias("v")
    )
    fact.write.mode("overwrite").partitionBy("hour_bucket").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.range(24).select(
        F.col("id").alias("hour_bucket"),
        F.when(F.col("id") < 3, "keep").otherwise("drop").alias("tag"),
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    j = f.join(dim.where(F.col("tag") == "keep"), "hour_bucket")
    plan = _formatted(j)
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() == 252  # hours 0,1,2: 84 ids each in range(2000)


def test_drop_event_condition_pushes_into_scan(spark):
    from logsight_filebeat_spark.operators.processors import drop_event

    pg = spark.read.parquet(PAGES)
    out = drop_event(
        pg.select("url", "lang"),
        {"or": [{"equals": {"lang": "en"}}, {"contains": {"url": "/path/"}}]},
    )
    plan = _formatted(out)
    # a compiled `when:` condition is a plain boolean predicate — Catalyst
    # must push it to the parquet scan (at 100TB this is the difference
    # between reading the corpus and reading a slice)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert "lang" in pushed[0] or "url" in pushed[0], pushed[0]
    assert "BatchEvalPython" not in plan


def test_processor_chain_is_single_project_over_scan(spark):
    from logsight_filebeat_spark.operators.processors import compile_chain

    pg = spark.read.parquet(PAGES)
    out = compile_chain(
        pg.select("url", "lang", "warc_ts"),
        [
            {"add_fields": {"pipeline": "v1"}},
            {"rename": {"lang": "language"}},
            {"copy_fields": {"url": "url_copy"}},
            {"convert": [{"from": "warc_ts", "to": "ts_s", "type": "string"}]},
            {"truncate_fields": {"fields": ["url_copy"], "max_bytes": 16}},
            {"drop_fields": ["warc_ts"]},
        ],
    )
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    # CollapseProject: the N-processor chain costs ONE projection, so chain
    # length never multiplies scan cost — the Beats interpreter-loop
    # equivalent is a single codegen stage
    assert optimized.count("Project") == 1, optimized
    plan = _formatted(out)
    assert "BatchEvalPython" not in plan


def test_rate_limit_shuffles_once_on_key_bucket(spark):
    from logsight_filebeat_spark.operators.processors import rate_limit_by

    e = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:00")], "id int, key string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    plan = _formatted(rate_limit_by(e, "key", "ts", "id", 3, "hour"))
    # one hashpartitioning exchange on (key, bucket); never a single-
    # partition global window
    assert plan.count("Exchange (") == 1, plan
    args = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    # partitions on (key, bucket) — the bucket expr is projected to _w0
    assert args and "key" in args[0] and "_w0" in args[0], plan
    assert "SinglePartition" not in plan
    # WindowGroupLimit: the rank<=limit cap applies MAP-SIDE before the
    # shuffle — at 10^12 rows the exchange moves at most limit rows per
    # (key, bucket, input partition), not the corpus
    assert "WindowGroupLimit" in plan, plan


def test_bucketed_join_has_no_exchange_on_the_join(spark):
    """Both sides bucketed on the join key with equal bucket counts ⇒ the
    SortMergeJoin consumes the scans directly: no Exchange below the join
    (the write-side shuffle already co-located the buckets). The only
    exchange allowed in the aggregate query is the downstream groupBy's."""
    from logsight_filebeat_spark.operators.layout import (
        bucketed_join,
        write_bucketed,
    )

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 11).alias("v")
    )
    write_bucketed(left, "lsfb_test_bl", "k", 4, sort_cols=("k",))
    write_bucketed(right, "lsfb_test_br", "k", 4, sort_cols=("k",))
    j = bucketed_join(spark, "lsfb_test_bl", "lsfb_test_br", "k")
    assert j.count() == 1000
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # the join itself is fully co-located

    # an aggregate ON THE BUCKET KEY also rides the bucketing: zero
    # exchanges end to end
    agg_on_key = (
        spark.table("lsfb_test_bl").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    )
    agg_on_key.count()
    plan_k = agg_on_key._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_k


def test_partitioned_fact_join_prunes_dynamically(spark):
    """A join against a filtered dim must reach the partitioned fact scan
    as a dynamicpruningexpression PartitionFilter — Spark reads only the
    dim's partitions at runtime, no query-side pruning code."""
    import os
    import tempfile

    from logsight_filebeat_spark.operators.layout import write_partitioned

    fact = spark.range(0, 2000).select(
        (F.col("id") % 10).alias("day"), (F.col("id") * 3 % 7).alias("v")
    )
    path = os.path.join(tempfile.gettempdir(), "lsfb_test_dpp")
    write_partitioned(fact, path, "day")
    dim = spark.createDataFrame(
        [(d, "keep" if d in (2, 4) else "drop") for d in range(10)],
        "day long, tag string",
    )
    j = (
        spark.read.parquet(path)
        .join(F.broadcast(dim.filter(F.col("tag") == "keep")), "day")
        .groupBy("tag")
        .agg(F.sum("v").alias("sv"))
    )
    [row] = j.collect()
    assert row.sv == sum((i * 3 % 7) for i in range(2000) if i % 10 in (2, 4))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()


def test_bfs_plan_is_leaf_per_round(spark):
    """BFS's round body references frontier and visited multiple times
    (edge join, anti-join, union, count probe) — the same lineage-growth
    trap as resolve_chains/CC. The per-round barrier pins the returned
    distances to a leaf LogicalRDD whose size is depth-independent."""
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.webgraph import bfs_distances

    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(20)], "src string, dst string"
    )
    seeds = spark.createDataFrame([("u0",)], "node string")
    try:
        res = bfs_distances(edges, seeds, max_depth=6)
        opt = res._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in opt
        assert opt.count("Join") == 0
        res12 = bfs_distances(edges, seeds, max_depth=12)
        opt12 = res12._jdf.queryExecution().optimizedPlan().toString()
        assert len(opt12) < 2 * len(opt) + 500  # depth-independent size
    finally:
        release_persisted()


def test_mmr_plan_is_leaf_per_round(spark):
    """Each MMR greedy round consumes the selected set three times
    (anti-join, redundancy join, union); the barrier keeps the final
    plan a leaf regardless of k."""
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.retrieval import mmr_rerank

    cand = spark.createDataFrame(
        [("q", i, 100 - i) for i in range(30)],
        "query_id string, doc_id bigint, rel bigint",
    )
    sims = spark.createDataFrame(
        [("q", 0, 1, 0.5), ("q", 1, 0, 0.5)],
        "query_id string, doc_id bigint, other_id bigint, sim double",
    )
    try:
        res = mmr_rerank(cand, sims, k=6, lam=0.5)
        opt = res._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in opt
        assert opt.count("Join") == 0
    finally:
        release_persisted()


def test_write_bucketed_idempotent_over_stale_location(spark):
    """Cross-SESSION idempotence: the default catalog is in-memory, so a
    previous process's managed-table files survive in the warehouse dir
    while the catalog entry does not — saveAsTable used to die with
    LOCATION_ALREADY_EXISTS (observed: a stale spark-warehouse/ killed a
    full bench run at warmup). write_bucketed must clear the orphaned
    location and succeed. Simulated here by dropping the CATALOG entry
    while leaving the files on disk — exactly the state a new session
    sees."""
    import os

    from logsight_filebeat_spark.operators.layout import write_bucketed

    df = spark.createDataFrame([(i, i % 3) for i in range(20)], "k long, v long")
    write_bucketed(df, "lsfb_test_stale", "k", 4)
    assert spark.table("lsfb_test_stale").count() == 20
    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    loc = os.path.join(warehouse, "lsfb_test_stale")
    # drop only the catalog entry, keep the files — the fresh-session state
    spark.sql("DROP TABLE IF EXISTS lsfb_test_stale")
    # DROP TABLE on a managed table removes files too; recreate the orphan
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "part-orphan.parquet"), "w") as fh:
        fh.write("stale")
    write_bucketed(df, "lsfb_test_stale", "k", 4)  # must not raise
    assert spark.table("lsfb_test_stale").count() == 20
    spark.sql("DROP TABLE IF EXISTS lsfb_test_stale")


def test_write_bucketed_append_preserves_existing_rows(spark):
    """mode='append' must NOT run the overwrite pre-clean: appending to an
    existing bucketed table keeps every prior row (the pre-clean used to
    drop the table unconditionally — silent data destruction)."""
    from logsight_filebeat_spark.operators.layout import write_bucketed

    df = spark.createDataFrame([(i, i % 3) for i in range(10)], "k long, v long")
    write_bucketed(df, "lsfb_test_app", "k", 4)
    write_bucketed(df, "lsfb_test_app", "k", 4, mode="append")
    assert spark.table("lsfb_test_app").count() == 20
    write_bucketed(df, "lsfb_test_app", "k", 4)  # overwrite resets
    assert spark.table("lsfb_test_app").count() == 10
    spark.sql("DROP TABLE IF EXISTS lsfb_test_app")


def test_write_bucketed_db_qualified_table(spark):
    """Overwriting a db-qualified table must clean the table's REAL
    location (warehouse/<db>.db/<tbl>, resolved from the catalog), not a
    hand-derived warehouse/<db.tbl> path — repeated overwrites land the
    same row count with no stale-file leftovers."""
    from logsight_filebeat_spark.operators.layout import write_bucketed

    spark.sql("CREATE DATABASE IF NOT EXISTS lsfb_tdb")
    try:
        df = spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "k long, v long"
        )
        write_bucketed(df, "lsfb_tdb.t1", "k", 2)
        write_bucketed(df, "lsfb_tdb.t1", "k", 2)  # must not raise
        assert spark.table("lsfb_tdb.t1").count() == 12
    finally:
        spark.sql("DROP TABLE IF EXISTS lsfb_tdb.t1")
        spark.sql("DROP DATABASE IF EXISTS lsfb_tdb")
