"""Delivery accounting & per-sink aggregates (O15/O17/O21 + north rule).

Reference: the only aggregate is the per-batch LogReceipt
(/root/reference/plugin/api/log.go:57-62 — {receiptId, logsCount, batchId,
status}) plus the StatsDialer byte/event counters (plugin/client.go:38-41).
The north rule widens this to per-sink groupBy aggregates: event counts, byte
totals, and parse-failure rates per warc_ts hour bucket.

Scale: one hash aggregate shuffling on (sink, hour) — low cardinality, so the
shuffle is trivial; partial (map-side) aggregation does almost all the work.
Failure rate comes from the SAME single aggregation (conditional counts), not
a second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logsight_filebeat_spark.operators.log_mapper import ERROR_COL
from logsight_filebeat_spark.operators.router import SINK_COL


def hour_bucket(ts: Column | str = "warc_ts") -> Column:
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_trunc("hour", c)


def sink_hour_aggregates(
    routed: DataFrame,
    ts_col: str = "warc_ts",
    bytes_cols: tuple[str, ...] = ("message",),
    extra_aggs: tuple[Column, ...] = (),
) -> DataFrame:
    """(sink, hour) → event_count, byte_total, failed_count,
    parse_failure_rate. Quarantined/failed rows count into the same buckets
    (failure rate per hour is the point), byte totals count delivered payload
    bytes only — the receipt measures what was shipped. ``extra_aggs`` ride
    along in the same aggregation, placed before parse_failure_rate."""
    byte_expr = sum(
        (F.coalesce(F.octet_length(F.col(c)), F.lit(0)) for c in bytes_cols),
        F.lit(0),
    )
    is_failed = F.col(ERROR_COL).isNotNull() if ERROR_COL in routed.columns else F.lit(False)
    return (
        routed.groupBy(
            F.col(SINK_COL), hour_bucket(ts_col).alias("hour_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.when(~is_failed, byte_expr).otherwise(F.lit(0))).alias("byte_total"),
            F.sum(F.when(is_failed, 1).otherwise(0)).alias("failed_count"),
            *extra_aggs,
        )
        .withColumn(
            "parse_failure_rate",
            F.round(F.col("failed_count") / F.col("event_count"), 6),
        )
    )


def receipts(routed: DataFrame, batch_id: str) -> DataFrame:
    """LogReceipt analogue (api/log.go:57-62): one row per sink per batch —
    logsCount of successfully mapped rows, status 200/207 (all-ok /
    partial-failure, mirroring client.go:134-141 diagnostics)."""
    is_failed = F.col(ERROR_COL).isNotNull() if ERROR_COL in routed.columns else F.lit(False)
    return (
        routed.groupBy(SINK_COL)
        .agg(
            F.sum(F.when(~is_failed, 1).otherwise(0)).alias("logs_count"),
            F.sum(F.when(is_failed, 1).otherwise(0)).alias("failed_count"),
        )
        .select(
            F.sha2(F.concat_ws("|", F.lit(batch_id), F.col(SINK_COL)), 256).alias(
                "receipt_id"
            ),
            F.col(SINK_COL),
            F.col("logs_count"),
            F.lit(batch_id).alias("batch_id"),
            F.when(F.col("failed_count") == 0, F.lit(200))
            .otherwise(F.lit(207))
            .alias("status"),
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-based sessionization with the stock session-window operator:
    events of one key belong to one session while consecutive gaps are AT
    MOST ``gap`` — an event exactly ``gap`` after the previous one still
    MERGES (Spark's windows span [ts, ts+gap] for merging; pinned by
    pytest and mirrored with `>` in the ev_sessions oracle). Returns one
    row per (key, session): start/end event times, event count, summed
    value.

    Scale shape: groupBy(key, session_window) is one shuffle on key with
    in-partition session merging — the same code runs unchanged under
    Structured Streaming with a watermark, where the state store holds only
    open sessions. No driver-side ordering, no global sort."""
    aggs = [
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("total_value"))
    out = (
        df.groupBy(
            F.col(key_col), F.session_window(F.col(ts_col), gap).alias("w")
        )
        .agg(*aggs)
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("last_ts").alias("session_end"),
            "n_events",
            *(["total_value"] if value_col is not None else []),
        )
    )
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: tuple[str, ...] = ("value",),
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: each left row gets the value columns of the
    LATEST right row with ``right_ts <= left_ts`` on the same key (ties on
    the timestamp match — the semantics of a sorted merge / DuckDB ASOF
    JOIN / pandas merge_asof). Left rows with no earlier right row keep
    nulls (LEFT as-of). The matched right timestamp comes back as
    ``<prefix>ts``, each value column as ``<prefix><name>``.

    Spark has no native as-of join, and the naive formulations are scale
    traps: an inequality theta-join plans as a broadcast-nested-loop /
    range explosion, and a per-key collect doesn't distribute. The
    distributed construction used here is union-tag + partitioned window:
    tag both sides, sort each key's rows by (ts, side) — right before left
    on equal timestamps, so ties are visible — and carry the last non-null
    right STRUCT forward with last(ignorenulls) over a rows frame. The
    struct keeps the match atomic (a matched right row whose value column
    is legitimately null is still a match, not a fall-through to an older
    row). ONE shuffle on key, in-partition sort, no join explosion, no
    driver round-trip; skewed keys are split by AQE like any other window.

    Right rows should be unique per (key, right_ts) for a deterministic
    pick among equal timestamps — pre-aggregate the right side otherwise
    (the ev_asof query does).
    """
    ltypes = {f.name: f.dataType for f in left.schema.fields}
    rtypes = {f.name: f.dataType for f in right.schema.fields}
    carry_t = T.StructType(
        [T.StructField("ts", rtypes[right_ts])]
        + [T.StructField(c, rtypes[c]) for c in value_cols]
    )
    lcols = left.columns
    ltagged = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        F.col(left_ts).alias("__ats"),
        F.lit(None).cast(carry_t).alias("__r"),
    )
    rtagged = right.select(
        *[
            (F.col(c) if c == key_col else F.lit(None).cast(ltypes[c])).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__side"),
        F.col(right_ts).alias("__ats"),
        F.struct(
            F.col(right_ts).alias("ts"),
            *[F.col(c) for c in value_cols],
        ).alias("__r"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("__ats", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ltagged.unionByName(rtagged)
        .withColumn("__m", F.last("__r", ignorenulls=True).over(w))
        .where(F.col("__side") == 1)
        .select(
            *lcols,
            F.col("__m.ts").alias(f"{prefix}ts"),
            *[F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in value_cols],
        )
    )


def _densify_hours(hourly: DataFrame) -> DataFrame:
    """Fill a (key, hour, n) table's grid from each key's first to last
    observed hour with explicit n=0 rows, so trailing windows mean
    wall-clock hours (zero-rate hours included). Bounded by keys × hours
    — dimension-sized, never data-sized."""
    # the densify path consumes `hourly` TWICE (span + the grid join);
    # persist so the upstream count aggregate runs once, not twice
    from logsight_filebeat_spark.functions.caching import track_persist

    hourly = track_persist(hourly)
    span = hourly.groupBy("key").agg(
        F.min("hour").alias("_h0"), F.max("hour").alias("_h1")
    )
    # grid ⋈ hourly is a self-join (grid derives from hourly); alias the
    # grid's key to a FRESH attribute so relation-dedup never sees the
    # same expression id on both sides (it fails to disambiguate when the
    # shared lineage is a streaming memory-sink view)
    grid = span.select(
        F.col("key").alias("key"),
        F.explode(
            F.sequence("_h0", "_h1", F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    return grid.join(hourly, ["key", "hour"], "left").select(
        "key", "hour", F.coalesce("n", F.lit(0)).alias("n")
    )


def _hourly_counts(
    df: DataFrame, key_col: str, ts_col: str, densify: bool
) -> DataFrame:
    """(key, hour, n) hourly counts; with ``densify`` the grid fills each
    key's first→last observed hour with explicit n=0 rows so trailing
    windows mean wall-clock hours (zero-rate hours included)."""
    hourly = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    if densify:
        hourly = _densify_hours(hourly)
    return hourly


def ewma_scores(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    alpha: float = 0.3,
    trailing: int = 24,
    burst_ratio: float = 3.0,
    densify: bool = True,
) -> DataFrame:
    """Exponentially-weighted trailing baseline per (key, hour): the
    recency-biased companion to :func:`rate_anomalies`' flat z-window —
    an EWMA tracks a drifting rate (diurnal ramps, slow growth) where the
    flat mean lags, so the burst ratio flags genuine spikes, not ramps.

    baseline = Σ n_j·(1−α)^(age_j−1) / Σ (1−α)^(age_j−1) over the
    trailing ``trailing`` grid hours (age in wall-clock hours ≥ 1);
    ratio = n / baseline, flagged when ratio ≥ ``burst_ratio`` with a
    non-trivial baseline. Weights derive from hour DIFFERENCES (not list
    position), so the score is identical whether the grid is dense or a
    sparse key skipped hours.

    Engine-stable: the trailing history is collected as a bounded
    (≤``trailing``) struct array SORTED BY HOUR, and both numerator and
    denominator fold over it sequentially — every float op happens in the
    same order in any engine at any parallelism; no float passes through
    an order-dependent aggregate. The window is over the hourly table
    (keys × hours), never the corpus."""
    hourly = _hourly_counts(df, key_col, ts_col, densify=False)
    return ewma_from_hourly(
        hourly,
        alpha=alpha,
        trailing=trailing,
        burst_ratio=burst_ratio,
        densify=densify,
    )


def ewma_from_hourly(
    hourly: DataFrame,
    alpha: float = 0.3,
    trailing: int = 24,
    burst_ratio: float = 3.0,
    densify: bool = True,
) -> DataFrame:
    """:func:`ewma_scores`' scoring stage over a pre-aggregated
    (key, hour, n) table — the shared backfill/live view: the batch path
    feeds it event-table counts, the STREAMING path
    (streaming/stateful.py::hourly_rates) feeds it the drained state-store
    counts, and because the scoring expression is literally the same
    Catalyst code, stream and backfill agree float-for-float (no second
    implementation of the EWMA math exists to drift)."""
    from pyspark.sql import Window

    if densify:
        hourly = _densify_hours(hourly)
    w = Window.partitionBy("key").orderBy("hour").rowsBetween(-trailing, -1)
    hist = F.array_sort(
        F.collect_list(
            F.struct(F.col("hour").alias("h"), F.col("n").alias("v"))
        ).over(w)
    )
    decay = F.lit(1.0 - alpha)
    hour_s = F.unix_timestamp(F.col("hour"))

    def age(x):
        return ((hour_s - F.unix_timestamp(x["h"])) / 3600).cast("int")

    scored = hourly.select(
        "key",
        "hour",
        "n",
        F.aggregate(
            hist,
            F.lit(0.0),
            lambda acc, x: acc
            + x["v"].cast("double") * F.pow(decay, age(x) - 1),
        ).alias("_num"),
        F.aggregate(
            hist,
            F.lit(0.0),
            lambda acc, x: acc + F.pow(decay, age(x) - 1),
        ).alias("_den"),
    )
    baseline = F.when(F.col("_den") > 0, F.col("_num") / F.col("_den"))
    ratio = F.when(baseline > 0, F.col("n") / baseline)
    return scored.select(
        "key",
        "hour",
        "n",
        F.round(F.coalesce(baseline, F.lit(0.0)), 6).alias("ewma"),
        F.round(F.coalesce(ratio, F.lit(0.0)), 6).alias("ratio"),
        (
            F.coalesce(ratio, F.lit(0.0)) >= burst_ratio
        ).alias("is_burst"),
    )


def rate_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    trailing: int = 24,
    z_threshold: float = 2.0,
    densify: bool = True,
) -> DataFrame:
    """Windowed event-rate anomaly detection — the log-analytics core:
    per (key, hour) event counts scored against the trailing ``trailing``
    hours' mean/stddev; |z| ≥ ``z_threshold`` flags a rate anomaly (error
    bursts, traffic cliffs). Returns (key, hour, n, baseline_n, z,
    is_anomaly); rows with fewer than 2 trailing points score z = 0, and
    a ZERO-VARIANCE baseline (perfectly steady rate — where the classical
    z is undefined yet a spike is the clearest possible anomaly) scores
    the raw deviation n − mean instead.

    ``densify`` (default) fills each key's hour grid from its first to
    last observed hour with explicit n=0 rows, so the trailing window is
    true trailing WALL-CLOCK hours: zero-rate hours pull the baseline
    down, a traffic cliff to zero is itself scored (and flaggable), and
    a post-gap baseline isn't skewed by arbitrarily-old pre-gap hours.
    ``densify=False`` keeps the observed-hours-only window (trailing N
    observed buckets, the sparse-log reading). The grid is bounded by
    keys × wall-clock hours — dimension-sized, never data-sized.

    Engine-stable floats BY CONSTRUCTION: the trailing window aggregates
    only INTEGER sums (Σn, Σn², count — exact at any parallelism and in
    any engine); mean, variance, and z then derive per-row from those
    exact integers, so no float ever passes through an order-dependent
    aggregate. Population variance: var = (Σn² − (Σn)²/c) / c.

    Scale shape: one hash aggregate to the (key, hour) table — tiny
    relative to the corpus — then windows partitioned BY KEY over that
    table, never over the data."""
    from pyspark.sql import Window

    hourly = _hourly_counts(df, key_col, ts_col, densify)
    w = (
        Window.partitionBy("key")
        .orderBy("hour")
        .rowsBetween(-trailing, -1)
    )
    scored = hourly.select(
        "key",
        "hour",
        "n",
        F.sum("n").over(w).alias("_s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("_s2"),
        F.count("n").over(w).alias("_c"),
    )
    c = F.col("_c").cast("double")
    mean = F.col("_s1") / c
    var = (F.col("_s2") - (F.col("_s1") * F.col("_s1")) / c) / c
    z = (
        F.when(
            (F.col("_c") >= 2) & (var > 0),
            (F.col("n") - mean) / F.sqrt(var),
        )
        .when(F.col("_c") >= 2, F.col("n") - mean)
        .otherwise(F.lit(0.0))
    )
    return scored.select(
        "key",
        "hour",
        "n",
        F.coalesce("_s1", F.lit(0)).alias("baseline_n"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) >= z_threshold).alias("is_anomaly"),
    )


def session_paths(
    df: DataFrame,
    key_col: str = "user_id",
    event_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap: str = "30 minutes",
    max_steps: int = 5,
    sep: str = ">",
) -> DataFrame:
    """Navigation-path histogram: sessionize each key's timeline (gap
    rule identical to :func:`sessionize` / the ev_sessions oracle — a gap
    strictly over ``gap`` starts a new session), take the first
    ``max_steps`` events of each session in (ts, tiebreak) order, and
    count sessions per path string — the "top user journeys" table
    product analytics and log-workflow mining both start from.

    Scale shape: session labeling is the lag+cumsum construction with
    both windows on ONE hashpartitioning of the key; the per-session
    fold (collect → sort → slice) reuses that same partitioning
    (groupBy(key, sess) clusters by a superset), and only the bounded
    path histogram shuffles again. A session's struct array is
    gap-bounded, never a key's whole history."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev_ts = F.lag(ts_col).over(w)
    new_s = F.when(
        prev_ts.isNull()
        | (F.col(ts_col) > prev_ts + F.expr(f"INTERVAL {gap}")),
        F.lit(1),
    ).otherwise(F.lit(0))
    flagged = df.select(
        key_col, ts_col, tiebreak_col, event_col, new_s.alias("_new_s")
    )
    w2 = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    labeled = flagged.select(
        key_col,
        ts_col,
        tiebreak_col,
        event_col,
        F.sum("_new_s").over(w2).alias("_sess"),
    )
    per_session = labeled.groupBy(key_col, "_sess").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("t"),
                                F.col(tiebreak_col).alias("b"),
                                F.col(event_col).alias("e"),
                            )
                        )
                    ),
                    1,
                    max_steps,
                ),
                lambda x: x["e"],
            ),
            sep,
        ).alias("path")
    )
    return per_session.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


def grouped_quantiles(
    df: DataFrame,
    key_col: str,
    val_col: str,
    qs: dict[str, float],
) -> DataFrame:
    """Exact interpolated quantiles per key (type-7 / linear, the same
    definition as Spark's ``percentile`` and DuckDB's ``quantile_cont``),
    computed from the per-key VALUE HISTOGRAM instead of shuffling raw
    values: ``percentile(col, q)`` buffers every value of a key on one
    reducer — dead for a hot key at corpus scale — while the histogram
    form shuffles one row per (key, distinct value) and every later step
    runs over that bounded table.

    For quantile q over n values the target rank is r = q·(n−1)
    (0-indexed); the answer interpolates the values at ⌊r⌋ and ⌈r⌉, found
    by cumulative-count containment — no sort of the data, no per-key
    array. Returns one row per key: (key, n, <one column per qs name>)."""
    hist = (
        df.where(F.col(val_col).isNotNull())  # quantiles ignore NULLs
        .groupBy(F.col(key_col).alias("key"), F.col(val_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("key").orderBy("v")
    ranked = hist.select(
        "key",
        "v",
        "cnt",
        (F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ) - F.col("cnt")).alias("c_prev"),
        F.sum("cnt").over(
            Window.partitionBy("key").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    finals = ["key", "n"]
    for name, q in qs.items():
        r = F.lit(q) * (F.col("n") - 1).cast("double")
        rf, rc = F.floor(r), F.ceil(r)
        in_run = lambda pos: (pos >= F.col("c_prev")) & (
            pos < F.col("c_prev") + F.col("cnt")
        )
        aggs.append(
            F.max(F.when(in_run(rf), F.col("v"))).alias(f"_{name}_lo")
        )
        aggs.append(
            F.max(F.when(in_run(rc), F.col("v"))).alias(f"_{name}_hi")
        )
        aggs.append(F.max(r - rf.cast("double")).alias(f"_{name}_f"))
        finals.append(
            (
                F.col(f"_{name}_lo")
                + F.col(f"_{name}_f")
                * (F.col(f"_{name}_hi") - F.col(f"_{name}_lo"))
            ).alias(name)
        )
    return ranked.groupBy("key").agg(*aggs).select(*finals)


def transition_counts(
    df: DataFrame,
    key_col: str = "user_id",
    event_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key event→event transition matrix: (src, dst, cnt, prob) over
    consecutive events within each key's timeline — the log-template
    transition graph that workflow/anomaly mining builds on (the reference
    vendor's published log-analytics approach models exactly this graph
    over parsed templates; here it runs over any event column, e.g.
    ``pg_log_templates`` output).

    Scale shape: ONE shuffle — the lag window partitions by key (ordered
    by (ts, tiebreak) so ties are deterministic); the (src, dst) hash
    aggregate does its heavy lifting map-side, and the probability
    normalization windows over the AGGREGATED matrix (≤ |event types|²
    rows), never the data."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    pairs = df.select(
        F.lag(event_col).over(w).alias("src"),
        F.col(event_col).alias("dst"),
    ).where(F.col("src").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "cnt",
        F.round(
            F.col("cnt").cast("double")
            / F.sum("cnt").over(total).cast("double"),
            6,
        ).alias("prob"),
    )


def state_runs(
    df: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Run-length encoding of each key's state timeline (gaps-and-islands):
    consecutive identical states collapse into one row with the run's
    bounds and length — flap/alert suppression (emit only on CHANGE) and
    dwell-time analysis in one table. ``run_seq`` numbers a key's runs in
    time order, so ``run_seq=1`` rows are first observations and each
    later row IS a state change from its predecessor.

    Scale shape: both windows (change flag, cumulative run id) and the
    final (key, run) aggregate share ONE partitioning on key — a single
    shuffle end-to-end; no per-key data leaves its partition after it."""
    # both windows reference the ORIGINAL attributes — aliasing between
    # them would hide the shared hashpartitioning(key) from Catalyst and
    # buy a second data-sized Exchange (plan-pinned in tests)
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(state_col).over(w)
    flagged = df.select(
        key_col,
        ts_col,
        tiebreak_col,
        state_col,
        F.when(
            prev.isNull() | (prev != F.col(state_col)), F.lit(1)
        ).otherwise(F.lit(0)).alias("_chg"),
    )
    w2 = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flagged.select(
        key_col,
        ts_col,
        state_col,
        F.sum("_chg").over(w2).alias("run_seq"),
    )
    return runs.groupBy(key_col, "run_seq", state_col).agg(
        F.count(F.lit(1)).alias("run_length"),
        F.min(ts_col).alias("ts_start"),
        F.max(ts_col).alias("ts_end"),
    ).select(
        F.col(key_col).alias("key"),
        "run_seq",
        F.col(state_col).alias("state"),
        "run_length",
        "ts_start",
        "ts_end",
    )


def funnel_steps(
    df: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel conversion: how many keys completed step 1, then
    step 2 STRICTLY AFTER their step-1 completion, and so on. One row per
    step: (step, event_type, n_users). A key completes step i at the
    earliest event of that type after its step-(i-1) completion time — the
    classic strict-sequence funnel.

    Scale shape: each level is one filtered hash aggregate down to a
    per-key 1-row table, then an equi-join of the NEXT level's events
    against that (users ≪ events, so AQE broadcasts it in practice).
    Never a per-key sort of the event log, no window over the corpus.
    Levels are persisted so level i+1 does not recompute levels 1..i."""
    from logsight_filebeat_spark.functions.caching import track_persist

    reached: DataFrame | None = None
    counts: list[DataFrame] = []
    for i, step in enumerate(steps):
        ev = df.filter(F.col(type_col) == step).select(
            F.col(key_col).alias("_k"), F.col(ts_col).alias("_ts")
        )
        if reached is None:
            nxt = ev.groupBy("_k").agg(F.min("_ts").alias("_reached"))
        else:
            nxt = (
                ev.join(
                    reached.select("_k", F.col("_reached").alias("_prev")),
                    "_k",
                )
                .filter(F.col("_ts") > F.col("_prev"))
                .groupBy("_k")
                .agg(F.min("_ts").alias("_reached"))
            )
        reached = track_persist(nxt)
        counts.append(
            reached.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).cast("long").alias("step"),
                F.lit(step).alias("event_type"),
                F.col("n_users").cast("long").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def cohort_retention(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: keys are grouped by their first-seen calendar day
    (the cohort); for every later activity day the table counts how many
    distinct keys of that cohort were active ``day_offset`` days in —
    the standard triangle retention matrix.

    Scale shape: one hash aggregate to the per-key first-seen dim (|keys|
    rows, tiny next to the event log), one equi-join of the log against it
    on key (AQE broadcasts it when it fits), one distinct-count aggregate
    on (cohort_day, day_offset, key) — all partial-aggregated, no window,
    no sort."""
    first = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.date_trunc("day", F.min(ts_col)).alias("cohort_day")
    )
    return (
        df.select(
            F.col(key_col).alias("_k"),
            F.date_trunc("day", F.col(ts_col)).alias("_day"),
        )
        .join(first, "_k")
        .groupBy(
            "cohort_day",
            F.datediff("_day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("_k").alias("n_users"))
    )


def hopping_counts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    size: str = "1 hour",
    slide: str = "15 minutes",
    value_col: str | None = "value",
) -> DataFrame:
    """Hopping (sliding) window aggregates per key: every event lands in
    size/slide overlapping windows and each (key, window) row reports
    count + value sum — the smoothed-rate view behind dashboards and the
    trailing-window features rate_anomalies discretizes away.

    Built on ``F.window(ts, size, slide)`` — Spark expands the window set
    in the SCAN projection (size/slide rows per event, bounded fan-out,
    epoch-aligned starts) and everything downstream is ONE hash aggregate
    on (key, window) with map-side partials. No self-join, no per-window
    rescans: the classic mistake at 10^12 events is a windows×events range
    join; the explode form is linear in events × overlap factor.

    Returns (key, window_start, window_end as 'yyyy-MM-dd HH:mm:ss'
    strings, n_events, value_sum rounded 1e-6)."""
    agg = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        agg.append(F.round(F.sum(value_col), 6).alias("value_sum"))
    return (
        events.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), size, slide).alias("w"),
        )
        .agg(*agg)
        .select(
            "key",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            *(
                ["n_events"]
                + (["value_sum"] if value_col is not None else [])
            ),
        )
    )


def seasonal_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    days: int = 7,
    min_days: int = 2,
    burst_ratio: float = 3.0,
) -> DataFrame:
    """Seasonality-aware rate anomalies: each (key, hour) count scores
    against the SAME HOUR-OF-DAY on the trailing ``days`` days — the
    detector that stays quiet through a daily traffic peak the flat
    z-window (:func:`rate_anomalies`) and the recency EWMA
    (:func:`ewma_scores`) both flag, and that still fires when 3 a.m.
    traffic suddenly looks like 3 p.m. Returns (key, hour, n, hist_days,
    baseline, ratio, is_burst); hours with fewer than ``min_days`` of
    same-hour history score ratio 0 (no basis), and n > 0 against an
    all-zero ``min_days``-deep history scores the 10^6 sentinel ratio
    (a burst from silence is the clearest anomaly, but the true ratio is
    undefined) — both conventions mirrored in the oracle.

    Engine-stable by construction: the trailing same-hour window
    aggregates only exact INTEGERS (Σn and the day count) over the
    DENSIFIED hour grid (zero-rate hours included, so a gap day drags the
    baseline down rather than vanishing); baseline and ratio derive per
    row from those integers. The window is over keys × hours —
    dimension-sized, never data-sized; on the dense grid, same
    hour-of-day rows are exactly one per day, so ROWS -days..-1 IS the
    trailing wall-clock ``days`` days."""
    from pyspark.sql import Window

    hourly = _hourly_counts(df, key_col, ts_col, densify=True)
    hod = F.hour("hour")
    w = (
        Window.partitionBy("key", hod)
        .orderBy("hour")
        .rowsBetween(-days, -1)
    )
    scored = hourly.select(
        "key",
        "hour",
        "n",
        F.count(F.lit(1)).over(w).alias("hist_days"),
        F.sum("n").over(w).alias("_hist_n"),
    )
    baseline = F.when(
        F.col("hist_days") >= min_days,
        F.col("_hist_n") / F.col("hist_days"),
    )
    ratio = F.when(baseline > 0, F.col("n") / baseline).otherwise(
        F.when(baseline.isNotNull() & (F.col("n") > 0), F.lit(float(10**6)))
    )
    return scored.select(
        "key",
        "hour",
        "n",
        F.col("hist_days").cast("bigint").alias("hist_days"),
        F.round(F.coalesce(baseline, F.lit(0.0)), 6).alias("baseline"),
        F.round(F.coalesce(ratio, F.lit(0.0)), 6).alias("ratio"),
        (F.coalesce(ratio, F.lit(0.0)) >= burst_ratio).alias("is_burst"),
    )


def robust_outliers(
    df: DataFrame,
    key_col: str,
    val_col: str,
    id_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Median/MAD robust outlier detection per key — the telemetry screen
    that survives what breaks mean/stddev z-scores: one genuine spike
    inflates a stddev enough to hide itself (masking), while the median
    and the median-absolute-deviation have a 50% breakdown point. The
    robust z is the Iglewicz–Hoban form 0.6745·|x−med|/MAD with the
    conventional 3.5 cutoff.

    Output: the flagged rows (key, id, value, med, mad, rz rounded 1e-6).
    Degenerate keys where MAD = 0 (≥ half the values identical) get
    rz = NULL and flag ANY deviation from the median — the standard
    fallback, deterministic in both engines (the zero is exact: it comes
    from identical input values, not arithmetic).

    Scale shape: two :func:`grouped_quantiles` passes (medians of values,
    then of deviations) — each shuffles one row per (key, distinct
    value), never raw rows to one reducer; the per-key (med, mad) table
    is dimension-sized and rides hash joins back onto the data (AQE
    broadcasts it when small). No raw-value buffering anywhere."""
    med = grouped_quantiles(df, key_col, val_col, {"med": 0.5}).select(
        "key", "med"
    )
    dev = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(id_col).alias("id"),
            F.col(val_col).cast("double").alias("value"),
        )
        .join(med, "key")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
    )
    mad = grouped_quantiles(dev, "key", "adev", {"mad": 0.5}).select(
        "key", "mad"
    )
    scored = dev.join(mad, "key").select(
        "key",
        "id",
        "value",
        "med",
        "mad",
        F.when(
            F.col("mad") > 0,
            F.round(F.lit(0.6745) * F.col("adev") / F.col("mad"), 6),
        ).alias("rz"),
        F.col("adev").alias("_adev"),
    )
    return scored.filter(
        (F.col("rz") > threshold)
        | ((F.col("mad") == 0) & (F.col("_adev") > 0))
    ).drop("_adev")


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    h_tenths: int = 30,
    densify: bool = True,
) -> DataFrame:
    """One-sided (upward) CUSUM change-point detection on per-key hourly
    event rates — the sequential-analysis complement to the z-score /
    EWMA anomaly suite: a z-score flags one loud hour, CUSUM accumulates
    SMALL persistent drifts (a 15% error-rate creep spread over a day)
    that never individually clear a spike threshold (Page 1954).

    Statistic, in integers so it is bit-exact at any parallelism and
    across engines (same integral fixed-point discipline as
    :func:`~logsight_filebeat_spark.operators.webgraph.pagerank`): with
    T = each key's hour count and ``total`` its event total, the scaled
    residual of hour i is ``n_i·T − total`` (= T·(n_i − mean), exact).
    C_i = its prefix sum; the classic recursive S_i = max(0, S_{i−1} + y_i)
    collapses to the window form **S_i = C_i − min(0, min_{j≤i} C_j)** —
    one cumulative sum plus one running min, no recursion, no UDF. The
    min MUST include the empty prefix (C_0 = 0): without it a series
    whose first residual is positive under-reads S by that first
    residual (caught by the hypothesis property test vs the recursion). The alarm
    fires when S_i exceeds h·mean·T ⇔ ``10·S_i > h_tenths·total``
    (``h_tenths`` = threshold in tenths of the mean hourly rate, so the
    whole decision stays integral).

    Returns (key, hour, n, cusum_scaled, alarm) for every key-hour.

    Scale shape: one hash aggregate to hourly counts (dimension-sized:
    keys × hours), the optional zero-fill grid, two window passes over
    the SAME per-key hour-ordered sort (Spark plans them as one
    Exchange + one Sort), one broadcast-sized per-key totals join."""
    from pyspark.sql import Window

    hourly = _hourly_counts(df, key_col, ts_col, densify=densify)
    totals = hourly.groupBy("key").agg(
        F.sum("n").cast("bigint").alias("_total"),
        F.count(F.lit(1)).cast("bigint").alias("_t"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        # totals is one row per key — dimension-sized at any corpus scale;
        # broadcast it so the join never reshuffles the (key × hour) grid
        hourly.join(F.broadcast(totals), ["key"])
        .withColumn(
            "_c",
            F.sum(F.col("n") * F.col("_t") - F.col("_total")).over(w),
        )
        .withColumn("_cmin", F.min("_c").over(w))
    )
    s = F.col("_c") - F.least(F.lit(0).cast("bigint"), F.col("_cmin"))
    return scored.select(
        "key",
        "hour",
        "n",
        s.cast("bigint").alias("cusum_scaled"),
        (10 * s > F.lit(h_tenths) * F.col("_total")).alias("alarm"),
    )
