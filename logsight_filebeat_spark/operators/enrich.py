"""Enrichment — add_fields / add_tags / add_host_metadata analogues (O22).

Reference: the plugin's tags_mapping config renames/projects event fields into
the tags map (/root/reference/plugin/config.go:21, wired plugin/client.go:77-79,
executed by MultipleKeyValueMapper, mapper.go:96-108). The Beats framework
processors (add_fields/add_host_metadata) are config-only there; here they are
first-class: static literal merges, and BROADCAST left joins against small
lookup tables keyed on url-host and lang (north rule).

Scale: the lookup tables are dimension-sized (10^2–10^6 rows) against a
10^12-row fact — broadcast-hash-join is the only sane plan; we hint it
explicitly (F.broadcast) so plan choice never depends on stats. Left join +
map_concat of non-null fields reproduces skip-on-missing (mapper.go:103-106):
an unmatched host contributes NO tags, never a NULL tag value.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logsight_filebeat_spark.operators.stage import Stage

# lookups up to this many rows compile into literal maps (enrich_with_lookup)
LITERAL_MAP_MAX_ENTRIES = 64


def url_host(col: Column | str = "url") -> Column:
    """url → host. try_parse_url is codegen'd JVM-side; NULL on malformed
    input (no UDF, no task failure under ANSI mode)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_parse_url(c, F.lit("HOST"))


def add_fields(df: DataFrame, fields: dict[str, str], tags_col: str = "tags") -> DataFrame:
    """add_fields/add_tags processor: merge constant key→values into the tags
    map. Literal-only; never fails a row."""
    if not fields:
        return df
    lit_map = F.create_map(
        *[x for k, v in sorted(fields.items()) for x in (F.lit(k), F.lit(v))]
    )
    return df.withColumn(tags_col, F.map_concat(F.col(tags_col), lit_map))


def enrich_with_lookup(
    df: DataFrame,
    lookup: DataFrame,
    on: str | Column,
    tag_cols: dict[str, str],
    tags_col: str = "tags",
    lookup_key: str | None = None,
    max_literal_entries: int | None = LITERAL_MAP_MAX_ENTRIES,
    stage: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Enrich from a lookup table, folding selected lookup columns into
    the tags map as {tag_key: value}; rows with no match (or NULL values)
    get no entry — skip-on-missing, mapper.go:103-106.

    ``on``: fact-side join column (name or expression, e.g. url_host()).
    ``tag_cols``: {tag_key_out: lookup_column_in}.
    ``lookup_key``: lookup-side key column (default: same name as ``on``).
    ``stage``: ``lookup_stage`` of the same arguments, built earlier and
    reused; without it the stage is built (and the lookup probed) for this
    call.

    Two physical strategies, picked by ``lookup_stage`` on the driver:

    * **literal map** — when the lookup has ≤ ``max_literal_entries``
      unique-keyed rows (probed with one bounded ``limit(n+1).collect()``
      when the stage is built), the whole table compiles into
      ``create_map`` literals and the probe is ``element_at`` INSIDE the
      scan's whole-stage codegen: no join operator, no broadcast exchange,
      no build side. End-to-end the flagship pipeline times the same either
      way at test scale (the broadcast build is tiny); what the literal
      form buys is plan shape — the whole map stage stays ONE shuffle-free
      codegen projection (pinned in test_plans_explain), each STACKED
      lookup adds zero operators where a join adds an exchange + build
      per processor (real Beats configs chain many translate/add_fields),
      and count()-style partial evaluations can prune through it. Beats
      lookups are config-sized, so this is the hot path's default.
    * **broadcast hash join** — anything larger (or duplicate-keyed,
      where join semantics duplicate fact rows and a map cannot), the
      classic broadcast left join, built for each frame it enriches. Pass
      ``max_literal_entries=None`` to force it.
    """
    if stage is None:
        stage = lookup_stage(
            lookup, on, tag_cols, tags_col, lookup_key, max_literal_entries
        )
    return stage(df)


def lookup_stage(
    lookup: DataFrame,
    on: str | Column,
    tag_cols: dict[str, str],
    tags_col: str = "tags",
    lookup_key: str | None = None,
    max_literal_entries: int | None = LITERAL_MAP_MAX_ENTRIES,
    rows: list | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """``enrich_with_lookup``'s strategy and Columns, built once. The
    literal-map stage only adds a prebuilt Column, so it names ``on`` with
    ``F.col`` rather than a frame's resolved attribute; the join stage
    joins each frame it gets. ``rows``: the lookup's rows when the caller
    already collected them (any mapping per row) — the probe is skipped."""
    key = lookup_key or (on if isinstance(on, str) else None)
    if key is None:
        raise ValueError("lookup_key required when `on` is an expression")
    needed = [key] + sorted(set(tag_cols.values()))
    small = lookup.select(*needed)

    if max_literal_entries is not None:
        probe = rows if rows is not None else small.limit(max_literal_entries + 1).collect()
        keys = [r[key] for r in probe]
        if len(probe) <= max_literal_entries and len(set(keys)) == len(keys):
            join_col = F.col(on) if isinstance(on, str) else on
            entries = []
            for tag_key, src in sorted(tag_cols.items()):
                pairs = [
                    x
                    for r in probe
                    if r[key] is not None
                    for x in (F.lit(r[key]), F.lit(r[src]))
                ]
                val = (
                    F.element_at(F.create_map(*pairs), join_col)
                    if pairs
                    else F.lit(None).cast("string")
                )
                entries.append(
                    F.struct(
                        F.lit(tag_key).alias("key"), val.alias("value")
                    )
                )
            arr = F.filter(
                F.array(*entries),
                lambda e: e.getField("value").isNotNull(),
            )
            new_tags = F.map_concat(
                F.col(tags_col), F.map_from_entries(arr)
            )
            return Stage().with_column(tags_col, new_tags)

    entries = [
        F.struct(F.lit(tag_key).alias("key"), F.col(src).alias("value"))
        for tag_key, src in sorted(tag_cols.items())
    ]
    arr = F.filter(F.array(*entries), lambda e: e.getField("value").isNotNull())
    new_tags = F.map_concat(F.col(tags_col), F.map_from_entries(arr))
    lookup_only = set(tag_cols.values())

    def join(df: DataFrame) -> DataFrame:
        join_col = df[on] if isinstance(on, str) else on
        joined = df.join(
            F.broadcast(small), join_col == small[key], "left"
        ).drop(small[key])
        return joined.withColumn(tags_col, new_tags).drop(
            *[c for c in lookup_only if c in joined.columns and c not in df.columns]
        )

    return join


def filter_blocked_hosts(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """C4-style domain blocklist filter: drop every row whose url host
    appears in ``blocked`` — a broadcast LEFT ANTI join, so the corpus side
    never shuffles and malformed urls (NULL host) survive the filter (a
    NULL never equals a blocklist entry), matching the lenient treat-
    unparseable-as-unblocked rule list-based web filters use."""
    return df.join(
        F.broadcast(blocked.select(F.col(host_col).alias("__blocked_host"))),
        url_host(url_col) == F.col("__blocked_host"),
        "left_anti",
    )


def canonical_url(col: Column | str = "url") -> Column:
    """C4/CCNet-style URL canonicalization, pure codegen Columns (runs in
    the scan stage, zero shuffle): strip the fragment, drop tracking query
    params (utm_*, gclid, fbclid), lowercase the scheme+authority (path and
    remaining query keep their case), drop the scheme-default port
    (http:80 / https:443), and strip trailing slashes. The canonical form
    is the key for URL-level dedup of a web corpus — crawls see the same
    page under #fragments and utm-tagged share links.
    """
    c = F.col(col) if isinstance(col, str) else col
    # 1. fragment off first so later anchors see the true tail
    u = F.regexp_replace(c, r"#.*$", "")
    # 2. tracking params: value swallowed up to the next & / end; the
    #    leading separator is KEPT (captured) so ?a=1&utm_x=2&b=3 keeps
    #    its structure, then ?& / && / trailing ?,& artifacts collapse
    u = F.regexp_replace(
        u, r"([?&])(?:utm_[A-Za-z0-9_]+|gclid|fbclid)=[^&]*", r"$1"
    )
    u = F.regexp_replace(u, r"&{2,}", r"&")
    u = F.regexp_replace(u, r"\?&", r"?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    # 3. lowercase scheme://authority only (lookaround-free so the DuckDB
    #    oracle's RE2 dialect expresses the identical patterns)
    pre = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    u = F.concat(F.lower(pre), F.substr(u, F.length(pre) + 1))
    # 4. scheme-default ports
    u = F.regexp_replace(u, r"^(http://[^:/?#]+):80([/?#].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^:/?#]+):443([/?#].*)?$", r"$1$2")
    # 5. trailing slash(es) — the [^:/] guard spares the authority's "//"
    return F.regexp_replace(u, r"^(.+[^:/])/+$", r"$1")


def url_dup_groups(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-URL duplicate groups: (canon_url, n_dups, keep_id) with
    keep = min id — the URL-level exact-dedup pre-pass a web corpus runs
    before any content hashing. One hash aggregate on the canonical key."""
    return (
        df.select(
            canonical_url(url_col).alias("canon_url"),
            F.col(id_col).alias("id"),
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("id").alias("keep_id"),
        )
    )


def range_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: int = 1000,
) -> DataFrame:
    """Interval-lookup join — facts against [lo, hi) ranges (IP blocks,
    score tiers, time windows) — as a BUCKETED EQUI-JOIN. Spark plans a
    naive `v >= lo AND v < hi` theta-join as a nested-loop over the whole
    fact table; here every range explodes into the fixed-width buckets it
    overlaps, facts compute their single bucket in the scan, the join runs
    on the bucket id (hash join, broadcastable when the range table is
    small), and the exact interval predicate filters the residue.

    Emits one row per (fact, matching range) — overlapping ranges match
    multiply, like the theta-join. Pick ``bucket_width`` near the median
    range width: each range lands in O(width/bucket_width + 1) buckets and
    each fact meets only the ranges sharing its bucket. Integer domain;
    values stay < 2^53 so the floor-division bucketing is exact."""
    fb = facts.withColumn(
        "_b", F.floor(F.col(value_col) / bucket_width).cast("bigint")
    )
    rb = ranges.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width).cast("bigint"),
                F.floor((F.col(hi_col) - 1) / bucket_width).cast("bigint"),
            )
        ),
    )
    return (
        fb.join(rb, ["_b"])
        .filter(
            (F.col(value_col) >= F.col(lo_col))
            & (F.col(value_col) < F.col(hi_col))
        )
        .drop("_b")
    )


# minimal public-suffix demo set: production swaps in the full PSL as the
# same (suffix, labels) broadcast table
PUBLIC_SUFFIXES = [
    ("com", 1), ("org", 1), ("net", 1), ("dev", 1), ("io", 1), ("edu", 1),
    ("co.uk", 2), ("org.uk", 2), ("com.au", 2), ("co.jp", 2),
]


def registered_domain(
    df: DataFrame,
    host_col: str = "host",
    suffixes: DataFrame | None = None,
    max_labels: int | None = None,
) -> DataFrame:
    """eTLD+1 extraction — the aggregation key crawl pipelines actually
    group by (per-SITE caps/stats, where grouping by raw host splits one
    site into thousands of subdomains): match the host's LONGEST known
    public suffix from a suffix table, take one label more. Adds
    ``etld1`` (NULL when no suffix matches — opaque hosts stay
    ungrouped rather than misgrouped).

    Scale shape: each host emits its (last-1-label, last-2-label, …)
    candidate tails as a small array, equi-joined against the BROADCAST
    suffix table, longest match wins via a per-host max — no regex over
    the PSL, no UDF. The suffix table is the real PSL in production
    (~9k rows — broadcast-sized by nature). The candidate-tail depth is
    the table's own max(labels) (real PSL rules go 3-4 labels deep, e.g.
    pvt.k12.ma.us) — computed with one control-plane aggregate over the
    broadcast-sized dim, or passed explicitly via ``max_labels``."""
    from pyspark.sql import SparkSession

    if suffixes is None:
        spark = SparkSession.getActiveSession()
        suffixes = spark.createDataFrame(
            PUBLIC_SUFFIXES, "suffix string, labels int"
        )
        if max_labels is None:
            max_labels = max(k for _, k in PUBLIC_SUFFIXES)
    if max_labels is None:
        # one scalar off a broadcast-sized dim — control-plane, not data
        max_labels = suffixes.agg(F.max("labels")).first()[0] or 1
    parts = F.split(F.col("_h"), r"\.")
    n = F.size(parts)
    # candidates include the host-equals-suffix case (n == k): the PSL
    # longest-match rule must see it so e.g. host 'k12.ma.us' resolves to
    # the 3-label rule (→ NULL: nothing registrable) instead of falling
    # back to the shorter 'us' rule and emitting the bogus 'ma.us'
    tails = F.filter(
        F.array(
            *[
                F.when(
                    n >= k,
                    F.struct(
                        F.concat_ws(
                            ".", F.slice(parts, n - k + 1, k)
                        ).alias("suffix"),
                        F.lit(k).alias("k"),
                    ),
                )
                for k in range(1, max_labels + 1)
            ]
        ),
        lambda s: s.isNotNull(),
    )
    cand = (
        df.select(F.col(host_col).alias("_h"))
        .distinct()
        .select("_h", F.explode(tails).alias("_t"))
    )
    matched = (
        cand.join(
            F.broadcast(suffixes),
            (F.col("_t.suffix") == F.col("suffix"))
            & (F.col("_t.k") == F.col("labels")),
        )
        .groupBy("_h")
        .agg(F.max("labels").alias("_best"))
    )
    dim = matched.select("_h", "_best").withColumn(
        "etld1",
        F.when(
            F.size(F.split(F.col("_h"), r"\.")) >= F.col("_best") + 1,
            F.concat_ws(
                ".",
                F.slice(
                    F.split(F.col("_h"), r"\."),
                    F.size(F.split(F.col("_h"), r"\.")) - F.col("_best"),
                    F.col("_best") + 1,
                ),
            ),
        ),
    ).select("_h", "etld1")
    return df.join(
        F.broadcast(dim), df[host_col] == dim["_h"], "left"
    ).drop("_h")


def url_path(col: Column | str = "url") -> Column:
    """url → path component ('' ⇒ '/'); pure regexp in the scan, NULL-safe
    like url_host (malformed urls yield '/'). Query strings and fragments
    never count toward robots-style prefix rules."""
    c = F.col(col) if isinstance(col, str) else col
    p = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def prefix_policy(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    default_allow: bool = True,
) -> DataFrame:
    """Robots.txt-style longest-prefix URL policy — the allow/deny gate a
    Common-Crawl-scale fetch/refetch pipeline applies before spending a
    request (and a curation pipeline applies retroactively when a site's
    policy changes). ``rules`` is (host, prefix, allow) — the parsed form
    of per-host robots directives.

    Google robots semantics: the verdict comes from the LONGEST matching
    rule prefix; an allow/deny tie at the same length resolves to allow
    (least-restrictive); a url with no matching rule gets ``default_allow``.

    Scale shape: the rule table is small (one row per directive) and
    BROADCASTS; the join keys on host equality with the prefix test as a
    residual filter, so the corpus never shuffles — followed by ONE hash
    aggregate keyed by url (argmax over the ≤rules-per-host matches via a
    struct max). No window over the corpus, no regex over the rules."""
    host = url_host(url_col)
    base = df.select(
        F.col(url_col).alias("_u"), host.alias("_h"), url_path(url_col).alias("_p")
    )
    r = rules.select(
        F.col("host").alias("_rh"),
        F.col("prefix").alias("_rp"),
        F.col("allow").cast("int").alias("_ra"),
    )
    j = base.join(
        F.broadcast(r),
        (F.col("_h") == F.col("_rh")) & F.col("_p").startswith(F.col("_rp")),
        "left",
    )
    best = j.groupBy("_u", "_h").agg(
        F.max(
            F.struct(
                F.length("_rp").alias("len"),
                F.col("_ra").alias("allow"),
                F.col("_rp").alias("prefix"),
            )
        ).alias("_m")
    )
    return best.select(
        F.col("_u").alias(url_col),
        F.col("_h").alias("host"),
        F.coalesce(F.col("_m.allow") == 1, F.lit(default_allow)).alias("allowed"),
        F.col("_m.prefix").alias("rule_prefix"),
    )


# ---------------------------------------------------------------------------
# IPv4 / CIDR classification (the Beats `network` condition surface)
# ---------------------------------------------------------------------------

# named ranges the libbeat `network` condition accepts (conditions.go in the
# beats framework dep, /root/reference/go.mod:139); IPv4 subset — an IPv6 or
# otherwise unparseable address simply never matches (condition-false, the
# same NULL-is-false contract as every other condition leaf)
NAMED_NETWORKS: dict[str, list[str]] = {
    "loopback": ["127.0.0.0/8"],
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"],
    "multicast": ["224.0.0.0/4"],
    "link_local_unicast": ["169.254.0.0/16"],
    "unspecified": ["0.0.0.0/32"],
    "broadcast": ["255.255.255.255/32"],
}


def ipv4_to_long(col: Column | str) -> Column:
    """Dotted-quad IPv4 → uint32 as bigint; NULL for anything that is not
    four in-range decimal octets (IPv6, hostnames, junk). Pure Column
    arithmetic — split + four casts + three multiplies — so it codegens
    into the scan stage; at 100 TB the classification is a narrow map, no
    shuffle, no Python. Leading zeros are accepted ('010' reads as 10),
    matching lenient log-source formatting rather than strict RFC 791
    text representation."""
    c = F.col(col) if isinstance(col, str) else col
    shape = c.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    parts = F.split(c, r"\.")
    o = [F.get(parts, i).cast("bigint") for i in range(4)]
    in_range = (o[0] <= 255) & (o[1] <= 255) & (o[2] <= 255) & (o[3] <= 255)
    val = o[0] * 16777216 + o[1] * 65536 + o[2] * 256 + o[3]
    return F.when(shape & in_range, val)


def _parse_cidr(spec: str) -> tuple[int, int]:
    """'a.b.c.d/k' (or bare 'a.b.c.d' = /32) → (base & mask, mask) ints.
    Raises at COMPILE time on a malformed spec — config errors must fail
    on the driver before any Spark job, never per-row."""
    base, _, klen = spec.partition("/")
    k = int(klen) if klen else 32
    if not 0 <= k <= 32:
        raise ValueError(f"CIDR prefix length out of range: {spec!r}")
    octets = base.split(".")
    if len(octets) != 4 or not all(
        o.isdigit() and 0 <= int(o) <= 255 for o in octets
    ):
        raise ValueError(f"malformed IPv4 CIDR base: {spec!r}")
    b = 0
    for o in octets:
        b = b * 256 + int(o)
    mask = ((1 << 32) - 1) ^ ((1 << (32 - k)) - 1)
    return b & mask, mask


def network_match(col: Column | str, spec: str | list[str]) -> Column:
    """TRUE iff the IPv4 string is inside ANY of the given networks —
    each a CIDR ('10.42.0.0/15'), a bare address, or a libbeat range name
    from :data:`NAMED_NETWORKS` ('private', 'loopback', ...) plus
    'public' (= parseable and in none of the named ranges). Two-valued:
    an unparseable address is FALSE, never NULL, so the condition can sit
    directly in a filter and still push to the scan. All specs expand at
    compile time into mask-compare leaves OR'd together — one codegen'd
    expression, zero joins."""
    ip = ipv4_to_long(col)
    specs = [spec] if isinstance(spec, str) else list(spec)
    if not specs:
        raise ValueError("network_match needs at least one network spec")
    leaves: list[Column] = []
    for s in specs:
        if s == "public":
            named = [c for v in NAMED_NETWORKS.values() for c in v]
            inner = [
                (ip.bitwiseAND(F.lit(m)) == F.lit(b))
                for b, m in (_parse_cidr(c) for c in named)
            ]
            pub = ip.isNotNull()
            for cond in inner:
                pub = pub & ~cond
            leaves.append(pub)
        elif s in NAMED_NETWORKS:
            for c in NAMED_NETWORKS[s]:
                b, m = _parse_cidr(c)
                leaves.append(ip.bitwiseAND(F.lit(m)) == F.lit(b))
        else:
            b, m = _parse_cidr(s)
            leaves.append(ip.bitwiseAND(F.lit(m)) == F.lit(b))
    out = leaves[0]
    for leaf in leaves[1:]:
        out = out | leaf
    return F.coalesce(out, F.lit(False))


def ip_range_lookup(
    df: DataFrame,
    ip_col: str,
    blocks: DataFrame,
    start_col: str = "ip_start",
    end_col: str = "ip_end",
) -> DataFrame:
    """GeoIP-style enrichment: map an IPv4 string column onto a table of
    non-overlapping [ip_start, ip_end] integer blocks carrying metadata
    (country, ASN, ...). Left join — an unmatched or unparseable address
    keeps the row with NULL metadata (skip-on-missing, mapper.go:103-106
    semantics).

    Scale shape: a naive range join is a BroadcastNestedLoopJoin — every
    row linearly probes every block (3M blocks in a real GeoIP table ⇒
    dead). Instead each block EXPLODES onto the /16 bucket grid it spans
    (GeoIP blocks are almost all /16-or-smaller, so the explode is ~1×),
    and the fact side joins on its single /16 bucket — a broadcast HASH
    join keyed on bucket with the range test as a residual filter. Per
    row: one hash probe + a handful of residual compares, at any corpus
    size. Same bucketed-equi-join-over-theta pattern as range_join."""
    ipl = ipv4_to_long(ip_col)
    meta_cols = [
        c for c in blocks.columns if c not in (start_col, end_col)
    ]
    b = blocks.select(
        F.col(start_col).alias("_bs"),
        F.col(end_col).alias("_be"),
        F.explode(
            F.sequence(
                (F.col(start_col) / 65536).cast("bigint"),
                (F.col(end_col) / 65536).cast("bigint"),
            )
        ).alias("_bucket"),
        *meta_cols,
    )
    fact = df.withColumn("_ipl", ipl).withColumn(
        "_bucket", (F.col("_ipl") / 65536).cast("bigint")
    )
    return (
        fact.join(
            F.broadcast(b),
            (fact["_bucket"] == b["_bucket"])
            & (F.col("_ipl") >= F.col("_bs"))
            & (F.col("_ipl") <= F.col("_be")),
            "left",
        )
        .drop("_ipl", "_bucket", "_bs", "_be")
    )


# ---------------------------------------------------------------------------
# ECS-style user_agent.* classification — rule-ordered regex families
# ---------------------------------------------------------------------------

# (family, pattern) in PRECEDENCE order: first match wins, mirroring the
# rule lists UA parsers (ua-parser/uap-core style) evaluate top-down. Bots
# outrank browsers (a crawler advertising "Chrome/99" is still a bot).
UA_BROWSER_RULES = (
    ("bot", r"(?i)(bot|crawler|spider|slurp|curl|wget|python-requests)"),
    ("edge", r"Edg(e|A|iOS)?/"),
    ("opera", r"(OPR|Opera)/"),
    ("chrome", r"Chrome/"),
    ("firefox", r"Firefox/"),
    ("safari", r"Safari/"),
)
UA_OS_RULES = (
    ("android", r"Android"),
    ("ios", r"(iPhone|iPad|iPod)"),
    ("windows", r"Windows NT"),
    ("macos", r"Mac OS X"),
    ("linux", r"Linux"),
)


def _first_match(col: Column, rules, default: str = "other") -> Column:
    out = None
    for name, pat in rules:
        branch = (col.rlike(pat), F.lit(name))
        out = F.when(*branch) if out is None else out.when(*branch)
    return out.otherwise(F.lit(default))


def parse_user_agent(col: Column | str) -> Column:
    """ECS ``user_agent.*`` classification as one struct Column:
    (browser, os, is_bot, version) from a raw User-Agent string —
    rule-ordered regex families (first match wins, bots outrank browser
    tokens), version = the matched browser's major version where the
    token carries one. Pure codegen scan work: the rule list compiles to
    a when-chain of JVM regexes, no UDF, no join — the Beats/ES
    ``user_agent`` processor surface for the fields that matter in log
    analytics. NULL input ⇒ NULL struct."""
    c = F.col(col) if isinstance(col, str) else col
    browser = _first_match(c, UA_BROWSER_RULES)
    osf = _first_match(c, UA_OS_RULES)
    version = F.regexp_extract(
        c, r"(?:Edg[eA]?|OPR|Opera|Chrome|Firefox|Version)/(\d+)", 1
    )
    return F.when(
        c.isNotNull(),
        F.struct(
            browser.alias("browser"),
            osf.alias("os"),
            (browser == "bot").alias("is_bot"),
            F.when(version != "", version).alias("version"),
        ),
    )


def parse_url_parts(col: Column | str) -> Column:
    """ECS ``url.*`` decomposition as one struct Column: (scheme, host,
    port, path, query, fragment) via ``try_parse_url`` — the JVM parser,
    NULL parts for absent components, NULL-safe on malformed input (ANSI
    mode raises from plain parse_url). One scan projection; downstream
    query-param extraction composes with ``str_to_map`` on ``query``."""
    c = F.col(col) if isinstance(col, str) else col

    def part(p: str) -> Column:
        return F.try_parse_url(c, F.lit(p))

    # parse_url has no PORT part-name; the port rides AUTHORITY as
    # host:port — extract it there (NULL when absent)
    port = F.regexp_extract(part("AUTHORITY"), r":(\d+)$", 1)
    return F.struct(
        F.lower(part("PROTOCOL")).alias("scheme"),
        part("HOST").alias("host"),
        F.when(port != "", port).cast("int").alias("port"),
        part("PATH").alias("path"),
        part("QUERY").alias("query"),
        part("REF").alias("fragment"),
    )


# syslog numeric severity (RFC 5424 table 2) ⇔ canonical level names, plus
# the loose app-log aliases Beats configs actually meet
SEVERITY_NAMES = (
    "emergency", "alert", "critical", "error",
    "warning", "notice", "informational", "debug",
)
_LEVEL_ALIASES = {
    "emerg": 0, "emergency": 0, "panic": 0,
    "alert": 1,
    "crit": 2, "critical": 2, "fatal": 2,
    "err": 3, "error": 3, "severe": 3,
    "warn": 4, "warning": 4,
    "notice": 5,
    "info": 6, "informational": 6,
    "debug": 7, "trace": 7, "fine": 7,
}


def normalize_severity(col: Column | str) -> Column:
    """Map a free-form level token (INFO / err / SEVERE / 3 / ...) to the
    RFC 5424 severity struct (code, name): numeric strings 0-7 pass
    through, known aliases map case-insensitively, anything else ⇒ NULL
    struct (callers route unknowns to quarantine). A when-chain over a
    literal table — scan-stage codegen, no join needed at this alias-table
    size."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(F.trim(c))
    code = F.when(low.rlike(r"^[0-7]$"), low.cast("int"))
    for alias, sev in sorted(_LEVEL_ALIASES.items()):
        code = code.when(low == alias, F.lit(sev))
    names = F.array(*[F.lit(n) for n in SEVERITY_NAMES])
    return F.when(
        code.isNotNull(),
        F.struct(
            code.alias("code"),
            F.element_at(names, code + 1).alias("name"),
        ),
    )


def path_rollup(
    df: DataFrame,
    url_col: str = "url",
    max_depth: int = 3,
) -> DataFrame:
    """Hierarchical URL path-prefix rollup — page counts at every
    directory level up to ``max_depth`` per host: the crawl-ops /
    site-structure view ("/products holds 92% of example.com's pages")
    that drives per-section crawl budgets, template mining, and
    robots-rule candidates. A page at depth d contributes one row to
    each of its d ≤ max_depth ancestor prefixes (the classic ROLLUP
    lattice, built by explode so depth is a queryable column).

    Returns (host, depth, prefix, n_pages).

    Scale shape: split + prefix-array build are pure array expressions
    in the scan (guarded: zero-segment paths emit nothing — Spark's
    sequence(1, 0) DESCENDS), one posexplode bounded by ×max_depth, ONE
    hash aggregate keyed (host, depth, prefix) with map-side combine.
    Prefix strings shuffle at ≤ max_depth rows per page — the url
    column's own order of magnitude, never the corpus's."""
    host = url_host(url_col)
    segs = F.filter(
        F.split(url_path(url_col), "/"), lambda s: s != F.lit("")
    )
    prefixes = F.when(
        F.size(segs) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_depth), F.size(segs))),
            lambda i: F.concat(
                F.lit("/"), F.array_join(F.slice(segs, 1, i), "/")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(host.alias("host"), F.posexplode(prefixes).alias("_d", "prefix"))
        .select("host", (F.col("_d") + 1).cast("bigint").alias("depth"), "prefix")
        .groupBy("host", "depth", "prefix")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
