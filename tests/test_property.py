"""Property-based invariants (hypothesis): the byte-identity guarantees.

Each example batch runs one Spark job, so max_examples is kept small — the
value is the adversarial string shapes hypothesis finds (newlines, tabs,
regex metacharacters, unicode), not the example count.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from logsight_filebeat_spark.operators.parse import (
    compile_grok,
    multiline_join,
    with_grok_native,
    with_grok_vectorized,
)

# the flagship pattern (witness: group 1); one with no witness group, whose
# native match test stays an rlike; one whose witness sits behind an optional
# leading group
GROKS = [
    compile_grok("%{NOTSPACE:timestamp} %{WORD:level} %{GREEDYDATA:message}"),
    compile_grok("%{GREEDYDATA:msg}"),
    compile_grok("(?:%{WORD:a} )?%{NOTSPACE:b} %{GREEDYDATA:c}"),
]

# log-ish plus adversarial: whitespace variants, metacharacters, unicode
line_text = st.text(
    alphabet=st.sampled_from(
        list("abcZ019 .*+?()[]\\|^$-_:\t") + ["é", "軸"]
    ),
    max_size=24,
)
doc_text = st.lists(line_text, max_size=6).map("\n".join)


def _events_oracle(text: str) -> list[str]:
    """Single-threaded Python reimplementation of the multiline fold."""
    events: list[str] = []
    cur: str | None = None
    for line in text.split("\n"):
        if cur is not None and re.match(r"\s", line):
            cur = cur + "\n" + line
        else:
            if cur is not None:
                events.append(cur)
            cur = line
    if cur is not None:
        events.append(cur)
    return events


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_text, min_size=1, max_size=20))
def test_multiline_fast_path_matches_python_oracle(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.e for r in df.select(multiline_join("text").alias("e")).collect()]
    assert got == [_events_oracle(t) for t in texts]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), st.just(""), line_text), min_size=1, max_size=30))
def test_grok_native_and_vectorized_match_python_re(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    for grok in GROKS:
        oracle = re.compile(grok.regex, re.ASCII)  # RE2/Java class semantics
        native = {
            r.i: r.p
            for r in with_grok_native(df, "t", grok, "p").select("i", "p").collect()
        }
        vect = {
            r.i: r.p
            for r in with_grok_vectorized(df, "t", grok, "p").select("i", "p").collect()
        }
        groups = range(1, len(grok.fields) + 1)
        for i, t in enumerate(texts):
            m = None if t is None else oracle.search(t)
            expected = None if m is None else tuple(m.group(g) or "" for g in groups)
            got_n = None if native[i] is None else tuple(native[i])
            got_v = None if vect[i] is None else tuple(vect[i])
            assert got_n == expected, f"native {grok.source} {t!r}"
            assert got_v == expected, f"vectorized {grok.source} {t!r}"


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="ab c\t", max_size=30), min_size=2, max_size=15))
def test_jaccard_pairs_bounded_and_exact(spark, texts):
    from logsight_filebeat_spark.operators.dedup import jaccard_pairs, word_shingles

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pairs = jaccard_pairs(df, threshold=0.0).collect()
    # python oracle over the same shingle definition
    sh = {
        r.doc_id: set(r.s)
        for r in df.select("doc_id", word_shingles("text", 3).alias("s")).collect()
    }
    for r in pairs:
        a, b = sh[r.id_a], sh[r.id_b]
        assert a and b
        expected = round(len(a & b) / len(a | b), 6)
        assert r.jaccard == expected
        assert 0.0 <= r.jaccard <= 1.0


# ---------------------------------------------------------------------------
# substring-window and prefix-sum invariants
# ---------------------------------------------------------------------------

word = st.text(
    alphabet=st.sampled_from(list("abXY01.*()\\") + ["é"]), min_size=1, max_size=5
)
doc_words = st.lists(word, max_size=12).map(" ".join)


def _windows_oracle(text: str, width: int) -> list[str]:
    toks = [t for t in re.split(r"\s+", text, flags=re.ASCII) if t != ""]
    return [
        " ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)
    ]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_words, min_size=1, max_size=10))
def test_substring_windows_match_python_oracle(spark, texts):
    """Every (pos, window) pair equals the single-threaded reimplementation
    — adversarial whitespace/metacharacter/unicode tokens included."""
    import hashlib

    from logsight_filebeat_spark.operators.dedup import substring_windows

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r.id, r.pos): r.win_hash
        for r in substring_windows(df, width=3).collect()
    }
    want = {
        (i, p): hashlib.md5(w.encode()).hexdigest()
        for i, t in enumerate(texts)
        for p, w in enumerate(_windows_oracle(t, 3))
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=7),
)
def test_prefix_sum_matches_cumsum_any_bucket_size(spark, vals, bucket_size):
    """The two-phase distributed scan equals the sequential cumsum for any
    bucket size, including buckets of 1 and a single bucket."""
    from logsight_filebeat_spark.operators.packing import with_prefix_sum

    rows = list(enumerate(vals))
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    got = {
        r.doc_id: r.offset
        for r in with_prefix_sum(df, bucket_size=bucket_size).collect()
    }
    acc, want = 0, {}
    for i, v in rows:
        want[i] = acc
        acc += v
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(word, max_size=30).map(" ".join),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=0, max_value=3),
)
def test_chunking_reassembles_token_stream(spark, text, width, overlap):
    """Dropping each chunk's leading `overlap` tokens (except the first)
    and concatenating reproduces the doc's token stream exactly; every
    non-tail chunk has exactly `width` tokens."""
    from hypothesis import assume

    from logsight_filebeat_spark.functions.text import chunk_tokens

    assume(overlap < width)
    df = spark.createDataFrame([(text,)], "text string")
    [row] = df.select(chunk_tokens("text", width, overlap).alias("c")).collect()
    toks = [t for t in re.split(r"\s+", text, flags=re.ASCII) if t != ""]
    chunks = sorted(row.c, key=lambda c: c.idx)
    rebuilt = []
    for i, ch in enumerate(chunks):
        ctoks = ch.chunk_text.split(" ") if ch.chunk_text else []
        assert len(ctoks) == ch.n_tokens
        if i < len(chunks) - 1:
            assert ch.n_tokens == width
        rebuilt.extend(ctoks if i == 0 else ctoks[overlap:])
    assert rebuilt == toks


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),
              st.integers(min_value=0, max_value=10_000)),
    min_size=1, max_size=40,
))
def test_sessionize_matches_python_oracle(spark, events):
    """Session membership/counts equal a sequential sweep with the
    inclusive merge rule for arbitrary event layouts."""
    from datetime import datetime, timedelta

    from logsight_filebeat_spark.operators.aggregate import sessionize

    GAP = 600  # seconds
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(seconds=sec), uid, 1.0)
        for i, (uid, sec) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    got = sorted(
        ((r.user_id, r.session_start, r.session_end, r.n_events)
         for r in sessionize(df, gap="10 minutes").collect())
    )
    by_user: dict[int, list] = {}
    for _, ts, uid, _v in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
        sess = by_user.setdefault(uid, [])
        if sess and (ts - sess[-1][1]).total_seconds() <= GAP:
            sess[-1][1] = max(sess[-1][1], ts)
            sess[-1][2] += 1
        else:
            sess.append([ts, ts, 1])
    want = sorted(
        (uid, s[0], s[1], s[2]) for uid, ss in by_user.items() for s in ss
    )
    assert got == want


# ---------------------------------------------------------------------------
# heavy hitters: the verified-prefix invariant under adversarial budgets
# ---------------------------------------------------------------------------

hh_values = st.lists(
    st.sampled_from([f"v{i}" for i in range(12)]), min_size=1, max_size=120
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(values=hh_values, budget=st.integers(1, 6), parts=st.sampled_from([1, 3, 7]))
def test_heavy_hitters_always_a_correct_prefix(spark, values, budget, parts):
    """For ANY data, budget, and partitioning, the emitted rows must be a
    correct prefix of the exact (count desc, value asc) ranking — budgets
    too small may shorten the answer, never corrupt it."""
    from collections import Counter

    from logsight_filebeat_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([(v,) for v in values], "value string").repartition(
        parts
    )
    exact = sorted(Counter(values).items(), key=lambda kv: (-kv[1], kv[0]))
    got = [
        (r.value, r.cnt)
        for r in heavy_hitters(df, "value", k=5, budget=budget)
        .orderBy("rank")
        .collect()
    ]
    assert got == exact[: len(got)]


# ---------------------------------------------------------------------------
# dissect: full modifier surface vs an independent python execution model
# ---------------------------------------------------------------------------

def _dissect_oracle(d, sep: str, text: str):
    """Single-threaded reference of dissect_native's EXECUTION semantics
    (sequential leftmost delimiter finds, padding strip, append groups
    joined by (ordinal, appearance)) — independent of the Column path;
    only the compiled token structure is shared."""
    vals = []
    remaining = text
    for (_, _, padded, _), delim in zip(d.tokens, d.delimiters):
        idx = remaining.find(delim)
        if idx < 0:
            return None
        vals.append(remaining[:idx])
        remaining = remaining[idx + len(delim):]
        if padded:
            while remaining.startswith(delim):
                remaining = remaining[len(delim):]
    vals.append(remaining)
    groups: dict[str, list] = {}
    for i, ((kind, name, _, order), v) in enumerate(zip(d.tokens, vals)):
        if kind == "skip":
            continue
        groups.setdefault(name, []).append((order, i, v))
    out = {}
    for name, parts in groups.items():
        parts.sort(key=lambda p: (p[0], p[1]))
        out[name] = sep.join(p[2] for p in parts)
    return tuple(out[n] for n in d.fields)


_DELIMS = [" ", ",", "==", ";", "  "]


@st.composite
def _dissect_cases(draw):
    toks = ["%{f0}"]
    fields = ["f0"]
    for i in range(draw(st.integers(1, 4))):
        kind = draw(st.sampled_from(["field", "skip", "append", "ordered"]))
        pad = "->" if draw(st.booleans()) else ""
        if kind == "field":
            nm = f"f{len(fields)}"
            fields.append(nm)
            toks.append("%{" + nm + pad + "}")
        elif kind == "skip":
            toks.append("%{?s" + str(i) + pad + "}")
        elif kind == "append":
            toks.append("%{+" + draw(st.sampled_from(fields)) + pad + "}")
        else:
            nm = draw(st.sampled_from(fields + ["g0", "g1"]))
            if nm not in fields:
                fields.append(nm)
            toks.append(
                "%{+" + nm + "/" + str(draw(st.integers(1, 3))) + pad + "}"
            )
    pattern = toks[0]
    for t in toks[1:]:
        pattern += draw(st.sampled_from(_DELIMS)) + t
    sep = draw(st.sampled_from(["", " ", "|"]))
    texts = draw(
        st.lists(
            st.text(alphabet=list("ab ,;=\t") + ["é"], max_size=25),
            min_size=1,
            max_size=8,
        )
    )
    return pattern, sep, texts


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(_dissect_cases())
def test_dissect_native_matches_python_model(spark, case):
    """Random patterns over the FULL dissect modifier surface (skips,
    padding, unordered + ordered appends, multi-char delimiters) on
    adversarial inputs: the Column path must equal the independent python
    execution model row for row — including which rows fail (NULL)."""
    from logsight_filebeat_spark.operators.parse import (
        compile_dissect,
        with_dissect,
    )

    pattern, sep, texts = case
    d = compile_dissect(pattern, sep)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    got = {
        r.i: (None if r.parsed is None else tuple(r.parsed))
        for r in with_dissect(df, "t", d).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _dissect_oracle(d, sep, t), (pattern, sep, t)


# ---------------------------------------------------------------------------
# CUSUM: window form ≡ the classic recursion, any series
# ---------------------------------------------------------------------------

@given(
    counts=st.lists(st.integers(min_value=0, max_value=50), min_size=1,
                    max_size=24)
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cusum_window_form_equals_recursion(spark, counts):
    import datetime as dt

    from logsight_filebeat_spark.operators.aggregate import (
        cusum_changepoints,
    )

    base = dt.datetime(2026, 1, 1)
    rows = [
        ("k", base + dt.timedelta(hours=h), i)
        for h, n in enumerate(counts)
        for i in range(n)
    ]
    if not rows:  # all-zero series has no events to aggregate
        return
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, i int")
    got = {
        r["hour"]: (r["n"], r["cusum_scaled"], r["alarm"])
        for r in cusum_changepoints(df, "event_type", "ts").collect()
    }
    # python reference over the DENSIFIED series (first..last event hour)
    lo = min(h for h, n in enumerate(counts) if n > 0)
    hi = max(h for h, n in enumerate(counts) if n > 0)
    dense = counts[lo : hi + 1]
    t, total = len(dense), sum(dense)
    s = 0
    for off, n in enumerate(dense):
        s = max(0, s + (n * t - total))
        hour = base + dt.timedelta(hours=lo + off)
        assert got[hour] == (n, s, 10 * s > 30 * total)
    assert len(got) == len(dense)


# ---------------------------------------------------------------------------
# winsorize: thresholds match the numpy-free exact rank definition
# ---------------------------------------------------------------------------

@given(
    vals=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=3,
                  max_size=60),
    qs=st.tuples(
        st.floats(min_value=0.01, max_value=0.45),
        st.floats(min_value=0.55, max_value=1.0),
    ),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winsorize_matches_exact_rank_definition(spark, vals, qs):
    import math

    from logsight_filebeat_spark.operators.sampling import winsorize

    q_lo, q_hi = qs
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [
        (r["v"], r["v_w"]) for r in winsorize(df, "v", q_lo, q_hi).collect()
    ]
    sv, n = sorted(vals), len(vals)

    def thresh(q):
        # smallest value whose cumulative count >= ceil(q*n)
        need = math.ceil(q * n)
        return sv[max(need, 1) - 1]

    lo, hi = thresh(q_lo), thresh(q_hi)
    for v, w in got:
        assert w == min(max(v, lo), hi)


# ---------------------------------------------------------------------------
# BFS: min distances match a python BFS on any random digraph
# ---------------------------------------------------------------------------

@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1, max_size=40,
    ),
    n_seeds=st.integers(1, 3),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bfs_matches_python_bfs(spark, edges, n_seeds):
    from collections import deque

    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.webgraph import bfs_distances

    edges = [(f"n{a}", f"n{b}") for a, b in edges if a != b]
    if not edges:
        return
    nodes = sorted({x for e in edges for x in e})
    seeds = nodes[:n_seeds]
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in seeds}
    dq = deque(seeds)
    max_depth = 4
    while dq:
        u = dq.popleft()
        if dist[u] >= max_depth:
            continue
        for v in sorted(adj.get(u, ())):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    try:
        got = dict(
            bfs_distances(
                spark.createDataFrame(edges, "src string, dst string"),
                spark.createDataFrame([(s,) for s in seeds], "node string"),
                max_depth=max_depth,
            ).collect()
        )
        assert got == dist
    finally:
        release_persisted()


# ---------------------------------------------------------------------------
# MMR: distributed greedy ≡ single-threaded greedy, any candidate set
# ---------------------------------------------------------------------------

@given(
    rels=st.lists(st.integers(0, 9), min_size=1, max_size=8),
    simpairs=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7),
                  st.integers(1, 99)),
        max_size=10,
    ),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mmr_matches_python_greedy(spark, rels, simpairs):
    from logsight_filebeat_spark.functions.caching import release_persisted
    from logsight_filebeat_spark.operators.retrieval import mmr_rerank

    n = len(rels)
    cand = [(i, rels[i]) for i in range(n)]
    sims = {}
    for a, b, s in simpairs:
        if a < n and b < n and a != b:
            sims[(a, b)] = s / 100.0
            sims[(b, a)] = s / 100.0
    lam, k = 0.5, 4
    # python greedy oracle
    sel, remaining = [], dict(cand)
    while remaining and len(sel) < k:
        best = None
        for i, r in sorted(remaining.items()):
            ms = max((sims.get((i, j), 0.0) for j in sel), default=0.0)
            score = lam * r - (1 - lam) * ms
            if best is None or score > best[1]:
                best = (i, score)
        sel.append(best[0])
        del remaining[best[0]]
    cdf = spark.createDataFrame(
        [("q", i, r) for i, r in cand],
        "query_id string, doc_id bigint, rel bigint",
    )
    sdf = spark.createDataFrame(
        [("q", a, b, v) for (a, b), v in sims.items()] or
        [("_none", -1, -1, 0.0)],
        "query_id string, doc_id bigint, other_id bigint, sim double",
    )
    try:
        got = [
            r["doc_id"]
            for r in mmr_rerank(cdf, sdf, k=k, lam=lam)
            .orderBy("rank").collect()
        ]
        assert got == sel
    finally:
        release_persisted()


# ---------------------------------------------------------------------------
# KMV set ops: exact below k on any pair of random sets
# ---------------------------------------------------------------------------

@given(
    a=st.sets(st.integers(0, 200), min_size=1, max_size=40),
    b=st.sets(st.integers(0, 200), min_size=1, max_size=40),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kmv_set_ops_exact_below_k_property(spark, a, b):
    from logsight_filebeat_spark.operators.sketches import (
        kmv_hashes,
        kmv_set_ops,
    )

    da = spark.createDataFrame([(f"v{x}",) for x in a], "x string")
    db = spark.createDataFrame([(f"v{x}",) for x in b], "x string")
    r = kmv_set_ops(
        kmv_hashes(da, "x", k=256), kmv_hashes(db, "x", k=256), k=256
    ).first()
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert r["union_est"] == len(a | b)
    assert r["inter_est"] == len(a & b)


# ---------------------------------------------------------------------------
# reciprocity: counts match a python model on any random digraph
# ---------------------------------------------------------------------------

@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_reciprocity_matches_python(spark, edges):
    from logsight_filebeat_spark.operators.webgraph import reciprocity

    e = sorted((f"n{a}", f"n{b}") for a, b in edges if a != b)
    if not e:
        return
    eset = set(e)
    exp = {}
    for s, d in e:
        n_out, n_rec = exp.get(s, (0, 0))
        exp[s] = (n_out + 1, n_rec + ((d, s) in eset))
    got = {
        r["node"]: (r["n_out"], r["n_recip"])
        for r in reciprocity(
            spark.createDataFrame(e, "src string, dst string")
        ).collect()
    }
    assert got == exp


# ---------------------------------------------------------------------------
# soft dedup: singletons always survive; survivors deterministic; every
# cluster's survivor count matches the hash-mod rule exactly
# ---------------------------------------------------------------------------

@given(
    texts=st.lists(st.integers(0, 5), min_size=1, max_size=30),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_soft_dedup_matches_hash_mod_rule(spark, texts):
    import hashlib

    from logsight_filebeat_spark.operators.dedup import soft_dedup_sample

    rows = [(i, f"text {t}") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(r["doc_id"] for r in soft_dedup_sample(df).collect())
    from collections import Counter

    counts = Counter(t for _, t in rows)

    def h32(s):
        return int(hashlib.md5(f"softdedup:{s}".encode()).hexdigest()[:8], 16)

    exp = sorted(
        i for i, t in rows if h32(str(i)) % counts[t] == 0
    )
    assert got == exp
    # singletons (dup_count 1) always survive
    singles = [i for i, t in rows if counts[t] == 1]
    assert set(singles) <= set(got)


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 4), st.sampled_from([" ", "  ", "\t"]),
                  st.booleans(), st.integers(0, 9)),
        min_size=1, max_size=20,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_normalized_dedup_best_matches_python_model(spark, docs):
    import re

    from logsight_filebeat_spark.operators.dedup import normalized_dedup_best

    rows = []
    for i, (word, ws, up, score) in enumerate(docs):
        t = f"word{word}{ws}tail"
        rows.append((i, t.upper() if up else t, score))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, n_chars bigint"
    )
    got = sorted(r["doc_id"] for r in normalized_dedup_best(df).collect())
    groups: dict[str, list] = {}
    for i, t, sc in rows:
        key = re.sub(r"\s+", " ", t.lower()).strip()
        groups.setdefault(key, []).append((-sc, i))
    exp = sorted(min(v)[1] for v in groups.values())
    assert got == exp
