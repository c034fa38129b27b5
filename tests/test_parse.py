"""Multiline join + grok: native vs vectorized vs single-threaded oracle.

The byte-identity invariant (BASELINE.json input_hint): extracted text per
row from the vectorized UDF must equal the plain Python `re` oracle
byte-for-byte, and the native Column path must agree too.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logsight_filebeat_spark.operators.parse import (
    compile_grok,
    explode_multiline,
    multiline_join,
    with_grok_native,
    with_grok_vectorized,
)
from logsight_filebeat_spark.sources.pages import pages

PAT = "%{NOTSPACE:timestamp} %{WORD:level} %{GREEDYDATA:message}"


def test_compile_grok_fields_and_regex():
    g = compile_grok(PAT)
    assert g.fields == ("timestamp", "level", "message")
    m = g.python.search("2024-03-01T10:00:00Z INFO hello world")
    assert m.group(1) == "2024-03-01T10:00:00Z"
    assert m.group(2) == "INFO"
    assert m.group(3) == "hello world"


def test_compile_grok_unknown_base_errors():
    with pytest.raises(ValueError):
        compile_grok("%{NOPE:x}")


def test_compile_grok_no_fields_errors():
    with pytest.raises(ValueError):
        compile_grok("%{WORD} plain")


def test_multiline_join_merges_continuations(spark):
    text = "line one\n    at Stack.frame(x:1)\nline two\n\tindented follow"
    df = spark.createDataFrame([(text,)], ["text"])
    events = df.select(multiline_join("text").alias("e")).first().e
    assert events == [
        "line one\n    at Stack.frame(x:1)",
        "line two\n\tindented follow",
    ]


def test_multiline_leading_continuation_is_own_event(spark):
    # a continuation with no preceding event starts its own event
    df = spark.createDataFrame([("  orphan\nreal line",)], ["text"])
    events = df.select(multiline_join("text").alias("e")).first().e
    assert events == ["  orphan", "real line"]


def test_explode_multiline_indexes(spark):
    df = spark.createDataFrame([("a\nb\n  cont",)], ["text"])
    rows = explode_multiline(df).select("event_idx", "event_text").collect()
    assert [(r.event_idx, r.event_text) for r in rows] == [(0, "a"), (1, "b\n  cont")]


def test_grok_witness_is_a_mandatory_non_empty_top_level_group():
    from logsight_filebeat_spark.entry_queries_corpus import GROK_MULTI_PATTERNS
    from logsight_filebeat_spark.plans.pipeline import DEFAULT_GROK

    for pattern in (DEFAULT_GROK, *GROK_MULTI_PATTERNS, "%{COMBINEDAPACHELOG}"):
        assert compile_grok(pattern).witness == 1, pattern
    cases = {
        "%{GREEDYDATA:msg}": None,  # can match the empty string
        "(?:%{WORD:a} )?%{NOTSPACE:b} %{GREEDYDATA:c}": 2,  # optional lead
        "%{SPACE:s}x%{WORD:w}": 2,  # group 1 has minimum width 0
        "(?:%{WORD:a} )+%{GREEDYDATA:b}": None,  # repeated, then empty
        "(%{WORD:a}|%{INT:b})": None,  # alternation at the top level
        r"req=(%{WORD:req})? %{GREEDYDATA:rest}": None,
    }
    for pattern, witness in cases.items():
        assert compile_grok(pattern).witness == witness, pattern


def test_vectorized_grok_null_only_batch_is_null_struct(spark):
    """An Arrow batch holding only NULL text reaches pyarrow as a null-typed
    array unless the conversion names the type; extract_regex has no
    kernel for that, so the task failed instead of returning NULL."""
    from logsight_filebeat_spark.operators.parse import (
        compile_grok_set,
        with_grok_set_vectorized,
    )

    df = spark.createDataFrame([(None,), (None,)], "t string")
    single = with_grok_vectorized(df, "t", compile_grok(PAT)).collect()
    chain = with_grok_set_vectorized(
        df, "t", compile_grok_set([PAT, "%{GREEDYDATA:rest}"])
    ).collect()
    assert [r.parsed for r in single] == [None, None]
    assert [r.parsed for r in chain] == [None, None]


def test_grok_native_no_match_is_null_struct(spark):
    g = compile_grok(PAT)
    df = spark.createDataFrame([("",), ("oneword",)], ["t"])
    rows = with_grok_native(df, "t", g).select("parsed").collect()
    assert rows[0].parsed is None and rows[1].parsed is None


def test_byte_identity_native_vs_vectorized_vs_oracle(spark):
    """The input_hint invariant on real generated pages."""
    g = compile_grok(PAT)
    df = explode_multiline(pages(spark, 400, seed=7), "text", "event_text")
    native = (
        with_grok_native(df, "event_text", g)
        .select("url", "event_idx", "event_text", "parsed")
        .collect()
    )
    vect = (
        with_grok_vectorized(df, "event_text", g)
        .select("url", "event_idx", "event_text", "parsed")
        .collect()
    )
    key = lambda r: (r.url, r.event_idx)
    native.sort(key=key)
    vect.sort(key=key)
    assert len(native) == len(vect) > 400

    oracle_pat = re.compile(g.regex)
    for n, v in zip(native, vect):
        assert key(n) == key(v)
        m = oracle_pat.search(n.event_text)
        expected = None if m is None else tuple((m.group(i) or "") for i in (1, 2, 3))
        got_n = None if n.parsed is None else tuple(n.parsed)
        got_v = None if v.parsed is None else tuple(v.parsed)
        assert got_n == expected, f"native mismatch on {n.event_text!r}"
        assert got_v == expected, f"vectorized mismatch on {v.event_text!r}"


def test_pages_deterministic_across_partitioning(spark):
    a = pages(spark, 300, seed=42, partitions=1).orderBy("url").collect()
    b = pages(spark, 300, seed=42, partitions=7).orderBy("url").collect()
    assert a == b


def test_pages_schema_and_failure_shapes(spark):
    df = pages(spark, 2000, seed=42)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert dict(df.dtypes)["html"] == "binary"
    # fixture path shapes exist: no-inner-segment and empty-capture urls
    assert df.filter(F.col("url").rlike("https://[^/]+/path\\?id=")).count() > 0
    assert df.filter(F.col("url").contains("/path//here")).count() > 0
    # failure rows exist: bogus level and date-only timestamps
    assert df.filter(F.col("text").contains(" bogus ")).count() > 0
    # html wraps text
    r = df.select(F.decode("html", "UTF-8").alias("h"), "text").first()
    assert r.text in r.h


def _ref_multiline(text, pattern, negate, match):
    """Single-threaded reference of the Beats multiline semantics."""
    pat = re.compile(pattern)

    def cont(line):
        m = bool(pat.search(line))
        return (not m) if negate else m

    events, cur = [], None
    for x in text.split("\n"):
        if match == "after":
            if cont(x) and cur is not None:
                cur += "\n" + x
            else:
                if cur is not None:
                    events.append(cur)
                cur = x
        else:  # before: line joins the open event; failing test closes it
            cur = x if cur is None else cur + "\n" + x
            if not cont(x):
                events.append(cur)
                cur = None
    if cur is not None:
        events.append(cur)
    return events


def test_multiline_negate_and_before_modes(spark):
    texts = [
        "2024-01-01 start\ncont line\nanother\n2024-01-02 next\ntail",
        "no date at all\nstill none",
        "2024-01-01 only",
        "cmd one \\\narg two \\\narg three\nplain\ndangling \\",
        "",
        "\\\n\\",
    ]
    configs = [
        (r"^\d{4}-", True, "after"),   # event starts at date lines
        (r"^\d{4}-", False, "after"),  # date lines append (degenerate but legal)
        (r"\\$", False, "before"),     # trailing backslash continues
        (r"\\$", True, "before"),      # inverted terminator
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    for pattern, negate, match in configs:
        got = {
            r.i: r.e
            for r in df.select(
                "i", multiline_join("text", pattern, negate, match).alias("e")
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == _ref_multiline(t, pattern, negate, match), (
                pattern, negate, match, t,
            )


def test_multiline_bad_match_mode_raises():
    with pytest.raises(ValueError):
        multiline_join("text", match="sideways")


def test_multiline_fast_path_equals_general_fold(spark):
    """The default-continuation boundary-split fast path must produce exactly
    the general fold's events — including empty lines, trailing newlines, and
    leading continuations. `^[\\s]` is semantically identical to the default
    `^\\s` but a different string, so it takes the fold path."""
    texts = [
        "a\nb\nc",
        "a\n  cont\nb",
        "a\n\nb",          # empty line is its own event, not a continuation
        "a\n",              # trailing newline → trailing empty event
        "  lead\nb",        # leading continuation starts its own event
        "only",
        "",
        "a\n\tcont\n  more\nb\n \n x",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    fast = [r.e for r in df.select(multiline_join("text").alias("e")).collect()]
    fold = [
        r.e
        for r in df.select(multiline_join("text", r"^[\s]").alias("e")).collect()
    ]
    assert fast == fold


def test_decapture_keeps_groups_field_positional():
    """Literal parens in pattern or vocab must not shift the field→group
    mapping — _decapture rewrites them non-capturing (RE2 dialect: no
    backreferences, so this is semantics-preserving)."""
    g = compile_grok(r"(%{WORD:a}) x %{GREEDYDATA:b}")
    assert re.compile(g.regex).groups == 2  # user paren did not capture
    m = g.python.search("hello x world etc")
    assert (m.group(1), m.group(2)) == ("hello", "world etc")
    # extra vocab with capturing parens is neutralized too
    g2 = compile_grok("%{PAIR:p}", {"PAIR": r"(\w+)=(\w+)"})
    assert re.compile(g2.regex).groups == 1
    assert g2.python.search("k=v").group(1) == "k=v"
    # parens inside character classes stay literal
    g3 = compile_grok(r"%{WORD:w} [()]")
    assert g3.python.search("hi (").group(1) == "hi"


def test_grok_optional_group_vectorized_matches_native(spark):
    """ADVICE r01: a pattern whose field group is optional used to null whole
    matched rows on the Arrow path (NaN-in-group-1 read as no-match). The
    sentinel whole-match group must agree with the native path: matched row
    with a non-participating group ⇒ '' field, unmatched row ⇒ NULL."""
    g = compile_grok(r"req=(%{WORD:req})? %{GREEDYDATA:rest}")
    df = spark.createDataFrame(
        [(1, "req=abc tail text"), (2, "req= tail text"), (3, "no match here")],
        "i long, t string",
    )
    native = {r.i: r.parsed for r in with_grok_native(df, "t", g).collect()}
    vect = {r.i: r.parsed for r in with_grok_vectorized(df, "t", g).collect()}
    assert native == vect
    assert tuple(native[1]) == ("abc", "tail text")
    assert tuple(native[2]) == ("", "tail text")  # optional group absent ⇒ ''
    assert native[3] is None


def test_grok_re2_engine_selection_and_fallback_parity(spark):
    """The vectorized path runs pyarrow RE2 (C) when the pattern is
    RE2-compilable; patterns needing lookaround fall back to Python `re`.
    Both engines must agree with the native Column path... except that
    lookaround isn't Java-regex-expressible either, so parity for the
    fallback is pinned against the Python oracle directly."""
    g = compile_grok(PAT)
    assert g.arrow_re2  # the default pipeline pattern takes the C path
    assert "(?P<g0>" in g.named_regex

    # lookahead: RE2 rejects ⇒ probed False ⇒ Python fallback engages
    g2 = compile_grok("%{NEXTNUM:w} %{GREEDYDATA:rest}",
                      {"NEXTNUM": r"\w+(?=\d)"})
    assert not g2.arrow_re2
    df = spark.createDataFrame(
        [(1, "abc1 tail"), (2, "abc tail"), (3, "x9 y")], "i long, t string"
    )
    got = {r.i: r.parsed for r in with_grok_vectorized(df, "t", g2).collect()}
    oracle = g2.python
    for i, t in ((1, "abc1 tail"), (2, "abc tail"), (3, "x9 y")):
        m = oracle.search(t)
        exp = None if m is None else tuple(x or "" for x in m.groups())
        assert (None if got[i] is None else tuple(got[i])) == exp


def test_compile_grok_set_errors_and_fields():
    from logsight_filebeat_spark.operators.parse import compile_grok_set

    with pytest.raises(ValueError):
        compile_grok_set([])
    with pytest.raises(ValueError):
        compile_grok_set(["%{WORD:a}", "%{NOPE:x}"])  # bad member raises
    gs = compile_grok_set(["%{WORD:a} %{WORD:b}", "%{INT:b} %{WORD:c}"])
    assert gs.fields == ("a", "b", "c")  # union, first-appearance order


def test_grok_set_first_match_wins_and_union_schema(spark):
    from logsight_filebeat_spark.operators.parse import (
        compile_grok_set,
        with_grok_set_native,
    )

    gs = compile_grok_set(
        [
            "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:msg}",
            "%{IP:client} %{WORD:method} %{INT:status}",
            # pattern 2 would ALSO match pattern 1's lines (WORD matches
            # 'INFO') — precedence must keep pattern 1's parse
            "%{NOTSPACE:tok} %{GREEDYDATA:msg}",
        ]
    )
    df = spark.createDataFrame(
        [
            (1, "2024-03-01T10:00:00Z INFO all fine"),
            (2, "10.1.2.3 GET 200"),
            (3, "justtwo words here"),
            (4, ""),
        ],
        "i long, t string",
    )
    out = with_grok_set_native(df, "t", gs)
    rows = {r.i: r for r in out.select("i", "parsed", "parsed_pattern").collect()}
    assert rows[1].parsed_pattern == 0
    assert rows[1].parsed.ts == "2024-03-01T10:00:00Z"
    assert rows[1].parsed.level == "INFO"
    assert rows[1].parsed.client is None  # union field absent for pattern 0
    assert rows[2].parsed_pattern == 1
    assert rows[2].parsed.client == "10.1.2.3"
    assert rows[2].parsed.status == "200"
    assert rows[3].parsed_pattern == 2
    assert rows[3].parsed.tok == "justtwo"
    assert rows[3].parsed.msg == "words here"
    assert rows[4].parsed is None and rows[4].parsed_pattern is None


def test_grok_set_mixed_engines_vectorized_equals_native(spark):
    """A set mixing an RE2-compilable pattern with a lookahead pattern
    (Python-re fallback) must still chain correctly on the Arrow path —
    per-pattern engine choice is invisible in the results."""
    from logsight_filebeat_spark.operators.parse import (
        compile_grok_set,
        with_grok_set_native,
        with_grok_set_vectorized,
    )

    gs = compile_grok_set(
        ["%{IP:client} %{INT:status}", "%{BANGWORD:w}! %{GREEDYDATA:rest}"],
        {"BANGWORD": r"\w+(?=!)"},
    )
    assert gs.patterns[0].arrow_re2 and not gs.patterns[1].arrow_re2
    df = spark.createDataFrame(
        [(1, "10.0.0.1 200"), (2, "abc! tail"), (3, "nothing matches")],
        "i long, t string",
    )
    native = {
        r.i: (r.parsed, r.parsed_pattern)
        for r in with_grok_set_native(df, "t", gs).collect()
    }
    vect = {
        r.i: (r.parsed, r.parsed_pattern)
        for r in with_grok_set_vectorized(df, "t", gs).collect()
    }
    assert native == vect
    assert native[1][1] == 0 and native[2][1] == 1 and native[3][1] is None


def test_grok_set_vectorized_equals_native(spark):
    from logsight_filebeat_spark.operators.parse import (
        compile_grok_set,
        with_grok_set_native,
        with_grok_set_vectorized,
    )

    gs = compile_grok_set(
        [
            "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:msg}",
            "%{IP:client} %{WORD:method} %{URIPATH:path} %{INT:status}",
        ]
    )
    rows = []
    for i in range(120):
        if i % 3 == 0:
            rows.append((i, f"2024-03-{i % 27 + 1:02d}T10:11:12Z ERROR boom {i}"))
        elif i % 3 == 1:
            rows.append((i, f"10.0.{i % 200}.7 GET /api/v{i % 10} 200"))
        else:
            rows.append((i, f"~~ noise line {i}"))
    df = spark.createDataFrame(rows, "i long, t string").repartition(4)
    native = {
        r.i: (r.parsed, r.parsed_pattern)
        for r in with_grok_set_native(df, "t", gs).collect()
    }
    vect = {
        r.i: (r.parsed, r.parsed_pattern)
        for r in with_grok_set_vectorized(df, "t", gs).collect()
    }
    assert native == vect
    assert sum(1 for _, p in native.values() if p is None) == 40


def test_compile_dissect_and_errors():
    from logsight_filebeat_spark.operators.parse import CompiledDissect, compile_dissect

    d = compile_dissect("%{ts} %{level} - %{msg}")
    assert d.fields == ("ts", "level", "msg")
    assert d.delimiters == (" ", " - ")
    for bad in ("no fields", "lit %{a}", "%{a} trailing", "%{a}%{b}", "%{a} %{a}"):
        with pytest.raises(ValueError):
            compile_dissect(bad)


def test_dissect_modifiers_skip_and_append(spark):
    from logsight_filebeat_spark.operators.parse import compile_dissect, with_dissect

    d = compile_dissect("%{date} %{+date} %{?junk} %{} %{rest}", append_separator=" ")
    assert d.fields == ("date", "rest")
    assert [k for k, _, _, _ in d.tokens] == ["field", "append", "skip", "skip", "field"]
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00 pid=7 INFO all good"), (2, "too few")],
        "i long, t string",
    )
    rows = {r.i: r.parsed for r in with_dissect(df, "t", d).collect()}
    assert rows[1].date == "2024-01-01 10:00:00"  # appended with separator
    assert rows[1].rest == "all good"
    assert not hasattr(rows[1], "junk")
    assert rows[2] is None  # missing delimiters ⇒ row failure

    for bad in ("%{+x} %{y}", "%{+} %{y}", "%{x} %{x}"):
        with pytest.raises(ValueError):
            compile_dissect(bad)


def test_dissect_native_semantics(spark):
    from logsight_filebeat_spark.operators.parse import compile_dissect, with_dissect

    d = compile_dissect("%{ts} %{level} %{msg}")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01T00:00:00Z INFO all good here"),
            (2, "one two"),           # missing second delimiter → row fails
            (3, " leading space x"),  # first capture is empty, still a match
            (4, "a b c\nd e"),        # remainder keeps the newline
        ],
        "i long, t string",
    )
    rows = {r.i: r.parsed for r in with_dissect(df, "t", d).collect()}
    assert tuple(rows[1]) == ("2024-01-01T00:00:00Z", "INFO", "all good here")
    assert rows[2] is None
    assert tuple(rows[3]) == ("", "leading", "space x")
    assert tuple(rows[4]) == ("a", "b", "c\nd e")


# ---------------------------------------------------------------------------
# round 3: multiline guards, dissect padding/pairs, grok composites
# ---------------------------------------------------------------------------


def _py_multiline_after(text, cont_re, max_lines=None, flush=None):
    """Single-threaded reference for the guarded after-mode fold."""
    import re as _re

    cont = _re.compile(cont_re)
    flush_p = _re.compile(flush) if flush else None
    events, cur, n = [], None, 0
    for line in text.split("\n"):
        if cur is not None and cont.search(line):
            if max_lines is None or n < max_lines:
                cur = cur + "\n" + line
                n += 1
        else:
            if cur is not None:
                events.append(cur)
            cur, n = line, 1
        if flush_p is not None and flush_p.search(line):
            events.append(cur)
            cur, n = None, 0
    if cur is not None:
        events.append(cur)
    return events


def test_multiline_max_lines_truncates_without_splitting(spark):
    # 1 start + 5 continuations; max_lines=3 keeps the first 3 lines and
    # DISCARDS the rest (Beats truncation) — no second event appears
    text = "start\n c1\n c2\n c3\n c4\nnext"
    df = spark.createDataFrame([(text,)], ["text"])
    events = df.select(
        multiline_join("text", max_lines=3).alias("e")
    ).first().e
    assert events == ["start\n c1\n c2", "next"]


def test_multiline_flush_pattern_closes_event(spark):
    # the END line flushes its event; the following continuation has no open
    # event so it starts its own (same as a leading continuation)
    text = "begin\n step\n END\n orphan\nnext"
    df = spark.createDataFrame([(text,)], ["text"])
    events = df.select(
        multiline_join("text", flush_pattern="END").alias("e")
    ).first().e
    assert events == ["begin\n step\n END", " orphan", "next"]


def test_multiline_guards_match_reference_fold(spark):
    texts = [
        "a\n b\n c\n d",
        "x\n 1\n 2\n 3\n 4\n 5\ny\n z",
        "only",
        "",
        " lead\n more\nreal",
        "e\n END\n after\n END2\nf",
        "a\n\nb\n c\n",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for ml, fl in ((2, None), (None, "END"), (2, "END"), (1, None)):
        got = [
            r.e
            for r in df.select(
                multiline_join("text", max_lines=ml, flush_pattern=fl).alias("e")
            ).collect()
        ]
        want = [_py_multiline_after(t, r"^\s", ml, fl) for t in texts]
        assert got == want, (ml, fl, got, want)


def test_multiline_before_mode_max_lines(spark):
    # before-mode: '\' continues; cap at 2 lines per event
    text = "a\\\nb\\\nc\\\nd\ne"
    df = spark.createDataFrame([(text,)], ["text"])
    events = df.select(
        multiline_join("text", r"\\$", match="before", max_lines=2).alias("e")
    ).first().e
    # a\,b\ kept; c\ discarded; d terminates; e is its own event
    assert events == ["a\\\nb\\", "e"]


def test_multiline_guard_validation():
    with pytest.raises(ValueError):
        multiline_join("text", max_lines=0)
    with pytest.raises(ValueError):
        multiline_join("text", match="before", flush_pattern="x")
    with pytest.raises(Exception):
        multiline_join("text", flush_pattern="(unclosed")


def test_dissect_padding_skips_repeated_delimiter(spark):
    from logsight_filebeat_spark.operators.parse import compile_dissect, with_dissect

    d = compile_dissect("%{ts->} %{level} %{msg}")
    df = spark.createDataFrame(
        [(1, "2024-01-01   INFO all good"), (2, "t INFO x")],
        "i long, t string",
    )
    rows = {r.i: r.parsed for r in with_dissect(df, "t", d).collect()}
    assert tuple(rows[1]) == ("2024-01-01", "INFO", "all good")
    assert tuple(rows[2]) == ("t", "INFO", "x")  # single delimiter unaffected


def test_dissect_reference_pairs_emit_map(spark):
    from logsight_filebeat_spark.operators.parse import (
        PAIRS_FIELD,
        compile_dissect,
        with_dissect,
    )

    d = compile_dissect("%{*k1}=%{&k1} %{*k2}=%{&k2} %{rest}")
    assert d.fields == ("rest", PAIRS_FIELD)
    df = spark.createDataFrame([(1, "host=web-01 port=443 tail")], "i long, t string")
    [r] = with_dissect(df, "t", d).collect()
    assert r.parsed.rest == "tail"
    assert dict(r.parsed[PAIRS_FIELD]) == {"host": "web-01", "port": "443"}


def test_dissect_new_modifier_validation():
    from logsight_filebeat_spark.operators.parse import compile_dissect

    for bad in (
        "%{*k} %{rest}",          # key without value
        "%{&k} %{rest}",          # value without key
        "%{*k} %{&k} %{*k} %{&x}",  # repeated key, mismatched names
        "%{+x/2} %{x}",           # plain base AFTER the group opened
        "%{+x/0} %{y}",           # ordinal must be >= 1
        "%{+x/a} %{y}",           # ordinal must be an integer
        "%{x/2} %{y}",            # /N only valid on append tokens
        "%{+y} %{y}",             # UNORDERED append may not open a group
    ):
        with pytest.raises(ValueError):
            compile_dissect(bad)


def test_dissect_ordered_appends(spark):
    """%{+name/N} joins by ordinal, not appearance (the documented
    dissect example: /2 /4 /1 /3 over 'John Smith Dr. Jr.' reads
    'Dr. John Jr. Smith'); plain/unordered members carry implicit
    ordinal 0 and sort first, ties by appearance."""
    from logsight_filebeat_spark.operators.parse import (
        compile_dissect,
        with_dissect,
    )

    d = compile_dissect("%{+name/2} %{+name/4} %{+name/1} %{+name/3}", " ")
    assert d.fields == ("name",)
    df = spark.createDataFrame([("John Smith Dr. Jr.",)], ["t"])
    [r] = with_dissect(df, "t", d).collect()
    assert r.parsed.name == "Dr. John Jr. Smith"

    # plain base (implicit ordinal 0) sorts before every ordered member
    d2 = compile_dissect("%{ts} %{+ts/2},%{+ts/1}", "|")
    [r2] = with_dissect(
        spark.createDataFrame([("base second,first",)], ["t"]), "t", d2
    ).collect()
    assert r2.parsed.ts == "base|first|second"

    # unordered group behavior is unchanged (appearance order)
    d3 = compile_dissect("%{a} %{+a} %{+a}", "-")
    [r3] = with_dissect(
        spark.createDataFrame([("x y z",)], ["t"]), "t", d3
    ).collect()
    assert r3.parsed.a == "x-y-z"


def test_grok_composite_combinedapachelog(spark):
    line = (
        '203.0.113.9 - alice [10/Oct/2000:13:55:36 -0700] '
        '"GET /index.html HTTP/1.1" 200 5120 "http://ref.example/" "curl/8.0"'
    )
    g = compile_grok("%{COMBINEDAPACHELOG}")
    assert g.arrow_re2  # composite stays on the RE2-in-C path
    df = spark.createDataFrame([(line,), ("not an access log",)], ["t"])
    from logsight_filebeat_spark.operators.parse import (
        with_grok_native,
        with_grok_vectorized,
    )

    nat = with_grok_native(df, "t", g).collect()
    vec = with_grok_vectorized(df, "t", g).collect()
    assert [r.parsed for r in nat] == [r.parsed for r in vec]
    ok = next(r.parsed for r in nat if r.parsed is not None)
    assert ok.clientip == "203.0.113.9"
    assert ok.verb == "GET" and ok.request == "/index.html"
    assert ok.response == "200" and ok.bytes == "5120"
    assert ok.agent == '"curl/8.0"'
    assert sum(1 for r in nat if r.parsed is None) == 1


def test_grok_duplicate_field_in_one_pattern_errors():
    with pytest.raises(ValueError):
        compile_grok("%{WORD:x} %{WORD:x}")


def test_grok_cyclic_vocab_errors():
    with pytest.raises(ValueError):
        compile_grok("%{A:a}", extra_patterns={"A": "%{B}", "B": "%{A}"})


# ---------------------------------------------------------------------------
# main-content extraction (boilerplate removal)
# ---------------------------------------------------------------------------


def test_main_content_keeps_dense_prose_drops_boilerplate(spark):
    import pyspark.sql.functions as F

    from logsight_filebeat_spark.functions.cleaning import main_content

    prose = "This is a long enough paragraph of body prose to keep around."
    html = (
        "<html><head><title>t</title></head><body>"
        f"<p>{prose}</p>"
        '<nav><a href="https://x/1">one</a><a href="https://x/2">two</a>'
        '<a href="https://x/3">three</a></nav>'
        "<p>short</p>"
        f"<div>{prose} And a second dense block of real article text.</div>"
        "</body></html>"
    )
    df = spark.createDataFrame([(html,)], "html string")
    got = df.select(main_content("html").alias("m")).first().m
    lines = got.split("\n")
    assert lines[0] == prose
    assert lines[1].startswith(prose)
    assert len(lines) == 2  # nav links, title, and the short <p> all drop


def test_main_content_density_gate_drops_markup_heavy_blocks(spark):
    from logsight_filebeat_spark.functions.cleaning import main_content

    # 60 chars of visible text buried in heavy inline markup: long enough,
    # but density < 50% → boilerplate
    linky = "".join(
        f'<a href="https://example.com/very/long/path/{i}">w{i}</a>'
        for i in range(12)
    )
    df = spark.createDataFrame([(f"<div>{linky}</div>",)], "html string")
    assert df.select(main_content("html").alias("m")).first().m == ""


def test_log_templates_collapse_volatile_fields(spark):
    from logsight_filebeat_spark.operators.parse import log_templates

    msgs = [
        ("request handled app=auth status=200 bytes=512",),
        ("request handled app=auth status=500 bytes=99",),
        ("connect from 10.0.0.1 port 443",),
        ("connect from 192.168.7.13 port 8080",),
        ("txn 550e8400-e29b-41d4-a716-446655440000 committed at 0xdeadbeef",),
        ("txn 550e8400-e29b-41d4-a716-446655440001 committed at 0xcafebabe",),
    ]
    df = spark.createDataFrame(msgs, "message string")
    got = {r.template: (r.n_events, r.n_messages) for r in log_templates(df).collect()}
    assert got == {
        "request handled app=auth status=<n> bytes=<n>": (2, 2),
        "connect from <ip> port <n>": (2, 2),
        "txn <uuid> committed at <hex>": (2, 2),
    }
