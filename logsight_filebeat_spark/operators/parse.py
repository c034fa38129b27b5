"""Vectorized parse stage: multiline join + grok/dissect pattern extraction.

The reference delegates these to the Beats framework (multiline joining and
dissect processors are framework capabilities configured by the plugin — dep
at /root/reference/go.mod:139, embedded at /root/reference/filebeat/main.go:35-39).
Per SURVEY §2 ("Capabilities inherited from the Beats framework") our engine
owns them natively:

* ``multiline_join`` — continuation lines (default: leading whitespace, the
  stack-trace shape) merge into the preceding event. Implemented with Spark
  higher-order functions (split + aggregate fold) — fully JVM-side, per-page,
  no cross-row state, no Python. At 100 TB this is a narrow map over the scan.

* Grok — a pattern like ``%{NOTSPACE:timestamp} %{WORD:level}
  %{GREEDYDATA:message}`` compiles ONCE on the driver into (a) a Java regex
  for the native Column path (regexp_extract per field, whole-stage codegen)
  and (b) the Arrow-vectorized ``mapInPandas`` path: pyarrow's
  ``extract_regex`` — a true RE2 engine in C over the Arrow buffers, zero
  per-row Python — which is the north rule's "batched re2-style matchers"
  literally (RE2 is also the reference's Go regexp dialect). Patterns RE2
  can't compile (probed at compile time) fall back to precompiled Python
  ``re`` over the same batches. All paths are tested byte-identical against
  a single-threaded Python oracle (input_hint invariant).

Grok base patterns are the public grok vocabulary (non-capturing internals so
field ⇒ capture-group index is positional).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# public grok base vocabulary (subset); internals non-capturing. Entries may
# reference other entries with %{NAME} / %{NAME:field} — compile_grok expands
# recursively (composites like COMBINEDAPACHELOG emit their nested fields).
# All bodies are RE2-safe (no lookaround/backrefs) so every pattern built
# from this vocabulary takes the Arrow RE2-in-C vectorized path; the handful
# of upstream-grok definitions that use lookaround (e.g. TIME's (?!<[0-9]))
# are rewritten with anchored char classes of identical effect on log text.
BASE_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "YEAR": r"\d{4}",
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}(?::\d{2})?(?:\.\d+)?"
        r"(?:Z|[+-]\d{2}:?\d{2})?"
    ),
    "LOGLEVEL": (
        r"(?:INFO|WARNING|WARN|FINER|FINE|DEBUG|ERROR|ERR|EXCEPTION|SEVERE"
        r"|TRACE|FATAL|CRITICAL)"
    ),
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "URIPATH": r"(?:/[A-Za-z0-9_.%$+!*'(),~:;=@#-]*)+",
    "QS": r"\"[^\"]*\"",
    # round-3 widening: the common public grok names users hit first
    "HOSTNAME": (
        r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}"
        r"(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\b"
    ),
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "USER": r"[a-zA-Z0-9._-]+",
    "USERNAME": r"%{USER}",
    "MONTH": (
        r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?"
        r"|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?"
        r"|Dec(?:ember)?)\b"
    ),
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "HOUR": r"(?:2[0123]|[01][0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    # composite access-log patterns: expanding %{COMBINEDAPACHELOG} emits
    # every nested field (clientip, verb, response, ... agent)
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{USER:ident} %{USER:auth} "
        r"\[%{HTTPDATE:timestamp}\] "
        r"\"(?:%{WORD:verb} %{NOTSPACE:request}"
        r"(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response} (?:%{NUMBER:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def _decapture(fragment: str) -> str:
    """Rewrite every bare capturing ``(`` in a regex fragment to ``(?:``.

    Guarantees that the ONLY capturing groups in a compiled grok regex are
    the field groups, so field i ⇔ group i+1 holds even when the user writes
    literal parens around refs (``(%{WORD:x})?``) or supplies extra vocab
    with parens — otherwise the field→group mapping silently shifts and
    every extraction is wrong. Semantics-preserving under the engine's
    documented RE2-style dialect: RE2 has no backreferences, so a capturing
    vs non-capturing group cannot change what matches."""
    out: list[str] = []
    i, n = 0, len(fragment)
    in_class = False
    while i < n:
        ch = fragment[i]
        if ch == "\\":
            out.append(fragment[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_class = True
            out.append(ch)
            i += 1
            # leading ^ and a literal ] right after it stay inside the class
            if i < n and fragment[i] == "^":
                out.append("^")
                i += 1
            if i < n and fragment[i] == "]":
                out.append("]")
                i += 1
            continue
        if ch == "(" and not (i + 1 < n and fragment[i + 1] == "?"):
            out.append("(?:")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _named_regex(regex: str) -> str:
    """Rewrite the i-th capturing ``(`` to a named group ``(?P<gi>`` —
    pyarrow's RE2 extract_regex surfaces captures by NAME only. _decapture
    guarantees capturing parens == field groups in positional order, so
    ``gi`` ↔ ``fields[i]``. (Positional synthetic names, not the field
    names themselves: field names may legally repeat across a grok set's
    union handling, and RE2 rejects duplicate group names.)"""
    out: list[str] = []
    i, n, g = 0, len(regex), 0
    in_class = False
    while i < n:
        ch = regex[i]
        if ch == "\\":
            out.append(regex[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_class = True
            out.append(ch)
            i += 1
            if i < n and regex[i] == "^":
                out.append("^")
                i += 1
            if i < n and regex[i] == "]":
                out.append("]")
                i += 1
            continue
        if ch == "(" and not (i + 1 < n and regex[i + 1] == "?"):
            out.append(f"(?P<g{g}>")
            g += 1
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _arrow_re2_ok(named_regex: str) -> bool:
    """True iff pyarrow is importable AND RE2 compiles the pattern (probed
    on an empty array — compilation errors surface eagerly). Decided once on
    the driver; workers then take the C path unconditionally. Patterns using
    constructs RE2 lacks (lookaround, backrefs) probe False and fall back to
    the Python-`re` pandas path — same results, slower engine."""
    try:
        import pyarrow as pa
        import pyarrow.compute as pc

        pc.extract_regex(pa.array([], type=pa.string()), pattern=named_regex)
        return True
    except Exception:
        return False


@dataclass(frozen=True)
class CompiledGrok:
    """Driver-side compiled grok pattern (compile once, run everywhere —
    the analogue of the reference hoisting regexp.Compile to config time,
    plugin/config.go:42). Invariant (enforced by _decapture): the regex's
    capturing groups are exactly the field groups, in order."""

    source: str
    regex: str  # RE2∩Java∩Python-safe
    fields: tuple[str, ...]  # capture-group order, group i+1 = fields[i]
    named_regex: str = ""  # capturing groups renamed (?P<gi>…) for RE2
    arrow_re2: bool = False  # vectorized path may use pyarrow RE2 (C)
    witness: int | None = None  # group non-empty in every match (_witness_group)

    @property
    def python(self) -> re.Pattern:
        # re.ASCII pins \w/\s/\b/\d to their RE2/Java (ASCII) definitions —
        # without it Python's unicode classes diverge from the native Column
        # path (and from the Go-RE2 reference) on non-ASCII word characters,
        # silently breaking the byte-identity invariant
        return re.compile(self.regex, re.ASCII)


def _expand_grok(
    pattern: str, vocab: dict[str, str], fields: list[str], depth: int = 0
) -> str:
    """Recursively expand %{BASE[:field]} refs; vocabulary bodies may
    themselves contain refs (composites like COMBINEDAPACHELOG). Named refs
    open a capture group and record the field BEFORE their body expands, so
    the fields tuple stays in opening-paren order — the order regexp_extract
    and RE2's positional rename both use, even with nested captures."""
    if depth > 16:
        raise ValueError(
            f"grok expansion exceeds depth 16 at {pattern!r} — "
            "cyclic vocabulary reference"
        )
    parts: list[str] = []
    pos = 0
    for m in _GROK_REF.finditer(pattern):
        parts.append(_decapture(pattern[pos : m.start()]))
        base, field = m.group(1), m.group(2)
        if base not in vocab:
            raise ValueError(f"unknown grok pattern %{{{base}}}")
        if field:
            if field in fields:
                raise ValueError(
                    f"grok pattern captures field {field!r} twice — "
                    "the output struct needs unique field names"
                )
            fields.append(field)
        body = vocab[base]
        expanded = (
            _expand_grok(body, vocab, fields, depth + 1)
            if _GROK_REF.search(body)
            else _decapture(body)
        )
        parts.append(f"({expanded})" if field else f"(?:{expanded})")
        pos = m.end()
    parts.append(_decapture(pattern[pos:]))
    return "".join(parts)


def _witness_group(regex: str) -> int | None:
    """The first capture group that every match of ``regex`` fills with at
    least one character, or None when there is none.

    A group at the top level of the regex — outside any optional,
    alternation or repeat — participates in every match, and a minimum
    width of at least 1 makes its capture non-empty; ``regexp_extract``
    returns '' on no match, so ``regexp_extract(c, regex, g) != ''`` is
    exactly ``c rlike regex`` and the native path tests the match on a
    capture it computes anyway. Python's parser inlines plain ``(?:…)``
    groups, so their members count as top level too."""
    for op, av in re._parser.parse(regex):
        if op is re._parser.SUBPATTERN and av[0] is not None:
            if av[-1].getwidth()[0] >= 1:
                return av[0]
    return None


def compile_grok(pattern: str, extra_patterns: dict[str, str] | None = None) -> CompiledGrok:
    """Expand %{BASE:field} refs into one regex with positional groups.
    Vocabulary bodies expand recursively (composites emit nested fields);
    unnamed refs (%{BASE}) expand non-capturing; literal parens in the
    pattern or vocab are rewritten non-capturing (_decapture) so group
    numbering stays field-positional. Unknown base ⇒ ValueError at compile
    time (driver), mirroring config.go:42-45."""
    vocab = {**BASE_PATTERNS, **(extra_patterns or {})}
    fields: list[str] = []
    regex = _expand_grok(pattern, vocab, fields)
    if not fields:
        raise ValueError(f"grok pattern {pattern!r} captures no fields")
    compiled = re.compile(regex)  # validate now, on the driver
    if compiled.groups != len(fields):  # _decapture invariant
        raise ValueError(
            f"grok pattern {pattern!r} compiled to {compiled.groups} capture "
            f"groups for {len(fields)} fields — unsupported regex construct"
        )
    named = _named_regex(regex)
    return CompiledGrok(
        source=pattern,
        regex=regex,
        fields=tuple(fields),
        named_regex=named,
        arrow_re2=_arrow_re2_ok(named),
        witness=_witness_group(regex),
    )


# ---------------------------------------------------------------------------
# grok pattern lists — first-match-wins fallback chains
# ---------------------------------------------------------------------------

# reserved name for the which-pattern-matched output column suffix
PATTERN_IDX_SUFFIX = "_pattern"


@dataclass(frozen=True)
class CompiledGrokSet:
    """An ordered list of compiled grok patterns tried first-match-wins —
    the Beats processors' multi-pattern match config (a list of patterns per
    processor; framework dep /root/reference/go.mod:139). Real corpora are
    heterogeneous: one pattern per pipeline quarantines every other format.

    ``fields`` is the union of the member patterns' fields in first-
    appearance order; a matched row carries NULL for fields its winning
    pattern does not capture (and '' for its non-participating optional
    groups, matching single-pattern semantics)."""

    patterns: tuple[CompiledGrok, ...]
    fields: tuple[str, ...]


def compile_grok_set(
    patterns: list[str] | tuple[str, ...],
    extra_patterns: dict[str, str] | None = None,
) -> CompiledGrokSet:
    """Compile each pattern eagerly on the driver (any bad member raises
    here, mirroring config.go:42-45) and build the union field schema."""
    if not patterns:
        raise ValueError("grok pattern set is empty")
    compiled = tuple(compile_grok(p, extra_patterns) for p in patterns)
    fields: list[str] = []
    for g in compiled:
        for f in g.fields:
            if f not in fields:
                fields.append(f)
    return CompiledGrokSet(patterns=compiled, fields=tuple(fields))


# ---------------------------------------------------------------------------
# dissect — literal-delimiter tokenization (the cheap non-regex path)
# ---------------------------------------------------------------------------


PAIRS_FIELD = "_pairs"  # map field emitted by %{*key}/%{&key} patterns


@dataclass(frozen=True)
class CompiledDissect:
    """Beats-style dissect pattern: ``%{a} %{b} - %{rest}`` splits on the
    exact literal delimiters between fields; the final field takes the
    remainder. No regex at runtime — whole-stage-codegen string finds (the
    one exception: a ``->`` padded token strips repeats of its delimiter
    with one anchored regexp_replace).

    Beats field modifiers supported:
      * ``%{?name}`` / ``%{}`` — skip: the token is consumed (its delimiter
        still anchors the split) but emits no output field.
      * ``%{+name}`` — append: the token's value concatenates onto the
        earlier ``name`` capture, joined by ``append_separator``.
      * ``%{+name/2}`` — ordered append: the ordinal (≥1) sets the join
        position within the ``name`` group instead of appearance order
        (``%{+name/2} %{+name/1}`` on ``"world hello"`` → ``hello world``).
        A plain ``%{name}``/unordered ``%{+name}`` carries implicit
        ordinal 0 (sorts first; ties resolve by appearance), and an
        ordered group may open without a plain base — both exactly the
        published dissect semantics.
      * ``%{name->}`` — right padding: consecutive repeats of the delimiter
        after this token are skipped (column-aligned output); combines with
        any other modifier (``%{?x->}``, ``%{+x->}`` …).
      * ``%{*key}`` / ``%{&key}`` — reference pair: ``*key`` captures an
        output FIELD NAME from the data, ``&key`` the matching value. Pairs
        emit as entries of a ``_pairs`` map<string,string> field (a
        DataFrame column needs a static type, so dynamic names become map
        keys rather than struct fields).
    ``tokens`` holds one (kind, name, padded, order) per positional token,
    kind ∈ {field, skip, append, pairkey, pairval} (order ≠ 0 only for
    ordered appends); ``fields`` is the static OUTPUT
    schema (plain + append bases, first-appearance order; pair patterns add
    ``_pairs``)."""

    source: str
    fields: tuple[str, ...]
    delimiters: tuple[str, ...]  # len == len(tokens) - 1; literal separators
    tokens: tuple[tuple[str, str, bool, int], ...] = ()
    append_separator: str = ""
    pair_names: tuple[str, ...] = ()


_DISSECT_REF = re.compile(r"%\{([?+*&]?[\w/]*(?:->)?)\}")


def compile_dissect(pattern: str, append_separator: str = "") -> CompiledDissect:
    """Compile on the driver; errors eagerly like compile_grok. The pattern
    must start with a field and alternate field/delimiter (a leading literal
    prefix is folded into the first delimiter check by stripping it)."""
    parts = _DISSECT_REF.split(pattern)
    # parts = [prefix, f1, d1, f2, d2, ..., fn, suffix]
    if len(parts) < 3 or parts[0] != "":
        raise ValueError(
            f"dissect pattern {pattern!r} must start with a %{{field}}"
        )
    if parts[-1] != "":
        raise ValueError(
            f"dissect pattern {pattern!r} must end with a %{{field}} "
            "(the last field takes the remainder)"
        )
    raw = tuple(parts[1::2])
    delimiters = tuple(parts[2:-1:2])
    if any(d == "" for d in delimiters):
        raise ValueError(
            f"dissect pattern {pattern!r} has adjacent fields with no "
            "literal delimiter between them"
        )
    tokens: list[tuple[str, str, bool, int]] = []
    fields: list[str] = []
    pair_keys: list[str] = []
    pair_vals: list[str] = []
    for tok in raw:
        padded = tok.endswith("->")
        if padded:
            tok = tok[:-2]
        if "/" in tok and not tok.startswith("+"):
            raise ValueError(
                f"dissect pattern {pattern!r}: the /N ordinal is only valid "
                f"on append tokens (%{{+name/N}}), got %{{{tok}}}"
            )
        if tok == "" or tok.startswith("?"):
            tokens.append(("skip", tok[1:] if tok else "", padded, 0))
        elif tok.startswith("+"):
            name = tok[1:]
            order = 0
            if "/" in name:
                name, _, ostr = name.partition("/")
                if not ostr.isdigit() or int(ostr) < 1:
                    raise ValueError(
                        f"dissect pattern {pattern!r}: append ordinal in "
                        f"%{{{tok}}} must be a positive integer"
                    )
                order = int(ostr)
            if not name:
                raise ValueError(f"dissect pattern {pattern!r}: bare %{{+}}")
            if name not in fields:
                if order == 0:
                    raise ValueError(
                        f"dissect pattern {pattern!r}: %{{+{name}}} appends "
                        "to a field that has not appeared yet"
                    )
                # an ORDERED group may open without a plain base
                # (%{+name/2} ... %{+name/1} is the documented form)
                fields.append(name)
            tokens.append(("append", name, padded, order))
        elif tok.startswith("*"):
            name = tok[1:]
            if not name or name in pair_keys:
                raise ValueError(
                    f"dissect pattern {pattern!r}: bad or repeated pair key "
                    f"%{{*{name}}}"
                )
            tokens.append(("pairkey", name, padded, 0))
            pair_keys.append(name)
        elif tok.startswith("&"):
            name = tok[1:]
            if not name or name in pair_vals:
                raise ValueError(
                    f"dissect pattern {pattern!r}: bad or repeated pair value "
                    f"%{{&{name}}}"
                )
            tokens.append(("pairval", name, padded, 0))
            pair_vals.append(name)
        else:
            if tok in fields:
                raise ValueError(
                    f"dissect pattern {pattern!r} repeats field {tok!r} "
                    "(use %{+" + tok + "} to append)"
                )
            tokens.append(("field", tok, padded, 0))
            fields.append(tok)
    if sorted(pair_keys) != sorted(pair_vals):
        raise ValueError(
            f"dissect pattern {pattern!r}: every %{{*key}} needs a matching "
            f"%{{&key}} (keys {pair_keys}, values {pair_vals})"
        )
    if pair_keys:
        fields.append(PAIRS_FIELD)
    if not fields:
        raise ValueError(f"dissect pattern {pattern!r} captures no fields")
    return CompiledDissect(
        source=pattern,
        fields=tuple(fields),
        delimiters=delimiters,
        tokens=tuple(tokens),
        append_separator=append_separator,
        pair_names=tuple(sorted(pair_keys)),
    )


def dissect_native(col: Column | str, dissect: CompiledDissect) -> Column:
    """One struct column of captures; NULL struct when any delimiter is
    missing (row failure, matching the grok no-match semantics). Pure
    substring arithmetic on ``instr`` positions — no regex engine at all,
    the cheapest extraction path for fixed-layout records. A padded token
    (``->``) additionally strips leading repeats of its delimiter from the
    remainder with one anchored regexp_replace."""
    c = F.col(col) if isinstance(col, str) else col
    remaining = c
    values: list[Column] = []
    ok = F.lit(True)
    for (_, _, padded, _), delim in zip(dissect.tokens, dissect.delimiters):
        pos = F.instr(remaining, F.lit(delim))  # 1-based; 0 = not found
        ok = ok & (pos > 0)
        values.append(F.substring(remaining, 1, pos - 1))
        remaining = F.substring(
            remaining, pos + len(delim), F.length(remaining)
        )
        if padded:
            remaining = F.regexp_replace(
                remaining, "^(?:" + re.escape(delim) + ")*", ""
            )
    values.append(remaining)
    outputs: dict[str, Column] = {}
    pair_kv: dict[str, dict[str, Column]] = {}
    # append groups join sorted by (ordinal, appearance): plain fields and
    # unordered appends carry ordinal 0, so a group with no /N ordinals
    # reproduces plain appearance-order concatenation exactly
    groups: dict[str, list[tuple[int, int, Column]]] = {}
    for i, ((kind, name, _, order), v) in enumerate(
        zip(dissect.tokens, values)
    ):
        if kind == "skip":
            continue
        if kind in ("pairkey", "pairval"):
            pair_kv.setdefault(name, {})["k" if kind == "pairkey" else "v"] = v
        else:
            groups.setdefault(name, []).append((order, i, v))
    for name, parts in groups.items():
        parts.sort(key=lambda p: (p[0], p[1]))
        col = parts[0][2]
        for _, _, v in parts[1:]:
            col = F.concat(col, F.lit(dissect.append_separator), v)
        outputs[name] = col
    if dissect.pair_names:
        kvs: list[Column] = []
        for name in dissect.pair_names:
            kvs.extend((pair_kv[name]["k"], pair_kv[name]["v"]))
        outputs[PAIRS_FIELD] = F.create_map(*kvs)
    struct = F.struct(*[outputs[n].alias(n) for n in dissect.fields])
    return F.when(ok, struct)


def with_dissect(
    df: DataFrame, col: str, dissect: CompiledDissect, out: str = "parsed"
) -> DataFrame:
    return df.withColumn(out, dissect_native(col, dissect))


# ---------------------------------------------------------------------------
# multiline join
# ---------------------------------------------------------------------------

DEFAULT_CONTINUATION = r"^\s"

# boundary-split equivalent of the ^\s continuation fold: an event boundary
# is a \n whose NEXT char is not an intra-line whitespace char. (\n itself is
# excluded from the class: an empty line does not match ^\s, so it starts a
# new event — `\n(?!\s)` would get that wrong.) Splitting on boundaries
# yields exactly the fold's events, with ~zero allocation per line instead of
# a struct-accumulator fold — the measured hot spot of the parse stage.
_DEFAULT_BOUNDARY_RE = r"\n(?![ \t\x0B\f\r])"


def _multiline_fold_guarded(
    lines: Column,
    cont,
    max_lines: int | None,
    flush_pattern: str | None,
) -> Column:
    """After-mode fold with the Beats guards. Accumulator carries the open
    event's line count so the cap is O(1) state: a continuation line beyond
    ``max_lines`` is discarded (event neither grows nor splits — Beats
    truncation), and a line matching ``flush_pattern`` closes the event it
    just joined. Same emit shape as the unguarded fold otherwise."""

    def grew(cur: Column, n: Column, x: Column) -> Column:
        if max_lines is None:
            return F.concat(cur, F.lit("\n"), x)
        return F.when(n < max_lines, F.concat(cur, F.lit("\n"), x)).otherwise(cur)

    def grew_n(n: Column) -> Column:
        if max_lines is None:
            return n + 1
        return F.when(n < max_lines, n + 1).otherwise(n)

    def step(acc: Column, x: Column) -> Column:
        ev, cur, n = (acc.getField(f) for f in ("events", "cur", "n"))
        is_cont = cont(x) & cur.isNotNull()
        new_ev = F.when(
            is_cont | cur.isNull(), ev
        ).otherwise(F.array_append(ev, cur))
        new_cur = F.when(is_cont, grew(cur, n, x)).otherwise(x)
        new_n = F.when(is_cont, grew_n(n)).otherwise(F.lit(1))
        open_acc = F.struct(
            new_ev.alias("events"), new_cur.alias("cur"), new_n.alias("n")
        )
        if flush_pattern is None:
            return open_acc
        return F.when(
            x.rlike(flush_pattern),
            F.struct(
                F.array_append(new_ev, new_cur).alias("events"),
                F.lit(None).cast("string").alias("cur"),
                F.lit(0).alias("n"),
            ),
        ).otherwise(open_acc)

    folded = F.aggregate(
        lines,
        F.struct(
            F.array().cast("array<string>").alias("events"),
            F.lit(None).cast("string").alias("cur"),
            F.lit(0).alias("n"),
        ),
        step,
        lambda acc: F.when(
            acc.getField("cur").isNull(), acc.getField("events")
        ).otherwise(F.array_append(acc.getField("events"), acc.getField("cur"))),
    )
    return folded.cast("array<string>")


def multiline_join(
    text: Column | str,
    continuation: str = DEFAULT_CONTINUATION,
    negate: bool = False,
    match: str = "after",
    max_lines: int | None = None,
    flush_pattern: str | None = None,
) -> Column:
    """Fold a page's lines into logical events — the Beats multiline
    processor's full config surface (pattern/negate/match/max_lines/
    flush_pattern, the framework capability the reference configures;
    /root/reference/go.mod:139):

      * ``match="after"`` (default): a line whose continuation test passes
        appends (with \\n) to the PREVIOUS event. negate=False ⇒ test is
        ``rlike(continuation)`` (stack-trace shape); negate=True ⇒ test is
        NOT-matching (classic "event starts with a timestamp" configs:
        pattern matches event STARTS, everything else is continuation).
      * ``match="before"``: a line whose test passes glues onto the NEXT
        line(s); the first line failing the test TERMINATES the event
        (classic trailing-backslash line continuation). A trailing run with
        no terminator still emits as a final event.
      * ``max_lines``: an event keeps at most this many lines; further
        continuation lines of that event are DISCARDED (Beats truncation
        semantics — they neither grow the event nor start a new one). This
        also bounds the fold's accumulator, so one pathological page where
        every line is a continuation can no longer build an event the size
        of the page.
      * ``flush_pattern`` (after-mode): a line matching it closes the event
        it just joined (the line is included, Beats flush semantics) — the
        next line starts a fresh event unconditionally. Beats' ``timeout``
        guard is wall-clock-based and has no meaning inside a batch fold
        over an already-materialized page; it is deliberately absent.

    Returns array<string>. Pure Column expressions — no shuffle, no UDF.

    Fast path: for the default after-mode ``^\\s`` continuation with no
    guards the fold is equivalent to one regex split on event boundaries
    (proof in _DEFAULT_BOUNDARY_RE comment; pinned by tests against the
    general fold). Every other config uses the general higher-order-function
    fold."""
    if match not in ("after", "before"):
        raise ValueError(f"multiline match mode {match!r}: 'after' or 'before'")
    if max_lines is not None and max_lines < 1:
        raise ValueError(f"multiline max_lines must be >= 1, got {max_lines}")
    if flush_pattern is not None and match == "before":
        raise ValueError("multiline flush_pattern requires match='after'")
    if flush_pattern is not None:
        re.compile(flush_pattern)  # driver-time validation, like compile_grok
    col = F.col(text) if isinstance(text, str) else text
    if (
        continuation == DEFAULT_CONTINUATION
        and not negate
        and match == "after"
        and max_lines is None
        and flush_pattern is None
    ):
        return F.split(col, _DEFAULT_BOUNDARY_RE)

    def cont(x: Column) -> Column:
        m = x.rlike(continuation)
        return ~m if negate else m

    lines = F.split(col, "\n")
    if match == "after" and (max_lines is not None or flush_pattern is not None):
        return _multiline_fold_guarded(lines, cont, max_lines, flush_pattern)
    if match == "before":
        # append every line to the open event; a line FAILING the test
        # closes it. acc.cur == NULL ⇔ no open event; acc.n = lines in cur
        # (the max_lines cap discards overflow lines, Beats truncation).
        def joined(acc: Column, x: Column) -> Column:
            cur, n = acc.getField("cur"), acc.getField("n")
            grown = (
                F.concat(cur, F.lit("\n"), x)
                if max_lines is None
                else F.when(
                    n < max_lines, F.concat(cur, F.lit("\n"), x)
                ).otherwise(cur)
            )
            return F.when(cur.isNull(), x).otherwise(grown)

        folded = F.aggregate(
            lines,
            F.struct(
                F.array().cast("array<string>").alias("events"),
                F.lit(None).cast("string").alias("cur"),
                F.lit(0).alias("n"),
            ),
            lambda acc, x: F.when(
                cont(x),
                F.struct(
                    acc.getField("events").alias("events"),
                    joined(acc, x).alias("cur"),
                    (
                        acc.getField("n") + 1
                        if max_lines is None
                        else F.when(
                            acc.getField("n") < max_lines, acc.getField("n") + 1
                        ).otherwise(acc.getField("n"))
                    ).alias("n"),
                ),
            ).otherwise(
                F.struct(
                    F.array_append(acc.getField("events"), joined(acc, x)).alias(
                        "events"
                    ),
                    F.lit(None).cast("string").alias("cur"),
                    F.lit(0).alias("n"),
                )
            ),
            lambda acc: F.when(
                acc.getField("cur").isNull(), acc.getField("events")
            ).otherwise(
                F.array_append(acc.getField("events"), acc.getField("cur"))
            ),
        )
        return folded.cast("array<string>")
    # after-mode general fold (non-default pattern and/or negate)
    folded = F.aggregate(
        lines,
        F.struct(
            F.array().cast("array<string>").alias("events"),
            F.lit(None).cast("string").alias("cur"),
        ),
        lambda acc, x: F.when(
            cont(x) & acc.getField("cur").isNotNull(),
            F.struct(
                acc.getField("events").alias("events"),
                F.concat(acc.getField("cur"), F.lit("\n"), x).alias("cur"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc.getField("cur").isNull(), acc.getField("events")
                )
                .otherwise(F.array_append(acc.getField("events"), acc.getField("cur")))
                .alias("events"),
                x.alias("cur"),
            )
        ),
        lambda acc: F.when(
            acc.getField("cur").isNull(), acc.getField("events")
        ).otherwise(F.array_append(acc.getField("events"), acc.getField("cur"))),
    )
    return folded.cast("array<string>")


def explode_multiline(
    df: DataFrame, text_col: str = "text", out_col: str = "event_text",
    continuation: str = DEFAULT_CONTINUATION,
    negate: bool = False, match: str = "after",
    max_lines: int | None = None, flush_pattern: str | None = None,
) -> DataFrame:
    """pages → one row per logical event, event index preserved (the
    harvester emitting events per file, filebeat/main.go:27-30)."""
    events = multiline_join(
        text_col, continuation, negate, match, max_lines, flush_pattern
    )
    return df.select(
        "*", F.posexplode(events).alias("event_idx", out_col)
    )


# ---------------------------------------------------------------------------
# grok execution — native Column path
# ---------------------------------------------------------------------------

def with_grok_native(
    df: DataFrame, col: str, grok: CompiledGrok, out: str = "parsed"
) -> DataFrame:
    """Adds ``out``: one struct of captures, NULL when the regex does not
    match (the row failure of mapper.go:145-150 — NOT an empty string).

    Each field is one ``regexp_extract`` projected into its own temporary
    column, so every capture runs once per row; the match test then reads
    the witness capture (``CompiledGrok.witness``) instead of running the
    regex again, and only a pattern without a witness keeps one ``rlike``.
    The struct is built in a second projection over the captures:
    Catalyst's CollapseProject does not inline a non-cheap alias that is
    referenced twice (the witness, in the test and in the struct), so the
    captures are not re-evaluated inside the ``CASE WHEN``. The
    temporaries are dropped before returning."""
    caps = [f"__{out}_g{i}" for i in range(len(grok.fields))]
    c = F.col(col)
    mid = df.withColumns(
        {t: F.regexp_extract(c, grok.regex, i + 1) for i, t in enumerate(caps)}
    )
    if grok.witness is None:
        matched = c.rlike(grok.regex)
    else:
        matched = F.col(caps[grok.witness - 1]) != ""
    struct = F.struct(*[F.col(t).alias(f) for t, f in zip(caps, grok.fields)])
    return mid.withColumn(out, F.when(matched, struct)).drop(*caps)


def grok_set_native(col: Column | str, gs: CompiledGrokSet) -> tuple[Column, Column]:
    """First-match-wins over the pattern list, all in Columns: one
    ``when(rlike(p0), struct0).when(rlike(p1), struct1)...`` chain — Catalyst
    short-circuits, so a row matched by pattern 0 never evaluates pattern 1's
    regex. Returns (struct_col, pattern_idx_col); both NULL when no pattern
    matches (the row-failure path). Each per-pattern struct is widened to the
    union field schema with NULL for fields that pattern lacks."""
    c = F.col(col) if isinstance(col, str) else col
    struct_chain: Column | None = None
    idx_chain: Column | None = None
    for i, g in enumerate(gs.patterns):
        matched = c.rlike(g.regex)
        cols = []
        for name in gs.fields:
            if name in g.fields:
                cols.append(
                    F.regexp_extract(c, g.regex, g.fields.index(name) + 1).alias(name)
                )
            else:
                cols.append(F.lit(None).cast("string").alias(name))
        s = F.struct(*cols)
        idx = F.lit(i)
        if struct_chain is None:
            struct_chain = F.when(matched, s)
            idx_chain = F.when(matched, idx)
        else:
            struct_chain = struct_chain.when(matched, s)
            idx_chain = idx_chain.when(matched, idx)
    return struct_chain, idx_chain


def with_grok_set_native(
    df: DataFrame, col: str, gs: CompiledGrokSet, out: str = "parsed"
) -> DataFrame:
    """Adds ``out`` (union-schema capture struct, NULL = no pattern matched)
    and ``out + PATTERN_IDX_SUFFIX`` (int index of the winning pattern)."""
    struct, idx = grok_set_native(col, gs)
    return df.withColumn(out, struct).withColumn(out + PATTERN_IDX_SUFFIX, idx)


# ---------------------------------------------------------------------------
# grok execution — Arrow-vectorized path (mapInPandas)
# ---------------------------------------------------------------------------

def with_grok_vectorized(
    df: DataFrame, col: str, grok: CompiledGrok, out: str = "parsed"
) -> DataFrame:
    """Single mapInPandas stage applying the precompiled pattern once per row
    over Arrow batches (north rule: batched re2-style matchers; no per-row
    Python *interpretation* — the regex engine is C). All pre/post logic
    stays in Columns; this is the only JVM→Python hop in the pipeline
    (SURVEY §4.2). Fields come back as a struct column, NULL on no-match —
    byte-identical to with_grok_native and to the single-threaded oracle.

    Hot-path shape: ONE extraction pass per batch, preferring pyarrow's
    ``extract_regex`` — a true RE2 engine running in C over the Arrow
    buffers (zero per-row Python, and RE2 IS the reference's dialect). The
    result struct's validity bitmap is the match test; non-participating
    optional groups of matched rows come back '' from RE2 — exactly the
    native path's regexp_extract semantics, so byte-identity holds for
    every pattern shape. Patterns RE2 can't compile (probed at compile
    time) fall back to pandas ``str.extract`` with a sentinel whole-match
    group: group 0 participates in every match, so NaN there ⇔ no match
    even when a field group is optional (ADVICE r01: the old NaN-in-group-1
    signal nulled whole matched rows for optional fields), and '' fill
    restores non-participating-group parity.

    The Python hop is a SCALAR pandas_udf over the text column returning a
    struct, not mapInPandas: only the text bytes cross the Arrow boundary
    (every passenger column — urls, indexes — stays JVM-side) and the
    captures come back as ONE struct column. Measured 2.2× faster than the
    mapInPandas form that round-tripped whole rows (0.33s vs 0.72s over
    600k events on 8 cores) and within ~10% of the pure-JVM native path —
    the Arrow passenger traffic, not the regex, was the cost."""
    import pandas as pd

    regex = grok.regex
    named = grok.named_regex
    use_arrow = grok.arrow_re2
    nf = len(grok.fields)
    ret_t = T.StructType(
        [T.StructField(f"g{i}", T.StringType()) for i in range(nf)]
        + [T.StructField("ok", T.BooleanType())]
    )

    if use_arrow:
        # NOTE: no type hints on extract_fn — pandas_udf rejects the
        # Series -> DataFrame hint pair even though a StructType return
        # legitimately yields a DataFrame; the explicit returnType governs
        def extract_fn(s):
            import pyarrow as pa
            import pyarrow.compute as pc

            st = pc.extract_regex(
                pa.Array.from_pandas(s, type=pa.string()), pattern=named
            )
            cols = {
                f"g{i}": st.field(f"g{i}").to_pandas() for i in range(nf)
            }
            cols["ok"] = pc.is_valid(st).to_pandas()
            return pd.DataFrame(cols)

    else:
        # fallback: Python re engine; re.ASCII = RE2/Java class semantics
        # (see CompiledGrok.python) so captures stay byte-identical to the
        # native Column path on non-ASCII input. Sentinel group shifts the
        # field groups to 2..n+1 in this pattern only.
        pat = re.compile(f"({regex})", re.ASCII)

        def extract_fn(s):
            ext = s.str.extract(pat)  # one C-vectorized pass
            ok = ext.iloc[:, 0].notna()  # sentinel: always participates
            ext = ext.fillna("")  # non-participating field in a matched
            # row ⇒ '' (native parity); unmatched rows masked by ok anyway
            cols = {f"g{i}": ext.iloc[:, i + 1] for i in range(nf)}
            cols["ok"] = ok
            return pd.DataFrame(cols)

    extract = F.pandas_udf(extract_fn, ret_t)
    tmp = f"__{out}_x"
    mid = df.withColumn(tmp, extract(F.col(col)))
    struct = F.when(
        F.col(f"{tmp}.ok"),
        F.struct(
            *[
                F.col(f"{tmp}.g{i}").alias(f)
                for i, f in enumerate(grok.fields)
            ]
        ),
    )
    return mid.withColumn(out, struct).drop(tmp)


def with_grok_set_vectorized(
    df: DataFrame, col: str, gs: CompiledGrokSet, out: str = "parsed"
) -> DataFrame:
    """Grok-set fallback chain on the Arrow path: ONE Python hop. Per
    batch, pattern i only runs over rows the first i patterns left
    unmatched (the remaining-mask shrinks monotonically, so total regex
    work ≈ one pass over the batch plus the residue) — same cost shape as
    the reference trying patterns in order, but batched. Unmatched groups
    of matched rows fill '' (native regexp_extract parity); fields the
    winning pattern lacks stay NULL; the pattern index column is NULL on
    no match. Like with_grok_vectorized, the hop is a SCALAR pandas_udf
    over the text column returning one struct — passenger columns stay
    JVM-side."""
    nf = len(gs.fields)
    ret_t = T.StructType(
        [T.StructField(f"g{i}", T.StringType()) for i in range(nf)]
        + [T.StructField("idx", T.IntegerType())]
    )
    # per-pattern engine choice, decided on the driver: RE2-in-C when the
    # pattern compiles under RE2, Python re otherwise (mixed sets work)
    specs = [
        (g.regex, g.named_regex if g.arrow_re2 else None, g.fields)
        for g in gs.patterns
    ]
    union_fields = gs.fields

    def extract_fn(s):
        import pandas as pd

        if any(named for _, named, _ in specs):
            import pyarrow as pa
            import pyarrow.compute as pc

        # sentinel whole-match group on the fallback engine (see
        # with_grok_vectorized): extract column 0 doubles as the match test
        pats = [
            (named, re.compile(f"({rx})", re.ASCII) if named is None else None, flds)
            for rx, named, flds in specs
        ]
        idx = pd.Series(pd.NA, index=s.index, dtype="Int32")
        vals = {
            f: pd.Series(pd.NA, index=s.index, dtype=object)
            for f in union_fields
        }
        remaining = s.index
        for i, (named, pat, flds) in enumerate(pats):
            if len(remaining) == 0:
                break
            sub = s.loc[remaining]
            if named is not None:  # RE2 C path
                st = pc.extract_regex(
                    pa.Array.from_pandas(sub, type=pa.string()), pattern=named
                )
                ok = pc.is_valid(st).to_pandas()
                ok.index = sub.index
                hit = remaining[ok.to_numpy()]
                if len(hit):
                    for j, f in enumerate(flds):
                        v = st.field(f"g{j}").to_pandas()
                        v.index = sub.index
                        vals[f].loc[hit] = v.loc[hit]
                    idx.loc[hit] = i
            else:  # Python re fallback
                ext = sub.str.extract(pat)
                ok = ext.iloc[:, 0].notna()
                hit = remaining[ok.to_numpy()]
                if len(hit):
                    ext = ext.loc[hit].fillna("")
                    for j, f in enumerate(flds):
                        vals[f].loc[hit] = ext.iloc[:, j + 1]
                    idx.loc[hit] = i
            remaining = remaining[(~ok).to_numpy()]
        cols = {f"g{i}": vals[f] for i, f in enumerate(union_fields)}
        cols["idx"] = idx
        return pd.DataFrame(cols)

    extract = F.pandas_udf(extract_fn, ret_t)
    tmp = f"__{out}_x"
    mid = df.withColumn(tmp, extract(F.col(col)))
    struct = F.when(
        F.col(f"{tmp}.idx").isNotNull(),
        F.struct(
            *[
                F.col(f"{tmp}.g{i}").alias(f)
                for i, f in enumerate(union_fields)
            ]
        ),
    )
    return (
        mid.withColumn(out, struct)
        .withColumn(out + PATTERN_IDX_SUFFIX, F.col(f"{tmp}.idx"))
        .drop(tmp)
    )


def log_templates(
    df: DataFrame,
    message_col: str = "message",
    min_count: int = 1,
) -> DataFrame:
    """Log template mining — collapse every message's volatile fields
    (uuids, ips, hex ids, numbers) into placeholders and aggregate:
    (template, n_events, n_distinct_messages). The Drain-style first step
    of log AI: a corpus of millions of raw lines reduces to hundreds of
    templates whose counts feed anomaly detection and labeling.

    Deterministic single-pass form of what Drain does with an online
    parse tree: a codegen'd regexp_replace chain in the scan + ONE hash
    aggregate keyed on the template (messages themselves never shuffle —
    the distinct count rides the same shuffle). Patterns stay in the
    Java-regex ∩ RE2 subset for oracle parity."""
    m = F.col(message_col)
    t = F.regexp_replace(
        m,
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
        "<uuid>",
    )
    t = F.regexp_replace(t, r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<ip>")
    t = F.regexp_replace(t, r"0x[0-9a-fA-F]+|[0-9a-fA-F]{16,}", "<hex>")
    t = F.regexp_replace(t, r"[0-9]+", "<n>")
    return (
        df.select(t.alias("template"), m.alias("_m"))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("_m").alias("n_messages"),
        )
        .filter(F.col("n_events") >= min_count)
    )


# ---------------------------------------------------------------------------
# KV (key=value) extraction — the Logstash `kv` / logfmt surface
# ---------------------------------------------------------------------------

def kv_fields(
    df: DataFrame,
    col: str,
    keys: list[str] | tuple[str, ...],
    field_split: str = " ",
    value_split: str = "=",
    prefix: str = "",
) -> DataFrame:
    """Project named key=value fields out of a structured-log line (the
    Logstash ``kv`` filter / logfmt convention the Beats ecosystem feeds —
    framework dep at /root/reference/go.mod:139; the reference's own mapper
    fixtures carry exactly this shape in their messages).

    Zero regex at runtime, mirroring dissect's literal-split philosophy:
    the line splits once on ``field_split``, and each requested key takes
    the FIRST token equal to ``key + value_split + rest`` (first
    occurrence wins; a missing key yields NULL — the skip-on-missing
    semantics of O8/O9, never ``''``). Pure array Columns in the scan:
    at 100 TB this is a narrow map inside whole-stage codegen, one pass
    over the line no matter how many keys project.
    """
    toks = F.split(F.col(col), re.escape(field_split))

    # single-arg closure factory: a `lambda t, p=pat:` default-arg binding
    # would give the lambda TWO parameters, which F.filter reads as the
    # (element, index) form — the bound key would silently become the index.
    def _starts_with(p: str):
        return lambda t: t.startswith(p)

    out = []
    for k in keys:
        pat = k + value_split
        # F.get (0-based) returns NULL on empty arrays — ANSI-safe, unlike
        # element_at which throws on out-of-bounds under ANSI mode.
        hit = F.get(F.filter(toks, _starts_with(pat)), 0)
        out.append(F.substr(hit, F.lit(len(pat) + 1)).alias(prefix + k))
    return df.select("*", *out)


def kv_pairs(
    df: DataFrame,
    col: str,
    id_cols: tuple[str, ...] = ("url",),
    field_split: str = " ",
    value_split: str = "=",
) -> DataFrame:
    """Generic KV explode: every ``key=value`` token of the line becomes a
    (id…, key, value) row — the dynamic-schema form of :func:`kv_fields`
    for lines whose key set isn't known at compile time. Tokens without
    ``value_split`` drop; the key is everything before the FIRST separator
    occurrence, the value everything after (instr/substr — no regex).
    One explode in the scan, no shuffle."""
    toks = F.split(F.col(col), re.escape(field_split))
    pair = F.explode(
        F.filter(toks, lambda t: F.instr(t, value_split) > 0)
    ).alias("_kv_tok")
    tok = F.col("_kv_tok")
    return (
        df.select(*id_cols, pair)
        .select(
            *id_cols,
            F.substring_index(tok, value_split, 1).alias("key"),
            F.substr(
                tok, F.instr(tok, value_split) + F.lit(len(value_split))
            ).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Syslog decode — the Filebeat syslog input's RFC5424 frame
# ---------------------------------------------------------------------------

# RFC5424 severity/facility keyword tables (public constants)
SYSLOG_SEVERITIES = [
    "emerg", "alert", "crit", "err",
    "warning", "notice", "info", "debug",
]
SYSLOG_FACILITIES = [
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5",
    "local6", "local7",
]


def syslog_decode(df: DataFrame, col: str = "line", out: str = "syslog") -> DataFrame:
    """Decode RFC5424 syslog frames — the Filebeat syslog input's wire
    format (framework surface via /root/reference/go.mod:139):

        ``<PRI>VERSION TS HOST APP PROCID MSGID SD MSG``

    PRI parses from between the leading ``<`` ``>`` with instr/substr (no
    regex); ``facility = PRI / 8``, ``severity = PRI % 8``. The mandatory
    STRUCTURED-DATA field is either NILVALUE ``-`` (decodes to a NULL
    ``sd``) or one-or-more ``[id k="v" ...]`` elements captured verbatim
    into ``sd`` — PARAM-VALUEs may contain spaces and escaped ``\\]``, so
    SD must be lexed (bracket-aware, escape-aware) before the free-text
    MSG can start; a frame whose 7th field opens with neither ``-`` nor a
    well-formed element chain is malformed. A malformed frame — missing
    brackets, non-numeric or out-of-range PRI (>191), a short header, or
    bad SD — decodes to a NULL struct, the row-failure semantics of
    O5/O11 (never a half-populated event). The header splits on single
    spaces with a 7-field limit so SD+MSG keep their spaces. Everything
    is a pure Column chain: codegen'd, shuffle-free, and at 100 TB a
    narrow map over the scan like the grok path."""
    line = F.col(col)
    gt = F.instr(line, ">")
    pri_s = F.when(
        line.startswith("<") & (gt > 1), F.substr(line, F.lit(2), gt - 2)
    )
    pri = pri_s.try_cast("int")
    rest = F.substr(line, gt + 1)
    parts = F.split(rest, " ", 7)
    # 7th field = SD (NILVALUE or bracketed elements; ']' escapes as '\]')
    # then one SP and the MSG. Lex SD with an anchored escape-aware regex;
    # an empty capture means the SD token is malformed.
    tail = F.get(parts, 6)
    sd_raw = F.regexp_extract(
        tail, r"^(-|(?:\[(?:[^\]\\]|\\.)*\])+)(?: |$)", 1
    )
    msg = F.when(
        F.length(tail) > F.length(sd_raw),
        F.substr(tail, F.length(sd_raw) + 2),
    )
    ok = (
        pri.isNotNull()
        & (pri >= 0)
        & (pri <= 191)
        # try_cast alone would accept '1 2' via substr misalignment or
        # ' 12' whitespace forms; pin the exact digit run.
        & (pri_s == pri.cast("string"))
        & (F.size(parts) == 7)
        & (F.get(parts, 0) == F.lit("1"))
        & (sd_raw != "")
    )
    sev = pri % 8
    fac = (pri / 8).cast("int")
    struct = F.when(
        ok,
        F.struct(
            fac.alias("facility"),
            sev.alias("severity"),
            F.element_at(
                F.array(*[F.lit(s) for s in SYSLOG_SEVERITIES]), sev + 1
            ).alias("severity_name"),
            F.element_at(
                F.array(*[F.lit(s) for s in SYSLOG_FACILITIES]),
                F.when(fac < len(SYSLOG_FACILITIES), fac + 1),
            ).alias("facility_name"),
            F.get(parts, 1).alias("ts"),
            F.get(parts, 2).alias("host"),
            F.get(parts, 3).alias("app"),
            F.get(parts, 4).alias("procid"),
            F.get(parts, 5).alias("msgid"),
            F.when(sd_raw != "-", sd_raw).alias("sd"),
            msg.alias("msg"),
        ),
    )
    return df.withColumn(out, struct)
