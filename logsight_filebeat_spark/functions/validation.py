r"""Output-record validation predicates — exact regexes of the reference.

Reference: /root/reference/plugin/api/log.go
  - levelRegex  (log.go:12): case-sensitive 10-value enum; "info" fails,
    "INFOINFO" fails (anchored per-alternative) — plugin/api/log_test.go:20-68.
  - iso8601Regex (log.go:13): validates the STRING SHAPE, never parses the
    value; fractional seconds and offset/Z optional; "2022-04-04T09:00" and
    "2022-04-04T09:00:35Z+02:00" fail — log_test.go:138-186.

The reference recompiles these per validate call (log.go:39,48 MustCompile
inside the method — a known inefficiency, SURVEY §4). Spark's `rlike` caches
the compiled pattern inside codegen, so we get the hoisting for free.

Both regexes are kept verbatim because the DuckDB oracles run them as RE2,
where `$` is the end of text, as in Go. Java's `$` also matches before a
final line terminator ("INFO\n", "INFO\r\n", "INFO\u2028"), so the Spark
predicates do not run them as written: the level check is a membership test
over the ten alternatives (one regex run fewer per event), and the timestamp
check ends in `\z`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# verbatim from /root/reference/plugin/api/log.go:12
LEVEL_RE = (
    "^INFO$|^WARNING$|^WARN$|^FINER$|^FINE$|^DEBUG$|^ERROR$|^ERR$"
    "|^EXCEPTION$|^SEVERE$"
)

# verbatim from /root/reference/plugin/api/log.go:13
ISO8601_RE = (
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(([+-]\d{2}:\d{2})|Z)?$"
)


# LEVEL_RE's alternatives are each anchored `^…$`: it matches exactly these
_LEVELS = tuple(alt.removeprefix("^").removesuffix("$") for alt in LEVEL_RE.split("|"))

# ISO8601_RE ending at the end of text, whatever its last character
_ISO8601_END_OF_TEXT = ISO8601_RE.removesuffix("$") + r"\z"


def valid_level(col: Column | str) -> Column:
    """Log.validateLevel (log.go:38-45). NULL level ⇒ invalid."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & c.isin(*_LEVELS)


def valid_timestamp(col: Column | str) -> Column:
    """Log.validateTimestamp (log.go:47-54). NULL timestamp ⇒ invalid."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & c.rlike(_ISO8601_END_OF_TEXT)
