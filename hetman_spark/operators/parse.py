"""Parse operators (SURVEY.md §2.2, P1-P4, P6).

The reference parses one line at a time in a goroutine
(/root/reference/internal/parser/parser.go:130-204) with four formats:
nginx/grok (gonx), JSON (fastjson, string-valued top-level keys only),
syslog RFC5424 and RFC3164.  Parse failures forward the record
UNPARSED — rows are never dropped (parser.go:148-155,201).

Here each format is a JVM column expression (no Python runs per row):

- nginx/grok: the $var pattern is translated to a regex once on the
  driver; extraction happens JVM-side with one regexp_extract per
  field (whole-stage codegen, no Python).  The webtext pipeline runs
  the same parse_grok on the log line it slices out of each page
  (operators/html.py:extract_page).
- JSON: one JVM expression over Spark's Variant parser that keeps
  the string-valued top-level keys, the reference's strings-only
  rule (reference internal/parser/parser.go:239-255).
- syslog: fixed grammars as JVM regexp_extract structs.

Every parser returns a null struct on failure and a parse_ok flag;
callers keep the row (P6) and count errors into lineage.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# P1: grok/nginx-style $var pattern -> regex
# ---------------------------------------------------------------------------


def grok_to_regex(pattern: str) -> tuple[str, list[str]]:
    """Translate an nginx-style ``$var`` pattern into an anchored Java
    regex with one positional capture group per variable.

    Semantics match gonx (used at
    /root/reference/internal/parser/parser.go:76-77): a variable
    matches any run of characters not containing the literal character
    that immediately follows it in the pattern (e.g. ``"$request"`` ->
    ``[^"]*``, ``[$time_local]`` -> ``[^\\]]*``); a trailing variable
    matches to end of line.  Golden case:
    /root/reference/internal/parser/parser_test.go:92-106.

    The end anchor is ``\\z`` (end of text), as Go's ``$`` without
    ``(?m)``; Java's ``$`` would also match before a final line
    terminator and accept a line ending in "\\n" or "\\r\\n".

    Returns (regex, field_names) — group i+1 captures field i.
    """
    token = re.compile(r"\$([A-Za-z_][A-Za-z0-9_]*)")
    fields: list[str] = []
    out: list[str] = ["^"]
    pos = 0
    for m in token.finditer(pattern):
        out.append(re.escape(pattern[pos : m.start()]))
        fields.append(m.group(1))
        nxt = pattern[m.end() : m.end() + 1]
        if nxt:
            out.append(f"([^{re.escape(nxt)}]*)")
        else:
            out.append("(.*)")
        pos = m.end()
    out.append(re.escape(pattern[pos:]))
    out.append(r"\z")
    return "".join(out), fields


def parse_grok(line: Column, pattern: str) -> Column:
    """JVM-side grok parse: struct<field: string, ...> or NULL when the
    line does not match (P6 passthrough is the caller's job).

    One regexp_extract per field — each is a codegen'd JVM expression;
    the pattern is compiled per task, not per row.
    """
    regex, fields = grok_to_regex(pattern)
    struct = F.struct(
        *[F.regexp_extract(line, regex, i + 1).alias(name) for i, name in enumerate(fields)]
    )
    return F.when(line.rlike(regex), struct).otherwise(F.lit(None).cast(_grok_type(fields)))


def _grok_type(fields: list[str]) -> T.StructType:
    return T.StructType([T.StructField(f, T.StringType()) for f in fields])


# ---------------------------------------------------------------------------
# P2: JSON parse
# ---------------------------------------------------------------------------


def parse_json(line: Column) -> Column:
    """P2: the reference's JSON parse keeps only the top-level keys
    whose value is a JSON string and drops the rest
    (reference internal/parser/parser.go:239-255, values failing
    StringBytes() are skipped): map<string,string>, or null for a line
    that is not a JSON object (caller keeps the row, P6).

    One JVM expression: try_parse_json (null on bad JSON), a try_cast
    to map<string,variant> (null unless the value is an object: arrays
    and scalars drop out), map_filter keeping the STRING-typed values
    (a JSON null, number, bool, array or object value is dropped), and
    a cast of the survivors to string.  A duplicated key keeps its
    last value, as Python's json.loads does ('{"a":"1","a":2}' gives
    {}), under the session default
    spark.sql.variant.allowDuplicateKeys=true (session.py); with
    Spark's default the whole line is null.

    Known divergences from json.loads: text after the top-level object
    is ignored ('{"a":"x"} junk' gives {a: x}, json.loads rejects the
    line), and an object holding a NaN or Infinity value is null
    (json.loads keeps its string keys).
    """
    obj = F.try_parse_json(line).try_cast("map<string,variant>")
    strings = F.map_filter(obj, lambda _k, v: F.schema_of_variant(v) == F.lit("STRING"))
    return strings.cast("map<string,string>")


# ---------------------------------------------------------------------------
# P3/P4: syslog
# ---------------------------------------------------------------------------

# RFC5424: <pri>version ts hostname app proc msgid structured-data msg
_RFC5424_RE = r"^<\d+>\d+ (\S+) (\S+) (\S+) (\S+) (\S+) (-|\[.*\])( (.*))?$"

_RFC5424_FIELDS = ["app_name", "hostname", "message", "msg_id", "proc_id", "structured_data"]


def parse_syslog_rfc5424(line: Column) -> Column:
    """RFC5424 -> struct of the reference's six string fields
    (string-valued keys of the parser dump only,
    /root/reference/internal/parser/parser.go:178-197; golden
    /root/reference/internal/parser/parser_test.go:125-138)."""
    struct = F.struct(
        F.regexp_extract(line, _RFC5424_RE, 3).alias("app_name"),
        F.regexp_extract(line, _RFC5424_RE, 2).alias("hostname"),
        F.regexp_extract(line, _RFC5424_RE, 8).alias("message"),
        F.regexp_extract(line, _RFC5424_RE, 5).alias("msg_id"),
        F.regexp_extract(line, _RFC5424_RE, 4).alias("proc_id"),
        F.regexp_extract(line, _RFC5424_RE, 6).alias("structured_data"),
    )
    return F.when(line.rlike(_RFC5424_RE), struct).otherwise(
        F.lit(None).cast(_grok_type(_RFC5424_FIELDS))
    )


# RFC3164: <pri>Mmm dd hh:mm:ss hostname tag[pid]: content
_RFC3164_RE = r"^<\d+>[A-Z][a-z]{2} +\d+ \d+:\d+:\d+ (\S+) ([^:\[\s]+)(\[\d+\])?: (.*)$"

_RFC3164_FIELDS = ["content", "hostname", "tag"]


def parse_syslog_rfc3164(line: Column) -> Column:
    """RFC3164 -> {content, hostname, tag} (golden
    /root/reference/internal/parser/parser_test.go:139-149)."""
    struct = F.struct(
        F.regexp_extract(line, _RFC3164_RE, 4).alias("content"),
        F.regexp_extract(line, _RFC3164_RE, 1).alias("hostname"),
        F.regexp_extract(line, _RFC3164_RE, 2).alias("tag"),
    )
    return F.when(line.rlike(_RFC3164_RE), struct).otherwise(
        F.lit(None).cast(_grok_type(_RFC3164_FIELDS))
    )
