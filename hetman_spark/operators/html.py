"""HTML payload extraction — the webtext analog of hetman's parse stage.

The html binary column plays pipeline.Data.LogLine
(/root/reference/internal/pipeline/pipeline.go:3-8); extraction pulls
(title, text, embedded access-log line) the way the reference parser
pulls Parsed fields from LogLine.

Correctness invariant (BASELINE.json input_hint): the extracted text
must be BYTE-IDENTICAL per url to the table's golden `text` column.
To make that achievable, decoding is pinned: utf-8, strict (an invalid
page fails the task instead of being silently repaired; generation
writes valid utf-8), and extraction is a fixed DOTALL regex over the
decoded string.

One implementation: an Arrow UDF over pyarrow.compute.  Decode is a
binary->string cast and the regex is RE2 `extract_regex`; both run in
C++ over the whole Arrow batch, so no Python object is built per row.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The page template is defined by the generator
# (hetman_spark/sources/webtext.py); these patterns are its inverse.
# `\n?$`: Python's `$` also matches before one final newline and RE2's
# does not; the optional newline keeps the accepted pages identical to
# the Python-regex kernel's (a page ending in "\n" parses, "\n\n" not).
_HEAD = r"(?s)^<html><head><title>(?P<title>.*?)</title></head><body><p>(?P<text>.*?)</p><!--log: "
_TAIL = r" --></body></html>\n?$"
_TEMPLATE_RE = _HEAD + r"(?P<log_line>.*?)" + _TAIL
_TEMPLATE_FIELDS = ["title", "text", "log_line"]


def make_full_extract_udf(grok_pattern: str, include_aux: bool = True):
    """ONE Arrow-batched UDF doing the whole parse stage: decode html,
    extract title/text/log_line AND the grok fields of the embedded
    access-log line in a single combined regex pass per batch.

    Motivation (measured at 100k rows, local[32]): two chained UDFs
    (html fields, then grok on log_line) cost ~70s vs ~17s for the
    pure-JVM path — the html payload crossed the Arrow boundary twice
    and the regex scanned each page twice.  The combined UDF crosses
    once and scans once; a second pass over only the rows whose
    embedded line did NOT match the grok pattern (template matches,
    log doesn't) recovers title/text/log_line so P6 passthrough holds.

    include_aux=False drops title and log_line from the RETURNED
    struct (they are still captured by the same regex pass).  Spark
    does not push struct-field pruning into a Python UDF, so an unused
    field still pays Arrow serialization for every row — ~210
    bytes/row here.  The pipeline never emits title/log_line
    (FIXTURES §5 row shape), so it uses the slim variant.

    Rows that match no template (or are null) come back as a non-null
    struct of null fields.  Returns (udf, field_names) where the struct
    is [title, log_line,] text + the grok fields.
    """
    from hetman_spark.operators.parse import grok_to_regex

    grok_named, grok_fields = grok_to_regex(grok_pattern, named=True)
    # inner grok regex, de-anchored, spliced where the template has
    # log_line; RE2 accepts grok_to_regex's Python syntax unchanged
    inner = grok_named.removeprefix("^").removesuffix("$")
    combined = _HEAD + r"(?P<log_line>" + inner + r")" + _TAIL
    aux = ["title", "log_line"] if include_aux else []
    all_fields = [*aux, "text", *grok_fields]
    ret_type = T.StructType([T.StructField(f, T.StringType()) for f in all_fields])

    @F.arrow_udf(ret_type)
    def full_extract(html: pa.Array) -> pa.Array:
        decoded = pc.cast(html, pa.string())
        # flatten() folds the match struct's validity into its fields:
        # a page that does not match gives null in every field
        out = dict(zip([*_TEMPLATE_FIELDS, *grok_fields],
                       pc.extract_regex(decoded, combined).flatten()))
        missed = pc.is_null(out["text"])
        if pc.any(missed).as_py():
            # template may match even when the log line does not parse
            # (P6: keep title/text, null grok fields)
            fallback = pc.extract_regex(decoded.filter(missed), _TEMPLATE_RE).flatten()
            for name, col in zip(_TEMPLATE_FIELDS, fallback):
                out[name] = pc.replace_with_mask(out[name], missed, col)
        return pa.StructArray.from_arrays([out[f] for f in all_fields], names=all_fields)

    return full_extract, all_fields
