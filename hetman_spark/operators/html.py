"""HTML payload extraction — the webtext analog of hetman's parse stage.

The html binary column plays pipeline.Data.LogLine
(/root/reference/internal/pipeline/pipeline.go:3-8); extraction pulls
(title, text, embedded access-log line) the way the reference parser
pulls Parsed fields from LogLine.

Correctness invariant (BASELINE.json input_hint): the extracted text
must be BYTE-IDENTICAL per url to the table's golden `text` column.
To make that achievable, decoding is pinned: utf-8, strict.
`decode(html, 'UTF-8')` fails the task with MALFORMED_CHARACTER_CODING
on an invalid page; `cast(html AS string)` would silently write U+FFFD
instead, so it is not used.  Generation writes valid utf-8.

One implementation, JVM column expressions only.  The page template is
fixed (sources/webtext.py HTML_*), so the kernel slices the decoded
page at its markers with locate/substring instead of running a regex
over it; only the embedded log line goes through a regex
(operators/parse.py parse_grok).  The slices equal the regex
``^PREFIX(title.*?)MID_1(text.*?)MID_2(log_line) SUFFIX\\n?$`` (DOTALL,
lazy groups, grok on log_line, the template alone when grok misses):

- title ends at the first MID_1;
- log_line runs to the page's final SUFFIX, which may be followed by
  one newline;
- text ends at the first MID_2 whose log line parses, or at the first
  MID_2 when none parses.  A later MID_2 can only sit inside the
  first-sliced log line, so the regex search for it runs only on the
  rare rows whose sliced line misses grok and contains the marker.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hetman_spark.operators.parse import grok_to_regex, parse_grok
from hetman_spark.sources.webtext import HTML_MID_1, HTML_MID_2, HTML_PREFIX, HTML_SUFFIX


def extract_page(df: DataFrame, grok_pattern: str, out: str) -> DataFrame:
    """Add column ``out``: struct<title, text, log_line, *grok fields>
    parsed from the binary ``html`` column (the whole parse stage).

    A page that matches no template (or null html) gives a non-null
    struct of null fields; a template page whose log line misses grok
    keeps title/text/log_line with null grok fields (P6).

    Three projections, each reading the previous one's fields: a
    column expression has no variable binding, so as one expression
    the slicing tree would repeat in every later use of the log line
    (backtracking, then grok's nine regex calls): a 186k-character
    plan and about 4 s of analysis and planning per query (local[4],
    4 CPUs).
    """
    s = F.decode(F.col("html"), "UTF-8")
    title_at = len(HTML_PREFIX) + 1  # substring/locate positions are 1-based
    mid_1 = F.position(F.lit(HTML_MID_1), s, F.lit(title_at))
    text_at = mid_1 + len(HTML_MID_1)
    mid_2 = F.position(F.lit(HTML_MID_2), s, text_at)
    log_at = mid_2 + len(HTML_MID_2)
    newline = s.endswith(HTML_SUFFIX + "\n")
    suffix_at = F.length(s) - len(HTML_SUFFIX) + 1 - newline.cast("int")
    hit = (
        s.startswith(HTML_PREFIX)
        & (mid_1 > 0)
        & (mid_2 > 0)
        & (s.endswith(HTML_SUFFIX) | newline)
        & (suffix_at >= log_at)
    )
    # a null start position makes every slice of a missed page null
    df = df.withColumn(
        out,
        F.struct(
            s.substr(F.when(hit, title_at), mid_1 - title_at).alias("title"),
            s.substr(F.when(hit, text_at), mid_2 - text_at).alias("text"),
            s.substr(F.when(hit, log_at), suffix_at - log_at).alias("log_line"),
        ),
    )

    # the regex's text group would backtrack to the first later marker
    # whose remainder parses; `later` finds it with a lazy prefix
    text, line = F.col(f"{out}.text"), F.col(f"{out}.log_line")
    grok_re, grok_fields = grok_to_regex(grok_pattern)
    later = "(?s)^(.*?)" + re.escape(HTML_MID_2) + "(" + grok_re.removeprefix("^") + ")"
    backtrack = line.contains(HTML_MID_2) & ~line.rlike(grok_re) & line.rlike(later)
    moved = F.concat(text, F.lit(HTML_MID_2), F.regexp_extract(line, later, 1))
    df = df.withColumn(
        out,
        F.col(out)
        .withField("text", F.when(backtrack, moved).otherwise(text))
        .withField("log_line", F.when(backtrack, F.regexp_extract(line, later, 2)).otherwise(line)),
    )

    log = parse_grok(line, grok_pattern)
    return df.withColumn(out, F.struct(F.col(f"{out}.*"), *[log[f].alias(f) for f in grok_fields]))
