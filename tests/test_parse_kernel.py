"""Edge fixtures for the html parse kernel (operators/html.py).

The expected values were produced by Python `re` on the earlier
kernels' combined template+grok pattern (a pandas `Series.str.extract`
kernel, then an Arrow/RE2 one) and are pinned here as literals, so the
slicing kernel must reproduce that regex exactly: one final newline
allowed, lazy groups that backtrack to a later marker when grok needs
it, DOTALL, and code-point (not byte) positions in non-ASCII text.
"""

import pytest

from hetman_spark.operators.html import extract_page
from hetman_spark.plans.pipeline import NGINX_PATTERN, build_parsed

LOG = '10.0.0.7 - - [09/Jun/2023:22:42:19 +0000] "GET /a HTTP/1.1" 500 612 "-" "curl/8.0"'
UNICODE_LOG = (
    '10.0.0.7 - \u00a0u\u0301 [d] "GET /e\u0301\U0001f600 HTTP/1.1" 200 1 '
    '"-" "\u00a0ua\U0001f600"'
)
NEWLINE_LOG = '10.0.0.7 - - [d] "GET\n/ HTTP/1.1" 404 0 "-" "u\na"'
MARKER_LOG = '10.0.0.7 - - [d] "GET /</p><!--log: x HTTP/1.1" 200 1 "-" "u"'


def page(text, log=LOG, title="T"):
    return (
        f"<html><head><title>{title}</title></head><body><p>{text}</p>"
        f"<!--log: {log} --></body></html>"
    ).encode()


CASES = {
    "trailing_newline": page("hello") + b"\n",
    "two_trailing_newlines": page("hello") + b"\n\n",
    "trailing_crlf": page("hello") + b"\r\n",
    "empty_bytes": b"",
    "null_html": None,
    "non_template": b"<html><body>plain page</body></html>",
    "grok_miss": page("kept text", log="not an access log"),
    "lazy_p_group": page("a</p>b</p>c"),
    "unicode_text": page("nb\u00a0sp e\u0301 \U0001f600 \u200b"),
    "unicode_log_fields": page("t", log=UNICODE_LOG),
    "newline_in_text_and_field": page("line\nbreak", log=NEWLINE_LOG),
    # pages where slicing at the first marker and the combined regex
    # could disagree
    "log_marker_in_text": page("a</p><!--log: b"),
    "log_marker_in_text_twice": page("a</p><!--log: b</p><!--log: c"),
    "log_marker_in_text_grok_miss": page("a</p><!--log: b", log="not an access log"),
    "log_marker_in_log_field": page("t", log=MARKER_LOG),
    "body_marker_in_text": page("B</title></head><body><p>x", title="A"),
    "suffix_in_log_line": page("kept", log=LOG + " --></body></html>x"),
    "log_line_ends_newline": page("kept", log=LOG + "\n"),
}

LOG_FIELDS = {
    "remote_addr": "10.0.0.7",
    "remote_user": "-",
    "time_local": "09/Jun/2023:22:42:19 +0000",
    "request": "GET /a HTTP/1.1",
    "status": "500",
    "bytes_sent": "612",
    "referrer": "-",
    "user_agent": "curl/8.0",
}

# non-null fields only; every other field of the struct is null
EXPECTED = {
    "trailing_newline": {"title": "T", "log_line": LOG, "text": "hello", **LOG_FIELDS},
    "two_trailing_newlines": {},
    "trailing_crlf": {},
    "empty_bytes": {},
    "null_html": {},
    "non_template": {},
    "grok_miss": {"title": "T", "log_line": "not an access log", "text": "kept text"},
    "lazy_p_group": {"title": "T", "log_line": LOG, "text": "a</p>b</p>c", **LOG_FIELDS},
    "unicode_text": {
        "title": "T", "log_line": LOG, "text": "nb\u00a0sp e\u0301 \U0001f600 \u200b", **LOG_FIELDS,
    },
    "unicode_log_fields": {
        "title": "T",
        "log_line": UNICODE_LOG,
        "text": "t",
        "remote_addr": "10.0.0.7",
        "remote_user": "\u00a0u\u0301",
        "time_local": "d",
        "request": "GET /e\u0301\U0001f600 HTTP/1.1",
        "status": "200",
        "bytes_sent": "1",
        "referrer": "-",
        "user_agent": "\u00a0ua\U0001f600",
    },
    "newline_in_text_and_field": {
        "title": "T",
        "log_line": NEWLINE_LOG,
        "text": "line\nbreak",
        "remote_addr": "10.0.0.7",
        "remote_user": "-",
        "time_local": "d",
        "request": "GET\n/ HTTP/1.1",
        "status": "404",
        "bytes_sent": "0",
        "referrer": "-",
        "user_agent": "u\na",
    },
    # the first log marker leaves a line grok rejects: the regex
    # backtracks to the next marker whose line parses
    "log_marker_in_text": {"title": "T", "log_line": LOG, "text": "a</p><!--log: b", **LOG_FIELDS},
    "log_marker_in_text_twice": {
        "title": "T", "log_line": LOG, "text": "a</p><!--log: b</p><!--log: c", **LOG_FIELDS,
    },
    # no marker gives a parsing line: the first marker splits text/log
    "log_marker_in_text_grok_miss": {
        "title": "T", "log_line": "b</p><!--log: not an access log", "text": "a",
    },
    # the first marker's line parses, so later markers stay in the log
    "log_marker_in_log_field": {
        "title": "T",
        "log_line": MARKER_LOG,
        "text": "t",
        "remote_addr": "10.0.0.7",
        "remote_user": "-",
        "time_local": "d",
        "request": "GET /</p><!--log: x HTTP/1.1",
        "status": "200",
        "bytes_sent": "1",
        "referrer": "-",
        "user_agent": "u",
    },
    "body_marker_in_text": {
        "title": "A", "log_line": LOG, "text": "B</title></head><body><p>x", **LOG_FIELDS,
    },
    # the log line runs to the LAST page suffix
    "suffix_in_log_line": {"title": "T", "log_line": LOG + " --></body></html>x", "text": "kept"},
    "log_line_ends_newline": {"title": "T", "log_line": LOG + "\n", "text": "kept"},
}


@pytest.fixture(scope="module")
def pages(spark):
    df = spark.createDataFrame(list(CASES.items()), "name string, html binary")
    # hits and misses in one partition
    return df.coalesce(1)


def test_kernel_edge_cases_match_python_regex(pages):
    fields = ["title", "text", "log_line", *LOG_FIELDS]
    got = {r["name"]: r["x"] for r in extract_page(pages, NGINX_PATTERN, "x").collect()}
    assert set(got) == set(CASES)
    for name, want in EXPECTED.items():
        x = got[name]
        assert x is not None, name  # a miss is a struct of nulls, never a null struct
        assert {k: v for k, v in x.asDict().items() if v is not None} == want, name
        assert list(x.asDict()) == fields


def test_invalid_utf8_fails_the_job(spark):
    """Strict decode: an invalid page fails the task; no row is
    repaired (a U+FFFD substitution would break byte-identical text)."""
    html = page("x").replace(b"<p>x</p>", b"<p>\xff</p>")
    bad = spark.createDataFrame([("bad", html)], "name string, html binary")
    with pytest.raises(Exception, match="(?i)utf-?8|MALFORMED"):
        build_parsed(bad).collect()


def test_build_parsed_edge_rows(spark, pages):
    """The pipeline's parse stage on the same pages, and its column
    contract (the build_parsed docstring): the input's columns except
    html, then the four parse columns."""
    from hetman_spark.sources.webtext import generate_webtext

    parsed = build_parsed(pages)
    assert parsed.columns == ["name", "extracted_text", "parsed", "parse_ok", "status_class"]
    assert build_parsed(generate_webtext(spark, 10, n_splits=2)).columns == [
        "url", "warc_ts", "text", "lang", "split_id",
        "extracted_text", "parsed", "parse_ok", "status_class",
    ]
    rows = {r["name"]: r for r in parsed.collect()}
    assert len(rows) == len(CASES)  # P6: no row dropped
    for name, want in EXPECTED.items():
        assert rows[name]["extracted_text"] == want.get("text"), name
        assert rows[name]["parse_ok"] is ("status" in want), name
    assert rows["grok_miss"]["status_class"] == "unparsed"
    assert rows["unicode_log_fields"]["parsed"]["user_agent"] == "\u00a0ua\U0001f600"
    assert rows["newline_in_text_and_field"]["status_class"] == "4xx"
