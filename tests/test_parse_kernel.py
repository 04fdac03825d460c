"""Edge fixtures for the html parse kernel (operators/html.py).

The expected values were produced by the earlier pandas
`Series.str.extract` kernel (Python `re`) and are pinned here as
literals, so the Arrow/RE2 kernel must reproduce Python-regex
semantics exactly: `$` before one final newline, lazy groups, DOTALL,
and code-point (not byte) matching of non-ASCII text.
"""

import pytest

from hetman_spark.operators.html import make_full_extract_udf
from hetman_spark.plans.pipeline import NGINX_PATTERN, build_parsed

LOG = '10.0.0.7 - - [09/Jun/2023:22:42:19 +0000] "GET /a HTTP/1.1" 500 612 "-" "curl/8.0"'
UNICODE_LOG = (
    '10.0.0.7 - \u00a0u\u0301 [d] "GET /e\u0301\U0001f600 HTTP/1.1" 200 1 '
    '"-" "\u00a0ua\U0001f600"'
)
NEWLINE_LOG = '10.0.0.7 - - [d] "GET\n/ HTTP/1.1" 404 0 "-" "u\na"'


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
}


@pytest.fixture(scope="module")
def pages(spark):
    df = spark.createDataFrame(list(CASES.items()), "name string, html binary")
    # several rows per Arrow batch and a mix of hits and misses in one
    # batch: the fallback pass scatters back by mask
    return df.coalesce(1)


def test_kernel_edge_cases_match_python_regex(pages):
    udf, fields = make_full_extract_udf(NGINX_PATTERN, include_aux=True)
    got = {r["name"]: r["x"] for r in pages.select("name", udf("html").alias("x")).collect()}
    assert set(got) == set(CASES)
    for name, want in EXPECTED.items():
        x = got[name]
        assert x is not None, name  # a miss is a struct of nulls, never a null struct
        assert {k: v for k, v in x.asDict().items() if v is not None} == want, name
        assert list(x.asDict()) == fields


def test_build_parsed_edge_rows(pages):
    """The pipeline's slim kernel (no title/log_line) on the same pages."""
    rows = {r["name"]: r for r in build_parsed(pages).collect()}
    assert len(rows) == len(CASES)  # P6: no row dropped
    for name, want in EXPECTED.items():
        assert rows[name]["extracted_text"] == want.get("text"), name
        assert rows[name]["parse_ok"] is ("status" in want), name
    assert rows["grok_miss"]["status_class"] == "unparsed"
    assert rows["unicode_log_fields"]["parsed"]["user_agent"] == "\u00a0ua\U0001f600"
    assert rows["newline_in_text_and_field"]["status_class"] == "4xx"
