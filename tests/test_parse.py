"""Parser golden tests — cases verbatim from
/root/reference/internal/parser/parser_test.go:90-208."""

from pyspark.sql import functions as F

from hetman_spark.operators.parse import (
    grok_to_regex,
    parse_grok,
    parse_json,
    parse_syslog_rfc3164,
    parse_syslog_rfc5424,
)

NGINX_PATTERN = (
    '$remote_addr - $remote_user [$time_local] "$request" '
    '$status $bytes_sent "$referrer" "$user_agent"'
)
NGINX_LINE = (
    '127.0.0.1 - - [09/Jun/2023:22:42:19 +0000] "GET / HTTP/1.1" 200 612 "-" '
    '"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) '
    'Chrome/99.0.4844.84 Safari/537.36"'
)
NGINX_EXPECTED = {
    "bytes_sent": "612",
    "referrer": "-",
    "remote_addr": "127.0.0.1",
    "remote_user": "-",
    "request": "GET / HTTP/1.1",
    "status": "200",
    "time_local": "09/Jun/2023:22:42:19 +0000",
    "user_agent": (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/99.0.4844.84 Safari/537.36"
    ),
}


def _one(df, col="p"):
    return df.select(col).collect()[0][col]


def test_grok_to_regex_fields():
    _, fields = grok_to_regex(NGINX_PATTERN)
    assert fields == [
        "remote_addr", "remote_user", "time_local", "request",
        "status", "bytes_sent", "referrer", "user_agent",
    ]


def test_nginx_parse_jvm(spark):
    # golden: parser_test.go:91-107
    df = spark.createDataFrame([(NGINX_LINE,)], "line string")
    row = _one(df.select(parse_grok(F.col("line"), NGINX_PATTERN).alias("p")))
    assert row.asDict() == NGINX_EXPECTED


def test_nginx_parse_failure_is_null_not_dropped(spark):
    # P6: parse failures forward the record unparsed (parser.go:148-155,201)
    df = spark.createDataFrame([("not an access log",), (NGINX_LINE,)], "line string")
    out = df.select(parse_grok(F.col("line"), NGINX_PATTERN).alias("p")).collect()
    assert len(out) == 2
    assert out[0]["p"] is None
    assert out[1]["p"] is not None


def test_nginx_parse_anchors_at_end_of_text(spark):
    # Go's `$` without (?m) is end of text: a trailing line terminator
    # is not part of the last field and fails the match
    lines = [NGINX_LINE + "\n", NGINX_LINE + "\r\n"]
    df = spark.createDataFrame([(x,) for x in lines], "line string")
    out = df.select(parse_grok(F.col("line"), NGINX_PATTERN).alias("p")).collect()
    assert [r["p"] for r in out] == [None, None]


def test_json_parse_golden(spark):
    # golden: parser_test.go:108-124
    line = (
        '{"timestamp": "2023-06-10T01:14:26.000Z", "level": "info", '
        '"source": "stdout", "message": "This is an info message from stdout"}'
    )
    df = spark.createDataFrame([(line,)], "line string")
    assert _one(df.select(parse_json(F.col("line")).alias("p"))) == {
        "timestamp": "2023-06-10T01:14:26.000Z",
        "level": "info",
        "source": "stdout",
        "message": "This is an info message from stdout",
    }


def test_json_parse_strings_only(spark):
    # strings-only rule: getKeyValuePairs, parser.go:239-255; anything
    # but a JSON object is null and the row is kept (P6)
    cases = [
        ('{"a":"1","n":2,"obj":{"x":"y"},"b":"2","arr":[1],"f":false}', {"a": "1", "b": "2"}),
        ('{"n":null,"s":"","u":"caf\\u00e9"}', {"s": "", "u": "café"}),
        ('{"a":"1","a":"2"}', {"a": "2"}),  # a duplicated key keeps its last value
        ('{"a":"1","a":2}', {}),
        ("{}", {}),
        ("[1,2]", None),
        ('["a"]', None),
        ('"s"', None),
        ("3", None),
        ("null", None),
        ("not json", None),
        ('{"a":"1",}', None),
        (None, None),
    ]
    df = spark.createDataFrame([(i, line) for i, (line, _want) in enumerate(cases)], "i int, line string")
    parsed = df.select("i", parse_json(F.col("line")).alias("p"))
    got = {r["i"]: r["p"] for r in parsed.collect()}
    assert [got[i] for i in range(len(cases))] == [want for _line, want in cases]
    # one JVM expression: no Python worker in the physical plan
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "pythonUDF" not in plan


def test_syslog_rfc5424(spark):
    # golden: parser_test.go:125-138
    line = (
        "<165>1 2003-10-11T22:14:15.003Z mymachine.example.com eventlog - ID47 "
        '[exampleSDID@32473 iut="3" eventSource="Application" eventID="1011"] '
        "SBOM application event log entry..."
    )
    df = spark.createDataFrame([(line,)], "line string")
    row = _one(df.select(parse_syslog_rfc5424(F.col("line")).alias("p")))
    assert row.asDict() == {
        "app_name": "eventlog",
        "hostname": "mymachine.example.com",
        "message": "SBOM application event log entry...",
        "msg_id": "ID47",
        "proc_id": "-",
        "structured_data": '[exampleSDID@32473 iut="3" eventSource="Application" eventID="1011"]',
    }


def test_syslog_rfc3164(spark):
    # golden: parser_test.go:139-149
    line = "<34>Oct 11 22:14:15 mymachine su: 'su root' failed for lonvick on /dev/pts/8"
    df = spark.createDataFrame([(line,)], "line string")
    row = _one(df.select(parse_syslog_rfc3164(F.col("line")).alias("p")))
    assert row.asDict() == {
        "content": "'su root' failed for lonvick on /dev/pts/8",
        "hostname": "mymachine",
        "tag": "su",
    }
