"""S5/S6 source adapters: Loki payload decode and the Kafka value
schema — the jar-free halves of the two connector-shaped sources.
"""

import gzip
import json
import os

from pyspark.sql import functions as F

from hetman_spark.sources.labeled import loki_payload_to_df, loki_to_webtext

# the reference's test payload (aggregator_test.go:85-105): one stream
# with labels {tag_a: a, tag_b: b} and one [timestamp, logLine] pair
REF_PAYLOAD = {
    "streams": [
        {
            "stream": {"tag_a": "a", "tag_b": "b"},
            "values": [["timestamp", "logLine"]],
        }
    ]
}


def test_loki_payload_golden(spark, tmp_path):
    p = tmp_path / "payloads"
    p.mkdir()
    (p / "p1.json").write_text(json.dumps(REF_PAYLOAD))
    rows = loki_payload_to_df(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    # aggregator.go:74-81: Timestamp=value[0], LogLine=value[1],
    # Labels=stream.Stream
    assert r["warc_ts"] == "timestamp"
    assert r["log_line"] == "logLine"
    assert dict(r["labels"]) == {"tag_a": "a", "tag_b": "b"}


def test_loki_payload_gzip_and_multi_stream(spark, tmp_path):
    p = tmp_path / "payloads"
    p.mkdir()
    payload = {
        "streams": [
            {"stream": {"s": "1"}, "values": [["t1", "l1"], ["t2", "l2"]]},
            {"stream": {"s": "2"}, "values": [["t3", "l3"]]},
        ]
    }
    (p / "p1.json.gz").write_bytes(gzip.compress(json.dumps(payload).encode()))
    df = loki_payload_to_df(spark, str(p))
    rows = {r["log_line"]: r for r in df.collect()}
    assert set(rows) == {"l1", "l2", "l3"}
    assert dict(rows["l3"]["labels"]) == {"s": "2"}


def test_loki_payload_invalid_body_dropped(spark, tmp_path):
    # aggregator.go:66-69 rejects undecodable bodies with HTTP 500;
    # the batch analog drops them (never crashes the job)
    p = tmp_path / "payloads"
    p.mkdir()
    (p / "bad.json").write_text('"abc"')
    (p / "good.json").write_text(json.dumps(REF_PAYLOAD))
    assert loki_payload_to_df(spark, str(p)).count() == 1


def test_loki_to_webtext_fills_missing_and_bad_timestamps(spark, tmp_path):
    """F3 (loki.go:27-31): a pushed record whose timestamp is missing
    or does not parse is stamped with the current time; a good one is
    kept."""
    import datetime

    p = tmp_path / "payloads"
    p.mkdir()
    # the source label becomes the url: one stream per case
    values = {"good": "2024-01-02 12:00:00", "bad": "timestamp", "missing": None}
    payload = {"streams": [{"stream": {"source": k}, "values": [[ts, "line"]]}
                           for k, ts in values.items()]}
    (p / "p1.json").write_text(json.dumps(payload))
    before = datetime.datetime.now()
    got = {r["url"]: r["warc_ts"]
           for r in loki_to_webtext(loki_payload_to_df(spark, str(p))).collect()}
    assert got["good"].date() == datetime.date(2024, 1, 2)
    for case in ("bad", "missing"):
        assert got[case] is not None, case
        assert abs((got[case] - before).total_seconds()) < 600, (case, got[case])


def test_loki_payload_e2e_through_pipeline(spark, tmp_path):
    """Full S6 path: HTTP-payload files -> decode -> webtext adapter ->
    run_pipeline labeled union; upstream labels win the tag merge."""
    from hetman_spark.plans.pipeline import run_pipeline
    from hetman_spark.sources.webtext import write_webtext

    payload = {
        "streams": [
            {
                "stream": {"origin": "push", "status": "pushed-status"},
                "values": [
                    [
                        "2024-01-02T03:04:05Z",
                        '203.0.113.9 - - [02/Jan/2024:03:04:05 +0000] '
                        '"GET /push/1 HTTP/1.1" 500 123 "-" "curl/8"',
                    ]
                ],
            }
        ]
    }
    pdir = tmp_path / "payloads"
    pdir.mkdir()
    (pdir / "p.json.gz").write_bytes(gzip.compress(json.dumps(payload).encode()))

    main = str(tmp_path / "main")
    push = str(tmp_path / "push")
    write_webtext(spark, main, 200, n_splits=4)
    decoded = loki_to_webtext(loki_payload_to_df(spark, str(pdir)), n_splits=4)
    decoded.repartition(1).write.partitionBy("split_id").parquet(push)

    out = str(tmp_path / "out")
    res = run_pipeline(spark, main, out, labeled_input_path=push, splits_per_commit=8)
    assert res.rows_in == 201

    data = spark.read.parquet(os.path.join(out, "data"))
    pushed = data.filter(F.col("tags")["origin"] == "push")
    # the pushed record parsed (real nginx line) and was routed at
    # least to the match-all sink and the 5xx errors sink
    assert pushed.count() >= 2
    row = pushed.limit(1).collect()[0]
    assert row["tags"]["status"] == "pushed-status"  # label wins merge


def test_kafka_value_schema_adapter(spark):
    from hetman_spark.streaming.stream import kafka_records_to_log_df

    records = spark.createDataFrame(
        [
            (None, b"line-1", "logs", 0, 42, "2024-01-01 00:00:00", 0),
            (b"k", b"line-2", "logs", 1, 43, "2024-01-01 00:00:01", 0),
        ],
        "key binary, value binary, topic string, partition int, offset long, "
        "ts_str string, timestampType int",
    ).withColumn("timestamp", F.to_timestamp("ts_str")).drop("ts_str")

    out = kafka_records_to_log_df(records, brokers="b1:9092", topics="logs")
    rows = {r["log_line"]: r for r in out.collect()}
    # kafka.go:37-42: string(msg.Value) -> LogLine, msg.Timestamp
    assert set(rows) == {"line-1", "line-2"}
    assert rows["line-2"]["labels"]["partition"] == "1"
    # GetEventSource format (kafka.go:89-91)
    assert rows["line-1"]["labels"]["source"] == "topics=logs|brokers=b1:9092"
    assert rows["line-1"]["warc_ts"] is not None


def test_kafka_sink_adapter(spark):
    from hetman_spark.streaming.stream import log_df_to_kafka_records

    df = spark.createDataFrame([("a",), ("b",)], "log_line string")
    out = log_df_to_kafka_records(df, topics=["t1", "t2"])
    rows = out.collect()
    # forwarder/kafka.go:37-47: one message per (topic x record)
    assert len(rows) == 4
    assert {(r["topic"], bytes(r["value"]).decode()) for r in rows} == {
        ("t1", "a"), ("t1", "b"), ("t2", "a"), ("t2", "b"),
    }
    assert out.columns == ["topic", "value"]
