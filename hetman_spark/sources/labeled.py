"""S6: pre-labeled push source (aggregator mode).

The reference's aggregator receives Loki-style payloads over HTTP and
fans each record into every workflow's channel with its upstream
labels attached (/root/reference/internal/cmd/aggregator.go:29-85).
Batch rebuild (SURVEY §2.1 S6): a second source table whose rows
already carry a `labels` map column, unioned with the file-source
frame before the parse stage; the tag merge gives those labels top
precedence (labels > parsed > add_tags, loki.go:33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hetman_spark.operators.modify import fill_timestamp

LABELS_TYPE = "map<string,string>"

# forwarder.Payload / PayloadStream — the Loki-style push body
# (/root/reference/internal/forwarder/forwarder.go:20-27): values is a
# list of [timestamp, logLine] string pairs per labeled stream.
PAYLOAD_SCHEMA = (
    "struct<streams: array<struct<"
    "stream: map<string,string>, values: array<array<string>>>>>"
)


def loki_payload_to_df(spark: SparkSession, path: str) -> DataFrame:
    """Decode Loki-style push payload files into (warc_ts, log_line,
    labels) rows — the batch rebuild of the aggregator's HTTP decode
    loop (/root/reference/internal/cmd/aggregator.go:29-85: unmarshal,
    then for stream in payload.Streams / for value in stream.Values ->
    pipeline.Data{Timestamp: value[0], LogLine: value[1], Labels:
    stream.Stream}).

    - One file = one payload document (wholetext read).  gzip bodies
      (Content-Encoding: gzip in the reference) are .json.gz files
      here — Spark's text source decompresses by extension.
    - A payload that fails to decode yields NULL from from_json and is
      dropped, the batch analog of the reference's HTTP 500 rejection.
    - try_element_at guards malformed value pairs (ANSI mode throws on
      element_at past the end).
    """
    raw = spark.read.text(path, wholetext=True)
    return (
        raw.select(F.from_json("value", PAYLOAD_SCHEMA).alias("p"))
        .select(F.explode("p.streams").alias("s"))
        .select(F.col("s.stream").alias("labels"), F.explode("s.values").alias("v"))
        .select(
            F.try_element_at("v", F.lit(1)).alias("warc_ts"),
            F.try_element_at("v", F.lit(2)).alias("log_line"),
            "labels",
        )
    )


def loki_to_webtext(decoded: DataFrame, n_splits: int = 16) -> DataFrame:
    """Adapt decoded payload rows to the webtext source shape so the
    aggregator path unions into the SAME pipeline (run_pipeline
    labeled_input_path).  The pushed record's payload is its log line;
    it is embedded in the minimal html wrapper the parse stage
    extracts from (a push record has no page body, so text is empty —
    the parse/grok stage still gets real fields).  Timestamps are
    opaque strings in the reference (aggregator_test.go:89 sends
    "timestamp"): a missing or unparseable one is no error; it is
    stamped with the current time (F3, fill_timestamp), as the
    reference's Loki forwarder stamps a record without one."""
    url = F.coalesce(
        F.try_element_at("labels", F.lit("source")), F.lit("push://payload")
    )
    html = F.concat(
        F.lit("<html><head><title></title></head><body><p></p><!--log: "),
        F.coalesce(F.col("log_line"), F.lit("")),
        F.lit(" --></body></html>"),
    ).cast("binary")
    return decoded.select(
        url.alias("url"),
        fill_timestamp(F.try_to_timestamp(F.col("warc_ts"))).alias("warc_ts"),
        html.alias("html"),
        F.lit("").alias("text"),
        F.coalesce(
            F.try_element_at("labels", F.lit("lang")), F.lit("other")
        ).alias("lang"),
        F.pmod(
            F.xxhash64(url, F.coalesce(F.col("log_line"), F.lit(""))), F.lit(n_splits)
        )
        .cast("int")
        .alias("split_id"),
        "labels",
    )


def with_labels(df: DataFrame, labels: dict[str, str] | None = None) -> DataFrame:
    """Attach a constant labels map (or an empty/null one)."""
    if labels:
        lit_map = F.create_map(*[x for k, v in sorted(labels.items()) for x in (F.lit(k), F.lit(v))])
        return df.withColumn("labels", lit_map)
    return df.withColumn("labels", F.lit(None).cast(LABELS_TYPE))


def union_labeled(file_source: DataFrame, labeled_source: DataFrame) -> DataFrame:
    """Union the tailed-file frame with an already-labeled push frame,
    normalizing the `labels` column on both sides (missing -> null)."""
    a = file_source if "labels" in file_source.columns else with_labels(file_source)
    b = labeled_source if "labels" in labeled_source.columns else with_labels(labeled_source)
    return a.unionByName(b.select(a.columns))
