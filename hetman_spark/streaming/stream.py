"""Structured Streaming variant of the pipeline — the closest analog
of hetman's actual runtime shape (a continuously tailing agent).

Source mapping (SURVEY.md §2.1):
- S1/S4 file tail + rotation watch -> readStream file source: new
  files under the input dir are discovered per trigger
  (maxFilesPerTrigger plays the byte-budget backpressure FC1).
- S5 Kafka -> spark.readStream.format("kafka") (built-in; requires
  the kafka connector jar — gated behind try/except here).
- S2 offset resume -> the streaming checkpointLocation (exact
  offsets, built-in — the registry analog).

The transform chain REUSES the batch operators verbatim
(build_parsed / enrich / route): one definition of the semantics, two
execution modes — the core argument for rebuilding hetman on Spark.

Sink: foreachBatch -> the batch pipeline's sink writer
(plans/pipeline.py write_sinks: same file format), one partition per
epoch_id with dynamic partition overwrite, so a retried micro-batch
replaces its own partial output instead of duplicating it
(exactly-once OBSERVABLE output on top of foreachBatch's
at-least-once delivery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WEBTEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("split_id", T.IntegerType()),
    ]
)


def read_webtext_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """S1/S4: streaming scan of the webtext dir; new files are picked
    up automatically (rotation handling is free)."""
    return (
        spark.readStream.schema(WEBTEXT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def kafka_records_to_log_df(records: DataFrame, brokers: str = "", topics: str = "") -> DataFrame:
    """S5 value-schema adapter: Kafka-source rows -> pipeline rows.

    Pure DataFrame transform, testable WITHOUT the connector jar (the
    input is any frame with the standard Kafka source columns).  Maps
    exactly what the reference's ConsumeClaim relays
    (/root/reference/internal/tailer/kafka.go:36-42): value bytes ->
    log_line string, message timestamp -> warc_ts; the event-source
    label string matches GetEventSource's "topics=T|brokers=B" format
    (kafka.go:89-91).  topic/partition ride along as labels for the
    tag-merge stage (labels > parsed > add_tags)."""
    source = (
        F.lit(f"topics={topics}|brokers={brokers}")
        if (topics or brokers)
        else F.concat(F.lit("topics="), F.col("topic"))
    )
    return records.select(
        F.col("value").cast("string").alias("log_line"),
        F.col("timestamp").alias("warc_ts"),
        F.create_map(
            F.lit("source"), source,
            F.lit("topic"), F.col("topic"),
            F.lit("partition"), F.col("partition").cast("string"),
        ).alias("labels"),
    )


def log_df_to_kafka_records(df: DataFrame, topics: list[str], line_col: str = "log_line") -> DataFrame:
    """F4 sink adapter: pipeline rows -> Kafka producer records.

    One record per (topic x row) with value = the log line — the
    reference's SendEvents loop (/root/reference/internal/forwarder/
    kafka.go:37-47: for topic / for item -> ProducerMessage{Topic,
    Value: item.LogLine}).  Output columns (topic, value) are exactly
    what .format('kafka') writes; required-acks/retries are writer
    options (kafka.request.required.acks=-1), not data."""
    return (
        df.select(
            F.explode(F.array(*[F.lit(t) for t in topics])).alias("topic"),
            F.col(line_col).cast("binary").alias("value"),
        )
    )


def read_kafka_stream(spark: SparkSession, brokers: str, topics: str) -> DataFrame:
    """S5: Kafka source (connector jar not in this container — raises
    a clear error instead of a cryptic ClassNotFound).  The value
    mapping itself lives in kafka_records_to_log_df (tested jar-free)."""
    try:
        records = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topics)
            .load()
        )
    except Exception as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "kafka source requires spark-sql-kafka jar on the classpath"
        ) from e
    return kafka_records_to_log_df(records, brokers=brokers, topics=topics)


def streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    max_files_per_trigger: int = 4,
):
    """The full parse -> enrich -> route chain as a streaming query.

    foreachBatch reuses the batch router + writer; the streaming
    commit log (checkpoint_dir) makes each micro-batch exactly-once —
    the streaming twin of the batch manifest.
    """
    from hetman_spark.plans.pipeline import build_parsed, build_routed, tags_disjoint, write_sinks
    from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup

    lookup = lang_lookup(spark)
    disjoint = tags_disjoint(DEFAULT_SINKS)

    stream = read_webtext_stream(spark, input_dir, max_files_per_trigger)
    parsed = build_parsed(stream)

    def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Idempotent sink: foreachBatch gives at-least-once delivery (a
        # retried/restarted micro-batch re-runs with the SAME epoch_id),
        # so a blind append would duplicate rows.  Writing each epoch
        # into its own partition with dynamic partition overwrite makes
        # the retry replace its earlier partial output — the streaming
        # twin of the batch manifest's overwrite-then-commit design.
        #
        # The conf MUST be set on batch_df.sparkSession: foreachBatch
        # executes under a CLONED session whose conf snapshot was taken
        # at stream start, so setting it on the outer session is a
        # no-op for this write — static overwrite then silently wipes
        # every earlier epoch (caught by the `stream` CLI on a fresh
        # session; the pytest had masked it via conf leakage from an
        # earlier batch-pipeline test).
        batch_df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        routed = build_routed(
            batch_df.join(F.broadcast(lookup), "lang", "left"),
            disjoint_tags=disjoint, sinks=DEFAULT_SINKS,
        )
        write_sinks(
            routed.withColumn("epoch_id", F.lit(int(epoch_id))),
            f"{out_dir}/data",
            ["epoch_id", "sink_id", "split_id"],
        )

    writer = (
        parsed.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts_stream(
    spark: SparkSession, input_dir: str, window: str = "1 hour", watermark: str = "2 hours"
):
    """A2 as a live metric: per-(window, lang) page counts with a
    watermark for late data — hetman's forwardedLogCount re-expressed
    as a streaming aggregation."""
    stream = read_webtext_stream(spark, input_dir)
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "lang", "n")
    )


def dedup_stream(
    lines: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
    exact_within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact-dedup: drop content-duplicate records as they
    arrive — the continuous twin of functions/dedup.py:exact_dedup
    (which groups a static corpus).  The LLM-pipeline use: a crawler
    feed where re-fetches and mirror pages must not reach the corpus
    twice.

    key_cols defaults to a content hash of `text` (md5 — matching
    exact_dedup's grouping key) so byte-identical pages dedup even
    when their urls differ.

    State-boundedness at scale: dropDuplicatesWithinWatermark keeps a
    key's state only until the watermark passes it — a duplicate
    arriving later than `watermark` after the original is NOT caught,
    which is the honest trade every streaming dedup makes (unbounded
    dropDuplicates state would OOM a perpetual tailer; set
    exact_within_watermark=False to get it for bounded drains).  The
    batch exact_dedup remains the exhaustive ground truth for
    compaction passes.
    """
    if key_cols is None:
        # Only pay the per-row md5 when it is actually the dedup key;
        # caller-supplied key_cols dedup on their own columns and must
        # not see an internal _content_hash column in the output schema.
        hashed = lines.withColumn("_content_hash", F.md5(F.col("text").cast("binary")))
        keys = ["_content_hash"]
    else:
        hashed = lines
        keys = key_cols
    wm = hashed.withWatermark(ts_col, watermark)
    if exact_within_watermark:
        out = wm.dropDuplicatesWithinWatermark(keys)
    else:
        out = wm.dropDuplicates(keys)
    return out.drop("_content_hash") if key_cols is None else out


def distinct_users_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exact windowed distinct-user counts on a STREAM — the continuous
    twin of the batch events_user_windows entry.

    Streaming aggregations reject COUNT(DISTINCT), and HLL sketches
    are engine/merge-order dependent (the same reason the batch entry
    rejects them, entry_queries.q_events_user_windows).  The exact
    streaming construction is dedup-then-count: drop duplicate
    (window, user) pairs within the watermark, then a windowed count —
    each surviving row is one distinct user in that window, and both
    stateful stages are bounded by the same watermark.  Append-mode
    output: a window's count emits once, when the watermark passes its
    end (late events inside the watermark are still counted; later
    ones are dropped — the documented streaming trade)."""
    wstart = F.window(F.col(ts_col), window)
    dd = (
        events.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), wstart["start"].alias("wstart"), F.col(user_col).alias("u"))
        .dropDuplicatesWithinWatermark(["wstart", "u"])
    )
    return (
        dd.groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
    )
