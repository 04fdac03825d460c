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

Each micro-batch is a pipeline batch: foreachBatch hands the static
micro-batch to plans/pipeline.py process_batch (plan_batch with the
default spec -> write_sinks -> footer lineage -> one commit record),
the same body run_pipeline's loop runs — one definition of the
semantics, two execution modes, the core argument for rebuilding
hetman on Spark.

Sink: each epoch writes its own partition, data/epoch_id=<e>/, with
dynamic partition overwrite, and commits `_manifest/epoch-<e>.json`,
so a retried micro-batch replaces its own partial output and its own
record instead of duplicating them (exactly-once OBSERVABLE output on
top of foreachBatch's at-least-once delivery).  `status` and the
`stream` CLI read those records, as they read a batch run's.
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
    """The batch pipeline as a streaming query: foreachBatch runs
    process_batch (default spec) on each micro-batch, keyed by its
    epoch; the streaming commit log (checkpoint_dir) holds the offsets
    to resume from — the streaming twin of the batch manifest.
    """
    from hetman_spark.plans.pipeline import DEFAULT_SPEC, process_batch
    from hetman_spark.sources.lookup import lang_lookup

    lookup = lang_lookup(spark)

    def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch delivers at least once: a retried or restarted
        # micro-batch re-runs with the SAME epoch_id and overwrites its
        # own epoch partition and record
        process_batch(batch_df, DEFAULT_SPEC, lookup, out_dir, epoch_id=int(epoch_id))

    writer = (
        read_webtext_stream(spark, input_dir, max_files_per_trigger)
        .writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
