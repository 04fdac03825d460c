"""Streaming-mode tests: the readStream twin of the batch pipeline."""

import os
import time

from pyspark.sql import functions as F

from hetman_spark.sources.webtext import write_webtext
from hetman_spark.streaming.stream import streaming_pipeline, windowed_counts_stream


def test_streaming_pipeline_matches_batch(spark, tmp_path):
    wt = str(tmp_path / "wt")
    write_webtext(spark, wt, 1000, n_splits=4)

    out = str(tmp_path / "out")
    q = streaming_pipeline(spark, wt, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    data = spark.read.parquet(os.path.join(out, "data"))
    counts = {r["sink_id"]: r["n"] for r in data.groupBy("sink_id").agg(F.count("*").alias("n")).collect()}
    assert max(counts.values()) == 1000  # match-all sink got every row

    # restart with same checkpoint: no new files -> no duplicates
    q2 = streaming_pipeline(spark, wt, out, str(tmp_path / "ckpt"))
    q2.awaitTermination(60)
    data2 = spark.read.parquet(os.path.join(out, "data"))
    assert data2.count() == data.count()


def test_windowed_counts(spark, tmp_path):
    wt = str(tmp_path / "wt2")
    write_webtext(spark, wt, 500, n_splits=2)
    agg = windowed_counts_stream(spark, wt, window="6 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT sum(n) AS total FROM win_counts").collect()
    assert rows[0]["total"] == 500


def _drain(query, n_rows: int, limit_s: float = 120) -> None:
    """Wait until `query` has committed batches covering `n_rows` input
    rows, then stop it.  Neither awaitTermination nor
    processAllAvailable can end this query on its own: with a
    processing-time timeout registered in state, availableNow keeps
    running no-data batches until the timeout fires."""
    deadline = time.monotonic() + limit_s
    while sum(p.numInputRows for p in query.recentProgress) < n_rows:
        assert time.monotonic() < deadline, "stream did not drain"
        time.sleep(0.1)
    query.stop()


def test_stateful_multiline_stream(spark, tmp_path):
    """P5 streaming twin: anchors flush on next anchor; the pending
    tail flushes when more data (or timeout) arrives."""
    from hetman_spark.streaming.multiline_state import stitch_multiline_stream
    from pyspark.sql import types as T

    schema = "file_id string, line_no long, line string"
    rows1 = [
        ("f1", 0, "ERROR boom"),
        ("f1", 1, " at a.b.c"),
        ("f1", 2, " at d.e.f"),
        ("f1", 3, "INFO fine"),
        ("f2", 0, "WARN solo"),
    ]
    src_dir = str(tmp_path / "lines")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src_dir)

    lines = (
        spark.readStream.schema(
            T.StructType.fromDDL(schema)
        ).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    # long timeout so the state-retention assertions below aren't
    # flushed by the (working) processing-time timeout during slow runs
    out = stitch_multiline_stream(lines, r"^\s", timeout_ms=3_600_000)
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("stitched")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, len(rows1))
    got = {
        (r["file_id"], r["line_no"]): r["line"]
        for r in spark.sql("SELECT * FROM stitched").collect()
    }
    # the ERROR anchor + its two continuations flushed by the INFO anchor
    assert got[("f1", 0)] == "ERROR boom  at a.b.c  at d.e.f"
    # INFO and WARN are still pending in state (no following anchor yet)
    assert ("f1", 3) not in got and ("f2", 0) not in got

    # feed a second batch: new anchors flush the pending ones
    rows2 = [("f1", 4, "NEXT"), ("f2", 1, "NEXT")]
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src_dir)
    q2 = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("stitched2")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q2, len(rows1) + len(rows2))
    got2 = {
        (r["file_id"], r["line_no"]): r["line"]
        for r in spark.sql("SELECT * FROM stitched2").collect()
    }
    assert got2[("f1", 3)] == "INFO fine"
    assert got2[("f2", 0)] == "WARN solo"


def test_epoch_sink_idempotent_under_static_parent_conf(spark, tmp_path):
    """Regression: foreachBatch executes under a CLONED session whose
    conf was snapshotted at stream start — the dynamic-overwrite conf
    must be set on batch_df.sparkSession inside the sink, or every
    epoch write silently WIPES the previous epochs (static overwrite
    deletes the whole path).  Caught on a fresh session via the
    `stream` CLI; earlier pytest runs masked it because a prior
    batch-pipeline test had leaked the conf session-wide."""
    from hetman_spark.streaming.stream import streaming_pipeline

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        wt = str(tmp_path / "wt")
        write_webtext(spark, wt, 400, n_splits=4)
        out = str(tmp_path / "out")
        q = streaming_pipeline(spark, wt, out, str(tmp_path / "ckpt"),
                               max_files_per_trigger=1)
        q.awaitTermination(180)
        epochs = {
            name for name in os.listdir(os.path.join(out, "data"))
            if name.startswith("epoch_id=")
        }
        assert len(epochs) == 4, f"epochs lost to static overwrite: {epochs}"
        data = spark.read.parquet(os.path.join(out, "data"))
        assert data.filter(
            F.col("sink_id") == "ef72bbb8150adc6cdce19e595f8e64e0"
        ).count() == 400
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_backpressure_max_files_per_trigger(spark, tmp_path):
    """FC1: maxFilesPerTrigger bounds each micro-batch's intake (the
    byte-budget backpressure analog, backpressure.go:36-75) — with 1
    file per trigger, an N-file input drains in N epochs, visible as N
    epoch_id partitions in the idempotent sink layout."""
    from hetman_spark.sources.webtext import generate_webtext
    from hetman_spark.streaming.stream import streaming_pipeline

    src = str(tmp_path / "src")
    # 3 separate files (one write each => one file each)
    for i in range(3):
        generate_webtext(spark, 50, n_splits=1).withColumn(
            "split_id", F.lit(i)
        ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    q = streaming_pipeline(spark, src, out, str(tmp_path / "ckpt"),
                           max_files_per_trigger=1)
    q.awaitTermination(180)

    epochs = {
        name for name in os.listdir(os.path.join(out, "data"))
        if name.startswith("epoch_id=")
    }
    assert len(epochs) == 3  # one micro-batch per file
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.filter(F.col("sink_id") == "ef72bbb8150adc6cdce19e595f8e64e0").count() == 150


def test_dedup_stream_drops_exact_dups_across_epochs(spark, tmp_path):
    """Streaming exact-dedup twin: byte-identical texts arriving in
    LATER micro-batches (within the watermark) are dropped by carried
    state, not just within one batch."""
    import datetime as dt

    from hetman_spark.streaming.stream import dedup_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "url string, warc_ts timestamp, text string"
    f1 = [("u1", base, "alpha"), ("u2", base, "beta"), ("u3", base, "alpha")]
    f2 = [("u4", base + dt.timedelta(minutes=5), "alpha"),
          ("u5", base + dt.timedelta(minutes=5), "gamma")]
    src = str(tmp_path / "src")
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

    lines = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        dedup_stream(lines, watermark="1 hour")
        .writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT text, count(*) AS n FROM dedup_out GROUP BY text"
    ).collect()
    assert {r["text"] for r in rows} == {"alpha", "beta", "gamma"}
    assert all(r["n"] == 1 for r in rows)


def test_dedup_stream_custom_keys_clean_schema(spark, tmp_path):
    """r4 ADVICE low: with caller-supplied key_cols the internal
    _content_hash column must neither be computed (wasted per-row md5)
    nor leak into the output schema."""
    from hetman_spark.streaming.stream import dedup_stream

    schema = "url string, warc_ts timestamp, text string"
    src = tmp_path / "empty_src"
    src.mkdir()
    lines = spark.readStream.schema(schema).parquet(str(src))
    out = dedup_stream(lines, key_cols=["url"])
    assert "_content_hash" not in out.columns
    assert out.columns == lines.columns
    # and the plan must not carry the md5 projection at all
    assert "_content_hash" not in out._jdf.queryExecution().analyzed().toString()


def test_distinct_users_stream_matches_batch_exact(spark, tmp_path):
    """The streaming dedup-then-count construction must produce the
    SAME exact per-window distinct-user counts as the batch entry's
    COUNT(DISTINCT) once the watermark closes the windows."""
    import datetime as dt

    from hetman_spark.streaming.stream import distinct_users_stream

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "ts timestamp, user_id long"
    h0 = [(base + dt.timedelta(minutes=m), u) for m, u in [(1, 1), (20, 1), (30, 2)]]
    h1 = [(base + dt.timedelta(minutes=60 + m), u)
          for m, u in [(5, 2), (10, 3), (50, 3), (55, 4)]]
    src = str(tmp_path / "ev")
    spark.createDataFrame(h0 + h1, schema).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")

    def drain():
        # parquet sink: supports resuming the same checkpoint across
        # drains (the memory sink does not)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            distinct_users_stream(stream)
            .writeStream.format("parquet").option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()
    # a far-future sentinel advances the watermark past H0/H1 so their
    # append-mode results emit on the next drain
    spark.createDataFrame(
        [(base + dt.timedelta(hours=10), 99)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {
        r["window_start"]: r["n_users"]
        for r in spark.read.parquet(out).collect()
    }
    assert got.get(base) == 2            # users {1, 2}
    assert got.get(base + dt.timedelta(hours=1)) == 3  # users {2, 3, 4}
