"""Streaming-mode tests: the readStream twin of the batch pipeline."""

import contextlib
import io
import json
import os
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from hetman_spark.__main__ import main as cli_main
from hetman_spark.plans import pipeline
from hetman_spark.plans.checkpoint import committed_splits, read_manifest, totals
from hetman_spark.sources.lookup import DEFAULT_SINKS
from hetman_spark.sources.webtext import write_webtext
from hetman_spark.streaming.stream import streaming_pipeline

ARCHIVE = next(s.signature() for s in DEFAULT_SINKS if s.predicate_col == "*")


def _status(out: str) -> dict:
    with contextlib.redirect_stdout(io.StringIO()) as buf:
        assert cli_main(["status", "--out", out]) == 0
    return json.loads(buf.getvalue())


def _sink_counts(spark, out: str) -> dict[str, int]:
    data = spark.read.parquet(os.path.join(out, "data"))
    return {r["sink_id"]: r["n"] for r in data.groupBy("sink_id").agg(F.count("*").alias("n")).collect()}


def test_streaming_pipeline_matches_batch(spark, tmp_path):
    wt = str(tmp_path / "wt")
    write_webtext(spark, wt, 1000, n_splits=4)

    out = str(tmp_path / "out")
    q = streaming_pipeline(spark, wt, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    data = spark.read.parquet(os.path.join(out, "data"))
    counts = _sink_counts(spark, out)
    assert max(counts.values()) == 1000  # match-all sink got every row

    # each micro-batch commits like a pipeline batch: `status` over the
    # epoch records equals `status` over a batch run's records, and the
    # records agree with the sink files
    batch_out = str(tmp_path / "batch")
    pipeline.run_pipeline(spark, wt, batch_out)
    stream_status, batch_status = _status(out), _status(batch_out)
    for key in ("sink_counts", "stage_counts"):
        assert stream_status[key] == batch_status[key], key
    assert stream_status["sink_counts"] == dict(sorted(counts.items()))
    assert stream_status["stage_counts"]["source.rows_in"] == 1000
    # epoch records are no batch commits: resume state stays the
    # streaming checkpoint
    assert committed_splits(os.path.join(out, "_manifest")) == set()

    # restart with same checkpoint: no new files -> no duplicates
    q2 = streaming_pipeline(spark, wt, out, str(tmp_path / "ckpt"))
    q2.awaitTermination(60)
    data2 = spark.read.parquet(os.path.join(out, "data"))
    assert data2.count() == data.count()
    assert _status(out)["sink_counts"] == stream_status["sink_counts"]


def test_stream_cli_counts_come_from_the_epoch_records(spark, tmp_path, capsys, monkeypatch):
    """The `stream` CLI reports each sink's rows from the epochs'
    commit records: with every batch parquet read made to fail it still
    drains, and its sink_counts equal the records' and the files'."""
    from pyspark.sql.readwriter import DataFrameReader

    wt, out = str(tmp_path / "wt"), str(tmp_path / "out")
    write_webtext(spark, wt, 400, n_splits=4)

    def no_read(*_args, **_kwargs):
        raise AssertionError("the stream CLI read a sink file")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", no_read)
        assert cli_main(["stream", "--input", wt, "--out", out,
                         "--max-files-per-trigger", "1", "--master", "local[4]"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    records = read_manifest(os.path.join(out, "_manifest"))
    assert sorted(r["epoch_id"] for r in records) == [0, 1, 2, 3]
    assert rep["epochs"] == 4 and rep["rows_in"] == 400
    assert rep["sink_counts"] == totals(records)["sink_counts"]
    assert rep["sink_counts"] == dict(sorted(_sink_counts(spark, out).items()))
    assert rep["sink_counts"][ARCHIVE] == 400


def test_epoch_commit_crash_then_restart_keeps_one_record_per_epoch(spark, tmp_path, monkeypatch):
    """An epoch whose commit raises fails the query after its sink
    write; the restart on the same checkpoint replays that epoch under
    the same id, which overwrites its partition and writes its record:
    one record per epoch and no duplicate row."""
    wt, out, ckpt = str(tmp_path / "wt"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_webtext(spark, wt, 400, n_splits=4)
    manifest_dir = os.path.join(out, "_manifest")
    commit = pipeline.commit_batch

    def commit_fails_in_epoch_1(manifest, record):
        if record["epoch_id"] == 1:
            raise RuntimeError("injected commit failure")
        commit(manifest, record)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "commit_batch", commit_fails_in_epoch_1)
        q = streaming_pipeline(spark, wt, out, ckpt, max_files_per_trigger=1)
        with pytest.raises(StreamingQueryException, match="injected commit failure"):
            q.awaitTermination(180)
    assert sorted(os.listdir(manifest_dir)) == ["epoch-000000.json"]
    # epoch 1's rows were written before its commit failed
    assert os.path.isdir(os.path.join(out, "data", "epoch_id=1"))

    q = streaming_pipeline(spark, wt, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(180)
    assert sorted(os.listdir(manifest_dir)) == [f"epoch-{e:06d}.json" for e in range(4)]
    archive = spark.read.parquet(os.path.join(out, "data")).where(F.col("sink_id") == ARCHIVE)
    assert archive.count() == archive.select("url").distinct().count() == 400
    assert _status(out)["sink_counts"] == dict(sorted(_sink_counts(spark, out).items()))


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
