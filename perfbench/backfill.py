"""backfill: big-commit throughput of the resumable batch pipeline.

Each timed operation is one `run_pipeline` call over the whole seeded
table with every split in one commit, into a fresh output directory.
The timed passes start only after full-size warm passes: a smaller
warm-up leaves the first full pass slow.

The traced run also drains the same table through the Structured
Streaming twin (`streaming_pipeline`, availableNow) for the per-epoch
numbers of streaming/stream.py.
"""

from __future__ import annotations

import json
import os
import statistics

from pyspark.sql import functions as F

from hetman_spark.plans.checkpoint import committed_splits
from hetman_spark.plans.pipeline import build_parsed, build_routed, run_pipeline, tags_disjoint
from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup, routes_df
from hetman_spark.streaming.stream import streaming_pipeline

from perfbench.harness import Run
from perfbench.inputs import archive_sink_id, write_split_table

PAGES = 60_000
SPLITS = 16
WARM_PASSES = 2
STREAM_FILES_PER_TRIGGER = 4
# a run times round(seconds / PASS_NOMINAL_S) passes, at least two, so
# every run of a given length does the same work
PASS_NOMINAL_S = 3.5


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sink_files(out_dir: str) -> tuple[int, float]:
    files, size = 0, 0
    for dirpath, _dirs, names in os.walk(os.path.join(out_dir, "data")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size / 1e6


def _text_mismatches(spark, src, out_dir: str) -> dict[str, int]:
    """Archive (match-all) sink vs input, joined on url: missing or
    duplicated urls and text that is not byte-identical."""
    out = (
        spark.read.parquet(os.path.join(out_dir, "data"))
        .where(F.col("sink_id") == archive_sink_id())
        .select("url", F.col("text").alias("out_text"))
    )
    joined = src.select("url", "text").join(out, "url", "full_outer")
    row = joined.agg(
        F.count_if(F.col("out_text").isNull()).alias("missing"),
        F.count_if(~F.col("text").eqNullSafe(F.col("out_text"))).alias("text_diff"),
        (F.count(F.lit(1)) - F.countDistinct("url")).alias("dup_urls"),
    ).first()
    return row.asDict()


def run(r: Run, seconds: float) -> dict:
    spark, tr = r.spark, r.tracer
    inp = r.path("input")
    with tr.span("setup.generate"):
        expected = write_split_table(spark, inp, PAGES, SPLITS, r.seed)
    src = spark.read.parquet(inp)
    for k in range(WARM_PASSES):
        with tr.span("setup.warm_pass"):
            run_pipeline(spark, inp, r.path(f"warm{k}"), splits_per_commit=SPLITS)

    passes = []
    r.begin_window()
    for _ in range(max(2, round(seconds / PASS_NOMINAL_S))):
        out = r.path(f"pass{len(passes)}")
        with r.op(), tr.span("pipeline.run_pipeline", pass_no=len(passes)):
            res = run_pipeline(spark, inp, out, splits_per_commit=SPLITS)
        passes.append({"wall_s": r.ops[-1]["wall_s"], "result": res, "out": out})
    r.end_window()

    failed = sum(
        1 for p in passes
        if p["result"].sink_counts != expected
        or len(p["result"].splits_processed) != SPLITS
        or len(committed_splits(os.path.join(p["out"], "_manifest"))) != SPLITS
    )
    last = passes[-1]["out"]
    text = _text_mismatches(spark, src, last)
    resume = run_pipeline(spark, inp, last, splits_per_commit=SPLITS)
    checks = {
        "sink_counts_match": failed == 0,
        "archive_equals_pages": all(
            p["result"].sink_counts.get(archive_sink_id()) == PAGES for p in passes),
        "text_byte_identical": text == {"missing": 0, "text_diff": 0, "dup_urls": 0},
        "resume_is_noop": resume.splits_processed == [],
    }
    result = {
        "attempted": len(passes),
        "failed": failed,
        "checks": checks,
        "record": {
            "pages_per_pass": PAGES,
            "splits": SPLITS,
            "pages_per_s": PAGES / statistics.median(op["latency_s"] for op in r.ops),
            "expected_sink_counts": expected,
            "text_check": text,
        },
    }
    if r.trace:
        stream_layers, stream_counts = _stream_layers(r, inp)
        result["layers"] = {**_layers(r, src, passes), **stream_layers}
        checks["stream_sink_counts_match"] = stream_counts == expected
    return result


def _layers(r: Run, src, passes: list[dict]) -> dict[str, float]:
    spark, tr = r.spark, r.tracer
    med = statistics.median
    phases = [p["result"].phase_secs for p in passes]
    driver = [
        p["wall_s"] - sum(p["result"].phase_secs.get(k, 0.0) for k in ("write_job", "lineage", "commit"))
        for p in passes
    ]
    stage = passes[-1]["result"].stage_counts
    rows_in = stage["source.rows_in"]

    parsed = build_parsed(src).drop("html")
    with tr.span("parse.build_parsed") as s:
        _noop(parsed)
    parse_s = s["end"] - s["start"]
    lookup = lang_lookup(spark)
    routed = build_routed(
        parsed.hint("rebalance", "split_id").join(F.broadcast(lookup), on="lang", how="left"),
        routes_df(spark), disjoint_tags=tags_disjoint(DEFAULT_SINKS), sinks=DEFAULT_SINKS,
    )
    with tr.span("route.build_routed") as s:
        _noop(routed)
    route_s = s["end"] - s["start"] - parse_s

    with tr.span("checkpoint.committed_splits") as s:
        committed_splits(os.path.join(passes[-1]["out"], "_manifest"))
    files, mb = _sink_files(passes[-1]["out"])
    return {
        "parse.busy_s": parse_s,
        "parse.ok_ratio": stage["parse.rows_parsed"] / rows_in,
        "parse.errors": stage["parse.errors"],
        "route.busy_s": route_s,
        "route.fanout": stage["route.rows_routed"] / rows_in,
        "pipeline.write_job_s": med(p.get("write_job", 0.0) for p in phases),
        "pipeline.lineage_s": med(p.get("lineage", 0.0) for p in phases),
        "pipeline.commit_s": med(p.get("commit", 0.0) for p in phases),
        "pipeline.driver_s": med(driver),
        "sink.files": files,
        "sink.mb": mb,
        "checkpoint.scan_s": s["end"] - s["start"],
    }


def _stream_layers(r: Run, inp: str) -> tuple[dict[str, float], dict[str, int]]:
    """Drain the input through the streaming twin; return the per-epoch
    numbers from recentProgress `durationMs`, and the rows each sink got."""
    spark, tr = r.spark, r.tracer
    out = r.path("stream_out")
    with tr.span("stream.streaming_pipeline"):
        query = streaming_pipeline(spark, inp, out, r.path("stream_ckpt"), trigger_once=True,
                                   max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
        try:
            query.awaitTermination(120)
            progress = [json.loads(p.json) for p in query.recentProgress]
        finally:
            query.stop()
    epochs = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in epochs]
    med = statistics.median
    offsets = ("latestOffset", "getBatch", "walCommit", "commitOffsets")
    delivered = {
        row["sink_id"]: row["count"]
        for row in spark.read.parquet(os.path.join(out, "data")).groupBy("sink_id").count().collect()
    }
    return {
        "stream.epoch_p50_s": med(d["triggerExecution"] for d in dur) / 1000,
        "stream.add_batch_p50_s": med(d.get("addBatch", 0) for d in dur) / 1000,
        "stream.offsets_p50_s": med(sum(d.get(k, 0) for k in offsets) for d in dur) / 1000,
        "stream.epochs": len(epochs),
        "stream.pages_per_epoch": med(p["numInputRows"] for p in epochs),
    }, delivered
