"""Subprocess helper for bench.py: run the webtext pipeline at a given
parallelism in a FRESH JVM, with a warmup pass so JIT/codegen/Python
worker startup does not pollute the throughput measurement (the
north_rule scaling-efficiency comparison needs steady-state numbers).

Prints one JSON line: {"master":..., "sec":..., "pages_per_sec":...,
"cpus": [the CPUs this process was granted]}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time


def _emit(record: dict) -> None:
    """Print the one JSON result line, with the CPUs actually granted
    (taskset narrows a mask to existing CPUs without an error)."""
    print(json.dumps({**record, "cpus": sorted(os.sched_getaffinity(0))}))


def _routed(spark, frame):
    """The pipeline's compute path without its sink write and commit:
    plan_batch (parse -> rebalance(split_id) -> broadcast enrich ->
    route) on the default spec."""
    from hetman_spark.plans.pipeline import DEFAULT_SPEC, plan_batch
    from hetman_spark.sources.lookup import lang_lookup

    return plan_batch(frame, DEFAULT_SPEC, lang_lookup(spark)).routed


def noop_write(df) -> None:
    """Run the full plan into a noop sink: every row is computed, none
    is written or collected (count() would let Catalyst prune UDFs)."""
    df.write.format("noop").mode("overwrite").save()


def _stitch_bench(spark, master: str, rows: int, scratch: str) -> None:
    """Streaming multiline-stitcher drain-rate record (r3 VERDICT
    Next-round #10): the applyInPandasWithState twin has correctness
    tests but had no recorded throughput.  Generates `rows` synthetic
    log lines across 64 file_ids (40% whitespace-led continuations,
    the stack-trace shape), written as 16 parquet files drained at 4
    files/trigger -> 4 epochs, stitched into one parquet sink."""
    from pyspark.sql import functions as F

    from hetman_spark.streaming.multiline_state import stitch_multiline_stream

    src_dir, out_dir = f"{scratch}/lines", f"{scratch}/stitched"
    n_files = 64
    (
        spark.range(rows)
        .select(
            F.concat(F.lit("f"), (F.col("id") % n_files).cast("string")).alias("file_id"),
            (F.col("id") / n_files).cast("long").alias("line_no"),
            F.when(
                F.col("id") % 5 < 2,
                F.concat(F.lit("    at com.example.Frame.run(Frame.java:"),
                         (F.col("id") % 997).cast("string"), F.lit(")")),
            )
            .otherwise(
                F.concat(F.lit("ERROR worker crashed request_id="),
                         F.col("id").cast("string"))
            )
            .alias("line"),
        )
        .repartition(16)
        .write.parquet(src_dir)
    )
    t0 = time.time()
    lines = (
        spark.readStream.schema("file_id string, line_no long, line string")
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )
    q = (
        # timeout_ms=None: a bounded drain must terminate on its own —
        # a registered processing-time timeout keeps the query alive
        # until it fires (see stitch_multiline_stream).  Cost: the 64
        # final pending anchors stay in state, invisible to the count.
        stitch_multiline_stream(lines, r"^\s", timeout_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{scratch}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sec = time.time() - t0
    progress = q.recentProgress or []
    rows_in = sum(int(p["numInputRows"]) for p in progress)
    proc_sec = sum(
        (p.get("durationMs") or {}).get("triggerExecution", 0) for p in progress
    ) / 1000.0
    _emit({
        "master": master, "mode": "stitch",
        "rows_in": rows_in,
        "epochs": sum(1 for p in progress if int(p["numInputRows"]) > 0),
        "stitched_rows": spark.read.parquet(out_dir).count(),
        "sec": round(sec, 2),
        "processing_sec": round(proc_sec, 2),
        "lines_per_sec": round(rows_in / sec, 1) if sec > 0 else None,
        "lines_per_sec_processing": (
            round(rows_in / proc_sec, 1) if proc_sec > 0 else None
        ),
    })


def _dedup_bench(spark, master: str, rows: int, scratch: str, reps: int = 3) -> None:
    """Dedup-family scaling record (r4 VERDICT #3): LSH banding +
    transitive clustering at corpus scale on the pinned core pair.
    The corpus is the deterministic webtext text column — which
    CONTAINS organic near-dups by construction (the generator's word
    stream is seeded rid + i*7919, so docs rid and rid±7919 are
    one-word-shifted copies), giving connected_components real merge
    work, not an empty graph.  Reports min-of-reps for (a) the banded
    LSH candidate join alone and (b) dedup_clusters end-to-end (LSH
    materialization + CC rounds), plus CC round/check counts."""
    from pyspark.sql import functions as F

    from hetman_spark.functions.dedup import (
        connected_components,
        minhash_lsh_candidates,
    )
    from hetman_spark.sources.webtext import generate_webtext

    docs_dir, warm_dir = f"{scratch}/docs", f"{scratch}/docs_warm"
    generate_webtext(spark, rows, n_splits=64).select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).write.parquet(docs_dir)
    generate_webtext(spark, max(rows // 10, 1000), n_splits=16).select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).write.parquet(warm_dir)
    docs = spark.read.parquet(docs_dir)
    warm = spark.read.parquet(warm_dir)

    # warmup: the full path once on the small corpus
    wp = minhash_lsh_candidates(warm, id_col="doc_id")
    connected_components(wp).count()

    lsh_secs, cc_secs, n_pairs = [], [], 0
    cc_stats: dict = {}
    for _ in range(reps):
        t0 = time.time()
        n_pairs = minhash_lsh_candidates(docs, id_col="doc_id").count()
        lsh_secs.append(time.time() - t0)
        t0 = time.time()
        cc_stats = {}
        cc = connected_components(
            minhash_lsh_candidates(docs, id_col="doc_id"), stats=cc_stats
        )
        n_nodes = cc.count()
        cc_secs.append(time.time() - t0)
    _emit({
        "master": master, "mode": "dedup",
        "rows": rows, "n_pairs": n_pairs, "n_nodes": n_nodes,
        "cc_rounds": cc_stats.get("rounds"),
        "cc_checks": cc_stats.get("checks"),
        "lsh_secs": [round(s, 2) for s in lsh_secs],
        "cc_secs": [round(s, 2) for s in cc_secs],
        "lsh_sec": round(min(lsh_secs), 2),
        "cc_sec": round(min(cc_secs), 2),
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--warmup-input", required=True)
    ap.add_argument("--salt-buckets", type=int, default=8)
    ap.add_argument("--presalt", action="store_true",
                    help="literal pre-enrich salted repartition path")
    ap.add_argument("--noop", action="store_true",
                    help="compute-path only: run the full plan into a noop sink "
                         "(isolates executor-scaling work from the single local "
                         "disk, which on a real cluster scales with nodes)")
    ap.add_argument("--light-warmup", action="store_true",
                    help="warm up on the small table only, skipping the full-input "
                         "noop pre-pass — for interleaved min-of-rounds protocols "
                         "where later rounds serve as the deep warmup and the "
                         "input is already page-cache-hot from generation")
    ap.add_argument("--neardup", action="store_true",
                    help="run the pipeline with the in-pipeline near-dup stage "
                         "(LSH -> Jaccard verify -> CC) for its scaling evidence")
    ap.add_argument("--dedup-bench", type=int, default=0, metavar="ROWS",
                    help="dedup-family scaling record: LSH banding + transitive "
                         "clustering over a deterministic ROWS-doc corpus with "
                         "organic near-dups; reports min-of-3 for each stage")
    ap.add_argument("--stitch", type=int, default=0, metavar="ROWS",
                    help="streaming multiline-stitcher drain benchmark: generate "
                         "ROWS synthetic log lines (40%% continuations), drain "
                         "them through applyInPandasWithState, report rows/s")
    args = ap.parse_args()

    from hetman_spark.session import get_spark

    spark = get_spark(app_name="bench", master=args.master)

    scratch = tempfile.mkdtemp(prefix="benchrun-")
    try:
        if args.dedup_bench:
            _dedup_bench(spark, args.master, args.dedup_bench, scratch)
            return
        if args.stitch:
            _stitch_bench(spark, args.master, args.stitch, scratch)
            return
        src = spark.read.parquet(args.input)
        if args.noop:
            # two warmup passes: small table, then the REAL input once —
            # one small pass leaves JIT cold and timings 2x noisy
            noop_write(_routed(spark, spark.read.parquet(args.warmup_input)))
            if not args.light_warmup:
                noop_write(_routed(spark, src))
            n_rows = src.count()
            t0 = time.time()
            noop_write(_routed(spark, src))
            sec = time.time() - t0
            _emit({
                "master": args.master, "mode": "noop",
                "sec": round(sec, 2), "rows": n_rows,
                "pages_per_sec": round(n_rows / sec, 1),
            })
            return

        from hetman_spark.plans.pipeline import run_pipeline

        # warmup: same code path on the small table, then a full noop
        # pass over the real input so JIT/codegen/Arrow paths are hot
        run_pipeline(spark, args.warmup_input, f"{scratch}/warmup",
                     salt_buckets=args.salt_buckets, splits_per_commit=1024,
                     presalt=args.presalt, neardup=args.neardup)
        if not args.light_warmup:
            noop_write(_routed(spark, src))

        t0 = time.time()
        res = run_pipeline(spark, args.input, f"{scratch}/out",
                           salt_buckets=args.salt_buckets, splits_per_commit=1024,
                           presalt=args.presalt, neardup=args.neardup)
        sec = time.time() - t0
        _emit({
            "master": args.master,
            "sec": round(sec, 2),
            "rows": res.rows_in,
            "pages_per_sec": round(res.rows_in / sec, 1),
            "sink_counts": dict(sorted(res.sink_counts.items())),
            "phase_secs": {k: round(v, 2) for k, v in res.phase_secs.items()},
        })
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
