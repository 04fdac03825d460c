"""spark-submit entrypoint (the cluster deployment surface).

    spark-submit --master yarn --deploy-mode cluster \
        --py-files hetman_spark.zip \
        jobs/run_pipeline_job.py --input s3://.../webtext --out s3://.../out

Unlike `python -m hetman_spark`, this does NOT build its own
SparkSession config — it inherits whatever spark-submit provides
(executors, memory, shuffle partitions) and only sets the session
options the pipeline semantics require.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--config", default=None)
    ap.add_argument("--salt-buckets", type=int, default=8)
    ap.add_argument("--splits-per-commit", type=int, default=256)
    ap.add_argument("--presalt", action="store_true")
    ap.add_argument("--labeled-input", default=None,
                    help="aggregator mode: pre-labeled push table unioned before parse")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("hetman-spark-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # call-site capture costs about 2 ms of driver time per Column
        # operation (see hetman_spark/session.py)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )

    import os

    from hetman_spark.plans.pipeline import run_pipeline
    from hetman_spark.sources.lookup import DEFAULT_SINKS

    # every config target runs (reference runs every workflow); a bare
    # --input/--out invocation is one anonymous target
    targets = [(args.input, args.out, DEFAULT_SINKS, None)]
    if args.config:
        from hetman_spark.config_yaml import load_config

        _gc, specs = load_config(args.config)
        targets = [
            (
                args.input or spec.input_path,
                os.path.join(args.out, spec.id or f"target{i}")
                if len(specs) > 1 else args.out,
                spec.sinks or DEFAULT_SINKS,
                spec.modifier,
            )
            for i, spec in enumerate(specs)
        ]

    t0 = time.time()
    tot_in = tot_parsed = n_done = 0
    tot_sinks: dict[str, int] = {}
    stage_counts: dict[str, int] = {}
    for input_path, out_dir, sinks, modifier in targets:
        res = run_pipeline(
            spark, input_path, out_dir,
            sinks=sinks, modifier=modifier,
            salt_buckets=args.salt_buckets,
            splits_per_commit=args.splits_per_commit,
            presalt=args.presalt,
            labeled_input_path=args.labeled_input,
        )
        n_done += len(res.splits_processed)
        tot_in += res.rows_in
        tot_parsed += res.rows_parsed
        for k, v in res.sink_counts.items():
            tot_sinks[k] = tot_sinks.get(k, 0) + v
        for k, v in res.stage_counts.items():
            stage_counts[k] = stage_counts.get(k, 0) + v
    sec = time.time() - t0
    print(json.dumps({
        "targets": len(targets),
        "splits_processed": n_done,
        "rows_in": tot_in,
        "rows_parsed": tot_parsed,
        "sink_counts": tot_sinks,
        "stage_counts": stage_counts,
        "sec": round(sec, 2),
        "pages_per_sec": round(tot_in / sec, 1) if sec > 0 else None,
    }))


if __name__ == "__main__":
    main()
