"""spark-submit entrypoint (the cluster deployment surface).

    spark-submit --master yarn --deploy-mode cluster \
        --py-files hetman_spark.zip \
        jobs/run_pipeline_job.py --input s3://.../webtext --out s3://.../out

Unlike `python -m hetman_spark`, this does NOT build its own
SparkSession config — it inherits whatever spark-submit provides
(executors, memory, shuffle partitions) and only sets the session
options the pipeline semantics require.  Its targets come from the
CLI's builder (config_yaml.run_targets): every config target runs, and
an explicit flag beats the config's global section, which beats this
job's flag defaults.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="webtext table path (or use --config)")
    ap.add_argument("--out", default=None, help="output dir (or use --config global.out_dir)")
    ap.add_argument("--config", default=None)
    # default=None so "explicitly set" is distinguishable from "unset";
    # without a config the job's defaults are salt 8, 256 splits/commit
    ap.add_argument("--salt-buckets", type=int, default=None)
    ap.add_argument("--splits-per-commit", type=int, default=None)
    ap.add_argument("--presalt", action="store_true")
    ap.add_argument("--labeled-input", default=None,
                    help="aggregator mode: pre-labeled push table unioned before parse")
    args = ap.parse_args(argv)

    from hetman_spark.config_yaml import ConfigError, GlobalConfig, run_targets

    try:
        settings, targets = run_targets(
            args.config, args.input, args.out, args.salt_buckets, args.splits_per_commit,
            defaults=GlobalConfig(salt_buckets=8, splits_per_commit=256),
        )
    except ConfigError as e:
        ap.error(str(e))

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

    from hetman_spark.plans.pipeline import run_pipeline

    t0 = time.time()
    tot_in = tot_parsed = n_done = 0
    tot_sinks: dict[str, int] = {}
    stage_counts: dict[str, int] = {}
    for input_path, out_dir, spec in targets:
        res = run_pipeline(
            spark, input_path, out_dir,
            spec=spec,
            salt_buckets=settings.salt_buckets,
            splits_per_commit=settings.splits_per_commit,
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
