"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`.  The line before it is the run record (CPU affinity,
master, steal, stray JVMs, commit, seed).  A traced run also writes its
spans and the per-stage event-log table to
`.perfbench_out/<workload>-seed<seed>-trace.json`.

Exits non-zero, without a result line, when the program cannot be
imported or a run fails; a failed correctness check prints the result
with `"correct": false` and exits 1.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.fingerprints import QUERY_SET  # noqa: E402
from perfbench.harness import steal_per_cpu_s  # noqa: E402

STEAL_AT_START = steal_per_cpu_s()

WORKLOADS = ("backfill", "corpus_queries")

# Every run prints every metric of its mode.  A per-layer metric of a
# layer the workload does not reach reads 0.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
}
PER_LAYER = {
    "parse.busy_s": "s",
    "parse.ok_ratio": "ratio",
    "parse.errors": "count",
    "route.busy_s": "s",
    "route.fanout": "ratio",
    "pipeline.write_job_s": "s",
    "pipeline.lineage_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.driver_s": "s",
    "sink.files": "count",
    "sink.mb": "MB",
    "checkpoint.scan_s": "s",
    "stream.epoch_p50_s": "s",
    "stream.add_batch_p50_s": "s",
    "stream.offsets_p50_s": "s",
    "stream.epochs": "count",
    "stream.pages_per_epoch": "count",
    "queries.operators_s": "s",
    "queries.events_s": "s",
    "queries.dedup_s": "s",
    "queries.similarity_s": "s",
    "queries.text_s": "s",
    "storage.held_mb": "MB",
    "jvm.old_gen_peak_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "cpu.util": "ratio",
    "steal_s": "s",
    "trace.latency_p50_s": "s",
    **{f"q.{name}_s": "s" for name in QUERY_SET},
}


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _stray_jvm() -> bool:
    try:
        return subprocess.run(["pgrep", "java"], capture_output=True, timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    stray_jvm = _stray_jvm()
    from perfbench.harness import Run

    workload = importlib.import_module(f"perfbench.{args.workload}")

    r = Run(ROOT, args.workload, args.seed, bool(args.trace))
    try:
        r.start_session()
        res = workload.run(r, args.seconds)
        r.stop()
        if r.trace:
            from perfbench.eventlog import stage_rows, totals

            jobs, stages = stage_rows(r.event_log_dir, r.window)
    finally:
        r.stop()
        r.cleanup()

    lat = [op["latency_s"] for op in r.ops]
    e2e = {
        "setup_s": r.window[0] - PROCESS_START - (r.steal_at_window - STEAL_AT_START),
        "peak_rss_mb": r.rss.peak_bytes / 1e6,
        "latency_p50_s": statistics.median(lat),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpu_affinity": sorted(os.sched_getaffinity(0)),
        "master": r.master,
        "steal_s": r.host["steal_s"],
        "cpu_util": r.host["cpu.util"],
        "stray_jvm_at_start": stray_jvm,
        "git_commit": _git_commit(),
        "samples": len(lat),
        "setup_wall_s": r.window[0] - PROCESS_START,
        "ops": r.ops,
        "peak_rss_mb_by_process": r.rss.peak_by_process,
        "checks": res["checks"],
        **res["record"],
        **({"end_to_end": e2e} if r.trace else {}),
    }
    if r.trace:
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update(res.get("layers", {}))
        layers.update(totals(jobs, stages))
        layers.update(r.host)
        layers["jvm.old_gen_peak_mb"] = r.old_gen_peak_mb
        layers["trace.latency_p50_s"] = e2e["latency_p50_s"]
        os.makedirs(r.out, exist_ok=True)
        with open(os.path.join(r.out, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump({"record": record, "spans": r.tracer.spans, "stages": stages}, f, indent=1)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = all(res["checks"].values())
    print(json.dumps({"record": record}), flush=True)
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
