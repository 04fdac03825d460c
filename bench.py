"""Benchmark harness (driver contract + BASELINE.md protocol) and the
repo's one measurement toolkit.

`python bench.py` writes the full record.  It runs:
1. the webtext pipeline end-to-end at N and 4N cores — each run
   taskset-PINNED to exactly its core budget (an executor cannot
   borrow idle silicon; unpinned local[N] lets Python UDF workers and
   GC spill onto free cores and understates true scaling) — in fresh
   subprocess JVMs with warmup, interleaved min-of-rounds, reporting
   pages/sec at both levels plus scaling efficiency
   thr_4N / (4 * thr_N): the sandbox evidence for the north_rule
   two-cluster-size criterion (BASELINE.md bench protocol).  N and 4N
   come from the CPUs this process was granted (`scaling_pair`);
2. every __spark_entry__ query at $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], timed via a
   noop-sink write (full computation, no driver collect);
3. asserts per-sink counts are identical at both sizes.
It prints ONE JSON line.

Two more flows share the same helpers:
  python bench.py queries [--reps K] [--explain-dir D] [--tag T] [name ...]
      subset sweep at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS]:
      min-of-K noop timings with per-rep steal, job labels, and
      explain("formatted") per query to D/<name>_<T>.txt.  Prints
      {sf_dir, cpus, tag, total_min, queries: {name: {secs, min, steal}}}.
  python bench.py multi-exec [--rows N] [--reps R]
      N vs 4N separate executor JVMs (local-cluster) on an N-page input
      (default 40M, ~4.4 GB); writes BENCH_multi_exec_sf1.json.

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores for the query timings (default: every granted CPU)
  BENCH_WEBTEXT_ROWS   pipeline input size (default 4000000)
  BENCH_SCALING        "0" to skip the two-parallelism pipeline runs
  BENCH_REPS           interleaved rounds (default 3)
  BENCH_MAX_REPS       extra rounds while rep spread >1.25x (default 5)
  BENCH_STREAMING      "0" to skip the Structured Streaming drain block
  BENCH_MULTI_EXEC     "1" to add the multi-exec flow at BENCH_WEBTEXT_ROWS
                       (correctness evidence, see BENCH.md)
  BENCH_PAIR_1TO4      "1" to add the 1->4 pair where 2->8 is the headline
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import redirect_stdout

from perfbench.harness import cpu_times

REPO = os.path.dirname(os.path.abspath(__file__))
SPREAD_GUARD = 1.25


def scaling_pair(granted: list[int]) -> tuple[list[int], list[int]] | None:
    """The N and 4N core sets to pin, taken from the granted CPUs
    (`sorted(os.sched_getaffinity(0))`).  taskset silently narrows a
    mask to the CPUs that exist and still exits 0, so a fixed 0-7 set
    on a 4-CPU machine runs 8 task slots on 4 cores.

    8 or more CPUs: 2 -> 8 (continuity with the round-1 headline;
    crossing the SMT boundary, 8 vs 32 threads, has a hardware ceiling
    of ~0.64 for ANY CPU-bound work, see BENCH.md); 4 to 7: 1 -> 4;
    fewer than 4: None, no pair fits."""
    n = 2 if len(granted) >= 8 else 1 if len(granted) >= 4 else 0
    return (granted[:n], granted[:4 * n]) if n else None


def _skipped(granted: list[int]) -> dict:
    return {"scaling_skipped": f"{len(granted)} CPUs granted; an N->4N pair needs at least 4"}


def cpu_list(cpus: list[int]) -> str:
    """The `taskset -c` argument for a CPU set."""
    return ",".join(map(str, cpus))


def _generate(out: str, rows: int, splits: int, files_per_split: int = 1) -> None:
    """Synthetic webtext input, generated in a SUBPROCESS so no
    gateway JVM lingers into the measured runs (the parent's own idle
    JVM would otherwise trip the stray-JVM guard for the whole bench)."""
    subprocess.run(
        [sys.executable, "-m", "hetman_spark", "generate",
         "--out", out, "--rows", str(rows), "--splits", str(splits),
         "--files-per-split", str(files_per_split), "--master", "local[16]"],
        capture_output=True, text=True, cwd=REPO, check=True,
    )


def _wait_quiet(max_wait: float = 60.0) -> bool:
    """Refuse to measure next to a stray JVM: leftover executors from a
    crashed run inflate one side of the A/B by up to 30% (BENCH.md
    measurement-hygiene section).  Waits for orphans to exit, returns
    False if they never do (recorded in the JSON, not silently)."""
    t0 = time.time()
    while time.time() - t0 < max_wait:
        probe = subprocess.run(["pgrep", "-c", "java"], capture_output=True, text=True)
        if probe.returncode != 0 or probe.stdout.strip() in ("", "0"):
            return True
        time.sleep(2.0)
    return False


def _run_pinned(cpus: list[int], argv: list[str]) -> dict:
    """Run `python <argv>` under `taskset -c cpus` once the machine is
    quiet, and return its last stdout line parsed (or {"error": ...}),
    plus `quiet` and `steal_jiffies`: the machine-wide hypervisor steal
    burned during the run (1 jiffy = 10ms of a stolen CPU).  This is a
    shared VM: a neighbor's burst inflates a pinned run by up to ~2x
    (measured), indistinguishable from a plan regression unless
    recorded."""
    quiet = _wait_quiet()
    st0 = cpu_times()["steal"]
    proc = subprocess.run(
        ["taskset", "-c", cpu_list(cpus), sys.executable, *argv],
        capture_output=True, text=True, cwd=REPO,
    )
    steal = cpu_times()["steal"] - st0
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    if proc.returncode != 0 or not line:
        rec = {"error": proc.stderr[-500:]}
    else:
        rec = json.loads(line)
    return {**rec, "quiet": quiet, "steal_jiffies": steal}


def min_of_rounds(
    configs: list[tuple[str, list[int], list[str]]],
    base_argv: list[str], reps: int, max_reps: int,
) -> dict:
    """Interleaved min-of-rounds over pinned children: each config is
    (label, cpus, extra argv).  This VM shows ±30% ambient bursts, so:
    - configurations run INTERLEAVED per round so an ambient burst
      hits both sides of a ratio, not just one;
    - per-label result is the MIN over rounds (least-interfered
      sample); every round's raw seconds land in `rep_secs`, its
      steal in `rep_steal_jiffies`;
    - rounds continue (to max_reps) while any label's rep spread
      exceeds 1.25x;
    - a `_noop` (compute-path) label runs in the first two rounds and
      then only while ITS OWN spread exceeds the guard — supporting
      evidence, not the headline, but a steal burst must not own the
      compute ratio just because it landed in round 0-1;
    - a stray-JVM guard gates every run (`quiet`)."""
    best: dict[str, dict] = {}
    rep_secs: dict[str, list] = {label: [] for label, _, _ in configs}
    steal: dict[str, list] = {label: [] for label, _, _ in configs}
    quiet_ok = True

    def spread(label: str) -> float:
        xs = [x for x in rep_secs[label] if x]
        return (max(xs) / min(xs)) if xs else 99.0

    rounds = 0
    while rounds < reps or (
        rounds < max_reps and any(spread(lbl) > SPREAD_GUARD for lbl, _, _ in configs)
    ):
        for label, cpus, extra in configs:
            if label.endswith("_noop") and rounds >= 2 and spread(label) <= SPREAD_GUARD:
                continue
            d = _run_pinned(cpus, [*base_argv, *extra])
            quiet_ok = d.pop("quiet") and quiet_ok
            steal[label].append(d.pop("steal_jiffies"))
            rep_secs[label].append(d.get("sec"))
            print(f"round {rounds} {label}: {d.get('sec', 'ERROR')}", file=sys.stderr, flush=True)
            if "sec" in d and d["sec"] < best.get(label, {}).get("sec", float("inf")):
                best[label] = d
            else:
                best.setdefault(label, d)
        rounds += 1
    return {**best, "rep_secs": rep_secs, "rep_steal_jiffies": steal, "quiet": quiet_ok}


def _efficiency(res: dict, lo: str, hi: str) -> float | None:
    a, b = res.get(lo, {}), res.get(hi, {})
    if "pages_per_sec" in a and "pages_per_sec" in b:
        return round(b["pages_per_sec"] / (4 * a["pages_per_sec"]), 3)
    return None


def _counts_equal(res: dict, lo: str, hi: str) -> bool | None:
    a, b = res.get(lo, {}), res.get(hi, {})
    if "sink_counts" in a and "sink_counts" in b:
        return a["sink_counts"] == b["sink_counts"]
    return None


def _benchrun_argv(scratch: str) -> list[str]:
    return ["-m", "hetman_spark.benchrun", "--input", f"{scratch}/main",
            "--warmup-input", f"{scratch}/warmup", "--light-warmup"]


def scaling_runs(rows: int, lo: list[int], hi: list[int]) -> dict:
    """North-rule evidence: the same job at N and 4N cores, pinned.

    Reports end-to-end (incl. single-node disk + commit) AND
    compute-path (noop sink) throughput for the core sets `lo` -> `hi`
    (`scaling_pair`); where that is 2 -> 8, BENCH_PAIR_1TO4=1 adds a
    second 1-core vs 4-core e2e pair.

    Every run is PINNED (taskset) to exactly its core budget.
    local[N] bounds only the JVM task slots — the Python UDF workers,
    GC and shuffle threads land on unallocated cores, so an unpinned
    local[2] run actually consumes ~3.5 cores of silicon and deflates
    measured efficiency (measured: unpinned 56s/18.2s = 0.77 vs
    pinned 78-85s/22-24s = 0.87 on the same input).  A real N-core
    executor node cannot borrow idle silicon; pinning is what makes
    "N cores vs 4N cores" a true statement.
    """
    pairs = [(lo, hi)]
    if len(lo) == 2 and os.environ.get("BENCH_PAIR_1TO4", "0") == "1":
        # supporting second pair (the canonical full record in
        # BENCH_local.json carries it); off by default to keep the
        # per-round driver bench under ~25 min
        pairs.append((hi[:1], hi[:4]))

    def configs(cpus_lo: list[int], cpus_hi: list[int], *extra: str) -> list:
        suffix = "_noop" if extra else ""
        return [(f"N_local{len(cpus_lo)}{suffix}", cpus_lo,
                 ["--master", f"local[{len(cpus_lo)}]", *extra]),
                (f"4N_local{len(cpus_hi)}{suffix}", cpus_hi,
                 ["--master", f"local[{len(cpus_hi)}]", *extra])]

    scratch = tempfile.mkdtemp(prefix="bench-webtext-")
    try:
        _generate(f"{scratch}/main", rows, 16, 4)
        _generate(f"{scratch}/warmup", max(rows // 40, 2000), 4)
        results = min_of_rounds(
            [c for p in pairs for c in configs(*p)] + configs(lo, hi, "--noop"),
            _benchrun_argv(scratch),
            int(os.environ.get("BENCH_REPS", "3")),
            int(os.environ.get("BENCH_MAX_REPS", "5")),
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    # headline: the first pair (2->8 where 8 CPUs exist, for continuity
    # with round 1); a second pair is reported alongside, never hidden.
    for cpus_lo, cpus_hi in pairs:
        n_lbl, hi_lbl = f"N_local{len(cpus_lo)}", f"4N_local{len(cpus_hi)}"
        e = _efficiency(results, n_lbl, hi_lbl)
        if e is None:
            continue
        tag = f"{len(cpus_lo)}to{len(cpus_hi)}"
        results[f"scaling_efficiency_e2e_{tag}"] = e
        same = _counts_equal(results, n_lbl, hi_lbl)
        if same is not None:
            results["sink_counts_identical" + ("" if tag == "2to8" else f"_{tag}")] = same
        results.setdefault("scaling_efficiency_e2e", e)
        results.setdefault(
            "headline_pair",
            f"cores{{{cpu_list(cpus_lo)}}}->cores{{{cpu_list(cpus_hi)}}} (taskset-pinned)",
        )
    ec = _efficiency(results, f"N_local{len(lo)}_noop", f"4N_local{len(hi)}_noop")
    if ec is not None:
        results["scaling_efficiency_compute"] = ec
    return results


def multi_exec_runs(rows: int, reps: int, lo: list[int], hi: list[int]) -> dict:
    """North-rule literal shape: N vs 4N separate EXECUTOR JVMs
    (local-cluster[N,1,3072]), pinned to the `scaling_pair` core sets.
    Records per-sink count equality across executor counts plus both
    throughputs.  The input must be large enough to amortize
    per-executor fixed overhead (3 GB JVM startup, localhost shuffle
    service): at 442 MB it dominated the ratio (0.609, BENCH.md
    round-3 section), at 40M pages (~4.4 GB) it does not."""
    n_lbl, hi_lbl = f"N_{len(lo)}exec", f"4N_{len(hi)}exec"
    scratch = tempfile.mkdtemp(prefix="bench-mx-")
    try:
        t0 = time.time()
        _generate(f"{scratch}/main", rows, 64, 4)
        _generate(f"{scratch}/warmup", max(rows // 100, 2000), 4, 4)
        print(f"generated {rows} rows in {time.time() - t0:.0f}s", file=sys.stderr, flush=True)
        res = min_of_rounds(
            [(n_lbl, lo, ["--master", f"local-cluster[{len(lo)},1,3072]"]),
             (hi_lbl, hi, ["--master", f"local-cluster[{len(hi)},1,3072]"])],
            _benchrun_argv(scratch), reps, reps,
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    out: dict = {
        "rows": rows,
        "protocol": "taskset-pinned local-cluster[N,1,3072] pairs, "
                    "interleaved rounds, min-of-rounds",
        **res,
    }
    e = _efficiency(res, n_lbl, hi_lbl)
    if e is not None:
        out["scaling_efficiency_multi_exec"] = e
        out["sink_counts_identical_multi_exec"] = _counts_equal(res, n_lbl, hi_lbl)
    return out


def streaming_run(rows: int, cpus: list[int]) -> dict:
    """The reference's identity is a continuous tailer — record the
    Structured Streaming twin's throughput, not just the batch path:
    one availableNow drain (16 files, 4 files/trigger -> 4 epochs) on
    the pinned 4N cores via the `stream` CLI, then the stateful
    stitcher's drain rate (applyInPandasWithState twin, r3 VERDICT
    Next-round #10) on the same cores in a fresh JVM."""
    master = f"local[{len(cpus)}]"
    scratch = tempfile.mkdtemp(prefix="bench-stream-")
    try:
        _generate(f"{scratch}/src", rows, 16)
        d = _run_pinned(cpus, ["-m", "hetman_spark", "stream", "--input", f"{scratch}/src",
                               "--out", f"{scratch}/out", "--master", master])
        if "error" in d:
            return {"error": d["error"]}
        keys = ("epochs", "rows_in", "sec", "processing_sec", "pages_per_sec",
                "pages_per_sec_processing", "cpus", "steal_jiffies", "quiet")
        out = {k: d[k] for k in keys if k in d}
        sd = _run_pinned(cpus, ["-m", "hetman_spark.benchrun", "--master", master,
                                "--input", "unused", "--warmup-input", "unused",
                                "--stitch", str(rows)])
        skeys = ("rows_in", "epochs", "stitched_rows", "sec", "processing_sec",
                 "lines_per_sec", "lines_per_sec_processing", "cpus",
                 "steal_jiffies", "quiet")
        out["stitcher"] = {k: sd[k] for k in ("error",) + skeys if k in sd}
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def time_queries(
    sf_dir: str, cpus: str, names: list[str] | None = None, reps: int = 1,
    explain_dir: str | None = None, tag: str = "before",
) -> dict[str, dict]:
    """Noop-sink timings of the __spark_entry__ queries (all, or
    `names`): min of `reps`, the steal jiffies of each rep, a job label
    per query, and `explain("formatted")` to explain_dir/<name>_<tag>.txt."""
    from hetman_spark.benchrun import noop_write
    from hetman_spark.session import get_spark

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="bench-queries", master=f"local[{cpus}]")
    qs = entry_mod.queries()
    if names:
        qs = {k: v for k, v in qs.items() if k in set(names)}
    # warmup: JIT, codegen, Python workers
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    noop_write(next(iter(qs.values()))(spark, sf_dir))

    out: dict[str, dict] = {}
    for name, fn in qs.items():
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(os.path.join(explain_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        secs, steals = [], []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"{name} [{tag}]")
            st0 = cpu_times()["steal"]
            t0 = time.time()
            noop_write(fn(spark, sf_dir))
            secs.append(round(time.time() - t0, 3))
            steals.append(cpu_times()["steal"] - st0)
            spark.sparkContext.setJobDescription(None)
        out[name] = {"secs": secs, "min": min(secs), "steal": steals}
    return out


def full_record(sf_dir: str, cpus: str, granted: list[int]) -> None:
    rows = int(os.environ.get("BENCH_WEBTEXT_ROWS", "4000000"))
    pair = scaling_pair(granted)

    # scaling first: time_queries keeps an in-process JVM alive for the
    # rest of the process, which would trip the stray-JVM guard (and
    # steal cycles) if the subprocess A/B ran after it
    pipeline = {}
    if os.environ.get("BENCH_SCALING", "1") != "0":
        pipeline = scaling_runs(rows, *pair) if pair else _skipped(granted)

    streaming = {}
    if os.environ.get("BENCH_STREAMING", "1") != "0":
        streaming = streaming_run(max(rows // 4, 100_000), pair[1] if pair else granted)

    multi_exec = {}
    if os.environ.get("BENCH_MULTI_EXEC", "0") == "1":
        multi_exec = multi_exec_runs(rows, 2, *pair) if pair else _skipped(granted)

    queries = {name: d["min"] for name, d in time_queries(sf_dir, cpus).items()}

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "entry_queries_total_plus_webtext_pipeline",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "pipeline": pipeline,
        "streaming": streaming,
        **({"multi_exec": multi_exec} if multi_exec else {}),
    }
    # driver-proof delivery: the per-round capture keeps only the LAST
    # 2000 chars of stdout — r3's full record (2.6 kB) kept its tail
    # but lost its head, so "parsed" came back null.  Persist the
    # complete record to BENCH_result.json (authoritative copy;
    # BENCH_local.json stays the curated full-protocol record), then
    # print a COMPACT line — headline ratios + per-query seconds, no
    # rep arrays / sink-count hashes — sized to fit the tail window.
    with open(os.path.join(REPO, "BENCH_result.json"), "w") as f:
        json.dump(out, f)

    def scalars(d: dict) -> dict:
        return {k: v for k, v in d.items() if isinstance(v, (int, float, str, bool))}

    compact_pipeline = scalars(pipeline)
    for label, d in pipeline.items():
        if isinstance(d, dict) and "pages_per_sec" in d:
            compact_pipeline[f"{label}_pps"] = d["pages_per_sec"]
    out_print = {
        "metric": out["metric"], "value": total, "unit": "sec",
        "queries": queries, "sf": out["sf"],
        "pipeline": compact_pipeline,
        "streaming": scalars(streaming),
        **({"multi_exec": scalars(multi_exec)} if multi_exec else {}),
    }
    line = json.dumps(out_print)
    if len(line) > 1900:  # never drop queries or the efficiency ratios
        out_print["streaming"] = {}
        line = json.dumps(out_print)
    if len(line) > 1900:
        out_print["pipeline"] = {
            k: v for k, v in compact_pipeline.items() if not k.endswith("_pps")
        }
        line = json.dumps(out_print)
    print(line, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description="Full bench record; see the module docstring.")
    flows = ap.add_subparsers(dest="flow")
    q = flows.add_parser("queries", help="subset sweep of the entry queries")
    q.add_argument("--reps", type=int, default=1)
    q.add_argument("--explain-dir", default=None)
    q.add_argument("--tag", default="before")
    q.add_argument("names", nargs="*")
    mx = flows.add_parser("multi-exec", help="N vs 4N executor-JVM pair")
    mx.add_argument("--rows", type=int, default=40_000_000)
    mx.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    granted = sorted(os.sched_getaffinity(0))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(granted))

    if args.flow == "queries":
        res = time_queries(sf_dir, cpus, args.names, args.reps, args.explain_dir, args.tag)
        total_min = round(sum(d["min"] for d in res.values()), 3)
        print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "tag": args.tag,
                          "total_min": total_min, "queries": res}))
    elif args.flow == "multi-exec":
        pair = scaling_pair(granted)
        out = multi_exec_runs(args.rows, args.reps, *pair) if pair else _skipped(granted)
        with open(os.path.join(REPO, "BENCH_multi_exec_sf1.json"), "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps({k: v for k, v in out.items() if not isinstance(v, dict)}), flush=True)
    else:
        full_record(sf_dir, cpus, granted)


if __name__ == "__main__":
    main()
