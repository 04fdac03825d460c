"""Hard kill/resume: SIGKILL the CLI mid-run, resume, verify
exactly-once observable output (the north_star registry semantics:
killed run resumes without recomputation or duplication)."""

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from hetman_spark.plans.checkpoint import committed_splits, read_manifest
from hetman_spark.sources.webtext import write_webtext

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_sigkill_mid_run_then_resume(spark, tmp_path):
    wt = str(tmp_path / "wt")
    out = str(tmp_path / "out")
    write_webtext(spark, wt, 6000, n_splits=12)

    # start the CLI with tiny commit batches so several commits happen,
    # then SIGKILL it once the manifest shows partial progress
    proc = subprocess.Popen(
        [sys.executable, "-m", "hetman_spark", "run",
         "--input", wt, "--out", out, "--master", "local[4]",
         "--splits-per-commit", "2"],
        cwd=REPO, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    manifest_dir = os.path.join(out, "_manifest")
    deadline = time.time() + 180
    while time.time() < deadline:
        done = committed_splits(manifest_dir)
        if 2 <= len(done) <= 10:
            break
        if proc.poll() is not None:
            break
        time.sleep(0.3)
    if proc.poll() is None:
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait()
    partial = committed_splits(manifest_dir)
    assert 0 < len(partial) < 12, f"kill landed outside the window: {len(partial)}"

    # resume to completion via a fresh CLI process
    res = subprocess.run(
        [sys.executable, "-m", "hetman_spark", "run",
         "--input", wt, "--out", out, "--master", "local[4]"],
        cwd=REPO, capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stderr[-500:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["splits_processed"] == 12 - len(partial)

    # exactly-once: match-all sink has every row exactly once,
    # byte-identical text
    data = spark.read.parquet(os.path.join(out, "data"))
    archive = data.filter(F.col("sink_id") == "ef72bbb8150adc6cdce19e595f8e64e0")
    assert archive.count() == 6000
    assert archive.groupBy("url").count().filter("count > 1").count() == 0
    src = spark.read.parquet(wt).select("url", F.col("text").alias("g"))
    assert archive.join(src, "url").filter(F.col("text") != F.col("g")).count() == 0

    # one record per commit batch: every split in exactly one record,
    # and the records' lineage counts every page once
    records = read_manifest(manifest_dir)
    assert sorted(int(s) for r in records for s in r["splits"]) == list(range(12))
    assert sum(e["rows_in"] for r in records for e in r["splits"].values()) == 6000
