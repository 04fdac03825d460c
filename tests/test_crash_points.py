"""Deterministic crash points of run_pipeline: each test makes one step
of a batch raise in-process (monkeypatch; no kill, sleep or timeout),
then resumes, and compares every output with one clean run:

- per-(sink, split) parquet footer row counts;
- each commit record, apart from committed_at and phase_secs;
- every split in exactly one record, and sum(rows_in) == pages;
- `status` stage and sink counts;
- the match-all sink's text per url, byte for byte.

The crash points: (a) the sink write writes one sink's rows, then
raises; (b) after the write, before the footer read; (c) after the
footer read, before commit_batch; (d) inside commit_batch, after the
tmp file is written and before the rename; (e) batch 2's write raises
after batch 1 has committed.  tests/test_kill_resume.py is the
real-process (SIGKILL) check.
"""

import contextlib
import io
import json
import os

import pytest
from pyspark.sql import functions as F

from hetman_spark.__main__ import main as cli_main
from hetman_spark.plans import pipeline
from hetman_spark.plans.checkpoint import committed_splits, read_manifest
from hetman_spark.sources.lookup import DEFAULT_SINKS
from hetman_spark.sources.webtext import write_webtext

PAGES = 2000
SPLITS = 4
PER_COMMIT = 2
ARCHIVE = next(s.signature() for s in DEFAULT_SINKS if s.predicate_col == "*")


# the real steps, for the fakes below to call while they are patched in
WRITE_SINKS = pipeline.write_sinks
COMMIT_BATCH = pipeline.commit_batch


class Crash(Exception):
    """The injected failure."""


def _raise(*_args, **_kwargs):
    raise Crash


def _write_one_sink(routed, data_dir, partition_cols):
    """The sink write dies after one sink's rows are on disk."""
    WRITE_SINKS(routed.where(F.col("sink_id") == ARCHIVE), data_dir, partition_cols)
    raise Crash


def _second_write_crashes():
    calls = []

    def write(routed, data_dir, partition_cols):
        calls.append(1)
        if len(calls) == 2:
            _write_one_sink(routed, data_dir, partition_cols)
        WRITE_SINKS(routed, data_dir, partition_cols)

    return write


def _commit_crashes_before_rename(manifest_dir, record):
    with pytest.MonkeyPatch.context() as m:
        m.setattr(os, "replace", _raise)
        COMMIT_BATCH(manifest_dir, record)


# point -> (the pipeline step replaced, a factory of its replacement,
# the splits committed when the crash lands)
CRASH_POINTS = {
    "a_partial_sink_write": ("write_sinks", lambda: _write_one_sink, set()),
    "b_before_footer_read": ("_footer_lineage", lambda: _raise, set()),
    "c_before_commit_batch": ("commit_batch", lambda: _raise, set()),
    "d_commit_before_rename": ("commit_batch", lambda: _commit_crashes_before_rename, set()),
    "e_second_batch_write": ("write_sinks", _second_write_crashes, {0, 1}),
}


def _outputs(spark, out: str) -> dict:
    records = read_manifest(os.path.join(out, "_manifest"))
    split_ids = sorted(int(s) for r in records for s in r["splits"])
    _in, footers = pipeline._footer_lineage(os.path.join(out, "data"), list(range(SPLITS)), ARCHIVE)
    with contextlib.redirect_stdout(io.StringIO()) as buf:
        assert cli_main(["status", "--out", out]) == 0
    status = json.loads(buf.getvalue())
    archive = (
        spark.read.parquet(os.path.join(out, "data"))
        .where(F.col("sink_id") == ARCHIVE)
        .select("url", "text")
        .collect()
    )
    return {
        "footers": footers,
        "records": [
            {k: v for k, v in r.items() if k not in ("committed_at", "phase_secs")}
            for r in records
        ],
        "split_ids": split_ids,
        "rows_in": sum(e["rows_in"] for r in records for e in r["splits"].values()),
        "status": {k: status[k] for k in ("stage_counts", "sink_counts")},
        "archive_rows": len(archive),
        "archive": {r["url"]: r["text"] for r in archive},
    }


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("crash") / "webtext")
    write_webtext(spark, path, PAGES, n_splits=SPLITS)
    return path


@pytest.fixture(scope="module")
def clean(spark, source, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("crash") / "clean")
    pipeline.run_pipeline(spark, source, out, splits_per_commit=PER_COMMIT)
    outputs = _outputs(spark, out)
    assert outputs["split_ids"] == list(range(SPLITS))
    assert outputs["rows_in"] == outputs["archive_rows"] == PAGES
    return outputs


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_crash_then_resume_equals_clean_run(spark, source, clean, tmp_path, monkeypatch, point):
    name, make_fake, committed_after_crash = CRASH_POINTS[point]
    out = str(tmp_path / "out")
    manifest_dir = os.path.join(out, "_manifest")
    with monkeypatch.context() as m:
        m.setattr(pipeline, name, make_fake())
        with pytest.raises(Crash):
            pipeline.run_pipeline(spark, source, out, splits_per_commit=PER_COMMIT)
    assert committed_splits(manifest_dir) == committed_after_crash
    if point == "d_commit_before_rename":
        # the crash landed between the tmp write and the rename, and
        # the leftover tmp file is no commit
        assert [n for n in os.listdir(manifest_dir) if n.endswith(".tmp")]

    resumed = pipeline.run_pipeline(spark, source, out, splits_per_commit=PER_COMMIT)
    assert sorted(resumed.splits_processed) == sorted(set(range(SPLITS)) - committed_after_crash)
    got = _outputs(spark, out)
    assert got["split_ids"] == list(range(SPLITS))  # each split in exactly one record
    assert got["rows_in"] == got["archive_rows"] == PAGES
    for key in ("footers", "records", "status", "archive"):
        assert got[key] == clean[key], key
