"""Checkpoint manifest — the batch analog of hetman's offset registry.

Reference: Registry{Offsets: map[path]int64, BufferedPaths} persisted
as JSON every 1 s (/root/reference/internal/registry/registry.go:14-18,
76-91; cadence /root/reference/internal/orchestrator/orchestrator.go:186-198).
A tailer resumes by seeking to the saved offset
(/root/reference/internal/tailer/file.go:40-45).

Batch analog: the unit of progress is an input SPLIT (a split_id
partition of the webtext table) instead of a byte offset.  A split is
either committed (all sink writes for it succeeded) or it is not; a
restarted run anti-joins the manifest and reprocesses only uncommitted
splits.  Idempotence comes from split-scoped output partitions +
dynamic partition overwrite: a half-written split is simply
overwritten on rerun, so exactly-once per-sink counts survive kills
(SURVEY.md §7 "hard parts").

Commit protocol: ONE record per commit batch, `batch-<first split
id:06d>.json`, written via tmp + fsync + rename — atomic on POSIX; on
object stores the same role is played by a conditional PUT or an
Iceberg snapshot commit (noted, not needed here).  The name is unique
because each split commits once.  The record is also the pipeline's
lineage and metrics:

  splits        {split id: {rows_in, rows_parsed, rows_routed: {sink: n}}}
  stage_counts  the batch's df.observe counters (BatchPlan.stage_counts)
  phase_secs    write_job and lineage seconds
  epoch_id      streaming micro-batches only (see below)
  committed_at  unix time of the commit

A batch has its whole record or none of it, so resume, lineage and
`status` read one fact and cannot disagree; a crash anywhere before
the rename reprocesses the whole batch, which is also the unit of the
sink write.  A leftover `*.tmp` is ignored.  Listing the manifest dir
is O(batches), never O(rows).

The streaming twin commits each micro-batch the same way, keyed by
its epoch: `epoch-<epoch id:06d>.json`.  A replayed epoch (same id
after a failure) overwrites its own record, as it overwrites its own
sink partitions.  Its resume state is the streaming checkpoint, so
committed_splits reads batch records only; `status` sums both kinds.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter


def commit_batch(manifest_dir: str, record: dict) -> None:
    """Atomically write one commit batch's record (see the module
    docstring for its fields; committed_at is stamped here).  MUST be
    called only after every sink write of the batch has succeeded (the
    ordering that makes kill/resume exactly-once)."""
    os.makedirs(manifest_dir, exist_ok=True)
    if "epoch_id" in record:
        name = f"epoch-{record['epoch_id']:06d}.json"
    else:
        name = f"batch-{min(int(s) for s in record['splits']):06d}.json"
    final = os.path.join(manifest_dir, name)
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump({**record, "committed_at": time.time()}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)


def read_manifest(manifest_dir: str, kinds: tuple[str, ...] = ("batch-", "epoch-")) -> list[dict]:
    """Every commit record of `kinds`, in file-name order; empty if no
    manifest yet."""
    if not os.path.isdir(manifest_dir):
        return []
    records = []
    for name in sorted(os.listdir(manifest_dir)):
        if name.startswith(kinds) and name.endswith(".json"):
            with open(os.path.join(manifest_dir, name)) as f:
                records.append(json.load(f))
    return records


def committed_splits(manifest_dir: str) -> set[int]:
    """The set of committed split ids (empty if no manifest yet)."""
    return {int(s) for record in read_manifest(manifest_dir, ("batch-",)) for s in record["splits"]}


def totals(records: list[dict]) -> dict:
    """The records summed: what `status` prints and the `stream` CLI
    reports as its sink_counts."""

    def total(all_counts) -> dict:
        out: Counter = Counter()
        for counts in all_counts:
            out.update(counts)
        return dict(out)

    sinks = total(e["rows_routed"] for r in records for e in r["splits"].values())
    return {
        "committed_splits": sum(len(r["splits"]) for r in records),
        "stage_counts": total(r["stage_counts"] for r in records),
        "sink_counts": dict(sorted(sinks.items())),
        "batches": len(records),
        "phase_secs": {k: round(v, 3) for k, v in total(r["phase_secs"] for r in records).items()},
    }
