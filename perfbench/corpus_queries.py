"""corpus_queries: the entry-query registry over a fixed corpus.

A check sweep first collects every entry of QUERY_SET and compares it
with its DuckDB-oracle fingerprint.  Untimed noop sweeps follow: sweep
times keep falling for several sweeps while the JIT compiles the hot
paths.  Each timed operation is then one sweep of the set in registry
order, every entry written to a noop sink.  The corpus tables are
fixed, so the seed is only recorded.
"""

from __future__ import annotations

import json
import statistics
import time

from hetman_spark.entry_queries import QUERIES

from perfbench.fingerprints import CORPUS_DIR, FINGERPRINTS, QUERY_SET, fingerprint
from perfbench.harness import Run

ENTRIES = [name for name in QUERIES if name in QUERY_SET]
WARM_SWEEPS = 4
# a run times round(seconds / SWEEP_NOMINAL_S) sweeps, at least two, so
# every run of a given length does the same work
SWEEP_NOMINAL_S = 4.0


def run(r: Run, seconds: float) -> dict:
    spark, tr = r.spark, r.tracer
    with open(FINGERPRINTS) as f:
        expected = json.load(f)
    mismatched = []
    with tr.span("setup.check_sweep"):
        for name in ENTRIES:
            df = QUERIES[name](spark, CORPUS_DIR)
            rows = [tuple(row) for row in df.collect()]
            if fingerprint(df.columns, rows) != expected[name]:
                mismatched.append(name)

    with tr.span("setup.warm_sweeps"):
        for _ in range(WARM_SWEEPS):
            _sweep(spark, tr)
    r.begin_window()
    sweeps = []
    for _ in range(max(2, round(seconds / SWEEP_NOMINAL_S))):
        with r.op():
            sweeps.append(_sweep(spark, tr))
    r.end_window()

    res = {
        "attempted": len(ENTRIES) * (len(sweeps) + WARM_SWEEPS + 1),
        "failed": len(mismatched),
        "checks": {"fingerprints_match": not mismatched},
        "record": {"entries": ENTRIES, "sweeps_s": sweeps, "mismatched": mismatched},
    }
    if r.trace:
        res["layers"] = _layers(r, sweeps)
    return res


def _sweep(spark, tr) -> dict[str, float]:
    """One pass over ENTRIES in registry order, each to a noop sink."""
    times = {}
    with tr.span("queries.sweep"):
        for name in ENTRIES:
            t0 = time.time()
            with tr.span(f"q.{name}", family=QUERY_SET[name]):
                QUERIES[name](spark, CORPUS_DIR).write.format("noop").mode("overwrite").save()
            times[name] = time.time() - t0
    return times


def _layers(r: Run, sweeps: list[dict[str, float]]) -> dict[str, float]:
    per_entry = {name: statistics.median(s[name] for s in sweeps) for name in ENTRIES}
    layers = {f"queries.{fam}_s": 0.0 for fam in set(QUERY_SET.values())}
    for name, secs in per_entry.items():
        layers[f"queries.{QUERY_SET[name]}_s"] += secs
        layers[f"q.{name}_s"] = secs
    layers["storage.held_mb"] = r.storage_held_mb()
    return layers
