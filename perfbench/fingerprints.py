"""Result fingerprints for the corpus_queries workload.

The workload runs a fixed subset of `entry_queries.QUERIES` (QUERY_SET,
grouped by the module family each entry exercises) over the sf0.01
tables copied into perfbench/corpus/.  Each entry's result must match
the row count and order-insensitive hash of its DuckDB oracle
(`oracle_sql()`), stored in fingerprints.json.  Regenerate that file,
from the root of a checkout, with

    python3 perfbench/fingerprints.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_DIR = os.path.join(HERE, "corpus")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# entry -> family (the module the entry's work lives in); runs in
# registry order.  One or two entries per family keep a warm sweep near
# 4 s on four cores, so a run fits the benchmark's time budget.
QUERY_SET = {
    "grok_parse_nginx": "operators",
    "modifier_redact": "operators",
    "sessionize_events": "events",
    "minhash_band_pairs": "dedup",
    "sq8_topk": "similarity",
    "quality_filter": "text",
}


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    """Row count and a hash of the rows as the parity check normalizes
    them (`tools/check_parity.normalize`): type-strict, so a column whose
    type changes no longer matches, and order-insensitive."""
    from tools.check_parity import normalize

    cols = sorted(columns)
    h = hashlib.sha256(repr(cols).encode())
    for row in normalize([dict(zip(columns, row)) for row in rows], cols):
        h.update(repr(row).encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def main() -> None:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    from hetman_spark.entry_queries import ORACLES

    con = duckdb.connect()
    for name in sorted(os.listdir(CORPUS_DIR)):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(CORPUS_DIR, name)}'")
    out = {}
    for entry in QUERY_SET:
        cur = con.execute(ORACLES[entry])
        cols = [d[0] for d in cur.description]
        out[entry] = fingerprint(cols, cur.fetchall())
        print(entry, out[entry], flush=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
