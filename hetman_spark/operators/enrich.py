"""Enrich stage: broadcast lookup join with explicit skew handling.

Plays hetman's modifier/relabel stage with data-dependent values
(SURVEY.md §2.3 M1): a small lang_lookup dimension joins onto the
skewed fact table.  The north_rule requires salted repartitioning
before the enrich join — hot langs/domains (Zipf-drawn by the
generator) would otherwise pile into single shuffle partitions.

Design at 100 TB:
- The lookup is tiny (<=100 rows) -> F.broadcast: NO shuffle for the
  join itself; every executor joins map-side.  At 10^12 rows a
  sort-merge join on `lang` (9 distinct values, Zipf) would be the
  single worst plan available, so the hint is explicit, not left to
  statistics.
- Because the join is broadcast, the ONE keyed shuffle in the pipeline
  is the pre-write layout repartition.  We salt THAT shuffle: rows are
  repartitioned on (key, salt) before the enrich join so the hot key's
  rows spread over `buckets` reducers, and the downstream per-sink
  writes inherit the balanced layout.  AQE skew-join handling stays on
  session-wide as the backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(
    df: DataFrame,
    key: str,
    buckets: int,
    salt_from: str | None = None,
) -> DataFrame:
    """Repartition on (key, salt): bounds any one partition to
    ~1/buckets of the hottest key's rows.

    salt = xxhash64(salt_from) % buckets — deterministic across runs
    and cluster sizes (unlike rand()), so reruns/resumes place rows
    identically.  Defaults to the first column (url in the webtext
    pipeline — unique per row, so the salt is uniform).
    """
    if buckets <= 1:
        return df.repartition(F.col(key))
    src = salt_from or df.columns[0]
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(src)), F.lit(buckets)))
    return salted.repartition(F.col(key), F.col("_salt")).drop("_salt")


def enrich_with_lookup(
    df: DataFrame,
    lookup: DataFrame,
    on: str = "lang",
    salt_buckets: int = 8,
    salt_from: str | None = None,
) -> DataFrame:
    """Salted repartition on the skewed key, then LEFT broadcast-join
    the lookup; rows with no lookup match keep null enrichment (the
    never-drop-rows discipline, P6 at
    /root/reference/internal/parser/parser.go:201).
    """
    pre = salted_repartition(df, on, salt_buckets, salt_from=salt_from) if salt_buckets > 1 else df
    return pre.join(F.broadcast(lookup), on=on, how="left")
