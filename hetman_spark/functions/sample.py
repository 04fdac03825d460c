"""Deterministic stratified sampling for training-data pipelines.

`df.sample()` draws from a per-partition RNG: the selected set changes
with partitioning, cluster size, and retries — unusable when a corpus
sample must be reproducible (data mixes, eval splits, decontamination
holdouts).  The standard fix is HASH sampling: a doc is in the sample
iff md5(key || salt) falls under a threshold.  stratified_sample is
the one sampler (entry `stratified_sample`; a single rate for every
row is `stratified_sample(df, {}, default_frac=f)`).  Properties that
matter at 10^12 docs:

- deterministic across runs, engines, cluster sizes, and retries;
- pure per-row expression — no shuffle, no state, prunes with the scan;
- composable: the same salt gives nested samples (frac 0.1 is a strict
  subset of frac 0.2), a different salt gives an independent draw;
- stratified rates = a threshold per stratum, still one pass.

The reference has no analog (a log shipper forwards everything); this
is an LLM-pipeline-brief operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1 << 32


def _hash_bucket(key: Column, salt: str) -> Column:
    """Uniform BIGINT in [0, 2^32) from the first 8 md5 hex nibbles —
    engine-agnostic (DuckDB: CAST('0x' || substr(md5(..),1,8) AS
    BIGINT)), ANSI-safe (< 2^32 never overflows BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("long")


def stratified_sample(
    df: DataFrame,
    fracs: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_frac: float = 0.0,
    salt: str = "s0",
) -> DataFrame:
    """Per-stratum hash sampling rates (e.g. lang mixes: keep all 'de',
    half of 'en', a tenth of the rest) — one scan, no shuffle; the
    threshold is a CASE over the stratum column."""
    thr: Column = F.lit(int(default_frac * _BUCKETS))
    for value, frac in sorted(fracs.items()):
        thr = F.when(F.col(stratum_col) == value, F.lit(int(frac * _BUCKETS))).otherwise(thr)
    return df.where(_hash_bucket(F.col(key_col), salt) < thr)
