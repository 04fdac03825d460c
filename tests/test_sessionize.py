"""Gap-based sessionization: batch semantics + streaming twin."""

from pyspark.sql import functions as F

from hetman_spark.operators.sessionize import session_stats, sessionize


def _events(spark):
    rows = [
        # user 1: two sessions (gap of 3600 s between event 3 and 4)
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-01 10:10:00"),
        (3, 1, "2024-01-01 10:20:00"),
        (4, 1, "2024-01-01 11:30:00"),
        # user 2: one session, single event
        (5, 2, "2024-01-01 09:00:00"),
        # gap exactly 1800 s -> SAME session (> not >=)
        (6, 3, "2024-01-01 08:00:00"),
        (7, 3, "2024-01-01 08:30:00"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_sessionize_boundaries(spark):
    out = sessionize(_events(spark), gap_seconds=1800, tiebreak_col="event_id")
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got[1] == got[2] == got[3] == 0
    assert got[4] == 1          # 70-minute gap starts session 1
    assert got[5] == 0
    assert got[6] == got[7] == 0  # exactly-1800s gap stays in session


def test_session_stats(spark):
    out = session_stats(_events(spark), gap_seconds=1800, tiebreak_col="event_id")
    rows = {(r["user_id"], r["session_id"]): r for r in out.collect()}
    assert rows[(1, 0)]["n_events"] == 3
    assert rows[(1, 0)]["session_seconds"] == 1200
    assert rows[(1, 1)]["n_events"] == 1
    assert rows[(2, 0)]["session_seconds"] == 0
    assert rows[(3, 0)]["session_seconds"] == 1800


def test_sessionize_property_random_gaps(spark):
    """Property: within a session all consecutive gaps <= threshold;
    the first event of every later session follows a gap > threshold.
    Deterministic pseudo-random event times derived from range()."""
    n, gap = 500, 600
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1700000000)
                + F.pmod(F.xxhash64(F.col("id"), F.lit("t")), F.lit(86400))
            ).alias("ts"),
        )
    )
    out = sessionize(df, gap_seconds=gap, tiebreak_col="event_id").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        prev = None
        for r in rows:
            if prev is not None:
                delta = (r["ts"] - prev["ts"]).total_seconds()
                if r["session_id"] == prev["session_id"]:
                    assert delta <= gap
                else:
                    assert r["session_id"] == prev["session_id"] + 1
                    assert delta > gap
            prev = r
