"""The one router, route_explode_static: its rows must equal an
independent Python reference computed from the SinkConfig predicates
over the collected input rows, and no routing plan may contain a
BroadcastNestedLoopJoin."""

import pytest
from pyspark.sql import functions as F

from hetman_spark.config import SinkConfig
from hetman_spark.operators.route import route_explode_static, route_rows, validate_predicate_cols
from hetman_spark.plans.pipeline import build_parsed
from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup
from hetman_spark.sources.webtext import generate_webtext

COLS = ["lang", "status_class", "region"]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_router_matches_python_reference(spark):
    df = build_parsed(generate_webtext(spark, 2000, n_splits=4)).join(
        F.broadcast(lang_lookup(spark)), "lang", "left"
    )
    got = sorted(
        (r["sink_id"], r["url"], tuple(sorted(r["add_tags"].items())), r["format"])
        for r in route_explode_static(df, route_rows(DEFAULT_SINKS), COLS)
        .select("sink_id", "url", "add_tags", "format")
        .collect()
    )

    def matches(sink, row) -> bool:
        if sink.predicate_col == "*" or sink.predicate_val == "*":
            return True
        val = row[sink.predicate_col]
        return val is not None and str(val) == sink.predicate_val

    want = sorted(
        (s.signature(), row["url"], tuple(sorted(s.add_tags.items())), s.format)
        for row in df.select("url", *COLS).collect()
        for s in DEFAULT_SINKS
        if matches(s, row)
    )
    assert len(want) > 2000  # every row reaches the match-all sink, some more
    assert got == want


def test_static_router_no_bnlj(spark, sf_dir):
    """Neither the pipeline's routing plan nor the route_fanout entries
    (literal sink ids over TPC-H orders) join against a routes table."""
    from hetman_spark.entry_queries import QUERIES

    df = build_parsed(generate_webtext(spark, 200, n_splits=2)).join(
        F.broadcast(lang_lookup(spark)), "lang", "left"
    )
    plans = [_plan(route_explode_static(df, route_rows(DEFAULT_SINKS), COLS))]
    plans += [_plan(QUERIES[name](spark, sf_dir)) for name in ("route_fanout_counts", "route_fanout_rows")]
    for plan in plans:
        assert "Generate" in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_router_rejects_unknown_predicate_col(spark):
    """A sink whose predicate_col is not offered to the router must be
    a build-time config error, not a silent zero-row sink (r3 VERDICT
    What's-wrong #4)."""
    bad = DEFAULT_SINKS + (
        SinkConfig(url="s3://x", predicate_col="regoin", predicate_val="emea"),
    )
    df = spark.range(1).selectExpr("'en' AS lang", "'2xx' AS status_class",
                                   "'emea' AS region")
    with pytest.raises(ValueError, match="regoin"):
        route_explode_static(df, route_rows(bad), COLS)
    # the valid set still passes validation untouched
    validate_predicate_cols(route_rows(DEFAULT_SINKS), COLS)


def test_validator_exempts_matchall_predicate_val(spark):
    """r4 ADVICE low: the router treats predicate_val="*" as match-ALL
    regardless of predicate_col (`c == "*" or v == "*"`), so the
    validator must not reject a sink whose col is unknown but whose
    val is "*" — that config routes every row, not zero."""
    matchall_odd_col = route_rows(
        (SinkConfig(url="s3://all", predicate_col="not_a_column", predicate_val="*"),)
    )
    validate_predicate_cols(matchall_odd_col, ["lang"])  # must not raise
    df = spark.range(3).selectExpr("'en' AS lang")
    routed = route_explode_static(df, matchall_odd_col, ["lang"])
    assert routed.count() == 3  # really match-all
