"""route_explode_static must be row-identical to route_explode: the
static router is a pure plan-shape optimization (inlined predicates +
array_compact/explode instead of a BroadcastNestedLoopJoin), never a
semantics change."""

from pyspark.sql import functions as F

from hetman_spark.operators.route import route_explode, route_explode_static
from hetman_spark.plans.pipeline import build_parsed
from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup, routes_df
from hetman_spark.sources.webtext import generate_webtext


def test_static_router_matches_join_router(spark):
    df = build_parsed(generate_webtext(spark, 2000, n_splits=4)).join(
        F.broadcast(lang_lookup(spark)), "lang", "left"
    )
    cols = ["lang", "status_class", "region"]
    key = ["sink_id", "url"]
    dyn = route_explode(df, routes_df(spark), predicate_cols=cols).select(
        *key, "add_tags", "format"
    )
    stat = route_explode_static(df, DEFAULT_SINKS, predicate_cols=cols).select(
        *key, "add_tags", "format"
    )
    assert dyn.count() == stat.count()
    # order-insensitive row equality including tags/format payloads
    d = dyn.withColumn("add_tags", F.to_json(F.col("add_tags")))
    s = stat.withColumn("add_tags", F.to_json(F.col("add_tags")))
    assert d.exceptAll(s).count() == 0
    assert s.exceptAll(d).count() == 0


def test_static_router_no_bnlj(spark):
    df = build_parsed(generate_webtext(spark, 200, n_splits=2)).join(
        F.broadcast(lang_lookup(spark)), "lang", "left"
    )
    out = route_explode_static(df, DEFAULT_SINKS, ["lang", "status_class", "region"])
    plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_router_rejects_unknown_predicate_col(spark):
    """A sink whose predicate_col is not offered to the router must be
    a build-time config error, not a silent zero-row sink (r3 VERDICT
    What's-wrong #4)."""
    import pytest

    from hetman_spark.config import SinkConfig
    from hetman_spark.operators.route import route_per_sink, validate_predicate_cols

    bad = DEFAULT_SINKS + (
        SinkConfig(url="s3://x", predicate_col="regoin", predicate_val="emea"),
    )
    df = spark.range(1).selectExpr("'en' AS lang", "'2xx' AS status_class",
                                   "'emea' AS region")
    with pytest.raises(ValueError, match="regoin"):
        route_explode_static(df, bad, ["lang", "status_class", "region"])
    with pytest.raises(ValueError, match="regoin"):
        route_per_sink(
            df,
            [{"sink_id": "x", "predicate_col": "regoin", "predicate_val": "emea"}],
            ["lang", "status_class", "region"],
        )
    # the valid set still passes validation untouched
    validate_predicate_cols(DEFAULT_SINKS, ["lang", "status_class", "region"])


def test_validator_exempts_matchall_predicate_val(spark):
    """r4 ADVICE low: the routers treat predicate_val="*" as match-ALL
    regardless of predicate_col (`c == "*" or v == "*"`), so the
    validator must not reject a sink whose col is unknown but whose
    val is "*" — that config routes every row, not zero."""
    from hetman_spark.config import SinkConfig
    from hetman_spark.operators.route import route_per_sink, validate_predicate_cols

    matchall_odd_col = (
        SinkConfig(url="s3://all", predicate_col="not_a_column", predicate_val="*"),
    )
    validate_predicate_cols(matchall_odd_col, ["lang"])  # must not raise
    df = spark.range(3).selectExpr("'en' AS lang")
    routed = route_per_sink(
        df,
        [{"sink_id": "all", "predicate_col": "not_a_column", "predicate_val": "*"}],
        ["lang"],
    )
    assert routed["all"].count() == 3  # really match-all
