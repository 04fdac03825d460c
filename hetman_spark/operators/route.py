"""M4 + F1/F2/B4: tag-driven router and per-sink outputs.

Reference: after the modifier, every record is duplicated to every
forwarder's buffer channel
(/root/reference/internal/modifier/modifier.go:113-116); each Loki
forwarder builds a stream {merged tags, [[ts, line]]}
(/root/reference/internal/forwarder/loki.go:23-36).

Rebuild: a routing table (sink_id, predicate_col, predicate_val,
add_tags) is joined/filtered against the enriched frame.  Two shapes:

- route_explode: one inner join with the tiny broadcast routes table
  on a computed match flag -> a single DataFrame with a sink_id
  column.  One pass over the data, then write.partitionBy(sink_id,..)
  — the scale-friendly shape (no k re-reads), used by the pipeline.
- route_per_sink: k filtered views over a cached upstream — matches
  the reference's "send to every buffer chan" literally; useful when
  sinks need different schemas/formats.

Match-all sinks (predicate "*") receive every record, like hetman's
per-target forwarders.  Duplication across matching sinks is the
reference behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hetman_spark.operators.modify import merge_tags


def validate_predicate_cols(sinks, predicate_cols: list[str]) -> None:
    """Config validation: a sink whose predicate_col is not one of the
    columns offered to the router would silently match NOTHING (its
    predicate compiles to lit(False)) — zero rows routed, no error.
    Raise at build time instead: a typo'd routing predicate is a config
    error, not an empty sink.  `sinks` is any iterable of objects/dicts
    with predicate_col; "*" always matches and is exempt."""
    offered = set(predicate_cols)

    def _get(s, k):
        return s[k] if isinstance(s, dict) else getattr(s, k)

    # Mirror the routers' match condition exactly (`c == "*" or v == "*"`
    # is match-ALL): a sink with predicate_val="*" matches every row no
    # matter what predicate_col says, so it must not be rejected.
    bad = sorted(
        {
            _get(s, "predicate_col")
            for s in sinks
            if _get(s, "predicate_col") != "*"
            and _get(s, "predicate_val") != "*"
            and _get(s, "predicate_col") not in offered
        }
    )
    if bad:
        raise ValueError(
            f"sink predicate_col(s) {bad} not in the columns offered to the "
            f"router {sorted(offered)}: these sinks would receive zero rows"
        )


def _match_cond(df_cols: list[str]):
    """Build the routing predicate: routes.predicate_col names a column
    of the enriched frame whose value must equal predicate_val; "*"
    matches everything."""
    def cond(left: DataFrame, routes: DataFrame):
        c = F.col("predicate_col")
        v = F.col("predicate_val")
        match = (c == F.lit("*")) | (v == F.lit("*"))
        for name in df_cols:
            match = match | ((c == F.lit(name)) & (F.col(name).cast("string") == v))
        return match
    return cond


def route_explode(df: DataFrame, routes: DataFrame, predicate_cols: list[str]) -> DataFrame:
    """Inner-join the broadcast routes table on the match predicate.

    Output = input rows duplicated per matching sink, with sink_id,
    sink add_tags and format attached.  The join is a broadcast
    nested-loop-free theta join on a tiny table (3-5 rows): Catalyst
    executes it as BroadcastNestedLoopJoin, which at 3-5 sink rows is
    k flag evaluations per record — the same work as hetman's k
    channel sends.

    Unlike the static router, a routes ROW naming a column outside
    predicate_cols cannot be validated here without collecting the
    routes frame — callers holding the SinkConfig objects should run
    validate_predicate_cols first (run_pipeline's static path does).
    """
    cond = _match_cond(predicate_cols)(df, routes)
    return df.join(F.broadcast(routes), on=cond, how="inner")


def route_explode_static(df: DataFrame, sinks, predicate_cols: list[str]) -> DataFrame:
    """Join-free router for the (usual) case where the sink list is
    known driver-side: each sink's predicate is inlined as a literal
    Column expression, matching sinks collect into a per-row array of
    (sink_id, add_tags, format) structs, and one explode produces the
    duplicated rows.  Semantically identical to route_explode (same
    signatures, same duplication, same null-predicate handling) but
    the whole stage stays inside WholeStageCodegen — route_explode's
    BroadcastNestedLoopJoin evaluates its interpreted condition k
    times per row through join machinery, measured to scale at ~0.6
    efficiency 2->8 cores vs ~0.85 for the rest of the plan
    (allocation-heavy interpreted path).  `sinks` is the SinkConfig
    sequence (the same objects routes_df serializes)."""
    validate_predicate_cols(sinks, predicate_cols)

    def entry(s):
        if s.predicate_col == "*" or s.predicate_val == "*":
            cond = F.lit(True)
        else:
            cond = F.col(s.predicate_col).cast("string") == F.lit(s.predicate_val)
        if s.add_tags:
            # insertion order, matching routes_df's map literal exactly
            tags = F.create_map(
                *[x for k, v in s.add_tags.items() for x in (F.lit(k), F.lit(v))]
            )
        else:
            tags = F.create_map().cast("map<string,string>")
        payload = F.struct(
            F.lit(s.signature()).alias("sink_id"),
            tags.alias("add_tags"),
            F.lit(s.format).cast("string").alias("format"),
        )
        return F.when(cond, payload)

    # inline = explode + one column per struct field, in one select
    # (one analysis pass; the same interpreted Generate node)
    return df.select("*", F.inline(F.array_compact(F.array(*[entry(s) for s in sinks]))))


def route_per_sink(df: DataFrame, routes_rows: list[dict], predicate_cols: list[str]) -> dict[str, DataFrame]:
    """k filtered views (cache df first!) — the literal analog of the
    reference's per-forwarder fan-out."""
    validate_predicate_cols(routes_rows, predicate_cols)
    out: dict[str, DataFrame] = {}
    for r in routes_rows:
        c, v = r["predicate_col"], r["predicate_val"]
        if c == "*" or v == "*":
            flt = F.lit(True)
        else:
            flt = F.col(c).cast("string") == F.lit(v)
        out[r["sink_id"]] = df.filter(flt)
    return out


def with_sink_tags(
    routed: DataFrame,
    parsed_col: str = "parsed",
    labels_col: str = "labels",
    source_col: str = "url",
    disjoint: bool = False,
) -> DataFrame:
    """Build the per-record stream tags the way LokiOutput does:
    tags = merge(add_tags + {source}, parsed, labels), precedence
    labels > parsed > add_tags (loki.go:33); source tag = the tailed
    path analog, here the url
    (/root/reference/internal/forwarder/forwarder.go:69-78).

    disjoint=True is a caller-VALIDATED fast path: when the sink
    add_tags keys provably never collide with parsed field names,
    'source', or upstream labels, the precedence merge reduces to one
    map_concat with no higher-order lambdas.  The general merge's
    per-row map_filter chain allocates 5 intermediate maps per record
    and was measured to scale at ~0.5 efficiency 2->8 cores (GC-bound)
    vs ~0.9 for the rest of the plan.
    """
    empty = F.create_map().cast("map<string,string>")
    parsed = F.col(parsed_col) if parsed_col in routed.columns else F.lit(None).cast("map<string,string>")
    labels = F.col(labels_col) if labels_col in routed.columns else F.lit(None).cast("map<string,string>")
    if disjoint:
        tags = F.map_concat(
            F.coalesce(F.col("add_tags"), empty),
            F.create_map(F.lit("source"), F.col(source_col)),
            F.coalesce(parsed, empty),
            F.coalesce(labels, empty),
        )
        return routed.withColumn("tags", tags)
    add_with_source = F.map_concat(
        F.map_filter(
            F.coalesce(F.col("add_tags"), empty),
            lambda k, _v: k != F.lit("source"),
        ),
        F.create_map(F.lit("source"), F.col(source_col)),
    )
    return routed.withColumn("tags", merge_tags(add_with_source, parsed, labels))
