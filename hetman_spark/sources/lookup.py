"""Enrichment lookup + routing tables (FIXTURES.md §2-§3).

lang_lookup plays hetman's modifier/relabel stage with data-dependent
values (add_fields semantics, /root/reference/internal/modifier/modifier.go:66-74);
routes plays the multi-forwarder fan-out
(/root/reference/internal/modifier/modifier.go:113-116) — one row per
logical sink, a record may match multiple sinks (duplication IS the
reference behavior).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from hetman_spark.config import SinkConfig
from hetman_spark.operators.route import route_rows


def local_table(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side rows as a JVM-local relation.

    `createDataFrame(list_of_rows)` plans as a Python-backed
    LogicalRDD: every query that reads it (each broadcast of a lookup,
    once per pipeline batch and per streaming micro-batch) runs a job
    in a Python worker pool just to re-serialize the rows.  Going
    through an Arrow table yields a LocalRelation with the same schema,
    nullability included, that the JVM scans on its own.
    """
    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


_LOOKUP_ROWS = [
    # lang, lang_label, region, redact_pattern, drop_cols
    ("en", "English", "amer", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("de", "German", "emea", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("fr", "French", "emea", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("es", "Spanish", "amer", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("zh", "Chinese", "apac", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("ru", "Russian", "emea", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("ja", "Japanese", "apac", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("pt", "Portuguese", "amer", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("other", "Other", "row", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
]


def lang_lookup(spark: SparkSession) -> DataFrame:
    """Small broadcast-side dimension: lang -> label/region/rules."""
    return local_table(
        spark,
        _LOOKUP_ROWS,
        "lang string, lang_label string, region string, "
        "redact_pattern string, drop_cols array<string>",
    )


# Default sink set: representative of the reference's example config
# (2-3 targets x 1-2 forwarders, /root/reference/internal/config/
# hetman.agent.yaml.example).  One match-all sink (every forwarder in
# hetman receives every record of its target) plus predicate-routed
# sinks; `en` is the hot lang so sink-en is the skewed route.
DEFAULT_SINKS: tuple[SinkConfig, ...] = (
    SinkConfig(
        url="sink://archive", add_tags={"tier": "archive", "job": "webtext"},
        predicate_col="*", predicate_val="*",
    ),
    SinkConfig(
        url="sink://english", add_tags={"tier": "hot", "job": "webtext"},
        predicate_col="lang", predicate_val="en",
    ),
    SinkConfig(
        url="sink://errors", add_tags={"tier": "errors", "job": "webtext"},
        predicate_col="status_class", predicate_val="5xx",
    ),
    SinkConfig(
        url="sink://emea", add_tags={"tier": "regional", "job": "webtext"},
        predicate_col="region", predicate_val="emea",
    ),
)


def routes_df(spark: SparkSession, sinks: tuple[SinkConfig, ...] = DEFAULT_SINKS) -> DataFrame:
    """Routing table: the router's Route rows (sink_id, predicate_col,
    predicate_val, add_tags) as a JVM-local relation."""
    return local_table(
        spark,
        route_rows(sinks),
        "sink_id string, predicate_col string, predicate_val string, add_tags map<string,string>",
    )
