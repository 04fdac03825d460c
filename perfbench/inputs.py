"""Seeded inputs around the public `generate_webtext`, and sink counts
computed from them independently of the pipeline.

The program only ever sees the parquet written here.  The seed picks
which pages carry a malformed embedded log line (they keep their html
template, so their text still extracts but the grok parse fails and
they route as `unparsed`) and how pages are assigned to splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup
from hetman_spark.sources.webtext import generate_webtext

# share of pages whose embedded log line does not parse, in permille
MALFORMED_PERMILLE = 50


def seeded_webtext(spark: SparkSession, n_rows: int, n_splits: int, seed: int) -> DataFrame:
    df = generate_webtext(spark, n_rows, n_splits=n_splits)
    h = F.pmod(F.xxhash64(F.col("url"), F.lit(seed), F.lit("malformed")), F.lit(1000))
    malformed_html = F.regexp_replace(
        F.decode(F.col("html"), "UTF-8"),
        r"<!--log: .*? -->",
        F.concat(F.lit("<!--log: malformed entry "), h.cast("string"), F.lit(" -->")),
    ).cast("binary")
    return df.select(
        "url",
        "warc_ts",
        F.when(h < MALFORMED_PERMILLE, malformed_html).otherwise(F.col("html")).alias("html"),
        "text",
        "lang",
        F.pmod(F.xxhash64(F.col("url"), F.lit(seed), F.lit("split")), F.lit(n_splits))
        .cast("int").alias("split_id"),
    )


def observe_sink_counts(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach an observation counting the rows each DEFAULT_SINKS sink
    must receive, evaluated on the raw input with a regex of its own
    (not the pipeline's parse).  The counts ride the job that writes
    the input, so they cost no extra pass."""
    status = F.regexp_extract(
        F.decode(F.col("html"), "UTF-8"), r'<!--log: \S+ - \S+ \[[^\]]*\] "[^"]*" (\d{3}) ', 1
    )
    derived = (
        df.join(F.broadcast(lang_lookup(df.sparkSession).select("lang", "region")), "lang", "left")
        .withColumn(
            "status_class",
            F.when(status != "", F.concat(F.substring(status, 1, 1), F.lit("xx")))
            .otherwise(F.lit("unparsed")),
        )
    )
    aggs = []
    for s in DEFAULT_SINKS:
        if s.predicate_col == "*" or s.predicate_val == "*":
            cond = F.lit(True)
        else:
            cond = F.col(s.predicate_col) == F.lit(s.predicate_val)
        aggs.append(F.count_if(cond).alias(s.signature()))
    obs = Observation("expected_sink_counts")
    return derived.observe(obs, *aggs).select(*df.columns), obs


def write_split_table(spark: SparkSession, path: str, n_rows: int, n_splits: int, seed: int) -> dict[str, int]:
    """Write the pipeline input (parquet partitioned by split_id, one
    file per split) and return its expected sink counts."""
    df, obs = observe_sink_counts(seeded_webtext(spark, n_rows, n_splits, seed))
    (
        df.repartition(n_splits, "split_id")
        .write.option("compression", "zstd")
        .partitionBy("split_id")
        .parquet(path)
    )
    got = obs.get
    return {s.signature(): int(got[s.signature()]) for s in DEFAULT_SINKS}


def archive_sink_id() -> str:
    return next(s.signature() for s in DEFAULT_SINKS if s.predicate_col == "*")
