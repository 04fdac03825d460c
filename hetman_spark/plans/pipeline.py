"""The end-to-end pipeline: read -> parse -> enrich -> route -> write,
with one commit record per batch (lineage, counters, manifest resume).

This replaces hetman's whole orchestrator
(/root/reference/internal/orchestrator/orchestrator.go:242-425): the
goroutine/channel graph becomes ONE lazy DataFrame per batch of input
splits; Catalyst plans it, the driver loop commits one manifest record
per batch — SURVEY.md §3.1 "the driver loop is: for
batch_of_partitions: process; append manifest entry".

Stages and their reference analogs (plan_batch builds the parse ->
route chain for every caller; process_batch runs one batch from plan
to commit record, for run_pipeline's driver loop and the streaming
twin's micro-batches alike):
  read parquet (pruned by manifest anti-join) . tailer + offset seek
  extract_page (JVM: strict utf-8 decode,     . Parser.Run (P1)
    template slicing, grok with the spec's
    pattern on the log line)
  apply_modifier                              . Modifier.Run (M1-M3)
  optional dedup / near-dup / PII stages      . (corpus-build extras)
  rebalance(split_id) + broadcast enrich      . add-fields w/ lookup
    (or presalt: salted repartition)
  route_explode_static + with_sink_tags       . Modifier fan-out + Loki
                                                stream building (M4/F2)
  write_sinks (partitionBy(sink_id,           . Forwarder delivery (F1)
    split_id), url-sorted files, zstd, no
    dictionary for text/url/warc_ts/tag
    values)
  footer lineage (per-split in/parsed/routed) . OTel counters (A1/A2)
  commit_batch: one record per batch with     . registry persist (A5)
    lineage, stage counters and phase times     + counter export (A3/A4)

Scale shape (the plan we WANT at 100 TB):
  one scan (pruned to uncommitted splits, column-pruned), no shuffle
  until the single salted layout repartition, broadcast joins only,
  one write. Lineage aggs are map-side-combined and tiny.  Per-batch
  job granularity keeps any single failure domain to
  splits_per_commit splits.
"""

from __future__ import annotations

import logging
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hetman_spark.config import ModifierConfig, ParserConfig, PipelineSpec, SinkConfig
from hetman_spark.operators.enrich import enrich_with_lookup
from hetman_spark.operators.html import extract_page
from hetman_spark.operators.modify import _strip_prefix, apply_modifier, go_replacer
from hetman_spark.operators.parse import grok_to_regex
from hetman_spark.operators.route import route_explode_static, route_rows, with_sink_tags
from hetman_spark.plans.checkpoint import commit_batch, committed_splits
from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup

# nginx combined-log pattern for the embedded access-log line
# (reference pattern: /root/reference/internal/parser/parser_test.go:94)
NGINX_PATTERN = (
    '$remote_addr - $remote_user [$time_local] "$request" '
    '$status $bytes_sent "$referrer" "$user_agent"'
)

# the spec of a run without a config file
DEFAULT_SPEC = PipelineSpec(id="", input_path="", sinks=DEFAULT_SINKS)

# the enriched columns a sink predicate may name
PREDICATE_COLS = ["lang", "status_class", "region"]


@dataclass
class PipelineResult:
    splits_processed: list[int] = field(default_factory=list)
    rows_in: int = 0
    rows_parsed: int = 0
    sink_counts: dict[str, int] = field(default_factory=dict)
    # A3/A4: per-stage observed counters, collected via df.observe from
    # the SAME job that writes the sinks (no extra pass) — the analog of
    # hetman's per-stage OTel counters (/root/reference/internal/
    # telemetry/metrics/metrics.go:77-113).  Keys: source.rows_in,
    # parse.rows_parsed, parse.errors, route.rows_routed.
    stage_counts: dict[str, int] = field(default_factory=dict)
    # wall-clock per phase (seconds, summed over batches): the write
    # job vs the driver-serial tail (lineage metadata reads + manifest
    # commit) — what the bench reads to attribute non-scaling time.
    phase_secs: dict[str, float] = field(default_factory=dict)


def grok_pattern(parser: ParserConfig) -> str:
    """The grok pattern the pipeline parses the embedded log line with:
    `parser.pattern`, or NGINX_PATTERN when it is empty.  Raises
    ValueError for a parser config the pipeline cannot run — a json or
    syslog format, a multiline pattern, a pattern without $variables —
    instead of silently parsing with nginx."""
    if parser.format not in ("", "nginx"):
        raise ValueError(
            f"parser format {parser.format!r} is not supported by the webtext "
            "pipeline: only nginx/grok patterns parse the embedded log line"
        )
    if parser.multiline_pattern:
        raise ValueError(
            "parser multiline.pattern is not supported by the webtext pipeline: "
            "each page embeds exactly one log line"
        )
    pattern = parser.pattern or NGINX_PATTERN
    if not grok_to_regex(pattern)[1]:
        raise ValueError(f"grok pattern {pattern!r} has no $variables")
    return pattern


def check_spec(spec: PipelineSpec) -> None:
    """The one spec check, run at plan build and on a config reload:
    grok_pattern's parser check, and the replace kernel built (and run
    once on the driver) for every modifier pattern and template.
    Raises ValueError for a spec whose batches could not run."""
    grok_pattern(spec.parser)
    for r in spec.modifier.replace_fields:
        go_replacer(r.pattern, r.replacement)


def build_parsed(df: DataFrame, parser: ParserConfig = ParserConfig()) -> DataFrame:
    """The parse stage (narrow, no shuffle; runs in the JVM).

    Produces the input's columns except html, then extracted_text,
    parsed (map of the pattern's $variables), parse_ok, status_class.
    On the webtext source that is: url, warc_ts, text, lang, split_id,
    extracted_text, parsed, parse_ok, status_class.  status_class is
    "unparsed" when the log line missed grok, its status is empty, or
    the pattern has no $status.
    """
    pattern = grok_pattern(parser)
    fields = grok_to_regex(pattern)[1]
    # every grok field is null iff the log line missed grok; read the
    # hit from status when the pattern has it (status_class reads it)
    hit = F.col(f"_x.{'status' if 'status' in fields else fields[0]}").isNotNull()
    status = F.col("_x.status") if "status" in fields else F.lit("")
    # parsed map (hetman's Parsed map[string]string); null-safe (P6)
    parsed = F.when(
        hit,
        F.map_from_arrays(
            F.array(*[F.lit(f) for f in fields]),
            F.array(*[F.col(f"_x.{f}") for f in fields]),
        ),
    )
    # one projection for every output column: each withColumn/drop is
    # a separate analysis pass on the driver
    return extract_page(df, pattern, "_x").select(
        *[c for c in df.columns if c != "html"],
        F.col("_x.text").alias("extracted_text"),
        parsed.alias("parsed"),
        hit.alias("parse_ok"),
        # status_class routing tag (5xx -> errors sink), from the parse
        # struct before the modifier can rename/drop fields
        F.when(
            hit & (status != ""),
            F.concat(F.substring(status, 1, 1), F.lit("xx")),
        ).otherwise(F.lit("unparsed")).alias("status_class"),
    )


def tags_disjoint(
    sinks: tuple[SinkConfig, ...],
    modifier: ModifierConfig = ModifierConfig(),
    parser: ParserConfig = ParserConfig(),
) -> bool:
    """Driver-side validation for the fast tag-merge path: no sink
    add_tags key can collide with a parsed-map key or 'source' (see
    with_sink_tags(disjoint=True), which map_concats without dedup —
    Spark's default mapKeyDedupPolicy=EXCEPTION throws on collision).
    The parsed map holds the grok pattern's fields plus any modifier
    add_fields keys, so those count as reserved too."""
    reserved = set(grok_to_regex(grok_pattern(parser))[1]) | {"source"}
    reserved |= {_strip_prefix(k) for k in modifier.add_fields}
    return all(not (set(s.add_tags) & reserved) for s in sinks)


def build_routed(
    enriched: DataFrame,
    routes: DataFrame | None = None,
    *,
    disjoint_tags: bool = False,
    sinks: tuple[SinkConfig, ...],
) -> DataFrame:
    """Router + per-record sink tags; output row shape per FIXTURES §5:
    (sink_id, url, warc_ts, text, tags, split_id, lang, parse_ok).

    The router (route_explode_static) inlines each of `sinks`'
    predicates; its Generate node runs interpreted, outside
    WholeStageCodegen.  `routes` (a routes_df table) is not read: it
    stays in the signature only for callers that still pass the
    routing table next to `sinks`."""
    routed = route_explode_static(enriched, route_rows(sinks), PREDICATE_COLS)
    routed = with_sink_tags(routed, parsed_col="parsed", labels_col="labels",
                            source_col="url", disjoint=disjoint_tags)
    return routed.select(
        "sink_id",
        "url",
        "warc_ts",
        F.col("extracted_text").alias("text"),
        "tags",
        "split_id",
        "lang",
        # parse_ok as a NULLABLE marker (true | null): parquet footer
        # statistics then carry the per-file unparsed count as
        # null_count, which makes per-split lineage a driver-side
        # metadata read instead of a second parse pass (A1/A2).
        F.when(F.col("parse_ok"), F.lit(True)).alias("parse_ok"),
    )


@dataclass
class BatchPlan:
    """One batch's plan.  `routed` is what the sinks receive, `shipped`
    the rows that reach the router (after the dedup, near-dup and PII
    stages), `observations` the stage counters that ride the job
    executing `routed` (read them with stage_counts after it ran)."""

    routed: DataFrame
    shipped: DataFrame
    observations: dict[str, Observation]

    def stage_counts(self) -> dict[str, int]:
        """The batch's counter record: source.rows_in,
        parse.rows_parsed, parse.errors, route.rows_routed, plus
        dedup.dropped, neardup.dropped and pii.docs_masked for the
        stages that ran."""
        obs = {name: o.get for name, o in self.observations.items()}
        rows_in = int(obs["parse"]["rows_in"] or 0)
        rows_parsed = int(obs["parse"]["rows_parsed"] or 0)
        counts = {
            "source.rows_in": rows_in,
            "parse.rows_parsed": rows_parsed,
            "parse.errors": rows_in - rows_parsed,
            "route.rows_routed": int(obs["route"]["rows_routed"] or 0),
        }
        kept = rows_in
        if "dedup" in obs:
            kept = int(obs["dedup"]["rows_kept"] or 0)
            counts["dedup.dropped"] = rows_in - kept
        if "neardup" in obs:
            # input to the near-dup stage = exact-dedup survivors when
            # both stages run, else the raw parse output
            counts["neardup.dropped"] = kept - int(obs["neardup"]["rows_kept"] or 0)
        if "pii" in obs:
            counts["pii.docs_masked"] = int(obs["pii"]["docs_masked"] or 0)
        return counts


def plan_batch(
    df: DataFrame,
    spec: PipelineSpec,
    lookup: DataFrame,
    presalt: bool = False,
    salt_buckets: int = 8,
    dedup: bool = False,
    neardup: bool = False,
    neardup_jaccard: float = 0.8,
    redact_pii: bool = False,
) -> BatchPlan:
    """The one batch planner (run_pipeline, the streaming twin's
    micro-batches, benchrun and the webtext_route_counts entry): raw
    webtext rows -> parse (spec.parser) -> modifier (spec.modifier) ->
    the optional dedup, near-dup and PII stages -> rebalance(split_id)
    -> enrich (broadcast, or presalt) -> route (spec.sinks).  The
    options are run_pipeline's (see its docstring).  A `labels` column
    on `df` (aggregator mode) turns off the disjoint tag-merge path:
    push labels are data-dependent."""
    check_spec(spec)
    observations: dict[str, Observation] = {}

    def observe(frame: DataFrame, name: str, *aggs) -> DataFrame:
        # A3/A4 per-stage counters: observations ride the write job
        # (map-side aggregated by the executor metrics system, zero
        # extra Spark jobs, zero extra shuffles)
        observations[name] = Observation()
        return frame.observe(observations[name], *aggs)

    # No persist: the columnar cache build costs ~0.5-1x the parse
    # itself in pure memory bandwidth, which does NOT scale with cores
    # (measured: cache materialization dominated the non-scaling
    # fraction).
    parsed = build_parsed(df, spec.parser)
    if spec.modifier != ModifierConfig():
        # --- modifier stage (M1-M3; replace runs in an Arrow UDF) ---
        parsed = parsed.withColumn("parsed", apply_modifier(F.col("parsed"), spec.modifier))
    flowed = observe(
        parsed, "parse",
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(F.col("parse_ok")).alias("rows_parsed"),
    )

    if dedup:
        from pyspark.sql import Window

        # P6 invariant: parse-failure rows (extracted_text NULL) are
        # NEVER deduped away — md5(NULL)=NULL would otherwise pool
        # every unparseable row of the batch into ONE window
        # partition and collapse them to a single survivor.  Key the
        # window on coalesce(hash, url) so failures spread across
        # partitions, and belt-and-braces keep ANY null-text row
        # regardless of its row_number (two failures sharing a url
        # must both pass through).
        w_dd = Window.partitionBy(
            F.coalesce(F.md5(F.col("extracted_text")), F.col("url"))
        ).orderBy("url")
        flowed = observe(
            flowed.withColumn("_dd_rn", F.row_number().over(w_dd))
            .where((F.col("_dd_rn") == 1) | F.col("extracted_text").isNull())
            .drop("_dd_rn"),
            "dedup", F.count(F.lit(1)).alias("rows_kept"),
        )

    if neardup:
        from hetman_spark.functions.dedup import (
            connected_components,
            minhash_lsh_candidates,
            ngram_jaccard,
        )

        # LSH + Jaccard verify + CC over THIS batch's parsed text.
        # The (doc_id, text) projection is materialized ONCE: the
        # LSH band build and BOTH shingle sides of the Jaccard
        # verify reference it, and each DataFrame reference
        # re-executes its plan (no cross-reference CSE) — without
        # the checkpoint the page parse ran ~3 extra times per
        # batch.  Production analog: persist the batch's doc
        # projection before the dedup pass.  CC then shuffles only
        # (id, label) pairs, never text.
        docs = (
            flowed.where(F.col("extracted_text").isNotNull())
            .select(
                F.xxhash64(F.col("url")).alias("doc_id"),
                F.col("extracted_text").alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        pairs = minhash_lsh_candidates(docs, text_col="text", id_col="doc_id")
        verified = (
            ngram_jaccard(pairs, docs, text_col="text", id_col="doc_id")
            .where(F.col("jaccard") >= F.lit(neardup_jaccard))
            .select("id_a", "id_b")
        )
        cc = connected_components(verified)
        # non-keepers: every cluster member but the min-hash one.
        # The drop list is tiny relative to the batch (only members
        # of near-dup clusters); AQE turns the anti-join into a
        # broadcast when it fits.
        drop_ids = cc.where(F.col("v") != F.col("component")).select(
            F.col("v").alias("_nd_id")
        )
        flowed = observe(
            flowed.join(drop_ids, F.xxhash64(F.col("url")) == F.col("_nd_id"), "left_anti"),
            "neardup", F.count(F.lit(1)).alias("rows_kept"),
        )

    if redact_pii:
        from hetman_spark.functions.text import pii_redact

        # PII scrub as the LAST content stage (after dedup/near-dup,
        # which key on the raw text): sinks never carry raw
        # emails/phones/IPs — the release-gate ordering a corpus
        # build uses (dedup on content identity, then mask).  Pure
        # codegen regexps riding the existing plan, no extra
        # shuffle or job; parse failures (NULL text) pass through
        # (pii_redact(NULL).masked is NULL, coalesce keeps NULL).
        pii = pii_redact(F.col("extracted_text"))
        flowed = observe(
            flowed.withColumn("_pii", pii).withColumn(
                "extracted_text",
                F.coalesce(F.col("_pii.masked"), F.col("extracted_text")),
            ),
            "pii",
            F.count_if(
                F.coalesce(
                    F.col("_pii.n_emails") + F.col("_pii.n_phones") + F.col("_pii.n_ips"),
                    F.lit(0),
                )
                > 0
            ).alias("docs_masked"),
        ).drop("_pii")

    # THE one shuffle: write-aligned rebalance on split_id, before the
    # (broadcast) enrich join; rows are shuffled exactly once and
    # BEFORE router duplication.  AQE splits oversized partitions
    # (runtime salting) / coalesces tiny ones; commit cost of dynamic
    # overwrite is O(files), and this layout writes ~sinks x max(tasks,
    # splits) files, not tasks x dirs.
    rebalanced = flowed.hint("rebalance", "split_id")
    if presalt:
        enriched = enrich_with_lookup(rebalanced, lookup, on="lang",
                                      salt_buckets=salt_buckets, salt_from="url")
    else:
        enriched = rebalanced.join(F.broadcast(lookup), on="lang", how="left")
    routed = build_routed(
        enriched,
        disjoint_tags="labels" not in df.columns
        and tags_disjoint(spec.sinks, spec.modifier, spec.parser),
        sinks=spec.sinks,
    )
    routed = observe(routed, "route", F.count(F.lit(1)).alias("rows_routed"))
    return BatchPlan(routed, flowed, observations)


# Sink columns written without a parquet dictionary.  parquet-mr
# hashes every value into a dictionary and falls back to plain
# encoding when the dictionary does not pay: in the 64 sink files of a
# 60k-page backfill, `text` and `url` had no dictionary page in any
# file, so hashing every value bought nothing.  `tags.key_value.value`
# (grok fields and the url-valued `source` tag) kept its dictionary,
# but written plain under zstd it is 24% smaller (4.14 -> 3.16 MB).
# `warc_ts` is unique per page (60,000 distinct values in 60,000
# pages), so its dictionary held every value once.  Dictionaries stay
# on for the low-cardinality lang and tags.key_value.key.
PLAIN_ENCODED_COLUMNS = ("text", "url", "warc_ts", "tags.key_value.value")


def write_sinks(routed: DataFrame, data_dir: str, partition_cols: list[str]) -> None:
    """The one sink writer (batch pipeline, streaming twin, compact):
    overwrite of the partition dirs of `routed`, partitioned by
    `partition_cols`, url-sorted within each file, zstd, and no
    dictionary for PLAIN_ENCODED_COLUMNS.  The partition-overwrite
    mode (dynamic) is the caller's session conf.

    Sorting within each write task on (partition cols, url): the file
    writer needs rows grouped by the partition columns anyway (it
    sorts on them when a task spans several dirs), so appending url
    rides that same local sort for ~free — no extra shuffle — and
    gives every output file monotone url row groups: parquet min/max
    footer stats then prune downstream point/range scans on the
    natural key (BENCH.md 'sorted sink writes')."""
    writer = (
        routed.sortWithinPartitions(*partition_cols, "url")
        .write.mode("overwrite")
        .option("compression", "zstd")
    )
    for col in PLAIN_ENCODED_COLUMNS:
        writer = writer.option(f"parquet.enable.dictionary#{col}", "false")
    writer.partitionBy(*partition_cols).parquet(data_dir)


def _discover_splits(spark: SparkSession, src: DataFrame, input_path: str) -> list[int]:
    """Enumerate input splits.

    Fast path: read the hive-style partition dirs (split_id=N) straight
    from the filesystem — O(n_splits), no Spark job, the analog of
    hetman's glob expansion (/root/reference/internal/orchestrator/
    orchestrator.go:200-215).  On an Iceberg/object-store deployment the
    table metadata serves this listing.  Falls back to a distinct()
    scan when the layout isn't partitioned by split_id.
    """
    if os.path.isdir(input_path):
        splits = [
            int(name.split("=", 1)[1])
            for name in os.listdir(input_path)
            if name.startswith("split_id=")
        ]
        if splits:
            return sorted(splits)
    # Fallback: a distinct() scan of the split column.  Fine for a
    # mislaid small layout, but at 100 TB this is a full-column scan —
    # warn loudly so a production deployment notices and fixes its
    # layout (partition by split_id, or serve the listing from table
    # metadata) instead of silently paying it every batch.
    import warnings

    warnings.warn(
        f"input {input_path!r} is not partitioned by split_id; "
        "falling back to a distinct() scan for split discovery — "
        "partition the input (or use Iceberg metadata) at scale",
        stacklevel=2,
    )
    return sorted(r["split_id"] for r in src.select("split_id").distinct().collect())


def _footer_lineage(
    data_dir: str, batch: list[int] | None, matchall_sink: str | None
) -> tuple[dict[int, tuple[int, int]], dict[int, dict[str, int]]]:
    """Per-split lineage from parquet FOOTER metadata of the files the
    write job just produced under `data_dir`/sink_id=*/split_id=*, for
    the splits of `batch` (every split dir when None): row counts per
    (sink, split) dir are num_rows sums; unparsed counts are the
    null_count statistic of the nullable parse_ok marker column; the
    input-side (rows, parsed) counts are those of `matchall_sink` (none
    without one).  O(files) driver work, no Spark job, no re-parse.
    Plays hetman's per-target OTel counters
    (/root/reference/internal/telemetry/metrics/metrics.go:77-90)."""
    import pyarrow.parquet as pq

    wanted = None if batch is None else set(batch)
    per_split_routes: dict[int, dict[str, int]] = {}
    in_counts: dict[int, tuple[int, int]] = {}
    if not os.path.isdir(data_dir):
        return in_counts, per_split_routes
    for sink_name in os.listdir(data_dir):
        if not sink_name.startswith("sink_id="):
            continue
        sink_id = sink_name.split("=", 1)[1]
        sink_dir = os.path.join(data_dir, sink_name)
        for split_name in os.listdir(sink_dir):
            if not split_name.startswith("split_id="):
                continue
            split_id = int(split_name.split("=", 1)[1])
            if wanted is not None and split_id not in wanted:
                continue
            n = 0
            nulls = 0
            split_dir = os.path.join(sink_dir, split_name)
            for fname in os.listdir(split_dir):
                if not fname.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(split_dir, fname))
                n += md.num_rows
                for rg in range(md.num_row_groups):
                    grp = md.row_group(rg)
                    # physical (leaf) column order differs from the
                    # logical schema (maps expand to key/value leaves)
                    for ci in range(grp.num_columns):
                        col = grp.column(ci)
                        if col.path_in_schema == "parse_ok":
                            st = col.statistics
                            if st is not None and st.null_count is not None:
                                nulls += st.null_count
                            break
            per_split_routes.setdefault(split_id, {})[sink_id] = n
            if sink_id == matchall_sink:
                in_counts[split_id] = (n, n - nulls)
    return in_counts, per_split_routes


def process_batch(
    df: DataFrame,
    spec: PipelineSpec,
    lookup: DataFrame,
    out_dir: str,
    splits: list[int] | None = None,
    epoch_id: int | None = None,
    **stages,
) -> tuple[dict, dict[str, float]]:
    """One batch from plan to commit, the body of run_pipeline's loop
    and of the streaming twin's foreachBatch: plan_batch (`stages` are
    its options) -> write_sinks -> footer lineage -> one commit record
    (plans/checkpoint.py commit_batch).

    A run_pipeline batch names its `splits`, writes data/sink_id=*/
    split_id=* and commits batch-<first split>.  A micro-batch passes
    its `epoch_id` instead, writes under data/epoch_id=<e>/ and commits
    epoch-<e>; its record holds the splits its rows carry.  Returns the
    record and the batch's write_job, lineage and commit seconds."""
    # the session of `df`: foreachBatch runs under a CLONED session
    # whose conf was snapshotted at stream start, so setting the conf on
    # the outer session is a no-op there, and static overwrite would
    # wipe every earlier epoch
    df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    data_dir = os.path.join(out_dir, "data")
    plan = plan_batch(df, spec, lookup, **stages)
    routed, partition_cols, lineage_dir = plan.routed, ["sink_id", "split_id"], data_dir
    if epoch_id is not None:
        routed = routed.withColumn("epoch_id", F.lit(epoch_id))
        partition_cols = ["epoch_id", *partition_cols]
        lineage_dir = os.path.join(data_dir, f"epoch_id={epoch_id}")
    _t0 = time.time()
    write_sinks(routed, data_dir, partition_cols)
    _t1 = time.time()
    batch_counts = plan.stage_counts()

    # lineage (A1/A2): per-split in/parsed/routed counts of the
    # shipped rows.  Per-sink counts come from the freshly written
    # parquet footers (no job, no re-parse).  A match-all sink
    # (the common config — hetman forwarders each receive every
    # record of their target) holds every shipped row, so its
    # footers give the input-side counts too; without one, one
    # aggregation over the shipped frame does.
    matchall = [s.signature() for s in spec.sinks
                if s.predicate_col == "*" or s.predicate_val == "*"]
    in_counts, per_split_routes = _footer_lineage(
        lineage_dir, splits, matchall[0] if matchall else None)
    if not matchall:
        in_counts = {
            r["split_id"]: (r["n"], r["n_parsed"])
            for r in plan.shipped.groupBy("split_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("parse_ok")).alias("n_parsed"),
            ).collect()
        }

    _t2 = time.time()
    if splits is None:
        splits = sorted(set(in_counts) | set(per_split_routes))
    record = {
        "splits": {
            s: {
                "rows_in": in_counts.get(s, (0, 0))[0],
                "rows_parsed": in_counts.get(s, (0, 0))[1],
                "rows_routed": per_split_routes.get(s, {}),
            }
            for s in splits
        },
        "stage_counts": batch_counts,
        "phase_secs": {"write_job": round(_t1 - _t0, 3), "lineage": round(_t2 - _t1, 3)},
    }
    if epoch_id is not None:
        record["epoch_id"] = epoch_id
    # the one commit record (A1-A5): manifest, lineage and metrics of
    # the batch, written strictly after all sink writes
    commit_batch(os.path.join(out_dir, "_manifest"), record)
    _t3 = time.time()
    return record, {"write_job": _t1 - _t0, "lineage": _t2 - _t1, "commit": _t3 - _t2}


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    spec: PipelineSpec = DEFAULT_SPEC,
    salt_buckets: int = 8,
    splits_per_commit: int = 64,
    max_splits: int | None = None,
    presalt: bool = False,
    labeled_input_path: str | None = None,
    config_reload_path: str | None = None,
    dedup: bool = False,
    neardup: bool = False,
    neardup_jaccard: float = 0.8,
    redact_pii: bool = False,
) -> PipelineResult:
    """Resumable driver loop: split discovery, config reload, then per
    batch of splits the plan_batch plan, its write, footer lineage and
    the batch's commit record.  `spec` supplies the parser, modifier
    and sinks (its input_path is not read: the run reads `input_path`);
    a config reload replaces it with the reloaded target of the same
    identity (its id, or its configured input.path without one).

    dedup=True inserts an exact content-dedup stage after the parse:
    per commit batch, only the first record (min url) of each distinct
    extracted_text survives to routing — the in-pipeline form of
    functions/dedup.py:exact_dedup for corpus builds where duplicate
    pages must not reach the sinks.  Deterministic keeper (window
    row_number on (md5(text), url) — dropDuplicates would keep an
    arbitrary partition-dependent row).  Costs one extra shuffle keyed
    on the content hash, and the commit record's per-split rows then
    count SURVIVING rows (what was shipped); the pre-dedup totals stay
    in its stage_counts (source.rows_in) with the drop recorded as
    dedup.dropped.  Default off: the reference ships every record.

    neardup=True inserts the NEAR-duplicate stage after (and composable
    with) the exact one: per commit batch, banded MinHash LSH over the
    parsed text (functions/dedup.py:minhash_lsh_candidates — bucketed
    equi-join, hot-bucket cap, texts never shuffled) -> exact n-gram
    Jaccard VERIFICATION of the candidates (ngram_jaccard, a
    candidate-only join; pairs below `neardup_jaccard` are discarded —
    without this, LSH band collisions on short/small-vocab docs drop
    legitimately distinct pages: measured 23% of a unique-text
    synthetic corpus at the default banding) -> transitive clustering
    (connected_components: O(log n) keyed self-joins of (id, label))
    -> every cluster member except the keeper is dropped before
    routing.  Node ids are xxhash64(url) (CC's label algebra and
    convergence fingerprint need BIGINTs); the keeper is therefore the
    min-HASH member — deterministic on any cluster size, independent of
    partitioning.  Parse-failure rows have no text, join no bucket, and
    always pass through (P6).  The drop is recorded as neardup.dropped;
    lineage counts surviving rows like --dedup.  Batch-scoped by
    design: candidate recall spans one commit batch (cross-batch
    near-dups need the offline dedup_clusters pass or the incremental
    signature-table path — see COVERAGE).

    redact_pii=True masks emails/phones/IPs in the extracted text
    (functions/text.py:pii_redact) as the LAST content stage, after
    the dedup stages (which key on the raw text): the release-gate
    ordering of a corpus build — dedup on content identity, then
    scrub what ships.  Pure codegen regexps folded into the existing
    plan (no extra shuffle or job); parse failures pass through (P6);
    affected-doc count recorded as pii.docs_masked.

    Each iteration is one process_batch over <= splits_per_commit
    uncommitted splits.  A kill anywhere before its record lands
    reprocesses the whole batch on rerun, overwriting its output
    partitions idempotently (exactly-once observable output; see
    plans/checkpoint.py).

    Physical shape (default, presalt=False): both joins are broadcast,
    so the plan has exactly ONE shuffle of un-duplicated rows — the
    write-aligned REBALANCE(split_id) placed BEFORE the enrich join.
    AQE splits oversized partitions at runtime (the adaptive form of
    salting) and coalesces small ones; hot-lang skew never lands on a
    single reducer because the shuffle key is split_id (uniform by url
    hash), not lang.  presalt=True adds the literal salted
    repartition on (lang, salt) from the north_rule before the enrich
    join — needed when the lookup is too big to broadcast.
    """
    src = spark.read.parquet(input_path)
    all_splits = _discover_splits(spark, src, input_path)
    if labeled_input_path:
        # the push table must share the split scheme; take the union
        # so push-only splits are not silently skipped
        labeled_splits = _discover_splits(
            spark, spark.read.parquet(labeled_input_path), labeled_input_path
        )
        all_splits = sorted(set(all_splits) | set(labeled_splits))
    done = committed_splits(os.path.join(out_dir, "_manifest"))
    todo = [s for s in all_splits if s not in done]
    if max_splits is not None:
        todo = todo[:max_splits]

    lookup = lang_lookup(spark)
    result = PipelineResult()

    for i in range(0, len(todo), splits_per_commit):
        batch = todo[i : i + splits_per_commit]

        # Config hot-reload between batches — the batch twin of the
        # reference's SIGHUP loop (/root/reference/internal/cmd/
        # agent.go:106-142: on reload, workflows restart with the new
        # config).  Batch boundaries are the safe restart points: the
        # previous batch committed under the old config, this one runs
        # entirely under the new spec.  A broken config file, or a
        # spec the pipeline cannot run, keeps the old one (reference
        # logs and keeps running).
        if config_reload_path:
            try:
                from hetman_spark.config_yaml import load_config

                _gc, specs = load_config(config_reload_path)
                # match the running target by its own identity (its id,
                # or its configured input.path without one): the run's
                # input path may be an --input override no target names
                ident = (lambda s: s.id) if spec.id else (lambda s: s.input_path)
                new_spec = next((s for s in specs if ident(s) == ident(spec)), None)
                if new_spec is None:
                    # the running target left the config — grafting
                    # specs[0] onto it would silently reroute the
                    # data; keep the current config
                    logging.getLogger(__name__).warning(
                        "config reload: no target in %s matches %s; keeping current "
                        "config", config_reload_path, spec.id or spec.input_path,
                    )
                else:
                    check_spec(new_spec)
                    spec = new_spec
            except Exception:
                # keep the previous config, as the reference does — but
                # LOUDLY (the reference logs reload failures too:
                # internal/cmd/agent.go reload loop)
                logging.getLogger(__name__).warning(
                    "config reload from %s failed; keeping current config",
                    config_reload_path, exc_info=True,
                )
        # manifest anti-join == partition-pruned isin filter on the
        # partition column (split_id) — Catalyst prunes at the source.
        df = src.filter(F.col("split_id").isin(batch))

        # S6 aggregator mode: union a pre-labeled push table (same
        # webtext shape + a labels map column) before the parse stage;
        # those labels take top tag-merge precedence
        # (/root/reference/internal/cmd/aggregator.go:72-83).
        if labeled_input_path:
            from hetman_spark.sources.labeled import union_labeled

            labeled = spark.read.parquet(labeled_input_path).filter(
                F.col("split_id").isin(batch)
            )
            df = union_labeled(df, labeled)

        record, batch_secs = process_batch(
            df, spec, lookup, out_dir, splits=batch, presalt=presalt,
            salt_buckets=salt_buckets, dedup=dedup, neardup=neardup,
            neardup_jaccard=neardup_jaccard, redact_pii=redact_pii,
        )
        for key, val in record["stage_counts"].items():
            result.stage_counts[key] = result.stage_counts.get(key, 0) + val
        for key, val in batch_secs.items():
            result.phase_secs[key] = result.phase_secs.get(key, 0.0) + val

        result.splits_processed.extend(batch)
        for entry in record["splits"].values():
            result.rows_in += entry["rows_in"]
            result.rows_parsed += entry["rows_parsed"]
            for k, v in entry["rows_routed"].items():
                result.sink_counts[k] = result.sink_counts.get(k, 0) + v

    return result
