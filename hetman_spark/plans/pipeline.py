"""The end-to-end pipeline: read -> parse -> enrich -> route -> write,
with lineage and checkpoint-manifest resume.

This replaces hetman's whole orchestrator
(/root/reference/internal/orchestrator/orchestrator.go:242-425): the
goroutine/channel graph becomes ONE lazy DataFrame per batch of input
splits; Catalyst plans it, the driver loop commits manifest entries —
SURVEY.md §3.1 "the driver loop is: for batch_of_partitions: process;
append manifest entry".

Stages and their reference analogs:
  read parquet (pruned by manifest anti-join) . tailer + offset seek
  extract_page (JVM: strict utf-8 decode,     . Parser.Run (P1)
    template slicing, grok on the log line)
  apply_modifier                              . Modifier.Run (M1-M3)
  enrich_with_lookup (salted + broadcast)     . add-fields w/ lookup
  route_explode + with_sink_tags              . Modifier fan-out + Loki
                                                stream building (M4/F2)
  write_sinks (partitionBy(sink_id,           . Forwarder delivery (F1)
    split_id), url-sorted files, zstd, no
    dictionary for text/url/tag values)
  lineage + sink counts                       . OTel counters (A1/A2)
  commit_split                                . registry persist (A5)

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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hetman_spark.config import ModifierConfig, SinkConfig
from hetman_spark.operators.enrich import enrich_with_lookup
from hetman_spark.operators.html import extract_page
from hetman_spark.operators.modify import apply_modifier
from hetman_spark.operators.route import (
    route_explode,
    route_explode_static,
    with_sink_tags,
)
from hetman_spark.plans.checkpoint import (
    append_batch_metrics,
    commit_split,
    committed_splits,
)
from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup

# nginx combined-log pattern for the embedded access-log line
# (reference pattern: /root/reference/internal/parser/parser_test.go:94)
NGINX_PATTERN = (
    '$remote_addr - $remote_user [$time_local] "$request" '
    '$status $bytes_sent "$referrer" "$user_agent"'
)


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


def build_parsed(df: DataFrame, modifier: ModifierConfig | None = None) -> DataFrame:
    """parse + modify (narrow stages only — no shuffle; the parse runs
    in the JVM).

    Produces the input's columns except html, then extracted_text,
    parsed (map), parse_ok, status_class.  On the webtext source that
    is: url, warc_ts, text, lang, split_id, extracted_text, parsed,
    parse_ok, status_class.
    """
    # --- parse stage: html -> text + grok fields (JVM slicing + grok)
    status = F.col("_x.status")  # null iff the log line missed grok
    # parsed map (hetman's Parsed map[string]string); null-safe (P6)
    parsed = F.when(
        status.isNotNull(),
        F.map_from_arrays(
            F.array(*[F.lit(f) for f in LOG_FIELDS]),
            F.array(*[F.col(f"_x.{f}") for f in LOG_FIELDS]),
        ),
    )
    # one projection for every output column: each withColumn/drop is
    # a separate analysis pass on the driver
    df = extract_page(df, NGINX_PATTERN, "_x").select(
        *[c for c in df.columns if c != "html"],
        F.col("_x.text").alias("extracted_text"),
        parsed.alias("parsed"),
        status.isNotNull().alias("parse_ok"),
        # status_class routing tag (5xx -> errors sink), from the parse
        # struct before the modifier can rename/drop fields
        F.when(
            status.isNotNull() & (status != ""),
            F.concat(F.substring(status, 1, 1), F.lit("xx")),
        ).otherwise(F.lit("unparsed")).alias("status_class"),
    )

    # --- modifier stage (M1-M3, pure Catalyst) ---
    if modifier is not None:
        df = df.withColumn("parsed", apply_modifier(F.col("parsed"), modifier))
    return df


LOG_FIELDS = ["remote_addr", "remote_user", "time_local", "request",
              "status", "bytes_sent", "referrer", "user_agent"]


def tags_disjoint(
    sinks: tuple[SinkConfig, ...], modifier: ModifierConfig | None = None
) -> bool:
    """Driver-side validation for the fast tag-merge path: no sink
    add_tags key can collide with a parsed-map key or 'source' (see
    with_sink_tags(disjoint=True), which map_concats without dedup —
    Spark's default mapKeyDedupPolicy=EXCEPTION throws on collision).
    The parsed map holds LOG_FIELDS plus any modifier add_fields keys,
    so those count as reserved too."""
    reserved = set(LOG_FIELDS) | {"source"}
    if modifier is not None:
        reserved |= set(getattr(modifier, "add_fields", {}) or {})
    return all(not (set(s.add_tags) & reserved) for s in sinks)


def build_routed(
    enriched: DataFrame,
    routes: DataFrame | None = None,
    disjoint_tags: bool = False,
    sinks: tuple[SinkConfig, ...] | None = None,
) -> DataFrame:
    """Router + per-record sink tags; output row shape per FIXTURES §5:
    (sink_id, url, warc_ts, text, tags, split_id, lang).

    When the sink list is known driver-side (always, in run_pipeline)
    pass `sinks` — the router inlines the predicates and stays in
    codegen (route_explode_static); `routes` as a DataFrame remains
    the dynamic-table path."""
    if sinks is not None:
        routed = route_explode_static(
            enriched, sinks, predicate_cols=["lang", "status_class", "region"]
        )
    else:
        routed = route_explode(enriched, routes, predicate_cols=["lang", "status_class", "region"])
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


# Sink columns written without a parquet dictionary.  parquet-mr
# hashes every value into a dictionary and falls back to plain
# encoding when the dictionary does not pay: in the 64 sink files of a
# 60k-page backfill, `text` and `url` had no dictionary page in any
# file, so hashing every value bought nothing.  `tags.key_value.value`
# (grok fields and the url-valued `source` tag) kept its dictionary,
# but written plain under zstd it is 24% smaller (4.14 -> 3.16 MB).
# Dictionaries stay on for the low-cardinality lang, warc_ts and
# tags.key_value.key.
PLAIN_ENCODED_COLUMNS = ("text", "url", "tags.key_value.value")


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
    data_dir: str, batch: list[int], matchall_sink: str
) -> tuple[dict[int, tuple[int, int]], dict[int, dict[str, int]]]:
    """Per-split lineage from parquet FOOTER metadata of the files the
    write job just produced: row counts per (sink, split) dir are
    num_rows sums; unparsed counts are the null_count statistic of the
    nullable parse_ok marker column.  O(files) driver work, no Spark
    job, no re-parse.  Plays hetman's per-target OTel counters
    (/root/reference/internal/telemetry/metrics/metrics.go:77-90)."""
    import pyarrow.parquet as pq

    wanted = set(batch)
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
            if split_id not in wanted:
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


def _write_lineage(
    lineage_dir: str,
    batch: list[int],
    in_counts: dict[int, tuple[int, int]],
    per_split_routes: dict[int, dict[str, int]],
) -> None:
    """Write lineage rows as parquet via pyarrow directly on the
    driver — a handful of rows per batch; a Spark job here costs ~1.5s
    of pure scheduling (measured) for no benefit."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(lineage_dir, exist_ok=True)
    rows = {
        "split_id": batch,
        "rows_in": [in_counts.get(s, (0, 0))[0] for s in batch],
        "rows_parsed": [in_counts.get(s, (0, 0))[1] for s in batch],
        "rows_routed": [
            [(k, v) for k, v in sorted(per_split_routes.get(s, {}).items())] for s in batch
        ],
    }
    schema = pa.schema(
        [
            pa.field("split_id", pa.int32()),
            pa.field("rows_in", pa.int64()),
            pa.field("rows_parsed", pa.int64()),
            pa.field("rows_routed", pa.map_(pa.string(), pa.int64())),
        ]
    )
    table = pa.Table.from_pydict(rows, schema=schema)
    pq.write_table(table, os.path.join(lineage_dir, f"lineage-{uuid.uuid4().hex}.parquet"))


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    sinks: tuple[SinkConfig, ...] = DEFAULT_SINKS,
    modifier: ModifierConfig | None = None,
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
    """Resumable driver loop.

    dedup=True inserts an exact content-dedup stage after the parse:
    per commit batch, only the first record (min url) of each distinct
    extracted_text survives to routing — the in-pipeline form of
    functions/dedup.py:exact_dedup for corpus builds where duplicate
    pages must not reach the sinks.  Deterministic keeper (window
    row_number on (md5(text), url) — dropDuplicates would keep an
    arbitrary partition-dependent row).  Costs one extra shuffle keyed
    on the content hash, and per-split lineage/manifest rows then count
    SURVIVING rows (what was shipped); the pre-dedup totals stay in
    stage_counts (source.rows_in) with the drop recorded as
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

    Each iteration: one Spark job over <= splits_per_commit uncommitted
    splits -> dynamic-overwrite write partitioned by (sink_id,
    split_id) -> lineage write -> manifest commit per split.  A kill
    between write and commit reprocesses those splits on rerun,
    overwriting their output partitions idempotently (exactly-once
    observable output; see plans/checkpoint.py).

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
    manifest_dir = os.path.join(out_dir, "_manifest")
    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "lineage")

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    src = spark.read.parquet(input_path)
    all_splits = _discover_splits(spark, src, input_path)
    if labeled_input_path:
        # the push table must share the split scheme; take the union
        # so push-only splits are not silently skipped
        labeled_splits = _discover_splits(
            spark, spark.read.parquet(labeled_input_path), labeled_input_path
        )
        all_splits = sorted(set(all_splits) | set(labeled_splits))
    done = committed_splits(manifest_dir)
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
        # entirely under the new.  A broken config file keeps the old
        # one (reference logs and keeps running).
        if config_reload_path:
            try:
                from hetman_spark.config_yaml import load_config

                _gc, specs = load_config(config_reload_path)
                spec = next((s for s in specs if s.input_path == input_path), None)
                if spec is None:
                    # no spec targets this run's input — grafting
                    # specs[0]'s sinks/modifier onto it would silently
                    # reroute the data; keep the current config
                    logging.getLogger(__name__).warning(
                        "config reload: no spec in %s matches input_path %s; "
                        "keeping current config", config_reload_path, input_path,
                    )
                else:
                    if spec.sinks:
                        sinks = spec.sinks
                    modifier = spec.modifier
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

        # No persist: the columnar cache build costs ~0.5-1x the parse
        # itself in pure memory bandwidth, which does NOT scale with
        # cores (measured: cache materialization dominated the
        # non-scaling fraction).  The parse is recomputed for the one
        # lineage agg job instead — CPU that scales linearly.
        parsed = build_parsed(df, modifier=modifier)

        # A3/A4 per-stage counters: observations ride the write job
        # (map-side aggregated by the executor metrics system, zero
        # extra Spark jobs, zero extra shuffles).
        from pyspark.sql import Observation

        obs_parse = Observation()
        parsed = parsed.observe(
            obs_parse,
            F.count(F.lit(1)).alias("rows_in"),
            F.count_if(F.col("parse_ok")).alias("rows_parsed"),
        )

        flowed = parsed
        obs_dedup = None
        if dedup:
            from pyspark.sql import Window

            obs_dedup = Observation()
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
            flowed = (
                parsed.withColumn("_dd_rn", F.row_number().over(w_dd))
                .where((F.col("_dd_rn") == 1) | F.col("extracted_text").isNull())
                .drop("_dd_rn")
                .observe(obs_dedup, F.count(F.lit(1)).alias("rows_kept"))
            )

        obs_neardup = None
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
            obs_neardup = Observation()
            flowed = (
                flowed.join(
                    drop_ids,
                    F.xxhash64(F.col("url")) == F.col("_nd_id"),
                    "left_anti",
                )
                .observe(obs_neardup, F.count(F.lit(1)).alias("rows_kept"))
            )

        obs_pii = None
        if redact_pii:
            from hetman_spark.functions.text import pii_redact

            # PII scrub as the LAST content stage (after dedup/near-dup,
            # which key on the raw text): sinks never carry raw
            # emails/phones/IPs — the release-gate ordering a corpus
            # build uses (dedup on content identity, then mask).  Pure
            # codegen regexps riding the existing plan, no extra
            # shuffle or job; parse failures (NULL text) pass through
            # (pii_redact(NULL).masked is NULL, coalesce keeps NULL).
            obs_pii = Observation()
            pii = pii_redact(F.col("extracted_text"))
            flowed = (
                flowed.withColumn("_pii", pii)
                .withColumn(
                    "extracted_text",
                    F.coalesce(F.col("_pii.masked"), F.col("extracted_text")),
                )
                .observe(
                    obs_pii,
                    F.count_if(
                        F.coalesce(
                            F.col("_pii.n_emails")
                            + F.col("_pii.n_phones")
                            + F.col("_pii.n_ips"),
                            F.lit(0),
                        )
                        > 0
                    ).alias("docs_masked"),
                )
                .drop("_pii")
            )

        def enrich(frame: DataFrame) -> DataFrame:
            if presalt:
                return enrich_with_lookup(frame, lookup, on="lang",
                                          salt_buckets=salt_buckets, salt_from="url")
            return frame.join(F.broadcast(lookup), on="lang", how="left")

        # THE one shuffle: write-aligned rebalance on split_id,
        # before the (broadcast) enrich join; rows are shuffled
        # exactly once and BEFORE router duplication.  AQE splits
        # oversized partitions (runtime salting) / coalesces tiny
        # ones; commit cost of dynamic overwrite is O(files), and
        # this layout writes ~sinks x max(tasks, splits) files,
        # not tasks x dirs.
        rebalanced = flowed.hint("rebalance", "split_id")
        # labels from a push source are data-dependent -> the
        # driver-validated disjoint fast path is off in that mode
        routed = build_routed(
            enrich(rebalanced),
            disjoint_tags=not labeled_input_path and tags_disjoint(sinks, modifier),
            sinks=sinks,
        )
        obs_route = Observation()
        routed = routed.observe(obs_route, F.count(F.lit(1)).alias("rows_routed"))
        import time as _time

        _t0 = _time.time()
        write_sinks(routed, data_dir, ["sink_id", "split_id"])
        _t1 = _time.time()
        # one counter record per batch: summed into the result and
        # written verbatim to the _metrics feed below
        rows_in = int(obs_parse.get["rows_in"] or 0)
        rows_parsed = int(obs_parse.get["rows_parsed"] or 0)
        batch_counts = {
            "source.rows_in": rows_in,
            "parse.rows_parsed": rows_parsed,
            "parse.errors": rows_in - rows_parsed,
            "route.rows_routed": int(obs_route.get["rows_routed"] or 0),
        }
        dedup_kept = rows_in
        if obs_dedup is not None:
            dedup_kept = int(obs_dedup.get["rows_kept"] or 0)
            batch_counts["dedup.dropped"] = rows_in - dedup_kept
        if obs_neardup is not None:
            # input to the near-dup stage = exact-dedup survivors when
            # both stages run, else the raw parse output
            batch_counts["neardup.dropped"] = (
                dedup_kept - int(obs_neardup.get["rows_kept"] or 0))
        if obs_pii is not None:
            batch_counts["pii.docs_masked"] = int(obs_pii.get["docs_masked"] or 0)
        for key, val in batch_counts.items():
            result.stage_counts[key] = result.stage_counts.get(key, 0) + val

        # lineage (A1/A2): per-split in/parsed/routed counts.  With a
        # match-all sink (the common config — hetman forwarders each
        # receive every record of their target) everything is read
        # from the freshly written parquet footers: no extra job, no
        # re-parse.  Without one, a single union-agg job fills in the
        # input-side counts.
        matchall = [s.signature() for s in sinks
                    if s.predicate_col == "*" or s.predicate_val == "*"]
        if matchall:
            in_counts, per_split_routes = _footer_lineage(data_dir, batch, matchall[0])
        else:
            routed_l = route_explode_static(
                enrich(flowed), sinks,
                predicate_cols=["lang", "status_class", "region"])
            stats_df = routed_l.groupBy("split_id", "sink_id").agg(
                F.count(F.lit(1)).alias("n"),
            )
            in_agg = parsed.groupBy("split_id").agg(
                F.count(F.lit(1)).alias("n"),
            ).withColumn("sink_id", F.lit("__input__")).select("split_id", "sink_id", "n")
            parsed_agg = parsed.filter("parse_ok").groupBy("split_id").agg(
                F.count(F.lit(1)).alias("n"),
            ).withColumn("sink_id", F.lit("__parsed__")).select("split_id", "sink_id", "n")
            in_counts = {}
            per_split_routes = {}
            rows_in_tmp: dict[int, int] = {}
            rows_p_tmp: dict[int, int] = {}
            for r in stats_df.unionByName(in_agg).unionByName(parsed_agg).collect():
                if r["sink_id"] == "__input__":
                    rows_in_tmp[r["split_id"]] = r["n"]
                elif r["sink_id"] == "__parsed__":
                    rows_p_tmp[r["split_id"]] = r["n"]
                else:
                    per_split_routes.setdefault(r["split_id"], {})[r["sink_id"]] = r["n"]
            for s in batch:
                in_counts[s] = (rows_in_tmp.get(s, 0), rows_p_tmp.get(s, 0))

        _t2 = _time.time()
        _write_lineage(lineage_dir, batch, in_counts, per_split_routes)

        # manifest commit — strictly after all sink writes (A5).
        # sink_ids records the sinks THIS split actually routed to, not
        # the batch-wide union.
        for s in batch:
            commit_split(
                manifest_dir,
                s,
                {
                    "rows_in": in_counts.get(s, (0, 0))[0],
                    "rows_parsed": in_counts.get(s, (0, 0))[1],
                    "rows_routed": per_split_routes.get(s, {}),
                    "sink_ids": sorted(per_split_routes.get(s, {})),
                },
            )

        _t3 = _time.time()
        batch_secs = {"write_job": _t1 - _t0, "lineage": _t2 - _t1, "commit": _t3 - _t2}
        for key, val in batch_secs.items():
            result.phase_secs[key] = result.phase_secs.get(key, 0.0) + val

        # A3/A4 live feed: one JSONL line per commit batch (the batch
        # analog of the reference's per-scrape OTel counter export),
        # appended strictly after this batch's manifest commit.
        batch_routes: dict[str, int] = {}
        for m in per_split_routes.values():
            for k, v in m.items():
                batch_routes[k] = batch_routes.get(k, 0) + v
        append_batch_metrics(
            os.path.join(out_dir, "_metrics"),
            {
                "splits": batch,
                "stage_counts": batch_counts,
                "sink_counts": dict(sorted(batch_routes.items())),
                "phase_secs": {k: round(v, 3) for k, v in batch_secs.items()},
                "committed_at": _t3,
            },
        )
        result.splits_processed.extend(batch)
        for s in batch:
            result.rows_in += in_counts.get(s, (0, 0))[0]
            result.rows_parsed += in_counts.get(s, (0, 0))[1]
        for m in per_split_routes.values():
            for k, v in m.items():
                result.sink_counts[k] = result.sink_counts.get(k, 0) + v

    return result

