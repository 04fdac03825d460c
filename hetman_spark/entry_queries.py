"""Driver-contract queries: each SURVEY.md §2 operator exercised on the
driver testdata tables, with a DuckDB-oracle SQL twin.

Conventions for oracle parity (driver compares row-count + schema +
order-insensitive value-hash at sf0.01):
- every computed column aliased identically on both sides;
- integer arithmetic or strings wherever possible (no float sums —
  parallel float addition is non-associative);
- counts/sizes cast to BIGINT on both sides;
- timestamps rendered as strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hetman_spark.operators.multiline import stitch_multiline
from hetman_spark.operators.parse import parse_grok
from hetman_spark.operators.route import Route, route_explode_static


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t, repartitioned to the session's core count — for
    expression-HEAVY per-row work (md5-per-shingle signatures).  The
    sf testdata table is one small parquet file => one scan task,
    which serializes all that CPU on a single core; the explicit
    repartition costs one tiny shuffle of the raw rows and buys full
    parallelism.  A production 100 TB table arrives in thousands of
    scan partitions, where this repartition is dropped (the skew knob
    there is files.maxPartitionBytes, not a row shuffle)."""
    return _t(spark, sf_dir, name).repartition(spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# P1: grok parse — construct an access-log line from orders, parse it back
# ---------------------------------------------------------------------------

GROK_PATTERN = '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'


def q_grok_parse_nginx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _tp(spark, sf_dir, "orders")
    line = F.concat(
        F.lit("10.0.0."), (F.col("o_orderkey") % 255).cast("string"),
        F.lit(" - u"), F.col("o_custkey").cast("string"),
        F.lit(" [2024-01-01] \"GET /orders/"), F.col("o_orderkey").cast("string"),
        F.lit(" HTTP/1.1\" "),
        F.substring(F.col("o_orderpriority"), 1, 1),
        F.lit("00 "),
        (F.col("o_orderkey") % 10000).cast("string"),
    )
    parsed = parse_grok(line, GROK_PATTERN)
    return (
        o.withColumn("p", parsed)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("p.remote_addr").alias("remote_addr"),
            F.col("p.remote_user").alias("remote_user"),
            F.col("p.request").alias("request"),
            F.col("p.status").alias("status"),
            F.col("p.bytes_sent").alias("bytes_sent"),
        )
    )


SQL_GROK_PARSE = """
SELECT o_orderkey AS orderkey,
       '10.0.0.' || CAST(o_orderkey % 255 AS VARCHAR)      AS remote_addr,
       'u' || CAST(o_custkey AS VARCHAR)                    AS remote_user,
       'GET /orders/' || CAST(o_orderkey AS VARCHAR) || ' HTTP/1.1' AS request,
       substr(o_orderpriority, 1, 1) || '00'                AS status,
       CAST(o_orderkey % 10000 AS VARCHAR)                  AS bytes_sent
FROM orders
"""


# ---------------------------------------------------------------------------
# P2: JSON field extraction over events.props
# ---------------------------------------------------------------------------


def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _tp(spark, sf_dir, "events")
    return e.select(
        F.col("event_id"),
        F.get_json_object(F.col("props"), "$.k").alias("k_val"),
    )


SQL_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract(props, '$.k') AS VARCHAR) AS k_val
FROM events
"""


# ---------------------------------------------------------------------------
# P5: multiline stitch over the events stream (anchor = non view/click)
# ---------------------------------------------------------------------------

MULTILINE_PATTERN = "^(view|click)"


def q_multiline_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("file_id"),
        F.col("event_id").alias("line_no"),
        F.col("event_type").alias("line"),
    )
    return stitch_multiline(e, MULTILINE_PATTERN)


SQL_MULTILINE = """
WITH flagged AS (
  SELECT user_id, event_id, event_type,
         CASE WHEN regexp_matches(event_type, '^(view|click)') THEN 0 ELSE 1 END AS is_anchor
  FROM events
), anchored AS (
  SELECT user_id, event_id, event_type,
         sum(is_anchor) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS UNBOUNDED PRECEDING) AS anchor_id
  FROM flagged
)
SELECT user_id AS file_id,
       CAST(anchor_id AS BIGINT) AS anchor_id,
       min(event_id) AS line_no,
       string_agg(event_type, ' ' ORDER BY event_id) AS line
FROM anchored
GROUP BY user_id, anchor_id
"""


# ---------------------------------------------------------------------------
# M1 enrich: broadcast dimension join chain (customer -> nation -> region)
# ---------------------------------------------------------------------------


def q_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
        )
    )


SQL_ENRICH = """
SELECT r_name AS region,
       count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# M4/A2: tag-driven router fan-out + per-sink aggregate counts (headline)
# ---------------------------------------------------------------------------


def q_route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    routes = [
        Route("sink_all"),
        Route("sink_urgent", "o_orderpriority", "1-URGENT"),
        Route("sink_high", "o_orderpriority", "2-HIGH"),
        Route("sink_finished", "o_orderstatus", "F"),
    ]
    routed = route_explode_static(o, routes, predicate_cols=["o_orderpriority", "o_orderstatus"])
    return routed.groupBy("sink_id").agg(F.count(F.lit(1)).alias("n"))


SQL_ROUTE_FANOUT = """
SELECT sink_id, count(*) AS n FROM (
  SELECT 'sink_all' AS sink_id FROM orders
  UNION ALL SELECT 'sink_urgent' FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL SELECT 'sink_high' FROM orders WHERE o_orderpriority = '2-HIGH'
  UNION ALL SELECT 'sink_finished' FROM orders WHERE o_orderstatus = 'F'
) GROUP BY sink_id
"""


# ---------------------------------------------------------------------------
# M3: regex redaction over documents
# ---------------------------------------------------------------------------


def q_modifier_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"\bthe\b", "***").alias("redacted"),
    )


SQL_REDACT = r"""
SELECT doc_id, regexp_replace(text, '\bthe\b', '***', 'g') AS redacted
FROM documents
"""


# ---------------------------------------------------------------------------
# A2-analog: skewed-key aggregation (the salted groupBy path)
# ---------------------------------------------------------------------------


def q_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_LANG_COUNTS = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Dedup: exact (hash-groupBy)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# Dedup: MinHash signatures (md5-based so both engines agree bit-for-bit)
# ---------------------------------------------------------------------------

_MINHASH_SALTS = ["s0", "s1", "s2", "s3"]


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tp(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    aggs = [
        F.min(F.md5(F.concat(F.col("w"), F.lit(s)))).alias(f"mh_{s}")
        for s in _MINHASH_SALTS
    ]
    return words.groupBy("doc_id").agg(*aggs)


SQL_MINHASH = """
SELECT doc_id,
       min(md5(w || 's0')) AS mh_s0,
       min(md5(w || 's1')) AS mh_s1,
       min(md5(w || 's2')) AS mh_s2,
       min(md5(w || 's3')) AS mh_s3
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Text analysis: token counts + integer-arithmetic quality signals
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tp(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    n_chars = F.length("text").cast("long")
    the_count = (
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), r"\bthe\b", "")))
        / F.lit(3)
    ).cast("long")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_m"),
        F.floor(n_chars * 100 / n_tokens).cast("long").alias("avg_token_len_x100"),
        the_count.alias("the_count"),
        F.when(the_count > 0, F.lit("en")).otherwise(F.lit("other")).alias("lang_guess"),
    )


SQL_TEXT_STATS = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_m,
       CAST(floor(length(text) * 100 / len(string_split(text, ' '))) AS BIGINT) AS avg_token_len_x100,
       CAST((length(text) - length(regexp_replace(text, '\bthe\b', '', 'g'))) / 3 AS BIGINT) AS the_count,
       CASE WHEN (length(text) - length(regexp_replace(text, '\bthe\b', '', 'g'))) / 3 > 0
            THEN 'en' ELSE 'other' END AS lang_guess
FROM documents
"""


# ---------------------------------------------------------------------------
# Similarity: brute-force cosine top-k (ANN baseline)
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min(vec_id) stays IN the plan (broadcast 1-row join) — the
    # driver-side collect this entry used to do was r4 VERDICT's
    # residual nit #2; one job end-to-end now
    from hetman_spark.functions.similarity import cosine

    e = _t(spark, sf_dir, "embeddings")
    mid = e.agg(F.min("vec_id").alias("min_id"))
    q = (
        e.join(F.broadcast(mid), e["vec_id"] == mid["min_id"], "left_semi")
        .select(F.col("embedding").cast("array<double>").alias("qe"))
    )
    cand = (
        e.join(F.broadcast(mid), e["vec_id"] == mid["min_id"], "left_anti")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ce"))
    )
    ranked = (
        cand.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("ce"), F.col("qe")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("neighbor_id"))
        .limit(10)
    )
    return ranked.select("neighbor_id")


SQL_ANN_TOPK = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)
SELECT e.vec_id AS neighbor_id
FROM embeddings e, q
WHERE e.vec_id != (SELECT min(vec_id) FROM embeddings)
ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) DESC, e.vec_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Windowed event aggregation (streaming analog, batch form)
# ---------------------------------------------------------------------------


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


SQL_EVENTS_WINDOWED = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
"""


def q_events_user_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly ACTIVE-USER counts: windowed COUNT DISTINCT over the
    event stream — the 'unique users' metric every telemetry dashboard
    layers on hetman's plain counters (the reference has no distinct
    aggregation at all, SURVEY §2.8).  Exact distinct rather than
    approx_count_distinct: the HLL sketch is engine-specific and
    merge-order dependent, unusable under a cross-engine value-hash
    oracle; at 100 TB the exact form is still one partial-aggregated
    shuffle of (hour, user_id) pairs."""
    # plain scan on purpose (r6 A/B): the count_distinct aggregate
    # shuffles (hour, user_id) pairs anyway; a pre-repartition of the
    # raw events added a shuffle without speeding the distinct
    # (measured 1.9 -> 2.2 s at sf1.0).
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour")
        )
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_EVENTS_USER_WINDOWS = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       count(*) AS n_events
FROM events GROUP BY 1
"""


def q_events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window engagement (1 h window, 15 min slide) via Spark's
    native window(ts, duration, slide) — each event fans out to 4
    overlapping windows engine-side.  The oracle re-derives the fan-out
    independently with epoch arithmetic (start_k = (floor(e)//900 - k)
    * 900, k = 0..3 — every one of the 4 candidate windows contains the
    event, so no filter), which cross-checks Spark's epoch-aligned
    window placement rather than assuming it.  Scale shape: one
    partial-aggregated shuffle of 4x (window, user) pairs."""
    e = _tp(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "15 minutes")
    return (
        e.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "n_events",
            "n_users",
        )
    )


SQL_EVENTS_SLIDING = """
WITH fan AS (
  SELECT ts, user_id,
         ((CAST(floor(epoch(ts)) AS BIGINT) // 900) - k.k) * 900 AS ws
  FROM events
  CROSS JOIN (SELECT CAST(unnest(range(4)) AS BIGINT) AS k) k
)
SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M') AS window_start,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM fan GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Router fan-out: per-ROW equality (stronger than counts)
# ---------------------------------------------------------------------------


def q_route_fanout_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    routes = [
        Route("sink_all"),
        Route("sink_urgent", "o_orderpriority", "1-URGENT"),
        Route("sink_finished", "o_orderstatus", "F"),
    ]
    routed = route_explode_static(o, routes, predicate_cols=["o_orderpriority", "o_orderstatus"])
    return routed.select("sink_id", F.col("o_orderkey").alias("orderkey"))


SQL_ROUTE_FANOUT_ROWS = """
SELECT 'sink_all' AS sink_id, o_orderkey AS orderkey FROM orders
UNION ALL SELECT 'sink_urgent', o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL SELECT 'sink_finished', o_orderkey FROM orders WHERE o_orderstatus = 'F'
"""


# ---------------------------------------------------------------------------
# Text analysis: language-ID marker scores + BPE-ish token estimate
# ---------------------------------------------------------------------------


def q_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.functions.text import bpe_token_estimate, word_count

    d = _tp(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        sum((word_count(t, w) for w in ["the", "and", "of", "to", "is"]), F.lit(0).cast("long")).alias("s_en"),
        sum((word_count(t, w) for w in ["der", "die", "und", "das", "ist"]), F.lit(0).cast("long")).alias("s_de"),
        bpe_token_estimate(F.col("text")).alias("bpe_tokens"),
    )


SQL_LANG_SCORES = r"""
SELECT doc_id,
  CAST((length(lower(text)) - length(regexp_replace(lower(text), '\bthe\b', '', 'g'))) / 3
     + (length(lower(text)) - length(regexp_replace(lower(text), '\band\b', '', 'g'))) / 3
     + (length(lower(text)) - length(regexp_replace(lower(text), '\bof\b', '', 'g'))) / 2
     + (length(lower(text)) - length(regexp_replace(lower(text), '\bto\b', '', 'g'))) / 2
     + (length(lower(text)) - length(regexp_replace(lower(text), '\bis\b', '', 'g'))) / 2 AS BIGINT) AS s_en,
  CAST((length(lower(text)) - length(regexp_replace(lower(text), '\bder\b', '', 'g'))) / 3
     + (length(lower(text)) - length(regexp_replace(lower(text), '\bdie\b', '', 'g'))) / 3
     + (length(lower(text)) - length(regexp_replace(lower(text), '\bund\b', '', 'g'))) / 3
     + (length(lower(text)) - length(regexp_replace(lower(text), '\bdas\b', '', 'g'))) / 3
     + (length(lower(text)) - length(regexp_replace(lower(text), '\bist\b', '', 'g'))) / 3 AS BIGINT) AS s_de,
  CAST(greatest(len(regexp_split_to_array(text, '[^a-zA-Z0-9]+')),
                CAST(floor(length(text) / 4) AS BIGINT)) AS BIGINT) AS bpe_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# Quality filter: Gopher-style integer-rule gate over documents —
# first-failing-rule audit trail, never drops rows.
# ---------------------------------------------------------------------------


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.functions.text import quality_filter

    d = _tp(spark, sf_dir, "documents")
    return quality_filter(d).select("doc_id", "kept", "reason")


# integer cross-multiplied rules, mirrored 1:1 from
# functions/text.py:quality_filter; stop-word counting uses the same
# length-difference trick as SQL_TEXT_STATS (DuckDB regexp_replace
# needs 'g' to match Spark's replace-all).  CTE block shared with the
# composite corpus_keep_list oracle.
def _sql_quality_ctes(src: str = "documents", text: str = "text") -> str:
    """The Gopher-rule quality CTE pair (m, qreason), parameterized on
    the source CTE/table and text column so compositions over DERIVED
    corpora (corpus_release) reuse the identical rule text."""
    t = text
    return (
        r"""m AS (
  SELECT doc_id,
    CAST(length(%(t)s) AS BIGINT) AS n_chars,
    CAST(CASE WHEN length(%(t)s) = 0 THEN 0
         ELSE len(regexp_split_to_array(%(t)s, '\s+')) END AS BIGINT) AS n_tokens,
    CAST(length(regexp_replace(%(t)s, '[^\p{L}]', '', 'g')) AS BIGINT) AS alpha,
    CAST((length(lower(%(t)s)) - length(regexp_replace(lower(%(t)s), '\bthe\b', '', 'g'))) / 3
       + (length(lower(%(t)s)) - length(regexp_replace(lower(%(t)s), '\band\b', '', 'g'))) / 3
       + (length(lower(%(t)s)) - length(regexp_replace(lower(%(t)s), '\bof\b', '', 'g'))) / 2
       + (length(lower(%(t)s)) - length(regexp_replace(lower(%(t)s), '\bto\b', '', 'g'))) / 2
       + (length(lower(%(t)s)) - length(regexp_replace(lower(%(t)s), '\bis\b', '', 'g'))) / 2
       AS BIGINT) AS stop_hits
  FROM %(src)s
)""" % {"t": t, "src": src}
        + r""", qreason AS (
  SELECT doc_id,
    CASE WHEN n_chars IS NULL THEN 'empty'
         WHEN n_tokens < 10 THEN 'too_short'
         WHEN n_tokens > 100000 THEN 'too_long'
         WHEN n_chars < 2 * n_tokens THEN 'tokens_too_short'
         WHEN n_chars > 12 * n_tokens THEN 'tokens_too_long'
         WHEN 100 * alpha < 60 * n_chars THEN 'low_alpha'
         WHEN stop_hits < 1 THEN 'no_stopwords'
         ELSE 'ok' END AS reason
  FROM m
)"""
    )


_SQL_QUALITY_CTES = _sql_quality_ctes()

SQL_QUALITY_FILTER = f"""
WITH {_SQL_QUALITY_CTES}
SELECT doc_id,
       reason = 'ok' AS kept,
       reason
FROM qreason
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling: per-lang hash-threshold sample,
# reproducible on any engine/cluster size (functions/sample.py).
# ---------------------------------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.functions.sample import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, {"en": 0.5, "de": 1.0}, stratum_col="lang", key_col="doc_id",
        default_frac=0.1,
    ).select("doc_id", "lang")


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's0'), 1, 8) AS BIGINT)
  < CASE lang WHEN 'de' THEN {int(1.0 * (1 << 32))}
              WHEN 'en' THEN {int(0.5 * (1 << 32))}
              ELSE {int(0.1 * (1 << 32))} END
"""


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus mix (docs / chars / languages): the data-mix
    table a training pipeline weights sources by — one
    partial-aggregated shuffle of (source, ...) pairs at any scale."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("lang").alias("n_langs"),
    )


SQL_SOURCE_MIX = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# Decontamination: corpus docs sharing n-gram shingles with a held-out
# eval set — the benchmark-leak scan every training-data pipeline runs
# before a model sees the corpus.
# ---------------------------------------------------------------------------


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs (doc_id >= 10) that share at least one 5-gram
    shingle with the 'eval' set (doc_id < 10): inverted-index
    equi-join on the shingle string.  Scale shape: the eval side is
    tiny and broadcast (its exploded shingles are the inverted index);
    the corpus side streams through map-side — no corpus shuffle.  A
    (corpus, eval) pair's n_shared counts DISTINCT shared shingles,
    which is a plain count(*) here because shingles() emits distinct
    grams per doc."""
    from hetman_spark.functions.dedup import shingles

    d = _tp(spark, sf_dir, "documents")
    # join on xxhash64(gram) instead of the gram string: the shingle
    # text is a join key only (never output), so the broadcast index
    # and the probe rows carry 8-byte longs instead of ~25-char
    # strings (guide §2.3 'shuffle keys instead of payloads').
    hashed = lambda c: F.transform(  # noqa: E731
        shingles(c, 5), lambda s: F.xxhash64(s)
    )
    sh_eval = d.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("eval_id"), F.explode(hashed(F.col("text"))).alias("sh")
    )
    sh_corpus = d.where(F.col("doc_id") >= 10).select(
        "doc_id", F.explode(hashed(F.col("text"))).alias("sh")
    )
    return (
        sh_corpus.join(F.broadcast(sh_eval), "sh")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _sql_shingles_n(n: int) -> str:
    """DuckDB twin of dedup.shingles for gram size n (distinct,
    lowercase, space-joined).  Tokenizes on the regex \\s+ exactly like
    functions/dedup.py:48 — a literal-space split agrees only on
    single-spaced text and silently diverges on tabs/newlines/runs of
    spaces (r3 VERDICT What's-wrong #1); both engines' \\s+ splits are
    verified identical on leading/trailing/mixed whitespace
    (tests/test_whitespace_parity.py)."""
    gram = " || ' ' || ".join(
        f"regexp_split_to_array(lower(text), '\\s+')[i+{j}]" for j in range(n)
    ).replace("[i+0]", "[i]")
    return f"""
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(regexp_split_to_array(lower(text), '\\s+')) - {n - 1}, 0) + 1),
           i -> {gram}
         )) AS sh
  FROM documents
"""


SQL_CONTAMINATION = f"""
WITH sh AS ({_sql_shingles_n(5)}),
ev AS (
  SELECT doc_id AS eval_id, unnest(sh) AS g FROM sh WHERE doc_id < 10
), corp AS (
  SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id >= 10
)
SELECT c.doc_id, e.eval_id, count(*) AS n_shared
FROM corp c JOIN ev e ON c.g = e.g
GROUP BY c.doc_id, e.eval_id
"""


# ---------------------------------------------------------------------------
# Repetition stats: Gopher's duplicate-n-gram signal — the fraction of
# a doc that is repeated trigrams (boilerplate/template detector).
# ---------------------------------------------------------------------------


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram repetition: total trigram occurrences vs
    distinct trigrams; n_repeated = total - distinct is the Gopher
    'duplicate n-gram' numerator.  Pure per-row array expressions —
    no shuffle, no explode."""
    d = _tp(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    k = F.size(words) - F.lit(2)
    # total is pure arithmetic (gram count = max(n_words - 2, 0)) and
    # the distinct count runs over 8-byte xxhash64 of each word slice —
    # the gram strings never leave the row, so they are never BUILT:
    # no concat_ws allocation per position, and array_distinct compares
    # longs instead of strings.
    total = F.greatest(k, F.lit(0)).cast("long")
    gram_hashes = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.xxhash64(F.slice(words, i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    distinct = F.size(F.array_distinct(gram_hashes)).cast("long")
    return d.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        (total - distinct).alias("n_repeated"),
    )


# \s+ tokenization matching the Spark side's F.split(lower(text), r"\s+")
# — see _sql_shingles_n's note on literal-space divergence
SQL_REPETITION = r"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(regexp_split_to_array(lower(text), '\s+')) >= 3
              THEN list_transform(
                     range(1, len(regexp_split_to_array(lower(text), '\s+')) - 2 + 1),
                     i -> regexp_split_to_array(lower(text), '\s+')[i] || ' ' ||
                          regexp_split_to_array(lower(text), '\s+')[i+1] || ' ' ||
                          regexp_split_to_array(lower(text), '\s+')[i+2])
              ELSE [] END AS grams
  FROM documents
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_repeated
FROM g
"""


# ---------------------------------------------------------------------------
# MinHash banded LSH candidate pairs (md5 family => engine-agnostic)
# ---------------------------------------------------------------------------


def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs as a bucketed EQUI-join (never all-pairs).

    Each doc explodes into one (band, bucket) row per band, where bucket is
    the md5 of that band's signature slice; docs sharing a bucket become a
    candidate pair via an equi-join on (band, bucket) — the same shape as
    functions/dedup.py:minhash_lsh_candidates, so the plan is a hash join
    that shuffles only (doc_id, band, bucket), never the n^2 cross product.
    A pair colliding in both bands appears once (distinct).

    Signatures hash 3-gram SHINGLES, not words: the synthetic corpus
    draws from a ~30-word vocabulary, so word-level minhashes collide
    for unrelated docs (measured: 76k candidate pairs from 500 docs =
    hot-bucket quadratic blowup, 240s at sf0.1 for the downstream
    Jaccard verify).  The 3-gram space is large enough that only real
    near-dups share buckets — the same reason functions/dedup.py
    shingles before minhashing."""
    from hetman_spark.functions.dedup import shingles

    d = _tp(spark, sf_dir, "documents")
    sh = d.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    return _band_pairs_from_shingles(sh)


def _bands_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) -> (doc_id, band, bucket) band-key
    rows.  min(md5) per salt is computed as array_min over a per-row
    transform — pure expressions, NO explode+groupBy shuffle
    (lexicographic min over the same md5 set, identical to the DuckDB
    unnest+min twin).  This IS the persistable LSH signature table of
    the incremental path."""

    def msig(salt: str):
        # closure, not a default-arg lambda (2-param transform lambdas
        # are (element, index) — see CLAUDE.md)
        return F.array_min(
            F.transform(F.col("sh"), lambda w: F.md5(F.concat(w, F.lit(salt))))
        )

    sigs = sh.select(
        "doc_id", *[msig(s).alias(f"m{i}") for i, s in enumerate(_MINHASH_SALTS)]
    )
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.md5(F.concat("m0", "m1")).alias("bucket")),
                F.struct(F.lit(1).alias("band"), F.md5(F.concat("m2", "m3")).alias("bucket")),
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))


def _band_pairs_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) -> candidate pairs via the banded self-join; the
    only shuffle is the tiny (band, bucket, doc_id) equi-join."""
    # Materialize the tiny (doc_id, band, bucket) table: it feeds BOTH
    # sides of the self-join, and a DataFrame referenced twice re-runs
    # its whole plan twice (no cross-reference CSE) — without this the
    # shingle+md5-minhash pass executed 2x (the minhash_lsh_candidates
    # lesson, guide §2.4: don't recompute what one exchange can carry).
    bands = _bands_from_shingles(sh).localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


# DuckDB twin of hetman_spark.functions.dedup.shingles (3-gram,
# lowercase, distinct, \s+ tokenized) — shared by the band-pairs and
# Jaccard oracles; same generator as the contamination 5-gram twin.
_SQL_SHINGLES = _sql_shingles_n(3)

# shared CTE chain: shingles -> md5 minhash signatures -> 2 bands
# (the band table is the persistable LSH signature table — the DuckDB
# twin of _bands_from_shingles)
_SQL_BANDS_CTES = f"""sh AS ({_SQL_SHINGLES}),
sigs AS (
  SELECT doc_id,
         min(md5(w || 's0')) AS m0, min(md5(w || 's1')) AS m1,
         min(md5(w || 's2')) AS m2, min(md5(w || 's3')) AS m3
  FROM (SELECT doc_id, unnest(sh) AS w FROM sh)
  GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || m1) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, md5(m2 || m3) AS bucket FROM sigs
)"""

# ... -> distinct candidate pairs; the band-pairs, Jaccard-verify and
# transitive-clustering oracles all build on exactly this prefix
_SQL_PAIRS_CTES = f"""{_SQL_BANDS_CTES}, pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)"""

# incremental variant: only incoming-vs-existing and in-batch pairs —
# the corpus side contributes nothing but its persisted band rows
_SQL_PAIRS_CTES_INC = f"""{_SQL_BANDS_CTES}, inc_pairs AS (
  SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b
  FROM bands n JOIN bands o ON n.band = o.band AND n.bucket = o.bucket
  WHERE n.doc_id >= 250 AND o.doc_id < 250
  UNION
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id >= 250 AND b.doc_id >= 250 AND a.doc_id < b.doc_id
)"""

SQL_MINHASH_PAIRS = f"""
WITH {_SQL_PAIRS_CTES}
SELECT id_a, id_b FROM pairs
"""


# ---------------------------------------------------------------------------
# Dedup verification: exact n-gram Jaccard over the LSH candidate pairs
# (the verify stage after banding) — integer |intersect| / |union| so
# both engines hash identically.
# ---------------------------------------------------------------------------


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard verification of the banded-LSH candidates: joins each
    side's distinct 3-gram shingle set (shuffles only candidate ids +
    shingle arrays, never all pairs).  Mirrors
    functions/dedup.py:ngram_jaccard with integer outputs.

    The shingle frame is built ONCE and feeds both the candidate
    derivation (_band_pairs_from_shingles) and the two verify joins —
    previously this entry re-invoked q_minhash_band_pairs, paying the
    shingle+signature computation twice (VERDICT r2 What's-wrong #3)."""
    from hetman_spark.functions.dedup import shingles

    d = _tp(spark, sf_dir, "documents")
    # materialize the shingle table once: it feeds the band derivation
    # AND both verify joins (3 references = 3 re-executions of the
    # split+slice+distinct pass without this; guide §2.4)
    sh = d.select(
        F.col("doc_id"), shingles(F.col("text"), 3).alias("sh")
    ).localCheckpoint(eager=True)
    pairs = _band_pairs_from_shingles(sh)
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    return out.select(
        "id_a", "id_b",
        inter.alias("n_common"),
        union.alias("n_union"),
    )


SQL_NGRAM_JACCARD = f"""
WITH {_SQL_PAIRS_CTES}
SELECT p.id_a, p.id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union
FROM pairs p
JOIN sh a ON a.doc_id = p.id_a
JOIN sh b ON b.doc_id = p.id_b
"""


# ---------------------------------------------------------------------------
# Transitive near-dup clustering: collapse the LSH candidate-pair graph
# into connected components with one keeper per cluster — the step
# production dedup pipelines (Gopher/CCNet) run after banding (k
# near-dups are k-1 removals, not k(k-1)/2 pairs).
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cluster membership over the banded-LSH candidate pairs:
    (doc_id, cluster_id = min reachable doc_id, keep = 1 for the
    cluster keeper).  Spark side is functions/dedup.py's
    connected_components — min-label propagation + pointer jumping as
    keyed self-joins, O(log n) rounds; the oracle recomputes the
    transitive closure independently with a DuckDB recursive CTE."""
    from hetman_spark.functions.dedup import connected_components, shingles

    d = _tp(spark, sf_dir, "documents")
    sh = d.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    pairs = _band_pairs_from_shingles(sh)
    cc = connected_components(pairs)
    return cc.select(
        F.col("v").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.when(F.col("v") == F.col("component"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("keep"),
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_PAIRS_CTES},
edges AS (
  SELECT id_a AS v, id_b AS u FROM pairs
  UNION
  SELECT id_b AS v, id_a AS u FROM pairs
),
reach(v, r) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
)
SELECT v AS doc_id,
       CAST(min(r) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN v = min(r) THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM reach GROUP BY v
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new docs vs the EXISTING corpus — the batch-append
# shape every continuously-ingesting pipeline runs (drop an incoming
# doc if its content hash already exists; also dedup within the batch).
# ---------------------------------------------------------------------------


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of an incoming batch (doc_id >= 250) deduped against
    the existing corpus (doc_id < 250) AND within itself (keeper = min
    doc_id per hash).  Scale shape: only (hash, id) pairs move — a
    left_anti hash-join against the existing hash set plus one groupBy;
    the text column never shuffles.  At 100 TB the existing-hash side
    is a bucketed table, or the bloom pre-pass of
    functions/dedup.py:incremental_dedup_bloom feeds the same anti-join
    with the corpus pruned map-side (pytest-pinned identical results);
    the plan shape here is already that partitioned anti-join."""
    d = _t(spark, sf_dir, "documents")
    hashed = d.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    existing = hashed.where(F.col("doc_id") < 250).select("text_hash")
    incoming = hashed.where(F.col("doc_id") >= 250)
    fresh = incoming.join(existing, "text_hash", "left_anti")
    return fresh.groupBy("text_hash").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_in_batch"),
    )


SQL_INCREMENTAL_DEDUP = """
WITH hashed AS (
  SELECT doc_id, md5(text) AS text_hash FROM documents
), incoming AS (
  SELECT * FROM hashed WHERE doc_id >= 250
), fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM hashed e
                    WHERE e.doc_id < 250 AND e.text_hash = i.text_hash)
)
SELECT text_hash, min(doc_id) AS keeper_id, count(*) AS n_in_batch
FROM fresh GROUP BY text_hash
"""


def q_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom-pre-pass incremental dedup END-TO-END under the value
    oracle: functions/dedup.py:incremental_dedup_bloom prunes the
    existing corpus map-side with a Bloom filter built over the
    incoming batch's hashes, then runs the exact anti-join.  The
    ORACLE IS THE PLAIN ANTI-JOIN SQL — legitimate because the bloom
    has NO false negatives (every existing key colliding with the
    batch passes the filter) and false positives only feed extra rows
    into the exact join: the composition is provably result-identical
    to the unfiltered form, and this entry pins that equivalence under
    the driver's value-hash, not just pytest."""
    from hetman_spark.functions.dedup import incremental_dedup_bloom

    d = _t(spark, sf_dir, "documents")
    hashed = d.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    existing = hashed.where(F.col("doc_id") < 250).select("text_hash")
    incoming = hashed.where(F.col("doc_id") >= 250)
    fresh = incremental_dedup_bloom(incoming, existing, n_bits=1 << 14)
    return fresh.groupBy("text_hash").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_in_batch"),
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-append NEAR-dup (r4 VERDICT #4): the incoming batch
    (doc_id >= 250) is checked against the existing corpus (doc_id <
    250) via its PERSISTED band-signature table — the corpus text is
    never re-scanned; only its (doc_id, band, bucket) rows join.  What
    a crawler append actually runs:

      candidate edges = (incoming x existing band collisions) UNION
                        (in-batch band collisions)
      components      = connected_components over those edges
      per incoming doc:
        'dup_of_corpus' — its component reaches an existing doc
                          (component label < 250: labels are
                          min-reachable ids and all corpus ids are
                          smaller than batch ids by construction)
        'dup_in_batch'  — corpus-free component, not the min member
        'keep'          — cluster keeper, or no collision at all

    Old-old edges are intentionally absent (the corpus was already
    deduped when ingested) and provably irrelevant to the verdicts: an
    incoming doc linked to ANY old doc is dup_of_corpus regardless of
    corpus-internal structure, and corpus-free components contain only
    in-batch edges.

    Scale shape: two bucketed equi-joins of (doc_id, band, bucket)
    rows + O(log n) CC rounds of (id, label) pairs; text never
    shuffles.  At 100 TB the existing band table is bucketed on
    (band, bucket), making the new-vs-old join co-located."""
    from hetman_spark.functions.dedup import connected_components, shingles

    d = _tp(spark, sf_dir, "documents")
    sh = d.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    # materialize once: old_b/new_b below reference this table FOUR
    # times (cross joins old+new, in_batch self-joins new twice) and
    # each reference re-executes the shingle+signature pass — measured
    # 8.5 s -> ~3 s at sf1.0 with the checkpoint (tiny: 2 rows/doc of
    # (id, band, bucket); this IS the persisted band table of the
    # production incremental path, so materializing it is the honest
    # plan shape, not a bench trick)
    bands = _bands_from_shingles(sh).localCheckpoint(eager=True)
    old_b = bands.where(F.col("doc_id") < 250)
    new_b = bands.where(F.col("doc_id") >= 250)
    cross = (
        new_b.alias("n")
        .join(old_b.alias("o"), ["band", "bucket"])
        .select(F.col("n.doc_id").alias("id_a"), F.col("o.doc_id").alias("id_b"))
        .distinct()
    )
    in_batch = (
        new_b.alias("a")
        .join(new_b.alias("b"), ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    cc = connected_components(cross.unionByName(in_batch))
    incoming = d.where(F.col("doc_id") >= 250).select("doc_id")
    out = incoming.join(cc, incoming["doc_id"] == cc["v"], "left")
    status = (
        F.when(F.col("component").isNull(), F.lit("keep"))
        .when(F.col("component") < 250, F.lit("dup_of_corpus"))
        .when(F.col("doc_id") == F.col("component"), F.lit("keep"))
        .otherwise(F.lit("dup_in_batch"))
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).cast("long").alias("cluster_id"),
        status.alias("status"),
    )


_SPAN_K = 5


def q_span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication at SPAN granularity — the
    gram-hash decomposition of Lee et al. 2022's suffix-array exact
    dedup ("Deduplicating Training Data Makes Language Models
    Better"): a span duplicated across documents is detected as a
    rolling k-gram whose hash occurs in >= 2 DISTINCT docs.  Per doc:
    total k-gram positions, positions covered by a cross-doc
    duplicated gram, and distinct duplicated grams — the span-level
    contamination profile a substring-dedup pass cuts on.

    Rolling grams are POSITIONAL (overlapping, NOT distinct-set
    shingles): position i's gram = words[i..i+k-1], md5-hashed so both
    engines agree.  Docs shorter than k tokens appear with zero
    counts (LEFT join), never dropped.

    Scale shape: the gram explode is one row per token position
    (linear in corpus tokens, the same row count a tokenizer pass
    already handles), the duplicated-gram table is a partial-agg
    groupBy(hash) with an early HAVING filter, and the rejoin is
    keyed on the hash — no sort, no suffix array, no cross join; this
    is exactly how production replaces Lee's suffix automaton at
    cluster scale."""
    d = _tp(spark, sf_dir, "documents")
    k = _SPAN_K
    words = F.split(F.lower(F.col("text")), r"\s+")
    words = F.filter(words, lambda w: w != "")
    n = F.size(words) - F.lit(k - 1)
    # gram key = xxhash64 of the word-slice ARRAY: the hash is a
    # grouping key only (never in the output), so the md5-hex-string
    # form bought nothing — xxhash64 skips both the md5 digest and the
    # concat_ws string build, and the shuffled key is 8 bytes instead
    # of a 32-char string (guide §2.3 narrower types).  Grouping is
    # exact: words are \s+-split (no spaces inside), so slice arrays
    # are equal iff the md5'd join strings were.
    grams = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.xxhash64(F.slice(words, i + 1, k)),
    )).otherwise(F.array().cast("array<bigint>"))
    # Plan shape, A/B-measured under the bench's noop-sink action
    # (count() prunes differently and misleads here):
    # - n_positions is pure arithmetic on the words array
    #   (greatest(len-k+1, 0)) riding the base projection — the old
    #   groupBy(doc_id).count() over the exploded table re-evaluated
    #   every md5 a third time AND paid a corpus-token-row shuffle
    #   (18 s -> 9 s at sf0.1).
    # - the exploded gram table is aggregated ONCE to (g, doc_id,
    #   count) rows; both the dup-gram HAVING filter and the per-doc
    #   rejoin consume that aggregate, so the md5 transform is
    #   evaluated a single time and the two g-keyed exchanges over it
    #   are identical (ReusedExchange).  localCheckpoint was also
    #   tried and REJECTED: materializing corpus-token-count rows of
    #   32-char hashes costs ~2x the recompute (13-16 s vs 8-9 s).
    # At 100 TB the same holds: one gram evaluation, one
    # corpus-token shuffle keyed (g, doc_id), everything after it
    # sized by distinct (gram, doc) pairs.
    # - the _tp scan matters most HERE of all entries: the md5-per-
    #   position explode off a one-file scan serialized on a single
    #   core (12.9 s warm); repartitioned it is 3.7 s.
    base = d.select(
        "doc_id", F.greatest(n, F.lit(0)).cast("long").alias("n_positions")
    )
    pos = d.select("doc_id", F.explode(grams).alias("g"))
    # Materialize the (g, doc_id, c) aggregate: both the dup-gram
    # HAVING filter and the per-doc rejoin consume it, and without the
    # checkpoint the gram pass re-executed for each consumer (measured
    # r6: 5.2 s vs 4.2 s warm).  This reverses the r5 rejection of
    # materialization — that verdict was for 32-char md5-string keys;
    # with 8-byte xxhash64 keys the table is ~3x smaller and the
    # checkpoint is cheaper than the recompute.
    gram_doc = pos.groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)
    dup_grams = (
        gram_doc.groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    per_doc = (
        gram_doc.join(dup_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_dup_positions"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_positions", F.lit(0)).cast("long").alias("n_positions"),
            F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias("n_dup_positions"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        )
    )


SQL_SPAN_DUP_STATS = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x != '') AS ws
  FROM documents
), pos AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - {_SPAN_K} + 2),
                i -> md5(array_to_string(ws[i:i+{_SPAN_K}-1], ' ')))) AS g
  FROM w
  WHERE len(ws) >= {_SPAN_K}
), dup_grams AS (
  SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), per_doc AS (
  SELECT p.doc_id,
         count(*) AS n_dup_positions,
         count(DISTINCT p.g) AS n_dup_grams
  FROM pos p JOIN dup_grams d ON d.g = p.g
  GROUP BY p.doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_positions FROM pos GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(t.n_positions, 0) AS BIGINT) AS n_positions,
       CAST(COALESCE(p.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
       CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams
FROM documents d
LEFT JOIN totals t ON t.doc_id = d.doc_id
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


def q_span_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with REMOVAL — the output side of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every occurrence of a duplicated k-gram span EXCEPT the
    corpus-first one (lowest (doc_id, position)) is cut out of the
    text, and the cleaned text is emitted.  `span_dup_stats` is the
    profile; this is the pass that actually rewrites the corpus.
    Duplication here is total-occurrence (>= 2 anywhere, including
    intra-doc repeats) — Lee's semantics — unlike the stats entry's
    cross-doc definition.

    A word position is removed iff it is covered by at least one
    removed span occurrence; the first occurrence keeps its words, so
    every duplicated span survives exactly once corpus-wide (modulo
    overlap with other removed spans).

    Scale shape: one posexplode (linear in corpus token positions),
    one groupBy(gram) carrying (count, min packed (doc,pos) key) — a
    partial-agg shuffle keyed on the hash — one keyed join back, one
    per-doc collect_set of removed word indexes (bounded by the doc's
    own length), and a per-row array filter to rebuild the text.  No
    suffix array, no global sort, text never rides a shuffle (only
    32-char gram hashes and integer positions do).  The packed key
    doc_id*1e6+pos assumes docs < 1e6 tokens (asserted in the
    docstring contract; a 100 TB corpus with longer docs widens the
    multiplier, BIGINT has 9.2e18 of headroom)."""
    d = _tp(spark, sf_dir, "documents")
    k = _SPAN_K
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""
    )
    n = F.size(words) - F.lit(k - 1)
    # xxhash64 over the slice array replaces md5(concat_ws): grouping
    # key only (never output), 8-byte shuffle key instead of a 32-char
    # string, no digest/string-build per position — see span_dup_stats.
    grams = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.xxhash64(F.slice(words, i + 1, k)),
    )).otherwise(F.array().cast("array<bigint>"))
    # Materialize the occurrence table: the dup aggregate AND the
    # removed-span join both consume it, and each DataFrame reference
    # re-executes the gram-hash explode (measured r6: 7.1 s vs 3.9 s
    # warm with the checkpoint).  Affordable now that the key is an
    # 8-byte xxhash64 instead of a 32-char md5 string (the r5
    # rejection of exactly this materialization predates that swap).
    occ = (
        d.select("doc_id", F.posexplode(grams).alias("p0", "g"))
        .select(
            "doc_id", "g",
            (F.col("p0") + 1).cast("long").alias("pos"),
        )
    ).localCheckpoint(eager=True)
    packed = F.col("doc_id") * F.lit(1_000_000) + F.col("pos")
    dup = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("nocc"), F.min(packed).alias("first_key"))
        .where(F.col("nocc") >= 2)
        .select("g", "first_key")
    )
    removed = (
        occ.join(dup, "g")
        .where(packed != F.col("first_key"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("wi"),
        )
    )
    covered = removed.groupBy("doc_id").agg(F.collect_set("wi").alias("cov"))
    base = d.select("doc_id", words.alias("ws"))
    cov = F.coalesce(F.col("cov"), F.array().cast("array<bigint>"))
    kept = F.filter(
        F.col("ws"),
        lambda w, i: ~F.array_contains(cov, (i + F.lit(1)).cast("long")),
    )
    step = (
        base.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            kept.alias("kept"),
        )
    )
    return step.select(
        "doc_id",
        "n_words",
        (F.col("n_words") - F.size("kept")).cast("long").alias("n_removed"),
        F.array_join("kept", " ").alias("clean_text"),
    )


SQL_SPAN_DEDUP_TEXT = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x != '') AS ws
  FROM documents
), occ AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(ws[i:i+{_SPAN_K}-1], ' ')) AS g
  FROM w, UNNEST(range(1, len(ws) - {_SPAN_K} + 2)) AS t(i)
  WHERE len(ws) >= {_SPAN_K}
), dup AS (
  SELECT g, min(doc_id * 1000000 + pos) AS first_key
  FROM occ GROUP BY g HAVING count(*) >= 2
), cov AS (
  SELECT DISTINCT o.doc_id, u.wi
  FROM occ o
  JOIN dup s ON s.g = o.g AND o.doc_id * 1000000 + o.pos <> s.first_key,
       UNNEST(range(o.pos, o.pos + {_SPAN_K})) AS u(wi)
), toks AS (
  SELECT doc_id, unnest(ws) AS wd,
         CAST(generate_subscripts(ws, 1) AS BIGINT) AS i
  FROM w
), kept AS (
  SELECT t.doc_id, t.wd, t.i
  FROM toks t
  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.wi = t.i
  WHERE c.doc_id IS NULL
)
SELECT w.doc_id,
       CAST(len(w.ws) AS BIGINT) AS n_words,
       CAST(len(w.ws) - count(k.i) AS BIGINT) AS n_removed,
       COALESCE(string_agg(k.wd, ' ' ORDER BY k.i), '') AS clean_text
FROM w LEFT JOIN kept k ON k.doc_id = w.doc_id
GROUP BY w.doc_id, len(w.ws)
"""


def q_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality signal, integer-exact: per doc,
    how COMMON its tokens are in the corpus.  Production pipelines
    filter on LM perplexity; the engine-agnostic analog used here
    scores each token by floor(log2(corpus_count)) — computed as
    length(bin(count)) - 1, pure integer, so Spark and DuckDB agree
    bit-for-bit where a float ln() could flip its last ulp across
    engines.

    Output per doc: n_tokens, commonness_sum (the unigram log-score
    analog), rarest_bucket (min — a single hapax/misspelling flags
    it), and distinct_tokens.

    Scale shape: one groupBy(token) partial-agg builds the vocab, one
    shuffle join keyed on token scores the corpus, one partial-agg
    per-doc rollup — NO global sort anywhere (a rank-based score would
    need a single-partition window over the whole vocabulary; the
    log2-bucket score is sort-free by construction).  At 100 TB the
    vocab table is computed once and broadcast/bucketed."""
    # plain scan on purpose (r6 A/B): this query's cost is the
    # (tok, doc_id)-keyed shuffles, not the scan-stage explode; the
    # repartition variant measured ~8-12% slower (2.8 -> 3.1-3.2 s).
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    bucket = (F.length(F.bin(F.col("cnt"))) - 1).cast("long")
    # Two aggregates on purpose (r6 A/B): folding distinct_tokens into
    # the first groupBy as count_distinct plans an Expand that doubles
    # the shuffled rows AND drags the token strings through the main
    # aggregate (measured 3.2 s -> 4.5 s at sf1.0); the split form
    # shuffles narrow (doc_id, bucket) longs for the sums and lets the
    # distinct branch partial-dedup map-side.
    scored = toks.join(vocab, "tok").select("doc_id", bucket.alias("b"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("b").alias("commonness_sum"),
        F.min("b").alias("rarest_bucket"),
    ).join(
        toks.groupBy("doc_id").agg(
            F.count_distinct(F.col("tok")).alias("distinct_tokens")
        ),
        "doc_id",
    )


SQL_UNIGRAM_COMMONNESS = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
  WHERE t.tok != ''
), vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(length(bin(v.cnt)) - 1) AS BIGINT) AS commonness_sum,
       CAST(min(length(bin(v.cnt)) - 1) AS BIGINT) AS rarest_bucket,
       CAST(count(DISTINCT t.tok) AS BIGINT) AS distinct_tokens
FROM toks t JOIN vocab v ON v.tok = t.tok
GROUP BY t.doc_id
"""


_DSIR_BUCKETS = 512


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"),
    integer-exact: hash every token into one of 512 buckets, model the
    TARGET distribution (here: lang='en' docs — the stand-in for "the
    high-quality domain") and the RAW distribution as bucket counts,
    and score each doc by the sum over its tokens of
    log2bucket(1 + target_count) - log2bucket(1 + raw_count) — the
    hashed-n-gram log-likelihood-ratio DSIR resamples on.  floor(log2)
    is computed as length(bin(n)) - 1, so Spark and DuckDB agree
    bit-for-bit where float ln() could differ in the last ulp.

    Scale shape: one tokenizer explode (linear in corpus tokens), ONE
    512-row groupBy(bucket) partial-agg — the two distributions ride
    the same aggregate as conditional counts, one corpus pass, not
    two — an explicitly-broadcast join back (the bucket table is
    bytes), and one per-doc partial-agg rollup.  No sort, no global
    state; at 100 TB the bucket table is still 512 rows."""
    d = _tp(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 7), 16, 10).cast("long"),
        F.lit(_DSIR_BUCKETS),
    )
    tb = toks.select("doc_id", "lang", b.alias("b"))
    log2b = lambda c: (F.length(F.bin(c)) - 1).cast("long")  # noqa: E731
    counts = (
        tb.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cnt_raw"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("cnt_t"),
        )
        .select(
            "b",
            (log2b(F.col("cnt_t") + 1) - log2b(F.col("cnt_raw") + 1)).alias("wt"),
        )
    )
    scored = (
        tb.join(F.broadcast(counts), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("wt").alias("dsir_score"),
        )
    )
    return (
        d.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("dsir_score", F.lit(0)).cast("long").alias("dsir_score"),
        )
    )


SQL_DSIR_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(t.tok), 1, 7)) AS BIGINT) % {_DSIR_BUCKETS} AS b
  FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
  WHERE t.tok != ''
), counts AS (
  SELECT b,
         (length(bin(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1)) - 1)
           - (length(bin(count(*) + 1)) - 1) AS wt
  FROM toks GROUP BY b
), scored AS (
  SELECT t.doc_id, count(*) AS n_tokens, sum(c.wt) AS dsir_score
  FROM toks t JOIN counts c ON c.b = t.b
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.lang,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.dsir_score, 0) AS BIGINT) AS dsir_score
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLE half of DSIR composed with the token-budget
    assembler in one plan: docs are admitted per lang stratum in
    descending importance-per-token order (not random order — that is
    `token_budget_sample`) until the stratum's token budget fills.
    Importance-per-token is integer-exact: floor(score*1000/n_tokens)
    computed as (a - posmod(a, n))/n so the floored quotient is
    identical on both engines even for NEGATIVE scores (Spark's `div`
    truncates toward zero while DuckDB's // floors — this construction
    sidesteps both).

    Scale shape: the weights pass is dsir_weights' (one tokenizer
    explode, one 512-row bucket agg, broadcast join, per-doc rollup);
    admission is one window per lang stratum.  At 100 TB the exact
    per-stratum sort is replaced by a two-phase quantile-threshold
    (approx ppt threshold for the budget, then a map-side filter) —
    this entry IS the exact semantics that threshold approximates."""
    from pyspark.sql import Window

    scored = q_dsir_weights(spark, sf_dir).where(F.col("n_tokens") > 0)
    a = F.col("dsir_score") * 1000
    n = F.col("n_tokens")
    posmod = ((a % n) + n) % n
    ppt = ((a - posmod) / n).cast("long")
    w = Window.partitionBy("lang").orderBy(
        F.col("ppt").desc(), "doc_id"
    )
    ranked = scored.select(
        "doc_id", "lang", "n_tokens", ppt.alias("ppt")
    ).withColumn(
        "cum_before",
        F.coalesce(
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    return ranked.where(F.col("cum_before") < F.lit(_TB_BUDGET)).select(
        "doc_id", "lang", "n_tokens", "ppt",
        (F.col("cum_before") + F.col("n_tokens")).alias("cum_tokens"),
    )


def _sql_dsir_resample() -> str:
    return f"""
WITH weights AS ({SQL_DSIR_WEIGHTS}),
scored AS (
  SELECT doc_id, lang, n_tokens,
         CAST((dsir_score * 1000
               - (((dsir_score * 1000 % n_tokens) + n_tokens) % n_tokens))
              / n_tokens AS BIGINT) AS ppt
  FROM weights WHERE n_tokens > 0
), r AS (
  SELECT doc_id, lang, n_tokens, ppt,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
                    ORDER BY ppt DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM scored
)
SELECT doc_id, lang, n_tokens, ppt,
       CAST(cum_before + n_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_before < {{budget}}
""".replace("{budget}", str(_TB_BUDGET))


_TB_BUDGET = 2_000


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus assembly under a TOKEN budget: per lang, admit docs in a
    deterministic pseudo-random order (md5(doc_id) — reproducible on
    any engine/cluster, uncorrelated with content) until the stratum's
    running token total passes the budget.  This is the data-mixing
    primitive a training-corpus build runs ("fill N tokens per
    language/source"), expressed as one window cumsum — the admit rule
    is cum_tokens_BEFORE_this_doc < budget, so every stratum
    overshoots by at most one doc and never undershoots while docs
    remain.

    Integer-exact: token counts are BIGINT word counts, the order key
    is a hex md5 (string compare identical everywhere).  Scale shape:
    one window (sort within stratum) — at 100 TB the per-stratum sort
    is the standard price of budgeted sampling; the cheaper preview is
    sample.stratified_sample at rates estimated from source_mix."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    ).cast("long")
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    ranked = d.select(
        "doc_id", "lang", toks.alias("n_tokens"), key.alias("ord_key")
    ).withColumn(
        "cum_before",
        F.coalesce(
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    return (
        ranked.where(F.col("cum_before") < F.lit(_TB_BUDGET))
        .select(
            "doc_id", "lang", "n_tokens",
            (F.col("cum_before") + F.col("n_tokens")).alias("cum_tokens"),
        )
    )


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> x != '')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents
), r AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY ord_key, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(cum_before + n_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_before < {_TB_BUDGET}
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by an integer-exact tf-idf:
    score = tf * floor(log2(n_docs / df)) with the idf bucket computed
    as length(bin(n_docs // df)) - 1 — a corpus-wide stopword is in
    every doc (bucket 0, score 0) and a hapax gets the max bucket, so
    the ranking matches float tf-idf's shape while every number is a
    BIGINT both engines agree on.  Ties: (score desc, tok asc),
    row_number — fully deterministic.

    Scale shape: tf is one (doc, tok) partial-agg; df one (tok)
    partial-agg over tf (already deduped per doc); n_docs rides in as
    a broadcast 1-row cross join (no driver collect); the final top-k
    is a per-doc window over at most |doc vocab| rows."""
    d = _tp(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    # Materialize the (doc_id, tok, tf) table: the df-count aggregate
    # AND the scoring join both consume it, and each reference
    # re-executed the tokenizer explode + first aggregate (measured
    # r6: 5.2 s vs 1.9 s warm at sf1.0 with the checkpoint — guide
    # §2.4; production persists exactly this term-frequency table).
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=True)
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_cnt"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "tok", "tf",
            (F.col("tf") * (
                F.length(F.bin(F.floor(F.col("n_docs") / F.col("df_cnt")).cast("long"))) - 1
            )).cast("long").alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", F.col("tok").alias("term"), "tf", "score",
                F.col("rnk").cast("int").alias("rnk"))
    )


SQL_TFIDF_KEYWORDS = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
  WHERE t.tok != ''
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, count(*) AS df_cnt FROM tf GROUP BY tok
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf,
         CAST(tf.tf * (length(bin(CAST(floor(nd.n_docs / df_cnt) AS BIGINT))) - 1)
              AS BIGINT) AS score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
)
SELECT doc_id, tok AS term, CAST(tf AS BIGINT) AS tf, score,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, tok) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


SQL_INCREMENTAL_NEARDUP = f"""
WITH RECURSIVE {_SQL_PAIRS_CTES_INC},
edges AS (
  SELECT id_a AS v, id_b AS u FROM inc_pairs
  UNION
  SELECT id_b AS v, id_a AS u FROM inc_pairs
),
reach(v, r) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
SELECT d.doc_id,
       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS cluster_id,
       CASE WHEN c.component IS NULL THEN 'keep'
            WHEN c.component < 250 THEN 'dup_of_corpus'
            WHEN d.doc_id = c.component THEN 'keep'
            ELSE 'dup_in_batch' END AS status
FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
WHERE d.doc_id >= 250
"""


# ---------------------------------------------------------------------------
# Corpus length quantiles: exact discrete percentiles per lang — the
# doc-length distribution table a filtering pass is tuned against.
# Interpolating percentile functions differ between engines; the
# discrete "value at position ceil(q*n)" construction is identical
# everywhere (window row_number + conditional aggregate).
# ---------------------------------------------------------------------------


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )

    def q_at(q: float):
        pos = F.ceil(F.lit(q) * F.col("n")).cast("long")
        return F.max(F.when(F.col("rn") == pos, F.col("n_chars")))

    return ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        q_at(0.5).alias("p50_chars"),
        q_at(0.9).alias("p90_chars"),
        q_at(0.99).alias("p99_chars"),
    )


SQL_LENGTH_QUANTILES = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       CAST(max(n) AS BIGINT) AS n_docs,
       max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_chars END) AS p50_chars,
       max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN n_chars END) AS p90_chars,
       max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN n_chars END) AS p99_chars
FROM ranked GROUP BY lang
"""


# ---------------------------------------------------------------------------
# The composite KEEP LIST: quality gate -> transitive near-dup
# clustering -> deterministic sampling, composed into ONE declarative
# plan — the end-of-pipeline verdict a corpus build ships.  Exercises
# operator COMPOSITION under the oracle (each stage is independently
# oracled elsewhere; here the composition itself is checked).
# ---------------------------------------------------------------------------

_KEEP_SAMPLE_THR = int(0.5 * (1 << 32))


def q_corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc final verdict with first-fail precedence
    quality > neardup > sample:
      'quality:<rule>'  failed the Gopher-style integer gate;
      'neardup'         a non-keeper member of an LSH near-dup cluster;
      'sampled_out'     above the 50% deterministic hash threshold;
      'ok'              ships.
    Scale shape: the quality gate is pure Catalyst per-row, clustering
    shuffles only (hash, id) pairs, the sample is a per-row predicate —
    the whole verdict is one plan with two keyed joins."""
    from hetman_spark.functions.dedup import connected_components, shingles
    from hetman_spark.functions.sample import _BUCKETS, _hash_bucket  # noqa: F401
    from hetman_spark.functions.text import quality_filter

    d = _tp(spark, sf_dir, "documents")
    q = quality_filter(d).select("doc_id", F.col("reason").alias("q_reason"))
    sh = d.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    cc = connected_components(_band_pairs_from_shingles(sh))
    non_keeper = (
        cc.where(F.col("v") != F.col("component"))
        .select(F.col("v").alias("doc_id"), F.lit(1).alias("is_dup"))
    )
    sampled_in = _hash_bucket(F.col("doc_id"), "s0") < F.lit(_KEEP_SAMPLE_THR)
    verdict = (
        F.when(F.col("q_reason") != "ok", F.concat(F.lit("quality:"), F.col("q_reason")))
        .when(F.col("is_dup") == 1, F.lit("neardup"))
        .when(~sampled_in, F.lit("sampled_out"))
        .otherwise(F.lit("ok"))
    )
    return (
        d.select("doc_id")
        .join(q, "doc_id")
        .join(non_keeper, "doc_id", "left")
        .select("doc_id", verdict.alias("verdict"))
        .withColumn("keep", (F.col("verdict") == "ok").cast("int"))
    )


SQL_CORPUS_KEEP_LIST = f"""
WITH RECURSIVE {_SQL_PAIRS_CTES},
edges AS (
  SELECT id_a AS v, id_b AS u FROM pairs
  UNION
  SELECT id_b AS v, id_a AS u FROM pairs
),
reach(v, r) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
non_keeper AS (
  SELECT v AS doc_id FROM reach GROUP BY v HAVING v <> min(r)
),
{_SQL_QUALITY_CTES},
verdicts AS (
  SELECT d.doc_id,
         CASE WHEN q.reason <> 'ok' THEN 'quality:' || q.reason
              WHEN nk.doc_id IS NOT NULL THEN 'neardup'
              WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 's0'), 1, 8)
                   AS BIGINT) >= {_KEEP_SAMPLE_THR} THEN 'sampled_out'
              ELSE 'ok' END AS verdict
  FROM documents d
  JOIN qreason q USING (doc_id)
  LEFT JOIN non_keeper nk USING (doc_id)
)
SELECT doc_id, verdict,
       CAST(CASE WHEN verdict = 'ok' THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM verdicts
"""


# ---------------------------------------------------------------------------
# Sessionization: gap-based per-user sessions over the event stream —
# the time-keyed twin of the multiline stitch (same cumsum shape).
# ---------------------------------------------------------------------------


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.operators.sessionize import session_stats

    e = _t(spark, sf_dir, "events")
    return session_stats(e, gap_seconds=1800, tiebreak_col="event_id")


# floor(epoch(...)) everywhere: Spark's unix_timestamp TRUNCATES
# sub-second timestamps while DuckDB's epoch() is fractional — both
# the 1800 s gap test and the duration must use the same integer
# seconds or boundaries/durations drift by one.
SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  -- the cumsum window MUST tiebreak on event_id like the flagged
  -- window (and the Spark operator): with duplicate (user_id, ts)
  -- rows at a session boundary, ordering by ts alone can sort the
  -- is_new=1 row after its tie, yielding session_id -1 and a
  -- nondeterministic oracle
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS session_seconds,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS started_at
FROM numbered
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# As-of join: each event joined to the user's latest prior purchase —
# Spark has no native ASOF JOIN (built from union + carry-forward
# window, operators/asof.py); DuckDB has one, which makes the oracle a
# genuine independent implementation.
# ---------------------------------------------------------------------------


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max(F.floor(F.col("value") * 100)).cast("long").alias("purchase_cents"))
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["purchase_cents"],
    )
    return joined.select(
        "event_id",
        F.col("purchase_cents").alias("last_purchase_cents"),
    )


SQL_ASOF = """
WITH purchases AS (
  SELECT user_id, ts,
         CAST(max(floor(value * 100)) AS BIGINT) AS purchase_cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT e.event_id,
       p.purchase_cents AS last_purchase_cents
FROM events e
ASOF LEFT JOIN purchases p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


# ---------------------------------------------------------------------------
# Range join: events matched into synthetic maintenance windows —
# bin-bucketed equi-join (operators/rangejoin.py), never a theta/
# cartesian join; the DuckDB twin IS the plain inequality join.
# ---------------------------------------------------------------------------

_RJ_T0 = 1704067200  # epoch of 2024-01-01, the events epoch origin
_RJ_BIN = 7200


def q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.operators.rangejoin import range_join_points_intervals

    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    iv = spark.range(120).select(
        F.col("id").alias("interval_id"),
        F.timestamp_seconds(F.lit(_RJ_T0) + F.col("id") * 3600).alias("start_ts"),
        F.timestamp_seconds(
            F.lit(_RJ_T0) + F.col("id") * 3600 + 1800 + (F.col("id") % 5) * 600
        ).alias("end_ts"),
    )
    out = range_join_points_intervals(e, iv, bin_seconds=_RJ_BIN)
    return out.select("event_id", "interval_id")


SQL_RANGE_JOIN = f"""
WITH iv AS (
  SELECT i AS interval_id,
         {_RJ_T0} + i * 3600 AS start_e,
         {_RJ_T0} + i * 3600 + 1800 + (i % 5) * 600 AS end_e
  FROM (SELECT CAST(unnest(range(120)) AS BIGINT) AS i)
)
SELECT e.event_id, iv.interval_id
FROM events e JOIN iv
  ON floor(epoch(e.ts)) >= iv.start_e AND floor(epoch(e.ts)) <= iv.end_e
"""


# ---------------------------------------------------------------------------
# Document fingerprinting: order-sensitive polynomial rolling hash over
# token md5s — pure BIGINT modular arithmetic, identical in any engine
# (the xxhash64 fingerprint in functions/text.py stays the perf path).
# ---------------------------------------------------------------------------

_FP_MOD = 2_147_483_647  # 2^31 - 1: products stay < 2^62 (ANSI-safe)
_FP_BASE = 1_000_003


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tp(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    tok = lambda w: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long"), F.lit(_FP_MOD)
    )
    fp = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * _FP_BASE + tok(w), F.lit(_FP_MOD)),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


SQL_DOC_FINGERPRINTS = f"""
WITH toks AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(w), 1, 7)) AS BIGINT) % {_FP_MOD} AS t
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
               generate_subscripts(string_split(lower(text), ' '), 1) AS i
        FROM documents)
)
SELECT doc_id,
       CAST(list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                           list(t ORDER BY i)),
              (acc, x) -> (acc * {_FP_BASE} + x) % {_FP_MOD}
            ) AS BIGINT) AS fingerprint
FROM toks GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Classic OLAP shapes over the star schema (beyond the reference —
# demonstrates the engine is a general DataFrame pipeline, not a
# single-purpose port)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return f.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_c"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_base_c"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * F.round((1 - F.col("l_discount")) * 100).cast("long")
        ).alias("sum_disc_c"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", F.col("o_orderkey").alias("orderkey"), "rank")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_orderpriority, orderkey, rank FROM (
  SELECT o_orderpriority, o_orderkey AS orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# P3/P4: syslog parse — synthesize RFC5424/RFC3164 lines from testdata,
# parse with the real operators; the oracle derives the expected fields
# INDEPENDENTLY from the source columns (ground truth, not a regex twin).
# ~10% of lines are corrupted to exercise the P6 null-passthrough.
# ---------------------------------------------------------------------------


def q_syslog_rfc5424(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.operators.parse import parse_syslog_rfc5424

    e = _tp(spark, sf_dir, "events")
    valid = (F.col("event_id") % 10) != 0
    line = F.concat(
        F.when(valid, F.lit("<165>1 ")).otherwise(F.lit("bogus ")),
        F.lit("2024-01-01T00:00:00Z host"), F.col("user_id").cast("string"),
        F.lit(".example.com app_"), F.col("event_type"),
        F.lit(" proc"), (F.col("event_id") % 7).cast("string"),
        F.lit(" ID"), (F.col("event_id") % 100).cast("string"),
        F.lit(" - event "), F.col("event_id").cast("string"),
    )
    p = parse_syslog_rfc5424(line)
    return e.select(
        "event_id",
        p["app_name"].alias("app_name"),
        p["hostname"].alias("hostname"),
        p["message"].alias("message"),
        p["msg_id"].alias("msg_id"),
        p["proc_id"].alias("proc_id"),
        p["structured_data"].alias("structured_data"),
        p.isNotNull().alias("parse_ok"),
    )


SQL_SYSLOG_RFC5424 = """
SELECT event_id,
       CASE WHEN event_id % 10 != 0 THEN 'app_' || event_type END AS app_name,
       CASE WHEN event_id % 10 != 0
            THEN 'host' || CAST(user_id AS VARCHAR) || '.example.com' END AS hostname,
       CASE WHEN event_id % 10 != 0
            THEN 'event ' || CAST(event_id AS VARCHAR) END AS message,
       CASE WHEN event_id % 10 != 0
            THEN 'ID' || CAST(event_id % 100 AS VARCHAR) END AS msg_id,
       CASE WHEN event_id % 10 != 0
            THEN 'proc' || CAST(event_id % 7 AS VARCHAR) END AS proc_id,
       CASE WHEN event_id % 10 != 0 THEN '-' END AS structured_data,
       event_id % 10 != 0 AS parse_ok
FROM events
"""


def q_syslog_rfc3164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.operators.parse import parse_syslog_rfc3164

    o = _tp(spark, sf_dir, "orders")
    valid = (F.col("o_orderkey") % 7) != 0
    line = F.concat(
        F.when(valid, F.lit("<34>")).otherwise(F.lit("")),
        F.lit("Oct 11 22:14:15 host"), F.col("o_custkey").cast("string"),
        F.lit(" svc"), (F.col("o_orderkey") % 5).cast("string"),
        F.lit("["), (F.col("o_orderkey") % 997).cast("string"),
        F.lit("]: order "), F.col("o_orderkey").cast("string"),
        F.lit(" status "), F.col("o_orderstatus"),
    )
    p = parse_syslog_rfc3164(line)
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        p["content"].alias("content"),
        p["hostname"].alias("hostname"),
        p["tag"].alias("tag"),
        p.isNotNull().alias("parse_ok"),
    )


SQL_SYSLOG_RFC3164 = """
SELECT o_orderkey AS orderkey,
       CASE WHEN o_orderkey % 7 != 0
            THEN 'order ' || CAST(o_orderkey AS VARCHAR) || ' status ' || o_orderstatus
            END AS content,
       CASE WHEN o_orderkey % 7 != 0
            THEN 'host' || CAST(o_custkey AS VARCHAR) END AS hostname,
       CASE WHEN o_orderkey % 7 != 0
            THEN 'svc' || CAST(o_orderkey % 5 AS VARCHAR) END AS tag,
       o_orderkey % 7 != 0 AS parse_ok
FROM orders
"""


# ---------------------------------------------------------------------------
# SimHash duplicate groups — md5-based 60-bit variant so DuckDB computes
# the IDENTICAL signature (the xxhash64 library simhash stays the
# perf-path default; see functions/dedup.py simhash vs simhash_md5).
# ---------------------------------------------------------------------------


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hetman_spark.functions.dedup import simhash_md5

    d = _tp(spark, sf_dir, "documents")
    return (
        d.select("doc_id", simhash_md5(F.col("text")).alias("simhash"))
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


SQL_SIMHASH_GROUPS = r"""
WITH words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
    FROM documents)
), hx AS (
  SELECT doc_id, md5(w) AS h FROM words
), votes AS (
  SELECT doc_id, i,
         sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1)
                        >> (3 - (i % 4))) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hx CROSS JOIN (SELECT CAST(unnest(range(60)) AS INT) AS i)
  GROUP BY doc_id, i
), sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << (59 - i)) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT simhash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM sigs GROUP BY simhash
"""


# DuckDB twin of the 60-bit md5 simhash signature — shared by the
# exact-group and Hamming-k oracles.
_SQL_SIMHASH_SIGS = r"""
words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
    FROM documents)
), hx AS (
  SELECT doc_id, md5(w) AS h FROM words
), votes AS (
  SELECT doc_id, i,
         sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1)
                        >> (3 - (i % 4))) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hx CROSS JOIN (SELECT CAST(unnest(range(60)) AS INT) AS i)
  GROUP BY doc_id, i
), sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << (59 - i)) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
"""


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance <= 3 SimHash near-dup pairs via the banded
    bucket-join (functions/dedup.py:simhash_near_pairs) over the
    engine-agnostic 60-bit md5 signature: 4 chunks of 15 bits,
    equi-join per chunk, exact bit_count(xor) post-filter."""
    from hetman_spark.functions.dedup import simhash_md5, simhash_near_pairs

    d = _tp(spark, sf_dir, "documents")
    # max_bucket_size=None: the DuckDB twin has no hot-bucket cap, so
    # the oracle-facing entry must not either — with the library
    # default (1000) the two sides agree only while no (chunk, value)
    # bucket exceeds the cap, and would silently diverge at a larger
    # SF (r3 ADVICE).  The capped form stays the production default in
    # functions/dedup.py.
    return simhash_near_pairs(
        d, id_col="doc_id", k=3, signature=simhash_md5(F.col("text")), bits=60,
        max_bucket_size=None,
    )


SQL_SIMHASH_NEAR_PAIRS = f"""
WITH {_SQL_SIMHASH_SIGS},
banded AS (
  SELECT doc_id, simhash, c AS chunk, (simhash >> (c * 15)) & 32767 AS cv
  FROM sigs CROSS JOIN (SELECT CAST(unnest(range(4)) AS INT) AS c)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM banded a JOIN banded b ON a.chunk = b.chunk AND a.cv = b.cv
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# ANN with integer-exact arithmetic: embeddings quantized (floor(x*1000)
# as BIGINT), hyperplanes md5-derived integers — cell assignment, LSH
# buckets and similarity ranks are bit-identical across engines (float
# dot products near a sign boundary are NOT; see similarity.py).
# ---------------------------------------------------------------------------

_QSCALE = 1000


def _sql_quantized(vec: str) -> str:
    return (
        f"list_transform(CAST({vec} AS DOUBLE[]), "
        f"x -> CAST(floor(x * {_QSCALE}) AS BIGINT))"
    )


def _sql_cell(planes: int, seed: int = 42, qv: str = "vq") -> str:
    """DuckDB twin of similarity.hyperplane_code_int over a quantized
    list column `qv`."""
    terms = []
    for p in range(planes):
        comp = (
            f"((CAST(('0x' || substr(md5('{seed}-{p}-' || CAST(d AS VARCHAR)), 1, 6)) "
            f"AS BIGINT) % 2001) - 1000)"
        )
        dot = (
            f"CAST(list_sum(list_transform(range(0, len({qv})), "
            f"d -> {qv}[d+1] * {comp})) AS BIGINT)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def q_embedding_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup candidate pairs over the embeddings,
    bucketed by similarity.hyperplane_code_int (md5-derived integer
    planes, so DuckDB recomputes every bucket exactly): one bucketed
    equi-join, never all-pairs."""
    from hetman_spark.functions.similarity import hyperplane_code_int

    e = _t(spark, sf_dir, "embeddings")
    dim = e.select(F.size("embedding")).first()[0]
    # bucket pass: parallel scan (single-file scan = one task otherwise,
    # guide §2.5 input skew) + localCheckpoint of the tiny (id, bucket)
    # table — referenced by BOTH sides of the self-join, it would
    # otherwise run the 12-plane integer-dot pass twice (no plan CSE
    # across DataFrame references, the minhash_lsh_candidates lesson).
    bucketed = _tp(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        hyperplane_code_int(F.col("embedding"), planes=12, dim=dim).alias("bucket"),
    ).localCheckpoint(eager=True)
    a, b = bucketed.alias("l"), bucketed.alias("r")
    return (
        a.join(b, "bucket")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


SQL_EMBEDDING_LSH = f"""
WITH qe AS (
  SELECT vec_id, {_sql_quantized("embedding")} AS vq FROM embeddings
), bucketed AS (
  SELECT vec_id AS id, {_sql_cell(12)} AS bucket FROM qe
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket
WHERE a.id < b.id
"""


def q_embedding_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERIFY stage after hyperplane LSH (the embedding analog of
    ngram_jaccard_pairs after minhash banding): for each candidate pair
    join the quantized vectors back and emit the exact integer dot
    product plus both squared norms — everything a threshold pass
    needs to compute cosine >= t as the integer inequality
    dot^2 * 2^2k >= t^2 * n2a * n2b without ever leaving BIGINT.
    Scale shape: candidate-only joins (the pair list is tiny relative
    to the corpus), vectors shuffle only for paired ids."""
    from hetman_spark.functions.similarity import (
        hyperplane_code_int,
        int_dot_sim,
        quantize_vec,
    )

    e = _t(spark, sf_dir, "embeddings")
    dim = e.select(F.size("embedding")).first()[0]
    # Decide with small rows, move big rows once (guide §8): the
    # bucket self-join and the pair dedup carry IDS ONLY — the old
    # plan rode vq_a/vq_b through the join and the dropDuplicates
    # shuffle for every bucket-mate pair (r5 VERDICT What's-wrong #1:
    # a skewed bucket shuffles k^2 full vectors at 100 TB).  The
    # quantized vectors join back per side AFTER the dedup, keyed on
    # the paired ids — exactly the DuckDB twin's shape.  The (id, vq,
    # bucket) projection is checkpointed once: it feeds both pair
    # sides and both vector joins (4 references, no plan CSE), and the
    # parallel scan replaces the single-task single-file read.
    qv = _tp(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        quantize_vec(F.col("embedding")).alias("vq"),
        hyperplane_code_int(F.col("embedding"), planes=12, dim=dim).alias("bucket"),
    ).localCheckpoint(eager=True)
    ids = qv.select("id", "bucket")
    a, b = ids.alias("l"), ids.alias("r")
    id_pairs = (
        a.join(b, "bucket")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = qv.select("id", "vq")
    pairs = (
        id_pairs
        .join(vecs.withColumnRenamed("id", "id_a").withColumnRenamed("vq", "vq_a"), "id_a")
        .join(vecs.withColumnRenamed("id", "id_b").withColumnRenamed("vq", "vq_b"), "id_b")
    )
    norm2 = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    return pairs.select(
        "id_a",
        "id_b",
        int_dot_sim(F.col("vq_a"), F.col("vq_b")).alias("dot_q"),
        norm2(F.col("vq_a")).alias("norm2_a"),
        norm2(F.col("vq_b")).alias("norm2_b"),
    )


SQL_EMBEDDING_VERIFIED = f"""
WITH qe AS (
  SELECT vec_id, {_sql_quantized("embedding")} AS vq FROM embeddings
), bucketed AS (
  SELECT vec_id AS id, vq, {_sql_cell(12)} AS bucket FROM qe
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket
  WHERE a.id < b.id
)
SELECT p.id_a, p.id_b,
       CAST(list_sum(list_transform(range(1, len(x.vq) + 1),
                     j -> x.vq[j] * y.vq[j])) AS BIGINT) AS dot_q,
       CAST(list_sum(list_transform(x.vq, v -> v * v)) AS BIGINT) AS norm2_a,
       CAST(list_sum(list_transform(y.vq, v -> v * v)) AS BIGINT) AS norm2_b
FROM pairs p
JOIN qe x ON x.vec_id = p.id_a
JOIN qe y ON y.vec_id = p.id_b
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe, integer-exact: cells + quantized-dot ranking
    (similarity.ivf_topk_quantized)."""
    from hetman_spark.functions.similarity import ivf_topk_quantized

    e = _t(spark, sf_dir, "embeddings")
    dim = e.select(F.size("embedding")).first()[0]
    queries = e.orderBy("vec_id").limit(3)
    return ivf_topk_quantized(
        _tp(spark, sf_dir, "embeddings"), queries, k=5, dim=dim
    ).select(
        "query_id", "neighbor_id", "dot_q", "rank"
    )


SQL_IVF_TOPK = f"""
WITH qe AS (
  SELECT vec_id, {_sql_quantized("embedding")} AS vq FROM embeddings
), cells AS (
  SELECT vec_id, vq, {_sql_cell(8)} AS cell FROM qe
), queries AS (
  SELECT * FROM cells ORDER BY vec_id LIMIT 3
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(0, len(c.vq)),
              d -> c.vq[d+1] * q.vq[d+1])) AS BIGINT) AS dot_q
  FROM cells c JOIN queries q ON c.cell = q.cell AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, dot_q, rank FROM (
  SELECT query_id, neighbor_id, dot_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_ivf_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: each query probes its own cell + the 2
    lowest-|dot| plane flips (similarity.ivf_topk_multiprobe) —
    strictly higher recall than q_ivf_topk at the same index layout."""
    from hetman_spark.functions.similarity import ivf_topk_multiprobe

    e = _t(spark, sf_dir, "embeddings")
    dim = e.select(F.size("embedding")).first()[0]
    queries = e.orderBy("vec_id").limit(3)
    return ivf_topk_multiprobe(
        _tp(spark, sf_dir, "embeddings"), queries, k=5, planes=8, nprobe=3, dim=dim
    ).select(
        "query_id", "neighbor_id", "dot_q", "rank"
    )


def _sql_plane_dots(planes: int, seed: int = 42, qv: str = "vq") -> str:
    """DuckDB list literal of the per-plane integer dots — the twin of
    similarity.plane_dots_int over a quantized list column `qv`."""
    dots = []
    for p in range(planes):
        comp = (
            f"((CAST(('0x' || substr(md5('{seed}-{p}-' || CAST(d AS VARCHAR)), 1, 6)) "
            f"AS BIGINT) % 2001) - 1000)"
        )
        dots.append(
            f"CAST(list_sum(list_transform(range(0, len({qv})), "
            f"d -> {qv}[d+1] * {comp})) AS BIGINT)"
        )
    return "[" + ", ".join(dots) + "]"


def _sql_cell_from_dots(planes: int, dts: str = "dts") -> str:
    terms = [
        f"(CASE WHEN {dts}[{p + 1}] >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(planes)
    ]
    return "(" + " + ".join(terms) + ")"


SQL_IVF_TOPK_MULTIPROBE = f"""
WITH qe AS (
  SELECT vec_id, {_sql_quantized("embedding")} AS vq FROM embeddings
), pd AS (
  SELECT vec_id, vq, {_sql_plane_dots(8)} AS dts FROM qe
), cells AS (
  SELECT vec_id, vq, dts, {_sql_cell_from_dots(8)} AS cell FROM pd
), queries AS (
  SELECT * FROM cells ORDER BY vec_id LIMIT 3
), probes AS (
  SELECT vec_id, vq,
         unnest(list_distinct(list_prepend(cell,
           list_transform(
             list_slice(
               list_sort(list_transform(range(0, 8),
                         p -> {{'a': abs(dts[p+1]), 'p': p}})),
               1, 2),
             s -> xor(cell, CAST(1 AS BIGINT) << s.p))))) AS cell
  FROM queries
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(0, len(c.vq)),
              d -> c.vq[d+1] * q.vq[d+1])) AS BIGINT) AS dot_q
  FROM cells c JOIN probes q ON c.cell = q.cell AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, dot_q, rank FROM (
  SELECT query_id, neighbor_id, dot_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# k-means IVF centroid training, integer-exact: Lloyd's with fixed
# iterations/init/tiebreaks over quantized vectors — a fully-oracled
# ITERATIVE algorithm (the class usually stuck with rows-only checks).
# The DuckDB twin unrolls the iterations as CTEs.
# ---------------------------------------------------------------------------

_KM_K, _KM_ITERS, _KM_DIM = 8, 3, 64

# Memoized k-means centroids per (sf_dir, k, iters, dim): training is
# deterministic integer arithmetic (same trajectory in any session or
# engine — that's what the unrolled-CTE oracles prove), so the trained
# constants are a pure function of the inputs and safe to reuse across
# the kmeans_clusters / ivf_topk_trained / semdedup entries instead of
# re-running 3 Lloyd iterations (~4 s) in each.  Plain Python lists —
# nothing session-scoped is cached.
_KM_CENT_CACHE: dict[tuple, list[list[int]]] = {}


def _trained_centroids(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    key = (sf_dir, _KM_K, _KM_ITERS, _KM_DIM)
    if key not in _KM_CENT_CACHE:
        from hetman_spark.functions.similarity import train_kmeans_centroids

        e = _tp(spark, sf_dir, "embeddings")
        _, cents = train_kmeans_centroids(
            e, _KM_K, _KM_ITERS, dim=_KM_DIM
        )
        _KM_CENT_CACHE[key] = cents
    return _KM_CENT_CACHE[key]


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster stats of integer-exact k-means over the embeddings
    table (similarity.kmeans_quantized: deterministic init = k lowest
    vec_ids, argmin ties to lowest centroid index, floor(sum/count)
    centroid updates — identical trajectories on any engine/cluster)."""
    from hetman_spark.functions.similarity import kmeans_quantized

    e = _tp(spark, sf_dir, "embeddings")
    a = kmeans_quantized(
        e, k=_KM_K, iters=_KM_ITERS, dim=_KM_DIM,
        centroids=_trained_centroids(spark, sf_dir),
    )
    return a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("dist_q").alias("inertia_q"),
    )


def _sql_kmeans_dist(dim: int, qa: str = "q", ca: str = "c") -> str:
    """Squared quantized L2 distance between {qa}.qv and {ca}.cent —
    the DuckDB twin of similarity.centroid_dist_array's per-centroid
    term."""
    return (
        f"CAST(list_sum(list_transform(range(1, {dim} + 1), "
        f"j -> ({qa}.qv[j] - {ca}.cent[j]) * ({qa}.qv[j] - {ca}.cent[j]))) AS BIGINT)"
    )


def _sql_kmeans_parts(k: int, iters: int, dim: int) -> list[str]:
    """The shared centroid-training CTE chain (DuckDB twin of
    similarity.train_kmeans_centroids, iterations UNROLLED): c0 = init
    centroids, then per round i an assignment CTE a{i} (argmin over a
    cross join with the k-row centroid table, ties by centroid index)
    and an update CTE c{i+1} (floor-mean per dim; empty clusters keep
    the old centroid via LEFT JOIN + COALESCE).  The trained centroids
    are c{iters}."""
    dist = _sql_kmeans_dist(dim)
    parts = [
        f"q AS (SELECT vec_id, {_sql_quantized('embedding')} AS qv FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ci, qv AS cent
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k}))""",
    ]
    for i in range(iters):
        parts.append(f"""a{i} AS (
  SELECT vec_id, qv, ci, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d FROM q CROSS JOIN c{i} c))
  WHERE rn = 1)""")
        parts.append(f"""s{i} AS (
  SELECT ci, t.j AS dimx, sum(qv[t.j + 1]) AS s, count(*) AS n
  FROM a{i} CROSS JOIN (SELECT CAST(unnest(range({dim})) AS BIGINT) AS j) t
  GROUP BY ci, t.j)""")
        parts.append(f"""c{i + 1} AS (
  SELECT c.ci,
         list(COALESCE(CAST(floor(CAST(s.s AS DOUBLE) / s.n) AS BIGINT),
                       c.cent[t.j + 1]) ORDER BY t.j) AS cent
  FROM c{i} c
  CROSS JOIN (SELECT CAST(unnest(range({dim})) AS BIGINT) AS j) t
  LEFT JOIN s{i} s ON s.ci = c.ci AND s.dimx = t.j
  GROUP BY c.ci)""")
    return parts


def _sql_kmeans(k: int, iters: int, dim: int) -> str:
    """DuckDB twin of kmeans_quantized: the shared training CTEs plus
    a final argmin assignment against the trained centroids."""
    dist = _sql_kmeans_dist(dim)
    parts = _sql_kmeans_parts(k, iters, dim)
    # final assignment against the last centroids, aggregated
    parts.append(f"""fin AS (
  SELECT vec_id, ci, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, c.ci, {dist} AS d FROM q CROSS JOIN c{iters} c))
  WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(parts) + """
SELECT CAST(ci AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(d) AS BIGINT) AS inertia_q
FROM fin GROUP BY ci
"""
    )


SQL_KMEANS_CLUSTERS = _sql_kmeans(_KM_K, _KM_ITERS, _KM_DIM)


_IVT_NPROBE, _IVT_TOPK, _IVT_NQ = 2, 5, 3


def q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF index end-to-end (similarity.ivf_topk_trained):
    k-means-TRAINED centroids -> map-side corpus assignment -> nprobe
    nearest-cell probe -> integer-dot top-k.  Same training constants
    as kmeans_clusters, so the DuckDB twin reuses the unrolled-CTE
    centroid math verbatim."""
    from hetman_spark.functions.similarity import ivf_topk_trained

    e = _t(spark, sf_dir, "embeddings")
    queries = e.orderBy("vec_id").limit(_IVT_NQ)
    return ivf_topk_trained(
        _tp(spark, sf_dir, "embeddings"), queries,
        k=_IVT_TOPK, n_cells=_KM_K, iters=_KM_ITERS,
        nprobe=_IVT_NPROBE, dim=_KM_DIM,
        centroids=_trained_centroids(spark, sf_dir),
    ).select("query_id", "neighbor_id", "dot_q", "rank")


def _sql_ivf_trained(k: int, iters: int, dim: int, nprobe: int,
                     topk: int, nq: int) -> str:
    """DuckDB twin of ivf_topk_trained: the shared k-means training
    CTEs (trained centroids = c{iters}), then corpus argmin assignment,
    query nprobe-nearest probe, and integer-dot top-k."""
    dist = _sql_kmeans_dist(dim)
    parts = _sql_kmeans_parts(k, iters, dim)
    parts.append(f"""asn AS (
  SELECT vec_id, qv, ci AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d FROM q CROSS JOIN c{iters} c))
  WHERE rn = 1)""")
    parts.append(f"""qs AS (
  SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {nq})""")
    parts.append(f"""probes AS (
  SELECT vec_id, qv, ci AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d FROM qs q CROSS JOIN c{iters} c))
  WHERE rn <= {nprobe})""")
    parts.append(f"""scored AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, {dim} + 1),
              j -> a.qv[j] * p.qv[j])) AS BIGINT) AS dot_q
  FROM asn a JOIN probes p ON a.cell = p.cell AND a.vec_id != p.vec_id)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT query_id, neighbor_id, dot_q, rank FROM (
  SELECT query_id, neighbor_id, dot_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {topk}
"""
    )


SQL_IVF_TOPK_TRAINED = _sql_ivf_trained(
    _KM_K, _KM_ITERS, _KM_DIM, _IVT_NPROBE, _IVT_TOPK, _IVT_NQ
)


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic dedup = k-means clusters ->
# within-cluster cosine>=tau pairs -> connected components -> keep the
# member farthest from its centroid.  The paper's point is that the
# clusters BOUND the quadratic; everything else reuses oracled pieces.
# ---------------------------------------------------------------------------

_SD_TAU_NUM, _SD_TAU_DEN = 4, 25  # tau = 0.4


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity.semdedup over the embeddings table with the same
    k-means constants as kmeans_clusters, so the DuckDB twin reuses
    the unrolled-CTE training math and re-derives pairs, transitive
    closure (RECURSIVE CTE), and the max-distance keeper rule
    independently."""
    from hetman_spark.functions.similarity import semdedup

    e = _tp(spark, sf_dir, "embeddings")
    return semdedup(
        e, k=_KM_K, iters=_KM_ITERS, tau_num=_SD_TAU_NUM,
        tau_den=_SD_TAU_DEN, dim=_KM_DIM,
        centroids=_trained_centroids(spark, sf_dir),
    )


def _sql_semdedup(k: int, iters: int, dim: int, tau_num: int,
                  tau_den: int) -> str:
    """DuckDB twin of similarity.semdedup: shared k-means CTEs, argmin
    assignment WITH distance, within-cluster integer-cosine pairs,
    recursive transitive closure, keeper = max dist_q (ties min id)."""
    dist = _sql_kmeans_dist(dim)
    parts = _sql_kmeans_parts(k, iters, dim)
    parts.append(f"""asn AS (
  SELECT vec_id, qv, ci AS cell, d,
         CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS n2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d FROM q CROSS JOIN c{iters} c))
  WHERE rn = 1)""")
    parts.append(f"""sd_pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_sum(list_transform(range(1, {dim} + 1),
                j -> a.qv[j] * b.qv[j])) AS BIGINT) AS dot_q,
           a.n2 AS n2_a, b.n2 AS n2_b
    FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id)
  WHERE dot_q > 0 AND dot_q * dot_q * {tau_den} >= {tau_num} * n2_a * n2_b)""")
    parts.append("""sd_edges AS (
  SELECT id_a AS v, id_b AS u FROM sd_pairs
  UNION
  SELECT id_b AS v, id_a AS u FROM sd_pairs)""")
    parts.append("""sd_reach(v, r) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM sd_edges)
  UNION
  SELECT e.v, sd_reach.r FROM sd_reach JOIN sd_edges e ON e.u = sd_reach.v)""")
    parts.append("""sd_comp AS (
  SELECT v, min(r) AS component FROM sd_reach GROUP BY v)""")
    return (
        "WITH RECURSIVE " + ",\n".join(parts) + """
SELECT vec_id, cluster_id, component, CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END
       AS INTEGER) AS keep
FROM (
  SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cluster_id,
         CAST(COALESCE(c.component, a.vec_id) AS BIGINT) AS component,
         row_number() OVER (
           PARTITION BY COALESCE(c.component, a.vec_id)
           ORDER BY a.d DESC, a.vec_id) AS rn
  FROM asn a LEFT JOIN sd_comp c ON c.v = a.vec_id)
"""
    )


SQL_SEMDEDUP = _sql_semdedup(
    _KM_K, _KM_ITERS, _KM_DIM, _SD_TAU_NUM, _SD_TAU_DEN
)


# ---------------------------------------------------------------------------
# Training-data chunking: split each document into fixed-size token
# windows with stride (the context-window preparation step every LLM
# dataloader runs before packing).  Pure per-row Catalyst: split +
# sequence + explode + dynamic slice — no UDF; at 100 TB the explode
# happens inside the scan stage and only (doc_id, chunk) rows continue.
# ---------------------------------------------------------------------------

_CHUNK_C, _CHUNK_S = 50, 40  # window 50 tokens, stride 40 (overlap 10)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document: chunk i covers
    tokens [i*stride, i*stride + size); the last window is short
    rather than dropped (training pipelines pad it).  n_chunks =
    1 + ceil((n - size)/stride) for n > size else 1 — integer-exact
    on both engines (positive operands, so Spark's truncating div and
    DuckDB's flooring // agree)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    c, s = F.lit(_CHUNK_C).cast("long"), F.lit(_CHUNK_S).cast("long")
    n_chunks = F.when(n <= c, F.lit(1).cast("long")).otherwise(
        F.lit(1) + F.floor((n - c + s - F.lit(1)) / s)
    ).cast("long")
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_ix"
        ),
    )
    chunk = F.slice(
        F.col("toks"), (F.col("chunk_ix") * _CHUNK_S + 1).cast("int"), _CHUNK_C
    )
    return base.select(
        "doc_id",
        "chunk_ix",
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


SQL_DOC_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), fan AS (
  SELECT doc_id, tk,
         CAST(unnest(range(CASE WHEN n <= {_CHUNK_C} THEN 1
              ELSE 1 + (n - {_CHUNK_C} + {_CHUNK_S} - 1) // {_CHUNK_S} END))
              AS BIGINT) AS chunk_ix
  FROM toks
)
SELECT doc_id, chunk_ix,
       CAST(len(list_slice(tk, chunk_ix * {_CHUNK_S} + 1,
                           chunk_ix * {_CHUNK_S} + {_CHUNK_C})) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(tk, chunk_ix * {_CHUNK_S} + 1,
                                  chunk_ix * {_CHUNK_S} + {_CHUNK_C}), ' ')
         AS chunk_text
FROM fan
"""


# ---------------------------------------------------------------------------
# Sequence packing, concat-and-cut: documents are concatenated in a
# deterministic order per lang and cut every B tokens (the GPT-style
# dataloader packing).  Each doc is assigned to the bin its FIRST
# token lands in; the entry reports per-bin composition (docs starting
# there, their token mass) — the packing manifest a trainer shards on.
# ---------------------------------------------------------------------------

_PACK_B = 256


def q_sequence_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, bin) packing manifest: deterministic concat order =
    (md5(doc_id), doc_id); cumulative-tokens-before // B = bin id.
    Integer-exact (floor of positive div agrees across engines).

    Scale note: the per-lang running sum is a single sort per lang
    here; the 100 TB shape is the standard two-phase prefix sum —
    per-partition token totals collected once, partition start offsets
    broadcast back, local cumsum within partitions (same decomposition
    documented for dsir_resample's global threshold)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = toks.select(
        "lang",
        "n_tok",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / F.lit(_PACK_B)
        ).alias("bin_id"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


SQL_SEQUENCE_PACK_BINS = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents
), binned AS (
  SELECT lang, n_tok,
         CAST(floor(COALESCE(sum(n_tok) OVER (
             PARTITION BY lang ORDER BY ord_key, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_PACK_B}) AS BIGINT) AS bin_id
  FROM toks
)
SELECT lang, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM binned GROUP BY lang, bin_id
"""


# ---------------------------------------------------------------------------
# Target-mix rebalancing (the data-mixing table of every corpus
# recipe): given per-source target WEIGHTS, water-fill — find the
# largest integer T with T*w_s <= avail_s for every source, then admit
# exactly T*w_s docs per source in deterministic md5 order.  The
# resampled corpus hits the exact target ratio, bounded by the
# scarcest source (no source oversampled).
# ---------------------------------------------------------------------------


def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling mix rebalance over documents.source with derived
    weights w = (source number % 4) + 1 (the fixture's sources are
    deliberately uniform, so constant weights would be a no-op).
    T = min_s floor(avail_s / w_s) rides as a broadcast 1-row cross
    join — no driver collect; admission is a per-source window on
    md5(doc_id).  Scale shape: one tiny groupBy + broadcast scalar;
    at 100 TB the rank-window admission is replaced by md5-threshold
    admission at rate quota_s/avail_s (functions/sample.py) — no
    per-source sort, same determinism, ±binomial jitter instead of
    an exact quota."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    weight = (
        F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("long") % 4 + 1
    )
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_avail"))
    per = per.select(
        "source", "n_avail", weight.alias("weight")
    )
    tmin = per.select(
        F.min(F.floor(F.col("n_avail") / F.col("weight"))).alias("t")
    )
    quotas = per.crossJoin(F.broadcast(tmin)).select(
        "source",
        "n_avail",
        "weight",
        (F.col("t") * F.col("weight")).cast("long").alias("quota"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w).cast("long").alias("rk")
    )
    return ranked.join(F.broadcast(quotas), "source").where(
        F.col("rk") <= F.col("quota")
    ).select("doc_id", "source", "rk", "quota")


SQL_MIX_REBALANCE = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_avail,
         CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) % 4 + 1
           AS weight
  FROM documents GROUP BY source
), tmin AS (
  SELECT min(n_avail // weight) AS t FROM per
), quotas AS (
  SELECT source, n_avail, weight, CAST(t * weight AS BIGINT) AS quota
  FROM per CROSS JOIN tmin
), ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
  FROM documents
)
SELECT r.doc_id, r.source, r.rk, q.quota
FROM ranked r JOIN quotas q ON r.source = q.source
WHERE r.rk <= q.quota
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
# document sketch): from the positional k-gram hash stream, select the
# MINIMUM hash in every sliding window of w grams (ties -> rightmost),
# then dedupe selections.  Guarantees: any shared substring of length
# >= w+k-1 contributes at least one shared fingerprint, and selected
# density is ~2/(w+1) — the local-algorithm properties that make the
# sketch robust for partial-overlap detection where whole-doc MinHash
# is not (MinHash sketches SET similarity; winnowing localizes).
# ---------------------------------------------------------------------------

_WN_K, _WN_W = 3, 4  # gram size, window size


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing over word 3-grams, window 4, as a PURE per-row array
    computation — zero shuffles: window selection and the dedup of
    adjacent windows that chose the same gram are both local to one
    document, so the old explode-to-(doc, win)-rows -> groupBy ->
    distinct plan paid two corpus-token-scale shuffles for work the
    row can do itself (guide §2.4 remove shuffles outright).  The
    (h, -pos) struct array is built ONCE per row (single reference, so
    each gram is md5-hashed exactly once — the r5 plan-CSE lesson
    respected, now without the fan-out), each sliding window takes
    array_min over a slice (min h, ties rightmost), and array_distinct
    replaces the pair-selection dedup.  Rows out: (doc_id, pos, fp).

    Docs of fewer than k+w-1 words have no full window and select
    nothing, as in the DuckDB oracle (test_winnow_fingerprints_guarantees
    pins 0-, 1-, 2- and 4-word docs against it).  The selection equals
    the shuffle-first form's on the sf fixtures
    (test_winnow_array_form_matches_shuffle_first), which hold no such
    short doc: on a 3- to 5-word doc the shuffle-first form emitted a
    partial-window fingerprint."""
    d = _tp(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_grams = F.size(words) - _WN_K + 1
    # a doc of fewer than k words has no gram; without the guard the
    # sequence descends and slice() fails on start 0
    gram_structs = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(0), n_grams - 1),
            _gram_struct_md5_factory(words, _WN_K),
        ),
    ).otherwise(F.array().cast("array<struct<h:string,np:bigint>>"))
    # TWO projections, deliberately: the window-selection lambda below
    # must reference the hashed-gram array as a COLUMN, not capture the
    # md5-building expression — a captured expression is re-evaluated
    # on every lambda invocation (HOFs are interpreted, no
    # loop-invariant hoisting: measured 63 s vs 4.8 s at sf1.0).  The
    # second reference (size(gs) in the n_win guard) is what keeps
    # CollapseProject from inlining the non-cheap array back into the
    # lambda (used-more-than-once rule).
    step = d.select("doc_id", gram_structs.alias("gs"))
    n_win = F.size(F.col("gs")) - _WN_W + 1
    picks = F.when(
        n_win > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_win - 1),
                _window_min_factory(F.col("gs"), _WN_W),
            )
        ),
    ).otherwise(F.array().cast("array<struct<h:string,np:bigint>>"))
    return step.select("doc_id", F.explode(picks).alias("s")).select(
        "doc_id",
        (-F.col("s.np")).cast("long").alias("pos"),
        F.col("s.h").alias("fp"),
    )


def _gram_struct_md5_factory(words, k: int):
    """(index) -> struct<h: md5 of gram at index, np: -index> — the
    (hash, negated position) sort key whose lexicographic MIN is
    'smallest hash, ties rightmost' (closure factory per CLAUDE.md)."""
    def g(i):
        return F.struct(
            F.md5(F.concat_ws(" ", F.slice(words, i + 1, k))).alias("h"),
            (-i).cast("bigint").alias("np"),
        )

    return g


def _window_min_factory(gram_structs, w: int):
    """(window index) -> array_min over the w-slice of the gram-struct
    array: the winnowing selection for one sliding window."""
    def sel(i):
        return F.array_min(F.slice(gram_structs, i + 1, w))

    return sel


SQL_WINNOW_FINGERPRINTS = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id,
         CAST(t.i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(w, t.i + 1, t.i + {_WN_K}), ' ')) AS h,
         CAST(len(w) - {_WN_K} + 1 AS BIGINT) AS n_grams
  FROM words
  CROSS JOIN LATERAL (SELECT unnest(range(len(w) - {_WN_K} + 1)) AS i) t
), fan AS (
  SELECT doc_id, pos, h, CAST(t.win AS BIGINT) AS win
  FROM grams
  CROSS JOIN LATERAL (
    SELECT unnest(range(greatest(0, pos - {_WN_W} + 1),
                        least(pos, n_grams - {_WN_W}) + 1)) AS win) t
  WHERE t.win >= 0
), sel AS (
  SELECT doc_id, pos, h,
         row_number() OVER (PARTITION BY doc_id, win
                            ORDER BY h, pos DESC) AS rn
  FROM fan
)
SELECT DISTINCT doc_id, pos, h AS fp FROM sel WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Unicode NFC normalization before dedup: web corpora mix precomposed
# (U+00E1) and decomposed (a + U+0301) encodings of the same visible
# text, and byte-keyed exact dedup misses those pairs.  Spark SQL has
# no normalize() built-in, so this is a LEGITIMATE Arrow pandas-UDF
# path — and Python's unicodedata applies the same Unicode tables as
# DuckDB's nfc_normalize, so the UDF output is fully value-hash
# oracled (the multimodal_features pattern: UDF, but deterministic
# and recomputable by the oracle engine).
# ---------------------------------------------------------------------------


def q_unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each doc fans out to a precomposed and a decomposed variant of
    its text ('a' -> U+00E1 vs 'a'+U+0301 — byte-distinct, visually
    identical); NFC normalization collapses them back: n_raw_forms=2
    but n_norm_forms=1 for every doc containing an 'a' (and 1/1 for
    docs without).  n_changed counts variants the normalizer actually
    rewrote (the decomposed one).  min_norm_md5 hashes the normal
    form itself: the counts read the same whether the normalizer
    composes (NFC) or decomposes (NFD), the hash does not.  Scale
    shape: the UDF is one Arrow-batched map pass inside the scan
    stage; only (doc_id, hash) pairs reach the aggregate shuffle."""
    from hetman_spark.functions.text import nfc_normalize_udf

    # plain scan on purpose (r6 A/B): the NFC pandas-UDF stage has tiny
    # per-task work here (100k short strings), and the repartitioned
    # form was slower and far noisier in single-rep runs (driver
    # protocol) than the single-task scan — 1.8 s stable vs 2-6 s.
    d = _t(spark, sf_dir, "documents")
    pre = F.replace(F.col("text"), F.lit("a"), F.lit("\u00e1"))
    dec = F.replace(F.col("text"), F.lit("a"), F.lit("a\u0301"))
    variants = d.select(
        "doc_id", F.explode(F.array(pre, dec)).alias("raw")
    )
    nfc = nfc_normalize_udf()
    normed = variants.select(
        "doc_id",
        F.md5(F.col("raw")).alias("raw_hash"),
        nfc(F.col("raw")).alias("norm"),
        "raw",
    )
    return normed.groupBy("doc_id").agg(
        F.countDistinct("raw_hash").alias("n_raw_forms"),
        F.countDistinct(F.md5(F.col("norm"))).alias("n_norm_forms"),
        F.sum(
            F.when(F.col("norm") != F.col("raw"), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_changed"),
        F.min(F.md5(F.col("norm"))).alias("min_norm_md5"),
    )


SQL_UNICODE_NFC_DEDUP = """
WITH variants AS (
  SELECT doc_id, unnest([replace(text, 'a', chr(225)),
                         replace(text, 'a', 'a' || chr(769))]) AS raw
  FROM documents
), normed AS (
  SELECT doc_id, md5(raw) AS raw_hash, nfc_normalize(raw) AS norm, raw
  FROM variants
)
SELECT doc_id,
       CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_forms,
       CAST(count(DISTINCT md5(norm)) AS BIGINT) AS n_norm_forms,
       CAST(sum(CASE WHEN norm != raw THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       min(md5(norm)) AS min_norm_md5
FROM normed GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# C4 line/page cleaning (Raffel et al. 2020 §2.2).  The documents
# fixture is single-line, so the entry derives a deterministic
# multi-line variant INSIDE the query (literal replace + CASE marker
# injection — byte-identical on both engines, the url_canonical_dedup
# derivation pattern); the operator itself is functions/text.py
# c4_line_filter, rule-by-rule pytest-covered on a constructed fixture.
# ---------------------------------------------------------------------------


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning over a derived multi-line corpus: ' data '/' value '
    /' query ' become sentence breaks ('.\\n'/'!\\n'/'?\\n'), and a
    deterministic doc_id subset gets a lorem-ipsum / javascript /
    curly-brace marker line appended so every page rule fires on real
    rows.  Output: per-doc line counts, the cleaned text, first-fail
    verdict."""
    from hetman_spark.functions.text import c4_line_filter

    d = _tp(spark, sf_dir, "documents")
    lined = F.replace(F.col("text"), F.lit(" data "), F.lit(".\n"))
    lined = F.replace(lined, F.lit(" value "), F.lit("!\n"))
    lined = F.replace(lined, F.lit(" query "), F.lit("?\n"))
    lined = (
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(lined, F.lit("\nlorem ipsum dolor sit.")),
        )
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat(lined, F.lit("\nplease enable javascript to view this page.")),
        )
        .when(
            F.col("doc_id") % 29 == 0,
            F.concat(lined, F.lit("\nfunction f() { return 1; }")),
        )
        .otherwise(lined)
    )
    s = c4_line_filter(lined)
    return d.select(
        "doc_id",
        s.getField("n_lines").alias("n_lines"),
        s.getField("n_kept").alias("n_kept"),
        s.getField("clean_text").alias("clean_text"),
        s.getField("verdict").alias("verdict"),
    )


SQL_C4_LINE_FILTER = """
WITH lined AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN base || chr(10) || 'lorem ipsum dolor sit.'
              WHEN doc_id % 23 = 0 THEN base || chr(10) || 'please enable javascript to view this page.'
              WHEN doc_id % 29 = 0 THEN base || chr(10) || 'function f() { return 1; }'
              ELSE base END AS t
  FROM (SELECT doc_id,
               replace(replace(replace(text,
                 ' data ', '.' || chr(10)),
                 ' value ', '!' || chr(10)),
                 ' query ', '?' || chr(10)) AS base
        FROM documents)
), kept AS (
  SELECT doc_id, t,
         len(string_split(t, chr(10))) AS n_lines,
         list_filter(string_split(t, chr(10)),
           l -> regexp_matches(l, '[.!?"]$')
                AND len(string_split_regex(trim(l), ' +')) >= 5
                AND NOT contains(lower(l), 'javascript')) AS kl
  FROM lined
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(kl) AS BIGINT) AS n_kept,
       CASE WHEN verdict = 'ok' THEN array_to_string(kl, chr(10)) END AS clean_text,
       verdict
FROM (
  SELECT *, CASE WHEN contains(t, '{') THEN 'brace'
                 WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem'
                 WHEN len(kl) < 3 THEN 'too_few_lines'
                 ELSE 'ok' END AS verdict
  FROM kept)
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level dedup (dedup.line_dedup — Wenzek et al. 2020)
    over the same derived multi-line corpus as c4_line_filter: drop
    every line whose normalized hash occurred earlier in the corpus
    (first occurrence by (doc_id, idx) survives) — the boilerplate
    pass doc-level dedup can't see."""
    from hetman_spark.functions.dedup import line_dedup

    d = _tp(spark, sf_dir, "documents")
    lined = F.replace(F.col("text"), F.lit(" data "), F.lit(".\n"))
    lined = F.replace(lined, F.lit(" value "), F.lit("!\n"))
    lined = F.replace(lined, F.lit(" query "), F.lit("?\n"))
    return line_dedup(d.select("doc_id", lined.alias("text")))


SQL_LINE_DEDUP = """
WITH lined AS (
  SELECT doc_id,
         string_split(replace(replace(replace(text,
           ' data ', '.' || chr(10)),
           ' value ', '!' || chr(10)),
           ' query ', '?' || chr(10)), chr(10)) AS ls
  FROM documents
), lines AS (
  SELECT doc_id, ls[t.i + 1] AS line, t.i AS idx
  FROM lined CROSS JOIN LATERAL (SELECT CAST(unnest(range(len(ls))) AS BIGINT) AS i) t
  WHERE trim(ls[t.i + 1]) != ''
), flagged AS (
  SELECT doc_id, idx, line,
         row_number() OVER (PARTITION BY md5(trim(lower(line)))
                            ORDER BY doc_id, idx) = 1 AS keep
  FROM lines
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx),
                '') AS clean_text
FROM flagged
GROUP BY doc_id
"""


_FNG_N, _FNG_MIN_DF = 3, 4


def q_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent n-gram mining — the boilerplate/template
    detector (the table a line- or span-dedup pass consults, and the
    "most common 3-grams" diagnostic of every corpus audit): every
    word 3-gram present in >= 4 distinct documents, with document
    frequency and total term frequency.

    Scale shape: one per-row gram expansion inside scan codegen
    (sequence + slice + concat_ws — no UDF), one (gram, doc_id)
    pre-distinct partial-agg, one groupBy(gram) rollup, filter on df
    — no sort, no driver state; output is the (tiny) high-df tail.
    At 100 TB the df >= threshold filter is exactly what keeps the
    result broadcastable back as a cleaning rule table."""
    from hetman_spark.functions.text import word_ngrams

    d = _tp(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(word_ngrams(F.col("text"), _FNG_N)).alias("g"),
    )
    per_doc = grams.groupBy("g", "doc_id").agg(F.count(F.lit(1)).alias("tf_doc"))
    return (
        per_doc.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf_doc").alias("tf"),
        )
        .where(F.col("df") >= _FNG_MIN_DF)
        .select(F.col("g").alias("gram"), "df", "tf")
    )


SQL_FREQUENT_NGRAMS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), grams AS (
  SELECT doc_id, ws[t.i] || ' ' || ws[t.i + 1] || ' ' || ws[t.i + 2] AS g
  FROM toks CROSS JOIN LATERAL
       (SELECT CAST(unnest(range(1, len(ws) - {_FNG_N - 2})) AS BIGINT) AS i) t
)
SELECT g AS gram,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS tf
FROM grams
GROUP BY g
HAVING count(DISTINCT doc_id) >= {_FNG_MIN_DF}
"""


# ---------------------------------------------------------------------------
# Multimodal feature extraction — the stub decoders are deterministic
# integer arithmetic over md5-derived payload bytes, so DuckDB can
# recompute width/height/channels from the SAME parquet bytes: the
# mapInPandas plumbing gets a full value-hash oracle without any codec
# library.
# ---------------------------------------------------------------------------

_MEDIA_ORACLE_PATH = "/tmp/hetman_spark_oracle_media"


_PQ_M, _PQ_KS, _PQ_ITERS, _PQ_NQ, _PQ_TOPK = 8, 8, 2, 3, 5


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (similarity.pq_topk — Jegou et
    al. 2011): per-subspace k-means codebooks trained integer-exact,
    corpus encoded to 8 codebook indexes/vector, queries scored by
    8 distance-table lookups instead of a 64-dim dot.  The memory-
    compression half of a 100 TB IVFADC index (compose with
    ivf_topk_trained's coarse cells for the pruning half)."""
    from hetman_spark.functions.similarity import pq_topk

    e = _tp(spark, sf_dir, "embeddings")
    queries = e.orderBy("vec_id").limit(_PQ_NQ)
    return pq_topk(
        e, queries, k=_PQ_TOPK, m_sub=_PQ_M, ks=_PQ_KS,
        iters=_PQ_ITERS, dim=_KM_DIM,
        codebooks=_trained_codebooks(spark, sf_dir),
    )


def _sql_pq_parts(
    m_sub: int, ks: int, iters: int, dim: int, src: str = "q"
) -> list[str]:
    """Per-subspace PQ training/encoding CTE chains (the
    _sql_kmeans_parts recipe parameterized by subspace): qs{m}
    subvector projections, c{m}_{i} centroid iterations, code{m}
    final encodings.  Expects a CTE `{src}(vec_id, qv)` upstream
    (src='rq' trains on the residual table for the by_residual
    variant)."""
    ds = dim // m_sub
    dist = _sql_kmeans_dist(ds)
    parts: list[str] = []
    for m in range(m_sub):
        lo, hi = m * ds + 1, (m + 1) * ds
        parts.append(
            f"qs{m} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM {src})"
        )
        parts.append(f"""c{m}_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ci, qv AS cent
  FROM (SELECT vec_id, qv FROM qs{m} ORDER BY vec_id LIMIT {ks}))""")
        for i in range(iters):
            parts.append(f"""a{m}_{i} AS (
  SELECT vec_id, qv, ci FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d
          FROM qs{m} q CROSS JOIN c{m}_{i} c))
  WHERE rn = 1)""")
            parts.append(f"""s{m}_{i} AS (
  SELECT ci, t.j AS dimx, sum(qv[t.j + 1]) AS s, count(*) AS n
  FROM a{m}_{i} CROSS JOIN (SELECT CAST(unnest(range({ds})) AS BIGINT) AS j) t
  GROUP BY ci, t.j)""")
            parts.append(f"""c{m}_{i + 1} AS (
  SELECT c.ci,
         list(COALESCE(CAST(floor(CAST(s.s AS DOUBLE) / s.n) AS BIGINT),
                       c.cent[t.j + 1]) ORDER BY t.j) AS cent
  FROM c{m}_{i} c
  CROSS JOIN (SELECT CAST(unnest(range({ds})) AS BIGINT) AS j) t
  LEFT JOIN s{m}_{i} s ON s.ci = c.ci AND s.dimx = t.j
  GROUP BY c.ci)""")
        parts.append(f"""code{m} AS (
  SELECT vec_id, ci FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, c.ci, {dist} AS d
          FROM qs{m} q CROSS JOIN c{m}_{iters} c))
  WHERE rn = 1)""")
    return parts


def _sql_pq_topk(m_sub: int, ks: int, iters: int, dim: int,
                 nq: int, topk: int) -> str:
    """DuckDB twin of pq_topk: per-subspace unrolled k-means training
    chains, final argmin encoding, and ADC scoring — subspace m's
    contribution to a (query, candidate) pair is the distance from
    the query's m-th subvector to the CENTROID the candidate's code
    names, which is exactly the distance-table lookup."""
    ds = dim // m_sub
    parts = [
        f"q AS (SELECT vec_id, {_sql_quantized('embedding')} AS qv FROM embeddings)",
    ]
    parts += _sql_pq_parts(m_sub, ks, iters, dim)
    parts.append(
        f"qsel AS (SELECT vec_id FROM q ORDER BY vec_id LIMIT {nq})"
    )
    dms = []
    for m in range(m_sub):
        parts.append(f"""dm{m} AS (
  SELECT qu.vec_id AS query_id, co.vec_id AS neighbor_id, {_sql_kmeans_dist(ds, 'qu', 'c')} AS d
  FROM code{m} co
  JOIN c{m}_{iters} c ON c.ci = co.ci
  CROSS JOIN (SELECT s.vec_id, s.qv FROM qs{m} s JOIN qsel ON qsel.vec_id = s.vec_id) qu)""")
        dms.append(f"SELECT * FROM dm{m}")
    parts.append(f"""adc AS (
  SELECT query_id, neighbor_id, CAST(sum(d) AS BIGINT) AS adc_dist
  FROM ({' UNION ALL '.join(dms)})
  WHERE query_id != neighbor_id
  GROUP BY query_id, neighbor_id)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
  FROM adc)
WHERE rank <= {topk}
"""
    )


SQL_PQ_TOPK = _sql_pq_topk(_PQ_M, _PQ_KS, _PQ_ITERS, _KM_DIM, _PQ_NQ, _PQ_TOPK)


# Memoized PQ codebooks, same argument as _KM_CENT_CACHE: deterministic
# integer training => a pure function of (sf_dir, m, ks, iters, dim).
_PQ_CB_CACHE: dict[tuple, list[list[list[int]]]] = {}


def _trained_codebooks(spark: SparkSession, sf_dir: str):
    key = (sf_dir, _PQ_M, _PQ_KS, _PQ_ITERS, _KM_DIM)
    if key not in _PQ_CB_CACHE:
        from hetman_spark.functions.similarity import pq_train_codebooks

        e = _tp(spark, sf_dir, "embeddings")
        _, cb = pq_train_codebooks(
            e, m_sub=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS, dim=_KM_DIM
        )
        _PQ_CB_CACHE[key] = cb
    return _PQ_CB_CACHE[key]


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF+PQ index (similarity.ivfpq_topk — Jegou et
    al.'s IVFADC structure, no-residual variant): trained coarse cells
    prune the corpus to nprobe cells per query, PQ codes + ADC tables
    replace the full-dim dot.  Reuses BOTH memoized constant families
    (the kmeans_clusters centroids and the pq_topk codebooks), so the
    DuckDB twin is exactly the union of their unrolled-CTE training
    chains plus a cell-pruned ADC join."""
    from hetman_spark.functions.similarity import ivfpq_topk

    e = _tp(spark, sf_dir, "embeddings")
    queries = e.orderBy("vec_id").limit(_IVT_NQ)
    return ivfpq_topk(
        e, queries, k=_IVT_TOPK, n_cells=_KM_K, km_iters=_KM_ITERS,
        nprobe=_IVT_NPROBE, m_sub=_PQ_M, ks=_PQ_KS, pq_iters=_PQ_ITERS,
        dim=_KM_DIM,
        centroids=_trained_centroids(spark, sf_dir),
        codebooks=_trained_codebooks(spark, sf_dir),
    )


def _sql_ivfpq(k_cells: int, km_iters: int, dim: int, m_sub: int,
               ks: int, pq_iters: int, nprobe: int, nq: int,
               topk: int) -> str:
    """DuckDB twin of ivfpq_topk: the kmeans cell-training CTEs and
    the per-subspace PQ CTEs share one corpus projection `q`; corpus
    rows get a cell (argmin vs c{km_iters}) and per-subspace codes;
    queries probe nprobe cells; ADC contributions join candidate codes
    to trained centroids, restricted to cell-matched pairs."""
    dist = _sql_kmeans_dist(dim)
    ds = dim // m_sub
    parts = _sql_kmeans_parts(k_cells, km_iters, dim)
    parts += _sql_pq_parts(m_sub, ks, pq_iters, dim)
    parts.append(f"""asn AS (
  SELECT vec_id, ci AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, c.ci, {dist} AS d FROM q CROSS JOIN c{km_iters} c))
  WHERE rn = 1)""")
    parts.append(f"""qsel AS (
  SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {nq})""")
    parts.append(f"""probes AS (
  SELECT vec_id, ci AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d
          FROM qsel q CROSS JOIN c{km_iters} c))
  WHERE rn <= {nprobe})""")
    parts.append("""cands AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM asn a JOIN probes p ON a.cell = p.cell AND a.vec_id != p.vec_id)""")
    dms = []
    for m in range(m_sub):
        parts.append(f"""dm{m} AS (
  SELECT cd.query_id, cd.neighbor_id, {_sql_kmeans_dist(ds, 'qu', 'c')} AS d
  FROM cands cd
  JOIN code{m} co ON co.vec_id = cd.neighbor_id
  JOIN c{m}_{pq_iters} c ON c.ci = co.ci
  JOIN qs{m} qu ON qu.vec_id = cd.query_id)""")
        dms.append(f"SELECT * FROM dm{m}")
    parts.append(f"""adc AS (
  SELECT query_id, neighbor_id, CAST(sum(d) AS BIGINT) AS adc_dist
  FROM ({' UNION ALL '.join(dms)})
  GROUP BY query_id, neighbor_id)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
  FROM adc)
WHERE rank <= {topk}
"""
    )


SQL_IVFPQ_TOPK = _sql_ivfpq(
    _KM_K, _KM_ITERS, _KM_DIM, _PQ_M, _PQ_KS, _PQ_ITERS,
    _IVT_NPROBE, _IVT_NQ, _IVT_TOPK
)


# Memoized RESIDUAL-trained PQ codebooks (by_residual IVFADC): a pure
# function of (sf_dir, coarse-centroid params, PQ params) — the
# residual table is itself deterministic given the memoized centroids.
_PQR_CB_CACHE: dict[tuple, list[list[list[int]]]] = {}


def _trained_residual_codebooks(spark: SparkSession, sf_dir: str):
    key = (sf_dir, _KM_K, _KM_ITERS, _PQ_M, _PQ_KS, _PQ_ITERS, _KM_DIM)
    if key not in _PQR_CB_CACHE:
        from hetman_spark.functions.similarity import (
            pq_train_codebooks,
            residual_projection,
        )

        e = _tp(spark, sf_dir, "embeddings")
        resid = residual_projection(e, _trained_centroids(spark, sf_dir))
        _, cb = pq_train_codebooks(
            resid.select("vec_id", F.col("rv").alias("qv")),
            m_sub=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS,
            vec_col="qv", id_col="vec_id", dim=_KM_DIM, quantized=True,
        )
        _PQR_CB_CACHE[key] = cb
    return _PQR_CB_CACHE[key]


def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVFADC (similarity.ivfpq_topk_residual — the
    FAISS IndexIVFPQ DEFAULT, by_residual=True): PQ codebooks trained
    on within-cell residuals, query distance tables built per
    (query, probed cell).  Same coarse centroids as ivfpq_topk, so
    the two entries differ exactly by the residual step."""
    from hetman_spark.functions.similarity import ivfpq_topk_residual

    e = _tp(spark, sf_dir, "embeddings")
    queries = e.orderBy("vec_id").limit(_IVT_NQ)
    return ivfpq_topk_residual(
        e, queries, k=_IVT_TOPK, n_cells=_KM_K, km_iters=_KM_ITERS,
        nprobe=_IVT_NPROBE, m_sub=_PQ_M, ks=_PQ_KS, pq_iters=_PQ_ITERS,
        dim=_KM_DIM,
        centroids=_trained_centroids(spark, sf_dir),
        codebooks=_trained_residual_codebooks(spark, sf_dir),
    )


def _sql_ivfpq_residual(k_cells: int, km_iters: int, dim: int, m_sub: int,
                        ks: int, pq_iters: int, nprobe: int, nq: int,
                        topk: int) -> str:
    """DuckDB twin of ivfpq_topk_residual: the kmeans chain feeds a
    cell assignment `asn`, the residual table `rq` feeds the
    per-subspace PQ training CTEs (src='rq'), and each query's ADC
    contribution joins its PER-PROBED-CELL residual subvectors
    (rqs{m}) to the candidate's residual-codebook centroid."""
    dist = _sql_kmeans_dist(dim)
    ds = dim // m_sub
    parts = _sql_kmeans_parts(k_cells, km_iters, dim)
    # AS MATERIALIZED on the chain-top CTEs: rq is referenced by all
    # m_sub subspace training chains — DuckDB's default CTE inlining
    # would replicate the whole kmeans chain into each of them
    # (measured: the un-hinted query ran >5 min; materialized it runs
    # in seconds).  Same for asn (cells) and qres (per-probe residual).
    parts.append(f"""asn AS MATERIALIZED (
  SELECT vec_id, qv, ci AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d FROM q CROSS JOIN c{km_iters} c))
  WHERE rn = 1)""")
    parts.append(f"""rq AS MATERIALIZED (
  SELECT a.vec_id,
         list_transform(range({dim}), j -> a.qv[j + 1] - c.cent[j + 1]) AS qv,
         a.cell
  FROM asn a JOIN c{km_iters} c ON c.ci = a.cell)""")
    parts += _sql_pq_parts(m_sub, ks, pq_iters, dim, src="rq")
    parts.append(f"""qsel AS (
  SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {nq})""")
    parts.append(f"""probes AS (
  SELECT vec_id, ci AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM (SELECT q.vec_id, q.qv, c.ci, {dist} AS d
          FROM qsel q CROSS JOIN c{km_iters} c))
  WHERE rn <= {nprobe})""")
    parts.append(f"""qres AS MATERIALIZED (
  SELECT p.vec_id, p.cell,
         list_transform(range({dim}), j -> s.qv[j + 1] - c.cent[j + 1]) AS qv
  FROM probes p JOIN qsel s ON s.vec_id = p.vec_id
  JOIN c{km_iters} c ON c.ci = p.cell)""")
    for m in range(m_sub):
        lo, hi = m * ds + 1, (m + 1) * ds
        parts.append(
            f"rqs{m} AS (SELECT vec_id, cell, qv[{lo}:{hi}] AS qv FROM qres)"
        )
    parts.append("""cands AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, p.cell
  FROM asn a JOIN probes p ON a.cell = p.cell AND a.vec_id != p.vec_id)""")
    dms = []
    for m in range(m_sub):
        parts.append(f"""dm{m} AS (
  SELECT cd.query_id, cd.neighbor_id, {_sql_kmeans_dist(ds, 'qu', 'c')} AS d
  FROM cands cd
  JOIN code{m} co ON co.vec_id = cd.neighbor_id
  JOIN c{m}_{pq_iters} c ON c.ci = co.ci
  JOIN rqs{m} qu ON qu.vec_id = cd.query_id AND qu.cell = cd.cell)""")
        dms.append(f"SELECT * FROM dm{m}")
    parts.append(f"""adc AS (
  SELECT query_id, neighbor_id, CAST(sum(d) AS BIGINT) AS adc_dist
  FROM ({' UNION ALL '.join(dms)})
  GROUP BY query_id, neighbor_id)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
  FROM adc)
WHERE rank <= {topk}
"""
    )


SQL_IVFPQ_RESIDUAL_TOPK = _sql_ivfpq_residual(
    _KM_K, _KM_ITERS, _KM_DIM, _PQ_M, _PQ_KS, _PQ_ITERS,
    _IVT_NPROBE, _IVT_NQ, _IVT_TOPK
)


_SQ8_NQ, _SQ8_TOPK = 3, 5


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (SQ8) asymmetric top-k
    (similarity.sq8_topk): per-dim min/max trained in one 64-group
    partial-agg, corpus scored through its 8-bit reconstruction,
    queries full-precision.  Completes the classic ANN compression
    trio next to PQ (pq_topk) and IVF cells (ivf_topk_trained) —
    SQ8 is the memory-compression choice when per-dim affine codes
    are accurate enough and codebook training is not worth it."""
    from hetman_spark.functions.similarity import sq8_topk

    e = _tp(spark, sf_dir, "embeddings")
    queries = e.orderBy("vec_id").limit(_SQ8_NQ)
    return sq8_topk(e, queries, k=_SQ8_TOPK)


def _sql_sq8_topk(nq: int, topk: int, dim: int) -> str:
    return f"""
WITH xi AS (
  SELECT vec_id, {_sql_quantized("embedding")} AS v FROM embeddings
), dims AS (
  SELECT vec_id, v[t.j + 1] AS x, t.j AS d
  FROM xi CROSS JOIN (SELECT CAST(unnest(range({dim})) AS BIGINT) AS j) t
), stats AS (
  SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d
), recon AS (
  SELECT vec_id, d,
         s.mn + CAST(floor(
           floor((x - s.mn) * 255 / greatest(1, s.mx - s.mn))
           * (s.mx - s.mn) / 255) AS BIGINT) AS r
  FROM dims JOIN stats s USING (d)
), qsel AS (
  SELECT vec_id FROM xi ORDER BY vec_id LIMIT {nq}
), scores AS (
  SELECT qd.vec_id AS query_id, r.vec_id AS neighbor_id,
         CAST(sum(r.r * qd.x) AS BIGINT) AS score
  FROM recon r
  JOIN (SELECT dm.* FROM dims dm JOIN qsel ON qsel.vec_id = dm.vec_id) qd
    ON qd.d = r.d
  WHERE r.vec_id != qd.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
  FROM scores)
WHERE rank <= {topk}
"""


SQL_SQ8_TOPK = _sql_sq8_topk(_SQ8_NQ, _SQ8_TOPK, _KM_DIM)


_KNN_NQ, _KNN_K = 5, 9


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote label propagation
    (similarity.knn_label_vote): first use of the embeddings table's
    `label` column — classify each query by the majority label of its
    9 nearest integer-dot neighbors.  The classifier-based
    quality/domain tagging stage of a training-data pipeline."""
    from hetman_spark.functions.similarity import knn_label_vote

    e = _tp(spark, sf_dir, "embeddings")
    queries = e.orderBy("vec_id").limit(_KNN_NQ)
    return knn_label_vote(e, queries, k=_KNN_K)


def _sql_knn_label_vote(nq: int, k: int) -> str:
    return f"""
WITH xi AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         {_sql_quantized("embedding")} AS v
  FROM embeddings
), qsel AS (
  SELECT vec_id, label, v FROM xi ORDER BY vec_id LIMIT {nq}
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.label AS nb_label, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(c.v) + 1),
           j -> c.v[j] * q.v[j])) AS BIGINT) AS score
  FROM xi c CROSS JOIN qsel q
  WHERE c.vec_id != q.vec_id
), top AS (
  SELECT query_id, true_label, nb_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rn
    FROM scored)
  WHERE rn <= {k}
), votes AS (
  SELECT query_id, true_label, nb_label, count(*) AS votes
  FROM top GROUP BY 1, 2, 3
)
SELECT query_id, true_label, nb_label AS predicted_label,
       CAST(votes AS BIGINT) AS votes,
       CAST(CASE WHEN nb_label = true_label THEN 1 ELSE 0 END AS BIGINT) AS match
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY votes DESC, nb_label) AS vrn
  FROM votes)
WHERE vrn = 1
"""


SQL_KNN_LABEL_VOTE = _sql_knn_label_vote(_KNN_NQ, _KNN_K)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-feature extraction over the synthetic media table,
    materialized to parquet at a fixed path (same trick as
    q_webtext_route_counts) so the DuckDB oracle reads the same bytes
    and re-derives the stub decode (functions/multimodal.py:48-55):
    h = little-endian int of payload[:8], width = 64 + h % 1024,
    height = 64 + (h >> 10) % 1024, channels = 3."""
    from hetman_spark.functions.multimodal import extract_image_features, synth_media

    synth_media(spark, 300).write.mode("overwrite").parquet(_MEDIA_ORACLE_PATH)
    # codec="stub": the synthetic payloads are md5 text, not decodable
    # images — forcing the stub keeps this entry deterministic (and the
    # oracle valid) even on a cluster where Pillow IS importable
    return extract_image_features(
        spark.read.parquet(_MEDIA_ORACLE_PATH), codec="stub"
    )


# width/height need only the low 20 bits of the little-endian payload
# int, i.e. the first 3 bytes (b0 + 256*b1 + 65536*b2): the b3..b7
# terms are multiples of 2^24, which vanish under both `% 1024` and
# `(>>10) % 1024`.  The payload is pure ASCII (concatenated md5
# hexdigests), so decode(payload) -> VARCHAR is lossless and DuckDB's
# VARCHAR-only md5 hashes the identical bytes Spark's binary md5 does.
SQL_MULTIMODAL = f"""
WITH src AS (
  SELECT media_id, format, payload, lower(hex(payload)) AS hx
  FROM read_parquet('{_MEDIA_ORACLE_PATH}/*.parquet')
  WHERE kind = 'image'
), h AS (
  SELECT media_id, format, payload,
         CAST('0x' || substr(hx, 1, 2) AS BIGINT)
         + CAST('0x' || substr(hx, 3, 2) AS BIGINT) * 256
         + CAST('0x' || substr(hx, 5, 2) AS BIGINT) * 65536 AS h3
  FROM src
)
SELECT media_id, format,
       CAST(64 + h3 % 1024 AS INTEGER) AS width,
       CAST(64 + (h3 // 1024) % 1024 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       md5(decode(payload)) AS checksum
FROM h
"""


# versioned path: bump the suffix if the generator ever changes, so a
# stale cached table can never satisfy a newer fixture
_WEBTEXT_ORACLE_PATH = "/tmp/hetman_spark_oracle_webtext_v1_20000"


def _ensure_webtext_fixture(spark: SparkSession) -> str:
    """Materialize the deterministic 20k-row webtext table once (reuse
    keyed on a post-commit marker — see q_webtext_route_counts) and
    return its path."""
    import os as _os

    from hetman_spark.sources.webtext import write_webtext

    marker = f"{_WEBTEXT_ORACLE_PATH}/_SUCCESS"
    if not _os.path.exists(marker):
        write_webtext(spark, _WEBTEXT_ORACLE_PATH, 20_000, n_splits=8)
        with open(marker, "w"):
            pass
    return _WEBTEXT_ORACLE_PATH


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus shape over the webtext fixture — the CCNet-style
    per-domain aggregation a crawl pipeline runs before host-level
    filtering (robots blocklists, per-domain caps): pages, distinct
    path sections, distinct langs per host.  One partial-aggregated
    shuffle of (host, section, lang) triples; url parsing is a regexp
    in codegen."""
    df = spark.read.parquet(_ensure_webtext_fixture(spark))
    host = F.regexp_extract(F.col("url"), r"^https://([^/]+)/", 1)
    section = F.regexp_extract(F.col("url"), r"^https://[^/]+/([^/]+)/", 1)
    return (
        df.select(host.alias("host"), section.alias("section"), "lang")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("section").alias("n_sections"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def _sql_host_stats() -> str:
    return f"""
SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT regexp_extract(url, '^https://[^/]+/([^/]+)/', 1)) AS BIGINT) AS n_sections,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM read_parquet('{_WEBTEXT_ORACLE_PATH}/*/*.parquet')
GROUP BY host
"""


_HOST_CAP = 150


def q_host_page_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host page cap — the crawl-politeness / anti-domination
    sampling a corpus build applies before training-data assembly
    (CCNet/RefinedWeb cap pages per registered domain so one mirror
    farm can't dominate the corpus): keep at most N pages per host,
    chosen in a deterministic pseudo-random order (md5(url)) so the
    kept set is reproducible on any cluster and uncorrelated with
    crawl order.

    Scale shape: ONE window per host (sort within host partition) —
    the per-host row counts are crawl-bounded (a host with millions of
    pages is exactly what the cap is for, and the sort is local to the
    host's partition).  A skew-proof variant for pathological hosts is
    two-phase: filter md5(url) < adaptive-threshold (estimated from
    host_stats counts) then window only the survivors — same output,
    documented here as the 100 TB path."""
    from pyspark.sql import Window

    df = spark.read.parquet(_ensure_webtext_fixture(spark))
    host = F.regexp_extract(F.col("url"), r"^https://([^/]+)/", 1)
    sel = df.select(
        "url", host.alias("host"), F.md5(F.col("url")).alias("ord_key")
    )
    w = Window.partitionBy("host").orderBy("ord_key", "url")
    return (
        sel.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _HOST_CAP)
        .select("host", "url", F.col("rk").cast("long").alias("rk"))
    )


def _sql_host_page_cap() -> str:
    return f"""
SELECT host, url, CAST(rk AS BIGINT) AS rk FROM (
  SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host, url,
         ROW_NUMBER() OVER (
           PARTITION BY regexp_extract(url, '^https://([^/]+)/', 1)
           ORDER BY md5(url), url) AS rk
  FROM read_parquet('{_WEBTEXT_ORACLE_PATH}/*/*.parquet')
) WHERE rk <= {_HOST_CAP}
"""


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — collapse crawl variants of the same page
    (tracking query params, host-case differences, trailing slashes)
    to one canonical key and keep a deterministic representative.  The
    messy variants are DERIVED here deterministically (every 5th page
    id gains a '?utm_source=...' twin and an UPPERCASED-host
    trailing-slash twin) so the entry is self-contained on the fixture
    and the collapse is observable: 20k pages -> 24k crawl rows ->
    20k canonical rows, n_variants = 3 exactly on the seeded fifth.

    Canonicalization is `functions.text.canonical_url` (lowercase
    scheme/host, strip default port, query, fragment, trailing
    slashes) — pure codegen regexps.  Scale shape: one projection +
    one groupBy(canonical) partial-agg; only (canonical, url) pairs
    shuffle, never page bodies."""
    from hetman_spark.functions.text import canonical_url

    base = spark.read.parquet(_ensure_webtext_fixture(spark)).select("url")
    pid = F.regexp_extract(F.col("url"), r"page-([0-9]+)$", 1).cast("long")
    seeded = base.where(pid % 5 == 0)
    v_utm = seeded.select(
        F.concat(F.col("url"), F.lit("?utm_source=feed&ref=rss")).alias("url")
    )
    v_case = seeded.select(
        F.concat(
            F.lit("https://"),
            F.upper(F.regexp_extract(F.col("url"), r"^https://([^/]+)", 1)),
            F.regexp_extract(F.col("url"), r"^https://[^/]+(/.*)$", 1),
            F.lit("/"),
        ).alias("url")
    )
    crawl = base.unionByName(v_utm).unionByName(v_case)
    return (
        crawl.select(canonical_url(F.col("url")).alias("canonical_url"), "url")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("url").alias("kept_url"),
        )
    )


def _sql_url_canonical_dedup() -> str:
    return f"""
WITH base AS (
  SELECT url FROM read_parquet('{_WEBTEXT_ORACLE_PATH}/*/*.parquet')
), seeded AS (
  SELECT url FROM base
  WHERE CAST(regexp_extract(url, 'page-([0-9]+)$', 1) AS BIGINT) % 5 = 0
), crawl AS (
  SELECT url FROM base
  UNION ALL
  SELECT url || '?utm_source=feed&ref=rss' FROM seeded
  UNION ALL
  SELECT 'https://' || upper(regexp_extract(url, '^https://([^/]+)', 1))
         || regexp_extract(url, '^https://[^/]+(/.*)$', 1) || '/' FROM seeded
), canon AS (
  SELECT lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
         || '://'
         || regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(80|443)$', '')
         || regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '')
           AS canonical_url,
         url
  FROM crawl
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       min(url) AS kept_url
FROM canon GROUP BY canonical_url
"""


def q_webtext_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's batch plan (plan_batch: parse -> rebalance ->
    enrich -> route, the plan run_pipeline writes) on a fixed
    deterministic 20k-row table, returning per-sink counts.  The
    generated table is materialized to parquet at a fixed path so the
    DuckDB oracle can read the SAME bytes and re-derive the routing
    independently (regex over the decoded html for the status
    class + an inline lang->region mapping) — full parity for the
    flagship pipeline query instead of rows-only.

    The table is deterministic, so materialization is IDEMPOTENT: a
    completed prior write (any *.parquet under the versioned path) is
    reused — the recorded per-query timing then measures the pipeline,
    not the fixture generator (~3.7s of the r2 bench number was
    regeneration)."""
    from hetman_spark.plans.pipeline import DEFAULT_SPEC, plan_batch
    from hetman_spark.sources.lookup import lang_lookup

    # reuse is keyed on a success marker written only AFTER the
    # generator job returns — a write killed mid-job leaves partition
    # files but no marker, so a partial table can never be mistaken for
    # the canonical 20k-row fixture (r3 ADVICE; globbing for *.parquet
    # accepted partials).  The marker is ours, not Spark's: dynamic
    # partitionOverwriteMode suppresses the engine _SUCCESS file.
    df = spark.read.parquet(_ensure_webtext_fixture(spark))
    routed = plan_batch(df, DEFAULT_SPEC, lang_lookup(spark)).routed
    return routed.groupBy("sink_id").agg(F.count(F.lit(1)).alias("n"))


def _sql_webtext_route_counts() -> str:
    """Build the DuckDB twin from the SAME config objects the Spark
    side uses (sink signatures + lang->region rows), so the oracle
    can't drift from the fixture."""
    from hetman_spark.sources.lookup import DEFAULT_SINKS, _LOOKUP_ROWS

    sig = {s.predicate_col + "=" + s.predicate_val: s.signature() for s in DEFAULT_SINKS}
    region_case = " ".join(
        f"WHEN '{lang}' THEN '{region}'" for lang, _, region, _, _ in _LOOKUP_ROWS
    )
    return f"""
WITH src AS (
  SELECT lang, decode(html) AS html_s
  FROM read_parquet('{_WEBTEXT_ORACLE_PATH}/*/*.parquet')
), parsed AS (
  SELECT lang,
         substr(regexp_extract(html_s, ' HTTP/1\\.1" ([0-9]{{3}}) ', 1), 1, 1)
           || 'xx' AS status_class,
         CASE lang {region_case} END AS region
  FROM src
)
SELECT sink_id, count(*) AS n FROM (
  SELECT '{sig["*=*"]}' AS sink_id FROM parsed
  UNION ALL SELECT '{sig["lang=en"]}' FROM parsed WHERE lang = 'en'
  UNION ALL SELECT '{sig["status_class=5xx"]}' FROM parsed WHERE status_class = '5xx'
  UNION ALL SELECT '{sig["region=emea"]}' FROM parsed WHERE region = 'emea'
) GROUP BY sink_id
"""


# ---------------------------------------------------------------------------
# PII detection + masking (text.pii_redact).  The documents fixture is
# digit-free word salad, so the entry injects synthetic PII
# deterministically by doc_id (the c4_line_filter derivation pattern —
# byte-identical construction on both engines); a doc can carry all
# three kinds at once (doc_id 0 does).
# ---------------------------------------------------------------------------


def _pii_seed_expr(text: Column, did: Column) -> Column:
    """Deterministic PII injection keyed by `did`: %7 an email, %11 a
    ddd-ddd-dddd phone, %13 a dotted-quad IP (all three can land on
    one doc)."""
    return F.concat(
        text,
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad(((did * 37) % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
                F.lit("."),
                ((did * 13) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


def _sql_pii_seed(text: str, did: str) -> str:
    """DuckDB twin of _pii_seed_expr (text/did are SQL expressions)."""
    return f"""{text}
    || CASE WHEN ({did}) % 7 = 0
            THEN ' contact user' || CAST(({did}) AS VARCHAR) || '@example.com now'
            ELSE '' END
    || CASE WHEN ({did}) % 11 = 0
            THEN ' call 555-' || lpad(CAST(({did}) % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST((({did}) * 37) % 10000 AS VARCHAR), 4, '0')
                 || ' today'
            ELSE '' END
    || CASE WHEN ({did}) % 13 = 0
            THEN ' from 10.' || CAST(({did}) % 256 AS VARCHAR)
                 || '.' || CAST((({did}) * 7) % 256 AS VARCHAR)
                 || '.' || CAST((({did}) * 13) % 256 AS VARCHAR)
            ELSE '' END"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a derived corpus: doc_id%7 docs get an email,
    %11 a ddd-ddd-dddd phone, %13 a dotted-quad IP appended; the
    operator counts and masks all three.  Output: per-doc counts +
    the masked text."""
    from hetman_spark.functions.text import pii_redact

    d = _tp(spark, sf_dir, "documents")
    seeded = _pii_seed_expr(F.col("text"), F.col("doc_id"))
    s = pii_redact(seeded)
    return d.select(
        "doc_id",
        s.getField("n_emails").alias("n_emails"),
        s.getField("n_phones").alias("n_phones"),
        s.getField("n_ips").alias("n_ips"),
        s.getField("masked").alias("masked"),
    )


SQL_PII_REDACT = (
    "\nWITH seeded AS (\n  SELECT doc_id, "
    + _sql_pii_seed("text", "doc_id")
    + " AS t\n  FROM documents\n)"
) + r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t,
         '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS masked
FROM seeded
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (text.bpe_merge_steps) — the oracle replays
# the one-plan unrolled training as CTE chains: word-frequency table,
# per-iteration pair counts, argmax pair, two-pass replace merge.
# ---------------------------------------------------------------------------


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merge steps trained on the documents corpus:
    (merge_idx, pair, merged, pair_count) per iteration."""
    from hetman_spark.functions.text import bpe_merge_steps

    return bpe_merge_steps(_tp(spark, sf_dir, "documents"), n_merges=3)


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train -> ENCODE in one plan (text.bpe_encode_stats): per-doc
    token counts after the 3 trained merges — the tokenizer loop
    closed end-to-end, the same completion pattern as the IVF
    train->assign->probe entry."""
    from hetman_spark.functions.text import bpe_encode_stats

    return bpe_encode_stats(_tp(spark, sf_dir, "documents"), n_merges=3)


def _sql_bpe_parts(n_merges: int, apply_last: bool) -> list[str]:
    """Shared CTE chain of the BPE twins: w{i} is the space-delimited
    symbol table after i merges (carrying the original word w),
    p{i}/m{i} the pair counts / argmax of iteration i.  The two-pass
    replace is the SAME definition the Spark side pins
    (non-overlapping left-to-right per pass), so the merge
    application is engine-identical.  apply_last mirrors
    text._bpe_train: the encode twin needs w{n_merges}."""
    parts = [
        r"""
WITH words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents
  ) WHERE len(w) > 0 GROUP BY w
), w0 AS (
  SELECT w, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS delim, freq FROM words
)"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""", p{i} AS (
  SELECT pr, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT toks[g.i] || ' ' || toks[g.i + 1] AS pr, freq
    FROM (SELECT string_split(trim(delim), ' ') AS toks, freq FROM {prev}) t,
         LATERAL (SELECT CAST(unnest(generate_series(1, len(toks) - 1)) AS BIGINT) AS i) g
  ) GROUP BY pr
), m{i} AS (SELECT pr, cnt FROM p{i} ORDER BY cnt DESC, pr LIMIT 1)"""
        )
        if i < n_merges or apply_last:
            parts.append(
                f""", w{i} AS (
  SELECT w, replace(replace(delim,
           ' ' || pr || ' ', ' ' || replace(pr, ' ', '') || ' '),
           ' ' || pr || ' ', ' ' || replace(pr, ' ', '') || ' ') AS delim, freq
  FROM {prev}, m{i}
)"""
            )
    return parts


def _sql_bpe_merges(n_merges: int = 3) -> str:
    """DuckDB twin of bpe_merge_steps: the per-iteration argmax rows."""
    selects = [
        f"SELECT CAST({i} AS INT) AS merge_idx, pr AS pair,"
        f" replace(pr, ' ', '') AS merged, cnt AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    ]
    return (
        "".join(_sql_bpe_parts(n_merges, apply_last=False))
        + "\n"
        + "\nUNION ALL ".join(selects)
    )


def _sql_bpe_encode(n_merges: int = 3) -> str:
    """DuckDB twin of bpe_encode_stats: per-word token counts from the
    post-merge state w{n_merges}, joined to each doc's exploded words."""
    parts = _sql_bpe_parts(n_merges, apply_last=True)
    parts.append(
        f""", pw AS (
  SELECT w,
         CAST(len(string_split(trim(delim), ' ')) AS BIGINT) AS toks,
         CAST(len(w) AS BIGINT) AS chars
  FROM w{n_merges}
)"""
    )
    return (
        "".join(parts)
        + """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(pw.chars) AS BIGINT) AS n_chars,
       CAST(sum(pw.toks) AS BIGINT) AS n_tokens
FROM (
  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w FROM documents
) d JOIN pw USING (w)
WHERE len(d.w) > 0
GROUP BY doc_id
"""
    )


# ---------------------------------------------------------------------------
# Corpus RELEASE composition: quality gate -> exact dedup -> PII scrub
# in ONE plan over a derived corpus (each doc duplicated under a
# shifted id, PII seeded identically for both copies) — the
# end-of-pipeline release pass a corpus build ships, with the
# composition itself under the value oracle (the corpus_keep_list
# pattern extended by the masking stage).
# ---------------------------------------------------------------------------


def q_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fail verdict per derived doc: 'quality:<rule>' (Gopher
    gate on the seeded text) / 'dup' (non-min doc_id of an identical-
    text group) / 'ok'; masked text ships ONLY for 'ok' docs, n_pii
    counts hits either way.  One plan: per-row gate + ONE
    hash-keyed window + per-row masking."""
    from pyspark.sql import Window

    from hetman_spark.functions.text import pii_redact, quality_filter

    d = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    rel = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    seeded = rel.select(
        "doc_id",
        _pii_seed_expr(F.col("text"), F.col("doc_id") % 100000).alias("t"),
    )
    gated = quality_filter(seeded, text_col="t")
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("t"))))
    p = pii_redact(F.col("t"))
    verdict = (
        F.when(F.col("reason") != "ok", F.concat(F.lit("quality:"), F.col("reason")))
        .when(F.col("doc_id") != keeper, F.lit("dup"))
        .otherwise(F.lit("ok"))
    )
    return gated.select(
        "doc_id",
        verdict.alias("verdict"),
        (
            p.getField("n_emails") + p.getField("n_phones") + p.getField("n_ips")
        ).alias("n_pii"),
        F.when(verdict == "ok", p.getField("masked")).alias("masked"),
    )


def _sql_corpus_release() -> str:
    email = r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'"
    phone = r"'\b\d{3}-\d{3}-\d{4}\b'"
    ip = r"'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'"
    return (
        "\nWITH rel AS (\n"
        "  SELECT doc_id, text FROM documents\n"
        "  UNION ALL\n"
        "  SELECT doc_id + 100000 AS doc_id, text FROM documents\n"
        "), seeded AS (\n  SELECT doc_id, "
        + _sql_pii_seed("text", "doc_id % 100000")
        + " AS t\n  FROM rel\n), "
        + _sql_quality_ctes(src="seeded", text="t")
        + ",\nkeep AS (\n"
        "  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(t)) AS keeper, t\n"
        "  FROM seeded\n), verdicts AS (\n"
        "  SELECT k.doc_id, k.t,\n"
        "         CASE WHEN q.reason <> 'ok' THEN 'quality:' || q.reason\n"
        "              WHEN k.doc_id <> k.keeper THEN 'dup'\n"
        "              ELSE 'ok' END AS verdict\n"
        "  FROM keep k JOIN qreason q USING (doc_id)\n)\n"
        "SELECT doc_id, verdict,\n"
        f"       CAST(len(regexp_extract_all(t, {email}))\n"
        f"          + len(regexp_extract_all(t, {phone}))\n"
        f"          + len(regexp_extract_all(t, {ip})) AS BIGINT) AS n_pii,\n"
        "       CASE WHEN verdict = 'ok' THEN\n"
        "         regexp_replace(regexp_replace(regexp_replace(t,\n"
        f"           {email}, '<EMAIL>', 'g'),\n"
        f"           {phone}, '<PHONE>', 'g'),\n"
        f"           {ip}, '<IP>', 'g') END AS masked\n"
        "FROM verdicts\n"
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "grok_parse_nginx": q_grok_parse_nginx,
    "json_extract_events": q_json_extract_events,
    "multiline_stitch": q_multiline_stitch,
    "enrich_broadcast": q_enrich_broadcast,
    "route_fanout_counts": q_route_fanout,
    "modifier_redact": q_modifier_redact,
    "lang_counts": q_lang_counts,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "text_stats": q_text_stats,
    "ann_cosine_topk": q_ann_cosine_topk,
    "events_windowed": q_events_windowed,
    "events_user_windows": q_events_user_windows,
    "events_sliding_windows": q_events_sliding_windows,
    "route_fanout_rows": q_route_fanout_rows,
    "lang_scores": q_lang_scores,
    "minhash_band_pairs": q_minhash_band_pairs,
    "tpch_q1": q_tpch_q1,
    "topk_per_group": q_topk_per_group,
    "syslog_rfc5424": q_syslog_rfc5424,
    "syslog_rfc3164": q_syslog_rfc3164,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "dedup_clusters": q_dedup_clusters,
    "incremental_dedup": q_incremental_dedup,
    "incremental_dedup_bloom": q_incremental_dedup_bloom,
    "incremental_neardup": q_incremental_neardup,
    "unigram_commonness": q_unigram_commonness,
    "span_dup_stats": q_span_dup_stats,
    "span_dedup_text": q_span_dedup_text,
    "dsir_weights": q_dsir_weights,
    "dsir_resample": q_dsir_resample,
    "tfidf_keywords": q_tfidf_keywords,
    "token_budget_sample": q_token_budget_sample,
    "length_quantiles": q_length_quantiles,
    "corpus_keep_list": q_corpus_keep_list,
    "embedding_neardup_verified": q_embedding_neardup_verified,
    "sessionize_events": q_sessionize_events,
    "doc_fingerprints": q_doc_fingerprints,
    "asof_last_purchase": q_asof_last_purchase,
    "range_join_windows": q_range_join_windows,
    "simhash_groups": q_simhash_groups,
    "simhash_near_pairs": q_simhash_near_pairs,
    "quality_filter": q_quality_filter,
    "contamination_overlap": q_contamination_overlap,
    "source_mix": q_source_mix,
    "repetition_stats": q_repetition_stats,
    "stratified_sample": q_stratified_sample,
    "webtext_route_counts": q_webtext_route_counts,
    "host_stats": q_host_stats,
    "host_page_cap": q_host_page_cap,
    "url_canonical_dedup": q_url_canonical_dedup,
    "embedding_lsh_candidates": q_embedding_lsh_candidates,
    "ivf_topk": q_ivf_topk,
    "ivf_topk_multiprobe": q_ivf_topk_multiprobe,
    "kmeans_clusters": q_kmeans_clusters,
    "ivf_topk_trained": q_ivf_topk_trained,
    "pq_topk": q_pq_topk,
    "semdedup": q_semdedup,
    "c4_line_filter": q_c4_line_filter,
    "doc_chunks": q_doc_chunks,
    "sequence_pack_bins": q_sequence_pack_bins,
    "unicode_nfc_dedup": q_unicode_nfc_dedup,
    "mix_rebalance": q_mix_rebalance,
    "winnow_fingerprints": q_winnow_fingerprints,
    "ivfpq_topk": q_ivfpq_topk,
    "ivfpq_residual_topk": q_ivfpq_residual_topk,
    "sq8_topk": q_sq8_topk,
    "knn_label_vote": q_knn_label_vote,
    "line_dedup": q_line_dedup,
    "frequent_ngrams": q_frequent_ngrams,
    "pii_redact": q_pii_redact,
    "bpe_merges": q_bpe_merges,
    "bpe_encode_stats": q_bpe_encode_stats,
    "corpus_release": q_corpus_release,
    "multimodal_features": q_multimodal_features,
}

ORACLES: dict[str, str] = {
    "grok_parse_nginx": SQL_GROK_PARSE,
    "json_extract_events": SQL_JSON_EXTRACT,
    "multiline_stitch": SQL_MULTILINE,
    "enrich_broadcast": SQL_ENRICH,
    "route_fanout_counts": SQL_ROUTE_FANOUT,
    "modifier_redact": SQL_REDACT,
    "lang_counts": SQL_LANG_COUNTS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH,
    "text_stats": SQL_TEXT_STATS,
    "ann_cosine_topk": SQL_ANN_TOPK,
    "events_windowed": SQL_EVENTS_WINDOWED,
    "events_user_windows": SQL_EVENTS_USER_WINDOWS,
    "events_sliding_windows": SQL_EVENTS_SLIDING,
    "route_fanout_rows": SQL_ROUTE_FANOUT_ROWS,
    "lang_scores": SQL_LANG_SCORES,
    "minhash_band_pairs": SQL_MINHASH_PAIRS,
    "tpch_q1": SQL_TPCH_Q1,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "syslog_rfc5424": SQL_SYSLOG_RFC5424,
    "syslog_rfc3164": SQL_SYSLOG_RFC3164,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "incremental_dedup_bloom": SQL_INCREMENTAL_DEDUP,
    "incremental_neardup": SQL_INCREMENTAL_NEARDUP,
    "unigram_commonness": SQL_UNIGRAM_COMMONNESS,
    "span_dup_stats": SQL_SPAN_DUP_STATS,
    "span_dedup_text": SQL_SPAN_DEDUP_TEXT,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "dsir_resample": _sql_dsir_resample(),
    "tfidf_keywords": SQL_TFIDF_KEYWORDS,
    "token_budget_sample": SQL_TOKEN_BUDGET_SAMPLE,
    "length_quantiles": SQL_LENGTH_QUANTILES,
    "corpus_keep_list": SQL_CORPUS_KEEP_LIST,
    "embedding_neardup_verified": SQL_EMBEDDING_VERIFIED,
    "sessionize_events": SQL_SESSIONIZE,
    "doc_fingerprints": SQL_DOC_FINGERPRINTS,
    "asof_last_purchase": SQL_ASOF,
    "range_join_windows": SQL_RANGE_JOIN,
    "simhash_groups": SQL_SIMHASH_GROUPS,
    "simhash_near_pairs": SQL_SIMHASH_NEAR_PAIRS,
    "quality_filter": SQL_QUALITY_FILTER,
    "contamination_overlap": SQL_CONTAMINATION,
    "source_mix": SQL_SOURCE_MIX,
    "repetition_stats": SQL_REPETITION,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "webtext_route_counts": _sql_webtext_route_counts(),
    "host_stats": _sql_host_stats(),
    "host_page_cap": _sql_host_page_cap(),
    "url_canonical_dedup": _sql_url_canonical_dedup(),
    "embedding_lsh_candidates": SQL_EMBEDDING_LSH,
    "ivf_topk": SQL_IVF_TOPK,
    "ivf_topk_multiprobe": SQL_IVF_TOPK_MULTIPROBE,
    "kmeans_clusters": SQL_KMEANS_CLUSTERS,
    "ivf_topk_trained": SQL_IVF_TOPK_TRAINED,
    "pq_topk": SQL_PQ_TOPK,
    "semdedup": SQL_SEMDEDUP,
    "c4_line_filter": SQL_C4_LINE_FILTER,
    "doc_chunks": SQL_DOC_CHUNKS,
    "sequence_pack_bins": SQL_SEQUENCE_PACK_BINS,
    "unicode_nfc_dedup": SQL_UNICODE_NFC_DEDUP,
    "mix_rebalance": SQL_MIX_REBALANCE,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "ivfpq_topk": SQL_IVFPQ_TOPK,
    "ivfpq_residual_topk": SQL_IVFPQ_RESIDUAL_TOPK,
    "sq8_topk": SQL_SQ8_TOPK,
    "knn_label_vote": SQL_KNN_LABEL_VOTE,
    "line_dedup": SQL_LINE_DEDUP,
    "frequent_ngrams": SQL_FREQUENT_NGRAMS,
    "pii_redact": SQL_PII_REDACT,
    "bpe_merges": _sql_bpe_merges(),
    "bpe_encode_stats": _sql_bpe_encode(),
    "corpus_release": _sql_corpus_release(),
    "multimodal_features": SQL_MULTIMODAL,
}
