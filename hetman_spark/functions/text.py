"""Text analysis for large-scale training-data pipelines: token
counting, quality scoring, language ID, document fingerprinting.

All pure Catalyst expressions (JVM, whole-stage codegen) — no Python
on the hot path.  Designed for the `documents` table shape
(doc_id, text, lang, source, n_chars) and for the webtext `text`
column equally.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small multilingual stopword marker sets for the n-gram/stopword
# language-ID heuristic; deliberately tiny — the heuristic's value is
# its shape (vectorized scoring + argmax), not lexical completeness.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "que", "los", "es"],
    "pt": ["o", "que", "de", "para", "uma"],
    "ru": ["и", "в", "не", "на", "что"],
}


def token_count(text: Column, pattern: str = r"\s+") -> Column:
    """Whitespace token count (BIGINT).  For a BPE-ish estimate use
    bpe_token_estimate."""
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.size(F.split(text, pattern))
    ).cast("long")


def bpe_token_estimate(text: Column) -> Column:
    """Rough BPE token-count estimate without a tokenizer: word pieces
    split on non-alphanumerics plus a chars/4 floor (the common
    ~4-chars-per-token heuristic), JVM-side."""
    words = F.size(F.split(text, r"[^\p{L}\p{N}]+"))
    return F.greatest(words.cast("long"), (F.length(text) / 4).cast("long"))


def word_count(text: Column, word: str) -> Column:
    """Occurrences of a literal word (word-boundary), via length
    difference — avoids regexp_extract_all materialization."""
    stripped = F.regexp_replace(text, rf"\b{word}\b", "")
    return ((F.length(text) - F.length(stripped)) / len(word)).cast("long")


def quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach integer/ratio quality columns (the length/punct/stopword
    trio every web-corpus filter starts from)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    punct = F.length(F.regexp_replace(t, r"[^.!?,;:]", ""))
    stop_hits = sum(
        (word_count(t, w) for w in _LANG_MARKERS["en"]),
        F.lit(0).cast("long"),
    )
    return (
        df.withColumn("q_n_chars", n_chars.cast("long"))
        .withColumn("q_n_tokens", n_tokens)
        .withColumn("q_alpha_ratio", (alpha / F.greatest(n_chars, F.lit(1))).cast("double"))
        .withColumn("q_punct_ratio", (punct / F.greatest(n_chars, F.lit(1))).cast("double"))
        .withColumn("q_stopword_hits", stop_hits)
        .withColumn(
            "q_mean_token_len",
            (n_chars / F.greatest(n_tokens, F.lit(1))).cast("double"),
        )
    )


def lang_id(text: Column) -> Column:
    """Marker-word language ID: score each language by summed marker
    hits, take the argmax (ties -> first by score struct ordering).
    Pure expressions; one pass per marker word over the lowered text."""
    lowered = F.lower(text)
    scored = [
        F.struct(
            sum((word_count(lowered, w) for w in words), F.lit(0).cast("long")).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in _LANG_MARKERS.items()
    ]
    best = F.array_max(F.array(*scored))
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(F.lit("und"))


def fingerprint(text: Column, prefix_len: int = 256) -> Column:
    """Deterministic document fingerprint: 64-bit xxhash of the
    normalized text (whitespace collapsed, lowered).  The rolling-hash
    shingle variant lives in dedup.simhash/minhash."""
    normalized = F.lower(F.regexp_replace(text, r"\s+", " "))
    return F.xxhash64(normalized)


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_token_len: int = 2,
    max_mean_token_len: int = 12,
    min_alpha_pct: int = 60,
    min_stopword_hits: int = 1,
) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021's repetition/length
    heuristics, the standard web-corpus gate): attaches `kept` and the
    FIRST failing rule as `reason` ('ok' when all pass).  Rows are
    never dropped — filtering is the caller's `.where(col('kept'))`,
    so rejected docs stay auditable (the same never-drop principle as
    the parse stage's P6 passthrough).

    Every rule is INTEGER arithmetic (cross-multiplied ratios), so the
    verdict is bit-identical on any engine — float thresholds near a
    boundary are not (see the ANN quantization note in similarity.py).
    """
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    n_tokens = token_count(t)
    alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", "")).cast("long")
    stop_hits = sum(
        (word_count(F.lower(t), w) for w in _LANG_MARKERS["en"]),
        F.lit(0).cast("long"),
    )
    reason = (
        # explicit null guard: every comparison below is NULL for a
        # NULL text, which would fall through to 'ok'
        F.when(t.isNull(), F.lit("empty"))
        .when(n_tokens < min_tokens, F.lit("too_short"))
        .when(n_tokens > max_tokens, F.lit("too_long"))
        .when(n_chars < min_mean_token_len * n_tokens, F.lit("tokens_too_short"))
        .when(n_chars > max_mean_token_len * n_tokens, F.lit("tokens_too_long"))
        .when(100 * alpha < min_alpha_pct * n_chars, F.lit("low_alpha"))
        .when(stop_hits < min_stopword_hits, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumn("reason", reason).withColumn("kept", F.col("reason") == "ok")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-stop: quality signals + lang guess + fingerprint."""
    out = quality_signals(df, text_col)
    return out.withColumn("lang_guess", lang_id(F.col(text_col))).withColumn(
        "fingerprint", fingerprint(F.col(text_col))
    )


def canonical_url(u: Column) -> Column:
    """Canonicalize a URL for crawl dedup (the normalization step a
    frontier/dedup pass runs before keying on the URL — cf. the
    reference's path-based file identity, internal/tailer/tailer.go:
    the canonical key IS the identity): lowercase scheme and host,
    strip a default :80/:443 port, drop query string and fragment,
    strip trailing slashes from the path.  Pure codegen regexps —
    no UDF, safe in any hot path."""
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
        r":(80|443)$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
        r"/+$",
        "",
    )
    return F.concat(scheme, F.lit("://"), host, path)


def c4_line_filter(
    text: Column,
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> Column:
    """C4's line/page cleaning pass (Raffel et al. 2020, §2.2) as ONE
    struct expression — the rule set that built the C4 corpus:

    line kept iff it ends in terminal punctuation ('.', '!', '?', '"'),
    has >= min_words whitespace-separated words, and does not mention
    javascript (case-insensitive); page kept iff the raw text contains
    no '{' (code), no 'lorem ipsum' (placeholder), and >= min_kept_lines
    lines survive.  first_fail verdict: 'brace' / 'lorem' /
    'too_few_lines' / 'ok' (C4 drops the page; emitting the reason keeps
    rows auditable, the P6 convention).

    No reference analog (the reference ships logs); this is the
    page-cleaning stage of the LLM-pipeline brief.  Pure per-row
    Catalyst expressions (split + filter + array_join) — no UDF, no
    shuffle; at 100 TB this runs inside the scan's codegen stage.

    Returns struct<n_lines, n_kept, clean_text, verdict>: clean_text =
    surviving lines re-joined, NULL when the page is dropped."""
    lines = F.split(text, "\n")

    def keep_line(line: Column) -> Column:
        return (
            line.rlike('[.!?"]$')
            & (F.size(F.split(F.trim(line), " +")) >= min_words)
            & ~F.lower(line).contains("javascript")
        )

    kept = F.filter(lines, keep_line)
    n_kept = F.size(kept).cast("long")
    verdict = (
        F.when(text.contains("{"), F.lit("brace"))
        .when(F.lower(text).contains("lorem ipsum"), F.lit("lorem"))
        .when(n_kept < min_kept_lines, F.lit("too_few_lines"))
        .otherwise(F.lit("ok"))
    )
    return F.struct(
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.alias("n_kept"),
        F.when(verdict == "ok", F.array_join(kept, "\n"))
        .otherwise(F.lit(None).cast("string"))
        .alias("clean_text"),
        verdict.alias("verdict"),
    )


def nfc_normalize_udf():
    """Arrow-batched Unicode NFC normalizer — the one text-cleaning
    primitive Spark SQL has NO built-in for (no normalize()/unaccent
    in pyspark.sql.functions), so this is the legitimate pandas-UDF
    slow path the brief allows: Python's unicodedata implements the
    same Unicode normalization tables DuckDB's nfc_normalize uses, so
    the result is byte-identical across engines and an oracle can
    cover it.  Web corpora mix precomposed (U+00E1) and decomposed
    (a + U+0301) forms of the same visible text; exact dedup keyed on
    raw bytes silently misses those pairs — normalize FIRST, then
    hash.

    pyarrow.compute.utf8_normalize cannot replace it on pyarrow 16.1:
    it never composes, so form="NFC" returns the NFD string (U+00E1 ->
    a + U+0301).  unicode_nfc_dedup's min_norm_md5 column and
    test_nfc_normalize_collapses_decomposed tell the forms apart."""
    import unicodedata

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return nfc


def pii_redact(text: Column) -> Column:
    """PII detection + masking (the BigScience/ROOTS-style scrub every
    public web corpus runs before release): emails, North-American
    phone numbers (ddd-ddd-dddd) and dotted-quad IPs are counted and
    replaced with <EMAIL>/<PHONE>/<IP> placeholders.

    No reference analog (the reference redacts via user-configured
    regexps, internal/workflow/modifier.go replace_fields — this is
    the fixed, named-entity version of that stage for corpus prep).

    Pure codegen regexps (regexp_extract_all + regexp_replace), no
    lookaround so the patterns mean the same thing under Java regex
    and RE2/DuckDB — at 100 TB this runs inside the scan stage.
    Replace order matters: emails first (an email never contains a
    dotted quad, but masking IP/phone first could split an address).

    Returns struct<n_emails, n_phones, n_ips, masked>.
    """
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\b\d{3}-\d{3}-\d{4}\b"
    ip = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    n_emails = F.size(F.regexp_extract_all(text, F.lit(email), F.lit(0))).cast("long")
    n_phones = F.size(F.regexp_extract_all(text, F.lit(phone), F.lit(0))).cast("long")
    n_ips = F.size(F.regexp_extract_all(text, F.lit(ip), F.lit(0))).cast("long")
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, email, "<EMAIL>"),
            phone,
            "<PHONE>",
        ),
        ip,
        "<IP>",
    )
    return F.struct(
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        masked.alias("masked"),
    )


def bpe_merge_steps(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """Distributed BPE tokenizer training, first `n_merges` merge steps
    (Sennrich et al. 2016 — the algorithm behind GPT-2/RoBERTa vocab
    construction).  Returns one row per merge:
    (merge_idx, pair, merged, pair_count).

    The classic decomposition: BPE never touches the corpus after one
    pass — it trains on the WORD-FREQUENCY table (vocabulary-sized,
    orders of magnitude smaller than the corpus).  Per iteration:

      1. adjacent-symbol-pair counts, freq-weighted — ONE partial-agg
         shuffle keyed by pair (map-side combine does the heavy
         lifting: the distinct-pair universe is tiny);
      2. the argmax pair — orderBy+limit(1) (TakeOrdered, map-side
         top-1 per partition, no global sort materialized);
      3. the merge applied map-side: the top pair rides a broadcast
         1-row cross join (no driver collect — the whole n_merges
         training is ONE plan, which is what lets the DuckDB oracle
         replay it as unrolled CTEs).

    Merge application is TWO passes of non-overlapping left-to-right
    literal replace of " a b " -> " ab " over the space-delimited
    symbol string (pass 1 can consume the shared delimiter between
    back-to-back occurrences; pass 2 catches the stragglers — pinned
    in tests).  For a≠b this is exactly greedy BPE; for a self-pair
    (a==b) inside an odd run of ≥5 repeats the PAIRING may differ
    from priority-queue BPE by the placement of the final pair (both
    engines implement the identical two-pass definition, so the
    oracle is still exact; pair COUNTS — the training signal — are
    computed exactly either way).

    At 100 TB: the corpus pass is the word-frequency groupBy (shuffles
    (word, count) only); every iteration after that runs on the vocab
    table.  Production would persist the vocab table and materialize
    each iteration instead of unrolling the plan — unrolling is the
    oracle-comparable form (same trade as kmeans_clusters).

    No reference analog (the reference ships logs); this is the
    tokenizer-training stage of the LLM-pipeline brief.
    """
    steps, _ = _bpe_train(docs, text_col, n_merges, apply_last=False)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def _bpe_train(
    docs: DataFrame, text_col: str, n_merges: int, apply_last: bool
) -> tuple[list[DataFrame], DataFrame]:
    """Shared BPE training core: returns (per-iteration step rows,
    word-state table (w, delim, freq) after the merges).  apply_last
    controls whether the final iteration's merge is applied to the
    state (the step ROWS never need it; encoding does)."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " +")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # " c1 c2 ... cn " — spaces delimit symbols; merges concatenate.
    cur = words.select(
        "w",
        F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("delim"),
        "freq",
    )

    def _pair_concat(a: Column, b: Column) -> Column:
        return F.concat(a, F.lit(" "), b)

    steps = []
    for i in range(1, n_merges + 1):
        toks = F.split(F.trim(F.col("delim")), " ")
        pairs = F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            _pair_concat,
        )
        counts = (
            cur.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = counts.orderBy(F.col("pair_count").desc(), F.col("pair")).limit(1)
        steps.append(
            top.select(
                F.lit(i).cast("int").alias("merge_idx"),
                F.col("pair"),
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("pair_count"),
            )
        )
        if i < n_merges or apply_last:
            best = top.select(
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")).alias("_src"),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ).alias("_dst"),
            )
            cur = cur.crossJoin(F.broadcast(best)).select(
                "w",
                F.replace(
                    F.replace(F.col("delim"), F.col("_src"), F.col("_dst")),
                    F.col("_src"),
                    F.col("_dst"),
                ).alias("delim"),
                "freq",
            )
    return steps, cur


def bpe_encode_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 3,
) -> DataFrame:
    """Train the first `n_merges` BPE merges AND apply them — the
    tokenizer train->encode loop closed in one plan (the same
    completion pattern as IVF's train->assign->probe).  Returns per
    doc: (doc_id, n_words, n_chars, n_tokens) where n_tokens is the
    symbol count after the trained merges (n_chars = token count at
    zero merges, so n_chars - n_tokens = merges that fired in the
    doc).

    Scale shape: encoding is a (word -> token-count) lookup table —
    vocabulary-sized, broadcastable — joined to the doc's exploded
    words and partial-agg summed per doc; the corpus text never rides
    a shuffle (only (doc_id, word) pairs do, and at 100 TB the word
    table broadcasts so only the doc-keyed partial agg shuffles)."""
    _, state = _bpe_train(docs, text_col, n_merges, apply_last=True)
    per_word = state.select(
        "w",
        F.size(F.split(F.trim(F.col("delim")), " ")).cast("long").alias("_toks"),
        F.length("w").cast("long").alias("_chars"),
    )
    doc_words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " +")).alias("w"),
    ).filter(F.length("w") > 0)
    return (
        doc_words.join(F.broadcast(per_word), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_toks").alias("n_tokens"),
        )
    )


def word_ngrams(text: Column, n: int = 3, sep: str = " ") -> Column:
    """Array of word n-grams of `text` (split on `sep`), empty for
    docs shorter than n words.  Pure Catalyst (sequence + slice +
    concat_ws — runs inside scan codegen); the guard matters because
    Spark's sequence(1, stop) DESCENDS when stop < 1 (default step
    -1) instead of returning empty."""
    ws = F.split(text, sep)
    idxs = F.when(
        F.size(ws) >= n,
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idxs, lambda i: F.concat_ws(sep, F.slice(ws, i, n)))
