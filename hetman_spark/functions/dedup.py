"""Deduplication operators for web-scale corpora.

Five tiers, all expressed as DataFrame plans that survive 100 TB:

- exact_dedup: hash-groupBy on a content hash (one shuffle of
  (hash, id) pairs only — never shuffles the text).
- minhash_lsh: shingle -> K minhashes -> B bands -> band-bucket join.
  Candidate pairs come from equal band signatures (a self-join on the
  tiny (band, bucket) key), so the cross product never materializes.
- simhash: 64-bit similarity hash via per-token hash bit-voting;
  near-dups = identical simhash or Hamming-adjacent buckets.
- ngram_jaccard: exact Jaccard over word n-grams for candidate pairs
  (the verification stage after LSH).
- embedding_neardup: cosine >= threshold over an embedding column,
  LSH-bucketed by random hyperplane signs.

Hashes are xxhash64/md5 (Spark built-ins, deterministic across runs
and cluster sizes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, keeper_id, n_copies,
    member_ids).  Only (hash, id) pairs shuffle."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def bloom_bitset(
    df: DataFrame, key_col: str, n_bits: int = 1 << 18, k: int = 5
) -> list[int]:
    """Build a Bloom filter over df[key_col] DISTRIBUTED and return it
    as a packed list of 63-bit words (63, not 64 — ANSI mode throws on
    BIGINT sign-bit overflow, the simhash lesson).

    Bit positions are pmod(xxhash64(key, i), n_bits) for i in 0..k-1 —
    a Spark built-in computable identically JVM-side at membership-test
    time, so neither build nor probe ever leaves codegen.  The build
    collects only the DISTINCT SET BITS (<= k * n_keys ints, the same
    size class as the bitset itself), never the keys."""
    pos = df.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
                    for i in range(k)
                ]
            )
        ).alias("p")
    ).distinct()
    words = [0] * ((n_bits + 62) // 63)
    for r in pos.collect():
        p = r["p"]
        words[p // 63] |= 1 << (p % 63)
    return words


def bloom_might_contain(
    bitset: list[int], key: Column, n_bits: int = 1 << 18, k: int = 5
) -> Column:
    """JVM-side membership test against a bloom_bitset: TRUE if every
    of the k bit positions of `key` is set (no false negatives; false
    positives bounded by (k*n/n_bits)^k).  The bitset travels as ONE
    from_json folded constant; dynamic bit access avoids pyspark's
    literal-only shiftleft via an element_at into a power-of-two mask
    array."""
    import json as _json

    packed = F.from_json(F.lit(_json.dumps(bitset)), "array<bigint>")
    pow2 = F.from_json(
        F.lit(_json.dumps([1 << b for b in range(63)])), "array<bigint>"
    )
    test = F.lit(True)
    for i in range(k):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(n_bits))
        word = F.element_at(packed, F.floor(p / F.lit(63)).cast("int") + 1)
        mask = F.element_at(pow2, F.pmod(p, F.lit(63)).cast("int") + 1)
        test = test & (word.bitwiseAND(mask) != 0)
    return test


def incremental_dedup_bloom(
    incoming: DataFrame,
    existing: DataFrame,
    key_col: str = "text_hash",
    n_bits: int = 1 << 18,
    k: int = 5,
    min_existing_rows: int | None = None,
) -> DataFrame:
    """Incoming rows whose key is ABSENT from the existing corpus —
    the incremental-dedup anti-join with the bloom pre-pass the
    entry_queries.q_incremental_dedup docstring promises at scale.

    Why the pre-pass: the plain `incoming ANTI JOIN existing` must
    shuffle the ENTIRE existing key set (the anti-join's small side is
    the LEFT, so no broadcast applies).  Instead, a Bloom filter over
    the INCOMING batch's keys (the small side, built distributed by
    bloom_bitset) prunes the existing corpus MAP-SIDE: only existing
    keys that might collide with the batch (~|incoming| + false
    positives) survive to the join, so the corpus-sized shuffle
    disappears and AQE can broadcast the pruned remnant.  Bloom false
    positives only add harmless extra rows to the exact anti-join —
    results are IDENTICAL to the plain form (pytest-pinned).

    min_existing_rows: size gate — below it (or when None the gate is
    off) the plain anti-join is used; a bloom build costs one extra
    job over incoming and only pays for itself when `existing` is
    much larger than the batch."""
    if min_existing_rows is not None and existing.count() < min_existing_rows:
        return incoming.join(existing.select(key_col), key_col, "left_anti")
    bitset = bloom_bitset(incoming, key_col, n_bits, k)
    pruned = existing.select(key_col).where(
        bloom_might_contain(bitset, F.col(key_col), n_bits, k)
    )
    return incoming.join(pruned, key_col, "left_anti")


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), JVM-side: split -> sliding
    windows via transform over an index sequence.

    Texts shorter than n words yield an EMPTY array — guarded
    explicitly because Spark's sequence(0, -1) is a descending
    sequence [0, -1], not empty, which would fabricate shingles."""
    words = F.split(F.lower(text), r"\s+")
    k = F.size(words) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return F.when(k > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signature(text: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """Array of `num_hashes` min-hashes over the shingle set.

    Hash family: inner xxhash64(shingle_string) computed ONCE per
    shingle, then member_i = xxhash64(inner, i) over the resulting
    LONG — double hashing keeps the members independent (64-bit inner
    collisions are negligible) while hashing each shingle's BYTES
    exactly once.  The previous form (xxhash64(shingle, i) per member)
    hashed every shingle string num_hashes times: measured 15 s ->
    ~4 s for the signature pass over 50k docs, because string hashing
    dominates and plan-build has no CSE — an expression referenced k
    times is computed k times (CLAUDE.md).

    Shape: ONE aggregate over the hashed-shingle array with an
    array<long> accumulator of running minima (zip_with + least), the
    same single-accumulator trick as simhash."""
    sh = shingles(text, shingle_n)
    hashed = F.transform(sh, lambda s: F.xxhash64(s))
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)

    def per_member(h: Column) -> Column:
        # closure factory — a 2-param transform lambda would be
        # (element, index), silently making every member identical
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.xxhash64(h, i),
        )

    sig = F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(acc, per_member(h), lambda a, b: F.least(a, b)),
    )
    # empty shingle set (short doc) -> all-sentinel signature; callers
    # filter short docs, but keep the previous all-null convention so
    # degenerate rows can never share a real bucket
    return F.when(F.size(sh) > 0, sig).otherwise(
        F.array_repeat(F.lit(None).cast("long"), num_hashes)
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows -> signature -> explode into `bands` (band_id, band_hash)
    keys -> self-join on the band key.  The shuffle carries only
    (band_hash, id); texts never move.  Pairs are deduped (a<b) and
    distinct across bands.

    max_bucket_size: buckets larger than this are DROPPED before the
    self-join (left_semi against the under-cap bucket list).  A bucket
    of k members emits k(k-1)/2 pairs; one degenerate hot bucket
    (boilerplate, empty docs, tiny shared vocab) turns the join
    quadratic at corpus scale, and a bucket that 1000+ documents share
    carries no near-dup signal anyway.  None disables the cap.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_n)
    # texts shorter than shingle_n words have EMPTY shingle arrays ->
    # all-null signatures -> every short doc would share one bucket per
    # band and emit k(k-1)/2 meaningless pairs; drop them up front
    # (cheap word-count predicate, no shingle recompute)
    df = df.where(
        F.size(F.split(F.lower(F.col(text_col)), r"\s+")) >= F.lit(shingle_n)
    )
    banded = df.select(F.col(id_col).alias("id"), sig.alias("sig")).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(F.col("sig"), b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # Materialize the band table before it fans out into the cap
    # aggregate and BOTH sides of the self-join: a DataFrame referenced
    # k times re-executes its plan k times (no cross-reference CSE), so
    # without this the shingle+signature pass ran 3-4x (measured: full
    # LSH 54 s vs 15 s of signature work at 50k docs).  This mirrors
    # production exactly — at 100 TB the (id, band, bucket) table is
    # computed once and PERSISTED (it is the incremental path's
    # signature table); localCheckpoint is its in-session analog.
    # Tiny: bands x n rows of three scalars, never the text.
    banded = banded.localCheckpoint(eager=True)

    if max_bucket_size is not None:
        ok_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(ok_buckets, ["band", "bucket"], "left_semi")

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, ["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  shingle_n: int = 3) -> DataFrame:
    """Exact Jaccard for candidate pairs (verification after LSH):
    joins each side's shingle set and computes |∩|/|∪| JVM-side."""
    sh = docs.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    out = (
        df_pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a", "id_b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


def simhash(text: Column, shingle_n: int = 2) -> Column:
    """64-bit SimHash: per-shingle xxhash64, each of the 64 bits votes
    +1/-1; the sign vector is the hash.  Expressed as 64 aggregate
    sums over the shingle array (JVM lambda, no shuffle)."""
    sh = shingles(text, shingle_n)

    # ONE pass over the shingle hashes with an array<long> accumulator
    # of 63 bit-vote counters.  (The naive form — 64 independent
    # aggregate() expressions — compiles a massive codegen unit and
    # ran ~100x slower: measured 228s vs ~2s at sf0.1.)  Per shingle
    # the bits come from bin(xxhash64) as a char array — pyspark's
    # shiftright/substring demand literal shift amounts, strings
    # don't.  63 bits, not 64: packing the sign bit would overflow
    # BIGINT under ANSI mode.
    bits_of = lambda s: F.split(F.lpad(F.bin(F.xxhash64(s)), 64, "0"), "")  # noqa: E731
    votes = F.aggregate(
        sh,
        F.array_repeat(F.lit(0).cast("long"), 63),
        lambda acc, s: F.zip_with(
            acc,
            F.slice(
                F.transform(
                    bits_of(s),
                    lambda c: F.when(c == "1", F.lit(1).cast("long")).otherwise(
                        F.lit(-1).cast("long")
                    ),
                ),
                2,  # skip the sign bit (position 1 of the 64-char string)
                63,
            ),
            lambda a, v: a + v,
        ),
    )
    # pack the 63 vote signs MSB-first: acc*2 + bit, max 2^63-1
    return F.aggregate(
        votes,
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2 + F.when(v > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )


def simhash_md5(text: Column) -> Column:
    """Engine-agnostic 60-bit SimHash over distinct lowercase words.

    Same bit-voting construction as :func:`simhash` but the per-token
    hash is md5 (first 15 hex nibbles = 60 bits) instead of xxhash64,
    so any engine with md5 — DuckDB, Trino, Postgres — computes the
    IDENTICAL signature; this is the oracle-checkable twin used by the
    driver gate.  hex -> bit chars via conv(,16,2); votes accumulate in
    ONE array aggregate (the 64-separate-aggregates form is a codegen
    bomb, see simhash())."""
    words = F.array_distinct(F.split(F.lower(text), r"\s+"))
    bits_of = lambda w: F.slice(  # noqa: E731
        F.split(F.lpad(F.conv(F.substring(F.md5(w), 1, 15), 16, 2), 60, "0"), ""), 1, 60
    )
    votes = F.aggregate(
        words,
        F.array_repeat(F.lit(0).cast("long"), 60),
        lambda acc, w: F.zip_with(
            acc,
            F.transform(
                bits_of(w),
                lambda c: F.when(c == "1", F.lit(1).cast("long")).otherwise(
                    F.lit(-1).cast("long")
                ),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        votes,
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2
        + F.when(v > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    signature: Column | None = None,
    bits: int = 63,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance <= k over SimHash
    signatures — the banded bucket-join (Manku/Jain/Sarma's web-dedup
    construction, re-expressed as DataFrame equi-joins).

    Pigeonhole: split the `bits` signature bits into k+1 contiguous
    chunks; two signatures within Hamming distance k must agree
    EXACTLY on at least one chunk (k flipped bits can dirty at most k
    chunks).  So: explode each doc into k+1 (chunk_id, chunk_value)
    rows, equi-join per chunk — the shuffle carries only
    (chunk_value, id, signature) — then post-filter the exact
    distance with bit_count(a XOR b) <= k.  Same scale shape as
    minhash_lsh_candidates: a hash join on a dense key, never a cross
    product; hot chunks (e.g. all-zero signatures from empty docs)
    are dropped by the max_bucket_size cap.

    `signature`: precomputed signature Column (defaults to the
    xxhash64 :func:`simhash` over text_col, 63 bits; pass
    simhash_md5(...) with bits=60 for the engine-agnostic twin).
    """
    sig = signature if signature is not None else simhash(F.col(text_col))
    chunks = k + 1
    w = bits // chunks

    def chunk_val(c: int) -> Column:
        lo = c * w
        width = bits - lo if c == chunks - 1 else w
        # literal shift amounts — pyspark shiftright demands them
        return F.shiftright(F.col("sim"), lo).bitwiseAND(F.lit((1 << width) - 1))

    banded = df.select(F.col(id_col).alias("id"), sig.alias("sim")).select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("cv"))
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "sim", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv"))

    # Materialize the band table before it fans out into the cap
    # aggregate and BOTH sides of the self-join — same rationale as
    # minhash_lsh_candidates above: a DataFrame referenced k times
    # re-executes its plan (the full per-token signature hash) k
    # times.  Tiny: (k+1) rows/doc of four scalars, never the text.
    banded = banded.localCheckpoint(eager=True)

    if max_bucket_size is not None:
        ok = (
            banded.groupBy("chunk", "cv")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select("chunk", "cv")
        )
        banded = banded.join(ok, ["chunk", "cv"], "left_semi")

    left, right = banded.alias("l"), banded.alias("r")
    hamming = F.bit_count(F.col("l.sim").bitwiseXOR(F.col("r.sim"))).cast("long")
    return (
        left.join(right, ["chunk", "cv"])
        .where((F.col("l.id") < F.col("r.id")) & (hamming <= k))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    check_every: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node that appears in `pairs`;
    component = the MINIMUM node id reachable in the undirected pair
    graph — the transitive-clustering step every production dedup runs
    after LSH (collapse candidate pairs into groups, keep one doc per
    group).  No reference analog (the reference ships logs, not
    corpora); this is the Gopher/CCNet-style pipeline stage the LLM
    brief calls for.

    Algorithm: min-label propagation PLUS pointer jumping, all as
    keyed DataFrame self-joins (never a cross product):

      1. propagate: label'(v) = min(label(v), min_{u~v} label(u))
         — one equi-join of the symmetric edge list with the label
         table, one partial-aggregated groupBy(v).
      2. pointer jump: label''(v) = label'(label'(v)) — one
         equi-join of the label table with itself (path halving).

    Propagation alone needs O(diameter) rounds (a 1M-doc near-dup
    chain = 1M rounds); the pointer-jumping step halves label-chain
    depth every round, so convergence is O(log n) rounds — at 100 TB
    that is ~30 shuffles of (id, label) pairs, never of text.

    Per-round driver work is one fingerprint aggregate: labels only
    ever DECREASE, so sum(label) is monotone and the fixpoint is
    'sum unchanged' — no expensive old-vs-new anti-join.  Each round
    localCheckpoints the label table: iterative self-joins otherwise
    double the lineage/plan depth per round, and round 12 would
    re-plan an exponentially deep tree.  (localCheckpoint trades
    executor-loss tolerance for speed; a long job on a preemptible
    cluster should set a checkpoint dir and swap in reliable
    .checkpoint() — one line, same plan shape.)

    Deterministic on any cluster size/partitioning (min is
    commutative); raises if max_iters rounds don't converge (2^25
    chain depth) rather than returning a half-merged clustering.

    check_every: fingerprint-collect cadence.  Labels are monotone
    non-increasing, so a fingerprint unchanged across k rounds proves
    NOTHING moved in any of them — skipping checks never falsely
    converges.  MEASURED (r4 VERDICT #6 asked for cadence 2; BENCH.md
    'dedup-family record'): at 200k docs / 353k pairs, check_every=2
    detects convergence 2 rounds LATE (rounds 8 -> 10) and the extra
    rounds (~1 s each: two keyed joins + localCheckpoint) cost 5-10x
    the saved fingerprint collects (~0.1 s narrow agg each): wall
    10.2 s -> 12.1 s.  The ratio only worsens with data (rounds
    shuffle, fingerprints partial-aggregate), so the default stays 1;
    the knob remains for deployments where driver RTT genuinely
    dominates a round (very small graphs on a remote cluster manager).

    stats: pass a dict to receive {"rounds": n, "checks": m} back
    (bench instrumentation; BENCH.md dedup-family record).
    """
    a, b = F.col(src).alias("v"), F.col(dst).alias("u")
    # checkpoint the edge list: it joins into EVERY round, and without
    # materialization each round would re-execute the upstream pair
    # derivation (the whole LSH banding) from scratch
    edges = (
        pairs.select(a, b).union(pairs.select(b.alias("v"), a.alias("u")))
    ).localCheckpoint(eager=True)
    # Seed labels with min(v, min neighbor) — exactly what round 1's
    # propagate step would compute from the identity labeling, but as
    # ONE partial-aggregated groupBy over the edge list instead of a
    # full round (join + join + checkpoint + fingerprint collect).
    # Every node appears as `v` in the symmetric edge list, so the
    # seeded table covers the same node set; labels only ever decrease
    # from here, so the fixpoint (and the returned clustering) is
    # identical — r6 measured one fewer round on every CC entry.
    labels = (
        edges.groupBy("v").agg(F.min("u").alias("m"))
        .select("v", F.least(F.col("v"), F.col("m")).alias("label"))
    ).localCheckpoint(eager=True)

    def fp(lbl: DataFrame):
        # cast BEFORE the sum: BIGINT ids summed over millions of rows
        # overflow int64 under ANSI mode (which throws, not wraps)
        return lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    fingerprint = fp(labels)

    for it in range(max_iters):
        nbr_min = (
            edges.join(labels.withColumnRenamed("v", "u").withColumnRenamed("label", "lu"), "u")
            .groupBy("v")
            .agg(F.min("lu").alias("m"))
        )
        prop = (
            labels.join(nbr_min, "v", "left")
            .select("v", F.least("label", F.coalesce("m", "label")).alias("label"))
        )
        # label(v) is itself a node id, so it has a row in prop: jump
        jumped = (
            prop.alias("l1")
            .join(
                prop.select(F.col("v").alias("label"), F.col("label").alias("label2")).alias("l2"),
                "label",
            )
            .select(F.col("v"), F.col("label2").alias("label"))
        )
        labels = jumped.localCheckpoint(eager=True)
        if stats is not None:
            stats["rounds"] = it + 1
        if (it + 1) % check_every == 0 or it == max_iters - 1:
            if stats is not None:
                stats["checks"] = stats.get("checks", 0) + 1
            new_fp = fp(labels)
            if new_fp == fingerprint:
                return labels.select("v", F.col("label").alias("component"))
            fingerprint = new_fp
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(pathological chain > 2^25 deep?)"
    )


def dedup_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Cluster-level view of the candidate-pair graph: one row per
    connected component with keeper_id = min member (the doc a dedup
    pass keeps), sorted member list, and n_removable = n_members - 1
    (what `analyze` reports instead of raw pair counts — k near-dup
    docs in one cluster are k-1 removals, not k(k-1)/2 'pairs')."""
    cc = connected_components(pairs, src, dst)
    return (
        cc.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.min("v").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sort_array(F.collect_list("v")).alias("member_ids"),
            (F.count(F.lit(1)) - 1).alias("n_removable"),
        )
    )


def embedding_neardup_candidates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 12,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate candidates over an embedding column via
    random-hyperplane LSH: sign pattern of `planes` fixed pseudo-random
    hyperplanes forms the bucket; same bucket => candidate pair.

    Hyperplane components are derived from xxhash64(seed, plane, dim) —
    deterministic, no driver-side randomness, identical on any cluster.
    """
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)

    def plane_sign(p: int) -> Column:
        comps = F.transform(
            dim_idx,
            lambda d: (
                F.pmod(F.xxhash64(F.lit(seed), F.lit(p), d), F.lit(2001)).cast("double") - 1000.0
            )
            / 1000.0,
        )
        dot = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), comps, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    bucket = F.concat(*[plane_sign(p) for p in range(planes)])
    bucketed = df.select(F.col(id_col).alias("id"), bucket.alias("bucket"))
    if max_bucket_size is not None:
        # hot-bucket cap: a degenerate bucket (e.g. zero vectors, or a
        # hyperplane set that fails to split a dense cluster) would
        # emit k^2/2 pairs — drop buckets too large to be informative
        ok = (
            bucketed.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select("bucket")
        )
        bucketed = bucketed.join(ok, "bucket", "left_semi")
    left, right = bucketed.alias("l"), bucketed.alias("r")
    return (
        left.join(right, "bucket")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """CCNet/MassiveText line-level deduplication (Wenzek et al. 2020
    §3.1; Rae et al. 2021 used the same pass to strip boilerplate):
    every line whose NORMALIZED hash (md5 of trim+lowercase) already
    occurred earlier in the corpus — ordered by (doc_id, line index)
    — is dropped; the first occurrence stays.  This is the pass that
    removes headers, cookie banners and nav text that exact
    doc-level dedup can't see (the dup is a LINE inside otherwise
    unique pages).

    Returns (doc_id, n_lines, n_kept, clean_text): non-empty line
    counts, kept-line count, and the document re-joined from its
    surviving lines in original order.

    Scale shape: one explode to (doc_id, idx, line_hash) rows, ONE
    hash-partitioned window (partitionBy line_hash — tiny groups, no
    global sort) to pick each hash's first occurrence, one
    groupBy(doc_id) partial-agg to re-assemble.  The text shuffles
    once, keyed by line hash; at 100 TB the same plan holds — the
    window's per-hash group is the line's occurrence list, bounded by
    the corpus's duplication factor (skewed boilerplate hashes are
    exactly the rows the pass deletes, and a count-cap salts them if
    one line dominates: drop any line with n_occ > cap outright, no
    order needed)."""
    from pyspark.sql import Window

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("idx", "line"),
    ).where(F.trim(F.col("line")) != "")
    hashed = lines.select(
        id_col, "idx", "line",
        F.md5(F.trim(F.lower(F.col("line")))).alias("lh"),
    )
    w = Window.partitionBy("lh").orderBy(id_col, "idx")
    flagged = hashed.select(
        id_col, "idx", "line",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("idx"), F.col("line"))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.getField("line"),
            ),
            line_sep,
        ).alias("clean_text"),
    )
