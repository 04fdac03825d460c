"""Tests for the training-data-pipeline extras: text analysis, dedup,
similarity, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from hetman_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signature,
    ngram_jaccard,
    shingles,
)
from hetman_spark.functions.multimodal import (
    extract_image_features,
    synth_media,
    with_media_metadata,
)
from hetman_spark.functions.text import text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox jumps over the very lazy dog", "en"),  # near-dup
        (4, "der schnelle braune fuchs springt und der hund ist faul", "de"),
        (5, "completely different content about spark pipelines and data", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_text_stats(spark, docs):
    out = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert out[1]["q_n_tokens"] == 9
    assert out[1]["q_stopword_hits"] >= 2  # two "the"
    assert out[1]["lang_guess"] == "en"
    assert out[4]["lang_guess"] == "de"
    assert out[1]["fingerprint"] == out[2]["fingerprint"]  # identical texts
    assert out[1]["fingerprint"] != out[5]["fingerprint"]


def test_exact_dedup(spark, docs):
    groups = exact_dedup(docs).collect()
    dups = [g for g in groups if g["n_copies"] > 1]
    assert len(dups) == 1
    assert dups[0]["keeper_id"] == 1
    assert dups[0]["member_ids"] == [1, 2]


def test_shingles_and_signature_determinism(spark, docs):
    a = docs.select(shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
    assert "the quick brown" in a
    s1 = docs.select(minhash_signature(F.col("text")).alias("m")).collect()
    s2 = docs.repartition(3).select(minhash_signature(F.col("text")).alias("m")).orderBy(F.lit(1)).collect()
    assert {tuple(r["m"]) for r in s1} == {tuple(r["m"]) for r in s2}


def test_minhash_lsh_finds_near_dups(spark, docs):
    # bands=16 x 1 row: the (1,3) near-dup has J=0.5 (5 of 10 distinct
    # shingles shared), so P(missed by all bands) = 0.5^16 ~ 1.5e-5 —
    # robust to the choice of hash family (bands=8 x 2 rows left a ~10%
    # family-dependent miss chance and flipped when the signature
    # switched to the single-pass double-hash form)
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs, bands=16, num_hashes=16).collect()}
    assert (1, 2) in pairs  # exact dups always collide
    # near-dup (1,3) should collide in at least one band with high prob
    assert (1, 3) in pairs or (2, 3) in pairs
    # unrelated docs should not collide
    assert (4, 5) not in pairs


def test_ngram_jaccard_verification(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 5)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(pairs, docs).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.3 < out[(1, 3)] < 1.0
    assert out[(1, 5)] < 0.1


@pytest.fixture(scope="module")
def vectors(spark):
    # 20 deterministic vectors in 8 dims; vec 1 ~ vec 0 (scaled),
    # vec 2 orthogonal-ish
    rows = []
    for i in range(20):
        base = [math.sin(0.7 * i + d) for d in range(8)]
        rows.append((i, [float(x) for x in base]))
    rows[1] = (1, [x * 2.0 for x in rows[0][1]])  # same direction as 0
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_multimodal_plumbing(spark):
    media = with_media_metadata(synth_media(spark, 30))
    assert media.filter("n_bytes != 128").count() == 0  # 4 x 32-char md5 hex
    feats = extract_image_features(media).collect()
    assert len(feats) == 10  # a third of 30
    assert all(64 <= r["width"] <= 1088 for r in feats)
    # determinism
    feats2 = extract_image_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_image_codec_stub_and_auto_agree_without_pillow(spark):
    """Without Pillow, codec="auto" must be byte-identical to the
    forced stub; with Pillow, "auto" would really decode — which is
    exactly why the oracled entry pins codec="stub"."""
    from hetman_spark.functions import multimodal as mm

    media = with_media_metadata(synth_media(spark, 9))
    stub = sorted(map(str, extract_image_features(media, codec="stub").collect()))
    if mm._PIL_Image is None:
        auto = sorted(map(str, extract_image_features(media, codec="auto").collect()))
        assert stub == auto
        with pytest.raises(NotImplementedError):
            mm._decode_image(b"notanimage", "png", codec="pil")


def test_image_decode_real_pil(spark):
    """Real-codec path (r3 VERDICT Next-round #6): collected-but-
    skipped here (no Pillow); on a cluster with Pillow it builds a real
    PNG and asserts the import-guarded path returns true dimensions."""
    from hetman_spark.functions import multimodal as mm

    if mm._PIL_Image is None:
        pytest.skip("Pillow not importable in this container")
    import io

    buf = io.BytesIO()
    mm._PIL_Image.new("RGB", (20, 10)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, "image", "png", bytearray(buf.getvalue()))],
        schema="media_id long, kind string, format string, payload binary",
    )
    feats = extract_image_features(df, codec="pil").collect()
    assert (feats[0]["width"], feats[0]["height"], feats[0]["channels"]) == (20, 10, 3)

def test_minhash_hot_bucket_cap(spark):
    """A bucket larger than max_bucket_size is dropped before the
    self-join (one degenerate bucket is otherwise k^2/2 pairs)."""
    rows = [(i, "identical boilerplate text repeated across the corpus pages", "en")
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # identical docs share every band bucket -> bucket size 10
    uncapped = minhash_lsh_candidates(df, max_bucket_size=None)
    assert uncapped.count() == 10 * 9 // 2
    capped = minhash_lsh_candidates(df, max_bucket_size=5)
    assert capped.count() == 0


def test_shingles_short_text_empty(spark):
    """Texts shorter than n words must yield an EMPTY shingle set
    (Spark's sequence(0,-1) is descending, not empty — guarded)."""
    df = spark.createDataFrame([(1, "two words"), (2, "one two three")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r["sh"] for r in
           df.select("doc_id", shingles(F.col("text"), 3).alias("sh")).collect()}
    assert out[1] == []
    assert out[2] == ["one two three"]


def test_stratified_sample_default_frac_nested_and_stable(spark):
    """A sample at one rate for every row is stratified_sample with no
    strata: the same md5 bucket decides it."""
    from hetman_spark.functions.sample import stratified_sample

    pop = spark.range(2000).withColumnRenamed("id", "doc_id")

    def draw(df, frac, **kw):
        sample = stratified_sample(df, {}, default_frac=frac, **kw)
        return {r["doc_id"] for r in sample.select("doc_id").collect()}

    s10 = draw(pop, 0.1)
    s20 = draw(pop, 0.2)
    # a 10% draw of 2000 keys lands near 200; sanity the rate
    assert 120 <= len(s10) <= 280
    # nested: the 10% draw is a strict subset of the 20% draw (same salt)
    assert s10 <= s20
    # deterministic: a second evaluation (different partitioning) is identical
    assert draw(pop.repartition(7), 0.1) == s10
    # a different salt draws a (near-certainly) different set
    assert draw(pop, 0.1, salt="s1") != s10


def test_stratified_sample_rates(spark, docs):
    from hetman_spark.functions.sample import stratified_sample

    out = stratified_sample(docs, {"en": 1.0}, default_frac=0.0)
    got = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert got == {"en"}  # full en stratum, nothing else
    n_en = docs.filter("lang = 'en'").count()
    assert out.count() == n_en


def test_quality_filter_reasons(spark):
    from hetman_spark.functions.text import quality_filter

    rows = [
        (1, "the cat and the dog went to the park and sat by the old tree"),  # ok
        (2, "too short"),                                # < 10 tokens
        (3, "a b c d e f g h i j k l m n o p"),          # mean token len < 2
        (4, "1 2 3 4 5 6 7 8 9 10 11 12 13 14"),         # low alpha
        (5, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"),  # no EN stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["reason"] for r in quality_filter(df).collect()}
    assert got[1] == "ok"
    assert got[2] == "too_short"
    assert got[3] == "tokens_too_short"
    assert got[4] == "low_alpha"
    assert got[5] == "no_stopwords"
    kept = {r["doc_id"] for r in quality_filter(df).filter("kept").collect()}
    assert kept == {1}


def test_ivf_multiprobe_superset_of_single_probe(spark, vectors):
    """Multi-probe explores the own cell FIRST: every single-probe
    neighbor is still a candidate, so per-query recall can only grow
    (candidate sets are supersets) and top-ranked results at least as
    similar."""
    from hetman_spark.functions.similarity import (
        ivf_topk_multiprobe,
        ivf_topk_quantized,
        probe_cells_int,
        hyperplane_code_int,
    )
    from pyspark.sql import functions as F

    dim = vectors.select(F.size("embedding")).first()[0]
    queries = vectors.orderBy("vec_id").limit(3)
    single = ivf_topk_quantized(vectors, queries, k=5, dim=dim)
    multi = ivf_topk_multiprobe(vectors, queries, k=5, nprobe=3, dim=dim)
    # probe list contains the own cell for every row
    chk = vectors.select(
        hyperplane_code_int(F.col("embedding"), dim=dim).alias("cell"),
        probe_cells_int(F.col("embedding"), nprobe=3, dim=dim).alias("probes"),
    ).withColumn("ok", F.array_contains("probes", F.col("cell")))
    assert chk.filter(~F.col("ok")).count() == 0
    assert chk.filter(F.size("probes") != 3).count() == 0
    # with more candidates, the k-th best dot per query can only improve
    s = {r["query_id"]: r["dot_q"] for r in single.where("rank = 1").collect()}
    m = {r["query_id"]: r["dot_q"] for r in multi.where("rank = 1").collect()}
    for qid, best in s.items():
        assert m[qid] >= best


def test_connected_components_chain_converges_logarithmically(spark):
    """A 200-node chain needs 200 propagation-only rounds; pointer
    jumping must collapse it within max_iters=25 (~log2 rounds) — the
    property that makes clustering viable at web scale."""
    from hetman_spark.functions.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    out = connected_components(chain, max_iters=25).collect()
    assert len(out) == 201
    assert all(r["component"] == 0 for r in out)


def test_dedup_clusters_keeper_and_removables(spark):
    """Two triangles + an isolated pair: clusters, keepers = min ids,
    removable = n_members - 1 per cluster."""
    from hetman_spark.functions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(5, 7), (7, 9), (20, 21), (40, 41), (41, 42), (40, 42)],
        "id_a long, id_b long",
    )
    rows = {r["cluster_id"]: r for r in dedup_clusters(pairs).collect()}
    assert set(rows) == {5, 20, 40}
    assert rows[5]["member_ids"] == [5, 7, 9] and rows[5]["n_removable"] == 2
    assert rows[20]["member_ids"] == [20, 21] and rows[20]["n_removable"] == 1
    assert rows[40]["n_members"] == 3 and rows[40]["keeper_id"] == 40


def test_kmeans_quantized_separates_and_partition_invariant(spark):
    """Integer-exact Lloyd's: two well-separated blobs land in two
    clusters, and the full (id, cluster, dist) assignment is identical
    under a different partitioning (deterministic init/ties/updates)."""
    from hetman_spark.functions.similarity import kmeans_quantized

    rows = [(i, [1.0 + 0.001 * i, 1.0, 1.0, 1.0]) for i in range(10)]
    rows += [(i, [-1.0 - 0.001 * i, -1.0, -1.0, -1.0]) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sorted(
        (r["vec_id"], r["cluster_id"], r["dist_q"])
        for r in kmeans_quantized(df, k=2, iters=3, dim=4).collect()
    )
    by_id = dict((v, c) for v, c, _ in out)
    assert len({by_id[i] for i in range(10)}) == 1
    assert len({by_id[i] for i in range(10, 20)}) == 1
    assert by_id[0] != by_id[10]
    out2 = sorted(
        (r["vec_id"], r["cluster_id"], r["dist_q"])
        for r in kmeans_quantized(df.repartition(7), k=2, iters=3, dim=4).collect()
    )
    assert out == out2


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """With k larger than the number of distinct points, the surplus
    centroids keep their previous position instead of crashing or
    drifting nondeterministically."""
    from hetman_spark.functions.similarity import kmeans_quantized

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_quantized(df, k=3, iters=2, dim=2).collect()
    assert len(out) == 3
    # point 1 ties between centroid0 (same position) and itself as
    # centroid1 -> lowest index wins deterministically
    by_id = {r["vec_id"]: r["cluster_id"] for r in out}
    assert by_id[0] == 0 and by_id[1] == 0 and by_id[2] == 2


def test_multiprobe_recall_measured_against_brute_force(spark, sf_dir):
    """Measure, don't guess: recall@5 of the IVF probes against the
    exact brute-force integer-dot ranking on the driver corpus.
    Multi-probe must never lose to single-probe, and must clear a
    measured floor (deterministic corpus + deterministic planes =>
    stable numbers)."""
    from pyspark.sql import Window

    from hetman_spark.functions.similarity import (
        int_dot_sim,
        ivf_topk_multiprobe,
        ivf_topk_quantized,
        quantize_vec,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.orderBy("vec_id").limit(3)
    qq = queries.select(
        F.col("vec_id").alias("query_id"), quantize_vec(F.col("embedding")).alias("qq")
    )
    cc = e.select(
        F.col("vec_id").alias("neighbor_id"), quantize_vec(F.col("embedding")).alias("cq")
    )
    scored = cc.join(
        F.broadcast(qq), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id", "neighbor_id",
        int_dot_sim(F.col("cq"), F.col("qq")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), "neighbor_id")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rn", F.row_number().over(w))
        .where("rn <= 5").collect()
    }
    # planes must track corpus size: measured on this 500-vector corpus,
    # planes=8 (256 cells, ~2 vecs/cell) gives recall 0.0-0.13 — cells
    # finer than n/target_bucket starve the probe.  planes=2 (4 cells)
    # is right-sized here; the grid measured (planes x nprobe):
    #   planes=2: single 0.200, nprobe=3 -> 0.867
    #   planes=3: single 0.133, nprobe=4 -> 0.600
    #   planes=4: single 0.000, nprobe=4 -> 0.200
    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_single = recall(ivf_topk_quantized(e, queries, k=5, planes=2, dim=64))
    r_multi2 = recall(ivf_topk_multiprobe(e, queries, k=5, planes=2, nprobe=2, dim=64))
    r_multi3 = recall(ivf_topk_multiprobe(e, queries, k=5, planes=2, nprobe=3, dim=64))
    assert r_single <= r_multi2 <= r_multi3  # monotone in nprobe
    assert r_multi3 >= 0.8, f"recall@5 {r_multi3} (single {r_single})"

    # trained-centroid IVF (r4 VERDICT #1): at EQUAL cell count (4)
    # and equal probe count, k-means-trained cells follow the corpus
    # density and must beat the data-independent hyperplane cells.
    # Measured on this deterministic corpus:
    #   nprobe=1: hyperplane 0.600  trained 0.867
    #   nprobe=2: hyperplane 0.733  trained 0.933
    from hetman_spark.functions.similarity import ivf_topk_trained

    r_t1 = recall(ivf_topk_trained(e, queries, k=5, n_cells=4, iters=3,
                                   nprobe=1, dim=64))
    r_t2 = recall(ivf_topk_trained(e, queries, k=5, n_cells=4, iters=3,
                                   nprobe=2, dim=64))
    r_h1 = recall(ivf_topk_multiprobe(e, queries, k=5, planes=2, nprobe=1, dim=64))
    assert r_t1 > r_h1, f"trained {r_t1} must beat hyperplane {r_h1} at nprobe=1"
    assert r_t2 > r_multi2, f"trained {r_t2} must beat hyperplane {r_multi2} at nprobe=2"
    assert r_t1 >= 0.8 and r_t2 >= 0.9  # measured floors


def test_bloom_prepass_equals_plain_antijoin(spark, sf_dir):
    """The bloom pre-pass (r4 VERDICT #7) must return EXACTLY the
    plain anti-join's survivors: no false negatives by construction,
    and false positives only feed extra rows into the exact anti-join.
    Also pins the no-false-negative property directly: every existing
    key that IS in the incoming batch passes the filter."""
    from hetman_spark.functions.dedup import (
        bloom_bitset,
        bloom_might_contain,
        incremental_dedup_bloom,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hashed = d.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    existing = hashed.where(F.col("doc_id") < 250).select("text_hash")
    incoming = hashed.where(F.col("doc_id") >= 250)

    plain = incoming.join(existing, "text_hash", "left_anti")
    bloomed = incremental_dedup_bloom(incoming, existing, n_bits=1 << 14)
    assert sorted(r["doc_id"] for r in plain.collect()) == sorted(
        r["doc_id"] for r in bloomed.collect()
    )
    # size gate: below the threshold the plain path runs (same result)
    gated = incremental_dedup_bloom(
        incoming, existing, min_existing_rows=10**9
    )
    assert gated.count() == plain.count()
    # no false negatives: keys present in the batch always pass
    bitset = bloom_bitset(incoming, "text_hash", n_bits=1 << 14)
    present = incoming.select("text_hash")
    assert (
        present.where(
            ~bloom_might_contain(bitset, F.col("text_hash"), n_bits=1 << 14)
        ).count()
        == 0
    )


def test_connected_components_matches_union_find_reference(spark):
    """Randomized cross-check: 30 seeded random graphs (disjointly
    offset into ONE frame -> one Spark job) must produce exactly the
    components a plain union-find computes."""
    import random

    rng = random.Random(42)
    edges, expected_parent = [], {}

    def uf_find(p, x):
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    offset = 0
    all_nodes = []
    for _ in range(30):
        n = rng.randint(2, 40)
        m = rng.randint(1, 60)
        p = {i + offset: i + offset for i in range(n)}
        for _ in range(m):
            a, b = rng.randrange(n) + offset, rng.randrange(n) + offset
            if a == b:
                continue
            edges.append((min(a, b), max(a, b)))
            ra, rb = uf_find(p, a), uf_find(p, b)
            if ra != rb:
                p[max(ra, rb)] = min(ra, rb)
        all_nodes.extend(p)
        expected_parent.update(p)
        offset += n

    from hetman_spark.functions.dedup import connected_components

    nodes_in_pairs = {v for e in edges for v in e}
    expected = {
        v: uf_find(expected_parent, v) for v in all_nodes if v in nodes_in_pairs
    }
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["v"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


def test_span_dedup_text_removes_all_but_first_occurrence(spark, tmp_path):
    """Lee et al. removal semantics: a 5-gram duplicated anywhere in
    the corpus (cross-doc or intra-doc) survives only at its lowest
    (doc_id, pos) occurrence; covered words vanish from the cleaned
    text and untouched docs pass through byte-identical."""
    from hetman_spark.entry_queries import q_span_dedup_text

    docs = [
        (1, "a b c d e f", "en", "web", 11),
        (2, "x a b c d e y", "en", "web", 13),          # cross-doc dup of doc 1's gram
        (3, "p q r s t p q r s t", "en", "web", 19),    # intra-doc repeat
        (4, "unique words only here never repeated", "en", "web", 38),
    ]
    path = str(tmp_path / "sf")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")

    got = {r["doc_id"]: r for r in q_span_dedup_text(spark, path).collect()}
    assert got[1]["clean_text"] == "a b c d e f" and got[1]["n_removed"] == 0
    assert got[2]["clean_text"] == "x y" and got[2]["n_removed"] == 5
    assert got[3]["clean_text"] == "p q r s t" and got[3]["n_removed"] == 5
    assert got[4]["n_removed"] == 0
    assert got[4]["clean_text"] == "unique words only here never repeated"
    assert all(r["n_words"] == len(docs[i][1].split()) for i, r in
               ((0, got[1]), (1, got[2]), (2, got[3]), (3, got[4])))


def test_dsir_weights_direction(spark, tmp_path):
    """Tokens exclusive to the target (en) stratum weigh 0 or better;
    tokens the target never uses weigh negative — so docs written in
    the target's vocabulary outscore docs outside it (the DSIR
    log-ratio direction)."""
    from hetman_spark.entry_queries import q_dsir_weights

    docs = [
        (1, "alpha beta alpha beta", "en", "web", 21),
        (2, "alpha beta beta alpha", "en", "web", 21),
        (3, "gamma gamma gamma gamma", "fr", "web", 23),
    ]
    path = str(tmp_path / "sf")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")
    got = {r["doc_id"]: r["dsir_score"] for r in q_dsir_weights(spark, path).collect()}
    assert got[1] == 0 and got[2] == 0   # en-only vocab: target == raw
    assert got[3] < 0                    # never-in-target vocab: penalized


def test_canonical_url_goldens(spark):
    from hetman_spark.functions.text import canonical_url

    cases = [
        ("HTTPS://Host.Example.COM:443/a/b/?q=1#frag", "https://host.example.com/a/b"),
        ("http://EXAMPLE.com:80/", "http://example.com"),
        ("https://example.com/a//", "https://example.com/a"),
        ("https://example.com:8080/a", "https://example.com:8080/a"),
        ("https://example.com/wiki/page-3", "https://example.com/wiki/page-3"),
        ("https://example.com/a?utm_source=feed&ref=rss", "https://example.com/a"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["c"] for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_pq_topk_recall_measured_against_brute_force(spark, sf_dir):
    """PQ-ADC recall@5 vs brute-force integer-L2 ground truth,
    MEASURED and pinned (deterministic end-to-end): 0.22 at m=8/ks=8
    on the sf0.001 fixture — 22x the 5/499 chance baseline.  The
    fixture's embeddings are uniform-random, the worst case for PQ
    (nothing for per-subspace k-means to learn; ks=16 measured at
    0.18, i.e. NOT monotone in ks here) — on clustered real
    embeddings the same code is the standard IVFADC inner loop, and
    recall is recovered at scale by scoring a larger candidate pool
    per coarse cell."""
    import math

    from hetman_spark.functions.similarity import pq_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nq, k = 10, 5
    q = e.orderBy("vec_id").limit(nq)
    got = pq_topk(e, q, k=k).collect()
    nb = {}
    for r in got:
        nb.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def qz(v):
        return [math.floor(x * 1000) for x in v]

    corpus = [(r["vec_id"], qz(r["embedding"])) for r in e.collect()]
    queries = sorted(corpus)[:nq]
    hits = 0
    for qid, qv in queries:
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, cv)), vid)
            for vid, cv in corpus if vid != qid
        )
        hits += len({vid for _, vid in d[:k]} & nb[qid])
    assert hits / (nq * k) == 0.22


def test_semdedup_components_and_farthest_keeper(spark):
    """SemDeDup with PINNED centroids: two blobs of colinear (cos=1)
    vectors plus one off-axis member — blob members collapse to one
    component each, the keeper is the member FARTHEST from its
    centroid (Abbas et al.'s keep-lowest-centroid-similarity rule),
    and the off-axis vector (cos ~0.32 < tau=0.4) keeps itself."""
    from hetman_spark.functions.similarity import semdedup

    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [1.1, 1.1, 1.1, 1.1]),
        (2, [0.95, 0.95, 0.95, 0.95]),
        (10, [-1.0, -1.0, -1.0, -1.0]),
        (11, [-1.2, -1.2, -1.2, -1.2]),
        (12, [-0.9, -0.9, -0.9, -0.9]),
        (13, [-3.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1000] * 4, [-1000] * 4]
    out = {
        r["vec_id"]: r
        for r in semdedup(df, centroids=cents, dim=4).collect()
    }
    assert {v: r["cluster_id"] for v, r in out.items()} == {
        0: 0, 1: 0, 2: 0, 10: 1, 11: 1, 12: 1, 13: 1,
    }
    assert {v: r["component"] for v, r in out.items()} == {
        0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10, 13: 13,
    }
    # keepers: 1 (dist 40000 > 10000 > 0) and 11 (160000 > 40000 > 0),
    # 13 is its own singleton
    assert {v for v, r in out.items() if r["keep"] == 1} == {1, 11, 13}


def test_c4_line_filter_rules(spark):
    """Every C4 rule on a constructed page: terminal punctuation,
    min-words, javascript line, lorem-ipsum page, brace page,
    too-few-lines page, and a clean page whose surviving lines are
    re-joined in order."""
    from hetman_spark.functions.text import c4_line_filter

    good = (
        "this first line has enough words here.\n"
        "short line.\n"
        "no terminal punctuation on this long line\n"
        "please enable javascript to view this page.\n"
        "the second surviving line also has plenty of words!\n"
        'a third "quoted" surviving line has words too?'
    )
    rows = [
        (1, good),
        (2, "lorem ipsum dolor sit amet consectetur adipiscing elit."),
        (3, "var x = { a: 1 };\nreal sentence with five good words."),
        (4, "only one surviving line with enough words here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", c4_line_filter(F.col("text")).alias("s")
        ).select("doc_id", "s.*").collect()
    }
    assert out[1]["verdict"] == "ok" and out[1]["n_lines"] == 6
    assert out[1]["n_kept"] == 3
    assert out[1]["clean_text"] == (
        "this first line has enough words here.\n"
        "the second surviving line also has plenty of words!\n"
        'a third "quoted" surviving line has words too?'
    )
    assert out[2]["verdict"] == "lorem" and out[2]["clean_text"] is None
    assert out[3]["verdict"] == "brace"
    assert out[4]["verdict"] == "too_few_lines" and out[4]["n_kept"] == 1


def test_doc_chunks_overlap_and_short_tail(spark, sf_dir):
    """Chunk windows: stride-40/size-50 over a 130-token doc gives
    chunks at offsets 0/40/80 (full) and a short tail; consecutive
    chunks share exactly 10 tokens; a doc shorter than the window is
    one chunk of its own length."""
    from hetman_spark.entry_queries import q_doc_chunks

    out = q_doc_chunks(spark, sf_dir).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_ix"])
        assert [c["chunk_ix"] for c in chunks] == list(range(len(chunks)))
        for c in chunks[:-1]:
            assert c["n_tokens"] == 50
        assert 1 <= chunks[-1]["n_tokens"] <= 50
        if len(chunks) > 1:
            a = chunks[0]["chunk_text"].split(" ")
            b = chunks[1]["chunk_text"].split(" ")
            assert a[40:] == b[: len(a) - 40]  # stride overlap


def test_sequence_pack_bins_conservation(spark, sf_dir):
    """Concat-and-cut packing: per lang, bin ids are dense from 0 and
    total packed tokens/docs equal the corpus totals (nothing lost at
    cut points)."""
    from hetman_spark.entry_queries import q_sequence_pack_bins

    rows = q_sequence_pack_bins(spark, sf_dir).collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r)
    src = {
        r["lang"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(F.split("text", " "))).alias("t"),
        )
        .collect()
    }
    for lang, bins in per_lang.items():
        bins.sort(key=lambda r: r["bin_id"])
        assert bins[0]["bin_id"] == 0
        assert sum(b["n_docs"] for b in bins) == src[lang][0]
        assert sum(b["n_tokens"] for b in bins) == src[lang][1]


def test_nfc_normalize_collapses_decomposed(spark):
    """The NFC pandas UDF rewrites decomposed a+U+0301 to precomposed
    U+00E1 and leaves already-composed text alone — so hash-keyed
    dedup after normalization collapses byte-distinct visual twins."""
    from hetman_spark.functions.text import nfc_normalize_udf

    rows = [(1, "caf\u00e9"), (2, "cafe\u0301"), (3, "plain")]
    df = spark.createDataFrame(rows, "id long, t string")
    nfc = nfc_normalize_udf()
    out = {r["id"]: r["n"] for r in df.select("id", nfc("t").alias("n")).collect()}
    assert out[1] == out[2] == "caf\u00e9"
    assert out[3] == "plain"


def test_semdedup_pandas_gram_equals_expression_path(spark, sf_dir):
    """The NumPy gram-matrix pair generator (pandas_gram=True) and the
    pure-Catalyst ANSI-checked self-join produce the IDENTICAL final
    (vec_id, cluster_id, component, keep) table."""
    from hetman_spark.functions.similarity import semdedup

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fast = sorted(map(tuple, semdedup(e, dim=64, pandas_gram=True).collect()))
    slow = sorted(map(tuple, semdedup(e, dim=64, pandas_gram=False).collect()))
    assert fast == slow and len(fast) > 0


def test_winnow_fingerprints_guarantees(spark, sf_dir):
    """Winnowing invariants (Schleimer et al. 2003): (1) every window
    of w consecutive grams contains >= 1 selected position, (2) two
    docs sharing a long substring share at least one fingerprint,
    (3) density is far below 1 (the point of the sketch)."""
    from hetman_spark.entry_queries import (
        _WN_K,
        _WN_W,
        q_winnow_fingerprints,
    )

    rows = q_winnow_fingerprints(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["pos"])
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    total_sel = total_grams = 0
    for doc_id, positions in by_doc.items():
        n_grams = len(docs[doc_id].split(" ")) - _WN_K + 1
        total_sel += len(positions)
        total_grams += n_grams
        for i in range(n_grams - _WN_W + 1):
            assert any(i <= p < i + _WN_W for p in positions), (doc_id, i)
    assert total_sel / total_grams < 0.6  # sketch, not the full stream

    # shared-substring guarantee on a constructed pair, next to docs
    # too short for one window (0, 1 and 2 words: fewer than k; 4
    # words: fewer than k+w-1), each matched against the DuckDB oracle
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(900001, "xx yy " + shared), (900002, shared + " qq rr ss tt"),
         (900010, ""), (900011, "one"), (900012, "one two"),
         (900014, "one two three four")],
        "doc_id long, text string",
    )
    import os
    import tempfile

    import duckdb

    from hetman_spark.entry_queries import ORACLES
    from tools.check_parity import normalize

    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = q_winnow_fingerprints(spark, tmp).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[900001] & fps[900002]
    assert set(fps) == {900001, 900002}  # no short doc selects anything

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet/*.parquet'")
    cur = con.execute(ORACLES["winnow_fingerprints"])
    cols = [c[0] for c in cur.description]
    oracle = [dict(zip(cols, r)) for r in cur.fetchall()]
    assert normalize([r.asDict() for r in out], cols) == normalize(oracle, cols)


def test_ivfpq_neighbors_come_from_probed_cells(spark, sf_dir):
    """IVFPQ structural invariant: every returned neighbor's trained
    cell is one of its query's nprobe probed cells, and per-query
    ranks are dense from 1 ordered by ADC distance."""
    from hetman_spark.functions.similarity import (
        centroid_dist_array,
        ivfpq_topk,
        quantize_vec,
        train_kmeans_centroids,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, cents = train_kmeans_centroids(e, 8, 3, dim=64)
    out = ivfpq_topk(
        e, e.orderBy("vec_id").limit(3), k=5, nprobe=2,
        centroids=cents, dim=64,
    ).collect()

    q = e.select(
        "vec_id", quantize_vec(F.col("embedding")).alias("qv")
    )
    cells = {
        r["vec_id"]: r["cell"]
        for r in q.select(
            "vec_id",
            F.array_min(centroid_dist_array(cents, F.col("qv")))
            .getField("c")
            .alias("cell"),
        ).collect()
    }
    probe = {
        r["vec_id"]: [s["c"] for s in r["p"][:2]]
        for r in q.select(
            "vec_id",
            F.array_sort(centroid_dist_array(cents, F.col("qv"))).alias("p"),
        ).collect()
    }
    per_q = {}
    for r in out:
        assert cells[r["neighbor_id"]] in probe[r["query_id"]]
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_dist"]))
    for ranks in per_q.values():
        ranks.sort()
        assert [r for r, _ in ranks] == list(range(1, len(ranks) + 1))
        assert [d for _, d in ranks] == sorted(d for _, d in ranks)


def test_sq8_topk_recall_measured_against_brute_force(spark, sf_dir):
    """SQ8 asymmetric search vs the exact integer-dot brute-force
    ranking: 8-bit per-dim affine codes lose almost nothing on this
    corpus — measured recall@5 = 1.0 (pinned floor 0.9, leaving
    headroom for a future corpus regen).  Also pins the score scale:
    reconstructed dots must be within 2% of the exact dots for the
    true top-1 (the asymmetric-distance accuracy claim, measured)."""
    from pyspark.sql import Window

    from hetman_spark.functions.similarity import (
        int_dot_sim,
        quantize_vec,
        sq8_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.orderBy("vec_id").limit(3)
    qq = queries.select(
        F.col("vec_id").alias("query_id"), quantize_vec(F.col("embedding")).alias("qq")
    )
    cc = e.select(
        F.col("vec_id").alias("neighbor_id"), quantize_vec(F.col("embedding")).alias("cq")
    )
    scored = cc.join(
        F.broadcast(qq), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id", "neighbor_id",
        int_dot_sim(F.col("cq"), F.col("qq")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), "neighbor_id")
    exact = scored.withColumn("rn", F.row_number().over(w)).where("rn <= 5").collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got = sq8_topk(e, queries, k=5).collect()
    got_set = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(got_set & truth) / len(truth) >= 0.9

    exact_dot = {(r["query_id"], r["neighbor_id"]): r["dot"] for r in exact}
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_dot and exact_dot[key] > 0:
            assert abs(r["score"] - exact_dot[key]) / exact_dot[key] < 0.02


def test_sq8_degenerate_dim_no_div_zero(spark):
    """A constant dimension (mx == mn) must neither divide by zero
    nor shift the reconstruction: recon of a constant dim is exactly
    that constant."""
    from hetman_spark.functions.similarity import sq8_topk

    df = spark.createDataFrame(
        [(0, [1.0, 7.0]), (1, [2.0, 7.0]), (2, [3.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    out = sq8_topk(df, df.where("vec_id = 0"), k=2).collect()
    by_n = {r["neighbor_id"]: r["score"] for r in out}
    # range endpoints and constant dims reconstruct exactly
    assert by_n[2] == 3000 * 1000 + 7000 * 7000
    # midpoint: code floor((2000-1000)*255/2000)=127 -> recon
    # 1000+floor(127*2000/255)=1996 — the documented <=1-step
    # quantization loss, pinned
    assert by_n[1] == 1996 * 1000 + 7000 * 7000


def test_knn_label_vote_synthetic_clusters(spark):
    """Two well-separated direction clusters: every query must be
    assigned its own cluster's label by the 3-NN vote, and the match
    flag must agree with (true == predicted)."""
    from hetman_spark.functions.similarity import knn_label_vote

    rows = []
    # cluster A (label 0) along +x, cluster B (label 7) along +y
    for i in range(6):
        rows.append((i, [10.0 + i * 0.1, 0.1 * i], 0))
    for i in range(6):
        rows.append((10 + i, [0.1 * i, 10.0 + i * 0.1], 7))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = df.where("vec_id in (0, 10)")
    out = knn_label_vote(df, queries, k=3).collect()
    by_q = {r["query_id"]: r for r in out}
    assert by_q[0]["predicted_label"] == 0 and by_q[0]["match"] == 1
    assert by_q[10]["predicted_label"] == 7 and by_q[10]["match"] == 1
    assert by_q[0]["votes"] == 3 and by_q[10]["votes"] == 3


def test_knn_label_vote_tie_breaks_to_smaller_label(spark):
    """A 1-1 vote split (k=2, one neighbor from each cluster) must
    deterministically pick the smaller label — the documented
    tie-break, pinned so engine/version changes can't flip it."""
    from hetman_spark.functions.similarity import knn_label_vote

    df = spark.createDataFrame(
        [
            (0, [1.0, 1.0], 5),
            (1, [1.0, 0.9], 9),   # neighbor 1, label 9
            (2, [0.9, 1.0], 3),   # neighbor 2, label 3
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = knn_label_vote(df, df.where("vec_id = 0"), k=2).collect()
    assert len(out) == 1
    assert out[0]["predicted_label"] == 3 and out[0]["votes"] == 1
    assert out[0]["match"] == 0


def test_line_dedup_first_occurrence_survives(spark):
    """CCNet line dedup: the shared boilerplate line survives only in
    the (doc_id, idx)-first document; normalization (case + edge
    whitespace) collapses variants; kept lines stay in original
    order; counts reconcile."""
    from hetman_spark.functions.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha line\nAccept Cookies\nunique beta line"),
            (2, "  accept cookies  \nanother unique line"),
            (3, "third doc only line\naccept cookies"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["clean_text"] == "unique alpha line\nAccept Cookies\nunique beta line"
    # docs 2 and 3 lose their normalized-duplicate banner line
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "another unique line"
    assert out[3]["n_lines"] == 2 and out[3]["n_kept"] == 1
    assert out[3]["clean_text"] == "third doc only line"


def test_line_dedup_all_lines_dropped_doc_remains(spark):
    """A doc made ENTIRELY of already-seen lines stays in the output
    with n_kept=0 and empty clean_text — rows are never silently
    dropped (P6 convention)."""
    from hetman_spark.functions.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "same line\nother line"), (2, "same line"), (3, "other line\nsame line")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""
    assert out[3]["n_kept"] == 0 and out[3]["clean_text"] == ""


def test_word_ngrams_short_doc_guard(spark):
    """Docs shorter than n words yield an EMPTY gram array — pinning
    the sequence(1, stop<1)-descends gotcha the guard exists for."""
    from hetman_spark.functions.text import word_ngrams

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "a")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", word_ngrams(F.col("text"), 3).alias("g")).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == [] and out[3] == []


def test_pii_redact_counts_and_masks(spark):
    """Each PII kind is counted and masked; replace order keeps an
    email intact (its digits must not be half-eaten by the IP/phone
    patterns); clean text passes through untouched."""
    from hetman_spark.functions.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@sub.example.co.uk and 10.0.0.1 now"),
            (2, "call 555-013-4477 or 555-013-4478"),
            (3, "no pii here at all"),
            (4, "v4 addr 192.168.255.3 then user9@example.com"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", pii_redact(F.col("text")).alias("p"))
        .select("doc_id", "p.*")
        .collect()
    }
    assert (out[1]["n_emails"], out[1]["n_ips"]) == (1, 1)
    assert out[1]["masked"] == "mail <EMAIL> and <IP> now"
    assert out[2]["n_phones"] == 2
    assert out[2]["masked"] == "call <PHONE> or <PHONE>"
    assert (out[3]["n_emails"], out[3]["n_phones"], out[3]["n_ips"]) == (0, 0, 0)
    assert out[3]["masked"] == "no pii here at all"
    assert out[4]["masked"] == "v4 addr <IP> then <EMAIL>"


def test_bpe_merge_steps_trains_expected_pairs(spark):
    """Hand-checkable corpus: 'low' x5 + 'lower' x2 + 'lowest' x2
    (the Sennrich et al. running example shape).  Pair counts:
    (l,o)=9, (o,w)=9 -> tie broken lexicographically to 'l o' first;
    merge 2 then pairs 'lo w'=9; merge 3 'low e'=4 ties ('e r'=2,
    'e s'=2 lower)."""
    from hetman_spark.functions.text import bpe_merge_steps

    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["lowest"] * 2)
    df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    rows = bpe_merge_steps(df, n_merges=3).orderBy("merge_idx").collect()
    assert [(r["merge_idx"], r["pair"], r["merged"], r["pair_count"]) for r in rows] == [
        (1, "l o", "lo", 9),
        (2, "lo w", "low", 9),
        (3, "low e", "lowe", 4),
    ]


def test_bpe_merge_two_pass_replace_semantics(spark):
    """Pin the merge-application definition on the edge cases: back-
    to-back occurrences sharing a delimiter all merge (two passes);
    an odd run >=5 of a SELF-pair pairs as (1,2),(4,5) — documented
    deviation from priority-queue BPE's (1,2),(3,4), identical on
    both engines by construction."""
    from hetman_spark.functions.text import bpe_merge_steps

    # 'ababab' -> pair (a,b) x3 dominates; all three must merge, so
    # iteration 2's top pair is ('ab','ab').
    df = spark.createDataFrame([(1, "ababab ababab")], "doc_id long, text string")
    rows = bpe_merge_steps(df, n_merges=2).orderBy("merge_idx").collect()
    assert (rows[0]["pair"], rows[0]["pair_count"]) == ("a b", 6)
    assert (rows[1]["pair"], rows[1]["merged"]) == ("ab ab", "abab")

    # self-pair odd run: 'aaaaa' x1 -> merge 1 is (a,a) count 4; the
    # two-pass pairing leaves the MIDDLE 'a' single ('aa a aa'), so
    # iteration 2 sees pair ('aa','a')=1 and ('a','aa')=1 — the tie
    # breaks lexicographically to 'a aa'.
    df2 = spark.createDataFrame([(1, "aaaaa")], "doc_id long, text string")
    rows2 = bpe_merge_steps(df2, n_merges=2).orderBy("merge_idx").collect()
    assert (rows2[0]["pair"], rows2[0]["pair_count"]) == ("a a", 4)
    assert rows2[1]["pair"] == "a aa"


def test_ivfpq_residual_neighbors_come_from_probed_cells(spark, sf_dir):
    """Residual-IVFADC structural invariant (mirrors the no-residual
    test): every returned neighbor's trained cell is one of its
    query's nprobe probed cells, ranks dense from 1."""
    from hetman_spark.functions.similarity import (
        centroid_dist_array,
        ivfpq_topk_residual,
        quantize_vec,
        train_kmeans_centroids,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, cents = train_kmeans_centroids(e, 8, 3, dim=64)
    out = ivfpq_topk_residual(
        e, e.orderBy("vec_id").limit(3), k=5, nprobe=2,
        centroids=cents, dim=64,
    ).collect()

    q = e.select("vec_id", quantize_vec(F.col("embedding")).alias("qv"))
    cells = {
        r["vec_id"]: r["cell"]
        for r in q.select(
            "vec_id",
            F.array_min(centroid_dist_array(cents, F.col("qv")))
            .getField("c")
            .alias("cell"),
        ).collect()
    }
    probe = {
        r["vec_id"]: [s["c"] for s in r["p"][:2]]
        for r in q.select(
            "vec_id",
            F.array_sort(centroid_dist_array(cents, F.col("qv"))).alias("p"),
        ).collect()
    }
    per_q = {}
    for r in out:
        assert cells[r["neighbor_id"]] in probe[r["query_id"]]
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_dist"]))
    for ranks in per_q.values():
        ranks.sort()
        assert [rk for rk, _ in ranks] == list(range(1, len(ranks) + 1))
        assert [d for _, d in ranks] == sorted(d for _, d in ranks)


def _ivfpq_recall_pair(spark, e, nq=10, k=5, nprobe=2):
    """Recall@5 of residual vs no-residual IVFADC at IDENTICAL params
    (8 cells, nprobe, m=8, ks=8) against brute-force integer-L2
    ground truth RESTRICTED to the probed cells — the restriction
    isolates the PQ-encoding difference from coarse pruning, which is
    identical for both variants."""
    import math

    from hetman_spark.functions.similarity import (
        centroid_dist_array,
        ivfpq_topk,
        ivfpq_topk_residual,
        quantize_vec,
        train_kmeans_centroids,
    )

    qdf = e.orderBy("vec_id").limit(nq)
    _, cents = train_kmeans_centroids(e, 8, 3, dim=64)

    def qz(v):
        return [math.floor(x * 1000) for x in v]

    corpus = [(r["vec_id"], qz(r["embedding"])) for r in e.collect()]
    queries = sorted(corpus)[:nq]
    q = e.select("vec_id", quantize_vec(F.col("embedding")).alias("qv"))
    cells = {
        r["vec_id"]: r["cell"]
        for r in q.select(
            "vec_id",
            F.array_min(centroid_dist_array(cents, F.col("qv")))
            .getField("c")
            .alias("cell"),
        ).collect()
    }
    probe = {
        r["vec_id"]: {s["c"] for s in r["p"][:nprobe]}
        for r in q.select(
            "vec_id",
            F.array_sort(centroid_dist_array(cents, F.col("qv"))).alias("p"),
        ).collect()
    }

    def recall(out_rows):
        nb = {}
        for r in out_rows:
            nb.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = 0
        for qid, qv in queries:
            d = sorted(
                (sum((a - b) ** 2 for a, b in zip(qv, cv)), vid)
                for vid, cv in corpus
                if vid != qid and cells[vid] in probe[qid]
            )
            hits += len({vid for _, vid in d[:k]} & nb.get(qid, set()))
        return hits / (nq * k)

    r_res = recall(
        ivfpq_topk_residual(
            e, qdf, k=k, nprobe=nprobe, centroids=cents, dim=64
        ).collect()
    )
    r_raw = recall(
        ivfpq_topk(e, qdf, k=k, nprobe=nprobe, centroids=cents, dim=64).collect()
    )
    return r_res, r_raw


def test_ivfpq_residual_recall_measured_vs_no_residual(spark, sf_dir):
    """MEASURED, pinned, two fixtures:

    - uniform-random embeddings (the sf0.001 fixture): no structure
      for either quantizer to learn — residual 0.30 vs raw 0.32, a
      wash (both probing-limited), pinned so a regression in either
      path shows;
    - clustered synthetic (8 tight far-from-origin clusters): raw PQ
      codewords spend all capacity on BETWEEN-cluster variance and
      recall collapses to 0.0, while residual codebooks only have to
      model the within-cell spread — 0.76.  This is exactly why FAISS
      defaults IndexIVFPQ to by_residual=True."""
    import math

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert _ivfpq_recall_pair(spark, e) == (0.3, 0.32)

    def center(c, d):
        return math.sin(1.7 * c + 0.31 * d) * 10.0

    def offset(i, d):
        return math.sin(0.913 * i + 1.77 * d) * 0.8

    rows = [
        (i, [float(center(i % 8, d) + offset(i, d)) for d in range(64)])
        for i in range(200)
    ]
    clustered = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r_res, r_raw = _ivfpq_recall_pair(spark, clustered)
    assert (r_res, r_raw) == (0.76, 0.0)
    assert r_res > r_raw


def test_bpe_merge_steps_matches_python_reference(spark):
    """One Spark call over an adversarial word set (self-pair runs of
    every parity 2-6, interleavings, multi-char collisions, singleton
    chars) vs a pure-Python reference implementing the SAME pinned
    definition (freq-weighted pair counts -> (count desc, pair asc)
    argmax -> two-pass non-overlapping left-to-right replace)."""
    from hetman_spark.functions.text import bpe_merge_steps

    words = [
        "aa", "aaa", "aaaa", "aaaaa", "aaaaaa",
        "ababab", "abab", "banana", "bananas", "low", "lower",
        "xy", "xyx", "yxy", "zz", "z",
        "mississippi", "abcabc", "aabbaabb",
    ]
    corpus = " ".join(words * 3)

    def ref_merges(word_list, n_merges):
        from collections import Counter

        freq = Counter(word_list)
        delims = {w: " " + " ".join(w) + " " for w in freq}
        out = []
        for i in range(1, n_merges + 1):
            pc = Counter()
            for w, d in delims.items():
                toks = d.split()
                for a, b in zip(toks, toks[1:]):
                    pc[f"{a} {b}"] += freq[w]
            pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merged = pair.replace(" ", "")
            out.append((i, pair, merged, cnt))
            src, dst = f" {pair} ", f" {merged} "
            delims = {
                w: d.replace(src, dst).replace(src, dst)
                for w, d in delims.items()
            }
        return out

    df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    got = [
        (r["merge_idx"], r["pair"], r["merged"], r["pair_count"])
        for r in bpe_merge_steps(df, n_merges=4).orderBy("merge_idx").collect()
    ]
    assert got == ref_merges(words * 3, 4)


def test_bpe_encode_stats_hand_computed(spark):
    """Train->encode on the Sennrich corpus: after merges (l o),
    (lo w), (low e) — 'low'=1 token, 'lower'=lowe,r=2, 'lowest'=
    lowe,s,t=3.  Doc of all 9 words: 9 words, 37 chars, 15 tokens."""
    from hetman_spark.functions.text import bpe_encode_stats

    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["lowest"] * 2)
    df = spark.createDataFrame([(7, corpus)], "doc_id long, text string")
    r = bpe_encode_stats(df, n_merges=3).collect()[0]
    assert (r["doc_id"], r["n_words"], r["n_chars"], r["n_tokens"]) == (7, 9, 37, 15)


def test_corpus_release_verdict_order_and_masking(spark, sf_dir):
    """Composition semantics on the real fixture: each derived pair
    (doc_id, doc_id+100000) shares identical text, so whenever the
    quality gate passes, the +100000 copy must be 'dup' and the
    original 'ok'; quality failures outrank 'dup' (first-fail) and
    apply to BOTH copies; masked text ships only for 'ok' and never
    contains a raw seeded address."""
    from hetman_spark.entry_queries import q_corpus_release

    rows = {r["doc_id"]: r for r in q_corpus_release(spark, sf_dir).collect()}
    n = len(rows) // 2
    assert len(rows) == 2 * n
    for i in range(n):
        lo, hi = rows[i], rows[i + 100000]
        if lo["verdict"].startswith("quality:"):
            assert hi["verdict"] == lo["verdict"]  # same text, same gate
        else:
            assert (lo["verdict"], hi["verdict"]) == ("ok", "dup")
            assert lo["masked"] is not None and hi["masked"] is None
            assert "@example.com" not in lo["masked"]
            if i % 7 == 0:
                assert lo["n_pii"] >= 1 and "<EMAIL>" in lo["masked"]


def _gram_md5_factory(words, k: int):
    """(index) -> md5 of the k-gram at that index; a closure factory,
    because binding loop vars via default args inside higher-order
    lambdas silently changes semantics."""
    def g(i):
        return F.md5(F.concat_ws(" ", F.slice(words, i + 1, k)))

    return g


def test_winnow_array_form_matches_shuffle_first(spark, sf_dir):
    """r6 optimization equivalence pin: the zero-shuffle per-row array
    formulation of q_winnow_fingerprints selects the IDENTICAL
    (doc_id, pos, fp) set as the original explode -> groupBy(doc, win)
    -> distinct formulation (re-implemented here as the reference)."""
    from pyspark.sql import functions as F

    from hetman_spark.entry_queries import (
        _WN_K,
        _WN_W,
        _tp,
        q_winnow_fingerprints,
    )

    new = sorted(map(tuple, q_winnow_fingerprints(spark, sf_dir).collect()))

    d = _tp(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_grams = F.size(words) - _WN_K + 1
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_grams - 1),
                _gram_md5_factory(words, _WN_K),
            )
        ).alias("pos", "h"),
        n_grams.cast("long").alias("n_grams"),
    )
    win = grams.select(
        "doc_id", "pos", "h",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("pos") - _WN_W + 1),
                F.least(F.col("pos"), F.col("n_grams") - _WN_W),
            )
        ).alias("win"),
    ).where(F.col("win") >= 0)
    ref = sorted(map(tuple, (
        win.groupBy("doc_id", "win")
        .agg(F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).alias("s"))
        .select(
            "doc_id",
            (-F.col("s.np")).cast("long").alias("pos"),
            F.col("s.h").alias("fp"),
        )
        .distinct()
    ).collect()))
    assert new == ref and len(new) > 0


def test_embedding_neardup_verified_joins_ids_only(spark, sf_dir):
    """r5 VERDICT What's-wrong #1 regression pin: the bucket self-join
    of q_embedding_neardup_verified must carry NO vector column — the
    quantized vectors may only enter the plan via the per-side joins
    AFTER pair dedup.  Checked on the physical plan: every exchange
    that partitions by `bucket` ships only id/bucket columns."""
    import io
    from contextlib import redirect_stdout

    from hetman_spark.entry_queries import q_embedding_neardup_verified

    buf = io.StringIO()
    with redirect_stdout(buf):
        q_embedding_neardup_verified(spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    for block in plan.split("\n\n"):
        if "Exchange hashpartitioning(bucket" in block:
            assert "vq" not in block, block
