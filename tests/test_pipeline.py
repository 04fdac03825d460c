"""End-to-end pipeline tests (SURVEY.md §5 rebuild strategy):
(a) byte-identical extracted text per url,
(b) per-sink counts,
(c) routed-row equality across parallelism,
(d) kill/resume idempotence (partial run + rerun == single full run).
"""

import os

import pytest
from pyspark.sql import functions as F

from hetman_spark.plans.checkpoint import committed_splits
from hetman_spark.plans.pipeline import run_pipeline
from hetman_spark.sources.webtext import generate_webtext, write_webtext

N_ROWS = 3000
N_SPLITS = 8


@pytest.fixture(scope="module")
def webtext_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("wt") / "webtext")
    write_webtext(spark, p, N_ROWS, n_splits=N_SPLITS)
    return p


def test_generator_deterministic(spark):
    a = generate_webtext(spark, 500, partitions=2).orderBy("url").collect()
    b = generate_webtext(spark, 500, partitions=16).orderBy("url").collect()
    assert a == b
    # html embeds text between <p>..</p>
    row = a[0]
    assert f"<p>{row['text']}</p>".encode() in row["html"]
    assert len({r["url"] for r in a}) == 500


def test_generator_skew(spark):
    df = generate_webtext(spark, 5000)
    langs = {r["lang"]: r["n"] for r in df.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert langs["en"] > langs["other"] * 3  # Zipf-ish: hot head
    assert len(langs) == 9  # every lang reachable


def test_pipeline_end_to_end(spark, webtext_path, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(spark, webtext_path, out, splits_per_commit=N_SPLITS)
    assert sorted(res.splits_processed) == list(range(N_SPLITS))
    assert res.rows_in == N_ROWS
    assert res.rows_parsed == N_ROWS  # generator emits well-formed lines

    data = spark.read.parquet(os.path.join(out, "data"))
    # (a) byte-identical text per url vs the golden column
    src = spark.read.parquet(webtext_path).select("url", F.col("text").alias("golden"))
    mism = (
        data.select("url", "text").distinct().join(src, "url")
        .filter(F.col("text") != F.col("golden")).count()
    )
    assert mism == 0

    # (b) per-sink counts: written rows match the driver-side lineage
    written = {r["sink_id"]: r["n"] for r in data.groupBy("sink_id").agg(F.count("*").alias("n")).collect()}
    assert written == res.sink_counts
    # match-all sink got every record
    assert max(written.values()) == N_ROWS

    # tags carry source + sink add_tags + parsed fields
    row = data.limit(1).collect()[0]
    assert row["tags"]["source"] == row["url"]
    assert "status" in row["tags"]

    # one commit record per batch, and nothing else in the output: its
    # per-split lineage and batch counters sum to the result
    from hetman_spark.plans.checkpoint import read_manifest

    assert sorted(os.listdir(out)) == ["_manifest", "data"]
    assert os.listdir(os.path.join(out, "_manifest")) == ["batch-000000.json"]
    records = read_manifest(os.path.join(out, "_manifest"))
    entries = [e for r in records for e in r["splits"].values()]
    assert sorted(int(s) for r in records for s in r["splits"]) == sorted(res.splits_processed)
    assert sum(e["rows_in"] for e in entries) == N_ROWS
    for key, want in res.stage_counts.items():
        assert sum(r["stage_counts"][key] for r in records) == want
    record_sinks: dict[str, int] = {}
    for e in entries:
        for k, v in e["rows_routed"].items():
            record_sinks[k] = record_sinks.get(k, 0) + v
    assert record_sinks == res.sink_counts
    for r in records:
        assert set(r["phase_secs"]) == {"write_job", "lineage"}


def test_resume_idempotent(spark, webtext_path, tmp_path):
    # (d) "kill" after 3 splits -> resume -> identical outputs, no dupes
    out_partial = str(tmp_path / "partial")
    res1 = run_pipeline(spark, webtext_path, out_partial, splits_per_commit=2, max_splits=3)
    assert len(res1.splits_processed) == 3
    assert committed_splits(os.path.join(out_partial, "_manifest")) == set(res1.splits_processed)

    res2 = run_pipeline(spark, webtext_path, out_partial, splits_per_commit=8)
    assert set(res2.splits_processed).isdisjoint(res1.splits_processed)
    assert len(res1.splits_processed) + len(res2.splits_processed) == N_SPLITS

    out_full = str(tmp_path / "full")
    res_full = run_pipeline(spark, webtext_path, out_full, splits_per_commit=8)

    a = spark.read.parquet(os.path.join(out_partial, "data"))
    b = spark.read.parquet(os.path.join(out_full, "data"))
    assert a.count() == b.count()
    # order-insensitive routed-row equality (c)
    key = ["sink_id", "url"]
    assert a.select(*key).exceptAll(b.select(*key)).count() == 0
    assert b.select(*key).exceptAll(a.select(*key)).count() == 0

    # rerunning a fully-committed pipeline does nothing
    res3 = run_pipeline(spark, webtext_path, out_partial)
    assert res3.splits_processed == []


def test_counts_identical_across_parallelism(spark, webtext_path, tmp_path):
    # north_rule: identical per-sink counts at N and 4N parallelism.
    # Same session, different shuffle widths emulate the two sizes.
    # salt_buckets only shapes the plan under presalt=True (the salted
    # (lang, salt) repartition before the enrich join), so both
    # physical shapes run, and must agree with each other as well.
    outs = {}
    for presalt in (False, True):
        for tag, parts in (("n", 2), ("4n", 8)):
            out = str(tmp_path / f"{tag}_{presalt}")
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            res = run_pipeline(spark, webtext_path, out, splits_per_commit=8,
                               salt_buckets=parts, presalt=presalt)
            outs[tag, presalt] = res.sink_counts
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert outs["n", False] == outs["4n", False]
    assert outs["n", True] == outs["4n", True]
    assert outs["n", False] == outs["n", True]


def test_aggregator_mode_labeled_union(spark, tmp_path):
    # S6: a pre-labeled push table unioned before parse; its labels
    # win the tag merge (aggregator.go:72-83 + loki.go:33)
    from hetman_spark.sources.labeled import with_labels
    from hetman_spark.sources.webtext import generate_webtext

    main = str(tmp_path / "main")
    push = str(tmp_path / "push")
    generate_webtext(spark, 400, n_splits=4).repartition(4, "split_id") \
        .write.partitionBy("split_id").parquet(main)
    pushed = with_labels(generate_webtext(spark, 4000, n_splits=4)
                         .filter("split_id = 1").limit(50),
                         {"origin": "push", "status": "pushed-status"})
    pushed.repartition(1).write.partitionBy("split_id").parquet(push)
    n_push = spark.read.parquet(push).count()

    out = str(tmp_path / "out")
    res = run_pipeline(spark, main, out, labeled_input_path=push, splits_per_commit=8)
    assert res.rows_in == 400 + n_push

    data = spark.read.parquet(os.path.join(out, "data"))
    pushed_rows = data.filter(F.col("tags")["origin"] == "push")
    assert pushed_rows.count() > 0
    # upstream labels override parsed fields on key conflict
    row = pushed_rows.limit(1).collect()[0]
    assert row["tags"]["status"] == "pushed-status"


def test_output_file_count_is_commit_scale_safe(spark, tmp_path):
    """The write layout must stay O(sinks x max(tasks, splits)) files —
    a tasks x dirs sliver explosion makes the dynamic-overwrite commit
    (O(files) driver work) the scale bottleneck (BENCH.md 'what was
    changed to make it scale')."""
    import glob

    from hetman_spark.sources.webtext import write_webtext

    inp = str(tmp_path / "in")
    write_webtext(spark, inp, 4000, n_splits=8, files_per_split=2)
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, splits_per_commit=64)
    files = glob.glob(f"{out}/data/sink_id=*/split_id=*/*.parquet")
    n_sinks = 4
    n_splits = 8
    # bound: a handful of files per (sink, split) dir, never task-count
    # multiples of dirs
    assert len(files) <= n_sinks * n_splits * 4
    assert len(files) >= n_sinks  # sanity: all sinks materialized

    # sorted sink writes (r4 VERDICT #9): rows inside every output file
    # are url-sorted (sortWithinPartitions rides the writer's required
    # partition-column sort), so parquet footer min/max stats prune
    # downstream scans on the natural key
    import pyarrow.parquet as pq

    for f in files[:6]:
        urls = pq.read_table(f, columns=["url"])["url"].to_pylist()
        assert urls == sorted(urls), f"unsorted urls in {f}"
        md = pq.read_metadata(f)
        rg = md.row_group(0)
        url_cols = [
            rg.column(i) for i in range(rg.num_columns)
            if rg.column(i).path_in_schema == "url"
        ]
        st = url_cols[0].statistics
        assert st is not None and st.has_min_max  # pruning stats present


def _sink_chunk_footers(data_dir: str) -> dict[str, list]:
    """path_in_schema -> column-chunk metadata of every row group of
    every sink file under data_dir."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{data_dir}/**/*.parquet", recursive=True)
    assert files
    chunks: dict[str, list] = {}
    for f in files:
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                chunks.setdefault(rg.column(i).path_in_schema, []).append(rg.column(i))
    return chunks


def test_sink_files_skip_dictionary_on_high_cardinality_columns(spark, webtext_path, tmp_path):
    """Every sink file, from the batch pipeline and from a streaming
    drain alike (one writer, plans/pipeline.py write_sinks): text, url,
    warc_ts and the tag values are written without a parquet
    dictionary, the low-cardinality lang and tag keys keep theirs, and
    url min/max statistics stay for pruning."""
    from hetman_spark.streaming.stream import streaming_pipeline

    out = str(tmp_path / "batch")
    run_pipeline(spark, webtext_path, out)
    query = streaming_pipeline(spark, webtext_path, str(tmp_path / "stream"),
                               str(tmp_path / "ckpt"))
    query.awaitTermination(120)
    for data_dir in (f"{out}/data", str(tmp_path / "stream" / "data")):
        chunks = _sink_chunk_footers(data_dir)
        for col in ("text", "url", "warc_ts", "tags.key_value.value"):
            assert not any(c.has_dictionary_page for c in chunks[col]), (data_dir, col)
        for col in ("lang", "tags.key_value.key"):
            assert all(c.has_dictionary_page for c in chunks[col]), (data_dir, col)
        assert all(c.statistics is not None and c.statistics.has_min_max
                   for c in chunks["url"]), data_dir


def test_pipeline_dedup_stage(spark, tmp_path):
    """run_pipeline(dedup=True): duplicate texts (planted by copying
    rows under new urls) are dropped deterministically — match-all
    sink carries one record per distinct text, keeper = min url;
    dedup.dropped counts the rest; default run still ships everything."""
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "src")
    base = generate_webtext(spark, 400, n_splits=4)
    # plant dups: 100 rows re-labeled with fresh urls, same html/text
    dups = (
        base.limit(100)
        .withColumn("url", F.concat(F.lit("https://mirror.example.com/"), F.col("url")))
        .withColumn("split_id", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
    )
    base.unionByName(dups).write.partitionBy("split_id").parquet(src_dir)

    res_plain = run_pipeline(spark, src_dir, str(tmp_path / "out_plain"),
                             splits_per_commit=8)
    res_dd = run_pipeline(spark, src_dir, str(tmp_path / "out_dd"),
                          splits_per_commit=8, dedup=True)

    matchall = [s.signature() for s in __import__(
        "hetman_spark.sources.lookup", fromlist=["DEFAULT_SINKS"]
    ).DEFAULT_SINKS if s.predicate_col == "*"][0]
    assert res_plain.sink_counts[matchall] == 500
    assert res_dd.sink_counts[matchall] == 400
    assert res_dd.stage_counts["dedup.dropped"] == 100
    assert res_dd.stage_counts["source.rows_in"] == 500
    # keeper determinism: no mirror url survives when the original
    # (lexicographically smaller) is present
    out = spark.read.parquet(str(tmp_path / "out_dd" / "data"))
    survivors = out.filter(F.col("sink_id") == matchall)
    assert survivors.filter(F.col("url").startswith("https://mirror.")).count() == 0
    assert survivors.select("text").distinct().count() == 400


def test_dedup_stage_keeps_parse_failures(spark, tmp_path):
    """P6 x --dedup (r4 ADVICE medium): parse-failure rows have NULL
    extracted_text, and md5(NULL)=NULL pooled EVERY unparseable row of
    a commit batch into one window partition — distinct failures
    silently collapsed to a single survivor.  The dedup key must fall
    back to url for null-text rows and never drop a failure row."""
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "src")
    base = generate_webtext(spark, 300, n_splits=4)
    # 40 corrupt pages: distinct urls, html that matches no template —
    # all parse to NULL extracted_text (identical garbage bytes, the
    # worst case for a content-hash key)
    corrupt = (
        base.limit(40)
        .withColumn("url", F.concat(F.lit("https://broken.example.com/"), F.col("url")))
        .withColumn("html", F.lit(b"\xef\xbb\xbfNOT-A-TEMPLATE-PAGE"))
        .withColumn("split_id", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
    )
    base.unionByName(corrupt).write.partitionBy("split_id").parquet(src_dir)

    res = run_pipeline(spark, src_dir, str(tmp_path / "out"),
                       splits_per_commit=8, dedup=True)
    matchall = [s.signature() for s in __import__(
        "hetman_spark.sources.lookup", fromlist=["DEFAULT_SINKS"]
    ).DEFAULT_SINKS if s.predicate_col == "*"][0]
    # all 300 unique texts AND all 40 failures ship; dedup drops nothing
    assert res.sink_counts[matchall] == 340
    assert res.stage_counts["dedup.dropped"] == 0
    out = spark.read.parquet(str(tmp_path / "out" / "data"))
    broken = out.filter(
        (F.col("sink_id") == matchall) & F.col("url").startswith("https://broken.")
    )
    assert broken.count() == 40


@pytest.mark.parametrize("dedup", [False, True])
def test_lineage_without_matchall_sink(spark, tmp_path, dedup):
    """Sinks with no match-all sink: the commit record's per-sink
    counts equal a direct count of the sink files, and rows_in /
    rows_parsed per split count the rows that reach the router (the
    dedup survivors with dedup=True), computed here from the input."""
    from hetman_spark.config import PipelineSpec
    from hetman_spark.plans.checkpoint import read_manifest
    from hetman_spark.sources.lookup import DEFAULT_SINKS

    src_dir = str(tmp_path / "src")
    base = generate_webtext(spark, 400, n_splits=4)
    split = F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")
    dups = (  # same html/text under new urls
        base.limit(60)
        .withColumn("url", F.concat(F.lit("https://mirror.example.com/"), F.col("url")))
        .withColumn("split_id", split)
    )
    corrupt = (  # no template: null text, never parsed, never deduped
        base.limit(20)
        .withColumn("url", F.concat(F.lit("https://broken.example.com/"), F.col("url")))
        .withColumn("html", F.lit(b"NOT-A-TEMPLATE-PAGE"))
        .withColumn("split_id", split)
    )
    base.unionByName(dups).unionByName(corrupt).write.partitionBy("split_id").parquet(src_dir)

    sinks = tuple(s for s in DEFAULT_SINKS if s.predicate_col != "*")
    out = str(tmp_path / "out")
    res = run_pipeline(spark, src_dir, out, spec=PipelineSpec(id="", input_path="", sinks=sinks),
                       splits_per_commit=8, dedup=dedup)

    # survivors from the input: corrupt pages always, one page (min
    # url) per distinct text otherwise
    rows = spark.read.parquet(src_dir).select("url", "text", "split_id").collect()
    keeper: dict[str, str] = {}
    for r in rows:
        if not r["url"].startswith("https://broken."):
            keeper[r["text"]] = min(keeper.get(r["text"], r["url"]), r["url"])
    want_in: dict[int, int] = {}
    want_parsed: dict[int, int] = {}
    for r in rows:
        broken = r["url"].startswith("https://broken.")
        if dedup and not broken and keeper[r["text"]] != r["url"]:
            continue
        want_in[r["split_id"]] = want_in.get(r["split_id"], 0) + 1
        want_parsed[r["split_id"]] = want_parsed.get(r["split_id"], 0) + (not broken)
    assert sum(want_in.values()) == (420 if dedup else 480)

    data = spark.read.parquet(os.path.join(out, "data"))
    direct: dict[int, dict[str, int]] = {}
    for r in data.groupBy("split_id", "sink_id").count().collect():
        direct.setdefault(r["split_id"], {})[r["sink_id"]] = r["count"]
    lineage = {
        int(s): e for r in read_manifest(os.path.join(out, "_manifest"))
        for s, e in r["splits"].items()
    }
    assert set(lineage) == set(want_in) == set(range(4))
    for split_id, n_in in want_in.items():
        rec = lineage[split_id]
        assert rec["rows_in"] == n_in, (split_id, rec)
        assert rec["rows_parsed"] == want_parsed[split_id], (split_id, rec)
        assert rec["rows_routed"] == direct[split_id], (split_id, rec)
    assert res.rows_in == sum(want_in.values())
    assert res.rows_parsed == sum(want_parsed.values())
    assert res.sink_counts == {
        k: sum(d.get(k, 0) for d in direct.values()) for k in res.sink_counts
    }


def test_pipeline_neardup_stage(spark, tmp_path):
    """run_pipeline(neardup=True) (r4 VERDICT #2): planted near-dup
    pages (one token appended to the text) are clustered via MinHash
    LSH + connected components per commit batch; every cluster
    non-keeper is absent from the sinks, the drop is in
    neardup.dropped, and a rerun is idempotent."""
    from pyspark.sql import functions as F

    from hetman_spark.functions.dedup import (
        connected_components,
        minhash_lsh_candidates,
        ngram_jaccard,
    )

    src_dir = str(tmp_path / "src")
    base = generate_webtext(spark, 300, n_splits=4)
    # 40 near-dups: same page, one token appended inside <p>...</p>
    # (html AND golden text mutated consistently)
    near = (
        base.limit(40)
        .withColumn("url", F.concat(F.lit("https://near.example.com/"), F.col("url")))
        .withColumn(
            "html",
            F.encode(
                F.regexp_replace(
                    F.decode(F.col("html"), "UTF-8"), "</p>", " zzznear</p>"
                ),
                "UTF-8",
            ),
        )
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzznear")))
        .withColumn("split_id", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
    )
    base.unionByName(near).write.partitionBy("split_id").parquet(src_dir)

    res = run_pipeline(spark, src_dir, str(tmp_path / "out"),
                       splits_per_commit=8, neardup=True)

    # offline expectation: the same LSH -> Jaccard>=0.8 -> CC math over
    # the golden text column (byte-identical to the extracted text by
    # construction)
    src = spark.read.parquet(src_dir)
    docs = src.select(F.xxhash64("url").alias("doc_id"), "text")
    pairs = minhash_lsh_candidates(docs, id_col="doc_id")
    verified = (
        ngram_jaccard(pairs, docs, id_col="doc_id")
        .where(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
    )
    cc = connected_components(verified)
    dropped = {r["v"] for r in cc.where(F.col("v") != F.col("component")).collect()}
    # the verified stage must have caught most planted mutations
    # (J = (w-2)/(w-1) for a w-word doc: >= 0.8 for every w >= 6)
    # without mass-dropping distinct short docs
    assert 25 <= len(dropped) <= 60

    matchall = [s.signature() for s in __import__(
        "hetman_spark.sources.lookup", fromlist=["DEFAULT_SINKS"]
    ).DEFAULT_SINKS if s.predicate_col == "*"][0]
    assert res.sink_counts[matchall] == 340 - len(dropped)
    assert res.stage_counts["neardup.dropped"] == len(dropped)
    assert res.stage_counts["source.rows_in"] == 340

    out = spark.read.parquet(str(tmp_path / "out" / "data"))
    shipped = {
        r["h"]
        for r in out.filter(F.col("sink_id") == matchall)
        .select(F.xxhash64("url").alias("h")).collect()
    }
    assert shipped.isdisjoint(dropped)  # no cluster non-keeper shipped
    assert len(shipped) == 340 - len(dropped)

    # idempotence with the stage on: rerun processes nothing, output
    # counts unchanged
    res2 = run_pipeline(spark, src_dir, str(tmp_path / "out"),
                        splits_per_commit=8, neardup=True)
    assert res2.splits_processed == []
    assert out.filter(F.col("sink_id") == matchall).count() == 340 - len(dropped)


def test_pipeline_redact_pii_stage(spark, tmp_path):
    """run_pipeline(redact_pii=True): rows with planted emails reach
    the sinks MASKED (<EMAIL>), no raw address survives anywhere, no
    row is dropped, pii.docs_masked counts exactly the planted rows,
    and clean rows stay byte-identical to their golden text."""
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "src")
    base = generate_webtext(spark, 300, n_splits=4)
    # row id recovered from the url suffix (generate_webtext does not
    # expose the range id); html is binary -> string round-trip is
    # lossless utf-8
    rid = F.regexp_extract(F.col("url"), r"page-(\d+)$", 1).cast("long")
    planted = F.concat(
        F.col("text"),
        F.lit(" reach me at user"),
        rid.cast("string"),
        F.lit("@example.com now"),
    )
    seeded = base.withColumn(
        "html",
        F.when(
            rid < 50,
            F.replace(F.col("html").cast("string"), F.col("text"), planted)
            .cast("binary"),
        ).otherwise(F.col("html")),
    ).withColumn(
        "text",
        F.when(rid < 50, planted).otherwise(F.col("text")),
    )
    seeded.write.partitionBy("split_id").parquet(src_dir)

    res = run_pipeline(spark, src_dir, str(tmp_path / "out_pii"),
                       splits_per_commit=8, redact_pii=True)

    matchall = [s.signature() for s in __import__(
        "hetman_spark.sources.lookup", fromlist=["DEFAULT_SINKS"]
    ).DEFAULT_SINKS if s.predicate_col == "*"][0]
    assert res.sink_counts[matchall] == 300  # scrub never drops rows
    assert res.stage_counts["pii.docs_masked"] == 50

    # the commit records carry every stage counter, pii too
    from hetman_spark.plans.checkpoint import read_manifest

    records = read_manifest(str(tmp_path / "out_pii" / "_manifest"))
    for key, want in res.stage_counts.items():
        assert sum(r["stage_counts"][key] for r in records) == want

    out = spark.read.parquet(str(tmp_path / "out_pii" / "data"))
    assert out.filter(F.col("text").contains("@example.com")).count() == 0
    survivors = out.filter(F.col("sink_id") == matchall)
    assert survivors.filter(F.col("text").contains("<EMAIL>")).count() == 50
    # clean rows byte-identical to the source golden text
    golden = spark.read.parquet(src_dir).select("url", F.col("text").alias("g"))
    clean = survivors.join(golden, "url").filter(~F.col("text").contains("<EMAIL>"))
    assert clean.filter(~F.col("text").eqNullSafe(F.col("g"))).count() == 0
