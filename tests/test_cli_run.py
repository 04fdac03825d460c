"""CLI `run` semantics: every config target executes (the reference
runs every workflow), each in its own output namespace; explicit CLI
flags beat config values.
"""

import json

from hetman_spark.__main__ import main as cli_main

TWO_TARGET_CFG = """
global:
  out_dir: "%(out)s"
  splits_per_commit: 2
targets:
  - id: alpha
    input: {path: "%(inp)s"}
    parser: {format: nginx}
    forwarders:
      - url: sink://archive
        add_tags: {tier: archive}
  - id: beta
    input: {path: "%(inp)s2"}
    parser: {format: nginx}
    forwarders:
      - url: sink://archive
        add_tags: {tier: archive}
      - url: sink://english
        add_tags: {tier: hot}
        predicate: {col: lang, val: en}
"""


def test_cli_runs_every_target(spark, tmp_path, capsys):
    from hetman_spark.sources.webtext import write_webtext

    inp = str(tmp_path / "in1")
    inp2 = str(tmp_path / "in1") + "2"
    write_webtext(spark, inp, 600, n_splits=4)
    write_webtext(spark, inp2, 400, n_splits=4)
    out = str(tmp_path / "out")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(TWO_TARGET_CFG % {"out": out, "inp": inp})

    rc = cli_main(["run", "--config", str(cfg), "--master", "local[4]"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["targets"] == 2
    assert rep["rows_in"] == 1000  # both targets processed
    # each target owns its namespace (manifests never cross)
    outs = {t["out"] for t in rep["per_target"]}
    assert outs == {f"{out}/alpha", f"{out}/beta"}
    by_out = {t["out"]: t for t in rep["per_target"]}
    assert by_out[f"{out}/alpha"]["rows_in"] == 600
    assert by_out[f"{out}/beta"]["rows_in"] == 400
    # both targets' archive forwarders share one signature (same url +
    # tags -> same identity, workflow.go:72-107), so totals aggregate:
    # archive = 600 + 400; beta adds a second (english) sink id
    assert len(rep["sink_counts"]) == 2
    assert 1000 in rep["sink_counts"].values()


def test_cli_flag_beats_config(spark, tmp_path, capsys):
    """--splits-per-commit explicitly set on the CLI overrides the
    config value (silently-ignored flags were the round-1 bug)."""
    from hetman_spark.plans.checkpoint import read_manifest
    from hetman_spark.sources.webtext import write_webtext

    inp = str(tmp_path / "in1")
    write_webtext(spark, inp, 300, n_splits=4)
    out = str(tmp_path / "out")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        TWO_TARGET_CFG.split("  - id: beta")[0]
        % {"out": out, "inp": inp}
    )
    rc = cli_main(["run", "--config", str(cfg), "--master", "local[4]",
                   "--splits-per-commit", "1", "--max-splits", "1"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # with the CLI's splits_per_commit=1 + max_splits=1, exactly one
    # split committed; under the config's value (2) it would be two
    assert rep["splits_processed"] == 1
    assert len(read_manifest(f"{out}/_manifest")) == 1


def test_cli_aggregator_payloads_mode(spark, tmp_path, capsys):
    """run --payloads: raw gzip Loki payload files decode, adapt and
    union into the pipeline (the full S6 CLI surface)."""
    import gzip

    from hetman_spark.sources.webtext import write_webtext

    payload = {
        "streams": [{
            "stream": {"origin": "push"},
            "values": [[
                "2024-01-02T03:04:05Z",
                '203.0.113.9 - - [02/Jan/2024:03:04:05 +0000] '
                '"GET /push/1 HTTP/1.1" 500 123 "-" "curl/8"',
            ]],
        }]
    }
    pdir = tmp_path / "payloads"
    pdir.mkdir()
    (pdir / "p.json.gz").write_bytes(gzip.compress(json.dumps(payload).encode()))
    inp = str(tmp_path / "in")
    write_webtext(spark, inp, 500, n_splits=4)

    rc = cli_main(["run", "--input", inp, "--out", str(tmp_path / "out"),
                   "--payloads", str(pdir), "--master", "local[4]"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_in"] == 501  # file rows + the pushed record


def test_compact_cli_preserves_counts(spark, tmp_path, capsys):
    """`compact` must rewrite data to one file per (sink, split)
    partition with count-identical sink totals, and `status` must
    still read the untouched manifest afterwards."""
    import glob

    src, out = str(tmp_path / "wt"), str(tmp_path / "out")

    def run(*a):
        rc = cli_main(list(a))
        return rc, capsys.readouterr().out

    rc, _ = run("generate", "--out", src, "--rows", "8000", "--splits", "4")
    assert rc == 0
    rc, out1 = run("run", "--input", src, "--out", out)
    assert rc == 0
    counts = json.loads(out1.strip().splitlines()[-1])["sink_counts"]

    # fabricate the fragmented state a long incremental run reaches at
    # real scale (many write tasks per partition over many commits):
    # split every partition file into two halves, rows preserved
    import os

    import pyarrow.parquet as pq

    for d in glob.glob(f"{out}/data/*/*"):
        (f,) = glob.glob(f"{d}/*.parquet")
        t = pq.read_table(f)
        half = max(t.num_rows // 2, 1)
        kw = {"flavor": "spark", "coerce_timestamps": "us",
              "allow_truncated_timestamps": True}
        pq.write_table(t.slice(0, half), f"{d}/part-frag0.parquet", **kw)
        pq.write_table(t.slice(half), f"{d}/part-frag1.parquet", **kw)
        os.remove(f)

    rc, out2 = run("compact", "--out", out)
    assert rc == 0
    rep = json.loads(out2.strip().splitlines()[-1])
    assert rep["sink_counts"] == dict(sorted(counts.items()))
    assert rep["files_after"] < rep["files_before"]
    # exactly one file per (sink_id, split_id) dir
    for d in glob.glob(f"{out}/data/*/*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    rc, out3 = run("status", "--out", out)
    assert rc == 0
    assert json.loads(out3)["sink_counts"] == dict(sorted(counts.items()))

    # r4 ADVICE low: a previous CRASHED compaction leaves a non-empty
    # data_old behind (the documented crash window); os.rename onto it
    # raises ENOTEMPTY — compact must clear it and stay re-runnable.
    stale = tmp_path / "out" / "data_old"
    (stale / "sink_id=zombie").mkdir(parents=True)
    (stale / "sink_id=zombie" / "junk.parquet").write_bytes(b"not parquet")
    rc, out4 = run("compact", "--out", out)
    assert rc == 0
    assert json.loads(out4.strip().splitlines()[-1])["sink_counts"] == dict(
        sorted(counts.items())
    )
    assert not stale.exists()


GROK_CFG = """
global:
  out_dir: "%(out)s"
targets:
  - id: custom
    input: {path: "%(inp)s"}
    parser:
      format: %(fmt)s
      pattern: '$ip - $user [$when] "$req" $status $size "$ref" "$agent"'
    forwarders:
      - url: sink://archive
        add_tags: {tier: archive}
      - url: sink://errors
        add_tags: {tier: errors}
        predicate: {col: status_class, val: 5xx}
"""


def test_cli_run_parses_with_the_configured_pattern(spark, tmp_path, capsys):
    """The target's grok pattern reaches the parse: the sink tags carry
    the pattern's field names, and its $status still drives the
    status_class route."""
    import os

    from pyspark.sql import functions as F

    from hetman_spark.sources.webtext import write_webtext

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    write_webtext(spark, inp, 300, n_splits=2)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(GROK_CFG % {"out": out, "inp": inp, "fmt": "nginx"})
    assert cli_main(["run", "--config", str(cfg), "--master", "local[4]"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_parsed"] == 300

    data = spark.read.parquet(os.path.join(out, "data"))
    keys = {k for r in data.select(F.map_keys("tags").alias("k")).collect() for k in r["k"]}
    assert {"ip", "user", "when", "req", "status", "size", "ref", "agent"} <= keys
    assert not keys & {"remote_addr", "time_local", "user_agent"}
    tier = F.col("tags")["tier"]
    errors = data.where(tier == "errors")
    assert errors.count() > 0
    assert errors.where(~F.col("tags")["status"].startswith("5")).count() == 0
    assert errors.count() == data.where(
        (tier == "archive") & F.col("tags")["status"].startswith("5")).count()


def test_pattern_without_status_routes_unparsed(spark):
    from hetman_spark.config import ParserConfig
    from hetman_spark.plans.pipeline import build_parsed
    from hetman_spark.sources.webtext import generate_webtext

    parsed = build_parsed(generate_webtext(spark, 50, n_splits=1),
                          ParserConfig(pattern="$addr - $rest"))
    rows = parsed.select("parse_ok", "status_class", "parsed").collect()
    assert all(r["parse_ok"] for r in rows)
    assert {r["status_class"] for r in rows} == {"unparsed"}
    assert all(set(r["parsed"]) == {"addr", "rest"} for r in rows)


def test_cli_run_rejects_a_format_the_pipeline_cannot_parse(spark, tmp_path):
    import pytest

    from hetman_spark.sources.webtext import write_webtext

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    write_webtext(spark, inp, 50, n_splits=1)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(GROK_CFG % {"out": out, "inp": inp, "fmt": "json"})
    with pytest.raises(ValueError, match="parser format 'json' is not supported"):
        cli_main(["run", "--config", str(cfg), "--master", "local[4]"])


def test_submit_job_runs_every_target_with_config_settings(spark, tmp_path, capsys):
    """jobs/run_pipeline_job.py is the CLI's `run`: both targets run,
    each in its own namespace, under the config's splits_per_commit
    (2 -> two commit batches per 4-split target)."""
    import os
    import runpy

    from hetman_spark.plans.checkpoint import read_manifest
    from hetman_spark.sources.webtext import write_webtext

    inp = str(tmp_path / "in1")
    write_webtext(spark, inp, 300, n_splits=4)
    write_webtext(spark, inp + "2", 200, n_splits=4)
    out = str(tmp_path / "out")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(TWO_TARGET_CFG % {"out": out, "inp": inp})

    job = runpy.run_path(os.path.join(os.path.dirname(__file__), "..", "jobs",
                                      "run_pipeline_job.py"))
    assert job["main"](["--config", str(cfg), "--master", "local[4]"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["cmd"] == "run"
    assert rep["targets"] == 2
    assert rep["rows_in"] == 500
    for target in ("alpha", "beta"):
        assert len(read_manifest(f"{out}/{target}/_manifest")) == 2


def test_status_reports_the_run_counters(spark, tmp_path, capsys):
    """status sums the commit records' batch counters, so on a --dedup
    run with duplicate pages its stage_counts equal run's, dedup.dropped
    included, and its sink_counts equal run's."""
    from pyspark.sql import functions as F

    from hetman_spark.sources.webtext import generate_webtext

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    base = generate_webtext(spark, 400, n_splits=4)
    dups = (  # same html/text under new urls
        base.limit(60)
        .withColumn("url", F.concat(F.lit("https://mirror.example.com/"), F.col("url")))
        .withColumn("split_id", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
    )
    base.unionByName(dups).write.partitionBy("split_id").parquet(inp)

    assert cli_main(["run", "--input", inp, "--out", out, "--dedup", "--master", "local[4]"]) == 0
    run = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_main(["status", "--out", out]) == 0
    status = json.loads(capsys.readouterr().out)

    (target,) = run["per_target"]
    assert target["stage_counts"]["source.rows_in"] == 460
    assert target["stage_counts"]["dedup.dropped"] == 60
    assert status["stage_counts"] == target["stage_counts"]
    assert status["sink_counts"] == run["sink_counts"]
    assert status["committed_splits"] == 4
