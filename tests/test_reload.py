"""Config hot-reload: the batch twin of the reference's SIGHUP loop
(/root/reference/internal/cmd/agent.go:106-142) — run_pipeline re-reads
the YAML at every batch boundary, so a config change lands without a
process restart; a broken file keeps the old config.
"""

import os
import threading
import time

CFG_ONE_SINK = """
targets:
  - id: t1
    input: {path: "%s"}
    parser: {format: nginx}
    forwarders:
      - url: sink://archive
        add_tags: {tier: archive, job: webtext}
"""

CFG_TWO_SINKS = CFG_ONE_SINK + """      - url: sink://english
        add_tags: {tier: hot, job: webtext}
        predicate: {col: lang, val: en}
"""


def test_config_hot_reload_between_batches(spark, tmp_path):
    from hetman_spark.config_yaml import load_config
    from hetman_spark.plans.pipeline import run_pipeline
    from hetman_spark.sources.webtext import write_webtext

    inp = str(tmp_path / "webtext")
    write_webtext(spark, inp, 2000, n_splits=8)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(CFG_ONE_SINK % inp)
    _gc, specs = load_config(str(cfg))
    manifest = tmp_path / "out" / "_manifest"

    # rewrite the config once the first batches have committed —
    # emulates an operator editing the file mid-run (SIGHUP analog)
    def rewriter():
        while not (manifest.is_dir() and len(os.listdir(manifest)) >= 2):
            time.sleep(0.02)
        cfg.write_text(CFG_TWO_SINKS % inp)

    t = threading.Thread(target=rewriter, daemon=True)
    t.start()
    res = run_pipeline(
        spark, inp, str(tmp_path / "out"),
        spec=specs[0],
        splits_per_commit=1,
        config_reload_path=str(cfg),
    )
    t.join(timeout=5)

    from hetman_spark.plans.checkpoint import read_manifest

    records = sorted(read_manifest(str(manifest)), key=lambda r: r["committed_at"])
    assert len(records) == 8
    (first_sinks,) = (e["rows_routed"] for e in records[0]["splits"].values())
    (last_sinks,) = (e["rows_routed"] for e in records[-1]["splits"].values())
    # the first committed split ran under the 1-sink config; the last
    # ran after the rewrite and fans out to 2 sinks
    assert len(first_sinks) == 1
    assert len(last_sinks) == 2
    # both sink signatures are in the totals
    assert len(res.sink_counts) == 2


def test_config_hot_reload_broken_file_keeps_old(spark, tmp_path):
    from hetman_spark.config_yaml import load_config
    from hetman_spark.plans.pipeline import run_pipeline
    from hetman_spark.sources.webtext import write_webtext

    inp = str(tmp_path / "webtext")
    write_webtext(spark, inp, 500, n_splits=2)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(CFG_ONE_SINK % inp)
    _gc, specs = load_config(str(cfg))
    cfg.write_text("{{{{ not yaml")  # broken BEFORE the run starts

    res = run_pipeline(
        spark, inp, str(tmp_path / "out"),
        spec=specs[0],
        splits_per_commit=1,
        config_reload_path=str(cfg),
    )
    # reference behavior: reload failure logs and keeps running with
    # the previous config (agent.go error path)
    assert len(res.sink_counts) == 1
    assert res.rows_in == 500


def test_reload_with_input_override_finds_the_running_target(spark, tmp_path, capsys, monkeypatch):
    """run --config C --input X --reload-config: X is not the config's
    input.path, so the reload must find the running target by its id.
    The config gains a sink right after the first batch's write (an
    in-process hook, no thread): the later batches route to both."""
    import json

    from hetman_spark.__main__ import main as cli_main
    from hetman_spark.plans import pipeline
    from hetman_spark.plans.checkpoint import read_manifest
    from hetman_spark.sources.webtext import write_webtext

    inp = str(tmp_path / "webtext")
    write_webtext(spark, inp, 400, n_splits=4)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(CFG_ONE_SINK % "configured/elsewhere")
    real_write = pipeline.write_sinks

    def write_then_edit(*args):
        real_write(*args)
        cfg.write_text(CFG_TWO_SINKS % "configured/elsewhere")

    monkeypatch.setattr(pipeline, "write_sinks", write_then_edit)
    out = str(tmp_path / "out")
    assert cli_main(["run", "--config", str(cfg), "--input", inp, "--out", out,
                     "--splits-per-commit", "1", "--reload-config", "--master", "local[4]"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_in"] == 400
    assert len(rep["sink_counts"]) == 2
    routed = {
        int(s): e["rows_routed"]
        for r in read_manifest(os.path.join(out, "_manifest")) for s, e in r["splits"].items()
    }
    assert [len(routed[s]) for s in range(4)] == [1, 2, 2, 2]
