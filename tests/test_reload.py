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

    entries = sorted(read_manifest(str(manifest)), key=lambda e: e["committed_at"])
    assert len(entries) == 8
    first_sinks = entries[0]["sink_ids"]
    last_sinks = entries[-1]["sink_ids"]
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
