"""Config layer tests — semantics from
/root/reference/internal/config/config_test.go."""

import pytest
from pyspark.sql import functions as F

from hetman_spark.config_yaml import ConfigError, load_config
from hetman_spark.operators.modify import fill_timestamp
from hetman_spark.sources.labeled import union_labeled, with_labels

SANE = """
global:
  out_dir: /tmp/out
  salt_buckets: 4
targets:
  - id: webtext
    input: {path: /data/webtext}
    parser: {format: nginx, pattern: '$a - $b'}
    modifier:
      add_fields: {parsed.foo: bar}
      drop_fields: [parsed.message]
      replace_fields:
        - {path: parsed.password, pattern: '.*', replacement: '****'}
    forwarders:
      - url: sink://archive
        add_tags: {tier: archive}
  - id: errors
    input: {path: /data/webtext}
    parser: {format: nginx}
    forwarders:
      - url: sink://errors
        predicate: {col: status_class, val: 5xx}
"""


def _write(tmp_path, body, name="conf.yaml"):
    p = tmp_path / name
    p.write_text(body)
    return str(p)


def test_sane_config(tmp_path):
    gc, specs = load_config(_write(tmp_path, SANE))
    assert gc.out_dir == "/tmp/out" and gc.salt_buckets == 4
    # unique-path dedup merged both targets into one spec w/ both sinks
    # (config.go:219-242: one tailer per file, forwarders merged)
    assert len(specs) == 1
    assert len(specs[0].sinks) == 2
    assert specs[0].modifier.add_fields == {"parsed.foo": "bar"}
    assert specs[0].sinks[1].predicate_val == "5xx"


def test_duplicate_target_id_rejected(tmp_path):
    # config_test.go TestDetectDuplicateTargetID
    body = SANE.replace("id: errors", "id: webtext")
    with pytest.raises(ConfigError, match="duplicate target ID"):
        load_config(_write(tmp_path, body))


def test_insane_parser_format_rejected(tmp_path):
    # parser.NewParser returns nil for unknown format (parser_test.go:69-87)
    body = SANE.replace("format: nginx, pattern: '$a - $b'", "format: bogus")
    with pytest.raises(ConfigError, match="unknown parser format"):
        load_config(_write(tmp_path, body))


def test_forwarder_format_other_than_parquet_rejected(tmp_path):
    # every sink is written as parquet: another format is a config
    # error, not a setting that is silently ignored
    body = SANE.replace("add_tags: {tier: archive}", "add_tags: {tier: archive}\n        format: json")
    with pytest.raises(ConfigError, match="unsupported format 'json'"):
        load_config(_write(tmp_path, body))
    body = SANE.replace("add_tags: {tier: archive}", "add_tags: {tier: archive}\n        format: parquet")
    assert load_config(_write(tmp_path, body))[1][0].sinks == load_config(_write(tmp_path, SANE))[1][0].sinks


def test_no_forwarders_rejected(tmp_path):
    body = """
targets:
  - id: x
    input: {path: /p}
    parser: {format: json}
"""
    with pytest.raises(ConfigError, match="no forwarders"):
        load_config(_write(tmp_path, body))


def test_tags_disjoint_reserves_the_pattern_and_modifier_keys():
    """The fast tag merge (map_concat without dedup) is allowed only
    when no sink tag key can collide with a parsed-map key: the
    pattern's fields and the modifier's added keys, which arrive as
    'parsed.<key>' dot-paths."""
    from hetman_spark.config import ModifierConfig, ParserConfig, SinkConfig
    from hetman_spark.plans.pipeline import tags_disjoint

    sinks = (SinkConfig(url="s://a", add_tags={"foo": "x"}),)
    assert tags_disjoint(sinks)
    assert not tags_disjoint(sinks, ModifierConfig(add_fields={"parsed.foo": "bar"}))
    assert not tags_disjoint(sinks, parser=ParserConfig(pattern="$foo $bar"))
    assert not tags_disjoint((SinkConfig(url="s://a", add_tags={"status": "x"}),))


def test_union_labeled_and_fill_timestamp(spark):
    # S6: pre-labeled push rows unioned with the file source; labels win
    files = spark.createDataFrame([("u1", "l1")], "url string, line string")
    pushed = with_labels(
        spark.createDataFrame([("u2", "l2")], "url string, line string"),
        {"origin": "push"},
    )
    both = union_labeled(files, pushed)
    rows = {r["url"]: r["labels"] for r in both.collect()}
    assert rows["u1"] is None
    assert rows["u2"] == {"origin": "push"}

    # F3: missing timestamp stamped at send time (loki.go:27-31)
    df = spark.createDataFrame([(None,), ("2024-01-01 00:00:00",)], "ts string")
    out = df.select(fill_timestamp(F.col("ts").cast("timestamp")).alias("t")).collect()
    assert out[0]["t"] is not None
    assert str(out[1]["t"]).startswith("2024-01-01")
