"""YAML pipeline config — the rebuild of hetman's config layer.

Mirrors Config/TargetConfig loading + validation
(/root/reference/internal/config/config.go:43-139) adapted to the
batch pipeline: a target = {id, input.path, parser, modifier,
forwarders[]}; Process() expands targets into PipelineSpecs the way
the reference expands them into Workflows (config.go:141-258),
deduplicating identical input paths (config.go:219-242).

Validation semantics kept from the reference:
- duplicate non-empty target IDs are an error (config.go:103-116,
  golden: config_test.go TestDetectDuplicateTargetID)
- unknown parser format is an error (parser.NewParser returns nil on
  bad format, parser_test.go:69-87)
- a target with no input becomes a "headless" spec (aggregator mode,
  config.go:206-214) — kept as a spec with input_path="" so a
  pre-labeled source can be attached.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from hetman_spark.config import (
    ModifierConfig,
    ParserConfig,
    PipelineSpec,
    ReplaceFieldSetting,
    SinkConfig,
)

_VALID_FORMATS = {"", "nginx", "json", "syslog-rfc5424", "syslog-rfc3164"}


class ConfigError(ValueError):
    pass


@dataclass(frozen=True)
class GlobalConfig:
    out_dir: str = ""
    salt_buckets: int = 8
    splits_per_commit: int = 64


def _parse_sink(d: dict) -> SinkConfig:
    # every sink is written as zstd parquet (plans/pipeline.py
    # write_sinks); any other format would be silently ignored
    if d.get("format", "parquet") != "parquet":
        raise ConfigError(f"forwarder {d.get('url', '?')!r}: unsupported format {d['format']!r}")
    pred = d.get("predicate", {}) or {}
    return SinkConfig(
        url=d["url"],
        add_tags=dict(d.get("add_tags", {}) or {}),
        predicate_col=pred.get("col", "*"),
        predicate_val=pred.get("val", "*"),
    )


def _parse_target(d: dict) -> PipelineSpec:
    parser_d = d.get("parser", {}) or {}
    fmt = parser_d.get("format", "")
    if fmt not in _VALID_FORMATS:
        raise ConfigError(f"unknown parser format: {fmt!r}")
    mod_d = d.get("modifier", {}) or {}
    modifier = ModifierConfig(
        add_fields=dict(mod_d.get("add_fields", {}) or {}),
        drop_fields=tuple(mod_d.get("drop_fields", []) or []),
        replace_fields=tuple(
            ReplaceFieldSetting(r["path"], r["pattern"], r["replacement"])
            for r in (mod_d.get("replace_fields", []) or [])
        ),
    )
    sinks = tuple(_parse_sink(f) for f in (d.get("forwarders", []) or []))
    if not sinks:
        raise ConfigError(f"target {d.get('id', '?')!r} has no forwarders")
    return PipelineSpec(
        id=d.get("id", ""),
        input_path=(d.get("input", {}) or {}).get("path", ""),
        parser=ParserConfig(
            format=fmt,
            pattern=parser_d.get("pattern", ""),
            multiline_pattern=(parser_d.get("multiline", {}) or {}).get("pattern", ""),
        ),
        modifier=modifier,
        sinks=sinks,
    )


def detect_duplicate_target_ids(targets: list[dict]) -> None:
    """config.go:103-116: non-empty target IDs must be unique."""
    seen: set[str] = set()
    for t in targets:
        tid = t.get("id", "")
        if tid:
            if tid in seen:
                raise ConfigError(f"duplicate target ID: {tid}")
            seen.add(tid)


def load_config(path: str) -> tuple[GlobalConfig, list[PipelineSpec]]:
    """YAML file -> (global config, pipeline specs).

    Identical input paths are merged into one spec with the union of
    their sinks (the reference's unique-path workflow dedup,
    config.go:219-242 — one tailer per file, forwarders merged).
    """
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}

    g = raw.get("global", {}) or {}
    gc = GlobalConfig(
        out_dir=g.get("out_dir", ""),
        salt_buckets=int(g.get("salt_buckets", 8)),
        splits_per_commit=int(g.get("splits_per_commit", 64)),
    )

    targets = raw.get("targets", []) or []
    detect_duplicate_target_ids(targets)
    specs = [_parse_target(t) for t in targets]

    # unique-path dedup: merge sink lists for targets tailing the same path
    by_path: dict[str, PipelineSpec] = {}
    merged: list[PipelineSpec] = []
    for spec in specs:
        if spec.input_path and spec.input_path in by_path:
            prev = by_path[spec.input_path]
            combined = prev.sinks + tuple(s for s in spec.sinks if s not in prev.sinks)
            replacement = replace(prev, sinks=combined)
            by_path[spec.input_path] = replacement
            merged[merged.index(prev)] = replacement
        else:
            if spec.input_path:
                by_path[spec.input_path] = spec
            merged.append(spec)
    return gc, merged


def run_targets(
    config_path: str | None,
    input_path: str | None,
    out_dir: str | None,
    salt_buckets: int | None,
    splits_per_commit: int | None,
) -> tuple[GlobalConfig, list[tuple[str, str, PipelineSpec]]]:
    """The targets of one `run` (the spark-submit job is `run` too):
    [(input_path, out_dir, spec)] plus the run's settings.

    Every config target runs (the reference runs every workflow,
    orchestrator.go runWorkflow loop), each in its own output
    namespace out/<id> when there are several, so resume state never
    crosses targets; a bare input/out run is one anonymous target on
    the default sinks.  Settings: an explicit flag (not None) beats the
    config's global section, which beats GlobalConfig's defaults."""
    if config_path:
        settings, specs = load_config(config_path)
    else:
        if not input_path or not out_dir:
            raise ConfigError("run requires --input/--out or --config providing them")
        from hetman_spark.plans.pipeline import DEFAULT_SPEC

        settings, specs = GlobalConfig(), [DEFAULT_SPEC]
    settings = replace(
        settings,
        out_dir=out_dir or settings.out_dir,
        salt_buckets=settings.salt_buckets if salt_buckets is None else salt_buckets,
        splits_per_commit=(
            settings.splits_per_commit if splits_per_commit is None else splits_per_commit
        ),
    )
    if not settings.out_dir:
        raise ConfigError("run requires --out or config global.out_dir")
    targets = []
    for i, spec in enumerate(specs):
        target_input = input_path or spec.input_path
        if not target_input:
            raise ConfigError(f"target {spec.id or i} has no input.path and no --input given")
        target_out = (
            os.path.join(settings.out_dir, spec.id or f"target{i}")
            if len(specs) > 1
            else settings.out_dir
        )
        targets.append((target_input, target_out, spec))
    return settings, targets
