"""Pipeline configuration model.

Mirrors the reference's config-side data model
(/root/reference/internal/workflow/workflow.go:10-68): a target =
{input, parser, modifier, forwarders}.  Here a pipeline spec
parameterizes one lazy DataFrame job instead of a goroutine graph.

Sink identity reuses the reference's signature discipline
(/root/reference/internal/workflow/workflow.go:72-107): md5 over
url + source path + sorted(tag keys) + sorted(tag values).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ReplaceFieldSetting:
    """Regex redaction of one parsed field.

    Reference: ReplaceFieldSetting{Path, Pattern, Replacement}
    (/root/reference/internal/workflow/workflow.go:16-20), applied with
    ReplaceAllString — i.e. replace ALL matches — at
    /root/reference/internal/modifier/modifier.go:84-106.
    """

    path: str
    pattern: str
    replacement: str


@dataclass(frozen=True)
class ModifierConfig:
    """Add / drop / regex-replace parsed fields.

    Reference: /root/reference/internal/workflow/workflow.go:10-14 and
    /root/reference/internal/modifier/modifier.go:57-111.  Paths use the
    reference's dot-path convention ("parsed.foo" edits the parsed map).
    """

    add_fields: dict[str, str] = field(default_factory=dict)
    drop_fields: tuple[str, ...] = ()
    replace_fields: tuple[ReplaceFieldSetting, ...] = ()


@dataclass(frozen=True)
class ParserConfig:
    """Parse stage config.

    format: one of "nginx" | "json" | "syslog-rfc5424" | "syslog-rfc3164"
    (dispatch at /root/reference/internal/parser/parser.go:145-198);
    pattern only used by nginx/grok (empty = the nginx combined-log
    pattern); multiline_pattern marks continuation lines
    (/root/reference/internal/parser/parser.go:93-128).  The webtext
    pipeline runs "" / "nginx" with a single-line pattern only
    (plans/pipeline.py grok_pattern rejects the rest at plan build).
    """

    format: str = ""
    pattern: str = ""
    multiline_pattern: str = ""


@dataclass(frozen=True)
class SinkConfig:
    """One logical sink (plays a hetman forwarder: Loki or Kafka).

    url + add_tags follow LokiForwarderConfig
    (/root/reference/internal/workflow/workflow.go:32-37); the rebuild
    writes each sink as a partitioned parquet/iceberg output instead of
    an HTTP push (SURVEY.md §2.5 F1).

    predicate_col/predicate_val implement the tag-driven router: "*"
    matches every record, like hetman's per-target forwarders each
    receiving every record (/root/reference/internal/modifier/modifier.go:113-116).
    """

    url: str
    add_tags: dict[str, str] = field(default_factory=dict)
    predicate_col: str = "*"
    predicate_val: str = "*"
    format: str = "parquet"

    def signature(self, log_source_path: str = "") -> str:
        """Deterministic sink identity.

        Byte-compatible with CreateForwarderSignature
        (/root/reference/internal/workflow/workflow.go:72-107): md5 of
        url + source path + sorted tag keys + sorted tag values, joined
        with "".  Golden: url=http://localhost:8088,
        tags={a:b, foo:bar}, path=foobar ->
        4e42b6523eb13e5756dc76adec0a96c1
        (/root/reference/internal/workflow/workflow_test.go:9-17).
        """
        keys = sorted(self.add_tags.keys())
        values = sorted(self.add_tags.values())
        parts = [self.url, log_source_path, *keys, *values]
        return hashlib.md5("".join(parts).encode("utf-8")).hexdigest()


@dataclass(frozen=True)
class PipelineSpec:
    """One end-to-end pipeline = hetman's TargetConfig
    (/root/reference/internal/workflow/workflow.go:49-56) re-expressed
    as parameters of one DataFrame job.
    """

    id: str
    input_path: str
    parser: ParserConfig = ParserConfig()
    modifier: ModifierConfig = ModifierConfig()
    sinks: tuple[SinkConfig, ...] = ()
