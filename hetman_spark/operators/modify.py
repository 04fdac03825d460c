"""M1-M3 modifier + F2/F3 tag-merge operators.

The reference modifier round-trips every record through JSON and edits
it with dot-paths (/root/reference/internal/modifier/modifier.go:57-111)
— the per-record hot-path anti-pattern the north_rule forbids.  Here
every edit is a column expression:

- add fields   (modifier.go:66-74)  -> map_concat / withColumn(lit)
- drop fields  (modifier.go:76-82)  -> map_filter
- replace      (modifier.go:84-106) -> go_replacer: Go's
  ReplaceAllString on RE2 (pyarrow.compute.replace_substring_regex),
  the one kernel of every replace, with the Go template compiled to
  an RE2 rewrite on the driver; an Arrow UDF runs it per batch.  Java
  regexp_replace is not used: its syntax and $-templates differ from
  Go's, and it replaces the empty match right after a match.

Tag merge (F2): lo.Assign(add_tags, parsed, labels) — RIGHT-most wins:
labels > parsed > add_tags (/root/reference/internal/forwarder/loki.go:33).
Plus the "source" tag = tailed path (here: url) injected at forwarder
build (/root/reference/internal/forwarder/forwarder.go:63-78), which as
part of add_tags is overridden by parsed/labels on conflict.
"""

from __future__ import annotations

import re
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from hetman_spark.config import ModifierConfig, ReplaceFieldSetting


def _empty_map() -> Column:
    # built lazily: Column construction needs an active session
    return F.create_map().cast("map<string,string>")


def _strip_prefix(path: str) -> str:
    """Reference dot-paths address the record struct ("parsed.foo"
    edits the Parsed map); we operate on the map column directly."""
    return path.split(".", 1)[1] if "." in path else path


def add_fields(parsed: Column, fields: dict[str, str]) -> Column:
    """M1: static key/value adds.  map_concat right-most wins, so adds
    overwrite existing keys — matching sjson.Set semantics."""
    if not fields:
        return parsed
    add = F.create_map(
        *[x for k, v in sorted(fields.items()) for x in (F.lit(_strip_prefix(k)), F.lit(v))]
    )
    return F.map_concat(map_drop_keys(parsed, [k for k in fields]), add)


def map_drop_keys(parsed: Column, keys: list[str]) -> Column:
    """M2: drop fields by key (sjson.Delete analog)."""
    if not keys:
        return parsed
    names = [_strip_prefix(k) for k in keys]
    arr = F.array(*[F.lit(n) for n in names])
    return F.map_filter(parsed, lambda k, _v: ~F.array_contains(arr, k))


def _capture_groups(pattern: str) -> list[str]:
    r"""The names of `pattern`'s capture groups in RE2 (and Go) syntax,
    in group order ("" for an unnamed group): every "(" outside an
    escape, a \Q...\E quote and a character class, except "(?flags"
    forms other than a named group "(?P<name>".  A pattern RE2 rejects
    fails in the kernel, not here."""
    groups: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if pattern.startswith("\\Q", i):
            end = pattern.find("\\E", i + 2)
            i = n if end < 0 else end + 2
        elif c == "\\":
            i += 2
        elif c == "[":
            # a "]" right after "[" or "[^" is a literal; "[:name:]"
            # is a POSIX class (RE2 takes the next ":]" as its end)
            i += 2 if pattern.startswith("[^", i) else 1
            if pattern.startswith("]", i):
                i += 1
            while i < n and pattern[i] != "]":
                posix_end = pattern.find(":]", i + 2) if pattern.startswith("[:", i) else -1
                if posix_end >= 0:
                    i = posix_end + 2
                else:
                    i += 2 if pattern[i] == "\\" else 1
            i += 1
        else:
            if c == "(":
                named = re.match(r"\(\?P?<([^>]*)>", pattern[i:])
                if named or not pattern.startswith("(?", i):
                    groups.append(named.group(1) if named else "")
            i += 1
    return groups


def _template_parts(template: str) -> list[tuple[bool, str]]:
    """Parse a Go replacement template by regexp.Expand's documented
    rules into (is_ref, text) parts: "$name" or "${name}" is a group
    reference, the name taken as long as possible from letters, digits
    and "_" (so "$1x" is "${1x}", not "${1}x"); "$$" is a literal "$";
    any other "$" (a trailing one, "${}", "${x") stays literal."""
    parts: list[tuple[bool, str]] = []
    lit: list[str] = []
    i, n = 0, len(template)
    while i < n:
        c = template[i]
        i += 1
        if c != "$":
            lit.append(c)
            continue
        if template.startswith("$", i):
            lit.append("$")
            i += 1
            continue
        brace = template.startswith("{", i)
        j = k = i + brace
        while k < n and (template[k].isalpha() or template[k].isdecimal() or template[k] == "_"):
            k += 1
        if k == j or (brace and not template.startswith("}", k)):
            lit.append("$")  # malformed: the "$" is literal text
            continue
        if lit:
            parts.append((False, "".join(lit)))
            lit = []
        parts.append((True, template[j:k]))
        i = k + brace
    if lit:
        parts.append((False, "".join(lit)))
    return parts


def _re2_rewrite(pattern: str, template: str) -> str:
    r"""The Go template as an RE2 rewrite string.  A reference expands
    to its group: a number without a leading zero (up to 9 digits) is
    a group index, anything else a group name; an out-of-range index
    or an unknown name expands to empty, as in Go.  A rewrite spells a
    group \0-\9, so a reference to an existing group >= 10 raises."""
    groups = _capture_groups(pattern)
    out: list[str] = []
    for is_ref, text in _template_parts(template):
        if not is_ref:
            out.append(text.replace("\\", "\\\\"))
            continue
        numeric = text.isascii() and text.isdigit() and len(text) <= 9
        if numeric and (text == "0" or text[0] != "0"):
            index = int(text)
        else:
            index = groups.index(text) + 1 if text in groups else len(groups) + 1
        if index > len(groups):
            continue
        if index > 9:
            raise ValueError(
                f"replacement {template!r} refers to group {index} of {pattern!r}: "
                "an RE2 rewrite reaches group 9 at most"
            )
        out.append(f"\\{index}")
    return "".join(out)


def go_replacer(pattern: str, template: str) -> Callable[[pa.Array], pa.Array]:
    """The replace kernel: Go's ReplaceAllString(pattern, template)
    over a pyarrow string array, built once on the driver.  The
    template becomes an RE2 rewrite (_re2_rewrite) and
    pyarrow.compute.replace_substring_regex runs RE2's GlobalReplace,
    which, like Go's replace loop, inserts no replacement for an empty
    match right after a previous match: ".*" -> "****" on "sensitive"
    gives "****" (reference internal/modifier/modifier_test.go:51-53,76).
    RE2 is the regex family of Go's regexp: the same syntax (POSIX
    classes, (?P<name>...)) and the same match semantics.  The kernel
    runs once here on an empty string, so a pattern RE2 rejects raises
    ValueError at plan build instead of failing a job."""
    rewrite = _re2_rewrite(pattern, template)

    def kernel(values: pa.Array) -> pa.Array:
        return pc.replace_substring_regex(values, pattern=pattern, replacement=rewrite)

    try:
        kernel(pa.array([""], pa.string()))
    except pa.ArrowInvalid as exc:
        raise ValueError(f"replace pattern {pattern!r}: {exc}") from None
    return kernel


def replace_fields(parsed: Column, settings: tuple[ReplaceFieldSetting, ...]) -> Column:
    """M3: every replace_fields entry, in config order, as one Arrow
    UDF over the map: per entry, the values under its key are taken
    out of the map's flat value array, replaced by go_replacer's
    kernel and spliced back (pyarrow.compute.replace_with_mask).  The
    reference skips the edit when the field is absent or empty
    (modifier.go:88-93) and replaces ALL matches (Go ReplaceAllString).

    The map goes through the UDF whole, once for all entries: a UDF
    cannot run inside transform_values' lambda, and a column-level
    extract -> replace -> splice references the map several times per
    entry, so the expression tree grew about 6x per chained entry (a
    191k-character physical plan and 3.7 s of planning for 4 entries).
    A null map comes back empty, as apply_modifier's coalesce makes it."""
    edits = [(_strip_prefix(r.path), go_replacer(r.pattern, r.replacement)) for r in settings]

    def edit(maps: pa.Array) -> pa.Array:
        # offsets index the whole child arrays, also in a sliced batch
        keys, values = maps.keys, maps.items
        for key, kernel in edits:
            hit = pc.fill_null(pc.and_(pc.equal(keys, key), pc.not_equal(values, "")), False)
            values = pc.replace_with_mask(values, hit, kernel(values.filter(hit)))
        return pa.MapArray.from_arrays(maps.offsets, keys, values)

    return F.arrow_udf(edit, "map<string,string>")(parsed)


def apply_modifier(parsed: Column, cfg: ModifierConfig) -> Column:
    """Apply add -> drop -> replace in the reference's order
    (modifier.go:66-106: AddFields, DropFields, ReplaceFields)."""
    out = F.coalesce(parsed, _empty_map())
    out = add_fields(out, cfg.add_fields)
    out = map_drop_keys(out, list(cfg.drop_fields))
    if cfg.replace_fields:
        out = replace_fields(out, cfg.replace_fields)
    return out


def merge_tags(add_tags: Column, parsed: Column, labels: Column) -> Column:
    """F2: stream-label construction with precedence
    labels > parsed > add_tags (right-most wins in lo.Assign,
    /root/reference/internal/forwarder/loki.go:33).

    map_concat in Spark 3.x+ with spark.sql.mapKeyDedupPolicy=LAST_WIN
    would do, but we avoid relying on session config: later maps are
    concatenated after filtering earlier ones' duplicate keys.
    """
    a = F.coalesce(add_tags, _empty_map())
    p = F.coalesce(parsed, _empty_map())
    l = F.coalesce(labels, _empty_map())
    # drop from a the keys present in p or l; drop from p the keys in l
    # (map_contains_key, not element_at: ANSI mode errors on missing keys)
    a_f = F.map_filter(a, lambda k, _v: ~F.map_contains_key(p, k) & ~F.map_contains_key(l, k))
    p_f = F.map_filter(p, lambda k, _v: ~F.map_contains_key(l, k))
    return F.map_concat(a_f, F.map_concat(p_f, l))


def fill_timestamp(ts: Column) -> Column:
    """F3: default timestamp fill — records without a timestamp get
    stamped at send time (/root/reference/internal/forwarder/loki.go:27-31).
    Batch analog: coalesce with current_timestamp()."""
    return F.coalesce(ts, F.current_timestamp())
