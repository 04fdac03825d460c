"""Property-based tests (hypothesis) for the pure-Python semantic
cores — no SparkSession needed, so these run fast and wide.

- grok_to_regex: generated field values must round-trip through the
  generated regex for any delimiter structure gonx supports.
- go_replacer (the RE2 replace kernel): must equal Python re.sub
  whenever the pattern cannot match empty (then Go's skip of an empty
  match right after a match never applies), and must collapse the
  canonical `.*` case the way Go does.
- SinkConfig.signature: permutation-invariant in tag insertion order,
  injective-ish across differing tags.
"""

import re

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from hetman_spark.config import SinkConfig
from hetman_spark.operators.modify import go_replacer
from hetman_spark.operators.parse import grok_to_regex

# field values must not contain the delimiters around them
_value = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), max_codepoint=0x7F),
    min_size=1, max_size=12,
)
_fields = st.lists(
    st.from_regex(r"[a-z][a-z_]{0,8}", fullmatch=True), min_size=1, max_size=6, unique=True
)


@settings(max_examples=200)
@given(fields=_fields, values=st.data())
def test_grok_roundtrip(fields, values):
    pattern = " | ".join(f"${f}" for f in fields)
    vals = {f: values.draw(_value, label=f) for f in fields}
    line = " | ".join(vals[f] for f in fields)
    regex, parsed_fields = grok_to_regex(pattern)
    assert parsed_fields == fields
    # the regex ends in Java's `\z`; Python's spelling of it is `\Z`
    m = re.match(regex.removesuffix(r"\z") + r"\Z", line)
    assert m is not None
    assert dict(zip(fields, m.groups())) == vals


@settings(max_examples=200)
@given(
    s=st.text(max_size=50),
    pattern=st.sampled_from([r"\d+", "[a-c]", "xy", r"\w\w", "q+z"]),
    repl=st.text(alphabet="abcXYZ*#", max_size=5),
)
def test_go_replace_matches_resub_for_nonempty_patterns(s, pattern, repl):
    # none of these patterns can match "", so Go == Python semantics
    # (the template alphabet has no "$" or "\\": a plain literal);
    # Go's and RE2's \d and \w are ASCII-only, as re.ASCII makes them
    rx = re.compile(pattern, re.ASCII)
    assert rx.search("") is None
    assert go_replacer(pattern, repl)(pa.array([s])).to_pylist() == [rx.sub(repl, s)]


@settings(max_examples=200)
@given(s=st.text(min_size=1, max_size=50))
def test_go_replace_dotstar_single_replacement(s):
    # Go: ReplaceAllString(".*") on a non-empty single-line string
    # yields exactly one replacement (modifier_test.go golden)
    if "\n" in s:
        return
    assert go_replacer(".*", "****")(pa.array([s])).to_pylist() == ["****"]


@settings(max_examples=100)
@given(
    tags=st.dictionaries(
        st.from_regex(r"[a-z]{1,6}", fullmatch=True),
        st.from_regex(r"[a-z0-9]{1,6}", fullmatch=True),
        max_size=5,
    ),
    url=st.from_regex(r"http://[a-z]{3,10}", fullmatch=True),
    path=st.from_regex(r"/[a-z]{0,8}", fullmatch=True),
)
def test_signature_order_invariant(tags, url, path):
    a = SinkConfig(url=url, add_tags=dict(tags))
    b = SinkConfig(url=url, add_tags=dict(reversed(list(tags.items()))))
    assert a.signature(path) == b.signature(path)
    assert len(a.signature(path)) == 32
    if tags:
        c = SinkConfig(url=url, add_tags={**tags, "zzextra": "zz"})
        assert c.signature(path) != a.signature(path)
