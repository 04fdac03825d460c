"""Modifier + tag-merge goldens.

- modifier: /root/reference/internal/modifier/modifier_test.go:38-80
- tag merge precedence: /root/reference/internal/forwarder/loki.go:33
  (lo.Assign right-most wins) and forwarder_test.go stream shape
- signature: /root/reference/internal/workflow/workflow_test.go:9-17
"""

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from hetman_spark.config import ModifierConfig, ReplaceFieldSetting, SinkConfig
from hetman_spark.operators.modify import _capture_groups, apply_modifier, go_replacer, merge_tags


def test_modifier_golden(spark):
    # input parsed {c:3,d:4,message:sensitive,password:sensitive};
    # add parsed.foo=bar, drop parsed.message, replace password .* -> ****
    cfg = ModifierConfig(
        add_fields={"parsed.foo": "bar"},
        drop_fields=("parsed.message",),
        replace_fields=(ReplaceFieldSetting("parsed.password", ".*", "****"),),
    )
    df = spark.createDataFrame(
        [({"c": "3", "d": "4", "message": "sensitive", "password": "sensitive"},)],
        "parsed map<string,string>",
    )
    out = df.select(apply_modifier(F.col("parsed"), cfg).alias("p")).collect()[0]["p"]
    assert out["foo"] == "bar"
    assert "message" not in out
    assert out["password"] == "****"
    assert out["c"] == "3" and out["d"] == "4"


def test_replace_skips_empty_and_missing(spark):
    # reference skips when gjson fetch is empty (modifier.go:88-93)
    cfg = ModifierConfig(replace_fields=(ReplaceFieldSetting("parsed.x", "a", "b"),))
    df = spark.createDataFrame([({"x": "", "y": "aa"},), ({"y": "aa"},)], "parsed map<string,string>")
    out = [r["p"] for r in df.select(apply_modifier(F.col("parsed"), cfg).alias("p")).collect()]
    assert out[0] == {"x": "", "y": "aa"}
    assert out[1] == {"y": "aa"}


def test_replace_replaces_all_matches(spark):
    # Go ReplaceAllString == Spark regexp_replace (all occurrences)
    cfg = ModifierConfig(replace_fields=(ReplaceFieldSetting("parsed.v", r"\d", "#"),))
    df = spark.createDataFrame([({"v": "a1b2c3"},)], "parsed map<string,string>")
    out = df.select(apply_modifier(F.col("parsed"), cfg).alias("p")).collect()[0]["p"]
    assert out["v"] == "a#b#c#"


# Go regexp.ReplaceAllString(src, template): each expected value
# follows the documented Expand rules ("$name" takes the longest name,
# so $1x is ${1x}; "$$" is "$"; an out-of-range index or unknown name
# is empty; a malformed "$" is literal) and the regexp package's
# documented examples (ReplaceAllString, SubexpNames).
GO_REPLACE_GOLDEN = [
    # (src, pattern, template, want)
    ("-ab-axxb-", r"a(x*)b", "T", "-T-T-"),
    ("-ab-axxb-", r"a(x*)b", "$1", "--xx-"),
    ("-ab-axxb-", r"a(x*)b", "$1W", "---"),
    ("-ab-axxb-", r"a(x*)b", "${1}W", "-W-xxW-"),
    ("Alan Turing", r"(?P<first>\w+)\s(?P<last>\w+)", "${last} ${first}", "Turing Alan"),
    ("Alan Turing", r"(?P<first>\w+)\s(?P<last>\w+)", "$last,$first", "Turing,Alan"),
    ("ab12", r"\d", "[$0]", "ab[1][2]"),
    ("ab12", r"(\d)", "$$", "ab$$"),
    ("ab12", r"(\d)", "$1x", "ab"),
    ("ab12", r"(\d)", "${1}x", "ab1x2x"),
    ("ab12", r"(?P<n>\d)", "<$n>", "ab<1><2>"),
    ("ab12", r"(?P<n>\d)", "${n}!", "ab1!2!"),
    ("ab12", r"(?P<n>\d)", "#", "ab##"),
    ("ab12", r"(\d)", "<$2>", "ab<><>"),  # out-of-range index
    ("ab12", r"(\d)", "$10", "ab"),  # ${10}, not ${1}0
    ("ab12", r"(\d)", "<$nope>", "ab<><>"),  # unknown name
    ("ab12", r"(\d)", "x$", "abx$x$"),  # trailing $
    ("ab12", r"(\d)", "${1", "ab${1${1"),  # no closing brace
    ("ab12", r"(\d)", "${}", "ab${}${}"),  # empty name
    ("ab12", r"(\d)", r"\1", "ab\\1\\1"),  # a backslash is literal
    ("ab12", r"\d*", "$0", "ab12"),
    ("ab12", r"\d*", "<$0>", "<>a<>b<12>"),  # no empty match right after a match
    ("sensitive", r".*", "****", "****"),
    ("sensitive", r"x*", "-", "-s-e-n-s-i-t-i-v-e-"),
    ("ab12", r"[[:alpha:]]", "_", "__12"),
    ("café", r"[[:alpha:]]", "_", "___é"),  # POSIX classes are ASCII
]


@pytest.mark.parametrize("src,pattern,template,want", GO_REPLACE_GOLDEN)
def test_go_replace_golden(src, pattern, template, want):
    assert go_replacer(pattern, template)(pa.array([src])).to_pylist() == [want]


def test_go_replacer_rejects_what_re2_cannot_run():
    with pytest.raises(ValueError, match="missing \\)"):
        go_replacer("(", "x")
    ten = "".join(f"({c})" for c in "abcdefghij")
    with pytest.raises(ValueError, match="group 10"):
        go_replacer(ten, "$10")
    # a reference past the last group is empty, not an error
    assert go_replacer(ten, "<$11$9>")(pa.array(["abcdefghij"])).to_pylist() == ["<i>"]


@pytest.mark.parametrize("pattern", [
    r"(a)(?:b)(?P<x>c)", r"[(]()", r"[]()]()", r"[^]()]()", r"[[:alpha:]()]()",
    r"\(()", r"\Q(()\E()", r"(?i)(a)", r"((a)(b))", r"a\)b", r"[\]()]()",
])
def test_capture_groups_match_re2(pattern):
    # RE2 accepts a rewrite \k only when the pattern has >= k groups
    n = len(_capture_groups(pattern))

    def re2_accepts(k):
        try:
            pc.replace_substring_regex(pa.array([""]), pattern=pattern, replacement=f"\\{k}")
            return True
        except pa.ArrowInvalid:
            return False

    assert re2_accepts(n) and not re2_accepts(n + 1)


def test_replace_go_templates_in_spark(spark):
    """The replace stage runs the same kernel in the Arrow UDF; each
    edit here failed the job or diverged from Go on the JVM path."""
    entries = [
        ("a", r"(\d)", "$$"),
        ("b", r"(?P<n>\d)", "<$n>"),
        ("c", r"(\d)", "$1x"),
        ("d", r"\d*", "$0"),
        ("e", "[[:alpha:]]", "_"),
        ("f", ".*", "****"),
    ]
    cfg = ModifierConfig(
        replace_fields=tuple(ReplaceFieldSetting(f"parsed.{k}", p, t) for k, p, t in entries)
    )
    df = spark.createDataFrame(
        [({k: "ab12" for k, _p, _t in entries},), ({"a": "", "z": "1"},), (None,)],
        "parsed map<string,string>",
    )
    out = [r["p"] for r in df.select(apply_modifier(F.col("parsed"), cfg).alias("p")).collect()]
    assert out == [
        {"a": "ab$$", "b": "ab<1><2>", "c": "ab", "d": "ab12", "e": "__12", "f": "****"},
        {"a": "", "z": "1"},
        {},
    ]


def test_merge_tags_precedence(spark):
    # labels > parsed > add_tags (right-most wins in lo.Assign)
    df = spark.createDataFrame(
        [(
            {"k": "add", "only_add": "a", "shared_pl": "add"},
            {"k": "parsed", "only_parsed": "p", "shared_pl": "parsed"},
            {"k": "label", "only_label": "l"},
        )],
        "a map<string,string>, p map<string,string>, l map<string,string>",
    )
    out = df.select(merge_tags(F.col("a"), F.col("p"), F.col("l")).alias("t")).collect()[0]["t"]
    assert out == {
        "k": "label",
        "only_add": "a",
        "only_parsed": "p",
        "only_label": "l",
        "shared_pl": "parsed",
    }


def test_merge_tags_null_maps(spark):
    df = spark.createDataFrame([({"a": "1"},)], "a map<string,string>")
    out = df.select(
        merge_tags(
            F.col("a"),
            F.lit(None).cast("map<string,string>"),
            F.lit(None).cast("map<string,string>"),
        ).alias("t")
    ).collect()[0]["t"]
    assert out == {"a": "1"}


def test_forwarder_signature_golden():
    # workflow_test.go:9-17
    s = SinkConfig(url="http://localhost:8088", add_tags={"a": "b", "foo": "bar"})
    assert s.signature("foobar") == "4e42b6523eb13e5756dc76adec0a96c1"
