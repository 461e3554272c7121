"""Pattern registry/validation tests (parser_regex.go:74-100,
parser_regex_test.go:393-516)."""

import re

import pytest

from access_log_parser_spark import patterns as pat


def test_presets_compile_and_are_all_named():
    for name, plist in pat.PRESETS.items():
        assert plist, name
        for p in plist:
            names = pat.validate_pattern(p)
            assert len(names) >= 1
            assert names == list(re.compile(p).groupindex)


def test_preset_widths():
    # SURVEY.md §2.9 field counts
    widths = {
        "apache_clf": 11,
        "apache_clf_vhost": 12,
        "s3": 28,
        "cloudfront": 33,
        "alb": 31,
        "nlb": 22,
        "clb": 17,
    }
    for name, w in widths.items():
        c = re.compile(pat.PRESETS[name][0])
        assert c.groups == w, name


def test_s3_fallback_widths():
    assert [re.compile(p).groups for p in pat.PRESETS["s3"]] == [28, 27, 26, 25, 20]


def test_invalid_pattern_rejected():
    with pytest.raises(pat.PatternError):
        pat.validate_pattern("(")  # does not compile


def test_no_capture_group_rejected():
    with pytest.raises(pat.PatternError, match="capture group not found"):
        pat.validate_pattern("[!-~]+")


def test_non_named_group_rejected():
    with pytest.raises(pat.PatternError, match="non-named capture group"):
        pat.validate_pattern("(?P<field1>[!-~]+) ([!-~]+) (?P<field3>[!-~]+)")


def test_re2_unsupported_constructs_rejected():
    """The reference's regexp.Compile (RE2) cannot express lookaround or
    backreferences, so user patterns using them must fail fast here too
    instead of silently meaning something the reference cannot run. The
    message is RE2's own reason."""
    for bad, reason in [
        (r"(?P<a>x)(?=y)", r"invalid perl operator: \(\?="),
        (r"(?P<a>x)(?!y)", r"invalid perl operator: \(\?!"),
        (r"(?<=y)(?P<a>x)", r"invalid perl operator: \(\?<"),
        (r"(?<!y)(?P<a>x)", r"invalid perl operator: \(\?<"),
        (r"(?P<a>x)\1", r"invalid escape sequence: \\1"),
        (r"(?P<a>x)(?P=a)", r"invalid perl operator: \(\?P"),
    ]:
        with pytest.raises(pat.PatternError, match="invalid regex pattern: " + reason):
            pat.validate_pattern(bad)
    # inside a character class these are literal chars, not constructs
    assert pat.validate_pattern(r"(?P<a>[(?=!]+)") == ["a"]


def test_go_rejected_constructs_rejected():
    """Go's regexp rejects these; Python's re accepts them."""
    for bad in [r"(?P<a>x)\Z", r"(?P<a>(?>x))", r"(?P<a>x*+)"]:
        with pytest.raises(pat.PatternError, match="invalid regex pattern"):
            pat.validate_pattern(bad)


def test_go_accepted_constructs_accepted():
    """Go's regexp accepts Unicode classes and POSIX bracket classes."""
    assert pat.validate_pattern(r"^(?P<a>\pL+)") == ["a"]
    assert pat.validate_pattern(r"^(?P<a>[[:alpha:]]+)") == ["a"]


def test_duplicate_group_names_rejected():
    """Go accepts a repeated group name (regexp.SubexpIndex documents it);
    this engine rejects it with a named error, because the union schema
    has one column per name."""
    with pytest.raises(pat.PatternError, match="duplicate capture group name 'a'"):
        pat.validate_pattern(r"(?P<a>x) (?P<a>y)")


def test_union_schema_order():
    names = [pat.validate_pattern(p) for p in pat.PRESETS["s3"]]
    union = pat.union_schema(names)
    assert union[0] == "bucket_owner"
    assert union[-1] == "acl_required"
    assert len(union) == 28
