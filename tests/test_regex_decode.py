"""Go-exact decode goldens for the RE2 cascade (decoders.regex_decode).

The reference decodes with Go's ``regexp`` (RE2): ``\\d``, ``\\s`` and
``\\w`` are ASCII-only, so Unicode digits are not digits and NBSP is not
whitespace; ``[[:alpha:]]`` is a POSIX class.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from access_log_parser_spark import Option
from access_log_parser_spark.decoders import NoPatternError, regex_decode
from access_log_parser_spark.engine import fast_parse_routed, parse_routed
from access_log_parser_spark.patterns import APACHE_CLF
from access_log_parser_spark.sources import lines_from_string


def decode(lines, patterns):
    return regex_decode(pa.array(lines, pa.string()), patterns).to_pylist()


def test_digit_class_is_ascii_only():
    assert decode(["٢٠٠", "200"], [r"(?P<d>\d{3})"]) == [
        {"pattern_id": -1, "d": None},
        {"pattern_id": 0, "d": "200"},
    ]


def test_nonspace_field_captures_nbsp():
    assert decode(["a\xa0b c"], [r"^(?P<f>\S+)"]) == [
        {"pattern_id": 0, "f": "a\xa0b"}
    ]


def test_posix_and_unicode_classes():
    assert decode(["ab:c", "Héllo"], [r"^(?P<a>[[:alpha:]]+)"]) == [
        {"pattern_id": 0, "a": "ab"},
        {"pattern_id": 0, "a": "H"},
    ]
    assert decode(["Héllo1"], [r"^(?P<a>\pL+)"]) == [{"pattern_id": 0, "a": "Héllo"}]


def test_first_match_wins_and_union_nulls():
    got = decode(
        ["x=1", "y=2", "z"], [r"^x=(?P<a>\d)", r"^(?P<b>[a-z])=(?P<a>\d)"]
    )
    assert got == [
        {"pattern_id": 0, "a": "1", "b": None},
        {"pattern_id": 1, "a": "2", "b": "y"},
        {"pattern_id": -1, "a": None, "b": None},
    ]


def test_unparticipating_group_is_empty_string():
    assert decode(["x"], [r"^(?P<a>x)(?P<b>y)?"]) == [
        {"pattern_id": 0, "a": "x", "b": ""}
    ]


def test_fields_prunes_union_and_empty_cascade_fails():
    out = regex_decode(pa.array(["x=1"]), [r"^(?P<b>x)=(?P<a>\d)"], fields=["a"])
    assert out.to_pylist() == [{"pattern_id": 0, "a": "1"}]
    with pytest.raises(NoPatternError):
        regex_decode(pa.array(["x"]), [])


def test_engines_agree_on_unicode_lines(spark):
    """Compat and fast engines decode with the same RE2 cascade, so they
    agree on lines where Python's Unicode-aware classes would not."""
    clf = '1.2.3.4 - u [12/Mar/2023:10:55:36 +0000] "GET / HTTP/1.1" {} 1 "-" "ua"'
    corpus = "\n".join([
        clf.format("200"),
        clf.format("٢٠٠"),                 # Arabic-Indic status: unmatched
        clf.format("200").replace("u [", "a\xa0b ["),  # NBSP in remote_user
    ])
    lines = lines_from_string(spark, corpus)
    opt = Option(labels=["remote_user", "status"])

    def rows(df):
        return sorted((r["line_no"], r["status"], r["out_line"]) for r in df.collect())

    got = rows(parse_routed(lines, APACHE_CLF, opt))
    assert got == rows(fast_parse_routed(lines, APACHE_CLF, opt))
    assert [s for _, s, _ in got] == ["matched", "unmatched", "matched"]
    assert got[2][2] == '{"remote_user":"a\xa0b","status":"200"}'
