"""Sweep of the reference's entire on-disk test corpus (SURVEY.md §5:
"golden files on disk, x{plain, .gz, .zip} x{all_match, contains_unmatch,
all_unmatch} x{s3, ltsv}" — parser_core_test.go:704-1356): every file
parsed through the matching engine path with the reference's expected
counter tuples, plus serialized-output equality between the plain, gzip
and zip variants of the same scenario (same bytes through any transport).
The corpus under tests/fixtures/ is a reconstruction built from the
transliterated goldens (tests/fixtures/build.py).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from access_log_parser_spark import LTSVParser, new_s3_parser

REF = str(Path(__file__).resolve().parent / "fixtures")

# scenario -> (total, matched, unmatched, excluded, skipped)
EXPECTED = {
    "all_match": (5, 5, 0, 0, 0),
    "contains_unmatch": (5, 4, 1, 0, 0),
    "all_unmatch": (5, 0, 5, 0, 0),
}


def _parser(spark, fmt):
    return new_s3_parser(spark) if fmt == "s3" else LTSVParser(spark)


@pytest.mark.parametrize("fmt", ["s3", "ltsv"])
@pytest.mark.parametrize("scenario", list(EXPECTED))
def test_all_transports_agree(spark, fmt, scenario):
    base = f"{REF}/sample_{fmt}_{scenario}.log"
    p = _parser(spark, fmt)

    out_plain, r_plain = p.parse_file(base)
    out_gz, r_gz = p.parse_gzip(base + ".gz")
    out_zip, r_zip = p.parse_zip_entries(base + ".zip", "*")

    assert r_plain.counters() == EXPECTED[scenario], (fmt, scenario)
    assert r_gz.counters() == EXPECTED[scenario]
    assert r_zip.counters() == EXPECTED[scenario]
    # byte-identical serialized output regardless of transport
    assert out_plain == out_gz == out_zip


@pytest.mark.parametrize("fmt", ["s3", "ltsv"])
def test_multi_entry_zip_merged_counters(spark, fmt):
    """sample_{fmt}.zip: 3 entries merged — counters summed across
    entries (parser_core.go:152-163; golden 15/9/6 in
    parser_core_test.go:1236-1286)."""
    p = _parser(spark, fmt)
    out, r = p.parse_zip_entries(f"{REF}/sample_{fmt}.zip", "*.log")
    assert r.counters() == (15, 9, 6, 0, 0)
    assert len(r.zip_entries) == 3
    assert len(r.errors) == 6
