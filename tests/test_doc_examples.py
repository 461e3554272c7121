"""The reference's doc-examples as executable goldens (SURVEY.md §5):
each of example_test.go's five Example functions transliterated, with the
``// Output:`` blocks as byte-exact expectations. Inputs come from the
same golden constants (tests/golden_s3.py, tests/golden_ltsv.py) and,
for the file/gzip/zip variants, the reference's testdata files as
reconstructed from those constants under tests/fixtures/ (build.py).

Ordering note: Go emits zip entries in archive order; the distributed
engine orders by (entry, line_no), so ExampleParser_ParseZipEntries is
compared per entry group (same bytes, entry-sorted).
"""

from __future__ import annotations

from pathlib import Path

import golden_ltsv as gl
import golden_s3 as g
from access_log_parser_spark import Option
from access_log_parser_spark.parser import LTSVParser, RegexParser, new_s3_parser
from access_log_parser_spark.patterns import S3

REF = str(Path(__file__).resolve().parent / "fixtures")

# example_test.go:12-45 uses its own pattern list: the S3 preset with
# method `[A-Z]+` (no '-') and protocol `HTTP/[0-9.]+` (no '|-')
EXAMPLE_PATTERNS = [
    p.replace("[A-Z\\-]+", "[A-Z]+").replace("HTTP/[0-9.]+|-", "HTTP/[0-9.]+")
    for p in S3
]


def test_example_parse(spark):
    """ExampleParser_Parse (example_test.go:12-45): custom patterns,
    prefix + unmatch-lines + JSON, through the Parse(io.Reader)
    equivalent (a file-like object, inputTypeStream)."""
    import io

    p = RegexParser(
        spark,
        Option(prefix=True, unmatch_lines=True, line_handler="json"),
        patterns=EXAMPLE_PATTERNS,
    )
    out, r = p.parse(io.StringIO(g.CONTAINS_UNMATCH_INPUT + "\n"))
    assert r.input_type == "stream"
    assert out == [
        "[ PROCESSED ] " + g.J1,
        "[ PROCESSED ] " + g.J2,
        "[ PROCESSED ] " + g.J3,
        "[ UNMATCHED ] " + g.L4_TRUNC,
        "[ PROCESSED ] " + g.J5,
    ]
    assert r.counters() == (5, 4, 1, 0, 0)


def test_example_parse_string(spark):
    """ExampleParser_ParseString (example_test.go:47-77): LTSV + filter +
    line numbers + pretty JSON."""
    p = LTSVParser(
        spark,
        Option(filters=["size == 1024"], line_number=True,
               line_handler="pretty_json"),
    )
    out, r = p.parse_string(gl.ALL_MATCH_INPUT + "\n")
    expected = (
        "{\n"
        '  "no": "1",\n'
        '  "remote_host": "192.168.1.1",\n'
        '  "remote_logname": "-",\n'
        '  "remote_user": "john",\n'
        '  "datetime": "[12/Mar/2023:10:55:36 +0000]",\n'
        '  "request": "GET /index.html HTTP/1.1",\n'
        '  "status": "200",\n'
        '  "size": "1024",\n'
        '  "referer": "http://www.example.com/",\n'
        '  "user_agent": "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"\n'
        "}"
    )
    assert out == [expected]
    assert r.counters() == (5, 1, 0, 4, 0)


def test_example_parse_file(spark):
    """ExampleParser_ParseFile (example_test.go:79-94): labels + skip +
    line numbers over the reference's own testdata file."""
    p = new_s3_parser(
        spark,
        Option(labels=["bucket", "method", "request_uri", "protocol"],
               skip_lines=[1], line_number=True),
    )
    out, r = p.parse_file(f"{REF}/sample_s3_contains_unmatch.log")
    assert out == [
        '{"no":"2","bucket":"awsrandombucket59","method":"GET","request_uri":"/awsrandombucket59?logging","protocol":"HTTP/1.1"}',
        '{"no":"3","bucket":"awsrandombucket12","method":"GET","request_uri":"/awsrandombucket12?policy","protocol":"HTTP/1.1"}',
        '{"no":"5","bucket":"awsrandombucket77","method":"GET","request_uri":"/awsrandombucket77?versioning","protocol":"HTTP/1.1"}',
    ]
    assert r.counters() == (5, 3, 1, 0, 1)


def test_example_parse_gzip(spark):
    """ExampleParser_ParseGzip (example_test.go:96-113): TSV with header
    over the reference's gzip testdata."""
    p = new_s3_parser(
        spark,
        Option(labels=["bucket", "method", "request_uri", "protocol"],
               line_number=True, line_handler="tsv"),
    )
    out, r = p.parse_gzip(f"{REF}/sample_s3_contains_unmatch.log.gz")
    assert "\n".join(out) == (
        "no\tbucket\tmethod\trequest_uri\tprotocol\n"
        "1\tawsrandombucket43\tGET\t/awsrandombucket43?versioning\tHTTP/1.1\n"
        "2\tawsrandombucket59\tGET\t/awsrandombucket59?logging\tHTTP/1.1\n"
        "3\tawsrandombucket12\tGET\t/awsrandombucket12?policy\tHTTP/1.1\n"
        "5\tawsrandombucket77\tGET\t/awsrandombucket77?versioning\tHTTP/1.1"
    )
    assert r.counters() == (5, 4, 1, 0, 0)


def test_example_parse_zip_entries(spark):
    """ExampleParser_ParseZipEntries (example_test.go:115-142): glob +
    filter + prefix + unmatch + LTSV over the reference's zip; compared
    per entry group (entry-sorted vs Go's archive order)."""

    def ltsv(bucket, uri):
        return (
            f"[ PROCESSED ] bucket:{bucket}\tmethod:GET"
            f"\trequest_uri:{uri}\tprotocol:HTTP/1.1"
        )

    p = new_s3_parser(
        spark,
        Option(labels=["bucket", "method", "request_uri", "protocol"],
               filters=["error_code != NoSuchBucketPolicy"],
               prefix=True, unmatch_lines=True, line_handler="ltsv"),
    )
    out, r = p.parse_zip_entries(f"{REF}/sample_s3.zip", "*.log")
    expected = (
        # entry sample_s3_all_match.log (line 3 excluded by the filter)
        [
            ltsv("awsrandombucket43", "/awsrandombucket43?versioning"),
            ltsv("awsrandombucket59", "/awsrandombucket59?logging"),
            ltsv("awsrandombucket89", "/awsrandombucket89?versioning"),
            ltsv("awsrandombucket77", "/awsrandombucket77?versioning"),
        ]
        # entry sample_s3_all_unmatch.log (5 raw lines, unmatch_lines on)
        + ["[ UNMATCHED ] " + line for line in g.ALL_UNMATCH_INPUT.split("\n")]
        # entry sample_s3_contains_unmatch.log
        + [
            ltsv("awsrandombucket43", "/awsrandombucket43?versioning"),
            ltsv("awsrandombucket59", "/awsrandombucket59?logging"),
            "[ UNMATCHED ] " + g.L4_TRUNC,
            ltsv("awsrandombucket77", "/awsrandombucket77?versioning"),
        ]
    )
    assert out == expected
    assert r.counters() == (15, 7, 6, 2, 0)
    assert r.zip_entries == [
        "sample_s3_all_match.log",
        "sample_s3_all_unmatch.log",
        "sample_s3_contains_unmatch.log",
    ]
