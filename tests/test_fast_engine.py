"""Fast-path (JVM serialization) vs compat-path equivalence: both engines
share one decoder and must produce identical routed rows for every
supported Option combination on the golden corpus."""

import pytest
from pyspark.sql import functions as F

import golden_s3 as g
from access_log_parser_spark import Option
from access_log_parser_spark.engine import fast_parse_routed, parse_routed
from access_log_parser_spark.pages import pages_to_lines, synth_pages
from access_log_parser_spark.sources import lines_from_string


def collect(routed):
    return sorted(
        (r["source"], r["line_no"], r["status"], r["pattern_id"], r["out_line"], r["raw"])
        for r in routed.collect()
    )


OPTIONS = [
    Option(),
    Option(line_number=True),
    Option(skip_lines=[2, 4], line_number=True),
    Option(filters=["error_code == NoSuchBucketPolicy"]),
    Option(filters=["bytes_sent >= 200", "http_status == 200"]),
    Option(labels=["bucket", "method", "http_status"]),
    Option(unmatch_lines=True, prefix=True),
    Option(line_handler="kv", labels=["bucket"]),
    Option(line_handler="ltsv"),
    Option(line_handler="tsv", labels=["bucket", "method"]),
    Option(line_handler="pretty_json", labels=["bucket"], prefix=True),
]


@pytest.mark.parametrize("opt", OPTIONS, ids=[str(i) for i in range(len(OPTIONS))])
def test_fast_matches_compat_golden(spark, opt):
    lines = lines_from_string(spark, g.CONTAINS_UNMATCH_INPUT)
    assert collect(fast_parse_routed(lines, "s3", opt)) == collect(
        parse_routed(lines, "s3", opt)
    )


def test_fallback_pattern_ids_match_compat(spark):
    # fallback pattern ids from the Arrow stage equal the compat engine's
    from access_log_parser_spark.engine import extract_fields

    lines = pages_to_lines(synth_pages(spark, 20, 10, 5))
    a = extract_fields(lines, "s3", passthrough=["source", "line_no"])
    b = parse_routed(lines, "s3", Option())
    ra = sorted(map(tuple, a.select("source", "line_no", "pattern_id").collect()))
    rb = sorted(map(tuple, b.select("source", "line_no", "pattern_id").collect()))
    assert ra == rb
    assert {t[2] for t in ra} == {-1, 1, 2, 3, 4}


def test_fast_matches_compat_synth_corpus(spark):
    lines = pages_to_lines(synth_pages(spark, 30, 10, 5))
    opt = Option(line_number=True)
    assert collect(fast_parse_routed(lines, "s3", opt)) == collect(
        parse_routed(lines, "s3", opt)
    )


def test_fast_rejects_ltsv_and_custom_handlers(spark):
    lines = lines_from_string(spark, g.ALL_MATCH_INPUT)
    with pytest.raises(ValueError):
        fast_parse_routed(lines, "ltsv")
    with pytest.raises(ValueError):
        fast_parse_routed(lines, "s3", Option(line_handler=lambda a, b, c: ""))


def test_pipeline_auto_uses_fast(spark, tmp_path):
    from access_log_parser_spark.pipeline import run_pipeline
    from access_log_parser_spark.sinks import read_sink

    pages = synth_pages(spark, 20, 10, 5)
    rep = run_pipeline(spark, pages, str(tmp_path / "o"), fmt="s3", engine="auto")
    assert rep.result.counters() == (200, 160, 40, 0, 0)
    assert read_sink(spark, str(tmp_path / "o")).count() == 200


def test_cloudfront_adversarial_extract_matches_plain_re2(spark):
    """The Arrow stage's guarded tab-twin must agree with the original
    pattern on adversarial CloudFront lines (extra/missing tabs, quotes,
    spaces)."""
    from access_log_parser_spark import extract_fields
    from access_log_parser_spark.patterns import CLOUDFRONT
    from tests.test_fast_twin import ADVERSARIAL, plain_re2

    lines = spark.createDataFrame(
        [(str(i), i + 1, s) for i, s in enumerate(ADVERSARIAL)],
        ["source", "line_no", "raw"],
    )
    got = {
        r["source"]: (r["pattern_id"], list(r)[2:])
        for r in extract_fields(lines, "cloudfront", passthrough=["source"]).collect()
    }
    for i, want in enumerate(plain_re2(CLOUDFRONT[0], ADVERSARIAL)):
        assert got[str(i)] == ((-1, [None] * 33) if want is None else (0, want))
