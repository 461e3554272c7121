"""fast_twin: the guarded unambiguous rewrite for tab-separated patterns
(patterns.fast_twin) must be observationally identical to the original
pattern through the decoder, including on adversarial lines (extra/missing
tabs, quotes inside fields, trailing garbage) where the guard forces the
original pattern. The oracle is RE2 itself: ``extract_regex`` with the
original pattern and no twin.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from access_log_parser_spark import decoders
from access_log_parser_spark.patterns import (
    ALB,
    APACHE_CLF,
    CLOUDFRONT,
    NLB,
    S3,
    PatternError,
    fast_twin,
    validate_pattern,
)


def _cf_line(n_fields: int = 33, inject: str | None = None) -> str:
    fields = [
        "2024-01-01", "00:00:01", "LAX1", "655", "192.0.2.8", "GET",
        "d0.cloudfront.net", "/x/0", "200", "-", "ua/0", "-", "-", "Hit",
        "req0", "example.com", "https", "100", "0.001", "-", "TLSv1.2",
        "ECDHE", "Hit", "HTTP/2.0", "-", "-", "10000", "0.001", "Hit",
        "text/html", "655", "-", "-",
    ][:n_fields]
    if inject is not None:
        fields[9] = inject  # cs_referer: the ambiguous [^\"]* field
    return "\t".join(fields)


ADVERSARIAL = [
    _cf_line(),                          # well-formed
    _cf_line(32),                        # one field short
    _cf_line() + "\textra",              # extra 34th field
    _cf_line() + " trailing",            # trailing junk, same tab count
    _cf_line(inject="has space ref"),    # spaces inside referer
    _cf_line(inject='q"uote'),           # quote inside referer
    "GARBAGE",                           # no tabs at all
    "",                                  # empty line
    "\t".join(["-"] * 33),               # all-dash fields
    "a\tb",                              # 2 fields
]


def plain_re2(pattern: str, lines: list[str]) -> list[list[str] | None]:
    """Group values of the original pattern, no twin and no cascade."""
    struct = pc.extract_regex(pa.array(lines, pa.string()), pattern=pattern)
    return [None if r is None else list(r.values()) for r in struct.to_pylist()]


def assert_decoder_matches_plain(pattern: str, lines: list[str]) -> None:
    names = validate_pattern(pattern)
    decoded = decoders.regex_decode(pa.array(lines, pa.string()), [pattern])
    got = decoded.to_pydict()
    for k, (line, want) in enumerate(zip(lines, plain_re2(pattern, lines))):
        if want is None:
            assert got["pattern_id"][k] == -1, (pattern, line)
            assert all(got[nm][k] is None for nm in names), (pattern, line)
        else:
            assert got["pattern_id"][k] == 0, (pattern, line)
            assert [got[nm][k] for nm in names] == want, (pattern, line)


def test_cf_twin_exists_and_clf_space_variant_does_not():
    assert fast_twin(CLOUDFRONT[0]) is not None
    assert fast_twin(APACHE_CLF[0]) is None  # space-separated
    assert fast_twin(APACHE_CLF[2]) is not None  # tab variant
    assert fast_twin(ALB[0]) is None
    assert fast_twin(NLB[0]) is None
    assert fast_twin(S3[0]) is None


@pytest.mark.parametrize("pattern", [CLOUDFRONT[0], APACHE_CLF[2], APACHE_CLF[3]])
def test_twin_identical_to_original_on_adversarial_lines(pattern):
    lines = ADVERSARIAL + [
        '1.2.3.4\t-\tu\t[12/Mar/2023:10:55:36 +0000]\t"GET / HTTP/1.1"\t200\t1\t"-"\t"ua"',
        '1.2.3.4\t-\tu\t[12/Mar/2023:10:55:36 +0000]\t"GET / HTTP/1.1"\t200\t1',
        '1.2.3.4\t-\tu\t[tab\tin brackets]\t"GET / HTTP/1.1"\t200\t1\t"-"\t"ua"',
    ]
    assert_decoder_matches_plain(pattern, lines)


def test_non_mandatory_tab_patterns_get_no_twin():
    """A literal tab that a successful match may SKIP makes the tab-count
    guard unsound (the skipped pattern tab leaves a line tab for a greedy
    class to span even when counts agree) — such patterns must not derive
    a twin. Regression for the optional-group case: the original matches
    'hdr\\tfoo\\tbar' with b='foo\\tbar' but a narrowed twin would not."""
    # NOTE: patterns below embed REAL tab characters ("\t" in a non-raw
    # string) — fast_twin only counts literal tab chars in the source
    # (a 2-char "\\t" escape already derives no twin, which is safe).
    optional = '^(?P<a>\\S+)\t(?:x\t)?(?P<b>[^"]*)$'
    assert fast_twin(optional) is None
    decoded = decoders.regex_decode(pa.array(["hdr\tfoo\tbar"]), [optional])
    assert decoded.to_pylist() == [{"pattern_id": 0, "a": "hdr", "b": "foo\tbar"}]

    # tab inside an alternation branch: skippable via the other branch
    assert fast_twin('^(?P<a>\\S+)(?:\tx|y)(?P<b>[^"]*)$') is None
    # top-level alternation with tabs on one side
    assert fast_twin('(?P<a>\\S+)\tz(?P<b>[^"]*)|w') is None
    # tab inside a min-0 counted repetition
    assert fast_twin('^(?P<a>\\S+)(?:\tq){0,3}(?P<b>[^"]*)$') is None
    # a tab inside a lookahead never consumes: RE2 rejects lookaround
    # before any twin is derived
    with pytest.raises(PatternError):
        validate_pattern('^(?=x\t)(?P<a>[^"]*)\t(?P<b>\\S+)$')
    # bare tab with a min-0 quantifier directly on it: '^(?P<a>[^"]*)q\t?'
    # '(?P<b>\S+)$' matches 'x\tyqz' with the tab inside <a>, but a
    # narrowed twin would reject it even though the line's tab count
    # equals n_tabs=1
    bare_opt = '^(?P<a>[^"]*)q\t?(?P<b>\\S+)$'
    assert fast_twin(bare_opt) is None
    decoded = decoders.regex_decode(pa.array(["x\tyqz"]), [bare_opt])
    assert decoded.to_pylist() == [{"pattern_id": 0, "a": "x\ty", "b": "z"}]
    assert fast_twin('^(?P<a>[^"]*)q\t*(?P<b>\\S+)$') is None
    assert fast_twin('^(?P<a>[^"]*)q\t{0,2}(?P<b>\\S+)$') is None
    assert fast_twin('^(?P<a>[^"]*)q\t{,2}(?P<b>\\S+)$') is None
    # min-1 quantifiers on a bare tab stay twin-eligible
    assert fast_twin('^(?P<a>\\S+)\t+(?P<b>[^"]*)$') is not None
    assert fast_twin('^(?P<a>\\S+)\t{1,2}(?P<b>[^"]*)$') is not None
    # ... but a min-1 group keeps the mandatoriness argument intact
    assert fast_twin('^(?P<a>\\S+)(?:\t(?P<b>[^"]*))$') is not None
    # ... and an optional group WITHOUT a tab inside stays twin-eligible
    assert fast_twin('^(?P<a>\\S+)\t(?:x)?(?P<b>[^"]*)$') is not None


def test_posix_class_is_one_class_for_the_twin():
    """A POSIX class inside a bracket ends at the bracket's own ``]``: a
    literal tab after it is inside the class, so no twin is derived."""
    assert fast_twin('^(?P<a>[^[:space:]\t]+)\t(?P<b>[^"]*)$') is None
    twin = fast_twin('^(?P<a>[^[:space:]]+)\t(?P<b>[^"]*)$')
    assert twin == ('^(?P<a>[^\\t[:space:]]+)\t(?P<b>[^\\t"]*)$', 1)


def test_optional_tab_pattern_identical_through_batch_decoder():
    """End-to-end: the decoder must route the ADVICE repro line through
    the original pattern and return its group values."""
    pattern = '^(?P<a>\\S+)\t(?:x\t)?(?P<b>[^"]*)$'
    assert_decoder_matches_plain(
        pattern, ["hdr\tfoo\tbar", "hdr\tx\tval", "hdr\tonly", "no-tabs"]
    )


def test_twin_group_values_match_on_matched_corpus():
    twin, n_tabs = fast_twin(CLOUDFRONT[0])
    assert n_tabs == 32
    line = _cf_line()
    assert line.count("\t") == n_tabs
    assert plain_re2(twin, [line]) == plain_re2(CLOUDFRONT[0], [line])
    assert plain_re2(twin, [line])[0] is not None


def test_twin_is_fast():
    """Why the twin is kept under RE2: the original CloudFront pattern is
    ambiguous, so RE2 cannot use its one-pass submatch matcher on it."""
    import time

    twin, _ = fast_twin(CLOUDFRONT[0])
    lines = pa.array([_cf_line()] * 2000, pa.string())

    def best(pattern):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            pc.extract_regex(lines, pattern=pattern)
            times.append(time.perf_counter() - t0)
        return min(times)

    assert best(twin) < best(CLOUDFRONT[0]) / 2  # conservatively 2x


# --- property-based equivalence ---

try:
    from hypothesis import given, settings, strategies as st

    _field = st.text(
        alphabet=st.sampled_from(list("ab5.-\"' \t[]/:")), min_size=0, max_size=8
    )

    @given(st.lists(_field, min_size=0, max_size=40), st.sampled_from([0, 1, 2]))
    @settings(max_examples=300, deadline=None)
    def test_twin_property_random_lines(parts, which):
        pattern = [CLOUDFRONT[0], APACHE_CLF[2], APACHE_CLF[3]][which]
        assert_decoder_matches_plain(pattern, ["\t".join(parts)])
except ImportError:  # pragma: no cover
    pass


# --- property-based soundness over RANDOM PATTERNS ---
#
# Both prior advisory reviews found real unsoundness in the
# twin-eligibility scanner (_tabs_all_mandatory): optional tabs inside
# groups (round 1) and a bare min-0-quantified tab (round 2) each made
# the decoder trust a twin that disagreed with the original. This fuzz
# generates patterns from a grammar of exactly the risky ingredients —
# greedy classes that span tabs, tabs under every quantifier shape,
# optional/alternation scopes containing tabs — and asserts the ONLY
# property that matters: through the decoder (twin + tab-count guard
# engaged), every line decodes identically to the original pattern.

try:
    from hypothesis import given, settings, strategies as st

    _GROUP_BODIES = ["[^\\t]*", "\\S+", "[^\"]*", ".*", "[^\\t\"]*"]
    _PLAIN_TOKENS = [
        "\\t", "\\t?", "\\t*", "\\t{0,2}", "\\t{1,2}", "\\t{2}",
        "q", "x?", '"',
        "(?:x\\t)?", "(?:a|b\\t)", "(?:\\t|;)", "(?:q\\t)",
    ]
    _token = st.one_of(
        st.sampled_from(_GROUP_BODIES).map(lambda b: ("G", b)),
        st.sampled_from(_PLAIN_TOKENS).map(lambda t: ("L", t)),
    )
    _line_text = st.text(
        alphabet=st.sampled_from(list('abqx;" \t')), min_size=0, max_size=24
    )

    @given(
        st.lists(_token, min_size=1, max_size=8),
        st.lists(_line_text, min_size=1, max_size=6),
    )
    @settings(max_examples=400, deadline=None)
    def test_random_pattern_twin_soundness(tokens, lines):
        parts, gi = [], 0
        for kind, val in tokens:
            if kind == "G":
                parts.append(f"(?P<g{gi}>{val})")
                gi += 1
            else:
                parts.append(val)
        if not gi:  # decoder contract: >=1 named group
            parts.append("(?P<g0>[^\\t]*)")
        # real tab characters, so fast_twin sees separator literals
        pattern = "^" + "".join(parts).replace("\\t", "\t") + "$"
        # also probe lines with the exact separator tab count, where the
        # guard lets the twin (if any) take over
        n_tabs = pattern.count("\t")
        probe = lines + ["\t".join(["ab"] * (n_tabs + 1)), "\t" * n_tabs]
        assert_decoder_matches_plain(pattern, probe)
except ImportError:  # pragma: no cover
    pass
