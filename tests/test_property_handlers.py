"""Property-based serializer tests (hypothesis): beyond the reference's
table-driven goldens.

- JSON handler output must parse as JSON and round-trip values for inputs
  whose escaping the reference handles (no raw control chars < 0x20 other
  than \\n \\r \\t — the reference emits those raw, producing technically
  invalid JSON by design, handler.go:127-144);
- LTSV handler round-trips through the LTSV decoder for values free of
  tab/newline;
- decode is total: arbitrary lines never crash, they match or don't.
"""

import json
import re

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from access_log_parser_spark import patterns as pat
from access_log_parser_spark.decoders import ltsv_decode_batch, regex_decode
from access_log_parser_spark.handlers import (
    json_line_handler,
    ltsv_line_handler,
    tsv_line_handler,
)

label = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
# printable + escaped whitespace, excluding other control chars
value_json = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="".join(
        chr(c) for c in range(0x20) if chr(c) not in "\n\r\t"
    )),
    max_size=50,
)


@given(st.lists(st.tuples(label, value_json), min_size=1, max_size=8, unique_by=lambda t: t[0]))
@settings(max_examples=200, deadline=None)
def test_json_handler_round_trips(pairs):
    labels = [p[0] for p in pairs]
    values = [p[1] for p in pairs]
    out = json_line_handler(labels, values, False)
    parsed = json.loads(out)
    assert parsed == dict(pairs)
    assert list(parsed) == labels  # insertion order preserved


value_ltsv = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\t\n\r"),
    min_size=1,
    max_size=30,
)


@given(st.lists(st.tuples(label, value_ltsv), min_size=1, max_size=6, unique_by=lambda t: t[0]))
@settings(max_examples=200, deadline=None)
def test_ltsv_handler_round_trips_through_decoder(pairs):
    labels = [p[0] for p in pairs]
    values = [p[1] for p in pairs]
    line = ltsv_line_handler(labels, values, False)
    ls, vs = ltsv_decode_batch([line])
    assert ls[0] == labels
    # handler substitutes empty values with "-" (handler.go:88-90)
    assert vs[0] == [v if v else "-" for v in values]


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_regex_decode_total(line):
    names = [pat.validate_pattern(p) for p in pat.PRESETS["s3"]]
    row = regex_decode(pa.array([line]), pat.PRESETS["s3"]).to_pylist()[0]
    pid = row.pop("pattern_id")
    present = {k for k, v in row.items() if v is not None}
    if pid >= 0:
        assert present == set(names[pid])
    else:
        assert present == set()


@given(st.lists(st.text(alphabet=st.characters(blacklist_characters="\t\n\r",
                                               blacklist_categories=("Cs",)),
                        max_size=20), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_tsv_handler_column_count(values):
    labels = [f"c{i}" for i in range(len(values))]
    out = tsv_line_handler(labels, values, False)
    assert len(out.split("\t")) == len(values)
