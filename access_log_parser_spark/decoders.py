"""Line decoders: regex first-match-wins cascade and LTSV.

Semantics match `/root/reference/parser_core.go:259-288`:

- regex: ordered pattern list, first match wins, match index = pattern_id;
  no pattern matched -> unmatched; empty pattern list -> hard error;
- LTSV: tab-split then split each field on the first ``:``; any field
  without ``:`` invalidates the WHOLE line (unmatched).

:func:`regex_decode` is the only regex decoder: every surface (the
``extract_fields`` Arrow stage, both routed engines, the SQL UDTF) calls
it. It runs on RE2 through Arrow compute kernels — the engine family of
the reference's Go ``regexp`` — over a whole Arrow batch at a time.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .patterns import fast_twin, union_schema, validate_pattern

PARSE_ERROR = "cannot parse input"

# status codes carried through the pipeline
MATCHED = "matched"
UNMATCHED = "unmatched"
EXCLUDED = "excluded"
SKIPPED = "skipped"


class NoPatternError(ValueError):
    def __init__(self) -> None:
        super().__init__(f"{PARSE_ERROR}: no pattern provided")


@functools.lru_cache(maxsize=32)
def _cascade(patterns: tuple[str, ...]):
    """Validated cascade, once per process: ([(pattern, group names,
    twin or None)], union schema)."""
    if not patterns:
        raise NoPatternError
    steps = [(p, validate_pattern(p), fast_twin(p)) for p in patterns]
    return steps, union_schema([names for _, names, _ in steps])


def regex_decode(
    lines: pa.Array,
    patterns: Sequence[str],
    fields: Sequence[str] | None = None,
) -> pa.RecordBatch:
    """Decode a batch of lines against the pattern cascade.

    Returns a batch with an int32 ``pattern_id`` column (-1 = unmatched)
    followed by one string column per group of the union schema (only
    ``fields`` of it, in union order, when given). A group absent from
    the winning pattern is NULL; a group of the winning pattern that did
    not participate is "" (Go's ``FindStringSubmatch``).

    For each pattern, over the lines still pending: ``match_substring_regex``
    finds the hits (a DFA pass, no submatches); ``extract_regex`` runs on
    the hits only — a single extract pass over every pending line measured
    2x slower. Hits whose tab count equals the twin's separator count are
    extracted with the twin (see :func:`..patterns.fast_twin`).
    """
    steps, union = _cascade(tuple(patterns))
    keep = union
    if fields is not None:
        wanted = set(fields)
        keep = [n for n in union if n in wanted]
    if isinstance(lines, pa.ChunkedArray):
        lines = lines.combine_chunks()
    n = len(lines)
    pids = np.full(n, -1, np.int32)
    pending, todo = np.arange(n), lines
    pieces: dict[str, list[tuple[np.ndarray, pa.Array]]] = {nm: [] for nm in keep}
    for pid, (pattern, names, twin) in enumerate(steps):
        if not len(pending):
            break
        hit = pc.fill_null(pc.match_substring_regex(todo, pattern=pattern), False)
        mask = hit.to_numpy(zero_copy_only=False)
        rows, hits = pending[mask], todo.filter(hit)
        pending, todo = pending[~mask], todo.filter(pc.invert(hit))
        pids[rows] = pid
        slots = [(j, nm) for j, nm in enumerate(names) if nm in pieces]
        if not slots or not len(rows):
            continue
        parts = [(np.ones(len(rows), bool), pattern)]
        if twin is not None:
            guard = pc.equal(pc.count_substring(hits, "\t"), twin[1])
            guard = guard.to_numpy(zero_copy_only=False)
            parts = [(guard, twin[0]), (~guard, pattern)]
        for sel, regex in parts:
            if not sel.any():
                continue
            struct = pc.extract_regex(hits.filter(pa.array(sel)), pattern=regex)
            for j, nm in slots:
                pieces[nm].append((rows[sel], struct.field(j)))
    columns = [pa.array(pids)] + [_scatter(pieces[nm], n, lines.type) for nm in keep]
    return pa.RecordBatch.from_arrays(columns, names=["pattern_id", *keep])


def _scatter(
    pieces: list[tuple[np.ndarray, pa.Array]], n: int, type_: pa.DataType
) -> pa.Array:
    """Place each piece's values at its row positions; other rows NULL."""
    if not pieces:
        return pa.nulls(n, type_)
    values = pa.concat_arrays([v for _, v in pieces])
    index = np.full(n, -1, np.int64)
    offset = 0
    for rows, v in pieces:
        index[rows] = np.arange(offset, offset + len(v))
        offset += len(v)
    return pc.take(values, pa.array(index, mask=index < 0))


def ltsv_decode_batch(
    lines: Sequence[str],
) -> tuple[list[list[str] | None], list[list[str] | None]]:
    """Decode LTSV lines; returns (labels, values), None/None when invalid."""
    out_ls: list[list[str] | None] = []
    out_vs: list[list[str] | None] = []
    for line in lines:
        ls: list[str] = []
        vs: list[str] = []
        ok = True
        for fld in line.split("\t"):
            label, sep, value = fld.partition(":")
            if not sep:
                ok = False
                break
            ls.append(label)
            vs.append(value)
        if ok:
            out_ls.append(ls)
            out_vs.append(vs)
        else:
            out_ls.append(None)
            out_vs.append(None)
    return out_ls, out_vs


def select_labels(
    targets: Sequence[str], labels: Sequence[str], values: Sequence[str]
) -> tuple[list[str], list[str]]:
    """Keep original line order, silently drop unknown targets
    (parser_core.go:291-305)."""
    tset = set(targets)
    ls: list[str] = []
    vs: list[str] = []
    for j, label in enumerate(labels):
        if label in tset:
            ls.append(label)
            vs.append(values[j])
    return ls, vs
