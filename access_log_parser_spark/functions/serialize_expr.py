"""Catalyst-side serializers: build the reference's output encodings as
pure JVM string expressions over the structured (extract_fields) surface.

For preset regex formats the label set per ``pattern_id`` is static, so
each handler compiles to a ``CASE pattern_id WHEN k THEN concat(<literal
fragments>, escape(col), ...)`` expression — whole-stage codegen, no
Python. Byte-compatibility with handler.go:

- JSON/KV escaping = exactly ``\\ " \\n \\r \\t`` via 5 chained literal
  replaces (handler.go:127-144) — applied backslash-first;
- LTSV/TSV empty -> "-" (handler.go:88-90,115-117);
- key order = capture-group order; absent groups (fallback patterns)
  contribute nothing (the reference's truncated field lists).

This is the engine's fast path; the Python handlers remain the
reference-parity compat path (and the only path for dynamic-schema LTSV
input and custom user handlers).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import patterns as pat
from .columns import escape_json_col


def _fields_for(names: Sequence[str], labels: Sequence[str] | None) -> list[str]:
    """Label projection keeps original capture order (parser_core.go:291-305)."""
    if not labels:
        return list(names)
    lset = set(labels)
    return [n for n in names if n in lset]


def _value(col_name: str, line_no_as: str | None) -> Column:
    if line_no_as is not None and col_name == line_no_as:
        return F.col("line_no").cast("string")
    return F.col(col_name)


def _json_native(union_fields: list[str], line_no: bool) -> Column:
    """Compact NDJSON via native ``to_json``: NULL fields (capture groups
    absent from the winning fallback pattern) are dropped automatically,
    so ONE expression covers every pattern_id — no CASE fan-out, stays in
    codegen. Byte-compatible with JSONLineHandler (handler.go:15-34) for
    all inputs free of control characters outside \\n \\r \\t (Jackson
    additionally escapes \\b \\f and <0x20, which the reference emits
    raw — irrelevant for real log data, and the compat path exists for
    byte-exactness on such inputs)."""
    cols = [_value(f, None).alias(f) for f in union_fields]
    if line_no:
        cols = [F.col("line_no").cast("string").alias("no"), *cols]
    return F.to_json(F.struct(*cols))


def _json_expr(fields: list[str], line_no: bool, pretty: bool) -> Column:
    parts: list[Column] = []
    names = (["no", *fields]) if line_no else list(fields)
    open_b, close_b = ("{\n", "\n}") if pretty else ("{", "}")
    sep = ",\n" if pretty else ","
    kv_open = '  "' if pretty else '"'
    kv_mid = '": "' if pretty else '":"'
    for i, f in enumerate(names):
        prefix = (sep if i else "") + kv_open + f + kv_mid
        parts.append(F.lit(prefix))
        parts.append(escape_json_col(_value(f, "no" if line_no else None)))
        parts.append(F.lit('"'))
    return F.concat(F.lit(open_b), *parts, F.lit(close_b))


def _kv_expr(fields: list[str], line_no: bool) -> Column:
    parts: list[Column] = []
    names = (["no", *fields]) if line_no else list(fields)
    for i, f in enumerate(names):
        parts.append(F.lit((" " if i else "") + f + '="'))
        parts.append(escape_json_col(_value(f, "no" if line_no else None)))
        parts.append(F.lit('"'))
    return F.concat(*parts)


def _dash(c: Column) -> Column:
    return F.when(c == "", F.lit("-")).otherwise(c)


def _ltsv_expr(fields: list[str], line_no: bool) -> Column:
    parts: list[Column] = []
    names = (["no", *fields]) if line_no else list(fields)
    for i, f in enumerate(names):
        parts.append(F.lit(("\t" if i else "") + f + ":"))
        parts.append(_dash(_value(f, "no" if line_no else None)))
    return F.concat(*parts)


def _tsv_expr(fields: list[str], line_no: bool) -> Column:
    names = (["no", *fields]) if line_no else list(fields)
    parts: list[Column] = []
    for i, f in enumerate(names):
        if i:
            parts.append(F.lit("\t"))
        parts.append(_dash(_value(f, "no" if line_no else None)))
    return F.concat(*parts)


def serialize_expr(
    fmt: str | Sequence[str],
    handler: str = "json",
    labels: Sequence[str] | None = None,
    line_number: bool = False,
    pattern_col: str = "pattern_id",
) -> tuple[Column, Column]:
    """(out_line, tsv_header) expressions over extract_fields columns.

    ``out_line`` branches on pattern_id so each fallback pattern gets its
    own (static) field list; ``tsv_header`` is the tab-joined label row
    (NULL for non-TSV handlers).
    """
    pattern_strs = (
        list(pat.PRESETS[fmt]) if isinstance(fmt, str) else [str(p) for p in fmt]
    )
    names = [pat.validate_pattern(p) for p in pattern_strs]
    builders = {
        "json": lambda f: _json_expr(f, line_number, pretty=False),
        "pretty_json": lambda f: _json_expr(f, line_number, pretty=True),
        "kv": lambda f: _kv_expr(f, line_number),
        "ltsv": lambda f: _ltsv_expr(f, line_number),
        "tsv": lambda f: _tsv_expr(f, line_number),
    }
    if handler not in builders:
        raise ValueError(f"unsupported JVM handler: {handler!r}")
    build = builders[handler]

    if handler == "json":
        union = _fields_for(pat.union_schema(names), labels)
        return _json_native(union, line_number), F.lit(None).cast("string")

    out: Column | None = None
    header: Column | None = None
    for pid, ns in enumerate(names):
        fields = _fields_for(ns, labels)
        expr = build(fields)
        cond = F.col(pattern_col) == pid
        out = F.when(cond, expr) if out is None else out.when(cond, expr)
        if handler == "tsv":
            hdr = F.lit("\t".join((["no", *fields]) if line_number else fields))
            header = F.when(cond, hdr) if header is None else header.when(cond, hdr)
    return out, (header if header is not None else F.lit(None).cast("string"))
