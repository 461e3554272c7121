"""Vectorized parse engine — the core of the PySpark-native rebuild.

Everything the reference does per line in its eager loop
(`/root/reference/parser_core.go:176-254`: skip-check -> decode ->
unmatched? -> filter -> selectLabels -> addLineNumber -> LineHandler ->
prefix -> write) runs here as ONE Arrow-batched Python pass followed by
pure-Catalyst finalization. Design goals at 100 TB:

- exactly one Python<->JVM hop on the hot path; the regex decode is the
  one RE2 cascade of :func:`.decoders.regex_decode` on every surface;
- regexes and filter predicates compile once per executor, not per line
  (the reference recompiles filters per line — parser_core.go:220);
- TSV "isFirst" header and prefix decoration are JVM-side Catalyst
  expressions (window-free ``min(when(...)) over source`` + ``transform``),
  so no global ordering is ever collected to the driver;
- document-level predicates (skip lines, source pruning) stay JVM-side
  ahead of the Python stage so Catalyst pushes them into the scan.

Two surfaces:

- :func:`parse_routed` — reference-parity: Option semantics, byte-exact
  serialized output lines, status routing column, error rows;
- :func:`extract_fields` / :func:`extract_ltsv` — the Spark-native
  structured surface: typed string columns (union of capture groups) for
  SQL, joins and aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import decoders, patterns as pat
from .decoders import EXCLUDED, MATCHED, SKIPPED, UNMATCHED
from .filters import apply_filters, compile_filters
from .handlers import prefix_strings
from .options import Option

LINE_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("line_no", LongType()),
        StructField("raw", StringType()),
    ]
)

ROUTED_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("line_no", LongType()),
        StructField("status", StringType()),
        StructField("pattern_id", IntegerType()),
        StructField("out_line", StringType()),
        StructField("tsv_header", StringType()),
        StructField("raw", StringType()),
    ]
)


def _resolve_patterns(fmt: str | Sequence[str]) -> list[str] | None:
    """fmt is 'ltsv', a preset name, or an explicit pattern list."""
    if isinstance(fmt, str):
        if fmt == "ltsv":
            return None
        return list(pat.PRESETS[fmt])
    return [str(p) for p in fmt]


def parse_routed(
    lines_df: DataFrame,
    fmt: str | Sequence[str],
    opt: Option | None = None,
    keep_raw: str = "unmatched",
) -> DataFrame:
    """Full reference pipeline over a lines DataFrame.

    ``lines_df`` must carry (source string, line_no long, raw string);
    line_no is 1-based within its source (the reference's scanner counter).
    Returns (source, line_no, status, pattern_id, out_line, raw) where
    ``status`` routes the row (matched/unmatched/excluded/skipped),
    ``out_line`` is the byte-exact serialized record (None when the row
    produces no output) and unmatched rows keep ``raw`` for the errors
    sink (parser_result.go:32-36).

    ``keep_raw``: which rows carry the raw line back out of the engine —
    "unmatched" (default: only the errors-sink rows, halving Arrow
    transfer and sink bytes for mostly-matching corpora), "all", or
    "none".
    """
    opt = opt or Option()
    pattern_strs = _resolve_patterns(fmt)
    if pattern_strs is not None:
        # Driver-side validation, AddPattern semantics (parser_regex.go:74-89).
        names = [pat.validate_pattern(p) for p in pattern_strs]
        if not pattern_strs:
            raise decoders.NoPatternError
    # Driver-side DSL validation: syntax + operator errors surface before any
    # task runs; data-dependent errors (unknown label, non-numeric value)
    # still abort at execution, matching parser_core.go:220-223.
    compile_filters(opt.filters)

    skip_set = frozenset(int(s) for s in opt.skip_lines)
    labels_sel = tuple(opt.labels)
    add_no = bool(opt.line_number)
    handler_name = opt.line_handler if isinstance(opt.line_handler, str) else None
    handler = opt.resolve_handler()
    # identity check, not just the name: Option(line_handler=
    # handlers.tsv_line_handler) (the callable spelling of the same
    # built-in) must get the first-matched-per-source header row too
    from .handlers import HANDLERS as _H

    is_tsv = handler_name == "tsv" or handler is _H.get("tsv")
    filter_exprs = tuple(opt.filters)
    emit_unmatch = bool(opt.unmatch_lines)
    if keep_raw not in ("unmatched", "all", "none"):
        raise ValueError(f"keep_raw must be unmatched/all/none, got {keep_raw!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        filt = compile_filters(filter_exprs)
        for pdf in batches:
            raws = pdf["raw"].tolist()
            line_nos = pdf["line_no"].tolist()
            n = len(raws)
            status = [MATCHED] * n
            pids = [-1] * n
            out = [None] * n

            live_idx = []
            for i, ln in enumerate(line_nos):
                if ln in skip_set:
                    status[i] = SKIPPED
                else:
                    live_idx.append(i)

            if pattern_strs is not None:
                decoded = decoders.regex_decode(
                    pa.array([raws[i] for i in live_idx], pa.string()),
                    pattern_strs,
                ).to_pydict()
                sub_pids = decoded["pattern_id"]
                row_ls: list[list[str] | None] = [None] * n
                row_vs: list[list[str] | None] = [None] * n
                for k, i in enumerate(live_idx):
                    pids[i] = pid = sub_pids[k]
                    if pid >= 0:
                        row_ls[i] = names[pid]
                        row_vs[i] = [decoded[nm][k] for nm in names[pid]]
            else:
                sub_ls, sub_vs = decoders.ltsv_decode_batch(
                    [raws[i] for i in live_idx]
                )
                row_ls = [None] * n
                row_vs = [None] * n
                for k, i in enumerate(live_idx):
                    row_ls[i] = sub_ls[k]
                    row_vs[i] = sub_vs[k]
                    if sub_ls[k] is not None:
                        pids[i] = 0

            headers = [None] * n
            for i in live_idx:
                ls = row_ls[i]
                if ls is None:
                    status[i] = UNMATCHED
                    if emit_unmatch:
                        out[i] = raws[i]
                    continue
                vs = row_vs[i]
                if filt and not apply_filters(filt, ls, vs):
                    status[i] = EXCLUDED
                    continue
                if labels_sel:
                    ls, vs = decoders.select_labels(labels_sel, ls, vs)
                if add_no:
                    ls = ["no", *ls]
                    vs = [str(line_nos[i]), *vs]
                out[i] = handler(ls, vs, False)
                if is_tsv:
                    headers[i] = "\t".join(ls)

            if keep_raw == "all":
                raw_out = pdf["raw"]
            elif keep_raw == "none":
                raw_out = pd.Series([None] * n, dtype="object")
            else:
                raw_out = pd.Series(
                    [raws[i] if status[i] == UNMATCHED else None for i in range(n)],
                    dtype="object",
                )
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "line_no": pdf["line_no"],
                    "status": pd.Series(status, dtype="object"),
                    "pattern_id": pd.Series(pids, dtype="int32"),
                    "out_line": pd.Series(out, dtype="object"),
                    "tsv_header": pd.Series(headers, dtype="object"),
                    "raw": raw_out,
                }
            )

    routed = lines_df.select("source", "line_no", "raw").mapInPandas(
        run, ROUTED_SCHEMA
    )
    return _finalize_routed(routed, is_tsv, opt)


def _finalize_routed(routed: DataFrame, is_tsv: bool, opt: Option) -> DataFrame:
    """Catalyst-side finalization shared byte-for-byte by the compat and
    fast paths (their row-identity is a pinned invariant — one home for
    this block means a header/prefix change cannot drift between them):
    TSV first-matched-per-source header, then prefix decoration."""
    if is_tsv:
        # isFirst = first matched line per source (parser_core.go:182,245);
        # a single partition-window min, no global sort.
        w = Window.partitionBy("source")
        first_line = F.min(
            F.when(F.col("status") == MATCHED, F.col("line_no"))
        ).over(w)
        routed = routed.withColumn(
            "out_line",
            F.when(
                (F.col("status") == MATCHED) & (F.col("line_no") == first_line),
                F.concat_ws("\n", F.col("tsv_header"), F.col("out_line")),
            ).otherwise(F.col("out_line")),
        )
    routed = routed.drop("tsv_header")

    if opt.prefix:
        # applyPrefix (parser_core.go:323-334), multi-line aware for matched
        # output; unmatched raws get the single-line UNMATCHED prefix
        # (parser_core.go:203-205). ANSI-colored pair on a tty
        # (parser_core.go:186-189) or when Option(color=True).
        mpref, upref = prefix_strings(opt.resolve_color())
        prefixed = F.array_join(
            F.transform(
                F.split(F.col("out_line"), "\n"),
                lambda x: F.concat(F.lit(mpref), x),
            ),
            "\n",
        )
        routed = routed.withColumn(
            "out_line",
            F.when(F.col("status") == MATCHED, prefixed)
            .when(
                (F.col("status") == UNMATCHED) & F.col("out_line").isNotNull(),
                F.concat(F.lit(upref), F.col("out_line")),
            )
            .otherwise(F.col("out_line")),
        )
    return routed


def extract_fields(
    lines_df: DataFrame,
    fmt: str | Sequence[str],
    passthrough: Sequence[str] = (),
    line_col: str = "raw",
    raw_when_unmatched: bool = False,
    fields: Sequence[str] | None = None,
) -> DataFrame:
    """Structured surface: decode lines into typed string columns.

    Output = passthrough columns + (pattern_id int, one string column per
    capture group in the union schema; groups absent from the winning
    pattern are NULL; pattern_id = -1 marks unmatched rows). This is the
    column-oriented equivalent of the reference's (labels, values) slices
    (parser_core.go:69) and feeds joins/aggregations without further Python.

    The decode is one ``mapInArrow`` stage: Arrow batches in, RE2 kernels
    (:func:`.decoders.regex_decode`), Arrow batches out, no Python
    strings.

    ``fields`` pushes column pruning through the UDF boundary: Catalyst
    cannot prune inside a black-box ``mapInArrow``, so a downstream
    ``.select`` of 5 of 33 CloudFront fields would otherwise still pay
    extraction + Arrow transfer for all 33. Selection keeps union (line)
    order and silently drops unknown names — the reference's
    ``selectLabels`` semantics (parser_core.go:291-305).
    """
    pattern_strs = _resolve_patterns(fmt)
    if not pattern_strs:
        raise decoders.NoPatternError
    union = pat.union_schema([pat.validate_pattern(p) for p in pattern_strs])
    if fields is not None:
        wanted = set(fields)
        union = [n for n in union if n in wanted]

    passthrough = list(passthrough)
    out_schema = StructType(
        [lines_df.schema[c] for c in passthrough]
        + [StructField("pattern_id", IntegerType())]
        + ([StructField("raw", StringType())] if raw_when_unmatched else [])
        + [StructField(name, StringType()) for name in union]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            lines = batch.column(line_col)
            decoded = decoders.regex_decode(lines, pattern_strs, union)
            pids = decoded.column("pattern_id")
            cols = [batch.column(c) for c in passthrough] + [pids]
            if raw_when_unmatched:
                cols.append(pc.if_else(pc.less(pids, 0), lines, None))
            cols += decoded.columns[1:]
            yield pa.RecordBatch.from_arrays(cols, names=out_schema.names)

    return lines_df.select(*passthrough, line_col).mapInArrow(run, out_schema)


def fast_parse_routed(
    lines_df: DataFrame,
    fmt: str | Sequence[str],
    opt: Option | None = None,
) -> DataFrame:
    """JVM-serialization fast path: same routed output contract as
    :func:`parse_routed`, ~2x throughput on mostly-matching corpora.

    Python does ONLY the regex decode (:func:`extract_fields`); status
    derivation, DSL filtering, label projection, line numbers and the
    five output encodings are Catalyst expressions (whole-stage codegen)
    via :mod:`..functions.serialize_expr`.

    Semantics differences vs the compat path (both documented reference
    divergences, not result divergences on well-formed data):

    - filter DSL errors are not abort-exact: a numeric comparison against
      a non-numeric field value EXCLUDES the row (NULL predicate) instead
      of aborting the job (parser_core.go:220-223);
    - custom Python ``LineHandler`` callables are not supported (use the
      compat path);
    - LTSV input is not supported (dynamic per-line schema cannot be a
      static Catalyst expression).
    """
    from .filters import filters_to_column
    from .functions.serialize_expr import serialize_expr

    opt = opt or Option()
    if callable(opt.line_handler):
        raise ValueError("fast path requires a named handler; use parse_routed")
    handler = opt.line_handler
    if isinstance(fmt, str) and fmt == "ltsv":
        raise ValueError("fast path is regex-presets only; use parse_routed")

    fields = extract_fields(
        lines_df, fmt, passthrough=["source", "line_no"], raw_when_unmatched=True
    )

    skip = [int(s) for s in opt.skip_lines]
    status = F.when(F.col("line_no").isin(skip), F.lit(SKIPPED)) if skip else None
    unmatched_c = F.col("pattern_id") < 0
    if opt.filters:
        pred = filters_to_column(list(opt.filters), fields.columns)
        excluded_c = ~F.coalesce(pred, F.lit(False))
    else:
        excluded_c = F.lit(False)
    chain = (status.when(unmatched_c, F.lit(UNMATCHED)) if status is not None
             else F.when(unmatched_c, F.lit(UNMATCHED)))
    chain = chain.when(excluded_c, F.lit(EXCLUDED)).otherwise(F.lit(MATCHED))
    # "_status": a format may have its own "status" field (Apache CLF)
    fields = fields.withColumn("_status", chain)

    out_expr, header_expr = serialize_expr(
        fmt, handler=handler, labels=list(opt.labels) or None,
        line_number=opt.line_number,
    )
    out_line = F.when(F.col("_status") == MATCHED, out_expr)
    if opt.unmatch_lines:
        out_line = out_line.when(F.col("_status") == UNMATCHED, F.col("raw"))
    routed = fields.select(
        "source",
        "line_no",
        F.col("_status").alias("status"),
        # skipped lines are never decoded in the reference
        # (parser_core.go:197-200): pattern_id stays -1
        F.when(F.col("_status") == SKIPPED, F.lit(-1))
        .otherwise(F.col("pattern_id"))
        .cast("int")
        .alias("pattern_id"),
        out_line.alias("out_line"),
        (header_expr if handler == "tsv" else F.lit(None).cast("string")).alias(
            "tsv_header"
        ),
        F.when(F.col("_status") == UNMATCHED, F.col("raw")).alias("raw"),
    )

    return _finalize_routed(routed, handler == "tsv", opt)


def extract_ltsv(
    lines_df: DataFrame,
    passthrough: Sequence[str] = (),
    line_col: str = "raw",
) -> DataFrame:
    """LTSV structured surface: per-line dynamic schema kept as ordered
    parallel arrays (labels, values) — NOT a MapType, because Spark maps do
    not preserve insertion order and serialization order matters
    (SURVEY.md §1.3). ``labels`` is NULL for invalid lines."""
    passthrough = list(passthrough)
    out_schema = StructType(
        [lines_df.schema[c] for c in passthrough]
        + [
            StructField("labels", ArrayType(StringType())),
            StructField("values", ArrayType(StringType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ls, vs = decoders.ltsv_decode_batch(pdf[line_col].tolist())
            data = {c: pdf[c] for c in passthrough}
            data["labels"] = pd.Series(ls, dtype="object")
            data["values"] = pd.Series(vs, dtype="object")
            yield pd.DataFrame(data)

    return lines_df.select(*passthrough, line_col).mapInPandas(run, out_schema)
