"""The benchmark's jobs: one complete job per workload, built only from the
package's public functions, plus the output check that follows every timed
job (outside its timed window).

A job returns a :class:`JobOutput`; :func:`check` compares it and the sinks
it wrote with the generator's expectations and returns a list of problems
(empty when the output is correct).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from gen import (
    CF_FILTER,
    CF_LABELS,
    LTSV_BATCHES,
    Corpus,
)


@dataclass
class JobOutput:
    counters: dict[str, int]
    out_dir: Path
    sink_rows: dict[tuple[str, int], int] | None = None  # read back inside the job
    extra: dict = field(default_factory=dict)


def cf_opt(corpus: Corpus):
    from access_log_parser_spark.options import Option

    return Option(
        labels=CF_LABELS,
        filters=(CF_FILTER,),
        skip_lines=(int(corpus.properties["skip_line"]),),
        line_number=True,
        line_handler="tsv",
    )


def read_pages(spark, in_dir: Path):
    return spark.read.parquet(str(in_dir / "pages"))


def cloudfront_job(spark, in_dir: Path, out_dir: Path, corpus: Corpus) -> JobOutput:
    """pages scan -> explode_lines -> fast_parse_routed (TSV, labels,
    line numbers, filter, skip) -> one write_routed with observe_routed."""
    from access_log_parser_spark import engine, metrics, sinks
    from access_log_parser_spark.sources.text import explode_lines

    lines = explode_lines(read_pages(spark, in_dir), text_col="text", source_col="url")
    routed = engine.fast_parse_routed(lines, "cloudfront", cf_opt(corpus))
    observed, obs = metrics.observe_routed(routed)
    sinks.write_routed(observed, str(out_dir), mode="overwrite")
    return JobOutput(counters=metrics.result_from_observation(obs).__dict__, out_dir=out_dir)


def ltsv_lookups(spark, in_dir: Path) -> dict:
    return {
        "lang": (spark.read.parquet(str(in_dir / "lang")), "lang"),
        "region": (spark.read.parquet(str(in_dir / "region")), "host"),
    }


def ltsv_job(spark, in_dir: Path, out_dir: Path, corpus: Corpus) -> JobOutput:
    """run_pipeline(fmt="ltsv") with two broadcast lookups, LTSV_BATCHES batches and
    partition lineage; per-sink aggregation read back through read_sink +
    counters_by_sink; then a resume rerun that must skip every batch."""
    from access_log_parser_spark import metrics, pipeline, sinks

    pages = read_pages(spark, in_dir)
    lookups = ltsv_lookups(spark, in_dir)
    kw = dict(fmt="ltsv", lookups=lookups, n_batches=LTSV_BATCHES, partition_lineage=True)
    rep = pipeline.run_pipeline(spark, pages, str(out_dir), **kw)
    sink_rows = {
        (r["status"], r["pattern_id"]): r["rows"]
        for r in metrics.counters_by_sink(sinks.read_sink(spark, str(out_dir))).collect()
    }
    again = pipeline.run_pipeline(spark, pages, str(out_dir), resume=True, **kw)
    return JobOutput(
        counters=rep.result.__dict__,
        out_dir=out_dir,
        sink_rows=sink_rows,
        extra={
            "batches_run": list(rep.batches_run),
            "resume_run": list(again.batches_run),
            "resume_skipped": list(again.batches_skipped),
        },
    )


JOBS = {
    "cloudfront_tsv": cloudfront_job,
    "ltsv_pipeline": ltsv_job,
}


# ---- prefix cuts for the traced run ------------------------------------------------
#
# Each workload's job rebuilt as a chain of DataFrames, one per layer boundary:
# running the chain up to a boundary into a noop sink times the job "cut" there.
# The chain ends with the frame that the last two cuts (observe, write) use.


def cloudfront_cuts(spark, in_dir: Path, corpus: Corpus):
    """(chain, last, decoded): chain = [(cut name, DataFrame), ...]."""
    from access_log_parser_spark import engine
    from access_log_parser_spark.functions.serialize_expr import serialize_expr
    from access_log_parser_spark.sources.text import explode_lines

    opt = cf_opt(corpus)
    pages = read_pages(spark, in_dir)
    lines = explode_lines(pages, text_col="text", source_col="url")
    # the decode fast_parse_routed runs, with the same arguments
    decoded = engine.extract_fields(
        lines, "cloudfront", passthrough=["source", "line_no"], raw_when_unmatched=True
    )
    out_expr, header = serialize_expr(
        "cloudfront", handler=opt.line_handler, labels=list(opt.labels),
        line_number=opt.line_number,
    )
    serialized = decoded.select(
        "source", "line_no", out_expr.alias("out_line"), header.alias("tsv_header")
    )
    routed = engine.fast_parse_routed(lines, "cloudfront", opt)
    chain = [
        ("scan", pages.select("url", "text")),
        ("explode", lines),
        ("decode", decoded),
        ("serialize", serialized),
        ("route", routed),
    ]
    return chain, routed, decoded


def ltsv_cuts(spark, in_dir: Path, corpus: Corpus):
    """The pipeline's per-batch plan for all batches at once: explode,
    compat parse (decode + serialize in one Python stage), then the
    page-grain carry join and the broadcast lookups as run_pipeline does."""
    from pyspark.sql import functions as F

    from access_log_parser_spark import engine, enrich
    from access_log_parser_spark.options import Option
    from access_log_parser_spark.sources.text import explode_lines

    pages = read_pages(spark, in_dir)
    lines = explode_lines(pages, text_col="text", source_col="url")
    routed = engine.parse_routed(lines, "ltsv", Option())
    enriched = routed.join(
        pages.select(F.col("url").alias("source"), "lang", "host"), on="source", how="left"
    )
    for lookup_df, key in ltsv_lookups(spark, in_dir).values():
        enriched = enrich.broadcast_enrich(enriched, lookup_df, on=key)
    chain = [
        ("scan", pages.select("url", "text", "lang", "host")),
        ("explode", lines),
        ("route", routed),
        ("enrich", enriched),
    ]
    return chain, enriched, routed


CUTS = {
    "cloudfront_tsv": cloudfront_cuts,
    "ltsv_pipeline": ltsv_cuts,
}

COUNTER_KEYS = ("total", "matched", "unmatched", "excluded", "skipped")


def check(spark, corpus: Corpus, out: JobOutput) -> list[str]:
    """Compare one job's output with the generator's expectation."""
    from pyspark.sql import functions as F

    from access_log_parser_spark import metrics, sinks

    problems: list[str] = []
    got = {k: int(out.counters[k]) for k in COUNTER_KEYS}
    if got != corpus.counters:
        problems.append(f"counters {got} != expected {corpus.counters}")
    if got["total"] != got["matched"] + got["unmatched"] + got["excluded"] + got["skipped"]:
        problems.append(f"counter invariant broken: {got}")

    sink_df = sinks.read_sink(spark, str(out.out_dir))
    rows = out.sink_rows
    if rows is None:
        rows = {
            (r["status"], r["pattern_id"]): r["rows"]
            for r in metrics.counters_by_sink(sink_df).collect()
        }
    if rows != corpus.sinks:
        problems.append(f"sink rows {sorted(rows.items())} != expected {sorted(corpus.sinks.items())}")

    extra_cols = sorted({c for d in corpus.sample_extra.values() for c in d})
    sample_rows = (
        sink_df.filter(F.col("source").isin(corpus.sample_sources))
        .select("source", "line_no", "status", "out_line", "raw", *extra_cols)
        .collect()
    )
    by_key = {(r["source"], r["line_no"]): r for r in sample_rows}
    for key, want in corpus.sample.items():
        r = by_key.get(key)
        if r is None or r["status"] != "matched" or r["out_line"] != want:
            problems.append(f"out_line mismatch at {key}: {None if r is None else r['out_line']!r}")
            break
        for col, v in corpus.sample_extra.get(key, {}).items():
            if r[col] != v:
                problems.append(f"enrich mismatch at {key}: {col}={r[col]!r}, want {v!r}")
                break
    for key, want in corpus.sample_raw.items():
        r = by_key.get(key)
        if r is None or r["status"] != "unmatched" or r["raw"] != want:
            problems.append(f"unmatched raw mismatch at {key}")
            break

    if "batches_run" in out.extra:
        ids = [str(i) for i in range(LTSV_BATCHES)]
        if sorted(out.extra["batches_run"]) != ids:
            problems.append(f"batches run {out.extra['batches_run']} != {ids}")
        if out.extra["resume_run"] or sorted(out.extra["resume_skipped"]) != ids:
            problems.append(
                f"resume ran {out.extra['resume_run']}, skipped {out.extra['resume_skipped']}"
            )
        problems += check_manifests(out.out_dir, got)
    return problems


def check_manifests(out_dir: Path, counters: dict[str, int]) -> list[str]:
    """Batch manifests add up to the run's counters, and each batch's
    per-partition lineage adds up to that batch's counters."""
    from access_log_parser_spark.sinks import read_manifests

    problems = []
    mans = read_manifests(str(out_dir))
    tot = {k: sum(m["counters"][k] for m in mans) for k in COUNTER_KEYS}
    if tot != counters:
        problems.append(f"manifest counters {tot} != run counters {counters}")
    for m in mans:
        lin = {k: sum(row[k] or 0 for row in m.get("partition_lineage", [])) for k in COUNTER_KEYS}
        if lin != m["counters"]:
            problems.append(f"batch {m['batch_id']} lineage {lin} != {m['counters']}")
    return problems
