"""Lineage metrics: the reference's ``Result`` counters, distributed.

The reference's only aggregate is per-input counters Total/Matched/
Unmatched/Excluded/Skipped plus an errors side-list
(`/root/reference/parser_result.go:16-36`), with the invariant
``Total = Matched + Unmatched + Excluded + Skipped``.

Here the counters are computed two ways:

- :func:`observe_routed` attaches a ``pyspark.sql.Observation`` so a write
  pass yields the counters for free (no second scan of the data — the
  100 TB path);
- :func:`collect_result` runs an explicit partial+final hash aggregation
  (`groupBy` + ``sum(when(...))``) — used by tests and the driver-style
  Parser API.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .decoders import EXCLUDED, MATCHED, SKIPPED, UNMATCHED

_STATUSES = (MATCHED, UNMATCHED, EXCLUDED, SKIPPED)


@dataclass
class ParseError:
    """One unmatched line (parser_result.go:32-36)."""

    entry: str
    line_number: int
    line: str


@dataclass
class Result:
    """Counter aggregate (parser_result.go:16-27). elapsed_time in seconds."""

    total: int = 0
    matched: int = 0
    unmatched: int = 0
    excluded: int = 0
    skipped: int = 0
    elapsed_time: float = 0.0
    source: str = ""
    zip_entries: list[str] = field(default_factory=list)
    errors: list[ParseError] = field(default_factory=list)
    input_type: str = "string"  # stream/string/file/gzip/zip

    def counters(self) -> tuple[int, int, int, int, int]:
        return (self.total, self.matched, self.unmatched, self.excluded, self.skipped)

    def check_invariant(self) -> bool:
        return self.total == self.matched + self.unmatched + self.excluded + self.skipped

    def to_json(self) -> str:
        """Go ``json.Marshal(result)``-compatible serialization: camelCase
        keys per the struct tags (parser_result.go:17-36), ElapsedTime in
        nanoseconds, zipEntries/entry omitted when empty."""
        import json

        out: dict = {
            "total": self.total,
            "matched": self.matched,
            "unmatched": self.unmatched,
            "excluded": self.excluded,
            "skipped": self.skipped,
            "elapsedTime": round(self.elapsed_time * 1_000_000_000),
            "source": self.source,
        }
        if self.zip_entries:
            out["zipEntries"] = list(self.zip_entries)
        errs = []
        for e in self.errors:
            d: dict = {}
            if e.entry:
                d["entry"] = e.entry
            d["lineNumber"] = e.line_number
            d["line"] = e.line
            errs.append(d)
        out["errors"] = errs
        return json.dumps(out, separators=(",", ":"), ensure_ascii=False)

    def report(self, top: int = 10) -> str:
        """Byte-faithful Result.String() (parser_result.go:40-100; golden
        layouts in parser_result_test.go) — mintab-style tables, Go
        duration formatting, fold widths, top-N truncation notice."""
        from .functions.textreport import render_result

        return render_result(
            self.total,
            self.matched,
            self.unmatched,
            self.excluded,
            self.skipped,
            self.elapsed_time,
            self.source,
            self.zip_entries,
            [(e.entry, e.line_number, e.line) for e in self.errors],
            self.input_type,
            top=top,
        )


def _counter_aggs() -> list:
    aggs = [F.count(F.lit(1)).alias("total")]
    for st in _STATUSES:
        aggs.append(
            F.sum(F.when(F.col("status") == st, 1).otherwise(0)).alias(st)
        )
    return aggs


def observe_routed(routed: DataFrame, name: str = "lineage") -> tuple[DataFrame, Observation]:
    """Attach counter observation; read ``obs.get`` after the first action."""
    obs = Observation(name)
    return routed.observe(obs, *_counter_aggs()), obs


def result_from_observation(obs: Observation, elapsed: float = 0.0, source: str = "") -> Result:
    m = obs.get
    return Result(
        total=m["total"],
        matched=m[MATCHED] or 0,
        unmatched=m[UNMATCHED] or 0,
        excluded=m[EXCLUDED] or 0,
        skipped=m[SKIPPED] or 0,
        elapsed_time=elapsed,
        source=source,
    )


def counters_by_source(routed: DataFrame) -> DataFrame:
    """Per-source counter table (the zip-entry partial -> final shape,
    parser_core.go:152-163): groupBy(source) partial+final hash agg."""
    return routed.groupBy("source").agg(*_counter_aggs())


def counters_by_sink(routed: DataFrame) -> DataFrame:
    """Per-sink aggregate counts: sinks are keyed by (status, pattern_id)."""
    return routed.groupBy("status", "pattern_id").agg(
        F.count(F.lit(1)).alias("rows")
    )


def counters_by_partition(routed: DataFrame) -> DataFrame:
    """Per-PARTITION lineage counters (north_rule: "per-partition lineage
    + metrics"): which task processed how many rows with which outcomes.
    ``spark_partition_id()`` is evaluated map-side before the aggregation
    shuffle, so the breakdown reflects the physical input partitions of
    the routed stage; the partial/final agg keeps it one tiny shuffle.
    Invariant: summing over partitions reproduces the global Result."""
    return (
        routed.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(*_counter_aggs())
    )


def collect_result(
    routed: DataFrame,
    source: str = "",
    elapsed: float = 0.0,
    max_errors: int | None = 1000,
) -> Result:
    """Aggregate counters + errors list into a Result (test/driver path).

    ``max_errors`` bounds the driver-side error collect: the reference
    accumulates every unmatched line in memory (parser_result.go:32-36),
    which is fine for its single-file corpora but unbounded at 10^12
    docs — the default keeps the first 1000 (the report only prints
    top-10 anyway); read the full set from the unmatched sink. ``None``
    collects every error, as the reference does; the Parser API verbs
    pass it for reference parity."""
    row = routed.agg(*_counter_aggs()).collect()[0]
    err_df = (
        routed.filter(F.col("status") == UNMATCHED)
        .select("source", "line_no", "raw")
        .orderBy("source", "line_no")
    )
    if max_errors is not None:
        err_df = err_df.limit(max_errors)
    errors = [
        ParseError(entry="", line_number=r["line_no"], line=r["raw"])
        for r in err_df.collect()
    ]
    return Result(
        total=row["total"],
        matched=row[MATCHED] or 0,
        unmatched=row[UNMATCHED] or 0,
        excluded=row[EXCLUDED] or 0,
        skipped=row[SKIPPED] or 0,
        elapsed_time=elapsed,
        source=source,
        errors=errors,
    )
