"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench -q

The generator's closed-form expectations are checked against a small real
Spark run at a fixed seed (through the same output check every timed job
gets); the per-layer arithmetic is checked on hand-worked numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import jobs  # noqa: E402
import measure  # noqa: E402

ROOT = HERE.parent
SEED = 7
PAGES = 6


# ---- arithmetic ----------------------------------------------------------------------


def test_self_times_subtract_the_previous_cut():
    cuts = [("scan", 0.5), ("explode", 1.25), ("decode", 4.0), ("write", 4.5)]
    assert measure.self_times(cuts) == {"scan": 0.5, "explode": 0.75, "decode": 2.75, "write": 0.5}


def test_regex_attempts_follow_the_cascade():
    # 100 lines, a 5-pattern cascade winning 50/20/10/5/5, 10 unmatched:
    # pattern k is tried on every line patterns < k missed
    hits = [50, 20, 10, 5, 5]
    attempts = measure.regex_attempts(100, hits)
    assert attempts == 100 + 50 + 30 + 20 + 15
    assert measure.useful_ratio(sum(hits), attempts) == pytest.approx(90 / 215)
    # one pattern: one attempt per line
    assert measure.regex_attempts(48, [44]) == 48
    assert measure.useful_ratio(0, 0) == 0.0


def test_tree_cpu_s_counts_a_busy_process():
    before = measure.tree_cpu_s(os.getpid())
    t0 = time.thread_time()
    while time.thread_time() - t0 < 0.3:
        pass
    assert measure.tree_cpu_s(os.getpid()) - before >= 0.25


def test_parse_metric_reads_spark_formats():
    assert measure.parse_metric("total (min, med, max (stageId: taskId))\n10.8 s (2.7 s, 2.7 s, 2.8 s (stage 0.0: task 3))") == 10.8
    assert measure.parse_metric("220.8 KiB (55.1 KiB, 55.2 KiB)") == pytest.approx(220.8 * 1024)
    assert measure.parse_metric("183 ms (22 ms, 63 ms)") == pytest.approx(0.183)
    assert measure.parse_metric("1,234") == 1234


def test_summary_reports_a_percentile_only_with_ten_samples_beyond_it():
    assert "percentile" not in measure.summary([1.0] * 10, tail="high")
    s = measure.summary([float(i) for i in range(1, 21)], tail="high")
    assert s["n"] == 20 and s["percentile"] == 50
    s = measure.summary([float(i) for i in range(1, 41)], tail="low")
    assert s["percentile"] == 25


def test_task_skew():
    assert measure.task_skew([1.0, 1.0, 1.0, 3.0]) == 3.0
    assert measure.task_skew([]) == 0.0


# ---- generator -------------------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_seeded(workload):
    a = gen.generate(workload, ROOT, SEED, PAGES)
    b = gen.generate(workload, ROOT, SEED, PAGES)
    c = gen.generate(workload, ROOT, SEED + 1, PAGES)
    assert a.pages == b.pages and a.sample == b.sample
    assert a.pages["text"] != c.pages["text"]
    # same work for every seed: counters and sink sizes do not depend on it
    assert a.counters == c.counters and a.sinks == c.sinks
    assert sum(a.sinks.values()) == a.counters["total"]


def test_cloudfront_status_is_always_numeric():
    corpus = gen.generate("cloudfront_tsv", ROOT, SEED, 50)
    names = [k for k, _ in gen.cloudfront_golden(ROOT)[1]]
    col = names.index("sc_status")
    for text in corpus.pages["text"]:
        for line in text.splitlines():
            fields = line.split("\t")
            if len(fields) > col:
                assert fields[col].isdigit()


def test_write_tables_splits_into_files(tmp_path):
    corpus = gen.generate("ltsv_pipeline", ROOT, SEED, PAGES)
    gen.write_tables(corpus, tmp_path, n_files=4)
    assert len(list((tmp_path / "pages").glob("*.parquet"))) == 4
    assert (tmp_path / "lang").is_dir() and (tmp_path / "region").is_dir()


def test_layers_json_matches_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((HERE / "layers.json").read_text())["per_layer"]
    assert [{k: d[k] for k in ("name", "unit", "better")} for d in layers] == bench["per_layer"]
    workloads = {w["name"] for w in bench["workloads"]}
    for d in layers:
        assert set(d["on"]) <= workloads and set(d["idle_on"]) <= workloads


# ---- against Spark -----------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    run_dir = tmp_path_factory.mktemp("perfbench")
    run.prepare_env(run_dir)
    s = run.start_spark(run_dir, 2)
    yield s
    s.stop()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_closed_form_counts_match_a_spark_run(spark, tmp_path, workload):
    corpus = gen.generate(workload, ROOT, SEED, PAGES)
    gen.write_tables(corpus, tmp_path / "in", n_files=2)
    out = jobs.JOBS[workload](spark, tmp_path / "in", tmp_path / "out", corpus)
    assert jobs.check(spark, corpus, out) == []
    # the check really compares: a wrong expectation is reported
    corpus.counters["matched"] += 1
    corpus.sample[next(iter(corpus.sample))] += "x"
    problems = jobs.check(spark, corpus, out)
    assert any("counters" in p for p in problems)
    assert any("out_line mismatch" in p for p in problems)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_decoder_hits_match_the_generator(spark, tmp_path, workload):
    corpus = gen.generate(workload, ROOT, SEED, PAGES)
    gen.write_tables(corpus, tmp_path / "in", n_files=2)
    _, _, decoded = jobs.CUTS[workload](spark, tmp_path / "in", corpus)
    hits = {r["pattern_id"]: r["count"] for r in decoded.groupBy("pattern_id").count().collect()}
    assert hits == {
        0: corpus.properties["expected_hits.0"],
        -1: corpus.properties["expected_hits.-1"],
    }
