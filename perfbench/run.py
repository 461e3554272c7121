"""Benchmark runner for access_log_parser_spark.

    python3 perfbench/run.py --workload cloudfront_tsv --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all            # every workload, summary table

One run = one workload, closed loop: one job at a time from this process on
``local[nproc]``. The run

1. generates the workload's pages table from ``--seed`` (parquet, ``nproc``
   files) - not timed;
2. creates the SparkSession and runs a first small job: ``setup_s``;
3. with ``--trace 0``: runs WARMUP_JOBS full jobs with the memory sampler
   on, then full jobs back to back for ``--seconds`` seconds and at least
   MIN_TIMED jobs, and reports ``docs_per_cpu_s`` (pages per CPU second of
   the JVM, its Python workers and this process, median over the timed
   jobs) and ``peak_rss_mb`` (Spark JVM + its Python workers, from /proc,
   median over the warm-up jobs);
4. with ``--trace 1``: after the same warm-up, times untraced and traced
   full jobs, runs the job cut at each layer boundary into a ``noop`` sink,
   reads Spark's SQL and stage metrics after each action, keeps spans, then
   restarts Spark at ``local[1]`` for the single-core baseline, and reports
   the per-layer metrics named in ``layers.json``.

Every job's output is checked outside its timed window; a failed check or
an exception counts as a failed job. The last stdout line is the result
JSON ``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a report with the run's context, input properties and distributions.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import jobs  # noqa: E402
import measure  # noqa: E402

# Pages per full job: one job takes ~2.5 s at local[4] on a 4-core host, so a
# run, set-up included, stays under a minute. An ltsv_pipeline job's cost is
# almost all per-batch work (its CPU time hardly changes from 1500 to 3000
# pages), so it gets fewer pages.
WORKLOADS = {"cloudfront_tsv": 4000, "ltsv_pipeline": 1000}
# Untimed full jobs before timing starts. The JIT and Spark's codegen settle
# over the first few jobs: on a 4-core host per-job CPU time fell from 11.3 s
# to 6.2 s over the first four cloudfront_tsv jobs and by a third over the
# first three ltsv_pipeline jobs, then stayed level. Timing those jobs would
# tie the median to how many jobs fit in the window, that is, to the host's
# speed.
WARMUP_JOBS = 3
# Timed jobs per run at least, however slow the host.
MIN_TIMED = 3
SETUP_PAGES = 8
WORK = ROOT / ".perfbench_work"
REQUIRED = (
    ROOT / "access_log_parser_spark" / "__init__.py",
    ROOT / "tests" / "test_presets_golden.py",
    ROOT / "tests" / "golden_ltsv.py",
)
LAYERS = json.loads((HERE / "layers.json").read_text())["per_layer"]


# ---- environment ----------------------------------------------------------------


def prepare_env(run_dir: Path) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and let
    Python workers import the package from it."""
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = str(run_dir / "tmp")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(run_dir: Path, cores: int):
    from access_log_parser_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_jvm(timeout: float = 60) -> None:
    """Shut down the JVM this process launched and wait until it and its
    Python workers have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    tree = measure.process_tree(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits when its stdin closes
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)


def source_digest() -> str:
    """sha256 over the package sources: identifies the code when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    for f in sorted((ROOT / "access_log_parser_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def context(seed: int, cores: int) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": cores,
        "master": f"local[{cores}]",
        "loadavg_1m": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit,
        "source_sha256": source_digest(),
        "seed": seed,
    }


# ---- jobs -------------------------------------------------------------------------------


class Runner:
    """Runs and checks full jobs of one workload on one SparkSession."""

    def __init__(self, spark, workload: str, run_dir: Path, in_dir: Path, corpus: gen.Corpus):
        self.spark = spark
        self.workload = workload
        self.run_dir = run_dir
        self.in_dir = in_dir
        self.corpus = corpus
        self.n = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.jvm = jvm_pid(spark)
        self.last_cpu_s: float | None = None

    def out_dir(self) -> Path:
        self.n += 1
        return self.run_dir / "out" / f"job-{self.n:03d}"

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Spark JVM, its Python workers and
        this process's main thread (not the memory sampler's thread)."""
        return measure.tree_cpu_s(self.jvm) + time.thread_time()

    def timed(self, keep: bool = False) -> tuple[float | None, jobs.JobOutput | None]:
        """One timed job, then its check. Returns (seconds, output); seconds
        is None when the job raised or its output failed the check, and
        ``last_cpu_s`` is the job's CPU seconds. The output directory is
        removed unless ``keep``."""
        out_dir = self.out_dir()
        self.last_cpu_s = None
        try:
            c0 = self.cpu_s()
            t0 = time.perf_counter()
            out = jobs.JOBS[self.workload](self.spark, self.in_dir, out_dir, self.corpus)
            dt = time.perf_counter() - t0
            self.last_cpu_s = self.cpu_s() - c0
            problems = jobs.check(self.spark, self.corpus, out)
        except Exception:  # a failing job is a measured outcome, not a crash
            problems = [traceback.format_exc(limit=3)]
            dt, out = None, None
        if not keep:
            shutil.rmtree(out_dir, ignore_errors=True)
        self.record(problems)
        return (None if problems else dt), out


def generate(workload: str, seed: int, n_pages: int, dest: Path, cores: int) -> gen.Corpus:
    corpus = gen.generate(workload, ROOT, seed, n_pages)
    gen.write_tables(corpus, dest, n_files=cores)
    return corpus


def setup(workload: str, seed: int, run_dir: Path, cores: int):
    """SparkSession creation to the end of a first small job that runs every
    layer of the workload once on SETUP_PAGES pages (checked).
    Returns (spark, seconds, problems)."""
    small = run_dir / "in-setup"
    corpus = generate(workload, seed, SETUP_PAGES, small, cores)
    t0 = time.perf_counter()
    spark = start_spark(run_dir, cores)
    runner = Runner(spark, workload, run_dir, small, corpus)
    runner.timed()
    return spark, time.perf_counter() - t0, runner.problems


# ---- untraced run: the end-to-end metrics ------------------------------------------------


def untraced(args, run_dir: Path, cores: int) -> tuple[dict, dict]:
    wl = args.workload
    in_dir = run_dir / "in"
    corpus = generate(wl, args.seed, WORKLOADS[wl], in_dir, cores)
    spark, setup_s, problems = setup(wl, args.seed, run_dir, cores)
    try:
        runner = Runner(spark, wl, run_dir, in_dir, corpus)
        peaks: list[float] = []
        cpus: list[float] = []
        times: list[float] = []
        # Every job starts after a full GC, so its peak memory is its own
        # working set and its time includes no collection of the previous
        # job's garbage. Memory is sampled during the warm-up jobs only: the
        # sampler's thread shares the CPUs with the timed jobs.
        for _ in range(WARMUP_JOBS):
            spark._jvm.java.lang.System.gc()
            with measure.PeakRss(runner.jvm) as rss:
                dt, _ = runner.timed()
            if dt is not None:
                peaks.append(rss.mb)
        cpu0 = measure.cpu_jiffies()
        t_end = time.perf_counter() + args.seconds
        while True:
            spark._jvm.java.lang.System.gc()
            dt, _ = runner.timed()
            if dt is not None:
                times.append(dt)
                cpus.append(runner.last_cpu_s)
            if time.perf_counter() >= t_end and (len(times) >= MIN_TIMED or runner.failed >= 3):
                break
        steal = measure.steal_share(cpu0, measure.cpu_jiffies())
    finally:
        spark.stop()

    rates = [corpus.n_pages / t for t in times]
    cpu_rates = [corpus.n_pages / c for c in cpus]
    result = {
        "correct": not problems and not runner.failed,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            "docs_per_cpu_s": {"value": statistics.median(cpu_rates) if cpu_rates else 0.0, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(peaks) if peaks else 0.0, "unit": "MB"},
        },
    }
    report = {
        "properties": corpus.properties,
        "pages": corpus.n_pages,
        "docs_per_cpu_s": measure.summary(cpu_rates, tail="low"),
        "docs_per_s": measure.summary(rates, tail="low"),
        "job_cpu_s": measure.summary(cpus, tail="high"),
        "job_s": measure.summary(times, tail="high"),
        "peak_rss_mb": measure.summary(peaks, tail="high"),
        "cpu_steal_share": steal,
        "failed_frac": runner.failed / runner.attempted,
        "problems": (problems + runner.problems)[:5],
    }
    return result, report


# ---- traced run: the per-layer metrics -----------------------------------------------------


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced(args, run_dir: Path, cores: int) -> tuple[dict, dict]:
    from access_log_parser_spark import metrics, pipeline, sinks

    wl = args.workload
    fast = wl == "cloudfront_tsv"  # fast engine; ltsv_pipeline runs the compat engine
    in_dir = run_dir / "in"
    corpus = generate(wl, args.seed, WORKLOADS[wl], in_dir, cores)
    spark, _, problems = setup(wl, args.seed, run_dir, cores)
    tracer = measure.Tracer()
    store = measure.StatusStore(spark)
    m: dict[str, float] = {d["name"]: 0.0 for d in LAYERS}
    runner = Runner(spark, wl, run_dir, in_dir, corpus)
    t1 = None
    try:
        for _ in range(WARMUP_JOBS):  # not reported
            runner.timed()
        # untraced, traced, untraced: the untraced median brackets the traced
        # job, so JIT warm-up during the run does not show up as overhead
        base = [runner.timed()[0]]
        out_dir = runner.out_dir()
        with contextlib.ExitStack() as patches:
            if not fast:
                for name, mod, attr in (("sinks.write_routed", pipeline, "write_routed"),
                                        ("pipeline.write_manifest", pipeline, "write_manifest")):
                    patches.enter_context(
                        measure.patched(mod, attr, tracer.wrap(name, getattr(mod, attr))))
            ex0, st0 = store.mark()
            with tracer.span("job", workload=wl) as sp:
                out = jobs.JOBS[wl](spark, in_dir, out_dir, corpus)
        traced_s = sp["end"] - sp["start"]
        job_execs = store.executions(ex0)
        job_stages = store.stages(st0)
        runner.record(jobs.check(spark, corpus, out))
        files = [f for f in (out_dir / "data").rglob("part-*") if f.is_file()]
        m["sinks.files_written"] = len(files)
        m["sinks.bytes_written"] = sum(f.stat().st_size for f in files)
        m["sinks.partitions_written"] = len({f.parent for f in files})
        shutil.rmtree(out_dir, ignore_errors=True)
        base.append(runner.timed()[0])
        base = [t for t in base if t is not None]
        untraced_s = statistics.median(base) if base else float("nan")
        m["trace.overhead_s"] = traced_s - untraced_s
        m["filters.excluded_rows"] = out.counters["excluded"]
        m["spark.task_s_total"] = sum(s["run_s"] for s in job_stages)
        m["spark.gc_s"] = sum(s["gc_s"] for s in job_stages)
        m["spark.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in job_stages)
        if not fast:
            writes = [s for s in tracer.spans if s["name"] == "sinks.write_routed"]
            mans = [s for s in tracer.spans if s["name"] == "pipeline.write_manifest"]
            m["pipeline.manifest_s"] = sum(s["end"] - s["start"] for s in mans)
            # per batch, the lineage collect + unpersist run between the write and the manifest
            m["pipeline.lineage_s"] = sum(mf["start"] - w["end"] for w, mf in zip(writes, mans))
            batch = [e["duration_s"] for e in job_execs
                     if ("Execute InsertIntoHadoopFsRelationCommand", "number of written files") in e["metrics"]]
            m["pipeline.batch_s"] = statistics.median(batch[: len(writes)]) if batch else 0.0

        # -- prefix cuts into the noop sink
        chain, last, decoded = jobs.CUTS[wl](spark, in_dir, corpus)
        steps = [(name, lambda df=df: noop(df)) for name, df in chain]
        steps.append(("observe", lambda: noop(metrics.observe_routed(last)[0])))
        write_dir = runner.out_dir()
        steps.append(("write", lambda: sinks.write_routed(
            metrics.observe_routed(last)[0], str(write_dir), mode="overwrite")))
        best: dict[str, float] = {}
        cut_execs: dict[str, list[dict]] = {}
        cut_stages: dict[str, list[dict]] = {}
        # forward then backward, keeping each cut's faster run, so warm-up
        # during the sequence does not favour the later cuts
        for name, action in steps + steps[::-1]:
            ex, st = store.mark()
            with tracer.span(f"cut.{name}") as sp:
                action()
            dt = sp["end"] - sp["start"]
            if dt < best.get(name, float("inf")):
                best[name] = dt
                cut_execs[name] = store.executions(ex)
                cut_stages[name] = store.stages(st)
        shutil.rmtree(write_dir, ignore_errors=True)
        cuts = [(name, best[name]) for name, _ in steps]

        st = measure.self_times(cuts)
        m["scan.pages_s"] = st["scan"]
        m["sources.text.explode_s"] = st["explode"]
        m["sources.text.rows_out"] = measure.metric_sum(cut_execs["explode"], "Generate", "number of output rows")
        m["metrics.observe_s"] = st["observe"]
        m["sinks.write_s"] = st["write"]
        decode_cut = "decode" if fast else "route"
        dex = cut_execs[decode_cut]
        m["engine.decode_arrow_bytes_in"] = measure.metric_sum(dex, "MapInPandas", "data sent to Python workers")
        m["engine.decode_arrow_bytes_out"] = measure.metric_sum(dex, "MapInPandas", "data returned from Python workers")
        m["engine.decode_python_s"] = measure.metric_sum(dex, "MapInPandas", "time to run Python workers")
        heavy = max(cut_stages[decode_cut], key=lambda s: s["run_s"], default=None)
        m["spark.task_skew"] = measure.task_skew(store.task_durations(heavy)) if heavy else 0.0
        if fast:
            m["engine.decode_s"] = st["decode"]
            m["functions.serialize_expr.serialize_s"] = st["serialize"]
            m["engine.finalize_s"] = st["route"]
            m["engine.finalize_shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in cut_stages["route"])
        else:
            # compat engine: decode and serialisation are one mapInPandas stage,
            # so they can only be cut together
            m["handlers.decode_serialize_s"] = st["route"]
            m["enrich.join_s"] = st["enrich"]

        # -- what the decoder did (one more aggregation, not timed)
        hits = {r["pattern_id"]: r["count"] for r in decoded.groupBy("pattern_id").count().collect()}
        for pid in (0, -1):
            m[f"patterns.hits.{pid}"] = hits.get(pid, 0)
        if fast:  # the CloudFront preset is a one-pattern cascade
            attempts = measure.regex_attempts(sum(hits.values()), [hits.get(0, 0)])
            m["decoders.regex_attempts"] = attempts
            m["decoders.useful_ratio"] = measure.useful_ratio(hits.get(0, 0), attempts)

        # -- single-core baseline: same (warm) JVM, new SparkContext at local[1]
        spark.stop()
        spark = start_spark(run_dir, 1)
        one = Runner(spark, wl, run_dir, in_dir, corpus)
        t1, _ = one.timed()
        runner.attempted += one.attempted
        runner.failed += one.failed
        runner.problems += one.problems
    finally:
        spark.stop()

    rate_n = corpus.n_pages / untraced_s
    if t1:
        m["trace.docs_per_s_1core"] = corpus.n_pages / t1
        m["trace.scaling_eff"] = rate_n / m["trace.docs_per_s_1core"] / cores
    spans_path = WORK / "results" / f"{wl}-seed{args.seed}-{os.getpid()}-spans.json"
    tracer.write(spans_path)
    units = {d["name"]: d["unit"] for d in LAYERS}
    result = {
        "correct": not problems and not runner.failed,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in m.items()},
    }
    report = {
        "properties": corpus.properties,
        "pages": corpus.n_pages,
        "cuts_s": dict(cuts),
        "untraced_job_s": base,
        "traced_job_s": traced_s,
        "docs_per_s_nproc": rate_n,
        "job_s_1core": t1,
        "spans": str(spans_path.relative_to(ROOT)),
        "problems": (problems + runner.problems)[:5],
    }
    return result, report


# ---- entry points -------------------------------------------------------------------------


def run_one(args) -> int:
    cores = len(os.sched_getaffinity(0))  # what `nproc` prints
    run_dir = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    t0 = time.perf_counter()
    ctx = context(args.seed, cores)
    try:
        result, report = (traced if args.trace else untraced)(args, run_dir, cores)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    report = {"workload": args.workload, "trace": args.trace, "context": ctx,
              "wall_s": time.perf_counter() - t0, **report}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload once (untraced), each in its own process, then a table."""
    rows = []
    for wl in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                              timeout=600)
        out = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or not out:
            print(f"{wl}: run failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        rows.append((wl, json.loads(out[-1]), json.loads(out[-2])["report"]))
    print(f"{'workload':<16} {'docs_per_cpu_s':>14} {'docs_per_s':>14} {'setup_s':>10} "
          f"{'peak_rss_mb':>13} {'failed_frac':>12}")
    for wl, res, rep in rows:
        mt = res["metrics"]
        print(f"{wl:<16} {mt['docs_per_cpu_s']['value']:>10.1f} 1/s "
              f"{rep['docs_per_s']['median']:>10.1f} 1/s {mt['setup_s']['value']:>8.2f} s "
              f"{mt['peak_rss_mb']['value']:>10.0f} MB {res['failed'] / res['attempted']:>10.3f} 1")
    return 0 if all(r["correct"] for _, r, _ in rows) else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Benchmark of access_log_parser_spark.")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload and print a table")
    args = ap.parse_args(argv)

    missing = [str(p.relative_to(ROOT)) for p in REQUIRED if not p.exists()]
    if missing:
        print(f"perfbench: not a checkout of the repository, missing {missing}", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
