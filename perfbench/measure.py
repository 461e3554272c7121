"""Measurement helpers: in-memory spans, Spark status-store harvesting,
peak-RSS sampling from ``/proc`` and the small pieces of arithmetic the
per-layer metrics are built from.

Nothing here is imported by the package; spans are recorded around calls
into the package's public functions from the benchmark's own code.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time
from pathlib import Path

# ---- spans -------------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


@contextlib.contextmanager
def patched(module, attr: str, value):
    old = getattr(module, attr)
    setattr(module, attr, value)
    try:
        yield
    finally:
        setattr(module, attr, old)


# ---- per-layer arithmetic ---------------------------------------------------------


def self_times(cuts: list[tuple[str, float]]) -> dict[str, float]:
    """Prefix cuts ``[(layer, seconds to run the job up to and including
    that layer), ...]`` -> each layer's self time (its cut minus the
    previous cut). The first cut's self time is the cut itself."""
    out: dict[str, float] = {}
    prev = 0.0
    for layer, t in cuts:
        out[layer] = t - prev
        prev = t
    return out


def regex_attempts(total_lines: int, hits: list[int]) -> int:
    """Regex searches a first-match-wins cascade makes: pattern k is tried
    on every line that patterns 0..k-1 did not match. ``hits[k]`` is the
    number of lines pattern k won."""
    attempts = 0
    pending = total_lines
    for h in hits:
        attempts += pending
        pending -= h
    return attempts


def useful_ratio(matched: int, attempts: int) -> float:
    """Matched lines per regex attempt (0 when no regex ran)."""
    return matched / attempts if attempts else 0.0


def summary(values: list[float], tail: str) -> dict:
    """Median, count, and the most extreme percentile with at least ten
    samples beyond it (``tail`` = "high" or "low"), None when n < 11."""
    n = len(values)
    out: dict = {"n": n, "median": statistics.median(values) if values else None, "values": values}
    if n >= 11:
        p = int(100 * (1 - 10 / n))
        q = statistics.quantiles(values, n=100, method="inclusive")
        out[f"p{p}"] = q[p - 1] if tail == "high" else q[100 - p - 1]
        out["percentile"] = p if tail == "high" else 100 - p
    return out


# ---- Spark status store ------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``"10.8 s (2.7 s, ...)"``, ``"220.8 KiB"``,
    ``"400"``, with a ``"total (min, med, max ...)\\n"`` header for
    per-task metrics) -> its total as a number in bytes / seconds / rows."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME:
        return v * _TIME[unit]
    return v


class StatusStore:
    """Reads SQL executions and stages after each action; works with
    ``spark.ui.enabled=false``."""

    def __init__(self, spark) -> None:
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark._jsc.sc().statusStore()
        self._empty = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        """Watermark: (last execution id, last stage id)."""
        return self._last_execution(), max((s["stage_id"] for s in self.stages(-1)), default=-1)

    def _last_execution(self) -> int:
        ex = self.sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def executions(self, after: int) -> list[dict]:
        """SQL executions with id > ``after``: duration and per-node metrics
        ``{(node name, metric name): number}`` summed over same-named nodes."""
        out = []
        ex = self.sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= after:
                continue
            end = e.completionTime()
            dur = (end.get().getTime() - e.submissionTime()) / 1000 if end.isDefined() else None
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            mets: dict[tuple[str, str], float] = {}
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = (node.name(), m.name())
                        mets[key] = mets.get(key, 0.0) + parse_metric(v.get())
            out.append({"id": eid, "description": e.description(), "duration_s": dur, "metrics": mets})
        return out

    def stages(self, after: int) -> list[dict]:
        """Completed stage attempts with id > ``after``."""
        sl = self.app.stageList(None, False, False, self._empty, None)
        out = []
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.stageId() <= after or s.status().toString() != "COMPLETE":
                continue
            out.append(
                {
                    "stage_id": s.stageId(),
                    "attempt": s.attemptId(),
                    "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1000,
                    "gc_s": s.jvmGcTime() / 1000,
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                }
            )
        return out

    def task_durations(self, stage: dict) -> list[float]:
        tl = self.app.taskList(stage["stage_id"], stage["attempt"], 100000)
        out = []
        for j in range(tl.size()):
            d = tl.apply(j).duration()
            if d.isDefined():
                out.append(d.get() / 1000)
        return out


def metric_sum(executions: list[dict], node: str, name: str) -> float:
    return sum(v for e in executions for (n, m), v in e["metrics"].items() if n == node and m == name)


def task_skew(durations: list[float]) -> float:
    """Slowest task / median task (1.0 for a perfectly even stage)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    throughput drops with it, whatever the program does."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


# ---- resident memory from /proc -----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) a process tree has used: each live
    process's own time plus that of the children it has reaped, so Python
    workers that exited still count."""
    ticks = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so forked workers do not count the
    pages they share with their parent again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of a process tree (the Spark JVM and its Python
    workers) over a window: a thread sums PSS over the live tree every
    ``INTERVAL`` seconds and keeps the highest sum."""

    INTERVAL = 0.1

    def __init__(self, root_pid: int) -> None:
        self.root = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(pss_kb(p) for p in process_tree(self.root)))

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self._poll()

    def __enter__(self) -> PeakRss:
        self._poll()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024
