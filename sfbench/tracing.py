"""Measurement helpers: percentiles, spans, Spark status-store reads, RSS.

Everything here observes the engine from outside: spans wrap calls into the
package's public functions, and per-operation Spark counters come from the
status stores Spark keeps anyway (``AppStatusStore`` for jobs and stages,
``SQLAppStatusStore`` for per-node SQL metrics such as the Python-worker
timers of ``ArrowEvalPython``/``MapInArrow``).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import re
import statistics
import threading
import time

# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, beyond: int = 10, cap: float = 95.0):
    """Highest whole percentile (≤ ``cap``) with at least ``beyond`` samples
    strictly above its rank, and its value (nearest-rank).

    Returns ``(pct, value)``; with fewer than ``beyond + 1`` samples there is
    no such percentile beyond the median, so the median is returned."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("no samples")
    best = 50
    for pct in range(int(cap), 49, -1):
        rank = max(1, -(-pct * n // 100))  # nearest-rank, 1-based
        if n - rank >= beyond:
            best = pct
            break
    rank = max(1, -(-best * n // 100))
    return best, float(xs[rank - 1])


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: (id, parent, name, rid, start, end).

    Spans nest by call order on one thread; ``self_times`` subtracts from
    each span the part of its interval its children cover."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []  # open spans, innermost last
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = parent["rid"]
        rec = {"id": next(self._ids), "parent": parent and parent["id"],
               "name": name, "rid": rid, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper (undone by
        :meth:`unwrap_all`). Module globals are looked up at call time, so
        calls from inside the package go through the wrapper too."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the union of its direct children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def total_by_name(spans: list[dict]) -> dict[str, tuple[float, int]]:
    """name → (summed duration of the spans of that name, count)."""
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        t, c = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (t + s["end"] - s["start"], c + 1)
    return out


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNIT_S = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
           "m": 60.0, "min": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
           "TiB": 1 << 40}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-zµ]+)")


def parse_sql_metric(text: str | None) -> float:
    """First quantity of a rendered SQL metric, in seconds or bytes.

    A metric updated by one task renders as ``"5.1 s"``; by several, as
    ``"total (min, med, max ...)\\n10 ms (1 ms, 2 ms, 5 ms (stage ...))"`` —
    the total is the first quantity of the last line."""
    if not text:
        return 0.0
    m = _VALUE.search(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _UNIT_S:
        return num * _UNIT_S[unit]
    return num * _UNIT_B.get(unit, 1)


_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}


class SparkStores:
    """Per-job-group counters read from Spark's own status stores."""

    COUNTERS = ("jobs", "stages", "tasks", "job_s", "run_s", "cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes", "py_start_s",
                "py_init_s", "py_run_s")

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._next_exec = 0  # SQL executions before this one are read

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_counters(self, group: str) -> dict:
        """Counters for every job of ``group`` (call after its jobs finish)."""
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(self.COUNTERS, 0.0)
        jsc = self.sc._jsc.sc()
        # the status stores are filled from the listener bus, asynchronously:
        # let it deliver the group's last job and stage events first
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids = set()
        for jid in job_ids:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        out["jobs"] = float(len(job_ids))
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # no attempt recorded: the stage was skipped
                continue
            if sd.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if job_ids:
            self._python_metrics(job_ids, out)
        return out

    def _python_metrics(self, job_ids: set, out: dict) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        count = int(sql.executionsCount())
        execs = sql.executionsList(self._next_exec, count - self._next_exec)
        self._next_exec = count
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = {int(j) for j in conv.asJava(e.jobs().keySet())}
            if not jobs & job_ids:
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for k in range(ms.size()):
                    key = _PY_METRICS.get(ms.apply(k).name())
                    if key:
                        v = values.get(ms.apply(k).accumulatorId())
                        out[key] += parse_sql_metric(v.get() if v.isDefined() else None)


def add_counters(acc: dict, c: dict) -> dict:
    for k, v in c.items():
        acc[k] = acc.get(k, 0.0) + v
    return acc


# ---------------------------------------------------------------------------
# memory and files
# ---------------------------------------------------------------------------


def descendants(root_pid: int) -> list[int]:
    """Pids of every descendant of ``root_pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's peak RSS (driver JVM, Python
    driver and Python workers are all descendants of this process)."""

    def __init__(self, interval: float = 0.25, enabled: bool = True):
        self.interval = interval
        self.enabled = enabled
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        if self.enabled:
            self._t.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._t.join(timeout=10)
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def dir_files(root: str) -> dict[str, tuple[int, float]]:
    """path → (size, mtime) of every regular data file below ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(".") or f.endswith(".crc"):
                continue
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or changed between snapshots."""
    b = n = 0
    for p, meta in after.items():
        if before.get(p) != meta:
            b += meta[0]
            n += 1
    return b, n
