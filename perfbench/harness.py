"""Shared machinery of the benchmark: the run record, spans, per-job-group
Spark stage counters and host contention labels.

Nothing here imports pyspark at module level, so `run.py` can fail fast
(with a message and a non-zero exit) in a checkout that lacks the package.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import time

# Spark's status store fields summed per job group (StageData getters).
STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "inputRecords",
    "inputBytes",
    "outputBytes",
)


def p50(xs):
    return float(statistics.median(xs))


def p90(xs):
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(0.9 * len(s)) - 1)])


def slope(xs, ys):
    """Least-squares slope of ys against xs (0 when xs do not vary)."""
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den


def tree_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(file count, total bytes) of files under `path` ending in `suffix`."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def host_sample() -> dict:
    """1-minute load average and the aggregate /proc/stat cpu counters."""
    out = {"loadavg": round(os.getloadavg()[0], 2)}
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        out["cpu_total"] = sum(vals)
        out["cpu_steal"] = vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError):
        pass
    return out


def host_label(before: dict, after: dict) -> dict:
    """Contention label of a run: load before/after and the steal share."""
    label = {"loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"]}
    dt = after.get("cpu_total", 0) - before.get("cpu_total", 0)
    if dt > 0:
        ds = after["cpu_steal"] - before["cpu_steal"]
        label["steal_frac"] = round(ds / dt, 4)
    return label


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state letter) of every process in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        table[int(d)] = (int(rest[1]), rest[0])
    return table


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` in the process tree."""
    kids: dict[int, list[int]] = {}
    for p, (ppid, state) in _proc_table().items():
        if state != "Z":
            kids.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pids) -> list[int]:
    """The pids of `pids` still running; reaps those that are our zombies."""
    table = _proc_table()
    out = []
    for p in pids:
        if p not in table:
            continue
        if table[p][1] == "Z":
            with contextlib.suppress(ChildProcessError):
                os.waitpid(p, os.WNOHANG)
            continue
        out.append(p)
    return out


def stop_processes(grace: float = 20.0) -> list[int]:
    """Stop every process this one started and wait until each has ended.

    The Spark JVM leaves when its stdin closes; its Python workers leave
    with it.  Whatever is still running after `grace` seconds gets
    SIGTERM, then SIGKILL.  Returns the pids that had to be signalled."""
    import signal
    import subprocess

    pids = descendants(os.getpid())
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
    except ImportError:
        gw = None
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                pass
    deadline = time.monotonic() + grace
    while _alive(pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    signalled = _alive(pids)
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        left = _alive(pids)
        for p in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        deadline = time.monotonic() + wait
        while _alive(pids) and time.monotonic() < deadline:
            time.sleep(0.05)
    return signalled


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "counters", "info")

    def __init__(self, name, op, parent):
        self.name, self.op, self.parent = name, op, parent
        self.start = self.end = 0.0
        self.counters = None
        self.info = {}  # results the workload reads back after the span

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self, index: dict) -> dict:
        d = {
            "name": self.name,
            "op": self.op,
            "parent": index.get(id(self.parent)) if self.parent else None,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
        }
        if self.counters is not None:
            d["stages"] = self.counters
        return d


class Tracer:
    """Spans around the benchmark's calls into the program.

    Every span is timed (the workloads read `span.dur` for their end-to-end
    figures); only an enabled tracer keeps the spans and, for spans opened
    with `jobs=True`, sets a Spark job group around the call and reads the
    group's stage counters from the status store afterwards.  Job groups do
    not nest: inside a grouped span, the jobs count towards the outer one.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = None
        self._groups = 0
        self._grouped = False  # a span up the stack holds a job group

    def operation(self, op_id) -> None:
        """Operation id shared by the spans of one timed operation."""
        self._op = op_id

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self._op, parent)
        group = None
        if self.enabled and jobs and not self._grouped:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.spark.sparkContext.setJobGroup(group, name, False)
            self._grouped = True
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(sp)
                if group is not None:
                    self._grouped = False
                    sc = self.spark.sparkContext
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sp.counters = stage_counters(sc, group)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        doc = dict(extra, spans=[s.as_dict(index) for s in self.spans])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


def stage_counters(sc, group: str) -> dict:
    """Sum of the status store's stage metrics over the jobs of `group`.

    The listener bus is drained first so stages of jobs that just ended are
    in the store.  Skipped stages (reused shuffle output) have no complete
    tasks and add nothing."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10000)
    tracker = sc.statusTracker()
    stage_ids = set()
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    jvm = sc._jvm
    none = sc._gateway.new_array(jvm.double, 0)
    store = jsc.statusStore()
    tot = {f: 0 for f in STAGE_FIELDS}
    tot["stages"] = 0
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, none)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            tot["stages"] += 1
            for f in STAGE_FIELDS:
                tot[f] += int(getattr(sd, f)())
    return tot


def sum_counters(spans, field: str) -> int:
    return sum(s.counters[field] for s in spans if s.counters)


class Run:
    """Record of one benchmark run: operation counts, metrics, report."""

    def __init__(self, seed, seconds, size, trace, workdir):
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.trace = trace
        self.workdir = workdir
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict[str, float] = {}
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failed one counts as a failed op."""
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")
        return ok
