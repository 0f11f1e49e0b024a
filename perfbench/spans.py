"""In-memory span tracer for the benchmark's traced run.

A span is opened around every call into one of the package's layers
(``LAYERS``) by replacing the layer module's public functions, and every
alias of them in the package's other modules, with a wrapper.  A call
made while a span of the same layer is already open gets no span of its
own, so a layer's time is never counted twice.

Each span records: name, layer, start, end, parent id and run id, plus
the Spark jobs, stages and tasks it ran (through a job group per span
and ``SparkContext.statusTracker()``), the CPU seconds of the JVM
process tree (from ``/proc``) and of the Python driver
(``time.process_time()``).  Counters are inclusive of child spans, like
wall time; ``self_s`` is wall time minus the part child spans cover.
"""

from __future__ import annotations

import contextlib
import copy
import functools
import importlib
import inspect
import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field

PACKAGE = "pos_pipeline_core_etl_spark"

# layer name -> module under the package
LAYERS = (
    "session",
    "api",
    "sources.metadata",
    "sources.writers",
    "plans.marts",
    "operators.qa",
    "forecasting.api",
    "plans.llm_ops",
    "plans.analytics",
    "plans.relational",
    "plans.classifier_queries",
)
MEASURES = ("wall_s", "self_s", "jobs", "stages", "tasks", "exec_cpu_s", "driver_cpu_s", "util")

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


@dataclass
class Span:
    id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    driver_cpu_s: float = 0.0
    children: list[int] = field(default_factory=list)


# --- process tree readings (Linux /proc) -----------------------------------

def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        table[int(entry)] = (int(fields[1]), fields)
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _f) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def child_tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of every live descendant of ``root``
    (the JVM and the Python workers under it), including what they
    collected from their own exited children."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    ticks = 0
    for pid in descendants(root, table):
        f = table[pid][1]
        # fields (1-based in proc(5)): utime 14, stime 15, cutime 16, cstime 17
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of per-process peak resident sets (VmHWM) over ``root`` and
    its live descendants: an upper bound on the tree's simultaneous peak."""
    root = os.getpid() if root is None else root
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def identities(pids: list[int]) -> dict[int, str]:
    """pid -> start time (field 22 of ``/proc/<pid>/stat``), which tells a
    process apart from a later one that reuses its pid."""
    table = _proc_table()
    return {pid: table[pid][1][19] for pid in pids if pid in table}


def become_subreaper() -> bool:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that what outlives the JVM, such as
    the JVM's own unreaped launcher, is handed to us and can be waited
    for.  Returns whether that took effect."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(36, 1, 0, 0, 0) == 0  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        return False


def alive(procs: dict[int, str]) -> dict[int, str]:
    """The processes of ``procs`` that have not ended and been reaped.  A
    zombie counts as ended only once its parent is outside this process
    tree, which then owns the reaping."""
    table = _proc_table()
    ours = {os.getpid(), *procs}
    left = {}
    for pid, start in procs.items():
        if pid not in table or table[pid][1][19] != start:
            continue
        ppid, fields = table[pid]
        if fields[0] == "Z" and ppid not in ours:
            continue
        left[pid] = start
    return left


def end_processes(procs: dict[int, str], grace_s: float) -> None:
    """Wait up to ``grace_s`` for ``procs`` to end, SIGKILL what is left,
    and wait until that has ended too; reaps each of them that is, or has
    been handed to, this process as a child."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        for pid in procs:
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(pid, os.WNOHANG)
        left = alive(procs)
        if not left:
            return
        if not killed and time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, 9)
            killed = True
        time.sleep(0.05)


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, name))
                files += 1
            except OSError:
                continue
    return files, size


# --- span arithmetic (pure; unit-tested without Spark) ---------------------

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_seconds(span: Span, by_id: dict[int, Span]) -> float:
    kids = [(by_id[c].start, by_id[c].end) for c in span.children]
    return (span.end - span.start) - covered(kids, span.start, span.end)


def layer_totals(spans: list[Span], run_id: str, k: int) -> dict[str, dict[str, float]]:
    """Per-layer sums over the spans of one run id."""
    by_id = {s.id: s for s in spans}
    out = {layer: dict.fromkeys(MEASURES, 0.0) for layer in LAYERS}
    for s in spans:
        if s.run_id != run_id or s.layer not in out:
            continue
        t = out[s.layer]
        t["wall_s"] += s.end - s.start
        t["self_s"] += self_seconds(s, by_id)
        t["jobs"] += s.jobs
        t["stages"] += s.stages
        t["tasks"] += s.tasks
        t["exec_cpu_s"] += s.exec_cpu_s
        t["driver_cpu_s"] += s.driver_cpu_s
    for t in out.values():
        t["util"] = t["exec_cpu_s"] / (t["wall_s"] * k) if t["wall_s"] > 0 else 0.0
    return out


def uncovered_seconds(spans: list[Span], run_id: str, lo: float, hi: float) -> float:
    """Time in ``[lo, hi]`` that no top-level span of ``run_id`` covers."""
    top = [(s.start, s.end) for s in spans if s.run_id == run_id and s.parent is None]
    return (hi - lo) - covered(top, lo, hi)


# --- the tracer ------------------------------------------------------------

class _Traced:
    """Callable stand-in for a layer function.  Pickles as the original
    function, so code shipped to executors never carries the tracer."""

    def __init__(self, fn, tracer: "Tracer", layer: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._layer = fn, tracer, layer

    def __call__(self, *args, **kwargs):
        if not self._tracer.active or self._tracer.in_layer(self._layer):
            return self._fn(*args, **kwargs)
        with self._tracer.span(self._fn.__name__, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return copy.copy, (self._fn,)


class Tracer:
    """Keeps spans in memory; ``write`` dumps them with the run's counters."""

    def __init__(self):
        self.spans: list[Span] = []
        self.run_id = "setup"
        self.active = False
        self._stack: list[Span] = []
        self._sc = None
        # run id -> seconds spent opening and closing spans: the cost
        # tracing adds to a pass over an untraced one
        self.overhead_s: dict[str, float] = {}

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def in_layer(self, layer: str) -> bool:
        return any(s.layer == layer for s in self._stack)

    # job-group accounting ------------------------------------------------
    def _group(self, span: Span) -> str:
        return f"perfbench-span-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self._group(span), span.name)

    def _count_jobs(self, span: Span) -> tuple[int, int, int]:
        if self._sc is None:
            return 0, 0, 0
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group(span))
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return len(jobs), stages, tasks

    # spans -----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self._open(name, layer)
        try:
            yield span
        finally:
            self._close(span)

    def _open(self, name: str, layer: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=len(self.spans), name=name, layer=layer, run_id=self.run_id,
            parent=parent.id if parent else None, start=0.0,
        )
        self.spans.append(span)
        if parent:
            parent.children.append(span.id)
        self._stack.append(span)
        self._set_group(span)
        span.exec_cpu_s = -child_tree_cpu_s()
        span.driver_cpu_s = -time.process_time()
        span.start = time.perf_counter()
        self._charge(span.start - t0)
        return span

    def _charge(self, seconds: float) -> None:
        self.overhead_s[self.run_id] = self.overhead_s.get(self.run_id, 0.0) + seconds

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.driver_cpu_s += time.process_time()
        span.exec_cpu_s += child_tree_cpu_s()
        jobs, stages, tasks = self._count_jobs(span)
        span.jobs += jobs
        span.stages += stages
        span.tasks += tasks
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent:
            parent.jobs += span.jobs
            parent.stages += span.stages
            parent.tasks += span.tasks
        self._set_group(parent)
        self._charge(time.perf_counter() - span.end)

    # layer patching ----------------------------------------------------------
    def install(self) -> None:
        """Wrap every public function of each layer module, everywhere the
        package's loaded modules hold a reference to it."""
        wrapped: dict[int, _Traced] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for name, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == mod.__name__):
                    wrapped[id(obj)] = _Traced(obj, self, layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and w._fn is obj:
                    setattr(mod, name, w)
        self.active = True

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)
