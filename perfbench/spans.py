"""Spans, counters and summary statistics for the benchmark.

A traced run records one span per op and one child span per engine call
the op makes (``build``: the call that returns a DataFrame, eager jobs
included; ``exec``: the action on the result). Each child span runs
under its own Spark job group, so its job, stage and task counts are
read back from ``SparkContext.statusTracker()`` when the run ends, and
its CPU is the change in the process tree's CPU time read from
``/proc`` across the call. Calls the engine makes from one layer into a
public function of another layer get nested spans carrying time only.
Spans stay in memory until the run ends.

An untraced run uses the same code with ``enabled=False``: calls run
bare and only op walls are kept.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "nytimes_batch_processor_spark"

#: Layer name of each engine module prefix, most specific first.
LAYERS = (
    ("operators.relational", "operators.relational"),
    ("operators.windows", "operators.windows"),
    ("operators.sessionize", "operators.sessionize"),
    ("operators.dedup", "operators.dedup"),
    ("operators.text", "operators.text"),
    ("operators.similarity", "operators.similarity"),
    ("operators.graph", "operators.graph"),
    ("functions", "functions"),
    ("sources", "sources"),
    ("session", "session"),
    ("ingest", "ingest"),
    ("tables", "tables"),
)

CLK_TCK = os.sysconf("SC_CLK_TCK")


def layer_of(module_name: str) -> str | None:
    """Layer of an engine module (``None`` for untracked modules)."""
    if not module_name.startswith(PACKAGE + "."):
        return None
    rest = module_name[len(PACKAGE) + 1 :]
    for prefix, layer in LAYERS:
        if rest == prefix or rest.startswith(prefix + "."):
            return layer
    return None


# --------------------------------------------------------------------------
# summary statistics
# --------------------------------------------------------------------------


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it: the 11th-largest sample, at percentile
    ``100 * (n - 10) / n``. With 21 or fewer samples that sample is at
    or below the median (or none qualifies), so the maximum is returned
    at percentile 100 instead."""
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("tail of no values")
    if n <= 21:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# --------------------------------------------------------------------------
# /proc sampling
# --------------------------------------------------------------------------


def read_proc_table(proc: str = "/proc") -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds) for every readable process.

    CPU is utime + stime + cutime + cstime, so the time of children that
    have exited and been reaped stays with their parent."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        # comm is parenthesised and may hold spaces or parentheses
        lpar, rpar = raw.index("("), raw.rindex(")")
        fields = raw[rpar + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), raw[lpar + 1 : rpar], ticks / CLK_TCK)
    return out


def descendants(table: dict[int, tuple[int, str, float]], root: int) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def tree_cpu(root: int, proc: str = "/proc") -> dict[str, float]:
    """CPU seconds of ``root`` (the driver), its JVM child and the JVM's
    descendants (Python workers), from one ``/proc`` scan."""
    table = read_proc_table(proc)
    out = {"driver": table.get(root, (0, "", 0.0))[2], "jvm": 0.0, "pyworker": 0.0}
    for pid in descendants(table, root):
        ppid, comm, cpu = table[pid]
        if comm == "java":
            out["jvm"] += cpu
            out["pyworker"] += sum(table[d][2] for d in descendants(table, pid))
    return out


def rss_mb(pid: int, key: str = "VmRSS", proc: str = "/proc") -> float:
    """A ``/proc/<pid>/status`` memory line in MiB (0 if unreadable)."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(root: int, proc: str = "/proc") -> int | None:
    table = read_proc_table(proc)
    for pid in descendants(table, root):
        if table[pid][1] == "java":
            return pid
    return None


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str  # <layer>.<function>.<phase>, or op.<kind> for op spans
    layer: str | None
    phase: str  # op | build | exec
    start: float
    parent: int | None
    op_id: int | None
    end: float = 0.0
    group: str | None = None  # Spark job group (top-level calls only)
    cpu: dict = field(default_factory=dict)  # cpu delta by process class


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start  # children sorted by start
        for a, b in sorted(kids[s.id]):
            b = min(b, s.end)
            covered += max(0.0, b - max(a, reach))
            reach = max(reach, b)
        out[s.id] = (s.end - s.start) - covered
    return out


def group_counts(tracker, group: str) -> dict[str, int]:
    """Jobs, executed stages, tasks and failed tasks of one job group.

    ``tracker`` is a ``StatusTracker``. A stage that AQE or shuffle reuse
    skipped is listed by its job but completes no task, so only stages
    with completed tasks count."""
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None:
            continue
        failed += st.numFailedTasks
        if st.numCompletedTasks > 0:
            stages += 1
            tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


class Tracer:
    """Op walls always; spans and counters when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id: int | None = None
        self._pid = os.getpid()
        self.overhead_s = 0.0  # bookkeeping time spent inside op walls

    # -- spans -----------------------------------------------------------

    def _open(self, name, layer, phase) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, phase, time.perf_counter(), parent, self._op_id)
        self.spans.append(s)
        return s

    @contextmanager
    def op(self, kind: str):
        """One closed-loop op; yields the op span (end set on exit)."""
        s = Span(len(self.spans), f"op.{kind}", None, "op", time.perf_counter(), None, len(self.spans))
        self.spans.append(s)
        self._op_id = s.id
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            self._op_id = None
            s.end = time.perf_counter()

    def call(self, layer: str, name: str, phase: str, fn, *args, **kwargs):
        """Run one engine call as a child span of the current op."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        s = self._open(f"{layer}.{name}.{phase}", layer, phase)
        s.group = f"perfbench-{s.id}"
        sc.setJobGroup(s.group, s.name)
        before = tree_cpu(self._pid)
        self._stack.append(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            return fn(*args, **kwargs)
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            after = tree_cpu(self._pid)
            s.cpu = {k: after[k] - before[k] for k in after}
            sc.setJobGroup("perfbench-idle", "outside any span")
            self.overhead_s += (t1 - t0) + (time.perf_counter() - s.end)

    # -- nested layer-boundary spans ----------------------------------------

    def instrument(self) -> None:
        """Wrap every public function of every tracked engine module so a
        call that crosses from one layer into another records a nested
        span (time only). Each wrapper keeps the wrapped function's
        module and qualified name, so cloudpickle still ships it to
        workers by reference."""
        if not self.enabled:
            return
        wrapped: dict[int, types.FunctionType] = {}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not isinstance(fn, types.FunctionType):
                    continue
                layer = layer_of(getattr(fn, "__module__", "") or "")
                if layer is None or hasattr(fn, "evalType"):
                    continue  # untracked module, or a UDF object
                if id(fn) not in wrapped:
                    wrapped[id(fn)] = self._boundary(fn, layer)
                setattr(mod, attr, wrapped[id(fn)])

    def _boundary(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack
            if not stack or stack[-1].phase == "op" or stack[-1].layer == layer:
                return fn(*args, **kwargs)
            s = tracer._open(f"{layer}.{fn.__name__}.build", layer, "build")
            stack.append(s)
            try:
                return fn(*args, **kwargs)
            finally:
                s.end = time.perf_counter()
                stack.pop()

        return wrapper

    # -- results -----------------------------------------------------------

    def counts(self) -> dict[int, dict[str, int]]:
        """Job-group counts of every top-level call span."""
        sc = self.spark.sparkContext
        try:  # let the listener bus deliver the last job and stage events
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 - best effort; fall back to a pause
            time.sleep(1.0)
        tracker = sc.statusTracker()
        return {s.id: group_counts(tracker, s.group) for s in self.spans if s.group}

    def layer_metrics(self, op_ids: set[int]) -> dict[str, float]:
        """Per-layer sums over the spans of the given ops."""
        own = self_times(self.spans)
        counts = self.counts()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.layer is None or s.op_id not in op_ids:
                continue
            p = s.layer
            if s.phase == "build":
                out[f"{p}.calls"] += 1
            out[f"{p}.{s.phase}_s"] += own[s.id]
            for k, v in counts.get(s.id, {}).items():
                out[f"{p}.{k}"] += v
            for k, v in s.cpu.items():
                out[f"{p}.{k}_cpu_s"] += v
        return dict(out)

    def op_coverage(self, op_ids: set[int]) -> float:
        """Smallest share of an op's wall that its child spans cover."""
        own = self_times(self.spans)
        shares = [
            1.0 - own[s.id] / (s.end - s.start)
            for s in self.spans
            if s.phase == "op" and s.id in op_ids and s.end > s.start
        ]
        return min(shares) if shares else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)
