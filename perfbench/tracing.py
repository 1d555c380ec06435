"""Measurement helpers: spans, process accounting from /proc, Spark's
event log and streaming progress.

Spans are kept in memory and written out when the run ends. Everything
else is read from outside the program: ``/proc`` for CPU and memory,
the event log (``spark.eventLog.*``) for jobs, stages, tasks and plans,
and ``StreamingQuery.recentProgress`` for the micro-batch phases.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas")


class Spans:
    """Named intervals with a parent link; ``span`` nests."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation; 0.0 when empty."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


# ------------------------------------------------------------------ /proc

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pids) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            total += int(st[21])
    return total * PAGE_MB


class ProcessMeter:
    """CPU of this process tree, less the ``exclude`` pids, over an
    interval, and its peak RSS as sampled by ``sample``."""

    def __init__(self, exclude=()):
        self.exclude = set(exclude)
        self.peak_mb = 0.0
        self.start_cpu = 0.0

    def pids(self) -> list[int]:
        return [p for p in descendants(os.getpid()) if p not in self.exclude]

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, rss_mb(self.pids()))

    def start(self) -> None:
        self.start_cpu = cpu_s(self.pids())
        self.sample()

    def cpu_since_start(self) -> float:
        self.sample()
        return cpu_s(self.pids()) - self.start_cpu


# --------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> list[dict]:
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _acc(stage_info: dict, name: str) -> float:
    return sum(float(a.get("Value") or 0) for a in stage_info.get("Accumulables", [])
               if a.get("Name") == name)


class EventLog:
    """Jobs, stages and SQL plans from one application's event log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, tuple[str, str]] = {}  # id -> (description, plan)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description") or "",
                    "start": e["Submission Time"] / 1000, "end": None,
                    "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                }
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                self.stages[si["Stage ID"]] = {
                    "tasks": si["Number of Tasks"],
                    "run_s": _acc(si, "internal.metrics.executorRunTime") / 1000,
                    "py_bytes": _acc(si, "data sent to Python workers")
                    + _acc(si, "data returned from Python workers"),
                }
            elif kind.endswith("SQLExecutionStart"):
                self.plans[e["executionId"]] = (
                    e.get("description") or "", e.get("physicalPlanDescription") or "")

    def jobs_where(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if pred(j["desc"])]

    def stage_totals(self, jobs: list[dict]) -> dict:
        ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        return {
            "stages": len(ids),
            "tasks": sum(self.stages[s]["tasks"] for s in ids),
            "task_s": sum(self.stages[s]["run_s"] for s in ids),
            "py_bytes": sum(self.stages[s]["py_bytes"] for s in ids),
        }

    def python_nodes(self, desc: str) -> int:
        """Python operators in the widest plan run under ``desc`` (a
        micro-batch's plan and its sink write are separate executions)."""
        heads = [plan.split("\n\n", 1)[0]  # the tree, not the node details
                 for d, plan in self.plans.values() if d == desc]
        return max((sum(h.count(f"{n} (") for n in PYTHON_NODES) for h in heads), default=0)


def union_s(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


class TimedFunction:
    """Wraps a ``MessageFunction``; each call, made in a Python worker,
    appends ``start seconds messages`` to ``path``."""

    def __init__(self, fn, path: str):
        self.fn = fn
        self.path = path

    def __call__(self, batch):
        t = time.time()
        out = self.fn(batch)
        dt = time.time() - t
        with open(self.path, "a") as f:
            f.write(f"{t:.6f} {dt:.6f} {len(batch)}\n")
        return out


def read_calls(path: str) -> list[tuple[float, float, int]]:
    try:
        with open(path) as f:
            return [(float(a), float(b), int(c)) for a, b, c in (ln.split() for ln in f)]
    except FileNotFoundError:
        return []
