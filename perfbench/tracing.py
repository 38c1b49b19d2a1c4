"""Spans, the process-tree memory sampler, and Spark event-log reading.

Spans are recorded by the benchmark around the public calls it makes
into each layer; nothing inside the program is instrumented.  They are
kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and a run or request id.

    Disabled tracers still time their spans (the untraced run reads its
    end-to-end timings from them) but keep no span records."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()

    def timed(self, name: str, fn, **attrs):
        """-> (result, seconds) of fn() inside a span."""
        with self.span(name, **attrs) as rec:
            out = fn()
        return out, rec["end"] - rec["start"]

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. one HTTP request)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "run_id": self.run_id, "start": start,
                               "end": end, **attrs})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRSS:
    """Peak summed RSS of this process and all its descendants (JVM,
    Python workers, server workers), sampled on a background thread.

    Sampling walks /proc while holding the interpreter lock, so it is
    paused while the benchmark's own HTTP client is timing requests."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._running = threading.Event()
        self._running.set()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @contextmanager
    def paused(self):
        """Sample once, stop sampling for the block, sample once after."""
        self._running.clear()
        self._sample()
        try:
            yield
        finally:
            self._sample()
            self._running.set()

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self._running.is_set():
                self._sample()

    def __enter__(self) -> "TreeRSS":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# ------------------------------------------------------------ spark

_EXCHANGE = re.compile(r"\b(Exchange|BroadcastExchange|ShuffleExchange)\b")
_PYTHON = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas|"
    r"FlatMapCoGroupsInPandas|PythonMapInArrow|MapInArrow|AggregateInPandas|"
    r"WindowInPandas|FlatMapGroupsInArrow)\b"
)


def _final_plan_lines(plan: str) -> list[str]:
    """The lines of an executed-plan string without the adaptive plans'
    "== Initial Plan ==" sections, which repeat the nodes of the final
    plan as first planned.  A section's nodes are printed at its
    header's depth; it ends at a shallower line or at the next header
    of the same depth."""
    out, skip = [], None
    for ln in plan.splitlines():
        if not ln.strip():
            continue
        depth = len(ln) - len(ln.lstrip(" :+-|"))
        header = "== Final Plan ==" in ln or "== Initial Plan ==" in ln
        if skip is not None and (depth > skip or (depth == skip and not header)):
            continue
        skip = None
        if "== Initial Plan ==" in ln:
            skip = depth
            continue
        out.append(ln)
    return out


def plan_counts(df) -> dict[str, int]:
    """Exchange and Python-node counts of a DataFrame's executed plan
    (the adaptive final plan once the DataFrame has been collected)."""
    nodes = _final_plan_lines(df._jdf.queryExecution().executedPlan().toString())
    return {
        "exchanges": sum(bool(_EXCHANGE.search(ln)) for ln in nodes),
        "python_nodes": sum(bool(_PYTHON.search(ln)) for ln in nodes),
    }


# SQL timing metric (ms) of every Python exec node; nested Python nodes
# of one task each count their own time
_PY_TIME = "time to run Python workers"


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def call_metrics(events: list[dict], calls: list[tuple[str, float, float]]
                 ) -> dict[str, dict[str, float]]:
    """Per-call Spark work.  Jobs are attributed to a call by submission
    time (the benchmark issues its calls one after another); tasks and
    stages follow their job."""
    stage_job: dict[int, int] = {}
    job_call: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            for name, lo, hi in calls:
                if lo <= t <= hi:
                    job_call[ev["Job ID"]] = name
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                    break
    acc: dict[str, dict] = {
        name: {"tasks": [], "cpu_ns": 0, "gc_ms": 0, "shuffle_bytes": 0,
               "shuffle_records": 0, "spill": 0, "python_ms": 0.0,
               "stages": set(), "jobs": set()}
        for name, _, _ in calls
    }
    for job, name in job_call.items():
        acc[name]["jobs"].add(job)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        job = stage_job.get(ev.get("Stage ID"))
        if job is None:
            continue
        a = acc[job_call[job]]
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        a["stages"].add(ev["Stage ID"])
        a["tasks"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        a["cpu_ns"] += m.get("Executor CPU Time", 0)
        a["gc_ms"] += m.get("JVM GC Time", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        a["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
        a["shuffle_records"] += sw.get("Shuffle Records Written", 0)
        a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        a["python_ms"] += sum(float(x.get("Update", 0))
                              for x in info.get("Accumulables", [])
                              if x.get("Name") == _PY_TIME)
    out = {}
    for name, a in acc.items():
        tasks = a["tasks"]
        med = statistics.median(tasks) if tasks else 0
        out[name] = {
            "executor_cpu_s": a["cpu_ns"] / 1e9,
            "python_s": a["python_ms"] / 1e3,
            "shuffle_write_bytes": a["shuffle_bytes"],
            "shuffle_records": a["shuffle_records"],
            "spill_bytes": a["spill"],
            "gc_s": a["gc_ms"] / 1e3,
            "tasks": len(tasks),
            "task_max_over_median": (max(tasks) / med) if med else 1.0,
            "jobs": len(a["jobs"]),
            "stages": len(a["stages"]),
        }
    return out
