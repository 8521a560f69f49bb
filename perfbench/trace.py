"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a public entry point of a ``bright_spark`` module with a thin
wrapper that opens a span around each call, and workloads open spans
around their own calls. Spans live in memory and are written out when
the run ends. Spark job/stage/task counters come from the Spark event
log (enabled through ``get_spark(extra_conf=...)``) and are attributed
to the innermost span open when each job was submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark counters summed per job from the event log
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
            "task_cpu_s")


class Tracer:
    """Spans (name, start, end, parent) kept in memory.

    Each thread has its own span stack. A span opened on a thread with
    an empty stack is parented to the innermost span the client thread
    has open (:attr:`client_span`), so work that the in-process REST
    server does on its handler threads nests under the client request
    that caused it: the benchmark is a single closed-loop client, so at
    most one request is in flight."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.client_span: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        parent = st[-1] if st else self.client_span
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, **attrs}
        with self._lock:
            idx = rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.time()

    @contextmanager
    def client(self, name: str, **attrs):
        """A span on the client thread that handler-thread spans nest
        under (see class doc)."""
        with self.span(name, **attrs) as rec:
            prev = self.client_span
            self.client_span = rec["id"]
            try:
                yield rec
            finally:
                self.client_span = prev

    def wrap(self, owner, attr: str, name: str) -> None:
        """Open span ``name`` around every call of ``owner.attr``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------------------------------------------------------- queries

    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def ancestor(self, idx: int, name: str) -> int | None:
        """Index of the nearest span called ``name`` at or above span
        ``idx``."""
        while idx is not None:
            if self.spans[idx]["name"] == name:
                return idx
            idx = self.spans[idx]["parent"]
        return None

    def innermost_at(self, t: float) -> int | None:
        """The most recently started span open at wall time ``t``."""
        best = None
        for i, s in enumerate(self.spans):
            if s["start"] <= t and (s["end"] is None or t <= s["end"]):
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = i
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------- event log

def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job counters from the (stopped) application's event log:
    {job_id: {"submit": epoch_s, "jobs": 1, "stages", "tasks",
    "shuffle_write_bytes", "spill_bytes", "task_cpu_s"}}. Skipped stages (reused shuffle output) are not
    counted; a stage shared by several jobs counts for the first."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = dict.fromkeys(COUNTERS, 0)
                    jobs[jid]["jobs"] = 1
                    jobs[jid]["submit"] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0))
                    j["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return jobs


def attribute_jobs(tracer: Tracer, jobs: dict[int, dict]) -> None:
    """Attach each job's counters to the innermost span open at its
    submission time (``span["spark"]``, summed over jobs)."""
    for j in jobs.values():
        idx = tracer.innermost_at(j["submit"])
        if idx is None:
            continue
        acc = tracer.spans[idx].setdefault("spark",
                                           dict.fromkeys(COUNTERS, 0))
        for c in COUNTERS:
            acc[c] += j[c]


def rollup(tracer: Tracer, name: str) -> dict[int, dict]:
    """{span id: Spark counters of the span and every span nested under
    it} for each closed span ``name``."""
    out = {i: dict.fromkeys(COUNTERS, 0)
           for i, s in enumerate(tracer.spans)
           if s["name"] == name and s["end"]}
    for i, s in enumerate(tracer.spans):
        if "spark" not in s:
            continue
        top = tracer.ancestor(i, name)
        if top in out:
            for c in COUNTERS:
                out[top][c] += s["spark"][c]
    return out


# ----------------------------------------------------------- memory

def descendants(pid: int) -> list[int]:
    """Every live descendant process of ``pid`` (from /proc)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# HotSpot's JIT compiler threads ("C2 CompilerThread0", cut to 15 chars)
_JIT_THREAD = re.compile(r"^C[12] CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, rest = raw.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def cpu_snapshot(pids: list[int]) -> tuple[float, dict]:
    """User + system CPU seconds of ``pids`` (their reaped children
    included), and those of each JIT compiler thread among them, keyed
    by (pid, tid)."""
    tick = os.sysconf("SC_CLK_TCK")
    total, jit = 0, {}
    for p in pids:
        st = _stat(f"/proc/{p}/stat")
        if st is None:
            continue
        total += sum(int(x) for x in st[1][11:15])
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            ts = _stat(f"/proc/{p}/task/{t}/stat")
            if ts is not None and _JIT_THREAD.match(ts[0]):
                jit[(p, t)] = (int(ts[1][11]) + int(ts[1][12])) / tick
    return total / tick, jit


def work_cpu_seconds(before: tuple[float, dict],
                     after: tuple[float, dict]) -> float:
    """CPU seconds between two :func:`cpu_snapshot` s, less what the JIT
    compiler threads used: compilation is a warm-up cost whose timing
    varies from JVM to JVM, not work the program does per operation."""
    jit = sum(v - before[1].get(k, 0.0) for k, v in after[1].items())
    return after[0] - before[0] - jit


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
