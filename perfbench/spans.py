"""Spans, Spark job counts and process-tree memory for the benchmark.

A span is recorded around each call into a layer of the engine: name,
start, end, parent span and the request (operation) it belongs to. Each
request runs its Spark jobs under one job group, whose jobs, stages and
tasks are read from ``SparkStatusTracker`` when the request ends. When
the run ends, the Spark event log gives every span the jobs submitted
while it was open, with their executor time, shuffle bytes and
Python-worker bytes. Spans stay in memory and are written out once.

Tracing wraps the public functions of the engine's modules in place
(see :func:`instrument`); an untraced run installs nothing.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb:"
_EVENTS = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"')


class Tracer:
    """Spans in memory. Each operation (request) runs its Spark jobs under
    one job group, whose jobs, stages and tasks are read from
    ``SparkStatusTracker`` when the request ends; spans themselves cost
    no JVM call, so tracing stays cheap, and the event log later gives
    each span the jobs submitted inside it."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._req: str | None = None

    @contextmanager
    def request(self, req_id: str, name: str):
        """The root span of one operation."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = GROUP_PREFIX + req_id
        sc.setJobGroup(group, name)
        self._req = req_id
        try:
            with self.span(name):
                root = self.spans[-1]
                yield
        finally:
            self._req = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            root.update(self._status(group))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, "req": self._req,
               "start": time.perf_counter(), "wall0": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"], rec["wall1"] = time.perf_counter(), time.time()
            self._stack.pop()

    def _status(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info is not None else []):
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return {"tracker_jobs": len(jobs), "tracker_stages": stages, "tracker_tasks": tasks}

    def attach_jobs(self, jobs: dict[int, dict]) -> None:
        """Give every span the Spark jobs submitted while it was open,
        its children's included."""
        for s in self.spans:
            s.update(job_totals(jobs, s["wall0"], s["wall1"]))

    # ------------------------------------------------------------------
    # derived views
    # ------------------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s["id"])
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        kids = self.children()
        return {
            s["id"]: (s["end"] - s["start"]) - union_length(
                [(max(self.spans[c]["start"], s["start"]), min(self.spans[c]["end"], s["end"]))
                 for c in kids.get(s["id"], [])])
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selft[s["id"]]}) + "\n")


def instrument(tracer: Tracer, targets: list[tuple[object, str, str]]) -> None:
    """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
    (owner, attr, name). Owners are modules or classes of the engine."""
    for owner, attr, name in targets:
        fn = getattr(owner, attr)

        def make(fn=fn, name=name):
            @functools.wraps(fn)
            def wrapper(*a, **k):
                with tracer.span(name):
                    return fn(*a, **k)
            return wrapper

        setattr(owner, attr, make())


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def event_log_jobs(spark) -> dict[int, dict]:
    """job id → {start_ms, end_ms, stages, tasks, run_ms, shuffle_bytes,
    python_bytes} from this application's event log."""
    sc = spark.sparkContext
    d = sc.getConf().get("spark.eventLog.dir", "")
    if d.startswith("file:"):
        d = d[len("file:"):]
    # a job end flushes the log writer
    spark.range(1).count()
    app = sc.applicationId
    paths = sorted(
        p for p in glob.glob(os.path.join(d, app + "*"))
        + glob.glob(os.path.join(d, f"eventlog_v2_{app}", "events_*"))
        if os.path.isfile(p)
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for p in paths:
        with open(p) as f:
            for line in f:
                if not any(k in line for k in _EVENTS):
                    continue
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # the tail line may still be being written
                if e.get("Event") == "SparkListenerJobStart":
                    jid = int(e["Job ID"])
                    jobs[jid] = {
                        "start_ms": int(e.get("Submission Time", 0)), "end_ms": None,
                        "stages": len(e.get("Stage IDs", [])), "tasks": 0, "run_ms": 0,
                        "shuffle_bytes": 0, "python_bytes": 0,
                    }
                    for s in e.get("Stage IDs", []):
                        stage_job[int(s)] = jid
                elif e.get("Event") == "SparkListenerJobEnd":
                    j = jobs.get(int(e["Job ID"]))
                    if j is not None:
                        j["end_ms"] = int(e.get("Completion Time", 0))
                else:
                    tasks.append((int(e.get("Stage ID", -1)), e))
    for sid, e in tasks:
        j = jobs.get(stage_job.get(sid, -1))
        if j is None:
            continue
        tm = e.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        j["tasks"] += 1
        j["run_ms"] += int(tm.get("Executor Run Time", 0))
        j["shuffle_bytes"] += (int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
                               + int(sw.get("Shuffle Bytes Written", 0)))
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") in ("data sent to Python workers", "data returned from Python workers"):
                try:
                    j["python_bytes"] += int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    pass
    return jobs


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(jobs: dict[int, dict], wall0: float, wall1: float) -> dict:
    """The Spark jobs submitted between two wall-clock times (seconds):
    the benchmark has one client thread, so an operation's interval
    identifies its jobs, including those a streaming query or the build's
    own threads submit under other job groups. ``spark_ms`` is the time
    at least one of them was running."""
    mine = [j for j in jobs.values() if wall0 * 1e3 - 1 <= j["start_ms"] <= wall1 * 1e3 + 1]
    out = {k: sum(j[k] for j in mine)
           for k in ("stages", "tasks", "run_ms", "shuffle_bytes", "python_bytes")}
    out["jobs"] = len(mine)
    out["spark_ms"] = union_length([(j["start_ms"], j["end_ms"] or j["start_ms"]) for j in mine])
    return out


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """Every live process: pid -> (parent pid, start time in clock
    ticks, RSS bytes, command name)."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] in ("Z", "X"):  # exited, not yet reaped
            continue
        table[int(name)] = (int(fields[1]), int(fields[19]), int(fields[21]) * page,
                            stat[stat.index("(") + 1: stat.rindex(")")])
    return table


def _subtree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, row in table.items():
        kids.setdefault(row[0], []).append(p)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        if p not in out:
            out.append(p)
            todo += kids.get(p, [])
    return out


def descendants(root: int) -> dict[int, int]:
    """Live descendants of ``root``: pid -> start time, so that a pid
    reused by an unrelated process is never mistaken for one of them."""
    table = _proc_table()
    return {p: table[p][1] for p in _subtree(table, root)}


def alive(procs: dict[int, int]) -> dict[int, int]:
    """The processes of ``procs`` (pid -> start time) still running."""
    table = _proc_table()
    return {p: t for p, t in procs.items() if p in table and table[p][1] == t}


def _tree_rss_bytes(root: int) -> dict[str, int]:
    """RSS of ``root`` and its descendants, by kind: the root process,
    the JVM, and everything else (Python workers)."""
    table = _proc_table()
    total = {"driver": table[root][2] if root in table else 0, "jvm": 0, "workers": 0}
    for p in _subtree(table, root):
        total["jvm" if table[p][3] == "java" else "workers"] += table[p][2]
    return total


class RssSampler:
    """RSS of this process and all its descendants (the JVM and its
    Python workers), sampled every ``interval`` seconds: the peak over
    the whole run, and every sample taken inside the measured window
    (between :meth:`mark` calls)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.window: list[dict[str, int]] = []
        self._in_window = False
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def _sample(self) -> None:
        parts = _tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, sum(parts.values()))
        if self._in_window:
            self.window.append(parts)

    def mark(self, in_window: bool) -> None:
        self._sample()
        self._in_window = in_window

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._t.join(timeout=5)
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()
