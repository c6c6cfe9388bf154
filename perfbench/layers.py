"""Layer measurement from outside the program.

Three instruments, none of which changes a line of ``unify_spark``:

* ``SqlMetrics`` reads Spark's own SQL execution metrics (data sent to
  Python workers, scan time, shuffle bytes, spill, peak memory, ...) from
  the session's status store, which is populated even with the UI off.
* ``Tracer`` records a span around calls into the program's public
  functions by wrapping them for the duration of a traced run.
* ``RssSampler`` samples the resident memory of this process and every
  process it started (the JVM and the Python workers) from ``/proc``.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time

# SQL metric name -> per-layer metric name. Metric names are unique across
# node types (a Scan has no "peak memory", an Exchange no "scan time"), so
# the layer follows from the name alone.
SQL_METRICS = {
    "scan time": "scan.time_s",
    "size of files read": "scan.bytes_read",
    "number of files read": "scan.files_read",
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_returned_bytes",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "shuffle bytes written": "shuffle.bytes_written",
    "shuffle records written": "shuffle.records_written",
    "fetch wait time": "shuffle.fetch_wait_s",
    "spill size": "agg.spill_bytes",
    "peak memory": "agg.peak_memory_bytes",
}

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's display string of one metric -> a number in base units
    (bytes, seconds, or a plain count). Aggregated metrics print
    ``total (min, med, max ...)`` on a first line and the values on the
    second; the total leads that second line."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Sums the SQL metrics of every execution finished since the last call
    to ``take``. Also counts executions and tasks, the scheduling work the
    fused and staged runners differ in."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen_exec: set[int] = set()
        self.seen_jobs: set[int] = set()
        self.take()

    def take(self) -> dict[str, float]:
        out = {name: 0.0 for name in SQL_METRICS.values()}
        out["payload.bytes_sent"] = 0.0
        out["spark.sql_executions"] = 0.0
        execs = self.store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid in self.seen_exec or ex.completionTime().isEmpty():
                continue
            self.seen_exec.add(eid)
            out["spark.sql_executions"] += 1
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = node.metrics()
                # the payload decode is the mapInPandas emitting decode_ok
                is_decode = node.name() == "MapInPandas" and "decode_ok" in node.desc()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    name = SQL_METRICS.get(m.name())
                    if name is not None:
                        out[name] += parse_metric(v.get())
                        if is_decode and name == "python.data_sent_bytes":
                            out["payload.bytes_sent"] += parse_metric(v.get())
        out["spark.tasks"] = float(self._new_tasks())
        return out

    def _new_tasks(self) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        n = 0
        for jid in tracker.getJobIdsForGroup():
            if jid in self.seen_jobs:
                continue
            info = tracker.getJobInfo(jid)
            if info is None or info.status == "RUNNING":
                continue
            self.seen_jobs.add(jid)
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numCompletedTasks + st.numFailedTasks
        return n


class Tracer:
    """Spans around public calls of the program. A span records its name,
    start, end, parent span and the iteration it belongs to; spans stay in
    memory until the run writes them out. Calls made on runner worker threads (the staged
    runner validates constraints concurrently) take the span open on the
    main thread as their parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.iteration: str | None = None
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._stack()
                parent = stack[-1] if stack else (
                    tracer._main_stack[-1] if tracer._main_stack else None
                )
                with tracer._lock:
                    self.id = len(tracer.spans)
                    tracer.spans.append({
                        "id": self.id, "name": name, "parent": parent,
                        "iteration": tracer.iteration,
                        "thread": threading.current_thread().name,
                        "start": time.perf_counter(), "end": None,
                    })
                stack.append(self.id)
                return self

            def __exit__(self, *exc):
                tracer._stack().pop()
                tracer.spans[self.id]["end"] = time.perf_counter()
                return False

        return _Span()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned version until ``unwrap``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.replace(owner, attr, spanned)

    def replace(self, owner: object, attr: str, fn) -> None:
        """Set ``owner.attr = fn`` until ``unwrap`` restores the original."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reductions --------------------------------------------------------

    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its child spans cover."""
        kids = self._children()
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def totals(self, prefix: str) -> tuple[int, float]:
        """(calls, inclusive seconds) over spans named ``prefix*`` that are
        not nested inside another such span."""
        by_id = {s["id"]: s for s in self.spans}
        calls, secs = 0, 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix):
                continue
            p = s["parent"]
            while p is not None and not by_id[p]["name"].startswith(prefix):
                p = by_id[p]["parent"]
            if p is None:
                calls += 1
                secs += s["end"] - s["start"]
        return calls, secs

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> tuple[str, int]:
    """(command name, resident bytes) of one process; ("", 0) once gone."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
        with open(f"/proc/{pid}/statm") as f:
            return comm, int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return "", 0


class RssSampler:
    """Peak of the summed resident memory of this process and all its
    descendants (the JVM and its Python workers), sampled every
    ``period`` seconds on a background thread between start and stop."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts: dict[str, int] = {}
            for pid in _descendants(me):
                comm, rss = _rss_bytes(pid)
                # a JVM child between fork and exec (named after the forking
                # thread) shares the JVM's pages; only count real processes
                if pid != me and comm != "java" and not comm.startswith("python"):
                    continue
                key = "driver" if pid == me else comm
                parts[key] = parts.get(key, 0) + rss
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20
