"""Per-layer tracing from outside the program.

``Tracer.install`` wraps the public functions and methods of the engine's
modules in place, so every call records a span: name, start, end, parent
span and request id. Spans stay in memory and are summarised when the run
ends. Spark jobs, stages and task metrics come from the session's event log
(enabled through ``get_spark(extra_conf=...)``) and are attributed to a span
by time: with one client, the jobs that start inside a span are its jobs.

Span self time = span duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

#: module -> layer name used in span names. The snapshot module belongs to
#: the storage layer; lookup is the find path's operator layer.
LAYERS = {
    "kausaldb_spark.server": "server",
    "kausaldb_spark.cli": "cli",
    "kausaldb_spark.engine": "engine",
    "kausaldb_spark.storage": "storage",
    "kausaldb_spark.snapshot": "storage",
    "kausaldb_spark.sources.ingest": "ingest",
    "kausaldb_spark.operators.traversal": "traversal",
    "kausaldb_spark.operators.lookup": "lookup",
    "kausaldb_spark.functions.curation": "curation",
    "kausaldb_spark.functions.dedup": "dedup",
    "kausaldb_spark.functions.text": "text",
    "kausaldb_spark.sinks": "sinks",
}
#: modules whose import-time bindings ``install`` re-points
_PACKAGE = "kausaldb_spark"
#: classes left unwrapped: the benchmark's own client side, and counters
_SKIP_CLASSES = {"KausalClient", "QueryStats"}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans while ``enabled``; costs one flag test per call otherwise."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.request: int | None = None       # id of the client request span
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        # a daemon handler thread has no stack of its own: its spans hang
        # under the client request span that is in flight
        parent = stack[-1] if stack else self.request
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), parent=parent, request=self.request))
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        return idx

    def finish(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    @contextlib.contextmanager
    def request_span(self, name: str):
        """Root span of one client request; daemon-side spans attach to it."""
        if not self.enabled:
            yield None
            return
        self.request = None
        idx = self.begin(name)
        self.request = idx
        self.spans[idx].request = idx
        try:
            yield idx
        finally:
            self.finish(idx)
            self.request = None

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.finish(idx)

        return traced

    def install(self) -> None:
        """Wrap every public function and public method defined in the
        ``LAYERS`` modules, then re-point the names other modules bound to
        those functions at import time (``from ... import name``), so a
        call traces whichever module it is made from."""
        wrapped: dict[int, object] = {}
        for mod_name, layer in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod_name:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = self._wrap(obj, f"{layer}.{attr}")
                    setattr(mod, attr, wrapped[id(obj)])
                elif inspect.isclass(obj) and attr not in _SKIP_CLASSES:
                    for m_name, m in list(vars(obj).items()):
                        if not m_name.startswith("_") and inspect.isfunction(m):
                            setattr(obj, m_name, self._wrap(m, f"{layer}.{m_name}"))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or mod_name.split(".", 1)[0] != _PACKAGE:
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped and getattr(wrapped[id(obj)], "__wrapped__", None) is obj:
                    setattr(mod, attr, wrapped[id(obj)])

    # -- summaries -------------------------------------------------------------

    def write(self, path: str) -> None:
        """One JSON line per span: name, start, end, parent, request."""
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps({"name": sp.name, "start": sp.start, "end": sp.end,
                                     "parent": sp.parent, "request": sp.request}) + "\n")

    def self_ms(self, idx: int) -> float:
        sp = self.spans[idx]
        return sp.ms - sum(self.spans[c].ms for c in sp.children)

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo += self.spans[i].children
        return out


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from a Spark event log directory."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for dirpath, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if not (f.startswith("events_") or f.startswith("local-")):
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "start": ev["Submission Time"] / 1e3, "end": None,
                            "stages": ev.get("Stage IDs", []),
                        }
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        st = stages.setdefault(ev.get("Stage ID"), _new_stage())
                        _add_task(st, ev)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"tasks": 0, "task_s": 0.0, "max_task_s": 0.0,
            "gc_s": 0.0, "spill_mb": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "input_mb": 0.0}


def _add_task(st: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    ti = ev.get("Task Info") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    mb = 1024 * 1024
    run_s = tm.get("Executor Run Time", 0) / 1e3
    st["tasks"] += 1
    st["task_s"] += run_s
    st["max_task_s"] = max(st["max_task_s"],
                           (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3)
    st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    st["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / mb
    st["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb
    st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
    st["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / mb


def job_layers(log: dict, spans: list[Span]) -> dict[int, str]:
    """Layer of the innermost span open when each job was submitted. The
    stage names Spark records do not carry the Python call site of most
    jobs (adaptive query stages are submitted from a pool thread), so jobs
    are attributed by time, which one client makes unambiguous."""
    order = sorted(spans, key=lambda sp: sp.start)
    out = {}
    for j, v in log["jobs"].items():
        inner = None
        for sp in order:
            if sp.start > v["start"]:
                break
            if sp.end >= v["start"]:
                inner = sp          # later start = deeper in the call stack
        out[j] = inner.name.split(".", 1)[0] if inner else "other"
    return out


def jobs_in(log: dict, start: float, end: float) -> list[int]:
    return [j for j, v in log["jobs"].items() if start <= v["start"] <= end]


def job_busy_s(log: dict, start: float, end: float) -> float:
    """Wall time inside [start, end] during which at least one job ran."""
    spans = sorted(
        (max(v["start"], start), min(v["end"] or end, end))
        for v in log["jobs"].values()
        if v["start"] <= end and (v["end"] or end) >= start
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
