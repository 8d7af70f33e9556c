"""Spans around calls into the engine, and the per-layer numbers derived
from them and from Spark's event log.

A span records name, layer, parent, wall-clock start/end and a few counts.
Spans stay in memory and are written out once, when the run ends. Every
span that may launch Spark jobs puts its id into the job group, so the
event log attributes each job, stage and task to the innermost span that
caused it. A layer's self time is the time of its spans minus the time of
their child spans.

The engine's own modules are instrumented from outside: ``install`` wraps
the public functions of ``io``, ``corpus`` and ``operators.*`` in place,
before the registry imports ``plans`` (whose modules bind those functions
at import time). Wrappers record nothing while the tracer is inactive.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import statistics
import sys
import time
from contextlib import contextmanager

#: Modules whose public functions get span wrappers (besides ``operators.*``);
#: each module is its own layer.
WRAPPED = ("io", "corpus")


def set_group(sc, gid: str | None) -> None:
    """Tag this thread's next jobs with job group ``gid`` (None clears it)."""
    if gid is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(gid, gid)


class Span:
    __slots__ = ("id", "parent", "name", "layer", "t0", "t1", "attrs", "child_s")

    def __init__(self, sid: str, parent: str | None, name: str, layer: str):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.t0 = self.t1 = 0.0
        self.attrs: dict = {}
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Span stack for one single-threaded client; ``active`` switches
    recording on and off."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.sc = None

    def group(self, gid: str | None) -> None:
        if self.sc is not None:
            set_group(self.sc, gid)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{next(self._ids)}", parent.id if parent else None, name, layer)
        self._stack.append(s)
        self.group(s.id)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.dur
            self.group(parent.id if parent else None)
            self.spans.append(s)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name, "layer": s.layer,
                    "start": s.t0, "end": s.t1, "self_s": s.self_s, **s.attrs,
                }) + "\n")


#: The one tracer of the process: the wrappers ``install`` puts into the
#: engine's modules have no other way to reach it.
TRACER = Tracer()


def _written(path: str, since: float) -> tuple[int, int]:
    """(files, bytes) of data files under ``path`` modified since ``since``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if not n.startswith((".", "_")) and os.path.getmtime(p) >= since:
                files += 1
                size += os.path.getsize(p)
    return files, size


def _wrap(fn, name: str, layer: str):
    params = inspect.signature(fn).parameters
    writes = fn.__name__.startswith("write_") and "path" in params
    pos = list(params).index("path") if writes else -1

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not TRACER.active:
            return fn(*args, **kwargs)
        with TRACER.span(name, layer) as s:
            out = fn(*args, **kwargs)
            if writes:
                path = kwargs.get("path", args[pos] if pos < len(args) else None)
                if isinstance(path, str) and os.path.isdir(path):
                    # 1 s of slack: file mtimes may be truncated to the second
                    s.attrs["files_written"], s.attrs["bytes_written"] = _written(path, s.t0 - 1.0)
            return out

    return traced


def install(package: str) -> None:
    """Wrap the public functions of ``<package>.io``, ``.corpus`` and every
    ``.operators`` module. Must run before ``<package>.plans`` is imported."""
    if f"{package}.plans.registry" in sys.modules:
        raise RuntimeError("span wrappers must be installed before the registry imports plans")
    mods = {f"{package}.{m}": m for m in WRAPPED}
    ops = importlib.import_module(f"{package}.operators")
    for info in pkgutil.iter_modules(ops.__path__):
        mods[f"{package}.operators.{info.name}"] = f"operators.{info.name}"
    for modname, layer in mods.items():
        mod = importlib.import_module(modname)
        for attr, fn in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                continue
            setattr(mod, attr, _wrap(fn, f"{layer}.{attr}", layer))


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` through Catalyst and return its QueryPlanningTracker
    phase times in seconds (analysis, optimization, planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.keySet().iterator()
    while it.hasNext():
        p = it.next()
        out[p] = phases.get(p).get().durationMs() / 1000.0
    return out


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the one application logged under
    ``log_dir`` (an uncompressed JSON-lines event log, single-file or
    rolling)."""
    jobs, stages, tasks = {}, {}, []
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in sorted(names) if n.startswith(("events_", "local-"))]
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = (
                        info.get("Submission Time", 0) / 1000.0,
                        info.get("Completion Time", 0) / 1000.0,
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "ok": (e.get("Task End Reason") or {}).get("Reason") == "Success",
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "fetch_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                        "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "out_rows": (m.get("Output Metrics") or {}).get("Records Written", 0),
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_metrics(log: dict, groups: set[str], windows: list[tuple[float, float]]) -> dict:
    """Scheduler and executor totals of the jobs tagged with ``groups``;
    ``windows`` are the op spans whose wall the idle time (no stage running) is
    measured against."""
    stage_ids = set()
    n_jobs = 0
    for j in log["jobs"].values():
        if j["group"] in groups:
            n_jobs += 1
            stage_ids.update(j["stages"])
    ran = {k: v for k, v in log["stages"].items() if k[0] in stage_ids}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    skews = []
    for sid in {k[0] for k in ran}:
        durs = [t["run_s"] for t in tasks if t["stage"] == sid]
        if len(durs) >= 2 and statistics.fmean(durs) > 0:
            skews.append(max(durs) / statistics.fmean(durs))
    busy = 0.0
    for a, b in windows:
        busy += _union([(max(s, a), min(e, b)) for s, e in ran.values() if e > a and s < b])
    return {
        "spark.jobs": n_jobs,
        "spark.stages": len(ran),
        "spark.tasks": len(tasks),
        "spark.driver_idle_s": sum(b - a for a, b in windows) - busy,
        "spark.executor_run_s": sum(t["run_s"] for t in tasks),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.task_skew": statistics.fmean(skews) if skews else 1.0,
        "spark.shuffle_write_bytes": sum(t["sw_bytes"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["sr_bytes"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.fetch_wait_s": sum(t["fetch_s"] for t in tasks),
        "spark.task_failures": sum(1 for t in tasks if not t["ok"]),
        "spark.stage_retries": sum(1 for k in ran if k[1] > 0),
        "_in_bytes": sum(t["in_bytes"] for t in tasks),
        "_out_rows": sum(t["out_rows"] for t in tasks),
    }


def descendants(spans: list[Span], roots: list[Span]) -> list[Span]:
    """``roots`` and every span below them."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out
