"""Tracing for the benchmark's traced run: spans, build-cache counts and
the Spark event log.

Everything here observes the engine from outside, at the boundaries the
benchmark itself crosses: the spans wrap the benchmark's own calls into
the engine, the build-cache counters wrap the public functions of
``operators.buildcache``, and the task-level numbers come from the event
log Spark writes when ``spark.eventLog.enabled`` is set.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import sys
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and an operation id.

    Spans are only recorded when ``enabled``; the untraced run pays a
    no-op context manager per boundary.  ``dump`` writes them out once,
    at the end of the run.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, op=None, **attrs):
        """Record a span measured elsewhere (e.g. a stream batch's progress)."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "name": name, "parent": None,
                               "op": op, "start": start, "end": end, **attrs})

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


class BuildCacheCounter:
    """Counts calls through ``operators.buildcache``'s public functions.

    Callers reach the cache either as ``buildcache.lookup(...)`` or
    through a name bound at import time (``operators.similarity`` has
    ``from .buildcache import lookup as _cache_lookup``).  So every
    attribute of a loaded module of the engine's package that holds one
    of those functions is replaced with a counting wrapper; modules the
    engine imports later reach the cache through the patched module.
    ``restore`` puts the originals back.
    """

    NAMES = ("lookup", "store", "lookup_frame", "store_frame")

    def __init__(self, module) -> None:
        self.counts: Counter = Counter()
        package = module.__name__.split(".")[0]
        wrappers = {id(getattr(module, n)): self._wrap(n, getattr(module, n)) for n in self.NAMES}
        self._patched: list[tuple[object, str, object]] = []
        for name, mod in list(sys.modules.items()):
            if name != package and not name.startswith(package + "."):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in wrappers:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrappers[id(value)])

    def _wrap(self, name, fn):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            if name.startswith("lookup"):
                self.counts["lookups"] += 1
                self.counts["hits"] += out is not None
            elif name == "store" or out is not None:
                self.counts["stores"] += 1
            return out

        return wrapped

    def layers(self, cache_dir: str) -> dict:
        """The build cache's per-layer metrics; the hit share is 0 when
        nothing was looked up."""
        c = self.counts
        return {
            "buildcache.lookups": c["lookups"],
            "buildcache.hits": c["hits"],
            "buildcache.stores": c["stores"],
            "buildcache.hit_share": c["hits"] / c["lookups"] if c["lookups"] else 0.0,
            "buildcache.bytes": dir_bytes(cache_dir),
        }

    def restore(self) -> None:
        for mod, attr, fn in self._patched:
            setattr(mod, attr, fn)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def read_event_logs(log_dir: str) -> dict:
    """Jobs and task totals from every Spark event log under ``log_dir``.

    Returns ``{"jobs": {job_id: {...}}, "stages": {stage_key: {...}}}``:
    each job has its group, submit/complete times (epoch ms) and stage
    keys; each stage has its task count and summed task metrics.  Job
    ids restart with each SparkContext, so every key carries the log
    file's index.
    """
    jobs: dict = {}
    stages: dict = {}
    for i, path in enumerate(sorted(glob.glob(os.path.join(log_dir, "*")))):
        if path.endswith(".inprogress") or os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[(i, ev["Job ID"])] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time"),
                        "end": None,
                        "stages": [(i, s) for s in ev.get("Stage IDs", [])],
                    }
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((i, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.setdefault((i, info["Stage ID"]), Counter())["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    c = stages.setdefault((i, ev["Stage ID"]), Counter())
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["tasks"] += 1
                    c["task_run_ms"] += m.get("Executor Run Time", 0)
                    c["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    return {"jobs": jobs, "stages": stages}


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_s(jobs: list[dict]) -> float:
    """Seconds during which at least one of ``jobs`` was running."""
    return covered_s([(j["submit"], j["end"]) for j in jobs if j["end"]]) / 1e3


def task_totals(log: dict, groups) -> dict:
    """Stage and task totals over the jobs whose group is in ``groups``."""
    keys = {k for j in log["jobs"].values() if j["group"] in groups for k in j["stages"]}
    c: Counter = Counter()
    for k in keys:
        c.update(log["stages"].get(k, {}))
    return {
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.task_run_s": c["task_run_ms"] / 1e3,
        "spark.task_cpu_s": c["task_cpu_ns"] / 1e9,
        "spark.gc_s": c["gc_ms"] / 1e3,
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
    }


def jobs_in(log: dict, group: str) -> list[dict]:
    return [j for j in log["jobs"].values() if j["group"] == group]
