"""Measurement plumbing: process-tree CPU/RSS from procfs, layer spans,
and attribution of Spark's own task metrics to those spans.

Spans are opened from the benchmark's side only: ``instrument`` wraps the
public functions of each layer module in place, so a call into a layer
from the benchmark or from another layer opens a nested span.  Each span
sets a Spark job group; a job whose group is not a span (streaming
micro-batches run under their query's group) falls back to the innermost
span open when it was submitted.  There is one client thread, so span
windows never overlap.
"""

from __future__ import annotations

import glob
import importlib
import inspect
import itertools
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timezone

PKG = "go_mapreduce_crawler_spark"

# Layer name -> modules whose public functions belong to it.
LAYER_MODULES = {
    "sources": ["sources.tables", "sources.crawl", "sources.sinks",
                "sources.crawl_source"],
    "crawler": ["crawler"],
    "pool": ["pool"],
    **{f"operators.{m}": [f"operators.{m}"] for m in (
        "relational", "temporal", "asof", "scale", "behavior", "text",
        "dedup", "similarity", "curation", "maintenance",
        "streaming_replay")},
    "streaming": ["streaming.stateful", "streaming.sessions"],
}
LAYERS = list(LAYER_MODULES)
COMMON = ("call_s", "driver_s", "jobs", "stages", "tasks", "task_busy_s",
          "shuffle_bytes", "core_util")
# Classes whose methods are layer entry points.
LAYER_CLASSES = {"crawler": ["crawler.Crawler"], "pool": ["pool.Pool"]}


# ---- procfs ----------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                children[int(f[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_cpu_s(root: int) -> float:
    """User+sys CPU of the tree, reaped children included."""
    total = 0
    for p in tree_pids(root):
        f = _stat_fields(p)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def reset_peak_rss(root: int) -> None:
    """Restart the kernel's resident-size high-water mark of the tree."""
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_bytes(root: int) -> int:
    """Sum over the live tree of each process's peak resident size since
    ``reset_peak_rss`` (or since it started).  The kernel keeps the peak,
    so no sampling is needed, and a short-lived child that shares its
    parent's address space between fork and exec is not counted twice."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


# ---- spans -----------------------------------------------------------------

@dataclass
class Span:
    sid: str
    parent: str | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Records one span per call into a layer while ``enabled``."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: dict[str, Span] = {}
        self.stack: list[Span] = []
        self._ids = itertools.count(1)

    def call(self, layer, name, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self.stack[-1] if self.stack else None
        sp = Span(f"perfbench-{next(self._ids)}",
                  parent.sid if parent else None, layer, name, time.time())
        self.spans[sp.sid] = sp
        if parent:
            parent.children.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.sid, name, False)
        try:
            return fn(*args, **kwargs)
        finally:
            sp.t1 = time.time()
            self.stack.pop()
            self.sc.setJobGroup(parent.sid if parent else "", "", False)


class _Traced:
    """Module-level function wrapper.  Pickles as the original function,
    so a closure shipped to executors never carries the tracer."""

    def __init__(self, tracer, layer, fn):
        self._tracer, self._layer, self.__wrapped__ = tracer, layer, fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self.__name__,
                                 self.__wrapped__, *args, **kwargs)

    def __reduce__(self):
        return getattr, (importlib.import_module(self.__module__),
                         self.__name__)


def _method(tracer, layer, cls, fn):
    name = f"{cls.__name__}.{fn.__name__}"

    def wrapper(*args, **kwargs):
        return tracer.call(layer, name, fn, *args, **kwargs)
    wrapper.__wrapped__ = fn
    wrapper.__name__ = fn.__name__
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Wrap every public function of each layer module, wherever the
    program binds it (module attributes and ``QUERIES`` registries)."""
    swap: dict[int, _Traced] = {}
    for layer, mods in LAYER_MODULES.items():
        for m in mods:
            mod = importlib.import_module(f"{PKG}.{m}")
            for name, obj in list(vars(mod).items()):
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == mod.__name__):
                    swap[id(obj)] = _Traced(tracer, layer, obj)
    for mname, mod in list(sys.modules.items()):
        if mname != PKG and not mname.startswith(PKG + "."):
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in swap and swap[id(obj)].__wrapped__ is obj:
                setattr(mod, name, swap[id(obj)])
        reg = getattr(mod, "QUERIES", None)
        if isinstance(reg, dict):
            for k, v in reg.items():
                if id(v) in swap and swap[id(v)].__wrapped__ is v:
                    reg[k] = swap[id(v)]
    for layer, classes in LAYER_CLASSES.items():
        for path in classes:
            m, cname = path.rsplit(".", 1)
            cls = getattr(importlib.import_module(f"{PKG}.{m}"), cname)
            for name, fn in list(vars(cls).items()):
                if inspect.isfunction(fn) and not name.startswith("_"):
                    setattr(cls, name, _method(tracer, layer, cls, fn))


# ---- streaming listener ----------------------------------------------------

def streaming_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "t": datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=timezone.utc).timestamp(),
                "batch_ms": p.batchDuration or 0,
                "commit_ms": sum((s.commitTimeMs or 0)
                                 for s in p.stateOperators),
                "state_rows": sum((s.numRowsTotal or 0)
                                  for s in p.stateOperators),
                "run": str(p.runId)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# ---- event log attribution -------------------------------------------------

def _intervals_minus(a: list[tuple[float, float]],
                     b: list[tuple[float, float]]) -> float:
    """Total length of the union of ``a`` minus the union of ``b``."""
    total = 0.0
    for s, e in a:
        cut = 0.0
        for bs, be in b:
            lo, hi = max(s, bs), min(e, be)
            if hi > lo:
                cut += hi - lo
        total += max(0.0, (e - s) - cut)
    return total


def _self_intervals(s: Span) -> list[tuple[float, float]]:
    """The parts of a span's window that no child span covers.  Children
    run one after another, in the order they were opened."""
    out, t = [], s.t0
    for c in s.children:
        if c.t0 > t:
            out.append((t, c.t0))
        t = max(t, c.t1)
    if s.t1 > t:
        out.append((t, s.t1))
    return out


def _merge(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def read_event_logs(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and tasks from every Spark event log in ``log_dir``.

    Returns (jobs, tasks): jobs carry group, submit/end seconds and the
    stage ids that ran for them; tasks carry their job, run time, GC,
    spill, shuffle and output bytes."""
    jobs, tasks = [], []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        by_id, stage_job, ran = {}, {}, set()
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = {"group": props.get("spark.jobGroup.id") or "",
                         "t0": ev["Submission Time"] / 1000.0, "t1": None,
                         "stages": set()}
                    by_id[ev["Job ID"]] = j
                    jobs.append(j)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, j)
                elif kind == "SparkListenerJobEnd":
                    j = by_id.get(ev["Job ID"])
                    if j:
                        j["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    ran.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(ev["Stage ID"]),
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "shuffle": sw.get("Shuffle Bytes Written", 0),
                        "written": out.get("Bytes Written", 0),
                        "failed": (ev.get("Task End Reason") or {}).get(
                            "Reason") != "Success"})
        for sid in ran:
            if sid in stage_job:
                stage_job[sid]["stages"].add(sid)
    return jobs, tasks


def attribute(spans: dict[str, Span], jobs: list[dict], tasks: list[dict],
              progress: list[dict], windows: list[tuple[float, float]],
              cores: int, n_passes: int) -> dict[str, float]:
    """Per-layer metrics per traced pass, from spans, jobs and tasks."""
    out = {f"{ly}.{m}": 0.0 for ly in LAYERS for m in COMMON}
    ordered = sorted(spans.values(), key=lambda s: s.t0)

    def owner(job) -> Span | None:
        sp = spans.get(job["group"])
        if sp is not None:
            return sp
        best = None
        for s in ordered:            # innermost open span at submission
            if s.t0 <= job["t0"] <= s.t1:
                best = s
        return best

    job_iv = _merge([(j["t0"], j["t1"] or j["t0"]) for j in jobs])
    for s in ordered:
        if s.layer not in LAYER_MODULES:
            continue
        own = _self_intervals(s)
        out[f"{s.layer}.call_s"] += sum(b - a for a, b in own)
        out[f"{s.layer}.driver_s"] += _intervals_minus(own, job_iv)
    job_layer = {}
    for j in jobs:
        sp = owner(j)
        if sp is None or sp.layer not in LAYER_MODULES:
            continue
        job_layer[id(j)] = sp.layer
        out[f"{sp.layer}.jobs"] += 1
        out[f"{sp.layer}.stages"] += len(j["stages"])
    totals = {"all.gc_s": 0.0, "all.spill_bytes": 0.0,
              "all.failed_tasks": 0.0, "sources.bytes_written": 0.0}
    for t in tasks:
        ly = job_layer.get(id(t["job"])) if t["job"] else None
        if ly is None:
            continue
        out[f"{ly}.tasks"] += 1
        out[f"{ly}.task_busy_s"] += t["run_s"]
        out[f"{ly}.shuffle_bytes"] += t["shuffle"]
        totals["all.gc_s"] += t["gc_s"]
        totals["all.spill_bytes"] += t["spill"]
        totals["all.failed_tasks"] += t["failed"]
        totals["sources.bytes_written"] += t["written"]
    out.update(totals)
    for ly in LAYERS:
        call = out[f"{ly}.call_s"]
        out[f"{ly}.core_util"] = (out[f"{ly}.task_busy_s"] / (call * cores)
                                  if call > 0 else 0.0)
    inside = [p for p in progress
              if any(a <= p["t"] <= b for a, b in windows)]
    last_rows: dict[str, int] = {}
    for p in inside:
        last_rows[p["run"]] = p["state_rows"]
    out["streaming.batches"] = len(inside)
    out["streaming.batch_s"] = sum(p["batch_ms"] for p in inside) / 1000.0
    out["streaming.state_commit_s"] = sum(
        p["commit_ms"] for p in inside) / 1000.0
    out["streaming.state_rows"] = float(sum(last_rows.values()))
    n = max(1, n_passes)
    return {k: (v if k.endswith("core_util") else v / n)
            for k, v in out.items()}


# ---- the per-layer metrics the traced run reports --------------------------

_COMMON_UNITS = {"call_s": "s", "driver_s": "s", "jobs": "count",
                 "stages": "count", "tasks": "count", "task_busy_s": "s",
                 "shuffle_bytes": "bytes", "core_util": "ratio"}
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    **{f"{ly}.{m}": u for ly in LAYERS for m, u in _COMMON_UNITS.items()},
    "sources.bytes_written": "bytes", "streaming.batch_s": "s",
    "streaming.state_commit_s": "s", "streaming.state_rows": "count",
    "all.gc_s": "s", "all.spill_bytes": "bytes",
}
