"""Tracing for the traced run: spans around the public calls into each
layer, plus Spark's own event log.

Spans are recorded from the benchmark's side of each call (the engine
is not edited): the wrappers replace module or class attributes for the
duration of the run. Each span records name, start, end, parent and the
request it belongs to; spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds, comparable with the event log's ms
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, request: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, time.time(),
                  parent=parent.sid if parent else None,
                  request=request or (parent.request if parent else None))
        stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``after(span,
        args, result)`` may add attributes once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanning(*args, **kwargs):
            sp = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out
            finally:
                tracer.finish(sp)

        setattr(owner, attr, spanning)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


def _artifact_mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / 1e6
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer. ``plans.graph`` binds
    ``load_collection_cube`` at import, so it is wrapped in that
    namespace; the sinks and ``sources.synthetic.load_result`` are
    imported inside the dispatch at call time, so their module
    attributes are wrapped directly."""
    from openeo_odc_driver_spark import service
    from openeo_odc_driver_spark.core import tiled
    from openeo_odc_driver_spark.plans import graph
    from openeo_odc_driver_spark.sinks import gtiff_tiled, save
    from openeo_odc_driver_spark.sources import synthetic

    def demotions(sp, args, _out):
        sp.attrs["demotions"] = len(args[0].tiled_demotions)

    def written(sp, args, out):
        target = out if isinstance(out, str) else args[1]
        for cand in (target, target + ".tif"):
            if os.path.exists(cand):
                sp.attrs["written_mb"] = _artifact_mb(cand)
                break

    tracer.wrap(service.JobStore, "cache_lookup", "service.cache_lookup")
    tracer.wrap(service.JobStore, "cache_put", "service.cache_put")
    tracer.wrap(graph.ProcessGraph, "__init__", "graph.init")
    tracer.wrap(graph.ProcessGraph, "execute", "graph.execute",
                after=demotions)
    tracer.wrap(graph, "load_collection_cube", "sources.load_collection")
    tracer.wrap(synthetic, "load_result", "sources.load_result")
    tracer.wrap(tiled, "load_tiled", "sources.load_tiled")
    tracer.wrap(tiled, "to_tiled", "tiled.to_tiled")
    tracer.wrap(tiled, "from_tiled", "tiled.from_tiled")
    tracer.wrap(save, "save_result", "sinks.save_result", after=written)
    tracer.wrap(gtiff_tiled, "save_gtiff_tiled", "sinks.save_gtiff_tiled",
                after=written)


# --- Spark event log --------------------------------------------------------

_PYTHON_SCOPES = ("InPandas", "ArrowEvalPython", "BatchEvalPython",
                  "PythonUDF", "MapInArrow")


def _stage_kind(rdd_infos: list) -> str:
    """Classify a stage by the RDD operation scopes it ran: file write,
    Python (pandas/Arrow) operator, parquet scan, shuffle exchange, or
    other. The first matching class in that order wins."""
    names = []
    for info in rdd_infos:
        scope = info.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except ValueError:
                pass
        names.append(info.get("Name", ""))
    text = " ".join(names)
    if "WriteFiles" in text or "InsertIntoHadoopFsRelation" in text:
        return "write"
    if any(s in text for s in _PYTHON_SCOPES):
        return "python"
    if "Scan parquet" in text or "FileScan" in text:
        return "scan"
    if "Exchange" in text:
        return "exchange"
    return "other"


STAGE_KINDS = ("scan", "exchange", "python", "write", "other")


def read_event_log(log_dir: str) -> dict:
    """Per job group: Spark jobs (submit, end) and per-stage totals, from
    the uncompressed, non-rolling event log of the (stopped) session."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    groups: dict = {}
    stage_group: dict = {}
    stages: dict = {}

    def grp(name):
        return groups.setdefault(name or "", {"jobs": [], "stages": []})

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                grp(g)["jobs"].append(
                    {"id": ev["Job ID"], "submit": ev["Submission Time"] / 1e3,
                     "end": None})
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                for g in groups.values():
                    for j in g["jobs"]:
                        if j["id"] == ev["Job ID"]:
                            j["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                g = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", stage_group.get(info["Stage ID"]))
                st = {"kind": _stage_kind(info.get("RDD Info", [])),
                      "submit": (info.get("Submission Time") or 0) / 1e3,
                      "complete": None, "tasks": 0, "failed_tasks": 0,
                      "task_s": 0.0, "cpu_s": 0.0, "wait_s": 0.0,
                      "gc_s": 0.0, "shuffle_read_mb": 0.0,
                      "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                      "input_mb": 0.0, "output_mb": 0.0}
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = st
                grp(g)["stages"].append(st)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st["complete"] = (info.get("Completion Time") or 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if st is None:
                    continue
                ti = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["failed_tasks"] += bool(ti.get("Failed"))
                st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["wait_s"] += max(0.0, ti["Launch Time"] / 1e3 - st["submit"])
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0)) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                st["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                st["input_mb"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0) / 1e6
                st["output_mb"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0) / 1e6
    return groups


# --- per-layer metrics ------------------------------------------------------


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict:
    """Self time per span id: its duration minus the part of its
    interval its child spans cover."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - _union_within(kids.get(s.sid, []), s.start, s.end)
            for s in spans}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(tracer: Tracer, timed: list, groups: dict, cores: int,
              session_s: float) -> tuple[dict, dict]:
    """Per-layer metrics over the timed, executed requests of a traced
    run (``timed``: records with rid, wall, cached), and the trace
    checks. The closure check compares, per request, the self times of
    its span tree with the wall the client measured on its own clock.
    Spans nest inside the client's timer, so the two differ only by the
    tracer's own bookkeeping; the check is reported, not gated."""
    by_req: dict = {}
    for s in tracer.spans:
        if s.request:
            by_req.setdefault(s.request, []).append(s)
    selfs = self_times(tracer.spans)
    executed = [r for r in timed if not r["cached"]]
    hits = [r for r in timed if r["cached"]]

    rows = []
    closure_err = 0.0
    for rec in executed:
        spans = by_req.get(rec["rid"], [])
        root = next(s for s in spans if s.name == "request")
        closure_err = max(closure_err, abs(
            sum(selfs[s.sid] for s in spans) - rec["wall"]))
        g = groups.get(f"openeo-{rec['rid']}", {"jobs": [], "stages": []})
        jobs = [(j["submit"], j["end"] or j["submit"]) for j in g["jobs"]]
        execs = [s for s in spans if s.name == "graph.execute"]
        graph_s = sum(s.dur for s in spans
                      if s.name in ("graph.init", "graph.execute"))
        srcs = [s for s in spans if s.name.startswith("sources.")]
        stages = g["stages"]

        def tot(key):
            return sum(st[key] for st in stages)

        row = {
            "service.self_ms": (root.dur - graph_s) * 1e3,
            "graph.init_ms": sum(s.dur for s in spans
                                 if s.name == "graph.init") * 1e3,
            "graph.plan_s": sum(s.dur - _union_within(jobs, s.start, s.end)
                                for s in execs),
            "graph.spark_jobs": len(jobs),
            "graph.demotions": sum(s.attrs.get("demotions", 0) for s in execs),
            "sources.load_ms": sum(s.dur for s in srcs) * 1e3,
            "sources.eager_jobs": sum(
                any(s.start <= a <= s.end for s in srcs) for a, _ in jobs),
            "tiled.pack_ms": sum(s.dur for s in spans
                                 if s.name in ("tiled.to_tiled",
                                               "tiled.from_tiled")) * 1e3,
            "tiled.from_tiled_calls": sum(s.name == "tiled.from_tiled"
                                          for s in spans),
            "sinks.save_s": sum(s.dur for s in spans
                                if s.name.startswith("sinks.")),
            "sinks.written_mb": sum(s.attrs.get("written_mb", 0.0)
                                    for s in spans
                                    if s.name.startswith("sinks.")),
            "spark.tasks": tot("tasks"),
            "spark.stages": len(stages),
            "spark.task_s": tot("task_s"),
            "spark.cpu_s": tot("cpu_s"),
            "spark.task_wait_s": tot("wait_s"),
            "spark.shuffle_write_mb": tot("shuffle_write_mb"),
            "spark.shuffle_read_mb": tot("shuffle_read_mb"),
            "spark.spill_mb": tot("spill_mb"),
            "spark.input_mb": tot("input_mb"),
            "spark.output_mb": tot("output_mb"),
            "spark.gc_s": tot("gc_s"),
            "failed_tasks": tot("failed_tasks"),
            "wall": root.dur,
        }
        for k in STAGE_KINDS:
            row[f"spark.stage_s.{k}"] = sum(
                (st["complete"] or st["submit"]) - st["submit"]
                for st in stages if st["kind"] == k)
        rows.append(row)

    keys = rows[0].keys() if rows else PER_LAYER_UNITS
    metrics = {k: _med(r[k] for r in rows) for k in keys
               if k in PER_LAYER_UNITS}
    lookups = [s.dur * 1e3 for s in tracer.spans
               if s.name == "service.cache_lookup"]
    puts = [s.dur * 1e3 for s in tracer.spans if s.name == "service.cache_put"]
    metrics.update({
        "service.cache_lookup_ms": _med(lookups),
        "service.cache_put_ms": _med(puts),
        "spark.failed_tasks": sum(r["failed_tasks"] for r in rows),
        "spark.core_busy_ratio": sum(r["spark.task_s"] for r in rows)
        / max(1e-9, sum(r["wall"] for r in rows) * cores),
        "session.start_s": session_s,
    })
    checks = {"closure_max_err_ms": closure_err * 1e3,
              "requests_traced": len(executed), "hits_traced": len(hits),
              "hit_ratio": len(hits) / max(1, len(timed))}
    return metrics, checks


PER_LAYER_UNITS = {
    "service.self_ms": "ms",
    "service.cache_lookup_ms": "ms",
    "service.cache_put_ms": "ms",
    "graph.init_ms": "ms",
    "graph.plan_s": "s",
    "graph.spark_jobs": "count",
    "graph.demotions": "count",
    "sources.load_ms": "ms",
    "sources.eager_jobs": "count",
    "tiled.pack_ms": "ms",
    "tiled.from_tiled_calls": "count",
    "sinks.save_s": "s",
    "sinks.written_mb": "MB",
    "session.start_s": "s",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.failed_tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.task_wait_s": "s",
    "spark.core_busy_ratio": "ratio",
    **{f"spark.stage_s.{k}": "s" for k in STAGE_KINDS},
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.gc_s": "s",
}
