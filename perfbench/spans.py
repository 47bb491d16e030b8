"""Spans around the package's public functions, and Spark event-log
attribution of every job to the span that caused it.

A span records (id, name, start, end, parent, step). While a span is
open on a thread, that thread's Spark job description is ``pb#<id>``,
so the event log names the span behind each job. Jobs whose
description is not ours (the streaming engine's own jobs) are given to
the innermost span whose interval contains the job's submission. Spans
live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

_EPOCH_OFFSET = time.time() - time.perf_counter()


def _now_ms() -> float:
    return (time.perf_counter() + _EPOCH_OFFSET) * 1000.0


class Tracer:
    """In-memory spans; ``span`` is a no-op when tracing is off."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[dict] = []
        self._main = threading.get_ident()
        self.step = 0

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        stack = self._stack()
        # a callback thread (foreachBatch) opens its first span under the
        # main thread's innermost span: the step that is waiting on it
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
                   "step": self.step, "thread": threading.get_ident(),
                   "start": _now_ms(), "end": None}
            self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.job.description")
        stack.append(rec)
        self.sc.setJobDescription(f"pb#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = _now_ms()
            stack.pop()
            self.sc.setJobDescription(prev)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self._span(name):
                return fn(*a, **kw)
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _replace_everywhere(orig, new, prefix: str) -> None:
    """Point every module-level reference to ``orig`` under ``prefix``
    at ``new``, so both ``module.fn`` and ``from module import fn``
    callers see the wrapper."""
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith(prefix) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(tracer: Tracer) -> None:
    """Wrap the package's public layer entry points in spans."""
    if not tracer.enabled:
        return
    import importlib

    pkg = "python_vectordbapp_ceph_spark"
    functions = {
        "operators.filter_expr": ["translate"],
        "operators.knn": ["knn_topk"],
        "operators.ivf": ["build_ivf", "search_batch"],
        "operators.merge": ["merge_into", "commit_optimistic",
                            "write_bucketed_base", "read_base"],
        "operators.dedup": ["jaccard_pairs", "minhash_signatures",
                            "minhash_lsh_candidates", "dedup_components"],
        "streaming.ingest": ["ingest_stream", "parse_s3_events"],
        "cache": ["release_caches"],
    }
    for modname, names in functions.items():
        mod = importlib.import_module(f"{pkg}.{modname}")
        for name in names:
            orig = getattr(mod, name)
            _replace_everywhere(orig, tracer.wrap(orig, f"{modname}.{name}"), pkg)

    from python_vectordbapp_ceph_spark.collection import VectorCollection
    from python_vectordbapp_ceph_spark.operators import lease

    for meth in ("upsert", "delete_keys_df", "maybe_compact", "compact",
                 "query", "search"):
        setattr(VectorCollection, meth,
                tracer.wrap(getattr(VectorCollection, meth), f"collection.{meth}"))

    acquire = lease.acquire_writer_lease

    @functools.wraps(acquire)
    def traced_acquire(*a, **kw):
        with tracer.span("operators.lease.acquire"):
            held = acquire(*a, **kw)
        held.release = tracer.wrap(held.release, "operators.lease.release")
        return held

    _replace_everywhere(acquire, traced_acquire, pkg)


# --- event log -------------------------------------------------------------

_TASK_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
    "deserialize_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "input_rows", "output_bytes",
    "output_rows", "python_rows", "scan_rows",
)


def _plan_accumulators(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _plan_accumulators(child, out)


def read_event_log(eventlog_dir: str) -> list[dict]:
    """One record per job: id, description, start/end (ms), and the task
    metrics of its stages summed."""
    files = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
    if not files:
        return []
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    accs: dict[int, tuple[str, str]] = {}
    with open(max(files, key=os.path.getsize)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {"id": ev["Job ID"], "desc": props.get("spark.job.description") or "",
                       "start": ev["Submission Time"], "end": ev["Submission Time"],
                       "stages": len(ev.get("Stage IDs", [])), "tasks": 0}
                job.update({k: 0.0 for k in _TASK_FIELDS})
                jobs[job["id"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job["id"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_accumulators(ev.get("sparkPlanInfo", {}), accs)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if job is None or not tm:
                    continue
                run_ms = tm.get("Executor Run Time", 0)
                deser_ms = tm.get("Executor Deserialize Time", 0)
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                job["tasks"] += 1
                job["executor_run_s"] += run_ms / 1e3
                job["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                job["deserialize_s"] += deser_ms / 1e3
                job["scheduler_delay_s"] += max(
                    0, dur - run_ms - deser_ms - tm.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0)) / 1e3
                sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
                job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                job["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                job["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                im, om = tm.get("Input Metrics", {}), tm.get("Output Metrics", {})
                job["input_bytes"] += im.get("Bytes Read", 0)
                job["input_rows"] += im.get("Records Read", 0)
                job["output_bytes"] += om.get("Bytes Written", 0)
                job["output_rows"] += om.get("Records Written", 0)
                for acc in info.get("Accumulables", []):
                    node, metric = accs.get(acc.get("ID"), ("", ""))
                    if metric != "number of output rows":
                        continue
                    if node.startswith("ArrowEvalPython"):
                        job["python_rows"] += float(acc.get("Update") or 0)
                    elif node.startswith(("Scan ", "FileScan", "InMemoryTableScan")):
                        job["scan_rows"] += float(acc.get("Update") or 0)
    return sorted(jobs.values(), key=lambda j: j["id"])


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Attribution:
    """Jobs attributed to spans, and per-span-name aggregates."""

    def __init__(self, spans: list[dict], jobs: list[dict]) -> None:
        self.spans = [s for s in spans if s["end"] is not None]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.jobs = jobs
        self.job_span: dict[int, int | None] = {}
        for j in jobs:
            sid = None
            if j["desc"].startswith("pb#"):
                sid = int(j["desc"][3:].split()[0])
                if sid not in self.by_id:
                    sid = None
            if sid is None:
                sid = self._innermost_at(j["start"])
            self.job_span[j["id"]] = sid
        self.unattributed = sum(1 for v in self.job_span.values() if v is None)
        # each job also counts toward every ancestor of its span
        self.incl: dict[int, list[dict]] = {}
        for j in jobs:
            sid = self.job_span[j["id"]]
            while sid is not None:
                self.incl.setdefault(sid, []).append(j)
                sid = self.by_id[sid]["parent"] if sid in self.by_id else None

    def _innermost_at(self, t: float) -> int | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else None

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(c["id"] for c in self.children.get(cur, []))
        return out

    def span_jobs(self, sid: int) -> list[dict]:
        return self.incl.get(sid, [])

    def self_ms(self, s: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children.get(s["id"], [])]
        return (s["end"] - s["start"]) - _union_ms(kids, s["start"], s["end"])

    def aggregate(self, name: str, within: int | None = None) -> dict:
        """Totals over every span called ``name`` (inside ``within``'s
        subtree when given): count, wall, self, jobs and task metrics,
        and driver time = wall not covered by the span's jobs."""
        scope = self.subtree(within) if within is not None else None
        spans = [s for s in self.spans if s["name"] == name
                 and (scope is None or s["id"] in scope)]
        agg = {"count": len(spans), "wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0,
               "jobs": 0, "stages": 0, "tasks": 0}
        agg.update({k: 0.0 for k in _TASK_FIELDS})
        for s in spans:
            jobs = self.span_jobs(s["id"])
            agg["wall_s"] += (s["end"] - s["start"]) / 1e3
            agg["self_s"] += self.self_ms(s) / 1e3
            covered = _union_ms([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
            agg["driver_s"] += ((s["end"] - s["start"]) - covered) / 1e3
            agg["jobs"] += len(jobs)
            for j in jobs:
                agg["stages"] += j["stages"]
                agg["tasks"] += j["tasks"]
                for k in _TASK_FIELDS:
                    agg[k] += j[k]
        return agg

    def table(self) -> dict[str, dict]:
        names = sorted({s["name"] for s in self.spans})
        return {n: self.aggregate(n) for n in names}
