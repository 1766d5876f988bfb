"""Span tracing from the benchmark's side of each module boundary.

A :class:`Tracer` replaces a module's public functions, where their
callers look them up, with wrappers that record one span per call:
name, layer, start, end, parent span, op id, py4j round trips and
counters.  While a span is open the Spark job group is the span id, so
the event log (enabled for traced runs only) attributes every job,
stage and task to the innermost span that launched it.  Spans stay in
memory and are written to a file when the run ends.

Lazy layers build plans without running them; their execution shows up
in the span whose action runs the plan (a DataFrame built by
``trees.render_thread_pages`` executes inside ``exports.write_thread_docs``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time

GROUP_PREFIX = "pb-span-"

# layer -> [(module, attribute), ...]: the name each caller looks up
PATCHES = {
    "sources": [
        ("timesearch_spark.sources.ndjson", "read_raw_file"),
        ("timesearch_spark.sources.ndjson", "classify"),
        ("timesearch_spark.sources.ndjson", "submissions_from_raw"),
        ("timesearch_spark.sources.ndjson", "comments_from_raw"),
        ("timesearch_spark.streaming.livestream", "submissions_from_raw"),
        ("timesearch_spark.streaming.livestream", "comments_from_raw"),
        ("timesearch_spark.streaming.livestream", "read_ndjson_stream"),
    ],
    "api": [
        ("timesearch_spark.api", "ingest_jsonfile"),
        ("timesearch_spark.api", "breakdown"),
        ("timesearch_spark.api", "index"),
        ("timesearch_spark.api", "offline_reading"),
    ],
    "upsert": [("timesearch_spark.streaming.store", "upsert_snapshot")],
    "exports": [
        ("timesearch_spark.operators.exports", "write_breakdown"),
        ("timesearch_spark.operators.exports", "write_index"),
        ("timesearch_spark.operators.exports", "write_thread_docs"),
        ("timesearch_spark.operators.exports", "write_thread_docs_streamed"),
        ("timesearch_spark.operators.exports", "delete_thread_pages_distributed"),
    ],
    "trees": [
        ("timesearch_spark.api", "render_thread_pages"),
        ("timesearch_spark.operators.trees", "thread_page_fragments"),
    ],
    "breakdown": [("timesearch_spark.api", "_breakdown")],
    "pipeline": [("timesearch_spark.operators.pipeline", "curate_corpus")],
    "dedup": [
        ("timesearch_spark.operators.dedup", "exact_dedup_groups"),
        ("timesearch_spark.operators.dedup", "minhash_near_dups"),
        ("timesearch_spark.operators.dedup", "connected_components"),
    ],
    "textstats": [("timesearch_spark.operators.textstats", "text_profile_table")],
}
STORE_METHODS = ["merge", "snapshot", "edits", "resume_lower_bound"]
FS_METHODS = ["ls", "exists", "rename", "delete", "mkdirs", "open_write"]


class Tracer:
    """In-memory span recorder.  ``install`` patches, ``uninstall``
    restores every patched name."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple] = []
        self._next = 0
        self.op_id: str | None = None

    # -- span stack -----------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _quiet(self) -> bool:
        return getattr(self._local, "quiet", False)

    def _jvm_call(self, fn, *args):
        """A py4j call made by the tracer itself, kept out of the counts."""
        self._local.quiet = True
        try:
            return fn(*args)
        finally:
            self._local.quiet = False

    def open(self, name: str, layer: str, job_group: bool = True) -> dict:
        stack = self._stack()
        with self._lock:
            self._next += 1
            sid = f"{GROUP_PREFIX}{self._next}"
        span = {"id": sid, "name": name, "layer": layer,
                "parent": stack[-1]["id"] if stack else None,
                "op": self.op_id, "start": time.time(), "end": None,
                "py4j": 0, "counters": {}, "prev_group": None,
                "job_group": job_group}
        if job_group:
            sc = self.spark.sparkContext
            span["prev_group"] = self._jvm_call(
                sc.getLocalProperty, "spark.jobGroup.id")
            self._jvm_call(sc.setLocalProperty, "spark.jobGroup.id", sid)
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        stack.pop()
        if span["job_group"]:
            self._jvm_call(self.spark.sparkContext.setLocalProperty,
                           "spark.jobGroup.id", span.pop("prev_group"))
        else:
            span.pop("prev_group")
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, job_group: bool = True):
        s = self.open(name, layer, job_group)
        try:
            yield s
        finally:
            self.close(s)

    # -- patching -------------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str, job_group: bool = True):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer, job_group) as s:
                out = fn(*args, **kwargs)
            if name.startswith("exports.write"):
                s["counters"]["files"] = out if isinstance(out, int) else 1
            return out

        return wrapper

    def _patch(self, owner, attr: str, name: str, layer: str,
               job_group: bool = True) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, name, layer, job_group))

    def install(self) -> None:
        import importlib

        import py4j.java_gateway as jg

        from timesearch_spark import fs
        from timesearch_spark.streaming.store import ParquetMergeStore

        for layer, targets in PATCHES.items():
            for mod, attr in targets:
                self._patch(importlib.import_module(mod), attr,
                            f"{layer}.{attr}", layer)
        for meth in STORE_METHODS:
            self._patch(ParquetMergeStore, meth, f"store.{meth}", "store")
        for meth in FS_METHODS:
            # plain local paths: no Spark jobs can start inside these
            self._patch(fs.LocalFS, meth, f"fs.{meth}", "fs", job_group=False)

        tracer = self
        orig_send = jg.GatewayClient.send_command
        self._restore.append((jg.GatewayClient, "send_command", orig_send))

        def send_command(client, *args, **kwargs):
            if not tracer._quiet():
                stack = tracer._stack()
                if stack:
                    stack[-1]["py4j"] += 1
            return orig_send(client, *args, **kwargs)

        jg.GatewayClient.send_command = send_command

    @property
    def installed(self) -> bool:
        return bool(self._restore)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


# -- event log ----------------------------------------------------------------

def _stage() -> dict:
    return {"task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "done": False}


def parse_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Jobs per span id from a Spark event log: each job's wall interval,
    completed stages, task seconds, shuffle-write and spill bytes."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # plain and rolling (eventlog_v2_*/events_N_*) layouts both hold
    # one JSON event per line
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {
                        "group": group, "start": ev["Submission Time"] / 1e3,
                        "end": None, "stages": 0, "task_s": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _stage())
                    st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    stages.setdefault(ev["Stage Info"]["Stage ID"], _stage())["done"] = True
    for sid, st in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        job["stages"] += int(st["done"])
        for k in ("task_s", "shuffle_bytes", "spill_bytes"):
            job[k] += st[k]
    by_group: dict[str, list[dict]] = {}
    for job in jobs.values():
        if job["group"] and job["group"].startswith(GROUP_PREFIX):
            if job["end"] is None:
                job["end"] = job["start"]
            by_group.setdefault(job["group"], []).append(job)
    return by_group


def _union(intervals, lo: float, hi: float) -> list[list[float]]:
    """The union of ``intervals`` clipped to [lo, hi], as disjoint
    sorted intervals."""
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    return sum(b - a for a, b in _union(intervals, lo, hi))


def span_stats(spans: list[dict], jobs_by_group: dict[str, list[dict]]) -> list[dict]:
    """Per span: duration, self time (minus child spans), own jobs and
    their stages/task time/bytes, and driver time (self time not covered
    by its own jobs: construction plus the planning gaps)."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        self_s = dur - covered(kids, s["start"], s["end"])
        jobs = jobs_by_group.get(s["id"], [])
        job_iv = [(j["start"], j["end"]) for j in jobs]
        # a job interval overlapping a child span is the child's wait,
        # not this span's: measure job cover on the self intervals only
        job_self = covered(job_iv, s["start"], s["end"]) - sum(
            covered(job_iv, a, b) for a, b in _union(kids, s["start"], s["end"]))
        out.append({
            **{k: s[k] for k in ("id", "name", "layer", "start", "end", "parent",
                                 "op", "py4j")},
            "counters": s["counters"], "dur_s": dur, "self_s": self_s,
            "driver_s": max(0.0, self_s - job_self), "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "task_s": sum(j["task_s"] for j in jobs),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        })
    return out


def layer_totals(stats: list[dict]) -> dict[str, dict]:
    """Sum of span stats per layer (calls, self/driver/task seconds,
    jobs, shuffle bytes, py4j round trips)."""
    out: dict[str, dict] = {}
    keys = ("self_s", "driver_s", "jobs", "task_s", "shuffle_bytes", "py4j")
    for s in stats:
        t = out.setdefault(s["layer"], {k: 0 for k in keys} | {"calls": 0})
        t["calls"] += 1
        for k in keys:
            t[k] += s[k]
    return out
