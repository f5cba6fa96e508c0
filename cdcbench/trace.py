"""Tracing for the per-layer run: spans around calls into each engine layer,
Spark's own stage counters attributed to them, and streaming durations.

A span records name, layer, start, end, parent span and run id. Each span
tags the Spark jobs it starts with ``setJobGroup("cdcbench-<id>")``, so the
per-stage task metrics that Spark's REST API reports can be summed per span
afterwards. Spans and counts stay in memory until the run ends.

Spans come from the benchmark's own files: call sites in the workloads, plus
wrappers installed over the engine's module attributes for calls the engine
makes internally (``apply_epoch``, ``stage_multicast_delta``, manifest
commits). Nothing in the engine changes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "cdcbench-"


class NullTracer:
    """Tracing off: the timed runs use this."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        yield None

    @contextlib.contextmanager
    def fallback(self, rec):
        yield


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = True
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened on threads the engine starts (replay's epoch
        # pool, the streaming callback thread), which have no stack of their own
        self._fallback: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans) + 1
            rec = {
                "id": sid,
                "name": name,
                "layer": layer,
                "parent": stack[-1] if stack else self._fallback,
                "run": self.run_id,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    @contextlib.contextmanager
    def fallback(self, rec):
        """Make ``rec`` the parent of spans opened on engine-started threads."""
        saved, self._fallback = self._fallback, rec["id"] if rec else None
        try:
            yield
        finally:
            self._fallback = saved


def install_wrappers(tracer) -> None:
    """Wrap, for the rest of the process, the engine entry points the
    pipeline calls internally."""
    from data_exchange_routing_spark import pipeline
    from data_exchange_routing_spark.lake.table import LakeTable
    from data_exchange_routing_spark.streaming import ingest

    def wrap(fn, name, layer):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with tracer.span(name, layer):
                return fn(*a, **kw)

        return inner

    targets = [
        (pipeline, "apply_epoch", "pipeline.apply_epoch", "pipeline"),
        (ingest, "apply_epoch", "pipeline.apply_epoch", "pipeline"),
        (pipeline, "stage_multicast_delta", "lake.stage_multicast_delta", "lake"),
        (LakeTable, "commit_staged_files", "lake.commit_staged_files", "lake"),
        (LakeTable, "append_rows", "lake.append_rows", "lake"),
    ]
    for owner, attr, name, layer in targets:
        setattr(owner, attr, wrap(owner.__dict__[attr], name, layer))


class ProgressListener(StreamingQueryListener):
    """Benchmark-owned listener: one record per streaming micro-batch."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def batches_of(self, run_id: str, timeout_s: float = 10.0) -> list[dict]:
        """Progress records of one query run (listener delivery is async)."""
        deadline = time.time() + timeout_s
        while True:
            with self._lock:
                got = [p for p in self.progress if p["run_id"] == run_id]
            if got or time.time() > deadline:
                return got
            time.sleep(0.05)


# ---------------------------------------------------------------- REST read


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str | None) -> float | None:
    # REST timestamps look like 2026-01-01T00:00:00.000GMT
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


def fetch_jobs_and_stages(sc, settle_s: float = 30.0) -> tuple[list, dict]:
    """All jobs and {stageId: summed attempt metrics}, once the UI's
    listener has caught up (no job left running, two equal reads)."""
    deadline = time.time() + settle_s
    last = None
    while True:
        jobs = _rest(sc, "jobs")
        sig = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
        if (sig == last and sig[1] == 0) or time.time() > deadline:
            break
        last = sig
        time.sleep(0.5)
    stages: dict[int, dict] = {}
    for s in _rest(sc, "stages"):
        agg = stages.setdefault(s["stageId"], {k: 0 for k in STAGE_FIELDS})
        for k in STAGE_FIELDS:
            agg[k] += s.get(k, 0) or 0
    return jobs, stages


STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "inputRecords",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanIndex:
    """Spans joined with the Spark jobs and stage counters they caused."""

    def __init__(self, spans: list[dict], jobs: list, stages: dict, group_alias: dict[str, int]):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_of: dict[int, list[dict]] = {}
        for j in jobs:
            g = j.get("jobGroup") or ""
            sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else group_alias.get(g)
            if sid in self.spans:
                self.jobs_of.setdefault(sid, []).append(j)
        self.stages = stages

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def jobs(self, sid: int) -> list[dict]:
        return [j for s in self.subtree(sid) for j in self.jobs_of.get(s, [])]

    def counters(self, sid: int) -> dict:
        tot = {k: 0 for k in STAGE_FIELDS}
        seen = set()
        for j in self.jobs(sid):
            for st in j.get("stageIds", []):
                if st in seen or st not in self.stages:
                    continue
                seen.add(st)
                for k in STAGE_FIELDS:
                    tot[k] += self.stages[st][k]
        tot["jobs"] = len(self.jobs(sid))
        return tot

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return (s["end"] or s["start"]) - s["start"]

    def job_covered(self, sid: int) -> float:
        s = self.spans[sid]
        iv = []
        for j in self.jobs(sid):
            a, b = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
            if a is not None and b is not None:
                iv.append((a, b))
        return _union_len(iv, s["start"], s["end"] or s["start"])

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"] or self.spans[c]["start"]) for c in self.children.get(sid, [])]
        return self.duration(sid) - _union_len(kids, s["start"], s["end"] or s["start"])

    def named(self, name: str) -> list[int]:
        return [sid for sid, s in self.spans.items() if s["name"] == name]

    def self_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for sid, s in self.spans.items():
            out[s["layer"]] = out.get(s["layer"], 0.0) + self.self_time(sid)
        return out


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default
