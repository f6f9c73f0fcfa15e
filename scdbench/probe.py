"""The traced run's instruments, all outside the engine.

``Tracer.span(name)`` wraps one public call. Inside it the call runs under
a Spark job group of its own; on exit the tracer waits for Spark's
listener bus to drain, then reads that group's jobs and stages from the
UI REST API and walks the store tree for the files the call wrote. Counts
are read per call, never at run end, because the UI keeps only about a
thousand jobs. Spans stay in memory until the run ends."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import time
import urllib.request

STAGE_FIELDS = {  # REST stage field -> counter name
    "numCompleteTasks": "tasks",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
}


def _rest_time(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """``path -> (size, mtime_ns)`` of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with contextlib.suppress(FileNotFoundError):
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int, set[str]]:
    """Files and bytes that are new or changed in ``after``, and the
    bucket directories (``<table>/v…/_bucket=K``) that received data."""
    new = [p for p, s in after.items() if before.get(p) != s]
    buckets = {os.path.dirname(p) for p in new
               if os.path.basename(os.path.dirname(p)).startswith("_bucket=")
               and p.endswith(".parquet")}
    return len(new), sum(after[p][0] for p in new), buckets


class Tracer:
    """Spans with per-call Spark counters. ``enabled=False`` keeps the
    call sites identical and records nothing but wall time."""

    def __init__(self, spark, store_root: str | None, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.probe_s = 0.0
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._store_root = store_root
        if enabled:
            self._bus = self._sc._jsc.sc().listenerBus()
            self._url = (f"{self._sc.uiWebUrl}/api/v1/applications/"
                         f"{self._sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._url + path, timeout=30) as r:
            return json.load(r)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one call. Yields the span dict; the caller may add
        attributes to it."""
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None, **attrs}
        self.spans.append(sp)
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield sp
            finally:
                sp["dur"] = time.perf_counter() - t0
            return
        p0 = time.perf_counter()
        before = tree_state(self._store_root) if self._store_root else None
        group = f"scdbench-{sp['id']}"
        self._sc.setJobGroup(group, name)
        self._stack.append(sp)
        self.probe_s += time.perf_counter() - p0
        sp["probe0"] = self.probe_s
        t0 = time.perf_counter()
        wall0 = time.time()
        try:
            yield sp
        except Exception as e:
            sp["error"] = type(e).__name__
            raise
        finally:
            dur = time.perf_counter() - t0
            # Probe work done by child spans is not part of this call.
            sp["child_probe_s"] = self.probe_s - sp.pop("probe0")
            sp["dur"] = dur - sp["child_probe_s"]
            p0 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"scdbench-{parent['id']}", parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._collect(sp, group, wall0, wall0 + dur)
            if before is not None:
                files, nbytes, buckets = written(before,
                                                 tree_state(self._store_root))
                sp.update(files_written=files, bytes_written=nbytes,
                          buckets_written=len(buckets))
            self.probe_s += time.perf_counter() - p0

    def _collect(self, sp: dict, group: str, t0: float, t1: float) -> None:
        self._bus.waitUntilEmpty()
        ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        c = {"jobs": len(ids), "stages": 0, "skipped_stages": 0,
             **{v: 0 for v in STAGE_FIELDS.values()}}
        intervals, stages = [], set()
        for j in ids:
            job = self._get(f"/jobs/{j}")
            c["stages"] += job["numCompletedStages"]
            c["skipped_stages"] += job["numSkippedStages"]
            intervals.append((_rest_time(job["submissionTime"]),
                              _rest_time(job["completionTime"])))
            stages.update(job["stageIds"])
        for s in sorted(stages):
            for att in self._get(f"/stages/{s}"):
                if att["status"] == "COMPLETE":
                    for k, v in STAGE_FIELDS.items():
                        c[v] += att.get(k, 0)
        c["job_intervals"] = [(max(a, t0), min(b, t1)) for a, b in intervals]
        sp.update(c, t0=t0, t1=t1)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover (children
    of one call run one after another, so their durations add)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur"]
    return {s["id"]: s["dur"] - child.get(s["id"], 0.0) for s in spans}


def driver_seconds(spans: list[dict], root: dict) -> float:
    """Wall time of ``root`` during which no job of it or of a span below
    it was running: plan building, file listing and driver-side loops."""
    below, ivs = {root["id"]}, []
    for s in spans[root["id"]:]:
        if s["id"] in below or s["parent"] in below:
            below.add(s["id"])
            ivs += [(a, b) for a, b in s.get("job_intervals", ()) if b > a]
    return max(0.0, root["t1"] - root["t0"] - root["child_probe_s"]
               - _union_seconds(ivs))


def inclusive(spans: list[dict], key: str) -> dict[int, float]:
    """A counter summed over each span and all its descendants (a job
    belongs to the innermost span whose group it ran under)."""
    total = {s["id"]: s.get(key, 0) for s in spans}
    for s in reversed(spans):   # children are recorded after their parent
        if s["parent"] is not None:
            total[s["parent"]] += total[s["id"]]
    return total
