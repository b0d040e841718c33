"""Spans around the engine's public functions, Spark event-log attribution
and storage counters read from the table directories.

Everything here sits outside the engine: spans are recorded by wrapping
module attributes from the benchmark's side, each span tags the Spark jobs
its thread submits through ``spark.job.description``, and the event log
written by Spark is parsed after the session stops to give every span its
jobs, stages, tasks and executor time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

DESC_KEY = "spark.job.description"
TAG = "perfbench-span:"

# Per-task counters summed per span: (output name, Task Metrics key, scale).
TASK_COUNTERS = (
    ("executor_run_ms", "Executor Run Time", 1.0),
    ("executor_cpu_ms", "Executor CPU Time", 1e-6),
    ("gc_ms", "JVM GC Time", 1.0),
    ("spill_bytes", "Disk Bytes Spilled", 1.0),
)
PYTHON_RUN = "time to run Python workers"
PYTHON_START = "time to start Python workers"


class Tracer:
    """Records spans (name, id, parent, thread, start, end) in memory.

    A disabled tracer turns ``span`` into a no-op and ``wrap`` into nothing,
    so the end-to-end runs pay no tracing cost.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._section: dict | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, section: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._section
        with self._lock:
            sp = {"id": len(self.spans), "name": name,
                  "parent": parent["id"] if parent else None,
                  "thread": threading.get_ident(), "start": time.time(),
                  "end": None}
            self.spans.append(sp)
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, f"{TAG}{sp['id']}")
        stack.append(sp)
        if section:
            self._section = sp
        try:
            yield
        finally:
            stack.pop()
            self.sc.setLocalProperty(DESC_KEY, prev)
            sp["end"] = time.time()
            if section:
                self._section = None

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span per call.
        ``name`` is a string or a function of the call's arguments."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def spans_named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def section(self, name: str) -> dict | None:
        for s in self.spans:
            if s["name"] == name and s["parent"] is None:
                return s
        return None

    def descendants(self, root: dict) -> set[int]:
        ids = {root["id"]}
        for s in self.spans:  # parents always precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_seconds(self, sp: dict) -> float:
        """Span duration minus the union of its direct children's intervals."""
        kids = sorted(
            (max(c["start"], sp["start"]), min(c["end"], sp["end"]))
            for c in self.spans if c["parent"] == sp["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered


class EventLog:
    """Per-job and per-stage counters parsed from one application's event
    log (uncompressed JSON lines, as written with
    ``spark.eventLog.compress=false``)."""

    def __init__(self, log_dir: str):
        # rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>, in order of n
        files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        # single-file logs: <dir>/<app>
        files += [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        # job id -> {"span": int | None, "submit_ms": int}
        self.jobs: dict[int, dict] = {}
        # stage id -> span id or None (from the submitting job's properties)
        self.stage_span: dict[int, int | None] = {}
        self.stage_submit_ms: dict[int, int] = {}
        # stage id -> summed counters
        self.stage_counters: dict[int, dict[str, float]] = {}
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    @staticmethod
    def _span_of(props: dict | None) -> int | None:
        desc = (props or {}).get(DESC_KEY) or ""
        return int(desc[len(TAG):]) if desc.startswith(TAG) else None

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "span": self._span_of(ev.get("Properties")),
                "submit_ms": ev.get("Submission Time", 0),
            }
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            self.stage_span[sid] = self._span_of(ev.get("Properties"))
            self.stage_submit_ms[sid] = ev["Stage Info"].get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            c = self.stage_counters.setdefault(ev["Stage ID"], {"tasks": 0.0})
            c["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            for out, key, scale in TASK_COUNTERS:
                c[out] = c.get(out, 0.0) + tm.get(key, 0) * scale
            sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0.0) + sw
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in (PYTHON_RUN, PYTHON_START):
                    key = "python_run_ms" if acc["Name"] == PYTHON_RUN else "python_start_ms"
                    try:
                        c[key] = c.get(key, 0.0) + float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass

    def counters(self, span_ids: set[int], start: float, end: float,
                 with_untagged: bool) -> dict[str, float]:
        """Sum over jobs/stages tagged with one of ``span_ids``; with
        ``with_untagged``, also over untagged work submitted in
        [start, end] (reported separately as ``unattributed_jobs``)."""
        lo, hi = start * 1000.0, end * 1000.0

        def mine(span, submit_ms):
            if span is not None:
                return span in span_ids
            return with_untagged and lo <= submit_ms <= hi

        out = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0, "unattributed_jobs": 0.0,
               "shuffle_write_bytes": 0.0, "python_run_ms": 0.0,
               "python_start_ms": 0.0}
        for name, _, _ in TASK_COUNTERS:
            out[name] = 0.0
        for job in self.jobs.values():
            if mine(job["span"], job["submit_ms"]):
                out["jobs"] += 1
                if job["span"] is None:
                    out["unattributed_jobs"] += 1
        for sid, span in self.stage_span.items():
            if not mine(span, self.stage_submit_ms.get(sid, 0)):
                continue
            out["stages"] += 1
            for k, v in self.stage_counters.get(sid, {}).items():
                out[k] = out.get(k, 0.0) + v
        return out


def dir_files(path: str) -> dict[str, int]:
    """Regular files under ``path`` → size in bytes."""
    out = {}
    for dp, _, fns in os.walk(path):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def bucket_dirs(snap: dict | None) -> dict[str, set]:
    """bucket -> set of live data dirs in one snapshot's bucket map."""
    if not snap:
        return {}
    out = {}
    for b, v in (snap.get("buckets") or {}).items():
        out[b] = set(v) if isinstance(v, list) else {v}
    return out


class TableWatch:
    """Before/after view of one graph table: files and bytes written, and
    buckets rewritten vs appended between two committed snapshots."""

    def __init__(self, materialize, path: str):
        self.m = materialize
        self.path = path
        self.files0 = dir_files(path)
        snaps = materialize.snapshots(path) if os.path.isdir(path) else []
        self.snap0 = snaps[-1] if snaps else None

    def delta(self) -> dict[str, float]:
        files1 = dir_files(self.path)
        new = {p: s for p, s in files1.items()
               if p not in self.files0 and p.endswith(".parquet")}
        snaps = self.m.snapshots(self.path) if os.path.isdir(self.path) else []
        snap1 = snaps[-1] if snaps else None
        before, after = bucket_dirs(self.snap0), bucket_dirs(snap1)
        rewritten = appended = 0
        for b, dirs in after.items():
            old = before.get(b, set())
            if dirs == old:
                continue
            if old and not old <= dirs:
                rewritten += 1
            else:
                appended += 1
        return {
            "files_written": float(len(new)),
            "bytes_written": float(sum(new.values())),
            "buckets_rewritten": float(rewritten),
            "buckets_appended": float(appended),
            "snapshot_before": (self.snap0 or {}).get("snapshot_id", 0),
        }
