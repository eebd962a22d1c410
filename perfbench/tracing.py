"""Spans around the engine's public functions, and Spark's event log.

The traced run wraps each layer's public entry points from here — the
program is not edited. A span records name, start, end and parent; the
span id also goes into the Spark local property ``perfbench.span`` of the
calling thread, so every Spark job names the span that launched it. The
event log then gives each job's stages: task count, executor time, GC,
shuffle and output bytes, spill, and whether the stage scans files.

Spark is lazy: ``read_batch``, ``last_writer_wins``, ``normalize_events``
and ``change_winners_to_meds`` only build a plan, and their executor work
runs inside the commit's write. Their spans measure planning; executor
work is split by event-log stage instead.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from pathlib import Path

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.active = False
        self._stacks: dict[int, list[dict]] = {}
        self._lock = threading.Lock()
        self._main = threading.main_thread().ident

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        """Replace ``owner.attr`` with a spanned twin. ``note(args,
        result)`` may return a dict stored on the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if note is not None:
                    span["note"] = note(args, out)
                return out
            finally:
                self.close(span)

        setattr(owner, attr, spanned)

    def open(self, name: str) -> dict:
        ident = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(ident, [])
            parent = stack[-1] if stack else (
                (self._stacks.get(self._main) or [None])[-1])
            span = {"id": len(self.spans), "name": name,
                    "parent": parent["id"] if parent else None,
                    "start": time.time(), "end": None}
            self.spans.append(span)
            stack.append(span)
        self.sc.setLocalProperty(SPAN_PROP, str(span["id"]))
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        with self._lock:
            stack = self._stacks[threading.get_ident()]
            stack.pop()
            up = stack[-1]["id"] if stack else None
        self.sc.setLocalProperty(SPAN_PROP, None if up is None else str(up))

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def subtree_ids(self, span: dict, kids=None) -> set[int]:
        kids = self.children() if kids is None else kids
        ids, todo = set(), [span]
        while todo:
            s = todo.pop()
            ids.add(s["id"])
            todo.extend(kids.get(s["id"], []))
        return ids

    def self_times(self) -> dict[str, float]:
        """Per span name, total duration minus the part of it that child
        spans cover (children in other threads overlap; their union
        counts once)."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = union_length(
                [(max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"]))
                 for c in kids.get(s["id"], [])])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.output.bytesWritten": "out_bytes",
}


class EventLog:
    """Jobs and completed stages from one application's event log."""

    def __init__(self, log_dir: Path):
        self.jobs: dict[int, dict] = {}
        self._stage_job: dict[int, int] = {}
        for ev in _events(log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self._job_start(ev)
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                self._stage_done(ev["Stage Info"])

    def _job_start(self, ev: dict) -> None:
        jid = ev["Job ID"]
        span = (ev.get("Properties") or {}).get(SPAN_PROP)
        self.jobs[jid] = {"id": jid, "span": int(span) if span else None,
                          "submit": ev["Submission Time"] / 1000, "end": None,
                          "stages": []}
        for sid in ev["Stage IDs"]:
            self._stage_job.setdefault(sid, jid)

    def _stage_done(self, info: dict) -> None:
        st = {k: 0 for k in set(_ACC.values())}
        st["id"] = info["Stage ID"]
        st["tasks"] = info["Number of Tasks"]
        st["file_scan"] = any(r.get("Name") == "FileScanRDD"
                              for r in info.get("RDD Info", []))
        for acc in info.get("Accumulables", []):
            key = _ACC.get(acc.get("Name"))
            if key:
                st[key] += int(acc["Value"])
        jid = self._stage_job.get(st["id"])
        if jid is not None:
            self.jobs[jid]["stages"].append(st)

    def jobs_of(self, span_ids: set[int]) -> list[dict]:
        return [j for j in self.jobs.values() if j["span"] in span_ids]


def stage_sum(jobs: list[dict], key: str, where=None) -> int:
    return sum(st[key] for j in jobs for st in j["stages"]
               if where is None or where(st))


def _events(log_dir: Path):
    """Every event of the one application logged under ``log_dir``; Spark
    4 rolls the log into ``events_<n>_<app>`` files inside a directory."""
    files = [p for p in Path(log_dir).rglob("events_*") if p.is_file()]
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    for fp in sorted(files, key=lambda p: int(p.name.split("_")[1])):
        with open(fp) as f:
            for line in f:
                yield json.loads(line)
