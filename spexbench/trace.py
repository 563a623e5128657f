"""Span recorder that wraps calls into the package's layers, and the Spark
event-log reader that attributes jobs and tasks to those spans.

A span is (id, parent, trace id, name, start, end). Entering a span sets the
Spark job group to the span id, so every job the span launches attributes to
the innermost open span. A wrapped function that only builds a lazy plan has
its result materialized (persist + count) inside its span, so the layer's
work lands in its own span rather than in whichever later action consumes
it. Those caches belong to the tracer and are released after the pass; the
difference between a traced and an untraced pass is reported as the tracing
overhead.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Dict, Iterable, Iterator, List, Optional

PKG = "jarvis_ocr_service_spark"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex
        self.spans: List[Dict] = []
        self._stack: List[Dict] = []
        self._owned: List = []
        self._restore: List[Callable[[], None]] = []

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans) + 1,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]['id']}", self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def inside(self, prefix: str) -> bool:
        return any(s["name"].startswith(prefix) for s in self._stack)

    def materialize(self, df, rec: Dict):
        from pyspark import StorageLevel

        df.persist(StorageLevel.MEMORY_AND_DISK)
        self._owned.append(df)
        rec["rows"] = df.count()
        return df

    def release(self) -> None:
        for df in self._owned:
            df.unpersist()
        self._owned.clear()

    # -- wrapping ------------------------------------------------------------

    def patch(self, owner, attr: str, make: Callable[[Callable], Callable]) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._restore.append(lambda: setattr(owner, attr, orig))

    def wrap(self, module: str, fn: str, name: str, materialize: bool = False) -> None:
        def make(orig):
            def traced(*args, **kwargs):
                with self.span(name) as rec:
                    out = orig(*args, **kwargs)
                    if materialize:
                        out = self.materialize(out, rec)
                    return out

            return traced

        self.patch(importlib.import_module(f"{PKG}.{module}"), fn, make)

    def unpatch(self) -> None:
        while self._restore:
            self._restore.pop()()

    # -- results -------------------------------------------------------------

    def named(self, name: str) -> List[Dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> Dict[int, float]:
        """Span duration minus the part its children cover (children of one
        span never overlap: calls are synchronous)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

MB = 1 << 20


_KEPT = ("SparkListenerJobStart", "SparkListenerTaskEnd", "SparkListenerStageCompleted")


def read_event_log(log_dir: str) -> Iterator[Dict]:
    """The job, task and stage events of the one application log in
    ``log_dir``; the (large) SQL plan events are skipped unparsed."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    markers = tuple(f'"Event":"{k}"' for k in _KEPT)
    with open(files[0]) as f:
        for line in f:
            if line.startswith(markers, 1):
                yield json.loads(line)


class EventLog:
    """Jobs, stages and tasks keyed by the span whose job group ran them."""

    def __init__(self, events: Iterable[Dict]):
        self.job_span: Dict[int, Optional[int]] = {}
        self.stage_span: Dict[int, Optional[int]] = {}
        self.tasks: Dict[int, List[Dict]] = defaultdict(list)  # stage -> task records
        self.stage_acc: Dict[int, Dict[str, float]] = {}
        self.stage_wall: Dict[int, float] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                sid = int(group[5:]) if group.startswith("span-") else None
                self.job_span[e["Job ID"]] = sid
                for st in e.get("Stage IDs", []):
                    self.stage_span.setdefault(st, sid)
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                self.tasks[e["Stage ID"]].append(
                    {
                        "ms": info["Finish Time"] - info["Launch Time"],
                        "failed": bool(info.get("Failed")) or e["Task End Reason"]["Reason"] != "Success",
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    }
                )
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc = {}
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
                self.stage_acc[info["Stage ID"]] = acc
                if info.get("Submission Time") and info.get("Completion Time"):
                    self.stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    ) / 1000

    def engine(self, span_ids) -> Dict[str, float]:
        span_ids = set(span_ids)
        stages = [st for st, sid in self.stage_span.items() if sid in span_ids]
        tasks = [t for st in stages for t in self.tasks.get(st, [])]
        return {
            "jobs": sum(1 for sid in self.job_span.values() if sid in span_ids),
            "tasks": len(tasks),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
            "spill_mb": sum(t["spill"] for t in tasks) / MB,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "failed_tasks": sum(t["failed"] for t in tasks),
        }

    def python_stage(self, span_ids) -> Optional[int]:
        """The stage under these spans that shipped the most bytes to
        Python workers."""
        span_ids = set(span_ids)
        best, best_sent = None, -1.0
        for st, sid in self.stage_span.items():
            sent = self.stage_acc.get(st, {}).get("data sent to Python workers", -1.0)
            if sid in span_ids and sent > best_sent:
                best, best_sent = st, sent
        return best

    def udf_stage_metrics(self, stage: int, cores: int) -> Dict[str, float]:
        acc = self.stage_acc.get(stage, {})
        ms = [t["ms"] for t in self.tasks.get(stage, [])]
        wall = self.stage_wall.get(stage, 0.0)
        return {
            "arrow_in_mb": acc.get("data sent to Python workers", 0.0) / MB,
            "arrow_out_mb": acc.get("data returned from Python workers", 0.0) / MB,
            "task_skew": max(ms) / statistics.median(ms) if ms and statistics.median(ms) else 0.0,
            "core_busy_frac": sum(ms) / 1000 / (wall * cores) if wall else 0.0,
        }
