"""Layer spans and Spark event-log attribution for the traced run.

A :class:`Tracer` records one span per call into a layer, made from the
benchmark's own code around the program's public functions. Each span tags
the Spark jobs started inside it with its own job group
(``sparkContext.setJobGroup``), so once the session has stopped and the
event log is complete, :func:`harvest` can attribute every job, stage,
task, shuffle byte and spilled byte to the innermost span that caused it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"
_COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes")


def event_log_conf(event_dir: str) -> dict[str, str]:
    """Session settings that write an uncompressed event log to ``event_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file:{event_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans kept in memory; :meth:`spans_with_counts` joins them with the
    event log after the session has stopped."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["layer"])
        else:
            self._sc.setLocalProperty(_GROUP_KEY, None)

    @contextmanager
    def span(self, layer: str, **attrs):
        """Time the enclosed calls as one span of ``layer``; jobs started
        inside (and outside any nested span) are tagged with it."""
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def spans_with_counts(self, event_dir: str) -> list[dict]:
        """Spans with their self time and the Spark work tagged to them."""
        by_group = harvest(read_event_log(event_dir))
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["seconds"]
        out = []
        for s in self.spans:
            counts = by_group.get(f"span-{s['id']}", {})
            out.append({
                **s,
                "self_seconds": s["seconds"] - child_s[s["id"]],
                **{k: counts.get(k, 0) for k in _COUNTERS},
            })
        return out


def read_event_log(event_dir: str) -> list[dict]:
    """Every event of every log file under ``event_dir``."""
    events = []
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _acc(stage_info: dict, name: str) -> int:
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            return int(a.get("Value") or 0)
    return 0


def harvest(events: list[dict]) -> dict[str, dict[str, int]]:
    """Per job group: jobs started, stages and tasks completed, and the
    stages' input, shuffle and spill bytes. Jobs and stages carry the job
    group of the thread that submitted them in their properties."""
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(_COUNTERS, 0))
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        group = (ev.get("Properties") or {}).get(_GROUP_KEY)
        if kind == "SparkListenerJobStart" and group:
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted" and group:
            stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            group = stage_group.get(si["Stage ID"])
            if group is None:
                continue
            c = out[group]
            c["stages"] += 1
            c["tasks"] += si["Number of Tasks"]
            c["input_bytes"] += _acc(si, "internal.metrics.input.bytesRead")
            c["shuffle_write_bytes"] += _acc(
                si, "internal.metrics.shuffle.write.bytesWritten")
            c["shuffle_read_bytes"] += _acc(
                si, "internal.metrics.shuffle.read.localBytesRead"
            ) + _acc(si, "internal.metrics.shuffle.read.remoteBytesRead")
            c["spill_bytes"] += _acc(si, "internal.metrics.memoryBytesSpilled")
    return dict(out)


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Self time, span count and Spark counters summed per layer."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "self_seconds": 0.0, **dict.fromkeys(_COUNTERS, 0)}
    )
    for s in spans:
        t = out[s["layer"]]
        t["calls"] += 1
        t["self_seconds"] += s["self_seconds"]
        for k in _COUNTERS:
            t[k] += s[k]
    return dict(out)
