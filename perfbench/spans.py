"""Spans recorded around calls into the engine, and Spark task metrics
read back from a per-run event log.

Spans are kept in memory and written out once, when the run ends. A
span may carry a Spark job group: while it is open, every job the
driver submits is tagged with that group, so the event log can be cut
by operator call afterwards.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

ENGINE_COUNTERS = (
    "jobs", "tasks", "task_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "result_bytes",
)


class Tracer:
    """Span recorder. ``sc`` is set only in a traced run; it is used to
    tag the Spark jobs of a span with the span's job group."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        if group is not None:
            rec["group"] = group
        self.spans.append(rec)
        self._open.append(rec["id"])
        tag = self.sc is not None and group is not None
        if tag:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()
            if tag:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def seconds(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: job and task counts, executor run time and the
    shuffle and result bytes of every task of the group's jobs."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(ENGINE_COUNTERS, 0)
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                g = out[group]
                g["tasks"] += 1
                g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                sr = tm.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["result_bytes"] += tm.get("Result Size", 0)
    return dict(out)
