"""In-memory spans for the traced run, plus the two outside sources of
child spans and counters: the kernel's per-rank timing logs
(``runlog.timed_kernel``) and the Spark event log, where each layer's
jobs carry the layer name as their job group.

Spans are recorded around public calls from the benchmark's side only;
nothing is added inside the program.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    search_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (wall-clock seconds since the epoch, the clock the
    rank logs use) and tags Spark jobs with the open layer's name."""

    def __init__(self, search_id: str, spark=None):
        self.search_id = search_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.time(), 0.0, parent,
                               self.search_id))
        self._stack.append(sid)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid].end = time.time()
            self._stack.pop()
            if self.spark is not None:
                outer = (self.spans[self._stack[-1]].name if self._stack
                         else "bench")
                self.spark.sparkContext.setJobGroup(outer, outer)

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> None:
        self.spans.append(Span(len(self.spans), name, start, end, parent,
                               self.search_id))

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of its interval that the
        union of its children covers."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {s.span_id: s.duration - covered(s, kids.get(s.span_id, []))
                for s in self.spans}

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        doc = {"spans": [dict(asdict(s), self_s=selfs[s.span_id])
                         for s in self.spans], **extra}
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=1)
        os.replace(tmp, path)


def covered(span: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to the
    span."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                 for c in children)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
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


def kernel_calls(rows) -> list[dict]:
    """Pair the 'blast call starts'/'ends' lines of each rank (rows of
    ``runlog.read_run_logs``; calls within one worker are sequential)
    into one record per kernel call."""
    by_rank: dict[str, list] = {}
    for r in rows:
        by_rank.setdefault(r["rank"], []).append(r)
    calls = []
    for lines in by_rank.values():
        lines.sort(key=lambda r: (r["wtime"],
                                  r["event"] != "blast call starts"))
        start = None
        for r in lines:
            if r["event"] == "blast call starts":
                start = r
            elif r["event"] == "blast call ends" and start is not None:
                detail = r["detail"].split(",")
                calls.append({
                    "start": start["wall_us"] / 1e6,
                    "end": r["wall_us"] / 1e6,
                    "busy_s": float(detail[0]),
                    "raw_hits": int(detail[-1].split("=")[1]),
                })
                start = None
    return calls


def event_log_counters(event_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: jobs, tasks, shuffle bytes written and bytes
    spilled (memory + disk), from the uncompressed Spark event log(s)
    in ``event_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = {}

    def bucket(group: str) -> dict[str, int]:
        return out.setdefault(group, {"jobs": 0, "tasks": 0,
                                      "shuffle_write_bytes": 0,
                                      "spill_bytes": 0})

    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(p for p in glob.glob(os.path.join(event_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p)
                   and not os.path.basename(p).startswith("appstatus"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "untagged"
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "untagged")
                    b = bucket(group)
                    b["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["shuffle_write_bytes"] += int(
                        (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0))
                    b["spill_bytes"] += int(m.get("Memory Bytes Spilled", 0)
                                            + m.get("Disk Bytes Spilled", 0))
    return out
