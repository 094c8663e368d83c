"""Spans recorded around calls into the program, and the folding of
Spark's own records (event log, streaming progress) into per-layer
metrics.

Spans are kept in memory and written out once, when the run ends. Times
are wall-clock epoch seconds so they line up with the event log's
millisecond timestamps.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans for one run; ``trace_id`` ties them together."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "spans": [
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                        for i, s in enumerate(self.spans)
                    ],
                },
                fh,
            )


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def _inside(t: float, intervals: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in intervals)


def _clip(a: float, b: float, intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    return [(max(a, x), min(b, y)) for x, y in intervals if max(a, x) < min(b, y)]


@dataclass
class EventLog:
    """The records of one uncompressed Spark event log that matter here.

    Jobs are selected by submission time; their stages and tasks follow
    by membership, so work a job does after its interval ends is still
    its own."""

    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)  # completed only
    tasks: dict[int, list[dict]] = field(default_factory=dict)  # by stage
    progress: list[dict] = field(default_factory=list)

    @classmethod
    def read(cls, paths: list[str]) -> "EventLog":
        log = cls()
        for line in _lines(paths):
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                log.stages[info["Stage ID"]] = {"tasks": info["Number of Tasks"]}
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                log.tasks.setdefault(ev["Stage ID"], []).append({
                    "failed": bool(info.get("Failed")),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "in": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                log.progress.append(ev["progress"])
        return log

    def jobs_inside(self, intervals: list[tuple[float, float]]) -> list[dict]:
        return [j for j in self.jobs.values() if _inside(j["start"], intervals)]

    def spark_metrics(
        self, intervals: list[tuple[float, float]], cores: int
    ) -> dict[str, float]:
        """``spark.*`` over the jobs submitted inside ``intervals`` (the
        timed calls); out-of-job time is the intervals' total minus the
        part of them some job covers."""
        jobs = self.jobs_inside(intervals)
        covered = []
        for j in jobs:
            covered += _clip(j["start"], j["end"] or j["start"], intervals)
        active = _union_s(covered)
        stage_ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        run_s = sum(t["run_ms"] for t in tasks) / 1000
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stage_ids),
            "spark.tasks": len(tasks),
            "spark.single_task_stages": sum(
                1 for s in stage_ids if self.stages[s]["tasks"] == 1
            ),
            "spark.failed_tasks": sum(1 for t in tasks if t["failed"]),
            "spark.job_active_s": active,
            "spark.out_of_job_s": max(0.0, _union_s(intervals) - active),
            "spark.exec_run_s": run_s,
            "spark.exec_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.core_util": run_s / (active * cores) if active > 0 else 0.0,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "spark.input_bytes": sum(t["in"] for t in tasks),
            "spark.output_bytes": sum(t["out"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
        }

    def progress_inside(self, intervals: list[tuple[float, float]]) -> list[dict]:
        from datetime import datetime

        def epoch(p: dict) -> float:
            return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

        return [p for p in self.progress if _inside(epoch(p), intervals)]


STREAM_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}


def _input_rows(progress: dict) -> int:
    return sum(src.get("numInputRows", 0) for src in progress.get("sources", []))


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Fold ``StreamingQueryProgress`` records, as the event log holds
    them (input rows per source, phase times in ``durationMs``)."""
    out: dict[str, float] = {
        "streaming.batches": len(progress),
        "streaming.empty_batches": sum(1 for p in progress if not _input_rows(p)),
        "streaming.input_rows": sum(_input_rows(p) for p in progress),
    }
    for metric, phase in STREAM_PHASES.items():
        out[metric] = sum((p.get("durationMs") or {}).get(phase, 0) for p in progress) / 1000
    return out
