"""Spans around engine calls, and their Spark cost read back from the event log.

The benchmark opens a span around each call it makes into a layer's
public function (``<module>.<function>``). Each span also sets a
Spark job group, so jobs submitted from the calling thread carry the
span's id. Jobs submitted from the engine's own writer threads
(``threading.Thread`` in build and merge) do not inherit it, so every
job is attributed by time window instead: to the innermost span open at
the job's submission time. With one client this is unambiguous; the job
group only cross-checks it.

Spans stay in memory until the run ends. The event log (uncompressed,
not rolling, switched on in the benchmark's session config) is parsed
after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# the layer spans reported as per-layer metrics, in the order printed
LAYER_SPANS = [
    "tokenizer.tokenize",
    "build.build_index",
    "build.build_index.positions",
    "merge.merge_segments",
    "store.delete_docs",
    "search.open",
    "search.refresh",
    "search.topk",
    "search.read_values",
    "search.phrase",
    "search.topk_batch",
    "search.read_values_batch",
]
SPAN_STATS = ["calls", "wall_ms", "jobs", "exec_ms", "driver_ms", "shuffle_bytes", "failed_tasks"]


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    group: str  # job group id


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name`` and tag the jobs it submits with a job group."""
        gid = f"pb-{len(self.spans)}-{name}"
        self.sc.setJobGroup(gid, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, start, end, gid))


def read_eventlog(log_dir: str) -> dict[int, dict]:
    """Jobs by id, with their tasks' cost, from the single event log in
    ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []  # task ends, joined to jobs once all stages are known
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "exec_ms": 0.0,
                    "shuffle_bytes": 0,
                    "failed_tasks": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        if job is None:
            continue
        info = ev.get("Task Info") or {}
        metrics = ev.get("Task Metrics") or {}
        job["exec_ms"] += metrics.get("Executor Run Time", 0)
        job["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        if info.get("Failed") or info.get("Killed"):
            job["failed_tasks"] += 1
    return jobs


def attribute(spans: list[Span], jobs: dict[int, dict]) -> tuple[dict[int, int], int, int]:
    """Job id → index of the innermost span open at its submission.

    Returns (mapping, unattributed job count, job-group mismatches)."""
    owner: dict[int, int] = {}
    unattributed = mismatched = 0
    for jid, job in jobs.items():
        best = None
        for i, s in enumerate(spans):
            if s.start <= job["submit"] <= s.end and (
                best is None or s.start >= spans[best].start
            ):
                best = i
        if best is None:
            unattributed += 1
            continue
        owner[jid] = best
        if job["group"] is not None and job["group"] != spans[best].group:
            mismatched += 1
    return owner, unattributed, mismatched


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def layer_table(spans: list[Span], jobs: dict[int, dict], owner: dict[int, int]) -> dict[str, dict]:
    """Per span name: calls, and per-call means of wall, jobs, summed task
    run time, driver time (span wall not covered by its jobs) and shuffle
    bytes written; failed tasks as a total."""
    by_span: dict[int, list[dict]] = {}
    for jid, i in owner.items():
        by_span.setdefault(i, []).append(jobs[jid])
    table: dict[str, dict] = {}
    for i, s in enumerate(spans):
        row = table.setdefault(s.name, {k: 0.0 for k in SPAN_STATS})
        own = by_span.get(i, [])
        wall = s.end - s.start
        cover = _covered([(j["submit"], j["end"] or s.end) for j in own], s.start, s.end)
        row["calls"] += 1
        row["wall_ms"] += wall * 1000.0
        row["jobs"] += len(own)
        row["exec_ms"] += sum(j["exec_ms"] for j in own)
        row["driver_ms"] += (wall - cover) * 1000.0
        row["shuffle_bytes"] += sum(j["shuffle_bytes"] for j in own)
        row["failed_tasks"] += sum(j["failed_tasks"] for j in own)
    for row in table.values():
        n = row["calls"]
        for k in ("wall_ms", "jobs", "exec_ms", "driver_ms", "shuffle_bytes"):
            row[k] = row[k] / n
        row["calls"] = int(n)
        row["failed_tasks"] = int(row["failed_tasks"])
    return table


def write_trace(path: str, spans: list[Span], jobs: dict[int, dict], owner: dict[int, int], extra: dict) -> None:
    with open(path, "w") as fh:
        json.dump(
            {
                "spans": [asdict(s) for s in spans],
                "jobs": {str(j): {**jobs[j], "span": owner.get(j)} for j in jobs},
                **extra,
            },
            fh,
            indent=1,
        )
