"""Arithmetic of the benchmark: medians, spans, Spark event-log attribution.

Everything here works on plain Python values so it can be tested without
Spark (see ``test_stats.py``).

Times in spans and event logs are epoch seconds (spans) and epoch
milliseconds (Spark's event log); ``load_event_log`` converts the latter
to seconds so both share one clock.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


def summary(values: list[float]) -> dict:
    """Median with its sample count; ``p50`` is None when there are none."""
    return {"p50": statistics.median(values) if values else None, "n": len(values)}


def failed_share(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("failed_share needs at least one attempted operation")
    return failed / attempted


def growth(values: list[float], k: int = 3) -> float | None:
    """Median of the last ``k`` values over the median of the first ``k``.

    ``k`` shrinks to half the series so the two windows never overlap;
    None when fewer than two values exist."""
    k = min(k, len(values) // 2)
    if k < 1:
        return None
    return statistics.median(values[-k:]) / statistics.median(values[:k])


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    id: int
    parent: int | None = None
    op: str | None = None  # round or query id shared by the spans of one operation

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.wall - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


def self_time_by_name(spans: list[Span], op: str | None = None) -> dict[str, float]:
    """Summed self time per span name, optionally for one operation."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if op is None or s.op == op:
            out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


# -- Spark event log --------------------------------------------------------

PYTHON_METRICS = {
    # SQL metric display names of the Python runners -> benchmark metric
    "time to start Python workers": "python.boot_s",
    "time to run Python workers": "python.udf_s",
    "data sent to Python workers": "python.bytes_sent",
}


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0  # summed executor run time of its tasks
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: dict[str, float] = field(default_factory=dict)


def load_event_log(lines) -> list[Job]:
    """Jobs of a plain-JSON Spark event log, with their tasks' metrics summed.

    Task metrics come from ``SparkListenerTaskEnd``; Python-runner SQL
    metrics are read from the same event's accumulables by display name
    (``PYTHON_METRICS``; their times are in ms)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(
                id=ev["Job ID"],
                group=(ev.get("Properties") or {}).get("spark.jobGroup.id"),
                submit=ev["Submission Time"] / 1000.0,
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[j.id] = j
            for sid in j.stages:
                stage_job[sid] = j.id
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            j = jobs[stage_job[ev["Stage ID"]]]
            m = ev.get("Task Metrics") or {}
            j.tasks += 1
            j.run_s += m.get("Executor Run Time", 0) / 1000.0
            j.gc_s += m.get("JVM GC Time", 0) / 1000.0
            j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is None:
                    continue
                v = float(acc.get("Update", 0) or 0)
                if key.endswith("_s"):
                    v /= 1e3
                j.python[key] = j.python.get(key, 0.0) + v
    return sorted(jobs.values(), key=lambda j: j.submit)


def jobs_of(jobs: list[Job], group: str) -> list[Job]:
    return [j for j in jobs if j.group == group]


def innermost(spans: list[Span], op: str, t: float) -> Span | None:
    """The shortest span of ``op`` whose window holds time ``t``."""
    hits = [s for s in spans if s.op == op and s.start <= t <= s.end]
    return min(hits, key=lambda s: s.wall) if hits else None


def attribute(jobs: list[Job], spans: list[Span], op: str) -> dict[str, list[Job]]:
    """Jobs of ``op``'s job group keyed by the innermost span they started in."""
    out: dict[str, list[Job]] = {}
    for j in jobs_of(jobs, op):
        s = innermost(spans, op, j.submit)
        out.setdefault(s.name if s else "(outside)", []).append(j)
    return out


def window_jobs(jobs: list[Job], lo: float, hi: float) -> list[Job]:
    return [j for j in jobs if lo <= j.submit < hi]


SPARK_METRICS = [
    "spark.jobs", "spark.tasks", "spark.driver_gap_s", "spark.task_busy_share",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_s",
]


def spark_metrics(jobs: list[Job], lo: float, hi: float, cores: int) -> dict[str, float]:
    """Engine metrics for the jobs of one operation spanning ``[lo, hi]``."""
    wall = hi - lo
    busy = covered([(j.submit, j.end if j.end is not None else hi) for j in jobs], lo, hi)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.driver_gap_s": wall - busy,
        "spark.task_busy_share": sum(j.run_s for j in jobs) / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
    }


def python_metrics(jobs: list[Job]) -> dict[str, float]:
    out = {k: 0.0 for k in PYTHON_METRICS.values()}
    for j in jobs:
        for k, v in j.python.items():
            out[k] += v
    return out


def phase_windows(start: float, phases: dict[str, float], order: list[str]) -> dict[str, tuple[float, float]]:
    """Back-to-back windows for phases measured as consecutive durations.

    The engine reports each round's lazy phases as durations only; they
    run one after another from the start of ``run_round``, so cumulative
    sums place them on the span's clock (gaps between phases are
    plan-building only and fall into the next window)."""
    out, t = {}, start
    for name in order:
        d = phases.get(name, 0.0)
        out[name] = (t, t + d)
        t += d
    return out
