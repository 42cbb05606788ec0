"""Trace arithmetic for the benchmark: spans, self time, Spark event-log
parsing, job attribution by call window, streaming progress totals and
tail-percentile selection.

Everything here is plain Python over plain data, so the self-tests can
feed it canned event logs and listener output without starting Spark.
Times are seconds since the epoch (floats) unless a name says otherwise.
"""

from __future__ import annotations

import json
import math
import statistics
from dataclasses import dataclass

MB = 1024 * 1024


# ----------------------------------------------------------------- spans

def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs), clipped
    to [lo, hi] when given; overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children's
    (start, end) intervals cover."""
    return (end - start) - union_length(children, start, end)


# ------------------------------------------------------------ percentiles

def tail_percentile(samples, min_beyond: int = 10):
    """The highest whole percentile that leaves at least ``min_beyond``
    samples beyond it, as (percentile, value, n, samples beyond), or
    None when no percentile does.

    With n samples the p-th percentile is the sample of rank
    ceil(p/100 * n) (nearest rank); n - rank samples lie beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n, n - rank
    return None


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# -------------------------------------------------------------- event log

@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    group: str | None
    stage_ids: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0

    def add(self, other: StageTotals) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def parse_event_log(lines):
    """Read Spark event-log JSON lines into jobs and per-stage task totals.

    Returns (jobs by id, task totals by stage id).
    """
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                submit=ev["Submission Time"] / 1000.0,
                end=ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(ev.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], StageTotals())
            st.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            st.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def stage_owner(jobs: dict[int, Job]) -> dict[int, int]:
    """Stage id -> the first job that lists it (a stage reused by a later
    job is skipped there, so its tasks belong to the first)."""
    owner: dict[int, int] = {}
    for job_id in sorted(jobs):
        for s in jobs[job_id].stage_ids:
            owner.setdefault(s, job_id)
    return owner


@dataclass
class Window:
    """One query call as the client saw it, split into build and sink."""

    key: str  # unique per call, e.g. "w2:frequent_pairs"
    group: str  # the job group set on the calling thread
    start: float
    build_end: float
    end: float


@dataclass
class Attribution:
    call: str
    phase: str  # "build" or "sink"
    grouped: bool


def attribute_jobs(jobs: dict[int, Job], windows: list[Window]) -> dict[int, Attribution]:
    """Assign every job submitted inside a call's window to that call.

    The client is sequential, so the window is authoritative; the job
    group only tells whether the job was submitted from the calling
    thread (grouped) or from a pool or stream thread (window only).
    A job whose group names a call is given to that call even if its
    submission timestamp falls a millisecond outside the window.
    """
    by_group = {w.group: w for w in windows}
    ordered = sorted(windows, key=lambda w: w.start)
    out: dict[int, Attribution] = {}
    for job in jobs.values():
        win = by_group.get(job.group) if job.group else None
        grouped = win is not None
        if win is None:
            for w in ordered:
                # event-log times have millisecond resolution
                if w.start - 0.001 <= job.submit <= w.end + 0.001:
                    win = w
                    break
        if win is None:
            continue
        phase = "build" if job.submit < win.build_end else "sink"
        out[job.job_id] = Attribution(win.key, phase, grouped)
    return out


# -------------------------------------------------------------- streaming

STREAM_FIELDS = ("batches", "trigger_s", "state_commit_s", "wal_commit_s", "planning_s", "state_rows")


def progress_epoch(progress: dict) -> float:
    """A progress record's trigger start time as epoch seconds."""
    from datetime import datetime, timezone

    ts = progress["timestamp"].rstrip("Z")
    return datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()


def streaming_totals(progresses) -> dict[str, float]:
    """Sum micro-batch progress records (StreamingQueryProgress JSON).

    ``wal_commit_s`` covers both write-ahead logs: the offset log
    (``walCommit``) and the commit log (``commitOffsets``).
    ``state_rows`` is the state-store row count after each batch,
    summed over batches and operators.
    """
    tot = dict.fromkeys(STREAM_FIELDS, 0.0)
    for p in progresses:
        d = p.get("durationMs") or {}
        if "triggerExecution" not in d:
            continue  # idle trigger: no batch ran
        tot["batches"] += 1
        tot["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        tot["planning_s"] += d.get("queryPlanning", 0) / 1000.0
        tot["wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        for op in p.get("stateOperators") or []:
            tot["state_commit_s"] += op.get("commitTimeMs", 0) / 1000.0
            tot["state_rows"] += op.get("numRowsTotal", 0)
    return tot
