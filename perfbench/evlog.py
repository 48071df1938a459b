"""Traced-run instrumentation.

Two sources, both outside the program:

* wrappers around public entry points (``SnapshotCatalog.commit`` and
  ``seen.broadcast_blooms``) that count calls and time them;
* Spark's own event log, parsed after the session stops, which splits
  each engine phase into driver time and executor time.

A job belongs to an engine phase when its job group is the epoch's group
(``epoch-<id>-<n>``), or it is a group-less table write from the
catalog's write pool, and its submission falls inside the phase window
rebuilt from the engine's ``last_timings`` marks.  Jobs of the timed
window that match no phase are side jobs (bloom rebuild, write-behind
metrics).  The wrapper counts cover the whole pass, bootstrap included.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

from harness import ENGINE_PHASES

_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand\s+(\S+)")


class Wrappers:
    """Counts and times calls into the snapshot catalog and the bloom
    broadcast while installed."""

    def __init__(self):
        self.lock = threading.Lock()
        self.commits = 0
        self.commit_s = 0.0
        self.bcast_calls = 0
        self.bcast_s = 0.0
        self._undo = []

    def _wrap(self, owner, name, on_done):
        orig = getattr(owner, name)

        def wrapped(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                with self.lock:
                    on_done(dt)

        setattr(owner, name, wrapped)
        self._undo.append((owner, name, orig))

    def install(self):
        from bitextor_spark.frontier import seen
        from bitextor_spark.sources.snapshots import SnapshotCatalog

        def commit_done(dt):
            self.commits += 1
            self.commit_s += dt

        def bcast_done(dt):
            self.bcast_calls += 1
            self.bcast_s += dt

        self._wrap(SnapshotCatalog, "commit", commit_done)
        self._wrap(seen, "broadcast_blooms", bcast_done)
        return self

    def remove(self):
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo = []


def read_event_log(event_dir: str) -> dict:
    """Jobs and per-stage task samples from the (stopped) app's log."""
    paths = sorted(glob.glob(os.path.join(event_dir, "*")))
    jobs: dict[int, dict] = {}
    sql_writes: dict[int, str] = {}  # execution id -> written path
    stage_job: dict[int, int] = {}
    tasks: dict[int, list] = defaultdict(list)
    for path in paths:
        with open(path) as fh:
            for ln in fh:
                ev = json.loads(ln)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0,
                                 "end": None,
                                 "group": props.get("spark.jobGroup.id"),
                                 "exec": int(exec_id) if exec_id else None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plan = ev.get("physicalPlanDescription") or ""
                    m = _WRITE.search(plan)
                    if m:
                        sql_writes[ev["executionId"]] = m.group(1)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks[ev["Stage ID"]].append({
                        "dur": (info.get("Finish Time", 0)
                                - info.get("Launch Time", 0)) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle": (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0)
                                    + sw.get("Shuffle Bytes Written", 0)),
                        "spill": (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)),
                    })
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
        j["writes"] = sql_writes.get(j["exec"])
    job_stages: dict[int, list[int]] = defaultdict(list)
    for sid, jid in stage_job.items():
        job_stages[jid].append(sid)
    return {"jobs": jobs, "job_stages": job_stages, "tasks": tasks}


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_totals(log: dict, job_ids) -> dict[str, float]:
    """Executor-side sums over the given jobs' tasks."""
    out = {"task_s": 0.0, "offcpu_s": 0.0, "shuffle_mb": 0.0,
           "spill_mb": 0.0, "skew": 0.0}
    longest = None
    for jid in job_ids:
        for sid in log["job_stages"].get(jid, ()):
            ts = log["tasks"].get(sid, ())
            if not ts:
                continue
            run = sum(t["run"] for t in ts)
            out["task_s"] += run
            out["offcpu_s"] += max(run - sum(t["cpu"] for t in ts), 0.0)
            out["shuffle_mb"] += sum(t["shuffle"] for t in ts) / 2**20
            out["spill_mb"] += sum(t["spill"] for t in ts) / 2**20
            if longest is None or run > longest[0]:
                longest = (run, [t["dur"] for t in ts])
    if longest:
        durs = longest[1]
        med = statistics.median(durs)
        out["skew"] = max(durs) / med if med > 0 else 1.0
    return out


def window_split(log: dict, t0: float, t1: float) -> dict[str, float]:
    """spark.* layer: every job submitted inside [t0, t1]."""
    ids = [j for j, v in log["jobs"].items() if t0 <= v["submit"] <= t1]
    tot = job_totals(log, ids)
    busy = _union([(log["jobs"][j]["submit"], log["jobs"][j]["end"])
                   for j in ids], t0, t1)
    return {"spark.jobs": float(len(ids)), "spark.task_s": tot["task_s"],
            "spark.driver_s": max((t1 - t0) - busy, 0.0),
            "spark.offcpu_s": tot["offcpu_s"],
            "spark.shuffle_mb": tot["shuffle_mb"],
            "spark.spill_mb": tot["spill_mb"]}


def phase_split(log: dict, epochs: list[dict], t0: float, t1: float
                ) -> dict[str, float]:
    """engine.<phase>.* sums over epochs, plus the side-job totals.

    ``epochs``: per-epoch records with ``start`` (wall clock at the
    run_epoch call), ``epoch`` (the engine's epoch number) and ``phases``
    (the last_timings marks, seconds per phase in order).

    The catalog writes its tables from a thread pool, whose jobs carry no
    job group; a group-less table write submitted inside a phase window
    belongs to that phase.  The write-behind metrics write (its target is
    the staged ``metrics`` table) stays a side job."""
    by_phase: dict[str, list[int]] = defaultdict(list)
    windows: dict[str, list[tuple[float, float]]] = defaultdict(list)
    assigned: set[int] = set()
    for rec in epochs:
        suffix = f"-{rec['epoch']}"
        group_jobs = [
            j for j, v in log["jobs"].items()
            if rec["start"] <= v["submit"] <= rec["end"]
            and (((v["group"] or "").startswith("epoch-")
                  and v["group"].endswith(suffix))
                 or (v["group"] is None and v["writes"]
                     and "/metrics/" not in v["writes"]))]
        cur = rec["start"]
        for ph in ENGINE_PHASES:
            dt = rec["phases"].get(ph, 0.0)
            lo, hi = cur, cur + dt
            cur = hi
            windows[ph].append((lo, hi))
            for j in group_jobs:
                if j not in assigned and lo <= log["jobs"][j]["submit"] < hi:
                    by_phase[ph].append(j)
                    assigned.add(j)
    out: dict[str, float] = {}
    for ph in ENGINE_PHASES:
        ids = by_phase.get(ph, [])
        tot = job_totals(log, ids)
        driver = 0.0
        for lo, hi in windows[ph]:
            busy = _union([(log["jobs"][j]["submit"], log["jobs"][j]["end"])
                           for j in ids], lo, hi)
            driver += max((hi - lo) - busy, 0.0)
        out[f"engine.{ph}.driver_s"] = driver
        out[f"engine.{ph}.jobs"] = float(len(ids))
        for f in ("task_s", "offcpu_s", "shuffle_mb", "spill_mb", "skew"):
            out[f"engine.{ph}.{f}"] = tot[f]
    side = [j for j, v in log["jobs"].items()
            if t0 <= v["submit"] <= t1 and j not in assigned]
    out["engine.side.jobs"] = float(len(side))
    out["engine.side.task_s"] = job_totals(log, side)["task_s"]
    return out
