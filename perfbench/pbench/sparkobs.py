"""Spark observed from outside the program.

Every run: each benchmark operation runs under its own job group, and
after the operation the ``StatusTracker`` gives its jobs, stages and
tasks. Jobs the program submits from its own driver threads carry no
group; they are picked up as the ungrouped jobs that appeared during the
operation (the benchmark drives Spark from one thread, so nothing else
submits jobs meanwhile).

Traced run only: the event log, enabled at launch, gives per-task
executor run time, GC time, shuffle write and spill bytes, attributed
to operations by job group (or, for ungrouped jobs, by submission time).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    op_id: int
    kind: str
    group: str
    t0: float  # epoch seconds
    t1: float
    wall_s: float
    ok: bool = True
    error: str | None = None
    job_ids: list[int] = field(default_factory=list)
    n_stages: int = 0
    n_tasks: int = 0


class SparkOps:
    """Runs benchmark operations under per-op job groups and counts
    their Spark work. ``timeout_s`` cancels an operation's jobs; the
    operation then fails and counts as failed."""

    def __init__(self, spark, timeout_s: float):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.timeout_s = timeout_s
        self.records: list[OpRecord] = []

    @contextmanager
    def op(self, kind: str, op_id: int):
        group = f"pb-{op_id}-{kind}"
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, kind)
        timer = threading.Timer(self.timeout_s,
                                self.sc.cancelJobGroup, (group,))
        timer.daemon = True
        rec = OpRecord(op_id, kind, group, time.time(), 0.0, 0.0)
        timer.start()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as e:  # a failed op is a measured outcome
            rec.ok = False
            rec.error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            rec.wall_s = time.perf_counter() - t0
            rec.t1 = time.time()
            timer.cancel()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.records.append(rec)
            self._count(rec, before)

    def _count(self, rec: OpRecord, before_ungrouped: set[int]) -> None:
        ids = set(self.tracker.getJobIdsForGroup(rec.group))
        ids |= set(self.tracker.getJobIdsForGroup(None)) - before_ungrouped
        rec.job_ids = sorted(ids)
        # the status store is fed asynchronously: wait (bounded) until
        # every job has left RUNNING so its task counts are final
        deadline = time.time() + 5.0
        infos = {}
        while True:
            infos = {j: self.tracker.getJobInfo(j) for j in rec.job_ids}
            if all(i is None or i.status != "RUNNING"
                   for i in infos.values()) or time.time() > deadline:
                break
            time.sleep(0.02)
        stages = set()
        for info in infos.values():
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            si = self.tracker.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                rec.n_stages += 1
                rec.n_tasks += si.numCompletedTasks


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that enable the event log."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false"]


@dataclass
class TaskTotals:
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    n_tasks: int = 0


def read_event_log(log_dir: str, records: list[OpRecord]
                   ) -> dict[int, TaskTotals]:
    """op_id -> task totals of the jobs that op submitted."""
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
         if os.path.isfile(p) and os.path.basename(p).startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    by_group = {r.group: r.op_id for r in records}
    stage_op: dict[int, int] = {}
    out: dict[int, TaskTotals] = {r.op_id: TaskTotals() for r in records}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    op = by_group.get(group)
                    if op is None:
                        t = ev.get("Submission Time", 0) / 1000.0
                        op = next((r.op_id for r in records
                                   if r.t0 <= t <= r.t1), None)
                    if op is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_op.setdefault(sid, op)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if op is None or not m:
                        continue
                    tt = out[op]
                    tt.n_tasks += 1
                    tt.run_ms += m.get("Executor Run Time", 0)
                    tt.gc_ms += m.get("JVM GC Time", 0)
                    tt.shuffle_write_bytes += (m.get("Shuffle Write Metrics")
                                               or {}).get(
                        "Shuffle Bytes Written", 0)
                    tt.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    return out
