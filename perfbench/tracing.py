"""Spans and counts at the layer boundaries of ``kompactor_spark``,
recorded from outside the program by wrapping its public functions.

``Tracer.install()`` swaps each wrapped attribute for a recording
wrapper for the rest of the process. Spans are kept in
memory (name, start, end, parent, thread) and written out by ``dump``.

Layer -> end-to-end metric each should move (workload in brackets):

- session.start_s -> setup_s [all]
- compaction.metadata.read_snapshot.*, .write_snapshot_atomic.*,
  .pass_share -> pass_s, pass_cpu_s [compact-hourly]
- compaction.planner.plan_s/groups/skipped -> pass_s [compact-hourly]
- compaction.job.parquet_read.*, parquet_write.*, spark_jobs, self_s
  -> pass_s, pass_cpu_s [compact-hourly]
- compaction.readers.read_table_s/files_per_scan -> op_cpu_s
  [compact-hourly]
- compaction.fsck.* -> no timing metric (verification cost)
- queries.<q>.s/jobs/stages, queries.construct_s -> pass_s,
  pass_cpu_s, op_cpu_s [analytics-sf1]; zero on compact-hourly
- compaction.* -> zero on analytics-sf1
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter

from kompactor_spark import session
from kompactor_spark.compaction import fsck, job, metadata, planner, readers
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

JOB = "compaction.job"


def _plan_counts(counts: Counter, plan) -> None:
    counts["compaction.planner.groups"] += len(plan.groups)
    counts["compaction.planner.skipped"] += plan.skipped_singletons


def _files_count(counts: Counter, files) -> None:
    counts["compaction.readers.files"] += len(files)


def _fsck_count(counts: Counter, report) -> None:
    counts["compaction.fsck.problems"] += len(report.dangling) + len(report.orphans) + len(report.stat_mismatches)


# (owner, attribute, span name, result hook, record only inside a job span)
# job.py binds the metadata and planner functions by name, so they are
# wrapped in its namespace as well as their own.
WRAPPED = [
    (session, "get_spark", "session.start", None, False),
    (metadata, "read_snapshot", "compaction.metadata.read_snapshot", None, False),
    (job, "read_snapshot", "compaction.metadata.read_snapshot", None, False),
    (metadata, "write_snapshot_atomic", "compaction.metadata.write_snapshot_atomic", None, False),
    (job, "write_snapshot_atomic", "compaction.metadata.write_snapshot_atomic", None, False),
    (planner, "plan_compaction", "compaction.planner.plan", _plan_counts, False),
    (job, "plan_compaction", "compaction.planner.plan", _plan_counts, False),
    (job.CompactionJob, "run", JOB, None, False),
    (DataFrameReader, "parquet", "compaction.job.parquet_read", None, True),
    (DataFrameWriter, "parquet", "compaction.job.parquet_write", None, True),
    (readers, "read_table", "compaction.readers.read_table", None, False),
    (readers, "files_as_of", "compaction.readers.files_as_of", _files_count, False),
    (fsck, "fsck_host", "compaction.fsck.fsck_host", _fsck_count, False),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._job_span: int | None = None  # parent for pool-thread spans

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        parent = stack[-1] if stack else self._job_span
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent, "thread": threading.get_ident()})
        stack.append(sid)
        if name == JOB:
            self._job_span = sid
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            if name == JOB:
                self._job_span = None
            self.spans[sid].update(start=start, end=end)

    def _wrapper(self, orig, name: str, hook, job_only: bool):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if job_only and self._job_span is None:
                return orig(*args, **kwargs)
            result = self.record(name, orig, *args, **kwargs)
            if hook is not None:
                with self._lock:
                    hook(self.counts, result)
            return result

        return traced

    def install(self) -> None:
        for owner, attr, name, hook, job_only in WRAPPED:
            setattr(owner, attr, self._wrapper(getattr(owner, attr), name, hook, job_only))

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()

    # -- per-layer numbers ---------------------------------------------------
    def total(self, name: str) -> tuple[int, float]:
        done = [s for s in self.spans if s["name"] == name and "end" in s]
        return len(done), sum(s["end"] - s["start"] for s in done)

    def self_time(self, name: str) -> float:
        """Span duration minus the union of its children's intervals
        (children may overlap: pool threads run groups concurrently)."""
        total = 0.0
        for parent in (s for s in self.spans if s["name"] == name and "end" in s):
            kids = sorted(
                (max(k["start"], parent["start"]), min(k["end"], parent["end"]))
                for k in self.spans
                if k["parent"] == parent["id"] and "end" in k
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in kids:
                if cur_hi is None or lo > cur_hi:
                    covered += 0.0 if cur_hi is None else cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += 0.0 if cur_hi is None else cur_hi - cur_lo
            total += (parent["end"] - parent["start"]) - covered
        return total

    def compaction_layers(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for short, name in (
            ("read_snapshot", "compaction.metadata.read_snapshot"),
            ("write_snapshot_atomic", "compaction.metadata.write_snapshot_atomic"),
        ):
            calls, secs = self.total(name)
            out[f"compaction.metadata.{short}.calls"] = calls
            out[f"compaction.metadata.{short}.s"] = secs
        out["compaction.planner.plan_s"] = self.total("compaction.planner.plan")[1]
        out["compaction.planner.groups"] = self.counts["compaction.planner.groups"]
        out["compaction.planner.skipped"] = self.counts["compaction.planner.skipped"]
        for short in ("parquet_read", "parquet_write"):
            calls, secs = self.total(f"compaction.job.{short}")
            out[f"compaction.job.{short}.calls"] = calls
            out[f"compaction.job.{short}.s"] = secs
        out["compaction.job.self_s"] = self.self_time(JOB)
        return out

    def reader_layers(self) -> dict[str, float]:
        calls, secs = self.total("compaction.readers.read_table")
        return {
            "compaction.readers.read_table_s": secs,
            "compaction.readers.files_per_scan": self.counts["compaction.readers.files"] / calls if calls else 0.0,
        }

    def fsck_layers(self) -> dict[str, float]:
        return {
            "compaction.fsck.fsck_host_s": self.total("compaction.fsck.fsck_host")[1],
            "compaction.fsck.problems": self.counts["compaction.fsck.problems"],
        }

    def dump(self, path: str, t0: float) -> None:
        """Write the spans with times relative to ``t0``."""
        spans = [
            dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
            for s in self.spans
            if "end" in s
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(spans, fh)


# -- Spark job and stage counts ---------------------------------------------
def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def max_job_id(spark) -> int:
    """Highest job id not tied to a job group. Compaction submits from
    pool threads, which do not inherit a job group, so its jobs are
    counted as the delta of this around the call."""
    drain_listener(spark)
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, distinct stages) run under job group ``group``."""
    drain_listener(spark)
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), len(stages)
