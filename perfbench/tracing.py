"""In-memory span and count recorder for the traced benchmark run.

Spans (name, start, end, parent, run id) and counts are kept in memory
and written once, when the run ends. Spans are recorded by the
benchmark around its calls into the program's modules; nothing inside
the program is instrumented. A span's self time is its duration minus
the time its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []  # index = span id
        self._stack: list[int] = []

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent, "run_id": self.run_id})
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        assert self._stack and self._stack[-1] == sid, "spans must nest"
        self._stack.pop()
        sp = self.spans[sid]
        sp["end"] = time.perf_counter()
        return sp["end"] - sp["start"]

    @contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield sid
        finally:
            self.close(sid)

    def self_times(self) -> list[float]:
        """Self time per span id: duration minus its children's."""
        out = [sp["end"] - sp["start"] for sp in self.spans]
        for sp in self.spans:
            if sp["parent"] is not None:
                out[sp["parent"]] -= sp["end"] - sp["start"]
        return out

    def self_time_by_name(self) -> dict[str, list[float]]:
        by: dict[str, list[float]] = defaultdict(list)
        for sp, st in zip(self.spans, self.self_times()):
            by[sp["name"]].append(st)
        return by

    def write(self, path: str, counts: list[dict], extra: dict) -> None:
        """Write spans (with self times) and the count records."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**sp, "start": sp["start"] - t0, "end": sp["end"] - t0, "self": st}
            for sp, st in zip(self.spans, selfs)
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans,
                       "counts": counts, **extra}, f)


class SparkCounters:
    """Jobs/tasks per span through job groups and the status tracker,
    plus scan and shuffle bytes through ``metrics.StageMetricsCollector``
    (a QueryExecutionListener walking each action's executed plan)."""

    def __init__(self, spark, run_id: str):
        from scotustician_spark.metrics import StageMetricsCollector

        self.sc = spark.sparkContext
        self.run_id = run_id
        self.mc = StageMetricsCollector(spark)
        self._n = 0
        self.records: list[dict] = []  # one per measured block

    @contextmanager
    def measure(self, out: dict, label: str):
        """Attribute every Spark job and SQL action inside the block;
        adds jobs, tasks, files_read_bytes and shuffle_bytes to ``out``
        and keeps them as a record named ``label``."""
        self._n += 1
        group = f"{self.run_id}:{self._n}"
        stage = f"s{self._n}"
        self.sc.setJobGroup(group, stage)
        try:
            with self.mc.stage(stage):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    tasks += si.numCompletedTasks if si else 0
            rows = [r for r in self.mc.rows() if r["stage"] == stage]
            rec = {
                "jobs": len(jobs),
                "tasks": tasks,
                "files_read_bytes": sum(r["files_read_bytes"] or 0 for r in rows),
                "shuffle_bytes": sum(r["shuffle_bytes_written"] or 0 for r in rows),
            }
            for key, v in rec.items():
                out[key] = out.get(key, 0) + v
            self.records.append({"label": label, **rec})

    def close(self) -> None:
        self.mc.close()
