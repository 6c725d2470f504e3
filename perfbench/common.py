"""Shared pieces of the lake benchmark: the op record, statistics, the
Spark session, job-group readouts and the host record."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np


@dataclass
class Op:
    """One client request: its class, what to run, and what it did."""
    index: int
    cls: str
    text: str                         # SQL statement or operator call label
    arg: Any = None                   # workload-specific payload
    latency_s: float = 0.0
    call_s: float = 0.0               # time before the result frame returned
    action_s: float = 0.0             # time of the action on that frame
    result: Any = None
    error: str | None = None
    spark: dict = field(default_factory=dict)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def supported_percentile(n: int) -> int | None:
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (50, 90, 99, 99.9):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def class_summary(ops: list[Op]) -> dict[str, dict]:
    """Per op class: sample count, median, p90 and the highest percentile
    the sample count supports. Failed ops carry no latency sample."""
    by: dict[str, list[float]] = {}
    for op in ops:
        if op.error is None:
            by.setdefault(op.cls, []).append(op.latency_s)
    out = {}
    for cls, xs in sorted(by.items()):
        p = supported_percentile(len(xs))
        out[cls] = {"n": len(xs), "p50_s": median(xs),
                    "p90_s": percentile(xs, 90),
                    "top_pct": p,
                    "top_pct_s": percentile(xs, p) if p else None}
    return out


def norm(v):
    """Whole-number doubles compare as ints (Spark and DuckDB agree on
    the value, not always on the type)."""
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def run_sql_op(state: dict, op: Op, clock) -> None:
    """Engine.sql, then collect; ``clock`` splits call and action time."""
    t0 = clock()
    df = state["eng"].sql(op.text)
    t1 = clock()
    rows = df.collect()
    t2 = clock()
    op.call_s, op.action_s, op.latency_s = t1 - t0, t2 - t1, t2 - t0
    op.result = sorted(tuple(norm(v) for v in r) for r in rows)


def add_segments(eng, table: str, frames, stage_dir: str,
                 files: int = 1) -> None:
    """Write each frame as a folder of ``files`` parquet files and
    register it with ADD SEGMENT: one segment per frame, no Spark
    write job (set-up by INSERT costs ~1 s of Spark job per load)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, df in enumerate(frames):
        path = os.path.join(stage_dir, f"{table}_{i}")
        os.makedirs(path)
        for j, part in enumerate(np.array_split(np.arange(len(df)), files)):
            pq.write_table(pa.Table.from_pandas(df.iloc[part],
                                                preserve_index=False),
                           os.path.join(path, f"part-{j:05d}.parquet"))
        eng.sql(f"ALTER TABLE {table} ADD SEGMENT OPTIONS('path'='{path}', "
                "'format'='parquet')")


# ------------------------------------------------------------------ spark

def start_spark(work: str, cpus: int, event_log: bool):
    """A ``local[cpus]`` session that keeps every file it writes under
    ``work``. The event log (task metrics) is only on for traced runs."""
    from cdh_integrate_carbondata2_3_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()          # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class JobGroups:
    """Tags each op's Spark jobs with a job group and reads the jobs,
    stages and tasks of that group back from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# ------------------------------------------------------------------- host

def calibrate(spark) -> float:
    """Wall time of a constant Spark job (same plan and row count on
    every run), so a slow or contended host shows in the record."""
    t = time.perf_counter()
    spark.range(0, 40_000_000, numPartitions=8) \
        .selectExpr("sum((id * 7) % 13) AS s").collect()
    return time.perf_counter() - t


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])        # user..steal; guest time is inside user
    return d[7] / total if total else 0.0
