"""Per-stage counters from Spark's JSON event log.

The session writes an uncompressed, non-rolling event log
(``spark.eventLog.*``). ``EventLog.window(t0, t1)`` sums the stages of
every job submitted inside a wall-clock window, one benchmark pass.
Each SQL execution is classed by its physical plan, so layer metrics
can select the stages of one kind of work.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric names, as Spark's plan nodes register them
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"
COMMIT_TIME = "task commit time"
FILES_READ = "size of files read"


@dataclass
class Stage:
    job: int
    kind: str
    n_tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: int = 0
    shuffle_fetch_wait_ms: int = 0
    spill_bytes: int = 0
    task_rows: list = field(default_factory=list)
    sql: dict = field(default_factory=dict)


def plan_kind(plan: str) -> str:
    """Class of one SQL execution, read off its physical plan."""
    writes = "InsertIntoHadoopFsRelationCommand" in plan
    if "ArrowEvalPython" in plan or "BatchEvalPython" in plan:
        return "extract"
    if writes and "/lineage/" in plan:
        return "lineage_commit"
    if writes and ", JSON," in plan:
        return "export_json"
    if writes:
        return "write"
    return "read"


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of the SQL metric ``name`` in a plan tree."""
    ids = {m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


class EventLog:
    def __init__(self, path: Path) -> None:
        self.stages: dict[int, Stage] = {}
        self.jobs: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        files_read_ids: set[int] = set()
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sid = props.get("spark.sql.execution.id")
                    self.jobs[e["Job ID"]] = {
                        "t0": e["Submission Time"],
                        "sql": int(sid) if sid is not None else None,
                    }
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["t1"] = e["Completion Time"]
                elif ev.endswith("SQLExecutionStart"):
                    self.sql[e["executionId"]] = {
                        "t0": e["time"],
                        "kind": plan_kind(e["physicalPlanDescription"]),
                        "files_read": 0,
                    }
                    files_read_ids |= _metric_ids(e["sparkPlanInfo"], FILES_READ)
                elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                    files_read_ids |= _metric_ids(e["sparkPlanInfo"], FILES_READ)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    self.sql[e["executionId"]]["files_read"] += sum(
                        v for i, v in e["accumUpdates"] if i in files_read_ids
                    )
                elif ev.endswith("SQLExecutionEnd"):
                    self.sql[e["executionId"]]["t1"] = e["time"]
                elif ev == "SparkListenerTaskEnd":
                    self._task(e, stage_job)
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = self._stage(info["Stage ID"], stage_job)
                    for a in info.get("Accumulables", []):
                        name = a["Name"]
                        if not name.startswith("internal."):
                            try:
                                v = int(a["Value"])
                            except (TypeError, ValueError):
                                continue
                            st.sql[name] = st.sql.get(name, 0) + v
        for st in self.stages.values():
            job = self.jobs.get(st.job, {})
            sid = job.get("sql")
            st.kind = self.sql.get(sid, {}).get("kind", "rdd")

    def _stage(self, sid: int, stage_job: dict[int, int]) -> Stage:
        if sid not in self.stages:
            self.stages[sid] = Stage(job=stage_job.get(sid, -1), kind="")
        return self.stages[sid]

    def _task(self, e: dict, stage_job: dict[int, int]) -> None:
        m = e.get("Task Metrics")
        if not m:
            return
        st = self._stage(e["Stage ID"], stage_job)
        st.n_tasks += 1
        st.run_ms += m["Executor Run Time"]
        st.gc_ms += m["JVM GC Time"]
        sw = m["Shuffle Write Metrics"]
        st.shuffle_write_bytes += sw["Shuffle Bytes Written"]
        st.shuffle_write_ns += sw["Shuffle Write Time"]
        sr = m["Shuffle Read Metrics"]
        st.shuffle_fetch_wait_ms += sr["Fetch Wait Time"]
        st.spill_bytes += m["Disk Bytes Spilled"]
        st.task_rows.append(
            sr["Total Records Read"] or m["Input Metrics"]["Records Read"]
        )

    def window(self, t0: float, t1: float) -> "Window":
        """Jobs submitted within [t0, t1] (seconds since the epoch)."""
        lo, hi = t0 * 1000, t1 * 1000
        jobs = {j for j, v in self.jobs.items() if lo <= v["t0"] <= hi}
        sqls = {
            s: v for s, v in self.sql.items()
            if lo <= v["t0"] <= hi and "t1" in v
        }
        return Window(
            [s for s in self.stages.values() if s.job in jobs],
            len(jobs),
            sqls,
        )


class Window:
    """Stage totals of one pass."""

    def __init__(self, stages: list[Stage], n_jobs: int, sqls: dict) -> None:
        self.stages = stages
        self.n_jobs = n_jobs
        self.sqls = sqls

    def total(self, attr: str, kind: str | None = None) -> int:
        return sum(
            getattr(s, attr) for s in self.stages
            if kind is None or s.kind == kind
        )

    def sql_metric(self, name: str, kind: str | None = None) -> int:
        return sum(
            s.sql.get(name, 0) for s in self.stages
            if kind is None or s.kind == kind
        )

    def files_read(self, kind: str | None = None) -> int:
        """Bytes of the files the scans of the window listed to read."""
        return sum(
            v["files_read"] for v in self.sqls.values()
            if kind is None or v["kind"] == kind
        )

    def sql_wall_s(self, kind: str) -> float:
        return sum(
            v["t1"] - v["t0"] for v in self.sqls.values() if v["kind"] == kind
        ) / 1000

    def udf_stages(self) -> list[Stage]:
        return [s for s in self.stages if PY_SENT in s.sql]

    def max_over_mean_rows(self) -> float:
        """Straggler rows over mean rows per task, summed over the UDF
        stages (shuffle-read rows where the stage reads a shuffle)."""
        mx = mean = 0.0
        for s in self.udf_stages():
            rows = s.task_rows
            if rows and sum(rows):
                mx += max(rows)
                mean += sum(rows) / len(rows)
        return mx / mean if mean else 0.0
