"""Roll a local, uncompressed Spark event log up per timed call.

The benchmark records each call's wall window (epoch ms) and sets a
job group named after it.  A job belongs to the call whose group it
carries; jobs submitted from helper threads carry no group and are
placed by submission time instead.  Stages belong to the job that
lists them; a stage shared by two jobs counts once, for the first.

Archive scans are counted from the SQL plans: the driver-side
"number of files read" metric of every ``Scan binaryFile`` node, summed
per SQL execution and placed by the execution's start time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.memoryBytesSpilled": "spill_b",
    "internal.metrics.diskBytesSpilled": "spill_b",
}


@dataclass
class Call:
    name: str
    start_ms: float
    end_ms: float
    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    zip_scans: float = 0.0

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0

    def job_union_s(self) -> float:
        """Seconds of the call's window covered by at least one job."""
        covered, edge = 0.0, self.start_ms
        for s, e in sorted(self.jobs):
            s, e = max(s, edge), min(e, self.end_ms)
            if e > s:
                covered += e - s
                edge = e
        return covered / 1000.0


def _events(log_dir: Path):
    for path in sorted(log_dir.rglob("*")):
        if path.is_file() and not path.name.startswith("."):
            with path.open() as fh:
                for line in fh:
                    yield json.loads(line)


def _scan_file_metrics(node: dict, out: set[int]) -> None:
    if node["nodeName"].startswith("Scan binaryFile"):
        out.update(
            m["accumulatorId"] for m in node["metrics"]
            if m["name"] == "number of files read"
        )
    for child in node["children"]:
        _scan_file_metrics(child, out)


def rollup(log_dir: Path, calls: list[Call]) -> None:
    """Fill each call's counters from the event logs under ``log_dir``."""
    by_name = {c.name: c for c in calls}

    def at(t: float) -> Call | None:
        return next((c for c in calls if c.start_ms <= t <= c.end_ms), None)

    job_call: dict[int, Call] = {}
    job_start: dict[int, float] = {}
    stage_call: dict[int, Call] = {}
    exec_call: dict[int, Call] = {}
    scan_accs: set[int] = set()
    for ev in _events(log_dir):
        kind = ev.get("Event", "").rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
            _scan_file_metrics(ev["sparkPlanInfo"], scan_accs)
            call = at(ev["time"]) if "time" in ev else None
            if kind == "SparkListenerSQLExecutionStart" and call is not None:
                exec_call[ev["executionId"]] = call
        elif kind == "SparkListenerDriverAccumUpdates":
            call = exec_call.get(ev["executionId"])
            if call is not None:
                call.zip_scans += sum(v for a, v in ev["accumUpdates"] if a in scan_accs)
        elif kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            call = by_name.get(group) or at(t)
            if call is None:
                continue
            job_call[ev["Job ID"]] = call
            job_start[ev["Job ID"]] = t
            for sid in ev.get("Stage IDs", ()):
                stage_call.setdefault(sid, call)
        elif kind == "SparkListenerJobEnd":
            call = job_call.get(ev["Job ID"])
            if call is not None:
                call.jobs.append((job_start[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            call = stage_call.get(info["Stage ID"])
            if call is None:
                continue
            call.stages += 1
            call.tasks += info["Number of Tasks"]
            call.single_task_stages += info["Number of Tasks"] == 1
            for acc in info.get("Accumulables", ()):
                attr = _ACC.get(acc.get("Name"))
                if attr:
                    setattr(call, attr, getattr(call, attr) + float(acc["Value"]))
