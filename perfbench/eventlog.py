"""Parser for an uncompressed Spark event log (one JSON event a line).

Maps each job's description (set by the tracer to the span that
triggered the job) to its stages and sums, per stage, the task
metrics the per-layer table reports. Python worker times come from
the stage accumulables whose names read "time to ... Python workers".
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# stage accumulable name -> (field, scale to seconds or bytes)
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": (
        "shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": (
        "shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": (
        "shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}

STAGE_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_start_s", "python_init_s", "python_run_s",
)


def _python_field(acc_name: str) -> str | None:
    """'time to start/initialize/run Python workers' style names: the
    verb picks the field; any other name is not a worker time."""
    low = acc_name.lower()
    if "python worker" not in low or not low.startswith("time to"):
        return None
    for verb, fld in (("start", "python_start_s"),
                      ("init", "python_init_s"),
                      ("run", "python_run_s"),
                      ("execut", "python_run_s")):
        if verb in low:
            return fld
    return None


def _ms_value(v) -> float:
    """SQL timing accumulables arrive as numbers (ms) or strings."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


@dataclass
class Job:
    job_id: int
    description: str | None
    submit_s: float
    end_s: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> metric sums; retried attempts add up
    stages: dict[int, dict] = field(default_factory=dict)
    # (launch s, finish s) of every finished task
    tasks: list[tuple[float, float]] = field(default_factory=list)

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        return [
            j for j in self.jobs.values()
            if j.submit_s >= t0 and (j.end_s or j.submit_s) <= t1
        ]

    def stage_totals(self, jobs: list[Job]) -> dict:
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["stages"] = 0
        for j in jobs:
            for sid in j.stage_ids:
                st = self.stages.get(sid)
                if st is None:
                    continue  # skipped (reused shuffle) stage
                out["stages"] += 1
                for k in STAGE_FIELDS:
                    out[k] += st.get(k, 0.0)
        return out

    def busy_intervals(self, t0: float, t1: float) -> list[tuple]:
        """Merged [start, end] intervals inside (t0, t1) during which
        at least one job ran."""
        ivs = sorted(
            (max(j.submit_s, t0), min(j.end_s, t1))
            for j in self.jobs.values()
            if j.end_s is not None and j.end_s > t0 and j.submit_s < t1
        )
        merged: list[list[float]] = []
        for a, b in ivs:
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        return [tuple(m) for m in merged]

    def task_seconds(self, t0: float, t1: float) -> float:
        return sum(
            max(min(b, t1) - max(a, t0), 0.0) for a, b in self.tasks
        )


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                description=props.get("spark.job.description"),
                submit_s=ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], {})
            st["tasks"] = st.get("tasks", 0) + info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name") or ""
                if name in _TASK_METRICS:
                    fld, scale = _TASK_METRICS[name]
                    val = float(acc.get("Value") or 0) * scale
                else:
                    fld = _python_field(name)
                    if fld is None:
                        continue
                    val = _ms_value(acc.get("Value")) * 1e-3
                st[fld] = st.get(fld, 0.0) + val
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info") or {}
            if ti.get("Finish Time"):
                log.tasks.append(
                    (ti["Launch Time"] / 1000.0, ti["Finish Time"] / 1000.0)
                )
    return log


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
