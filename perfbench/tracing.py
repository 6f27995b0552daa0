"""Spans, Spark event-log parsing and streaming-progress parsing.

Everything here is plain Python over dicts, so the self-tests run it
against small recorded fixtures without a Spark session.

Clocks: spans use ``time.time()`` (seconds since the epoch); the event log
and streaming progress use the JVM's wall clock in milliseconds. Both read
the same host clock, so a job can be placed inside the benchmark span
that submitted it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from datetime import datetime, timezone

from stats import self_time


class Spans:
    """In-memory span recorder; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str, parent: int | None = None, **attrs):
        rec = {"id": len(self.spans), "parent": parent, "name": name, "kind": kind,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None = None, **attrs) -> dict:
        rec = {"id": len(self.spans), "parent": parent, "name": name, "kind": kind,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def of_kind(self, kind: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == kind]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def coverage(self, span: dict) -> float:
        """Share of ``span``'s wall time that its descendants' self times
        account for: 1.0 when child spans tile it completely. Each span is
        clipped to its parent's interval first, so work that outlives the
        call that started it (an asynchronous job) is not counted twice."""
        covered = 0.0
        stack = [(c, (span["start"], span["end"])) for c in self.children(span)]
        while stack:
            s, (lo, hi) = stack.pop()
            a, b = max(s["start"], lo), min(s["end"], hi)
            if b <= a:
                continue
            kids = self.children(s)
            covered += self_time((a, b), [(k["start"], k["end"]) for k in kids])
            stack.extend((k, (a, b)) for k in kids)
        return covered / (span["end"] - span["start"])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --- Spark event log -------------------------------------------------------

# Task accumulable updates summed per stage, by the name the event log uses.
STAGE_METRICS = {
    "run_ms": ("internal.metrics.executorRunTime",),
    "cpu_ns": ("internal.metrics.executorCpuTime",),
    "gc_ms": ("internal.metrics.jvmGCTime",),
    "shuffle_read_bytes": (
        "internal.metrics.shuffle.read.remoteBytesRead",
        "internal.metrics.shuffle.read.localBytesRead",
    ),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten",),
    "spill_bytes": (
        "internal.metrics.memoryBytesSpilled",
        "internal.metrics.diskBytesSpilled",
    ),
    "input_bytes": ("internal.metrics.input.bytesRead",),
    "input_rows": ("internal.metrics.input.recordsRead",),
    # SQL metrics of the Python (Arrow) exec nodes
    "python_sent_bytes": ("data sent to Python workers",),
    "python_returned_bytes": ("data returned from Python workers",),
    "python_start_ms": ("time to start Python workers",),
    "python_init_ms": ("time to initialize Python workers",),
    "python_run_ms": ("time to run Python workers",),
}
_METRIC_OF = {acc: key for key, accs in STAGE_METRICS.items() for acc in accs}
PYTHON_TASK_MARK = "time to run Python workers"

JOB_GROUP = "spark.jobGroup.id"
BATCH_ID = "streaming.sql.batchId"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _stage(stages: dict, sid: int) -> dict:
    if sid not in stages:
        stages[sid] = {"id": sid, "tasks": 0, "done": False,
                       "metrics": dict.fromkeys((*STAGE_METRICS, "python_tasks"), 0.0)}
    return stages[sid]


def parse_event_log(lines) -> dict:
    """Jobs and stages from Spark event-log JSON lines.

    Returns ``{"jobs": {id: job}, "stages": {id: stage}}``. A job carries
    ``start``/``end`` (epoch s), its local ``props`` (job group, stream
    batch id) and ``stages``. A stage carries ``tasks`` (from its
    completion event) and ``metrics``: the per-task accumulable *updates*
    summed over its finished tasks, plus ``python_tasks``, the tasks that
    ran Python workers. Task updates, not the accumulators' running
    values, because a SQL metric's accumulator lives as long as its plan
    node and can span several stages.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "props": ev.get("Properties") or {},
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            metrics = _stage(stages, ev["Stage ID"])["metrics"]
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                name = acc.get("Name")
                key = _METRIC_OF.get(name)
                if key:
                    metrics[key] += _num(acc.get("Update"))
                if name == PYTHON_TASK_MARK:
                    metrics["python_tasks"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = _stage(stages, info["Stage ID"])
            st["tasks"] = info.get("Number of Tasks", 0)
            st["done"] = True
    return {"jobs": jobs, "stages": {k: v for k, v in stages.items() if v["done"]}}


def read_event_log(log_dir: str) -> dict:
    """Parse every uncompressed event-log file under ``log_dir``."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    lines: list[str] = []
    for f in files:
        with open(f) as fh:
            lines.extend(line for line in fh if line.strip())
    return parse_event_log(lines)


def jobs_where(log: dict, **props) -> list[dict]:
    """Finished jobs whose local properties match ``props`` exactly."""
    return [
        j for j in log["jobs"].values()
        if j["end"] is not None and all(j["props"].get(k) == v for k, v in props.items())
    ]


def stage_totals(log: dict, jobs: list[dict]) -> dict:
    """Stage, task and metric totals over the completed stages of ``jobs``."""
    ids = {s for j in jobs for s in j["stages"] if s in log["stages"]}
    out = dict.fromkeys((*STAGE_METRICS, "python_tasks"), 0.0)
    out["stages"] = float(len(ids))
    out["tasks"] = 0.0
    for sid in ids:
        st = log["stages"][sid]
        out["tasks"] += st["tasks"]
        for k, v in st["metrics"].items():
            out[k] += v
    out["jobs"] = float(len(jobs))
    return out


# --- Streaming progress ----------------------------------------------------

PHASES = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "latest_offset_s": "latestOffset",
    "get_batch_s": "getBatch",
}


def progress_time(progress: dict) -> float:
    """A progress event's trigger start, in epoch seconds."""
    ts = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def progress_totals(progresses: list[dict]) -> dict:
    """Summed phase times, volumes and state-operator figures.

    State gauges (rows, memory, partitions) are taken from the last
    progress event; update and commit times are summed.
    """
    out = dict.fromkeys(PHASES, 0.0)
    out.update(batches=float(len(progresses)), input_rows=0.0, empty_batches=0.0,
               state_rows_total=0.0, state_updates_s=0.0, state_commit_s=0.0,
               state_memory_bytes=0.0, state_partitions=0.0)
    for p in progresses:
        dur = p.get("durationMs") or {}
        for key, name in PHASES.items():
            out[key] += _num(dur.get(name)) / 1000.0
        rows = _num(p.get("numInputRows"))
        out["input_rows"] += rows
        out["empty_batches"] += rows == 0
        ops = p.get("stateOperators") or []
        out["state_updates_s"] += sum(_num(o.get("allUpdatesTimeMs")) for o in ops) / 1000.0
        out["state_commit_s"] += sum(_num(o.get("commitTimeMs")) for o in ops) / 1000.0
    if progresses:
        ops = progresses[-1].get("stateOperators") or []
        out["state_rows_total"] = sum(_num(o.get("numRowsTotal")) for o in ops)
        out["state_memory_bytes"] = sum(_num(o.get("memoryUsedBytes")) for o in ops)
        out["state_partitions"] = sum(_num(o.get("numShufflePartitions")) for o in ops)
    return out
