"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded by the benchmark's own code around each call into a
layer's public function (nothing inside the engine is instrumented) and
kept in memory. The Spark event log, enabled only for the traced run,
supplies the job/stage/task records; after the session stops, each job
is attributed to the span whose interval contains its submission time.
Job groups are not used for attribution: ``CheckpointRunner.stage``
overwrites the job group.

Per-layer metrics follow the Arrow-crossing split of "Accelerating
Python UDFs in Vectorized Query Execution" (CIDR'22) and the per-stage
shuffle accounting of "Hyper Dimension Shuffle" (VLDB'19).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

MB = 1e6

# Spark 4.1 SQL metrics of the Python-worker operators (mapInPandas,
# pandas UDFs), summed over tasks; their timing metrics count ms.
PY_METRICS = {
    "py_sent_mb": ("data sent to Python workers", MB),
    "py_recv_mb": ("data returned from Python workers", MB),
    "py_run_s": ("time to run Python workers", 1e3),
    "py_boot_s": ("time to start Python workers", 1e3),
}
PY_NAMES = {name for name, _scale in PY_METRICS.values()}

# the metrics every layer reports, with their units
UNITS = dict(wall_s="s", task_s="s", core_util="ratio", rows_out="count",
             shuffle_read_mb="MB", shuffle_write_mb="MB", spill_mb="MB",
             task_skew="ratio", gc_s="s", jobs="count")


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    rows: int = 0


@dataclass
class Tracer:
    """Spans kept in memory; :meth:`write` dumps them at the end."""
    spans: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, time.time() * 1000)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000
            self.spans.append(s)

    def get(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f, indent=1)


@dataclass
class Task:
    launch_ms: float
    finish_ms: float
    gc_ms: float
    shuffle_read: float
    shuffle_write: float
    spill: float
    accums: dict[str, float]


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float = 0.0
    call_site: str = ""
    stage_ids: list[int] = field(default_factory=list)


def read_event_log(evdir: str) -> tuple[dict[int, Job], dict[int, list]]:
    """(jobs by id, tasks by stage id) from the one application's
    uncompressed event log under ``evdir``."""
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[Task]] = {}
    paths = [p for p in glob.glob(os.path.join(evdir, "*"))
             if os.path.isfile(p)]
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"],
                        call_site=props.get("callSite.short", ""),
                        stage_ids=list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc: dict[str, float] = {}
                    for a in ti.get("Accumulables") or []:
                        name, upd = a.get("Name"), a.get("Update")
                        # SQL metric updates are logged as numeric strings
                        if name in PY_NAMES:
                            acc[name] = acc.get(name, 0.0) + float(upd)
                    tasks.setdefault(ev["Stage ID"], []).append(Task(
                        ti.get("Launch Time", 0), ti.get("Finish Time", 0),
                        tm.get("JVM GC Time", 0),
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        tm.get("Disk Bytes Spilled", 0), acc))
    return jobs, tasks


def jobs_in(span: Span, jobs: dict[int, Job]) -> list[Job]:
    return [j for j in jobs.values()
            if span.start_ms <= j.submit_ms <= span.end_ms]


def _stage_tasks(js: list[Job], tasks: dict[int, list]) -> dict[int, list]:
    return {sid: tasks[sid] for j in js for sid in j.stage_ids
            if sid in tasks}


def busy_ms(ts: list[Task], start_ms: float, end_ms: float) -> float:
    """Length of the union of task run intervals inside [start, end]."""
    ivs = sorted((max(t.launch_ms, start_ms), min(t.finish_ms, end_ms))
                 for t in ts)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(span: Span, jobs: dict[int, Job],
                  tasks: dict[int, list], cores: int) -> dict[str, float]:
    """The common per-layer metrics for one span."""
    js = jobs_in(span, jobs)
    by_stage = _stage_tasks(js, tasks)
    ts = [t for st in by_stage.values() for t in st]
    wall_s = (span.end_ms - span.start_ms) / 1000
    task_s = sum(t.finish_ms - t.launch_ms for t in ts) / 1000
    # skew of the layer's heaviest stage: max / median task time
    skew = 1.0
    if by_stage:
        heavy = max(by_stage.values(),
                    key=lambda st: sum(t.finish_ms - t.launch_ms for t in st))
        durs = [t.finish_ms - t.launch_ms for t in heavy]
        skew = max(durs) / max(statistics.median(durs), 1.0)
    return dict(
        wall_s=wall_s, task_s=task_s,
        core_util=task_s / max(wall_s * cores, 1e-9),
        rows_out=float(span.rows),
        shuffle_read_mb=sum(t.shuffle_read for t in ts) / MB,
        shuffle_write_mb=sum(t.shuffle_write for t in ts) / MB,
        spill_mb=sum(t.spill for t in ts) / MB,
        task_skew=skew,
        gc_s=sum(t.gc_ms for t in ts) / 1000,
        jobs=float(len(js)),
    )


def span_tasks(span: Span, jobs: dict[int, Job],
               tasks: dict[int, list]) -> list[Task]:
    return [t for st in _stage_tasks(jobs_in(span, jobs), tasks).values()
            for t in st]


def py_metrics(ts: list[Task]) -> dict[str, float]:
    return {k: sum(t.accums.get(name, 0.0) for t in ts) / scale
            for k, (name, scale) in PY_METRICS.items()}


def lineage_seconds(span: Span, jobs: dict[int, Job]) -> float:
    """Wall time of the checkpoint's lineage census jobs (the per-file
    row-count ``collect`` each ``CheckpointRunner.stage`` runs after its
    write), recognised by their call site."""
    return sum(j.end_ms - j.submit_ms for j in jobs_in(span, jobs)
               if j.call_site.startswith("collect at")
               and "checkpoint.py" in j.call_site) / 1000
