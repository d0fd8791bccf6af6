"""Stdlib-only reader for a local, uncompressed Spark event log.

Every job the benchmark launches while tracing carries a job description
of the form ``<layer>|<step>|<pass>`` (see ``harness.Tracer``).  This
module folds the log's StageSubmitted / StageCompleted / TaskEnd /
StageExecutorMetrics events into one record per completed stage attempt,
keyed by that description, plus the peak JVM and Python-worker RSS.

Per stage: wall time, summed task time, CPU and GC time, shuffle
read/write bytes, spill, records in/out, the RDD operation scopes it ran
(``MapInPandas``, ``ArrowEvalPython``, ``Exchange``, ...) and the
max/median task duration.  Records in = input records read + shuffle
records read; records out = shuffle records written + output records
written.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    attempt: int
    desc: str = ""
    scopes: set[str] = field(default_factory=set)
    wall_s: float = 0.0
    task_durations_s: list[float] = field(default_factory=list)
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_records: int = 0
    shuffle_read_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_write_bytes: int = 0
    output_records: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0

    @property
    def records_in(self) -> int:
        return self.input_records + self.shuffle_read_records

    @property
    def records_out(self) -> int:
        return self.shuffle_write_records + self.output_records

    @property
    def task_skew(self) -> float:
        """max / median task duration; 1.0 for a single-task stage."""
        d = self.task_durations_s
        if not d:
            return 0.0
        med = statistics.median(d)
        return max(d) / med if med > 0 else 1.0


@dataclass
class EventLog:
    stages: list[Stage]
    jvm_peak_rss_bytes: int
    pyworker_peak_rss_bytes: int

    def select(self, layer: str, step: str | None = None,
               run: str | None = None) -> list[Stage]:
        out = []
        for s in self.stages:
            parts = s.desc.split("|")
            if len(parts) != 3 or parts[0] != layer:
                continue
            if step is not None and parts[1] != step:
                continue
            if run is not None and parts[2] != run:
                continue
            out.append(s)
        return out


def _scopes(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope)["name"])
            except (ValueError, KeyError, TypeError):
                pass
    return names


def _peak(metrics: dict | None, key: str) -> int:
    if not metrics:
        return 0
    return int(metrics.get(key, 0) or 0)


def parse(path: str) -> EventLog:
    """Parse one application's event log file."""
    desc_by_stage: dict[int, str] = {}
    tasks: dict[tuple[int, int], list[dict]] = {}
    completed: list[dict] = []
    jvm_rss = py_rss = 0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                props = ev.get("Properties") or {}
                desc_by_stage[sid] = props.get("spark.job.description", "") or ""
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                tasks.setdefault(key, []).append(ev)
                em = ev.get("Task Executor Metrics")
                jvm_rss = max(jvm_rss, _peak(em, "ProcessTreeJVMRSSMemory"))
                py_rss = max(py_rss, _peak(em, "ProcessTreePythonRSSMemory"))
            elif kind == "SparkListenerStageCompleted":
                completed.append(ev["Stage Info"])
            elif kind == "SparkListenerStageExecutorMetrics":
                em = ev.get("Executor Metrics")
                jvm_rss = max(jvm_rss, _peak(em, "ProcessTreeJVMRSSMemory"))
                py_rss = max(py_rss, _peak(em, "ProcessTreePythonRSSMemory"))

    stages = []
    for info in completed:
        sid, att = info["Stage ID"], info.get("Stage Attempt ID", 0)
        st = Stage(sid, att, desc=desc_by_stage.get(sid, ""), scopes=_scopes(info))
        sub, comp = info.get("Submission Time"), info.get("Completion Time")
        if sub and comp:
            st.wall_s = (comp - sub) / 1000.0
        for ev in tasks.get((sid, att), []):
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            if ti.get("Launch Time") and ti.get("Finish Time"):
                st.task_durations_s.append(
                    (ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
            st.task_s += tm.get("Executor Run Time", 0) / 1000.0
            st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            st.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))
            inp = tm.get("Input Metrics") or {}
            st.input_records += inp.get("Records Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_records += sr.get("Total Records Read", 0)
            st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_records += sw.get("Shuffle Records Written", 0)
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            out = tm.get("Output Metrics") or {}
            st.output_records += out.get("Records Written", 0)
            st.output_bytes += out.get("Bytes Written", 0)
        stages.append(st)
    stages.sort(key=lambda s: (s.stage_id, s.attempt))
    return EventLog(stages, jvm_rss, py_rss)


def find_log(event_dir: str) -> str:
    """The single finished application log in `event_dir`."""
    names = [n for n in os.listdir(event_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, got {names}")
    return os.path.join(event_dir, names[0])


def rollup(stages: list[Stage]) -> dict[str, float]:
    """Sum task/CPU/GC time and records over a set of stages."""
    return {
        "task_s": sum(s.task_s for s in stages),
        "cpu_s": sum(s.cpu_s for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "records_in": sum(s.records_in for s in stages),
        "records_out": sum(s.records_out for s in stages),
    }


def heaviest(stages: list[Stage]) -> Stage | None:
    """The stage with the most task time (the one that sets the wall)."""
    return max(stages, key=lambda s: s.task_s, default=None)
