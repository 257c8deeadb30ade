"""Engine counters from Spark's JSON event log.

The event log is switched on through ``get_spark(extra_conf=...)`` (see
:func:`conf`), which works with the UI off. After the session stops, the
log is read back and every job, stage and task is attributed to the time
window its job was submitted in, so a window can be a whole measured phase
or a single query execution.
"""

from __future__ import annotations

import glob
import json
import os

COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s",
    "executor_cpu_s", "gc_s",
)


def conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _zero() -> dict[str, float]:
    return {c: 0 for c in COUNTERS}


def read(log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Counters per window. ``windows`` maps a label to (start, end) in
    epoch seconds; a job counts in every window holding its submission
    time, and its stages and tasks go with it."""
    out = {label: _zero() for label in windows}
    ordered = [(lo * 1000, hi * 1000, label) for label, (lo, hi) in windows.items()]
    stage_labels: dict[int, list[str]] = {}

    def labels_of(ms: float) -> list[str]:
        return [label for lo, hi, label in ordered if lo <= ms <= hi]

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a line cut short by a stop
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    labels = labels_of(ev.get("Submission Time", 0))
                    for label in labels:
                        out[label]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_labels[sid] = labels
                elif kind == "SparkListenerStageCompleted":
                    for label in stage_labels.get(ev["Stage Info"]["Stage ID"], ()):
                        out[label]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if m:
                        for label in stage_labels.get(ev.get("Stage ID"), ()):
                            _add_task(out[label], m)
    return out


def _add_task(c: dict, m: dict) -> None:
    c["tasks"] += 1
    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
