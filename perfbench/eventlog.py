"""Per-phase job, stage and task counters from a Spark event log.

A traced run enables Spark's event log (plain JSON lines: no rolling, no
compression) in a directory the benchmark owns and parses it after the
session stops. Each job is attributed to one benchmark phase:

- by its ``spark.jobGroup.id`` when the group is one the benchmark set
  (``pb:<exec_id>:<phase>``);
- otherwise by its submission time falling inside a phase's interval.
  Jobs a query submits from threads of its own need this rule: a Python
  thread does not inherit the caller's job group, so the six jobs of
  ``pipeline_cdc_replica``'s two pooled ``LogTxTable.init`` calls carry
  none.

Each stage belongs to the first job that lists it; each task to its stage.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_TIME = "time to run Python workers"


@dataclass
class PhaseCounters:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def group_id(exec_id: str, phase: str) -> str:
    return f"pb:{exec_id}:{phase}"


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def attribute(events, phases) -> dict[tuple[str, str], PhaseCounters]:
    """Counters for each ``(exec_id, phase)`` in ``phases``, a list of
    ``(exec_id, phase, start_s, end_s)`` with wall-clock seconds."""
    by_group = {group_id(e, p): (e, p) for e, p, _, _ in phases}
    windows = sorted((lo * 1000.0, hi * 1000.0, (e, p)) for e, p, lo, hi in phases)
    out: dict[tuple[str, str], PhaseCounters] = defaultdict(PhaseCounters)
    stage_key: dict[int, tuple[str, str]] = {}

    def by_time(ms: float):
        for lo, hi, key in windows:
            if lo <= ms <= hi:
                return key
        return None

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            key = by_group.get(group) or by_time(ev["Submission Time"])
            if key is None:
                continue
            out[key].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            c = out[key]
            c.stages.add(ev["Stage ID"])
            c.tasks += 1
            info = ev["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                c.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.run_s += m.get("Executor Run Time", 0) / 1e3
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME:
                    c.python_s += float(acc.get("Update", 0)) / 1e3
    return dict(out)
