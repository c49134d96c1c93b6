"""Fold Spark's JSON event log into executor-side counters per job group.

The log must be written uncompressed (``spark.eventLog.compress=false``).
Streaming queries run their jobs under a job group equal to the query's
run id; batch phases set their own group with ``setJobGroup``.
"""

from __future__ import annotations

import json
import os

COUNTERS = ("cpu_s", "run_s", "gc_s", "tasks", "stages", "jobs",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes")


def _files(log_dir: str) -> list[str]:
    out = []
    for root, _, names in os.walk(log_dir):
        for n in sorted(names):
            if not n.endswith(".crc") and not n.startswith("."):
                out.append(os.path.join(root, n))
    return sorted(out)


def fold(log_dir: str) -> dict[str, dict]:
    """Counters per job group (``None`` for jobs outside any group)."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}

    def acc(group):
        return groups.setdefault(group, dict.fromkeys(COUNTERS, 0))

    for path in _files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    acc(group)["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    acc(stage_group.get(sid))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_group.get(ev.get("Stage ID")))
                    a["tasks"] += 1
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return groups


def total(groups: dict[str, dict], names) -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    for g in names:
        for k, v in groups.get(g, {}).items():
            out[k] += v
    return out
