"""Stdlib-only reader for an uncompressed, non-rolling Spark event log.

Folds the log into one record per job group: jobs, stages and tasks
counted, and the task metrics summed (GC time, shuffle bytes written,
spill) or maxed (peak execution memory).  The benchmark tags each query
phase with its own job group (``<query>:build`` and ``<query>:action``),
so a record is the cost of one phase of one query.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = ("jobs", "stages", "tasks", "gc_ms", "shuffle_write_bytes",
          "spill_bytes", "peak_exec_mem_bytes")


def fold(path: str) -> dict[str, dict[str, int]]:
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                rec = out[group]
                rec["jobs"] += 1
                for st in ev.get("Stage Infos", ()):
                    stage_group[st["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                rec = out[stage_group.get(ev.get("Stage ID"), "")]
                rec["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                rec["gc_ms"] += m.get("JVM GC Time", 0)
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                rec["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                rec["peak_exec_mem_bytes"] = max(
                    rec["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                )
    return dict(out)
