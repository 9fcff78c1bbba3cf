"""Per-phase Spark counters from Spark's own event log.

Jobs are attributed to a phase by their job group: the benchmark sets
``pb:<phase>:<n>`` around each operation it times, and streaming batches
run under the ingester's own ``ingest-<id>-epoch-<N>`` group.
"""

from __future__ import annotations

import glob
import json
import os

from perfbench.tracing import union_length


def group_for(phase: str, n: int) -> str:
    return f"pb:{phase}:{n}"


def read_jobs(log_dir: str) -> dict[str, dict]:
    """Job group -> {"intervals": [(submit_s, end_s)], jobs, task_cpu_s,
    max_task_s, records_read, shuffle_bytes, spill_bytes}."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if not files:
        return {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "submit": ev["Submission Time"] / 1000.0,
                             "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev))
    groups: dict[str, dict] = {}
    for j in jobs.values():
        g = groups.setdefault(j["group"] or "", _empty())
        g["jobs"] += 1
        g["intervals"].append((j["submit"], j["end"] or j["submit"]))
    for sid, ev in tasks:
        jid = stage_job.get(sid)
        if jid is None:
            continue
        g = groups[jobs[jid]["group"] or ""]
        info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["max_task_s"] = max(
            g["max_task_s"],
            (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
        )
        g["records_read"] += (m.get("Input Metrics") or {}).get(
            "Records Read", 0)
        g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
    return groups


def _empty() -> dict:
    return {"jobs": 0, "task_cpu_s": 0.0, "max_task_s": 0.0,
            "records_read": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "intervals": []}


def phase_counters(groups: dict[str, dict], op_spans: list[dict],
                   phases: tuple[str, ...]) -> dict[str, dict]:
    """Per phase: counters summed over its groups, divided by the number
    of operations (``max_task_s`` stays a maximum), plus the driver gap —
    operation wall time that no job of its group covers.  ``op_spans``
    are {"phase", "group", "start", "end"} records, one per operation."""
    out = {}
    for phase in phases:
        ops = [s for s in op_spans if s["phase"] == phase]
        acc = _empty()
        gap = 0.0
        for s in ops:
            g = groups.get(s["group"], _empty())
            for k in ("jobs", "task_cpu_s", "records_read", "shuffle_bytes",
                      "spill_bytes"):
                acc[k] += g[k]
            acc["max_task_s"] = max(acc["max_task_s"], g["max_task_s"])
            gap += (s["end"] - s["start"]) - union_length(
                g["intervals"], s["start"], s["end"])
        n = max(len(ops), 1)
        out[phase] = {
            "jobs": acc["jobs"] / n,
            "task_cpu_s": acc["task_cpu_s"] / n,
            "max_task_s": acc["max_task_s"],
            "records_read": acc["records_read"] / n,
            "shuffle_bytes": acc["shuffle_bytes"] / n,
            "spill_bytes": acc["spill_bytes"] / n,
            "driver_gap_s": gap / n,
            "ops": len(ops),
            "records_total": acc["records_read"],
        }
    return out
