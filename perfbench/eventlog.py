"""Summarize a Spark event log per job description.

The traced run sets a job description ``bench:<span>`` around every layer
call (``spans.py``), and an untraced pass ``bench:pass.<n>`` around each of
its timed rounds or queries. This module reads the JSON-lines event log
Spark writes (``spark.eventLog.enabled``), maps each stage to the
description of the job that first listed it, and sums task metrics per
description. Jobs without a
``bench:`` description (session start, input generation, checks) are
skipped, so only the timed region counts.
"""

from __future__ import annotations

import json
import statistics

from spans import DESC_PREFIX


def summarize(path: str) -> dict[str, dict[str, float]]:
    stage_desc: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if desc.startswith(DESC_PREFIX):
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc[len(DESC_PREFIX):])
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev.get("Stage ID"))
                if desc is not None and ev.get("Task Metrics"):
                    tasks.setdefault(desc, []).append(ev["Task Metrics"])
    out = {}
    for desc, tms in tasks.items():
        run_ms = [tm.get("Executor Run Time", 0) for tm in tms]
        rd = [tm.get("Shuffle Read Metrics", {}) for tm in tms]
        wr = [tm.get("Shuffle Write Metrics", {}) for tm in tms]
        out[desc] = {
            "tasks": len(tms),
            "shuffle_read_bytes": sum(r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0) for r in rd),
            "shuffle_write_bytes": sum(w.get("Shuffle Bytes Written", 0) for w in wr),
            "spill_bytes": sum(tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0) for tm in tms),
            "records_read": sum(tm.get("Input Metrics", {}).get("Records Read", 0)
                                + r.get("Total Records Read", 0) for tm, r in zip(tms, rd)),
            "task_ms_p50": statistics.median(run_ms),
            "task_ms_max": max(run_ms),
        }
    return out


def combine(summary: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Merge every description equal to ``prefix`` or under ``prefix.``."""
    rows = [v for k, v in summary.items() if k == prefix or k.startswith(prefix + ".")]
    if not rows:
        return {"tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "records_read": 0, "task_skew": 0.0}
    p50 = statistics.median(r["task_ms_p50"] for r in rows)
    return {
        "tasks": sum(r["tasks"] for r in rows),
        "records_read": sum(r["records_read"] for r in rows),
        "shuffle_bytes": sum(r["shuffle_read_bytes"] + r["shuffle_write_bytes"] for r in rows),
        "spill_bytes": sum(r["spill_bytes"] for r in rows),
        "task_skew": max(r["task_ms_max"] for r in rows) / max(p50, 1.0),
    }
