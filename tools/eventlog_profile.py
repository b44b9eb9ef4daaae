"""Per-stage profile of a Spark event log, grouped by job description.

Usage::

    python tools/eventlog_profile.py EVENTLOG [--desc PREFIX] [--json]

``EVENTLOG`` is the uncompressed JSON-lines file Spark writes with
``spark.eventLog.enabled=true`` (and ``spark.eventLog.compress=false``),
or the directory ``eventlog_v2_<app>/`` a rolling event log writes (the
default since Spark 4.0), whose ``events_<n>_<app>`` files are read in
the order of ``n``.
Each stage that ran tasks gets one row: its id, tasks, shuffle read and
write bytes, records read (input plus shuffle), the summed executor run
time of its tasks, and the names of the plan scopes its RDDs came from
(``Exchange``, ``WholeStageCodegen (3)``, ``FlatMapCoGroupsInPandas``, …),
which tie the stage back to the physical plan. A stage belongs to the
description (``spark.job.description``) of the first job that listed it;
stages of undescribed jobs group under ``(none)``. Skipped stages ran no
task and print no row. ``--desc`` keeps only descriptions starting with
``PREFIX``; ``--json`` prints the rows as one JSON list instead.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

COLS = ("stage", "tasks", "read_kb", "write_kb", "records", "run_ms")


def _scope_name(rdd: dict) -> str | None:
    scope = rdd.get("Scope")
    return json.loads(scope).get("name") if scope else None


def _lines(path: str):
    """The event lines of a log file, or of a rolled log directory's
    ``events_<n>_*`` files in numeric order of ``n``."""
    if os.path.isdir(path):
        parts = sorted(
            (int(m.group(1)), name) for name in os.listdir(path)
            if (m := re.match(r"events_(\d+)_", name))
        )
        files = [os.path.join(path, name) for _, name in parts]
    else:
        files = [path]
    for fp in files:
        with open(fp) as f:
            yield from f


def profile(path: str) -> list[dict]:
    """One dict per stage that ran tasks, in stage-id order."""
    desc_of: dict[int, str] = {}
    info: dict[int, dict] = {}
    stats: dict[int, dict] = {}
    for line in _lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or "(none)"
            for st in ev.get("Stage Infos", []):
                desc_of.setdefault(st["Stage ID"], desc)
                info.setdefault(st["Stage ID"], st)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            rd = tm.get("Shuffle Read Metrics", {})
            s = stats.setdefault(
                ev["Stage ID"],
                {"tasks": 0, "read_b": 0, "write_b": 0, "records": 0, "run_ms": 0},
            )
            s["tasks"] += 1
            s["read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s["write_b"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            s["records"] += (tm.get("Input Metrics", {}).get("Records Read", 0)
                             + rd.get("Total Records Read", 0))
            s["run_ms"] += tm.get("Executor Run Time", 0)
    rows = []
    for sid in sorted(stats):
        st = info.get(sid, {})
        scopes: list[str] = []
        for rdd in sorted(st.get("RDD Info", []), key=lambda r: r["RDD ID"]):
            name = _scope_name(rdd)
            if name and name not in scopes:
                scopes.append(name)
        rows.append({
            "desc": desc_of.get(sid, "(none)"), "stage": sid,
            "name": st.get("Stage Name", ""), **stats[sid], "scopes": scopes,
        })
    return rows


def _cells(r: dict) -> tuple:
    return (r["stage"], r["tasks"], round(r["read_b"] / 1024, 1),
            round(r["write_b"] / 1024, 1), r["records"], r["run_ms"])


def _total(label: str, rows: list[dict]) -> dict:
    keys = ("tasks", "read_b", "write_b", "records", "run_ms")
    return {"stage": label, **{k: sum(r[k] for r in rows) for k in keys}}


def format_rows(rows: list[dict]) -> str:
    """A text table: one block per description, its stages, then its
    total; the last line totals every row printed."""
    out = []
    line = lambda cells, tail: "  " + "".join(f"{c!s:>10}" for c in cells) + "  " + tail
    by_desc: dict[str, list[dict]] = {}
    for r in rows:
        by_desc.setdefault(r["desc"], []).append(r)
    for desc, rs in by_desc.items():
        out.append(f"== {desc}")
        out.append(line(COLS, "scopes"))
        for r in rs:
            out.append(line(_cells(r), ", ".join(r["scopes"])))
        out.append(line(_cells(_total("total", rs)), f"{len(rs)} stages"))
    out.append(line(_cells(_total("ALL", rows)), f"{len(rows)} stages"))
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--desc", default="", help="keep descriptions starting with this prefix")
    ap.add_argument("--json", action="store_true", help="print the rows as JSON")
    args = ap.parse_args(argv)
    rows = [r for r in profile(args.eventlog) if r["desc"].startswith(args.desc)]
    print(json.dumps(rows, indent=1) if args.json else format_rows(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
