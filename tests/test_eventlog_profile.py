"""tools/eventlog_profile.py over a small synthetic Spark event log: one
row per stage that ran tasks, grouped by the description of the first job
that listed it, with summed task metrics and the stage's plan scopes. A
rolled log directory reads as its files concatenated in numeric order."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import eventlog_profile as ep  # noqa: E402


def _rdd(rid, scope):
    return {"RDD ID": rid, "Scope": json.dumps({"id": str(rid), "name": scope})}


def _stage(sid, name, rdds):
    return {"Stage ID": sid, "Stage Name": name, "Number of Tasks": 2, "RDD Info": rdds}


def _task(sid, run_ms, read=0, write=0, rows_in=0, rows_shuffled=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Input Metrics": {"Records Read": rows_in},
            "Shuffle Read Metrics": {"Remote Bytes Read": read // 2,
                                     "Local Bytes Read": read - read // 2,
                                     "Total Records Read": rows_shuffled},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def _job(jid, desc, stages):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage Infos": stages,
            "Stage IDs": [s["Stage ID"] for s in stages], "Properties": props}


def _events():
    map_stage = _stage(0, "collect at rounds.py:1",
                       [_rdd(2, "Exchange"), _rdd(1, "WholeStageCodegen (1)"),
                        _rdd(0, "Scan parquet ")])
    reduce_stage = _stage(1, "collect at rounds.py:1",
                          [_rdd(3, "AQEShuffleRead"), _rdd(4, "Window")])
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, "round 1: lineage", [map_stage, reduce_stage]),
        _task(0, 30, write=1024, rows_in=10),
        _task(0, 50, write=1024, rows_in=5),
        _task(1, 20, read=2048, rows_shuffled=15),
        # a later job lists stage 0 again (skipped there) and runs stage 2
        _job(1, None, [map_stage, _stage(2, "count at x.py:2", [_rdd(5, "Exchange")])]),
        _task(2, 7, rows_in=3),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2},  # a failed task: no metrics
    ]
    return [json.dumps(ev) + "\n" for ev in events]


def _write_log(path):
    with open(path, "w") as f:
        f.writelines(_events())


def test_profile_rows(tmp_path):
    path = str(tmp_path / "eventlog")
    _write_log(path)
    rows = ep.profile(path)
    assert [(r["desc"], r["stage"], r["tasks"]) for r in rows] == [
        ("round 1: lineage", 0, 2), ("round 1: lineage", 1, 1), ("(none)", 2, 1),
    ]
    r0, r1, r2 = rows
    assert (r0["write_b"], r0["read_b"], r0["records"], r0["run_ms"]) == (2048, 0, 15, 80)
    assert (r1["write_b"], r1["read_b"], r1["records"], r1["run_ms"]) == (0, 2048, 15, 20)
    assert r0["scopes"] == ["Scan parquet ", "WholeStageCodegen (1)", "Exchange"]
    assert r1["scopes"] == ["AQEShuffleRead", "Window"]
    assert r2["name"] == "count at x.py:2" and r2["records"] == 3


def test_table_and_cli(tmp_path, capsys):
    path = str(tmp_path / "eventlog")
    _write_log(path)
    text = ep.format_rows(ep.profile(path))
    lines = text.splitlines()
    assert lines[0] == "== round 1: lineage"
    assert lines[-1].split()[:3] == ["ALL", "4", "2.0"]
    total = next(line for line in lines if line.split()[0] == "total")
    assert total.split()[:6] == ["total", "3", "2.0", "2.0", "30", "100"]

    assert ep.main([path, "--desc", "round", "--json"]) == 0
    rows = json.loads(capsys.readouterr().out)
    assert {r["desc"] for r in rows} == {"round 1: lineage"} and len(rows) == 2


def test_rolled_log_directory(tmp_path):
    """Spark's rolling event log is a directory ``eventlog_v2_<app>/`` of
    ``events_<n>_<app>`` files: they are read in numeric order of ``n``
    (10 after 2), and other files in the directory are ignored."""
    app = "local-1700000000000"
    roll = tmp_path / f"eventlog_v2_{app}"
    roll.mkdir()
    lines = _events()
    # job 0 is in file 2, job 1 in file 10: read as names sort, job 1
    # would list stage 0 first and take it from job 0's description
    for n, chunk in ((1, lines[:1]), (2, lines[1:5]), (10, lines[5:])):
        (roll / f"events_{n}_{app}").write_text("".join(chunk))
    (roll / f"appstatus_{app}").write_text("")
    single = str(tmp_path / "eventlog")
    _write_log(single)
    assert ep.profile(str(roll)) == ep.profile(single)
    assert ep.main([str(roll), "--json"]) == 0
