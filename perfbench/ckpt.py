"""Checkpoint accounting from outside the program.

Walks a crawl's workdir after the run, reads the current snapshot manifest
(``metadata/version-hint.txt`` → ``snapshot-<n>.json``) and the parquet
footers of every data file it lists. Nothing in ``sources/catalog.py`` is
called: the on-disk layout is read as a stranger would read it.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq


def _files(path: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(path):
        out.extend(
            os.path.join(dirpath, n) for n in names if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
    return out


def _kind(table: str) -> str:
    return "fetch_batch" if table.startswith("fetch_batch_") else table


def account(workdir: str) -> dict:
    """Bytes, rows and files per table kind in the current snapshot's
    manifest, and the bytes of everything under ``workdir``."""
    meta = os.path.join(workdir, "metadata")
    with open(os.path.join(meta, "version-hint.txt")) as f:
        sid = int(f.read().strip())
    with open(os.path.join(meta, f"snapshot-{sid}.json")) as f:
        snap = json.load(f)
    tables: dict[str, dict[str, int]] = {}
    for table, paths in snap["tables"].items():
        t = tables.setdefault(_kind(table), {"bytes": 0, "rows": 0, "files": 0})
        for p in paths:
            for fp in _files(p):
                t["bytes"] += os.path.getsize(fp)
                t["rows"] += pq.read_metadata(fp).num_rows
                t["files"] += 1
    disk = sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(workdir) for n in names
    )
    return {"tables": tables, "disk_bytes": disk}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(fp) for fp in _files(path))


def dir_rows(paths: list[str]) -> int:
    return sum(pq.read_metadata(fp).num_rows for p in paths for fp in _files(p))
