"""A minimal, independent ``_delta_log`` reader for the change-feed
check and the write counts: commit JSON parsed directly, nothing
shared with the engine's own log code."""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote, urlparse

_COMMIT = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT = re.compile(r"^(\d{20})\.checkpoint(\..*)?\.parquet$")


def log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_delta_log")


def commits(table_dir: str) -> dict[int, str]:
    out = {}
    for f in os.listdir(log_dir(table_dir)):
        m = _COMMIT.match(f)
        if m:
            out[int(m.group(1))] = os.path.join(log_dir(table_dir), f)
    return out


def latest_version(table_dir: str) -> int:
    return max(commits(table_dir))


def actions(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def file_path(table_dir: str, p: str) -> str:
    if p.startswith("file:"):
        return unquote(urlparse(p).path)
    return os.path.join(table_dir, unquote(p))


def change_sources(table_dir: str, version: int) -> list[tuple[str, str]]:
    """Change-data sources of one commit per Delta's CDF rule: (kind,
    abs path) with kind 'cdc' (a change file with ``_change_type``),
    'insert' (an added data file of a commit without cdc actions) or
    'delete' (a removed one)."""
    acts = actions(commits(table_dir)[version])
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    if cdc:
        return [("cdc", file_path(table_dir, c["path"])) for c in cdc]
    out = []
    for a in acts:
        if "add" in a and a["add"].get("dataChange", True):
            out.append(("insert", file_path(table_dir, a["add"]["path"])))
        elif "remove" in a and a["remove"].get("dataChange", True):
            out.append(("delete", file_path(table_dir, a["remove"]["path"])))
    return out


def write_counts(table_dir: str, after_version: int) -> dict:
    """Files added/removed and bytes written (data + change files +
    log JSON + checkpoints) by the commits after ``after_version``."""
    out = {"files_added": 0, "files_removed": 0, "data_bytes": 0, "log_bytes": 0}
    for v, path in sorted(commits(table_dir).items()):
        if v <= after_version:
            continue
        out["log_bytes"] += os.path.getsize(path)
        for a in actions(path):
            if "add" in a:
                out["files_added"] += 1
                out["data_bytes"] += int(a["add"].get("size") or 0)
            elif "remove" in a:
                out["files_removed"] += 1
            elif "cdc" in a:
                out["data_bytes"] += int(a["cdc"].get("size") or 0)
    for f in os.listdir(log_dir(table_dir)):
        m = _CHECKPOINT.match(f)
        if m and int(m.group(1)) > after_version:
            out["log_bytes"] += os.path.getsize(os.path.join(log_dir(table_dir), f))
    return out
