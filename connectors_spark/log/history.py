"""Commit history + time travel resolution (reference: DeltaHistoryManager,
``DeltaHistoryManager.scala:40-242``).

Commit timestamps come from the delta files' modification times and are
monotonized (each commit's timestamp is forced strictly greater than its
predecessor's, ``monotonizeCommitTimestamps``, DeltaHistoryManager.scala:
222-236) so timestamp-based lookup is well-defined even when a filesystem
reports equal/backwards mtimes. Driver-side: the history is one small
metadata row per commit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List, Optional

from . import filenames as fn
from .actions import CommitInfo, from_json_line
from .logstore import LogStore


@dataclass
class Commit:
    version: int
    timestamp: int  # monotonized, ms


def _commit_ts(store: LogStore, log_path: str, name: str) -> int:
    """A commit's timestamp: its CommitInfo.inCommitTimestamp when the
    writer recorded one (delta.enableInCommitTimestamps — immune to
    log-file copies and filesystem mtime skew), else the file's
    modification time. Mixed pre/post-enablement histories fall back
    PER COMMIT; monotonize() then smooths the seam exactly as it
    smooths mtime skew."""
    path = os.path.join(log_path, name)
    try:
        line = store.read_head(path)
        if line:
            a = from_json_line(line)
            if isinstance(a, CommitInfo) \
                    and a.inCommitTimestamp is not None:
                return a.inCommitTimestamp
    except (FileNotFoundError, ValueError):
        pass
    return store.mtime_ms(path)


def list_commits(store: LogStore, log_path: str,
                 start_version: int = 0) -> List[Commit]:
    names = [n for n in store.list_from(log_path, "%020d" % start_version)
             if fn.is_delta_file(n)]
    commits = [Commit(fn.delta_version(n),
                      _commit_ts(store, log_path, n))
               for n in names]
    commits.sort(key=lambda c: c.version)
    return monotonize(commits)


def monotonize(commits: List[Commit]) -> List[Commit]:
    """Running strictly-increasing pass (DeltaHistoryManager.scala:222-236)."""
    out: List[Commit] = []
    prev = None
    for c in commits:
        ts = c.timestamp
        if prev is not None and ts <= prev:
            ts = prev + 1
        out.append(Commit(c.version, ts))
        prev = ts
    return out


def earliest_version(store: LogStore, log_path: str) -> Optional[int]:
    for n in store.list_from(log_path):
        if fn.is_delta_file(n):
            return fn.delta_version(n)
    return None


def active_commit_at_time(commits: List[Commit], ts_ms: int,
                          can_return_last: bool = False,
                          can_return_earliest: bool = False) -> Commit:
    """Latest commit with timestamp <= ts (DeltaHistoryManager.
    getActiveCommitAtTime:88-116; O2's top-1 as-of lookup)."""
    if not commits:
        raise FileNotFoundError("no commits")
    if ts_ms < commits[0].timestamp:
        if can_return_earliest:
            return commits[0]
        raise ValueError(
            f"The provided timestamp {ts_ms} is before the earliest commit "
            f"({commits[0].timestamp})")
    last = commits[0]
    for c in commits:
        if c.timestamp <= ts_ms:
            last = c
        else:
            break
    if last.version == commits[-1].version and ts_ms > commits[-1].timestamp \
            and not can_return_last:
        raise ValueError(
            f"The provided timestamp {ts_ms} is after the latest commit "
            f"({commits[-1].timestamp})")
    return last


def commit_info_at(store: LogStore, log_path: str, version: int) -> CommitInfo:
    """First CommitInfo of the version file (DeltaLogImpl.scala:101-104),
    with the version stamped in."""
    path = fn.delta_file(log_path, version)
    if not store.exists(path):
        raise FileNotFoundError(f"no commit at version {version}")
    info = None
    for line in store.read(path):
        a = from_json_line(line)
        if isinstance(a, CommitInfo):
            info = a
            break
    if info is None:
        info = CommitInfo(timestamp=store.mtime_ms(path), operation="")
    return info
