"""Storage counters taken from the filesystem and the commit records'
JSON, never through the engine's API.

A table directory holds live data files (paths with no ``_``- or
``.``-prefixed component, the rule Spark's reader applies), the retained
replaced states under ``_history`` and the commit records under
``_commits``. Anything else under the directory (sidecars such as
properties or a Bloom index) counts toward the table's stored bytes too.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class TableBytes:
    live: int = 0
    history: int = 0
    log: int = 0
    other: int = 0
    files_live: int = 0

    @property
    def total(self) -> int:
        return self.live + self.history + self.log + self.other

    def __add__(self, o: "TableBytes") -> "TableBytes":
        return TableBytes(
            self.live + o.live, self.history + o.history, self.log + o.log,
            self.other + o.other, self.files_live + o.files_live,
        )


def _hidden(rel: str) -> bool:
    return any(p.startswith(("_", ".")) for p in rel.split(os.sep))


def live_files(path: str) -> list[str]:
    """Absolute paths of the table's live parquet files."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            if f.endswith(".parquet") and not _hidden(os.path.relpath(full, path)):
                out.append(full)
    return sorted(out)


def table_bytes(path: str) -> TableBytes:
    tb = TableBytes()
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            size = os.path.getsize(full)
            top = rel.split(os.sep)[0]
            if top == "_history":
                tb.history += size
            elif top == "_commits":
                tb.log += size
            elif _hidden(rel):
                tb.other += size
            else:
                tb.live += size
                tb.files_live += f.endswith(".parquet")
    return tb


def tables_under(root: str) -> list[str]:
    """Every table directory (one holding ``_commits``) below ``root``."""
    return sorted(d for d, dirs, _ in os.walk(root) if "_commits" in dirs)


def commit_seqs(path: str) -> list[int]:
    """Commit seqs from the record file names ``_commits/<seq>.json``."""
    log = os.path.join(path, "_commits")
    if not os.path.isdir(log):
        return []
    return sorted(
        int(n[:8]) for n in os.listdir(log) if n.endswith(".json") and n[:8].isdigit()
    )


def commit_records(path: str, after: int) -> list[dict]:
    """Commit records with seq > ``after``, oldest first."""
    out = []
    for seq in commit_seqs(path):
        if seq > after:
            with open(os.path.join(path, "_commits", f"{seq:08d}.json")) as f:
                out.append(json.load(f))
    return out
