"""Per-table sync state: watermarks + max-transferred-key.

Reference parity: TimestampManager.cs:9-86 (two rowversion watermarks per
table, source-side and target-side) and MaxRecIdManager.cs:10-75 (fallback
watermark for tables without a rowversion column). Crash-safety contract:
state is committed per table only AFTER a successful transfer
(CopyOrchestrator.cs:975-978) and NEVER advanced on failure
(DBSyncTool_Optimization_Spec.md:1529-1534).

Storage is a JSON file written atomically (tmp + rename) — the Spark
analog of the reference's config-file persistence. On a cluster this file
lives on shared storage (or is swapped for a Delta/JDBC state table); the
interface stays the same.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from dataclasses import asdict, dataclass


@dataclass
class TableState:
    """Mirrors the persisted per-table lines (AppConfiguration.cs:45-49)."""

    src_ts: int | None = None  # source high-water SysRowVersion (uint64 surrogate)
    tgt_ts: int | None = None  # target high-water SysRowVersion
    max_transferred_key: int | None = None  # fallback-mode watermark
    next_sequence: int | None = None  # T7 fencing state
    #: target half of the no-change probe, learned by a scan that found
    #: the table in sync: {path, rows, sum1, sum2, max_ver} of the live
    #: version directory named ``path``, relative to the target root
    #: (immutable once published). Every post-write commit builds a
    #: fresh TableState, which drops it.
    witness: dict | None = None


class StateStore:
    """Crash-safe key-value store of TableState, keyed by upper-cased
    table name (case-insensitive like the reference,
    TimestampManager.cs:20)."""

    def __init__(self, path: str) -> None:
        self._path = path
        self._state: dict[str, TableState] = {}
        # commits arrive from the orchestrator's worker pool (up to 10
        # threads, Orchestrator.process): mutate + snapshot under a lock so
        # a concurrent commit can neither tear the dict mid-iteration nor
        # race two os.replace calls into losing a just-committed table
        self._lock = threading.Lock()
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                raw = json.load(f)
            self._state = {k: TableState(**v) for k, v in raw.items()}

    def get(self, table: str) -> TableState:
        with self._lock:
            return self._state.get(table.upper(), TableState())

    def commit(self, table: str, state: TableState) -> None:
        """Update one table's state and persist immediately — the
        per-table commit that makes interrupted runs resumable
        (CopyOrchestrator.cs:975-978)."""
        with self._lock:
            self._state[table.upper()] = state
            self._flush()

    def merge_commit(self, table: str, state: TableState, merge_fn) -> TableState:
        """Read-merge-write in ONE critical section. ``commit`` alone is
        atomic, but a caller doing get() -> merge -> commit() holds the
        lock twice: two concurrent commits for the SAME table can
        interleave and lose a maximum. Pass ``merge_fn(old, new) ->
        TableState``; it runs under the store lock, so the merged value
        is computed against the truly-latest state. Returns the merged
        state that was persisted."""
        with self._lock:
            old = self._state.get(table.upper(), TableState())
            merged = merge_fn(old, state)
            self._state[table.upper()] = merged
            self._flush()
            return merged

    def clear(self, table: str | None = None) -> None:
        with self._lock:
            if table is None:
                self._state.clear()
            else:
                self._state.pop(table.upper(), None)
            self._flush()

    def _flush(self) -> None:
        """Serialize + atomic-swap; caller holds ``self._lock``."""
        # deterministic ordering (TimestampManager.cs:78-84) + atomic swap
        payload = {k: asdict(v) for k, v in sorted(self._state.items())}
        d = os.path.dirname(os.path.abspath(self._path)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump(payload, f, indent=1, sort_keys=True)
            os.replace(tmp, self._path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
