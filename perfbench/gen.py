"""Seeded, D365-shaped inputs for the sync-cycle benchmark.

Everything here is NumPy and PyArrow: the generator shares no code with
the engine under test, so the expected outputs it produces are an
independent oracle. The same seed gives the same tables, changes and
CDC batches.

SysRowVersion follows SQL Server's rowversion: one database-wide counter
(:class:`VersionClock`). Every version written in generation g exceeds
every version written in generation g-1. A per-row bump breaks that rule,
and the engine then rightly skips rows below its watermark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEY = "RecId"
VERSION = "SysRowVersion"

AREAS = pa.array(["usmf", "usrt", "demf", "gbsi"])
USMF = 0  # index of "usmf" in AREAS
ITEMS = pa.array([f"IT{i:06d}" for i in range(5000)])

#: payload columns in table order, with their Arrow types
PAYLOAD = {
    "DataAreaId": pa.string(),
    "ItemId": pa.string(),
    "Qty": pa.int64(),
    "Amount": pa.float64(),
    "Status": pa.int32(),
    "ModifiedDateTime": pa.timestamp("us"),
}
#: payload columns an update rewrites (DataAreaId and ItemId stay put)
MUTABLE = ("Qty", "Amount", "Status", "ModifiedDateTime")

_EPOCH_US = 1_700_000_000 * 1_000_000


class VersionClock:
    """The database-wide rowversion counter: strictly increasing."""

    def __init__(self) -> None:
        self.next = 1

    def take(self, n: int) -> np.ndarray:
        out = np.arange(self.next, self.next + n, dtype=np.int64)
        self.next += n
        return out


def _payload_values(rng: np.random.Generator, name: str, n: int) -> np.ndarray:
    """Raw NumPy values for ``n`` rows of one payload column (strings as
    indexes into :data:`AREAS` / :data:`ITEMS`)."""
    if name == "DataAreaId":
        return rng.integers(0, len(AREAS), n, dtype=np.int32)
    if name == "ItemId":
        return rng.integers(0, len(ITEMS), n, dtype=np.int32)
    if name == "Qty":
        return rng.integers(0, 10_000, n, dtype=np.int64)
    if name == "Amount":
        return np.round(rng.random(n) * 100_000.0, 2)
    if name == "Status":
        return rng.integers(0, 8, n, dtype=np.int32)
    if name == "ModifiedDateTime":
        return _EPOCH_US + rng.integers(0, 10**13, n, dtype=np.int64)
    raise KeyError(name)


def _arrow_column(name: str, values: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    mask = None if valid is None else ~valid
    if name == "DataAreaId":
        out = AREAS.take(pa.array(values))
    elif name == "ItemId":
        out = ITEMS.take(pa.array(values))
    else:
        return pa.array(values, type=PAYLOAD[name], mask=mask)
    return out if mask is None else pc.if_else(pa.array(mask), pa.nulls(len(out), pa.string()), out)


def write_parquet(table: pa.Table, path: str) -> None:
    """Several row groups per file, so a Spark scan splits across cores."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 8))


class SourceTable:
    """One source table held as NumPy columns, mutated in place by
    :meth:`change`. The sync window is the last ``window`` rows by key;
    the table holds ~10% more rows than the window, so deletes pull older
    rows into it and inserts push rows out of it.

    Late rows: :meth:`change` stamps some inserts with versions and keys
    in the current generation but keeps them invisible until the next
    change, like a long transaction that commits late. They then appear
    below the watermark the engine stored, and only its late-data widening
    (the missing-key floor) picks them up.
    """

    def __init__(
        self,
        rng: np.random.Generator,
        clock: VersionClock,
        window: int,
        columns: tuple[str, ...] = tuple(PAYLOAD),
        extra: float = 0.1,
    ) -> None:
        self.rng = rng
        self.clock = clock
        self.window = window
        self.columns = columns
        n = int(window * (1 + extra))
        self.key = np.arange(1, n + 1, dtype=np.int64)
        # the initial load is not in key order, so versions are shuffled
        self.ver = clock.take(n)[rng.permutation(n)]
        self.data = {c: _payload_values(rng, c, n) for c in columns}
        self.next_key = n + 1
        self._late: dict[str, np.ndarray] | None = None

    # -- views ----------------------------------------------------------------

    @property
    def names(self) -> list[str]:
        return [KEY, VERSION, *self.columns]

    def table(self, rows: np.ndarray | None = None, columns: list[str] | None = None) -> pa.Table:
        """The visible rows (or the given row indexes) as an Arrow table."""
        take = (lambda a: a) if rows is None else (lambda a: a[rows])
        cols = {KEY: pa.array(take(self.key)), VERSION: pa.array(take(self.ver))}
        for c in self.columns:
            cols[c] = _arrow_column(c, take(self.data[c]))
        names = columns or self.names
        return pa.table({c: cols[c] for c in names})

    def window_rows(self, area: int | None = None) -> np.ndarray:
        """Row indexes of the last-N window, optionally of one DataAreaId."""
        eligible = np.arange(len(self.key))
        if area is not None:
            eligible = eligible[self.data["DataAreaId"] == area]
        order = np.argsort(self.key[eligible])[::-1][: self.window]
        return eligible[order]

    def window_pairs(self, area: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        rows = self.window_rows(area)
        return self.key[rows], self.ver[rows]

    # -- mutation -------------------------------------------------------------

    def change(
        self,
        modify: float,
        delete: float = 0.0,
        insert: float = 0.0,
        late: float = 0.0,
        release_late: bool = True,
    ) -> None:
        """One generation of source changes, each given as a share of the
        window: ``modify`` rows get a new payload and version, ``delete``
        rows vanish, ``insert`` new keys arrive above the current maximum,
        and a ``late`` share of those inserts stays invisible until a later
        change. Late rows held back earlier appear first, unless
        ``release_late`` is false."""
        rng, w = self.rng, self.window
        if release_late and self._late is not None:
            self._append(self._late)
            self._late = None
        window = self.window_rows()
        n_mod, n_del = int(w * modify), int(w * delete)
        picked = rng.choice(window, size=n_mod + n_del, replace=False)
        mod, dead = picked[:n_mod], picked[n_mod:]
        n_ins = int(w * insert)
        n_late = min(n_ins, int(w * late))
        # versions in allocation order: late rows first, so they sit below
        # everything else this generation publishes (and so below the
        # watermark once this generation is synced)
        late_ver = self.clock.take(n_late)
        self.ver[mod] = self.clock.take(n_mod)
        for c in MUTABLE:
            if c in self.data:
                self.data[c][mod] = _payload_values(rng, c, n_mod)
        keep = np.ones(len(self.key), dtype=bool)
        keep[dead] = False
        self._filter(keep)
        if n_ins:
            keys = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
            self.next_key += n_ins
            is_late = np.zeros(n_ins, dtype=bool)
            is_late[rng.choice(n_ins, size=n_late, replace=False)] = True
            new = {KEY: keys, VERSION: np.empty(n_ins, dtype=np.int64)}
            new[VERSION][is_late] = late_ver
            new[VERSION][~is_late] = self.clock.take(n_ins - n_late)
            for c in self.columns:
                new[c] = _payload_values(rng, c, n_ins)
            self._append({k: v[~is_late] for k, v in new.items()})
            if n_late:
                held = {k: v[is_late] for k, v in new.items()}
                if self._late is not None:
                    held = {k: np.concatenate([self._late[k], v]) for k, v in held.items()}
                self._late = held

    def _filter(self, keep: np.ndarray) -> None:
        self.key, self.ver = self.key[keep], self.ver[keep]
        self.data = {c: v[keep] for c, v in self.data.items()}

    def _append(self, rows: dict[str, np.ndarray]) -> None:
        self.key = np.concatenate([self.key, rows[KEY]])
        self.ver = np.concatenate([self.ver, rows[VERSION]])
        self.data = {c: np.concatenate([v, rows[c]]) for c, v in self.data.items()}


def window_change(old: tuple[np.ndarray, np.ndarray], new: tuple[np.ndarray, np.ndarray]) -> int:
    """Rows a target must gain, lose or replace to move from the ``old``
    (keys, versions) window to the ``new`` one."""
    (ok, ov), (nk, nv) = old, new
    _common, oi, ni = np.intersect1d(ok, nk, assume_unique=True, return_indices=True)
    replaced = int(np.count_nonzero(ov[oi] != nv[ni]))
    return (len(nk) - len(oi)) + (len(ok) - len(oi)) + replaced


class CdcStream:
    """A keyed table plus a stream of CDC micro-batches against it.

    Each batch mixes updates of live keys, new keys and tombstones
    (``__deleted`` true, payload NULL), and repeats some keys so one batch
    carries several events for them. Every event takes the next version,
    so the last event per key is also its highest version.
    """

    TOMBSTONE = "__deleted"
    #: shares of a batch's events: new keys, tombstones, and events that
    #: repeat a key an earlier event of the batch touched
    NEW_SHARE, DEAD_SHARE, REPEAT_SHARE = 0.10, 0.05, 0.10

    def __init__(self, rng: np.random.Generator, clock: VersionClock, rows: int) -> None:
        self.rng = rng
        self.clock = clock
        self.base = SourceTable(rng, clock, rows, extra=0.0)
        self.live = np.ones(rows + 1, dtype=bool)
        self.live[0] = False  # keys start at 1
        self.next_key = rows + 1

    def initial(self) -> pa.Table:
        return self.base.table()

    def batch(self, events: int) -> pa.Table:
        rng = self.rng
        n_new, n_dead = int(events * self.NEW_SHARE), int(events * self.DEAD_SHARE)
        n_upd = events - n_new - n_dead
        live_keys = np.flatnonzero(self.live)
        old = rng.choice(live_keys, size=n_upd + n_dead, replace=False)
        keys = np.concatenate([old, np.arange(self.next_key, self.next_key + n_new)])
        self.next_key += n_new
        dead = np.zeros(events, dtype=bool)
        dead[n_upd : n_upd + n_dead] = True
        order = rng.permutation(events)
        keys, dead = keys[order].astype(np.int64), dead[order]
        # repeats: later events re-use a key an earlier event of the batch
        # already touched (update-then-update, update-then-delete, ...)
        later = np.flatnonzero(rng.random(events) < self.REPEAT_SHARE)
        later = later[later > 0]
        keys[later] = keys[(rng.random(len(later)) * later).astype(np.int64)]
        grow = self.next_key - len(self.live)
        if grow > 0:
            self.live = np.concatenate([self.live, np.zeros(grow, dtype=bool)])
        for k, d in zip(keys.tolist(), dead.tolist()):
            self.live[k] = not d
        cols = {KEY: pa.array(keys), VERSION: pa.array(self.clock.take(events))}
        for c in PAYLOAD:
            cols[c] = _arrow_column(c, _payload_values(rng, c, events), valid=~dead)
        cols[self.TOMBSTONE] = pa.array(dead)
        return pa.table(cols)
