"""Output checks that share no code with the engine: DuckDB reads the
target's live parquet files and compares an order-insensitive row digest
(row count plus the sum of a per-row hash) against the expected rows.

* :func:`window_matches` — a snapshot target must equal the last-N window
  of the source, which the generator computes in NumPy.
* :func:`cdc_matches` — a CDC target must equal a replay of the batch
  files: the last event per key wins, and a tombstone deletes the key.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from perfbench.gen import KEY, PAYLOAD, VERSION, CdcStream

#: DuckDB type each column is cast to before hashing, so both sides hash
#: the same values whatever physical type the writer chose
_DUCK_TYPES = {
    KEY: "BIGINT",
    VERSION: "BIGINT",
    "DataAreaId": "VARCHAR",
    "ItemId": "VARCHAR",
    "Qty": "BIGINT",
    "Amount": "DOUBLE",
    "Status": "INTEGER",
    "ModifiedDateTime": "TIMESTAMP",
}


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    return con


def live_files(root: str) -> str:
    """Glob of the parquet files of a target's live version: the version
    directory named by the ``_version`` pointer file, read directly."""
    with open(os.path.join(root, "_version"), encoding="utf-8") as f:
        live = os.path.join(root, f.read().strip())
    return os.path.join(live, "**", "*.parquet")


def _digest(con: duckdb.DuckDBPyConnection, relation: str, columns: list[str]) -> tuple[int, int]:
    cast = ", ".join(f'CAST("{c}" AS {_DUCK_TYPES[c]})' for c in columns)
    count, total = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cast}))::HUGEINT, 0) FROM {relation}"
    ).fetchone()
    return int(count), int(total)


def _target(root: str) -> str:
    return f"read_parquet('{live_files(root)}', hive_partitioning = false)"


def window_matches(con: duckdb.DuckDBPyConnection, target_root: str, expected: pa.Table) -> bool:
    """True when the target holds exactly the ``expected`` rows."""
    con.register("expected_rows", expected)
    try:
        want = _digest(con, "expected_rows", expected.column_names)
    finally:
        con.unregister("expected_rows")
    return _digest(con, _target(target_root), expected.column_names) == want


def cdc_matches(
    con: duckdb.DuckDBPyConnection, target_root: str, initial_file: str, batch_files: list[str]
) -> bool:
    """True when the target equals the replay of ``initial_file`` followed
    by ``batch_files``: per key the highest-version event wins (versions
    follow arrival order), and a winning tombstone removes the key."""
    columns = [KEY, VERSION, *PAYLOAD]
    dead = CdcStream.TOMBSTONE
    files = ", ".join(f"'{f}'" for f in batch_files)
    batches = (
        f"UNION ALL BY NAME SELECT * FROM read_parquet([{files}])" if batch_files else ""
    )
    replay = f"""(
        SELECT * EXCLUDE ("{dead}") FROM (
            SELECT *, false AS "{dead}" FROM read_parquet('{initial_file}')
            {batches}
        )
        QUALIFY row_number() OVER (PARTITION BY "{KEY}" ORDER BY "{VERSION}" DESC) = 1
            AND NOT "{dead}"
    )"""
    return _digest(con, _target(target_root), columns) == _digest(con, replay, columns)
