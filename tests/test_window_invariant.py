"""The window invariant as a property: after EVERY sync cycle the target
holds exactly the last N source rows by key (the reference's one
promise, README.md:9) — in every mode the engine picks (NO_CHANGE,
INCREMENTAL, TRUNCATE, STANDARD), with the state kept or lost, on a
whole-file and on a bucketed sink.

Hypothesis generates cycle sequences; each cycle changes a plain-Python
model of the source table, syncs it, and compares the target with the
model's last-N rows. The model shares no code with the engine."""

from __future__ import annotations

import random
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from d365fo_db_sync_spark.sinks import BucketedParquetTarget, ParquetTarget
from d365fo_db_sync_spark.state import StateStore
from d365fo_db_sync_spark.sync import STANDARD, SyncConfig, SyncEngine

pytestmark = pytest.mark.fast

WINDOW = 40
SCHEMA = "RecId long, SysRowVersion long, AMOUNT long"
#: versions of late rows: below every watermark the clock ever commits
LATE_VERSION = 50


class SourceModel:
    """The source table as a dict ``key -> (version, amount)``, with a
    database-wide rowversion clock: every write takes the next version."""

    def __init__(self, n: int) -> None:
        self.clock = 100
        self.rows = {k: (self._tick(), k) for k in range(1, n + 1)}

    def _tick(self) -> int:
        self.clock += 1
        return self.clock

    def _new_key(self) -> int:
        return max(self.rows, default=0) + 1

    def window(self) -> list[tuple]:
        return sorted((k, *self.rows[k]) for k in sorted(self.rows)[-WINDOW:])

    def apply(self, cycle: dict) -> None:
        rng = random.Random(cycle["seed"])
        in_window = [k for k, *_ in self.window()]
        if cycle["big"]:  # above the 40% threshold: the cycle takes TRUNCATE
            touched = rng.sample(in_window, k=len(in_window) // 2)
        else:
            touched = rng.sample(in_window, k=min(cycle["modify"], len(in_window)))
        for k in touched:
            self.rows[k] = (self._tick(), rng.randrange(10**6))
        for k in rng.sample(in_window, k=min(cycle["delete"], len(in_window))):
            self.rows.pop(k, None)
        for _ in range(cycle["insert"]):  # each one moves the lower edge up
            self.rows[self._new_key()] = (self._tick(), rng.randrange(10**6))
        if cycle["late"]:  # committed late: its version sits below the watermark
            self.rows[self._new_key()] = (LATE_VERSION, -1)
        if cycle["null_version"]:
            self.rows[self._new_key()] = (None, -2)


cycle_st = st.fixed_dictionaries(
    {
        "seed": st.integers(min_value=0, max_value=2**16),
        "insert": st.integers(min_value=0, max_value=6),
        "modify": st.integers(min_value=0, max_value=4),
        "delete": st.integers(min_value=0, max_value=3),
        "late": st.booleans(),
        "null_version": st.booleans(),
        "big": st.booleans(),
        "state_loss": st.booleans(),
    }
)


def _cycle(**changes) -> dict:
    base = dict(
        seed=0, insert=0, modify=0, delete=0, late=False, null_version=False,
        big=False, state_loss=False,
    )  # fmt: skip
    return {**base, **changes}


SINKS = {
    "plain": lambda root: ParquetTarget(root),
    "bucketed": lambda root: BucketedParquetTarget(root, key="RecId", n_buckets=4),
}


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    initial=st.integers(min_value=WINDOW, max_value=60),
    cycles=st.lists(cycle_st, min_size=1, max_size=3),
)
# a state loss in the cycle whose inserts pushed the window up: the
# STANDARD compare must drop the target rows that fell below it
@example(initial=50, cycles=[_cycle(insert=5, modify=2, state_loss=True)])
# every change kind at once after a state loss, then again with state
@example(
    initial=60,
    cycles=[
        _cycle(seed=1, insert=3, modify=3, delete=2, late=True, null_version=True, state_loss=True),
        _cycle(seed=2, insert=4, modify=1, delete=1, late=True),
    ],
)
# with state: a NULL-version row goes missing beside a versioned one,
# and the late-data floor must still fetch it
@example(initial=40, cycles=[_cycle(insert=1, null_version=True)])
# above the threshold with state (TRUNCATE), then nothing (NO_CHANGE)
@example(initial=45, cycles=[_cycle(seed=3, big=True, insert=2), _cycle()])
def test_target_equals_last_n_after_every_cycle(spark, tmp_path, initial, cycles):
    root = tempfile.mkdtemp(dir=tmp_path)
    store = StateStore(f"{root}/state.json")
    engine = SyncEngine(spark, store, SyncConfig(record_count=WINDOW))
    source = SourceModel(initial)
    targets = {label: make(f"{root}/{label}") for label, make in SINKS.items()}

    def sync_and_check(cycle_no: int, state_lost: bool) -> None:
        src = spark.createDataFrame([(k, v, a) for k, (v, a) in source.rows.items()], SCHEMA)
        want = source.window()
        for label, target in targets.items():
            report = engine.sync_table(label, src, target)
            if state_lost:
                assert report.mode == STANDARD, (label, cycle_no, report)
            rows = target.read(spark).select("RecId", "SysRowVersion", "AMOUNT").collect()
            got = sorted(tuple(r) for r in rows)
            assert got == want, (label, cycle_no, report)

    sync_and_check(0, state_lost=False)
    for i, cycle in enumerate(cycles, start=1):
        source.apply(cycle)
        if cycle["state_loss"]:
            for label in targets:
                store.clear(label)
        sync_and_check(i, state_lost=cycle["state_loss"])
