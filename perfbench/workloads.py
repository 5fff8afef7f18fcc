"""The benchmark's three closed-loop workloads.

One caller drives each workload: every cycle, round or batch starts after
the previous one returns. A run of a workload is:

* ``SETUPS`` set-ups (:meth:`Workload.setup`), each from scratch in a
  fresh directory: generate the seeded inputs and load the target. The
  last one stays; the runner reports the median set-up time.
* the ``WARM_UP`` operations, unmeasured;
* whole passes of ``PASS``, the workload's fixed schedule of operation
  classes, until the run's time is up.

For each operation the runner calls, in order:

* ``prepare(cls)`` — untimed: change the source, write its files, build
  the input DataFrames;
* ``execute(prep)`` — timed: the engine call a user would make;
* ``verify(prep, outcome)`` — untimed: the mode the engine chose and the
  target's rows, checked against the generator's independent oracle.

Why these three (see README.md): ``snapshot_resync`` is the paper's core
promise on one large table; ``fleet_resync`` is many small tables where
fixed per-table cost dominates; ``cdc_merge`` is the write-heavy
micro-batch merge into a bucketed target.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from d365fo_db_sync_spark.orchestrator import Orchestrator
from d365fo_db_sync_spark.sinks import BucketedParquetTarget, ParquetTarget
from d365fo_db_sync_spark.state import StateStore
from d365fo_db_sync_spark.sync import (
    INCREMENTAL,
    NO_CHANGE,
    STANDARD,
    TRUNCATE,
    SyncConfig,
    SyncEngine,
)
from perfbench import check
from perfbench.gen import (
    KEY,
    PAYLOAD,
    USMF,
    CdcStream,
    SourceTable,
    VersionClock,
    window_change,
    write_parquet,
)


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    cores: int


@dataclass
class Verdict:
    """What one operation did, as the output check saw it."""

    items: int  # work units: window rows changed, tables, or events
    changed_rows: int  # rows the target had to gain, lose or replace
    modes_ok: int  # engine calls that chose the expected mode
    modes: int  # engine calls
    ok: bool  # no wrong mode and the target matched the oracle
    detail: str = ""
    failed_units: int = 0  # fleet tables that did not complete


class Workload:
    name = ""
    #: operation classes of one schedule pass, in run order
    PASS: tuple[str, ...] = ()
    #: set-ups per run; the runner reports their median time
    SETUPS = 3
    #: operations run after the last set-up and before measuring
    WARM_UP: tuple[str, ...] = ()

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.home = os.path.join(ctx.work, self.name)
        self.dir = ""
        self.con = check.connect(os.path.join(ctx.work, "duckdb"))
        self._schemas: dict[pa.Schema, object] = {}

    def read(self, path: str, like: pa.Schema):
        """The parquet file ``path``, written with the Arrow schema
        ``like``, as a Spark DataFrame. Spark infers each schema once;
        later reads pass it and skip the inference job."""
        schema = self._schemas.get(like)
        if schema is None:
            df = self.spark.read.parquet(path)
            self._schemas[like] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(path)

    @property
    def common(self) -> str:
        """The most frequent operation class of a pass."""
        return Counter(self.PASS).most_common(1)[0][0]

    def passes(self):
        """The schedule: one pass of operation classes after another."""
        while True:
            yield self.PASS

    def setup(self, i: int) -> tuple[float, float]:
        """Set-up ``i`` from scratch: fresh directory, state and target,
        inputs generated from the seed, target loaded. Returns the
        seconds spent generating and loading."""
        if self.dir:
            shutil.rmtree(self.dir)
        self.dir = os.path.join(self.home, f"setup_{i}")
        os.makedirs(self.dir)
        t = time.perf_counter()
        self.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        self.load()
        return gen_s, time.perf_counter() - t

    def warm_up(self) -> None:
        for cls in self.WARM_UP:
            prep = self.prepare(cls)
            verdict = self.verify(prep, self.execute(prep))
            if not verdict.ok:
                raise RuntimeError(f"warm-up {cls} failed: {verdict.detail}")

    def generate(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def prepare(self, cls: str):
        raise NotImplementedError

    def execute(self, prep):
        raise NotImplementedError

    def verify(self, prep, outcome) -> Verdict:
        raise NotImplementedError

    def final_check(self) -> bool:
        """The whole target against the oracle, after the last operation."""
        raise NotImplementedError

    def close(self) -> None:
        self.con.close()


# -- snapshot_resync ------------------------------------------------------------------


@dataclass
class _SnapPrep:
    cls: str
    source: object
    changed: int


class SnapshotResync(Workload):
    """One large table, ``SyncEngine.sync_table`` on a fixed interleaved
    schedule of five cycle classes. No-change cycles are the most common,
    as in a real resync loop."""

    name = "snapshot_resync"
    TABLE = "INVENTTRANS"
    WINDOW = 100_000
    #: the first no-change cycle after a write reads a freshly written
    #: target and runs slower than the next ones; three per change keep
    #: the median no-change cycle among the steady ones
    PASS = (
        "first", "noop", "noop", "noop",
        "incr", "noop", "noop", "noop",
        "refresh", "noop", "noop", "noop",
        "recovery", "noop", "noop", "noop",
    )  # fmt: skip
    WARM_UP = ("noop", "incr", "noop", "refresh", "noop", "recovery", "noop")
    EXPECTED = {
        "first": STANDARD,
        "noop": NO_CHANGE,
        "incr": INCREMENTAL,
        "refresh": TRUNCATE,
        "recovery": STANDARD,
    }
    #: ~1% of the window: modified, deleted, inserted, of which late
    SMALL_CHANGE = dict(modify=0.006, delete=0.0015, insert=0.0025, late=0.0005)
    #: above the engine's 40% threshold, so the cycle takes TRUNCATE
    BIG_CHANGE = dict(modify=0.45)
    #: ~1% of the window modified or deleted while the state was lost.
    #: No inserts or late rows: they push the window's lower edge up, and
    #: the engine's STANDARD path then keeps the target rows that fell
    #: below the window (see README.md, "Known engine defect")
    RECOVERY_CHANGE = dict(modify=0.008, delete=0.002, release_late=False)

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.target: ParquetTarget | None = None

    def generate(self) -> None:
        self.rng = np.random.default_rng([self.ctx.seed, 1])
        self.store = StateStore(os.path.join(self.dir, "state.json"))
        self.engine = SyncEngine(self.spark, self.store, SyncConfig(record_count=self.WINDOW))
        self.generation = 0
        self.targets = 0
        self.target = None
        self.source_path = None
        self.source = SourceTable(self.rng, VersionClock(), self.WINDOW)
        self._publish()

    def load(self) -> None:
        prep = self.prepare("first")
        verdict = self.verify(prep, self.execute(prep))
        if not verdict.ok:
            raise RuntimeError(f"first sync failed: {verdict.detail}")

    def _publish(self) -> None:
        self.generation += 1
        old = self.source_path
        self.source_path = os.path.join(self.dir, f"src_{self.generation}.parquet")
        table = self.source.table()
        write_parquet(table, self.source_path)
        self.source_schema = table.schema
        if old:
            os.remove(old)

    def _new_target(self) -> None:
        if self.target is not None:
            shutil.rmtree(self.target.root)
        self.targets += 1
        self.target = ParquetTarget(os.path.join(self.dir, f"target_{self.targets}"))
        self.in_target = (np.empty(0, np.int64), np.empty(0, np.int64))

    def prepare(self, cls: str) -> _SnapPrep:
        if cls == "first":
            self._new_target()
            self.store.clear(self.TABLE)
        elif cls == "incr":
            self.source.change(**self.SMALL_CHANGE)
            self._publish()
        elif cls == "recovery":
            self.source.change(**self.RECOVERY_CHANGE)
            self._publish()
            self.store.clear(self.TABLE)
        elif cls == "refresh":
            self.source.change(**self.BIG_CHANGE)
            self._publish()
        changed = window_change(self.in_target, self.source.window_pairs())
        return _SnapPrep(cls, self.read(self.source_path, self.source_schema), changed)

    def execute(self, prep: _SnapPrep):
        return self.engine.sync_table(self.TABLE, prep.source, self.target)

    def verify(self, prep: _SnapPrep, report) -> Verdict:
        want = self.EXPECTED[prep.cls]
        mode_ok = report.mode == want
        rows_ok = self.final_check()
        self.in_target = self.source.window_pairs()
        detail = "" if mode_ok else f"{prep.cls}: mode {report.mode}, expected {want}"
        if not rows_ok:
            detail += f" {prep.cls}: target differs from the source window"
        return Verdict(prep.changed, prep.changed, int(mode_ok), 1, mode_ok and rows_ok, detail.strip())

    def final_check(self) -> bool:
        expected = self.source.table(self.source.window_rows())
        return check.window_matches(self.con, self.target.root, expected)


# -- fleet_resync -----------------------------------------------------------------------

FLEET_TABLES = (
    "CUSTTABLE", "VENDTABLE", "INVENTTABLE", "SALESTABLE", "SALESLINE",
    "PURCHTABLE", "PURCHLINE", "INVENTSUM", "INVENTDIM", "LEDGERJOURNALTRANS",
    "GENERALJOURNALENTRY", "CUSTTRANS", "VENDTRANS", "PROJTABLE",
    "PROJTRANSPOSTING", "HCMWORKER", "DIRPARTYTABLE", "LOGISTICSPOSTALADDRESS",
    "ECORESPRODUCT", "WHSWORKTABLE", "WHSWORKLINE", "TAXTRANS",
    "BANKACCOUNTTRANS", "ASSETTABLE",
)  # fmt: skip


@dataclass
class _FleetPrep:
    changed: int


class FleetResync(Workload):
    """24 small tables through ``Orchestrator.prepare`` + ``process`` with
    one worker per core. Strategies are mixed: RecId top-N for most, one
    ``sql:`` template filtered to one company, one ``-truncate`` table and
    one field exclusion. Each round a fixed few tables change by ~2% and
    the rest are unchanged."""

    name = "fleet_resync"
    PASS = ("round",)
    WARM_UP = ("round",)
    SHAPE_SEED = 2024
    #: ~2% of each changing table's window
    ROUND_CHANGE = dict(modify=0.012, delete=0.003, insert=0.005, late=0.001)

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        # the fleet's shape (strategies, sizes, columns) is the same for
        # every seed, so runs with different seeds do the same work; the
        # seed drives the rows and the changes
        rng = np.random.default_rng(self.SHAPE_SEED)
        names = list(FLEET_TABLES)
        picks = rng.permutation(len(names))
        self.sql_table = names[picks[0]]
        self.truncate_table = names[picks[1]]
        self.excl_table = names[picks[2]]
        # the sql: and field-exclusion tables always change, so their
        # incremental paths run every round; one RecId table joins them
        self.changing = {self.sql_table, self.excl_table, names[picks[3]]}
        self.windows = {n: int(w) for n, w in zip(names, rng.integers(10_000, 40_001, len(names)))}
        optional = [c for c in PAYLOAD if c != "DataAreaId"]
        self.columns = {}
        for n in names:
            k = int(rng.integers(2, len(optional) + 1))
            chosen = set(rng.choice(optional, size=k, replace=False).tolist())
            self.columns[n] = ("DataAreaId", *[c for c in optional if c in chosen])
        self.excluded = f"{self.excl_table}.{self.columns[self.excl_table][-1]}"
        lines = []
        for n in names:
            w = self.windows[n]
            if n == self.sql_table:
                lines.append(
                    f"{n}|{w}|sql:SELECT TOP(@recordCount) * FROM {n} "
                    "WHERE DataAreaId = 'usmf' AND @sysRowVersionFilter ORDER BY RecId DESC"
                )
            elif n == self.truncate_table:
                lines.append(f"{n}|{w} -truncate")
            else:
                lines.append(f"{n}|{w}")
        self.strategy_text = "\n".join(lines)

    def generate(self) -> None:
        self.rng = np.random.default_rng([self.ctx.seed, 3])
        self.store = StateStore(os.path.join(self.dir, "state.json"))
        self.engine = SyncEngine(self.spark, self.store, SyncConfig())
        self.orchestrator = Orchestrator(self.spark, self.engine, workers=self.ctx.cores)
        self.target_root = os.path.join(self.dir, "targets")
        self.generation = 0
        self.paths: dict[str, str] = {}
        self.sources: dict[str, object] = {}
        clock = VersionClock()  # one rowversion counter for the database
        self.tables = {
            n: SourceTable(self.rng, clock, self.windows[n], columns=self.columns[n])
            for n in FLEET_TABLES
        }
        self.in_target = {n: (np.empty(0, np.int64), np.empty(0, np.int64)) for n in FLEET_TABLES}
        for n in FLEET_TABLES:
            self._publish(n)

    def load(self) -> None:
        """Every table's first sync: STANDARD, or TRUNCATE when forced."""
        result = self.execute(_FleetPrep(0))
        first = {n: TRUNCATE if n == self.truncate_table else STANDARD for n in FLEET_TABLES}
        bad = [
            (p.name, p.status, p.report and p.report.mode, p.error)
            for p in result.plans
            if p.status != "Completed" or p.report.mode != first[p.name]
        ]
        if bad:
            raise RuntimeError(f"first fleet round failed: {bad}")
        for n in FLEET_TABLES:
            self.in_target[n] = self._window(n)

    def _publish(self, name: str) -> None:
        self.generation += 1
        old = self.paths.get(name)
        self.paths[name] = os.path.join(self.dir, f"{name}_{self.generation}.parquet")
        table = self.tables[name].table()
        write_parquet(table, self.paths[name])
        self.sources[name] = self.read(self.paths[name], table.schema)
        if old:
            os.remove(old)

    def _window(self, name: str) -> tuple[np.ndarray, np.ndarray]:
        area = USMF if name == self.sql_table else None
        return self.tables[name].window_pairs(area)

    def _expected(self, name: str):
        table = self.tables[name]
        area = USMF if name == self.sql_table else None
        columns = [c for c in table.names if f"{name}.{c}" != self.excluded]
        return table.table(table.window_rows(area), columns)

    def prepare(self, cls: str) -> _FleetPrep:
        changed = 0
        for n in sorted(self.changing):
            self.tables[n].change(**self.ROUND_CHANGE)
            self._publish(n)
            changed += window_change(self.in_target[n], self._window(n))
        return _FleetPrep(changed)

    def execute(self, prep: _FleetPrep):
        plans = self.orchestrator.prepare(
            self.sources, strategy_text=self.strategy_text, excluded_fields=[self.excluded]
        )
        return self.orchestrator.process(plans, self.sources, self.target_root)

    def expected_mode(self, name: str) -> str:
        if name == self.truncate_table:
            return TRUNCATE
        return INCREMENTAL if name in self.changing else NO_CHANGE

    def verify(self, prep: _FleetPrep, result) -> Verdict:
        problems = []
        modes_ok = 0
        for p in result.plans:
            want = self.expected_mode(p.name)
            if p.status != "Completed":
                problems.append(f"{p.name}: {p.status} {p.error.splitlines()[0] if p.error else ''}")
            elif p.report.mode != want:
                problems.append(f"{p.name}: mode {p.report.mode}, expected {want}")
            else:
                modes_ok += 1
        # unchanged tables are checked once, by final_check
        for n in sorted(self.changing | {self.truncate_table}):
            if not self.matches(n):
                problems.append(f"{n}: target differs from the source window")
            self.in_target[n] = self._window(n)
        ok = not problems and len(result.plans) == len(FLEET_TABLES)
        failed = sum(p.status != "Completed" for p in result.plans)
        return Verdict(
            len(result.plans), prep.changed, modes_ok, len(FLEET_TABLES), ok, "; ".join(problems), failed
        )

    def matches(self, name: str) -> bool:
        return check.window_matches(self.con, os.path.join(self.target_root, name), self._expected(name))

    def final_check(self) -> bool:
        return all(self.matches(n) for n in FLEET_TABLES)


# -- cdc_merge --------------------------------------------------------------------------------


@dataclass
class _CdcPrep:
    cls: str
    batch: object
    events: int


class CdcMerge(Workload):
    """``SyncEngine.merge_upsert`` micro-batches into a 64-bucket
    ``BucketedParquetTarget``. Three of every four batches are a trickle
    and one is a burst, at a seeded position: a trickle touches part of
    the buckets (the partial rewrite engages), a burst touches all of
    them."""

    name = "cdc_merge"
    TABLE = "SALESLINE_CDC"
    ROWS = 100_000
    BUCKETS = 64
    SIZES = {"trickle": 50, "burst": 5_000}
    PASS = ("trickle", "trickle", "trickle", "burst")
    WARM_UP = ("trickle", "burst", "trickle")

    def passes(self):
        order = np.random.default_rng([self.ctx.seed, 4])
        while True:
            burst = int(order.integers(len(self.PASS)))
            yield tuple("burst" if i == burst else "trickle" for i in range(len(self.PASS)))

    def generate(self) -> None:
        self.rng = np.random.default_rng([self.ctx.seed, 5])
        self.store = StateStore(os.path.join(self.dir, "state.json"))
        self.engine = SyncEngine(self.spark, self.store, SyncConfig())
        self.target = BucketedParquetTarget(os.path.join(self.dir, "target"), key=KEY, n_buckets=self.BUCKETS)
        self.batch_files: list[str] = []
        self.stream = CdcStream(self.rng, VersionClock(), self.ROWS)
        self.initial_file = os.path.join(self.dir, "initial.parquet")
        initial = self.stream.initial()
        write_parquet(initial, self.initial_file)
        self.initial_schema = initial.schema

    def load(self) -> None:
        initial = self.read(self.initial_file, self.initial_schema)
        self.engine.merge_upsert(self.TABLE, initial, self.target)

    def prepare(self, cls: str) -> _CdcPrep:
        events = self.SIZES[cls]
        path = os.path.join(self.dir, f"batch_{len(self.batch_files) + 1}.parquet")
        batch = self.stream.batch(events)
        write_parquet(batch, path)
        self.batch_files.append(path)
        return _CdcPrep(cls, self.read(path, batch.schema), events)

    def execute(self, prep: _CdcPrep):
        return self.engine.merge_upsert(self.TABLE, prep.batch, self.target)

    def verify(self, prep: _CdcPrep, report) -> Verdict:
        mode_ok = report.mode == INCREMENTAL
        rows_ok = self.final_check()
        detail = "" if mode_ok else f"{prep.cls}: mode {report.mode}, expected {INCREMENTAL}"
        if not rows_ok:
            detail += f" {prep.cls}: target differs from the replayed batches"
        return Verdict(prep.events, prep.events, int(mode_ok), 1, mode_ok and rows_ok, detail.strip())

    def final_check(self) -> bool:
        return check.cdc_matches(self.con, self.target.root, self.initial_file, self.batch_files)


WORKLOADS = {w.name: w for w in (SnapshotResync, FleetResync, CdcMerge)}
