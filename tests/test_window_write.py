"""How a changed cycle publishes, per sink layout.

A one-bucket target (the plain ParquetTarget) is rewritten whole by any
merge, so a changed INCREMENTAL or STANDARD cycle there publishes the
fetched window with ``target.overwrite`` (``SyncReport.write ==
"window"``) and observes its per-key counts inside that write. A
partial-rewrite sink, and an -evolve cycle, keep ``target.merge``
(``"merge"``). Both must end every cycle with the same rows, state and
counts."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

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

from tests.test_sync_engine import SCHEMA, df_of, make_rows

pytestmark = pytest.mark.fast

SINKS = {
    "plain": lambda root: ParquetTarget(root),
    "bucketed": lambda root: BucketedParquetTarget(root, key="RecId", n_buckets=4),
}


@pytest.fixture()
def engine(spark, tmp_path):
    store = StateStore(str(tmp_path / "state.json"))
    return SyncEngine(spark, store, SyncConfig(record_count=100))


def _rows(target, spark):
    cols = [c.split()[0] for c in SCHEMA.split(", ")]
    return sorted(tuple(r) for r in target.read(spark).select(*cols).collect())


def _parquet_source(spark, tmp_path, rows):
    """A parquet-backed source, as in a deployment: its plan does not
    change between the probe and the fetch."""
    path = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    df_of(spark, rows).write.parquet(path)
    return spark.read.parquet(path)


def _incremental_change(rows, ver):
    """Modify two rows (version bumped), delete two, insert two, add a
    late row below the watermark and a NULL-version row: four new keys,
    which push the lower edge of a full window up by four."""
    out = []
    for r in rows:
        if r[0] in (1060, 1061):
            continue
        if r[0] in (1040, 1080):
            ver += 1
            r = (r[0], r[1] + 1, ver, r[3], r[4], r[5] + 99.0)
        out.append(r)
    out += [
        (2000, 2, ver + 1, None, dt.datetime(2024, 2, 1), 1.0),
        (2001, 2, ver + 2, None, dt.datetime(2024, 2, 1), 2.0),
        (2002, 2, 5, None, dt.datetime(2024, 1, 15), 7.0),  # late, old version
        (2003, 2, None, None, dt.datetime(2024, 1, 16), 8.0),  # NULL version
    ]
    return out


@pytest.mark.parametrize("label", sorted(SINKS))
def test_report_write_names_how_each_mode_published(spark, tmp_path, engine, label):
    target = SINKS[label](str(tmp_path / "tgt"))
    delta_write = "window" if label == "plain" else "merge"
    rows = make_rows(100)

    def sync(rows_, **kw):
        return engine.sync_table("T", df_of(spark, rows_), target, **kw)

    r = sync(rows)
    assert (r.mode, r.write) == (STANDARD, "window")  # first sync
    r = sync(rows)
    assert (r.mode, r.write) == (NO_CHANGE, "")
    rows = _incremental_change(rows, 1000)
    r = sync(rows)
    assert (r.mode, r.write) == (INCREMENTAL, delta_write)
    # a NULL-version row compares modified in every STANDARD cycle, so
    # the refresh drops it to leave the next state-loss compare clean
    rows = [(x[0], x[1], x[2] + 5000, *x[3:]) for x in rows if x[2] is not None]
    r = sync(rows)
    assert (r.mode, r.write) == (TRUNCATE, "window")
    engine.store.clear("T")
    r = sync(rows)
    assert (r.mode, r.write) == (STANDARD, "")  # state loss, nothing changed
    engine.store.clear("T")
    r = sync(rows + [(3000, 2, 9000, None, dt.datetime(2024, 3, 1), 3.0)])
    assert (r.mode, r.write) == (STANDARD, delta_write)
    r = sync(rows, force_truncate=True)
    assert (r.mode, r.write) == (TRUNCATE, "window")
    upsert = df_of(spark, [(4000, 2, 9500, None, dt.datetime(2024, 3, 2), 4.0)])
    assert engine.merge_upsert("T", upsert, target).write == "merge"
    assert engine.merge_upsert("T", upsert.limit(0), target).write == ""


def test_evolve_cycle_on_plain_target_merges(spark, tmp_path, engine):
    # widen-and-retain keeps the survivors' values of a column the
    # source dropped: only a merge has them
    target = ParquetTarget(str(tmp_path / "tgt"))
    rows = make_rows(100)
    engine.sync_table("T", df_of(spark, rows), target)
    # no late or NULL-version row: those lower the fetch floor, and
    # every row fetched replaces its target copy
    rows = [(r[0], r[1], 1000, *r[3:]) if r[0] == 1040 else r for r in rows]
    rows.append((2000, 2, 1001, None, dt.datetime(2024, 2, 1), 1.0))
    narrower = df_of(spark, rows).drop("AMOUNT")
    r = engine.sync_table("T", narrower, target, evolve_schema=True)
    assert (r.mode, r.write) == (INCREMENTAL, "merge")
    got = {x["RecId"]: x["AMOUNT"] for x in target.read(spark).collect()}
    assert got[1050] == 50 * 1.5  # a survivor keeps its dropped column
    assert got[2000] is None  # an insert has none


def test_plain_and_bucketed_targets_agree_cycle_by_cycle(spark, tmp_path, engine):
    # the window write and the merge are two plans for one result:
    # identical rows, state and report counts after every cycle
    first = make_rows(120)
    incremental = _incremental_change(first, 1000)
    standard = incremental + [
        (4000 + i, 2, 9000 + i, None, dt.datetime(2024, 3, 1), 1.0 * i) for i in range(5)
    ]
    cycles = [("first", first, STANDARD), ("incremental", incremental, INCREMENTAL)]
    cycles.append(("standard", standard, STANDARD))

    def fields(r):
        return (r.mode, r.missing, r.inserted, r.deleted, r.classification)

    seen = {}
    for label, make in SINKS.items():
        target = make(str(tmp_path / label))
        name = f"T_{label}"
        for step, rows, mode in cycles:
            if step == "standard":
                engine.store.clear(name)
            r = engine.sync_table(name, df_of(spark, rows), target)
            assert r.mode == mode, (label, step, r)
            seen[label, step] = (fields(r), _rows(target, spark), engine.store.get(name))
    for step, _rows_, _mode in cycles:
        assert seen["plain", step] == seen["bucketed", step], step
    # missing: the four new keys; deleted: two deletes, two rows below
    # the risen edge and two modified rows, which are also inserted
    assert seen["plain", "incremental"][0][1:4] == (4, 6, 6)
    # the NULL-version row compares modified (NULL == NULL is not true)
    want = {"new": 5, "modified": 1, "unchanged": 94, "deleted": 5}
    assert seen["plain", "standard"][0][4] == want


def test_incremental_window_write_on_witnessed_target_runs_three_jobs(spark, tmp_path, engine):
    # the source-only probe, then the window write: its top-N exchange
    # and its write job, which also observes the per-key counts
    rows = make_rows(120)
    source = _parquet_source(spark, tmp_path, rows)
    root = str(tmp_path / "tgt")
    engine.sync_table("T", source, ParquetTarget(root))
    assert engine.sync_table("T", source, ParquetTarget(root)).probe == "scan"

    changed = _parquet_source(spark, tmp_path, _incremental_change(rows, 1000))
    sc = spark.sparkContext
    group = f"window-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one-bucket INCREMENTAL cycle")
    try:
        r = engine.sync_table("T", changed, ParquetTarget(root))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (r.mode, r.probe, r.write) == (INCREMENTAL, "witness", "window")
    assert (r.missing, r.inserted, r.deleted) == (4, 6, 6)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


@pytest.mark.parametrize("path", ["incremental", "standard"])
def test_strict_drift_raises_before_the_window_write(spark, tmp_path, engine, path):
    # an added source column is drift in strict mode: the cycle raises
    # before writing, and leaves the live version, the state file and
    # the cache as they were
    target = ParquetTarget(str(tmp_path / "tgt"))
    rows = make_rows(100)
    engine.sync_table("T", df_of(spark, rows), target)
    if path == "standard":
        engine.store.clear("T")
    live = target.current_path()
    with open(engine.store._path, "rb") as f:
        state_bytes = f.read()
    spark.catalog.clearCache()

    bumped = [(r[0], r[1], r[2] + 500, *r[3:]) if r[0] == 1050 else r for r in rows]
    wider = df_of(spark, bumped).withColumn("EXTRA", F.col("AMOUNT") * 2)
    with pytest.raises(AnalysisException):
        engine.sync_table("T", wider, target)
    assert target.current_path() == live
    assert sorted(os.listdir(target.root)) == sorted(["_version", os.path.basename(live)])
    with open(engine.store._path, "rb") as f:
        assert f.read() == state_bytes
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_overwrite_pins_schema_for_fresh_handles(spark, tmp_path):
    # every unpartitioned overwrite stages its schema sidecar, so a new
    # handle on the table reads it without an inference job
    root = str(tmp_path / "tgt")
    df = df_of(spark, make_rows(10))
    ParquetTarget(root).overwrite(df)
    live = ParquetTarget(root).current_path()
    assert os.path.exists(os.path.join(live, ParquetTarget.SCHEMA_SIDECAR))

    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fresh-handle read")
    try:
        pinned = ParquetTarget(root).read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert pinned.schema == spark.read.parquet(live).schema
    assert sorted(tuple(r) for r in pinned.collect()) == sorted(tuple(r) for r in df.collect())

    parted = ParquetTarget(str(tmp_path / "parted"), partition_by=["RECVERSION"])
    parted.overwrite(df)
    assert not os.path.exists(os.path.join(parted.current_path(), ParquetTarget.SCHEMA_SIDECAR))
