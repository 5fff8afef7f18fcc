"""How a cycle publishes, per sink layout.

A snapshot refresh (first sync, TRUNCATE) publishes the fetched window
with ``target.overwrite`` in one job and observes the rows written and
their maxima inside it. A one-bucket target (the plain ParquetTarget)
is rewritten whole by any merge, so a changed INCREMENTAL or STANDARD
cycle there publishes the window the same way (``SyncReport.write ==
"window"``) and also observes its per-key counts. A partial-rewrite
sink, and an -evolve cycle, keep ``target.merge`` (``"merge"``). Both
must end every cycle with the same rows, state and counts."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from d365fo_db_sync_spark.sinks import BucketedParquetTarget, ParquetTarget
from d365fo_db_sync_spark.state import StateStore, TableState
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


def _jobs_of(spark, run):
    """``run()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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
    # the NULL-version row stays: a state-loss compare finds it unchanged
    rows = [(x[0], x[1], None if x[2] is None else x[2] + 5000, *x[3:]) for x in rows]
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


def _narrowing_evolve_cycle(spark, tmp_path, engine, extra):
    """A first sync, then an -evolve cycle whose source dropped
    ``AMOUNT``, modified key 1040 and inserted 2000 plus ``extra``:
    the report and each key's ``AMOUNT`` afterwards."""
    target = ParquetTarget(str(tmp_path / "tgt"))
    rows = make_rows(100)
    engine.sync_table("T", df_of(spark, rows), target)
    rows = [(r[0], r[1], 1000, *r[3:]) if r[0] == 1040 else r for r in rows]
    rows += [(2000, 2, 1001, None, dt.datetime(2024, 2, 1), 1.0), *extra]
    narrower = df_of(spark, rows).drop("AMOUNT")
    r = engine.sync_table("T", narrower, target, evolve_schema=True)
    return r, {x["RecId"]: x["AMOUNT"] for x in target.read(spark).collect()}


def test_evolve_cycle_on_plain_target_merges(spark, tmp_path, engine):
    # widen-and-retain keeps the survivors' values of a column the
    # source dropped: only a merge has them
    r, got = _narrowing_evolve_cycle(spark, tmp_path, engine, [])
    assert (r.mode, r.write) == (INCREMENTAL, "merge")
    assert got[1050] == 50 * 1.5  # a survivor keeps its dropped column
    assert got[2000] is None  # an insert has none


def test_evolve_merge_with_late_rows_keeps_survivors_columns(spark, tmp_path, engine):
    # a missing late row lowers the fetch floor to its version, a
    # NULL-version one to 0, so the fetch returns nearly the whole
    # window: only rows the target lacks or holds below their version
    # may replace a target row
    late = [
        (2001, 2, 5, None, dt.datetime(2024, 1, 15), 7.0),
        (2002, 2, None, None, dt.datetime(2024, 1, 16), 8.0),
    ]
    r, got = _narrowing_evolve_cycle(spark, tmp_path, engine, late)
    assert (r.mode, r.write, r.missing) == (INCREMENTAL, "merge", 3)
    assert got[1050] == 50 * 1.5
    assert got[1040] is None  # modified: the source's copy has no AMOUNT
    assert got[2001] is None and got[2002] is None
    assert sorted(got) == list(range(1003, 1100)) + [2000, 2001, 2002]


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
    # the NULL-version row compares unchanged (NULL versions are equal)
    want = {"new": 5, "unchanged": 95, "deleted": 5}
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
    r, jobs = _jobs_of(spark, lambda: engine.sync_table("T", changed, ParquetTarget(root)))
    assert (r.mode, r.probe, r.write) == (INCREMENTAL, "witness", "window")
    assert (r.missing, r.inserted, r.deleted) == (4, 6, 6)
    assert jobs == 3


def test_changed_standard_window_write_commits_observed_maxima(spark, tmp_path, engine):
    # a state-loss cycle that finds a change on a one-bucket target
    # commits the rows and maxima its window write observed, with no
    # separate stats job over the window
    rows = make_rows(120)
    root = str(tmp_path / "tgt")
    engine.sync_table("T", _parquet_source(spark, tmp_path, rows), ParquetTarget(root))
    engine.store.clear("T")
    changed = _incremental_change(rows, 1000)
    source = _parquet_source(spark, tmp_path, changed)
    r, jobs = _jobs_of(spark, lambda: engine.sync_table("T", source, ParquetTarget(root)))
    assert (r.mode, r.write) == (STANDARD, "window")
    assert sum(n for k, n in r.classification.items() if k != "deleted") == 100
    assert jobs == 5  # 6 with a separate stats job
    window = sorted(changed, key=lambda row: row[0])[-100:]
    st = engine.store.get("T")
    top_ver = max(row[2] for row in window if row[2] is not None)
    assert (st.src_ts, st.tgt_ts, st.max_transferred_key) == (top_ver, top_ver, window[-1][0])
    assert _rows(ParquetTarget(root), spark) == sorted(window)


def test_refresh_runs_one_job(spark, tmp_path, engine):
    # a first sync and a forced TRUNCATE: the window write, which also
    # observes the rows written and the maxima the state commits
    source = _parquet_source(spark, tmp_path, make_rows(120))
    root = str(tmp_path / "tgt")
    for force in (False, True):
        r, jobs = _jobs_of(
            spark, lambda: engine.sync_table("T", source, ParquetTarget(root), force_truncate=force)
        )
        assert (r.mode, r.write, r.inserted, jobs) == (
            TRUNCATE if force else STANDARD, "window", 100, 1
        )
        st = engine.store.get("T")
        assert (st.src_ts, st.tgt_ts, st.max_transferred_key) == (219, 219, 1119)


def test_first_sync_of_an_empty_source(spark, tmp_path, engine):
    # an empty window observes no rows and NULL maxima, which the
    # refresh commits over a stale state
    target = ParquetTarget(str(tmp_path / "tgt"))
    engine.store.commit("T", TableState(src_ts=7, tgt_ts=7, max_transferred_key=9))
    r = engine.sync_table("T", df_of(spark, []), target)
    assert (r.mode, r.write, r.inserted) == (STANDARD, "window", 0)
    assert engine.store.get("T") == TableState()
    assert target.read(spark).count() == 0


def test_cost_fallback_commits_what_a_forced_truncate_commits(spark, tmp_path, engine):
    # the R5 fallback and -truncate are one refresh: same rows, same state
    rows = make_rows(100)
    bumped = [(r[0], r[1], r[2] + 500, *r[3:]) if r[0] % 2 else r for r in rows]
    seen = []
    for name, force in (("R5", False), ("FORCED", True)):
        target = ParquetTarget(str(tmp_path / name))
        engine.sync_table(name, df_of(spark, rows), target)
        r = engine.sync_table(name, df_of(spark, bumped), target, force_truncate=force)
        assert (r.mode, r.write, r.inserted) == (TRUNCATE, "window", 100)
        assert r.probe == ("" if force else "scan")
        seen.append((_rows(target, spark), engine.store.get(name)))
    assert seen[0] == seen[1]


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

    pinned, jobs = _jobs_of(spark, lambda: ParquetTarget(root).read(spark))
    assert jobs == 0
    assert pinned.schema == spark.read.parquet(live).schema
    assert sorted(tuple(r) for r in pinned.collect()) == sorted(tuple(r) for r in df.collect())

    parted = ParquetTarget(str(tmp_path / "parted"), partition_by=["RECVERSION"])
    parted.overwrite(df)
    assert not os.path.exists(os.path.join(parted.current_path(), ParquetTarget.SCHEMA_SIDECAR))
