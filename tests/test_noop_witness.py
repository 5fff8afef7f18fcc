"""The memoized target half of the R6 no-change probe.

A scan probe that finds the table in sync stores the target's witness
(row count, two key-hash sums, max version) keyed by the live version
directory. The next no-change cycle on that version aggregates the
source alone and never opens the target; any publish, by this engine
or another handle, changes the live path and sends the probe back to
scanning."""

from __future__ import annotations

import dataclasses
import json
import uuid

import pytest
from pyspark.sql import functions as F

from d365fo_db_sync_spark.sinks import BucketedParquetTarget, ParquetTarget
from d365fo_db_sync_spark.state import StateStore
from d365fo_db_sync_spark.sync import (
    INCREMENTAL,
    NO_CHANGE,
    STANDARD,
    SyncConfig,
    SyncEngine,
    _live_version,
    _witness_of,
)

from tests.test_sync_engine import SCHEMA, df_of, make_rows

SINKS = {
    "plain": lambda root: ParquetTarget(root),
    "bucketed": lambda root: BucketedParquetTarget(root, key="RecId", n_buckets=4),
}


@pytest.fixture(params=sorted(SINKS))
def env(request, spark, tmp_path):
    """(spark, engine, make_target, source): ``make_target()`` opens a
    fresh handle on one target root, as the orchestrator does each
    round; the source is a parquet table, as in a real deployment."""
    src_path = str(tmp_path / "src")
    df_of(spark, make_rows(120)).write.parquet(src_path)
    store = StateStore(str(tmp_path / "state.json"))
    engine = SyncEngine(spark, store, SyncConfig(record_count=100))
    root = str(tmp_path / "tgt")
    return spark, engine, lambda: SINKS[request.param](root), spark.read.parquet(src_path)


def _window(spark, source, n=100):
    return sorted(
        tuple(r)
        for r in source.orderBy(F.col("RecId").desc()).limit(n).collect()
    )


def _rows(target, spark):
    cols = [c.split()[0] for c in SCHEMA.split(", ")]
    return sorted(tuple(r) for r in target.read(spark).select(*cols).collect())


def _learn(engine, target, source):
    """First sync (the write), then a no-change cycle that scans the
    target and stores its witness."""
    r1 = engine.sync_table("T", source, target)
    assert (r1.mode, r1.probe) == (STANDARD, "")
    r2 = engine.sync_table("T", source, target)
    assert (r2.mode, r2.probe) == (NO_CHANGE, "scan")
    w = engine.store.get("T").witness
    assert w is not None and w["path"] == _live_version(target)
    assert w["rows"] == 100
    return w


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"witness-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "no-change cycle")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.fast
def test_noop_cycle_on_known_version_reads_only_source(env, monkeypatch):
    spark, engine, make_target, source = env
    target = make_target()
    _learn(engine, target, source)

    # a fresh store and a fresh target handle: the witness lives in the
    # state file, not in any object
    engine.store = StateStore(engine.store._path)
    target = make_target()

    def no_read(*_a, **_k):
        raise AssertionError("a no-change cycle on a known version opened the target")

    monkeypatch.setattr(target, "read", no_read)
    r3, jobs = _jobs_of(spark, lambda: engine.sync_table("T", source, target))
    assert (r3.mode, r3.probe) == (NO_CHANGE, "witness")
    assert jobs == 1


@pytest.mark.fast
def test_witness_of_a_replaced_version_is_not_used(env):
    # another handle republishes the target with one row missing and
    # leaves the state untouched: the stored witness names a version
    # that is no longer live, so the probe must scan and repair
    spark, engine, make_target, source = env
    target = make_target()
    _learn(engine, target, source)
    st = engine.store.get("T")

    rows = target.read(spark).filter(F.col("RecId") != 1100).collect()
    make_target().overwrite(spark.createDataFrame(rows, target.read(spark).schema))
    assert engine.store.get("T") == st

    r = engine.sync_table("T", source, target)
    assert r.probe == "scan"
    assert r.mode != NO_CHANGE
    assert _rows(target, spark) == _window(spark, source)


@pytest.mark.fast
def test_witness_above_target_watermark_is_ignored(env):
    # another handle modifies one target row to a version above tgt_ts,
    # and the state holds a truthful witness of that version: only the
    # scan's tgt_changed can see the row, so the witness must not serve
    spark, engine, make_target, source = env
    target = make_target()
    _learn(engine, target, source)
    st = engine.store.get("T")

    bumped = target.read(spark).withColumn(
        "SysRowVersion",
        F.when(F.col("RecId") == 1100, F.lit(st.tgt_ts + 1)).otherwise(F.col("SysRowVersion")),
    ).collect()
    make_target().overwrite(spark.createDataFrame(bumped, target.read(spark).schema))
    tgt_df = target.read(spark)
    w = _witness_of(engine._probe(tgt_df, tgt_df, st), _live_version(target))
    assert w["max_ver"] == st.tgt_ts + 1
    engine.store.commit("T", dataclasses.replace(st, witness=w))

    r = engine.sync_table("T", source, target)
    assert r.probe == "scan"
    assert r.tgt_changed == 1
    assert r.mode != NO_CHANGE


@pytest.mark.fast
def test_state_file_without_witness_loads(env, tmp_path):
    # a state file written before the witness existed loads, and its
    # first no-change cycle scans and learns
    spark, engine, make_target, source = env
    target = make_target()
    assert engine.sync_table("T", source, target).mode == STANDARD
    path = str(tmp_path / "old_state.json")
    old = {
        k: v
        for k, v in dataclasses.asdict(engine.store.get("T")).items()
        if k != "witness"
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"T": old}, f)

    engine.store = StateStore(path)
    assert engine.store.get("T").witness is None
    r = engine.sync_table("T", source, target)
    assert (r.mode, r.probe) == (NO_CHANGE, "scan")
    assert engine.store.get("T").witness["path"] == _live_version(target)


@pytest.mark.fast
def test_absolute_path_witness_is_relearned(env, tmp_path):
    # a state file from before witnesses were keyed by the version
    # directory's name holds the live version's absolute path: it must
    # never match, so one cycle scans and re-learns the name, and the
    # next one takes the witness
    spark, engine, make_target, source = env
    target = make_target()
    w = _learn(engine, target, source)
    path = str(tmp_path / "old_state.json")
    old = dataclasses.asdict(engine.store.get("T"))
    old["witness"] = {**w, "path": target.current_path()}
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"T": old}, f)

    engine.store = StateStore(path)
    r = engine.sync_table("T", source, target)
    assert (r.mode, r.probe) == (NO_CHANGE, "scan")
    assert engine.store.get("T").witness == w
    r = engine.sync_table("T", source, target)
    assert (r.mode, r.probe) == (NO_CHANGE, "witness")


@pytest.mark.fast
def test_write_drops_witness_and_changed_cycle_repairs(env):
    # a changed cycle on a known version skips the scan in its probe,
    # reads the target for the merge, and its commit drops the witness
    spark, engine, make_target, source = env
    target = make_target()
    w = _learn(engine, target, source)
    st = engine.store.get("T")

    rows = [
        (r[0], r[1], st.src_ts + 1, r[3], r[4], -r[5]) if r[0] == 1110 else tuple(r)
        for r in source.collect()
    ]
    changed = spark.createDataFrame(rows, SCHEMA)
    r = engine.sync_table("T", changed, target)
    assert (r.mode, r.probe) == (INCREMENTAL, "witness")
    assert engine.store.get("T").witness is None
    assert _live_version(target) != w["path"]
    assert _rows(target, spark) == _window(spark, changed)

    # no probe runs on a forced refresh or a CDC merge
    assert engine.sync_table("T", changed, target, force_truncate=True).probe == ""
    assert engine.merge_upsert("T", changed.limit(0), target).probe == ""
