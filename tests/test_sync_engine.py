"""End-to-end sync scenario matrix (DBSyncTool_Optimization_Spec.md:1595-1608):
first sync / no changes / source-only changes / deletes / major changes /
late data / crash safety. Fixtures follow FIXTURES.md Part B (uint64
surrogate for the rowversion)."""

from __future__ import annotations

import datetime as dt

import pytest

from d365fo_db_sync_spark.sinks import ParquetTarget
from d365fo_db_sync_spark.state import StateStore, TableState
from d365fo_db_sync_spark.sync import (
    INCREMENTAL,
    NO_CHANGE,
    STANDARD,
    TRUNCATE,
    SyncConfig,
    SyncEngine,
)

SCHEMA = (
    "RecId long, RECVERSION int, SysRowVersion long, "
    "CREATEDDATETIME timestamp_ntz, MODIFIEDDATETIME timestamp_ntz, AMOUNT double"
)


def make_rows(n, ver_start=100):
    base = dt.datetime(2024, 1, 1)
    return [
        (
            1000 + i,
            2 if i % 10 else 1,  # some RECVERSION=1 rows
            ver_start + i,
            None if i % 17 == 0 else base + dt.timedelta(hours=i),
            base + dt.timedelta(hours=i, minutes=30),
            float(i) * 1.5,
        )
        for i in range(n)
    ]


@pytest.fixture()
def env(spark, tmp_path):
    store = StateStore(str(tmp_path / "state.json"))
    cfg = SyncConfig(record_count=1000, current_sequence=0)
    engine = SyncEngine(spark, store, cfg)
    target = ParquetTarget(str(tmp_path / "tgt"))
    return spark, store, engine, target


def df_of(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def keys_of(target, spark):
    return sorted(r["RecId"] for r in target.read(spark).select("RecId").collect())


def test_first_run_standard_then_no_change(env):
    spark, store, engine, target = env
    rows = make_rows(50)
    src = df_of(spark, rows)

    r1 = engine.sync_table("T1", src, target)
    assert r1.mode == STANDARD
    assert r1.inserted == 50
    assert keys_of(target, spark) == sorted(r[0] for r in rows)
    st = store.get("T1")
    assert st.src_ts == max(r[2] for r in rows)
    assert st.max_transferred_key == max(r[0] for r in rows)
    assert st.next_sequence == max(r[0] for r in rows) + 10_000

    # scenario: resync with zero changes -> fast path, no writes
    v1 = target.current_path()
    r2 = engine.sync_table("T1", src, target)
    assert r2.mode == NO_CHANGE
    assert target.current_path() == v1  # target untouched


def test_incremental_low_change(env):
    spark, store, engine, target = env
    rows = make_rows(100)
    src = df_of(spark, rows)
    engine.sync_table("T1", src, target)

    # mutate <40%: modify 5 (bump version), insert 3 new, delete 2
    ver = 1000
    new_rows = []
    deleted = {1000 + 7, 1000 + 8}
    for r in rows:
        if r[0] in deleted:
            continue
        if r[0] % 20 == 0:  # 5 modified
            ver += 1
            r = (r[0], r[1] + 1, ver, r[3], r[4], r[5] + 99.0)
        new_rows.append(r)
    for j in range(3):  # 3 new
        ver += 1
        new_rows.append((2000 + j, 2, ver, None, dt.datetime(2024, 2, 1), 1.0))
    src2 = df_of(spark, new_rows)

    r2 = engine.sync_table("T1", src2, target)
    assert r2.mode == INCREMENTAL
    assert keys_of(target, spark) == sorted(r[0] for r in new_rows)
    # modified rows actually replaced
    got = {r["RecId"]: r["AMOUNT"] for r in target.read(spark).collect()}
    for r in new_rows:
        assert got[r[0]] == r[5]
    assert store.get("T1").src_ts == ver


def test_truncate_on_major_change(env):
    spark, store, engine, target = env
    rows = make_rows(100)
    engine.sync_table("T1", df_of(spark, rows), target)

    # bump version on 60% of rows -> change% >= 40 -> TRUNCATE
    new_rows = [
        (r[0], r[1] + 1, r[2] + 1000, r[3], r[4], r[5]) if i % 10 < 6 else r
        for i, r in enumerate(rows)
    ]
    r2 = engine.sync_table("T1", df_of(spark, new_rows), target)
    assert r2.mode == TRUNCATE
    assert keys_of(target, spark) == sorted(r[0] for r in new_rows)


def test_late_data_watermark_widening(env):
    spark, store, engine, target = env
    rows = make_rows(50)
    engine.sync_table("T1", df_of(spark, rows), target)

    # a row with an OLD version (below the stored watermark) appears in the
    # source but is missing from the target -> must still be recovered (T4)
    late = (3000, 2, 5, None, dt.datetime(2024, 1, 15), 7.0)  # version 5 << watermark
    src2 = df_of(spark, rows + [late])
    r2 = engine.sync_table("T1", src2, target)
    assert r2.mode == INCREMENTAL
    assert r2.missing == 1
    assert 3000 in keys_of(target, spark)
    got = {r["RecId"]: r["AMOUNT"] for r in target.read(spark).collect()}
    assert got[3000] == 7.0


def test_window_excess_rows_removed(env):
    spark, store, engine, target = env
    rows = make_rows(100)
    engine.sync_table("T1", df_of(spark, rows), target)

    # shrink the sync window: top-30 only -> target rows outside the control
    # set are dropped (J5 NOT-EXISTS delete) once change/excess >= threshold
    engine.config.record_count = 30
    src2 = df_of(spark, rows)
    r2 = engine.sync_table("T1", src2, target)
    expected = sorted(r[0] for r in rows)[-30:]
    assert keys_of(target, spark) == expected
    assert r2.mode in (INCREMENTAL, TRUNCATE)


def test_watermark_never_advances_on_failure(env, monkeypatch):
    spark, store, engine, target = env
    rows = make_rows(40)
    engine.sync_table("T1", df_of(spark, rows), target)
    st_before = store.get("T1")

    def boom(df):
        raise RuntimeError("disk full")

    monkeypatch.setattr(target, "overwrite", boom)
    bumped = [(r[0], r[1] + 1, r[2] + 500, r[3], r[4], r[5]) for r in rows]
    with pytest.raises(RuntimeError):
        engine.sync_table("T1", df_of(spark, bumped), target)
    st_after = store.get("T1")
    assert st_after == st_before  # crash-safety contract (T1/T6)


@pytest.mark.fast
@pytest.mark.parametrize(
    "path", ["first_sync", "truncate", "incremental", "standard", "merge_upsert"]
)
def test_failed_write_leaves_no_cached_frames(env, monkeypatch, path):
    # every cycle unpersists the frames it cached even when the sink
    # raises: the orchestrator contains the failure per table and
    # retry_failed runs again, so a leak would pile up in executor
    # storage
    spark, store, engine, target = env
    rows = make_rows(40)
    if path != "first_sync":
        engine.sync_table("T1", df_of(spark, rows), target)
    if path == "standard":
        store.clear("T1")
    spark.catalog.clearCache()

    def boom(*_a, **_k):
        raise RuntimeError("disk full")

    monkeypatch.setattr(target, "overwrite", boom)
    monkeypatch.setattr(target, "merge", boom)
    changed = [(r[0], r[1] + 1, r[2] + 500, r[3], r[4], r[5]) if r[0] == 1030 else r for r in rows]
    with pytest.raises(RuntimeError, match="disk full"):
        if path == "merge_upsert":
            engine.merge_upsert("T1", df_of(spark, changed[:5]), target)
        else:
            engine.sync_table(
                "T1", df_of(spark, changed), target, force_truncate=path == "truncate"
            )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_fallback_no_rowversion_column(env):
    spark, store, engine, target = env
    # no SysRowVersion column -> engine stays on the standard path with
    # RECVERSION comparison (ComparisonContext fallback)
    rows = [(i, 2, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)) for i in range(20)]
    schema = "RecId long, RECVERSION int, CREATEDDATETIME timestamp_ntz, MODIFIEDDATETIME timestamp_ntz"
    src = spark.createDataFrame(rows, schema)
    r1 = engine.sync_table("T2", src, target)
    assert r1.mode == STANDARD
    assert r1.inserted == 20

    r2 = engine.sync_table("T2", src, target)
    assert r2.mode == STANDARD
    assert r2.classification.get("unchanged") == 20
    assert keys_of(target, spark) == [r[0] for r in rows]


def test_cdc_batch_compacted_to_last_event_per_key(env):
    # ADVICE r1: multiple events per key in one micro-batch must reduce to
    # the LAST event before the tombstone/upsert split — otherwise both
    # updates survive (duplicate keys) and update-then-tombstone
    # resurrects the deleted row.
    spark, store, engine, target = env
    base = df_of(spark, make_rows(10))
    engine.merge_upsert("T", base, target)

    batch = spark.createDataFrame(
        [
            # two updates to key 1003: only ver 501 may survive
            (1003, 3, 500, None, dt.datetime(2024, 2, 1), 11.0, False),
            (1003, 4, 501, None, dt.datetime(2024, 2, 1), 22.0, False),
            # update then tombstone for key 1005: key must stay deleted
            (1005, 3, 510, None, dt.datetime(2024, 2, 1), 33.0, False),
            (1005, 4, 511, None, dt.datetime(2024, 2, 1), None, True),
            # tombstone then a LATER update for key 1007: row must live
            (1007, 3, 520, None, dt.datetime(2024, 2, 1), None, True),
            (1007, 4, 521, None, dt.datetime(2024, 2, 1), 44.0, False),
        ],
        SCHEMA + ", __deleted boolean",
    )
    engine.merge_upsert("T", batch, target)
    rows = target.read(spark).collect()
    got = {r["RecId"]: r["AMOUNT"] for r in rows}
    assert len(rows) == len(got), "duplicate keys in target after CDC merge"
    assert got[1003] == 22.0  # last update won
    assert 1005 not in got  # tombstone was the final event
    assert got[1007] == 44.0  # update after tombstone resurrects


def test_cdc_empty_batch_is_timed_no_change(env):
    spark, store, engine, target = env
    engine.merge_upsert("T", df_of(spark, make_rows(10)), target)
    v = target.current_path()
    rpt = engine.merge_upsert("T", df_of(spark, make_rows(1)).limit(0), target)
    assert rpt.mode == NO_CHANGE
    assert rpt.duration_sec > 0  # timed like every other report
    assert target.current_path() == v


def test_cdc_state_never_regresses(env):
    # ADVICE r1: a batch touching only old keys must not move the T7 fence
    # or watermark backwards, and an all-tombstone batch must not erase it.
    spark, store, engine, target = env
    rows = make_rows(50)  # keys 1000..1049, vers 100..149
    engine.merge_upsert("T", df_of(spark, rows), target)
    st0 = store.get("T")
    assert st0.max_transferred_key == 1049 and st0.src_ts == 149

    # update an OLD key with an old-ish version: nothing may regress
    old = spark.createDataFrame(
        [(1003, 3, 120, None, dt.datetime(2024, 2, 1), 9.0)], SCHEMA
    )
    engine.merge_upsert("T", old, target)
    st1 = store.get("T")
    assert st1.max_transferred_key == 1049
    assert st1.src_ts == 149
    assert st1.next_sequence == st0.next_sequence

    # all-tombstone batch: live maxima are None -> watermark must survive
    dead = spark.createDataFrame(
        [(1004, 3, 150, None, dt.datetime(2024, 2, 1), None, True)],
        SCHEMA + ", __deleted boolean",
    )
    engine.merge_upsert("T", dead, target)
    st2 = store.get("T")
    assert st2.src_ts == 149 and st2.max_transferred_key == 1049
    assert 1004 not in keys_of(target, spark)


def test_full_refresh_lowers_watermark_after_source_restore(env):
    # ADVICE r2 (medium): snapshot paths must OVERWRITE state with the
    # fetched maxima (TimestampManager.SetTimestamps), not merge-max.
    # After a source rowversion regression (DB restore), a merge-max
    # commit pins the stale watermark and later modifications below it
    # are silently skipped forever.
    spark, store, engine, target = env
    engine.sync_table("T1", df_of(spark, make_rows(50, ver_start=100_000)), target)
    assert store.get("T1").src_ts == 100_049

    # restored source: same keys, versions restart at 100
    restored = make_rows(50, ver_start=100)
    engine.sync_table("T1", df_of(spark, restored), target, force_truncate=True)
    st = store.get("T1")
    assert st.src_ts == 149  # lowered to the restored source's truth
    assert st.tgt_ts == 149

    # post-restore modification (version 150 << stale 100_049) must now
    # be picked up instead of classifying NO_CHANGE
    bumped = [
        (r[0], r[1] + 1, 150, r[3], r[4], 777.0) if r[0] == 1010 else r for r in restored
    ]
    r = engine.sync_table("T1", df_of(spark, bumped), target)
    assert r.mode == INCREMENTAL
    got = {x["RecId"]: x["AMOUNT"] for x in target.read(spark).collect()}
    assert got[1010] == 777.0


def test_cdc_null_version_tombstone_beats_versioned_update(env):
    # ADVICE r2: a NULL-version tombstone (common CDC delete shape: all
    # non-key columns NULL) must win over an EARLIER versioned update for
    # the same key — desc_nulls_last alone resurrects the deleted row.
    spark, store, engine, target = env
    engine.merge_upsert("T", df_of(spark, make_rows(10)), target)

    batch = spark.createDataFrame(
        [
            (1003, 3, 500, None, dt.datetime(2024, 2, 1), 11.0, False),
            (1003, None, None, None, None, None, True),  # NULL-version tombstone, later
        ],
        SCHEMA + ", __deleted boolean",
    ).coalesce(1)
    engine.merge_upsert("T", batch, target)
    assert 1003 not in keys_of(target, spark)


def test_cdc_explicit_sequence_col_tiebreaker(env):
    # ADVICE r2: monotonically_increasing_id orders by partition index,
    # not arrival — a version-less multi-partition batch needs an
    # explicit source offset column for a deterministic winner.
    spark, store, engine, target = env
    engine.config.sequence_col = "__offset"
    engine.merge_upsert("T", df_of(spark, make_rows(10)), target)

    batch = spark.createDataFrame(
        [
            # same key, NO versions, arrival encoded in __offset; spread
            # over 4 partitions so partition order != arrival order
            (1003, 1, None, None, dt.datetime(2024, 2, 1), 1.0, False, 7),
            (1003, 1, None, None, dt.datetime(2024, 2, 1), 2.0, False, 12),
            (1003, 1, None, None, dt.datetime(2024, 2, 1), 3.0, False, 9),
            (1003, 1, None, None, dt.datetime(2024, 2, 1), 4.0, False, 3),
        ],
        SCHEMA + ", __deleted boolean, __offset long",
    ).repartition(4)
    engine.merge_upsert("T", batch, target)
    got = {r["RecId"]: r["AMOUNT"] for r in target.read(spark).collect()}
    assert got[1003] == 2.0  # highest offset wins regardless of partitioning


def test_state_store_merge_commit_atomic(tmp_path):
    # ADVICE r2: get->merge->commit must not interleave between threads —
    # merge_commit runs the merge under the store lock.
    import threading

    from d365fo_db_sync_spark.state import StateStore, TableState

    store = StateStore(str(tmp_path / "s.json"))

    def merge_max(old: TableState, new: TableState) -> TableState:
        def mx(a, b):
            if b is None:
                return a
            return b if a is None else max(a, b)

        return TableState(
            src_ts=mx(old.src_ts, new.src_ts),
            tgt_ts=mx(old.tgt_ts, new.tgt_ts),
            max_transferred_key=mx(old.max_transferred_key, new.max_transferred_key),
            next_sequence=mx(old.next_sequence, new.next_sequence),
        )

    def work(vals):
        for v in vals:
            store.merge_commit("T", TableState(src_ts=v), merge_max)

    threads = [
        threading.Thread(target=work, args=(range(i, 1000, 8),)) for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert store.get("T").src_ts == 999  # no lost maximum


def test_null_version_missing_row_recovered_and_converges(env):
    # ADVICE r1: a missing row whose version is NULL must still be fetched
    # (zero-floor fallback, CopyOrchestrator.cs:1115-1118) instead of being
    # re-reported missing forever.
    spark, store, engine, target = env
    rows = make_rows(50)
    engine.sync_table("T1", df_of(spark, rows), target)

    late_null = (3000, 2, None, None, dt.datetime(2024, 1, 15), 7.0)
    src2 = df_of(spark, rows + [late_null])
    r2 = engine.sync_table("T1", src2, target)
    assert r2.mode == INCREMENTAL
    assert r2.missing == 1
    assert 3000 in keys_of(target, spark)

    # converged: the next cycle sees a perfect window, not missing=1 again
    r3 = engine.sync_table("T1", src2, target)
    assert r3.mode == NO_CHANGE


def test_state_store_concurrent_commits(tmp_path):
    # ADVICE r1: Orchestrator commits from up to 10 worker threads —
    # concurrent commit/_flush must neither tear the dict nor lose state.
    import threading

    p = str(tmp_path / "s.json")
    store = StateStore(p)
    errors: list[Exception] = []

    def work(i: int) -> None:
        try:
            for j in range(25):
                store.commit(f"T{i}_{j}", TableState(src_ts=j, max_transferred_key=i))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(10)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    persisted = StateStore(p)
    for i in range(10):
        for j in range(25):
            assert persisted.get(f"T{i}_{j}").src_ts == j


def test_state_store_roundtrip(tmp_path):
    p = str(tmp_path / "s.json")
    s1 = StateStore(p)
    s1.commit("Foo", TableState(src_ts=10, tgt_ts=9, max_transferred_key=123, next_sequence=500))
    s2 = StateStore(p)
    st = s2.get("FOO")  # case-insensitive
    assert (st.src_ts, st.tgt_ts, st.max_transferred_key, st.next_sequence) == (10, 9, 123, 500)
    s2.clear("foo")
    assert StateStore(p).get("FOO").src_ts is None


def test_config_profiles_roundtrip(tmp_path):
    from d365fo_db_sync_spark.config import ConfigStore, EngineConfig

    store = ConfigStore(str(tmp_path / "cfg.json"))
    cfg = EngineConfig(parallel_workers=4, strategy_text="T|100 -truncate")
    store.save("prod-sync", cfg)
    assert not ConfigStore.is_valid_name("bad name!")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.save("bad name!", cfg)

    again = ConfigStore(str(tmp_path / "cfg.json"))
    assert again.load().parallel_workers == 4  # last-used pointer
    assert again.names() == ["prod-sync"]


def test_snapshot_sink(spark, tmp_path):
    from d365fo_db_sync_spark.sinks import ParquetTarget, snapshot

    tgt = ParquetTarget(str(tmp_path / "t"))
    df = spark.createDataFrame([(1,), (2,)], "id long")
    tgt.overwrite(df)
    dest = snapshot(tgt, str(tmp_path / "snaps"), "t_2024_01_01_0000")
    assert spark.read.parquet(dest).count() == 2
    # snapshot survives a subsequent overwrite (COPY_ONLY semantics)
    tgt.overwrite(spark.createDataFrame([(9,)], "id long"))
    assert spark.read.parquet(dest).count() == 2


def test_partitioned_target_prunes_on_read(spark, tmp_path):
    import os

    from d365fo_db_sync_spark.plans.audit import explain_formatted
    from d365fo_db_sync_spark.sinks import ParquetTarget

    tgt = ParquetTarget(str(tmp_path / "pt"), partition_by=["day"])
    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}") for i in range(30)], "id long, day string"
    )
    tgt.overwrite(df)
    live = tgt.current_path()
    assert any(e.startswith("day=") for e in os.listdir(live))  # hive layout

    pruned = tgt.read(spark).filter("day = '2024-01-02'")
    assert pruned.count() == 10
    assert "PartitionFilters" in explain_formatted(pruned)


def _three_sinks(tmp_path):
    """One target of each sink kind, for the merge-contract tests: every
    sink must end a cycle with the same rows and the same state."""
    from d365fo_db_sync_spark.sinks import BucketedParquetTarget, ManifestParquetTarget

    return {
        "plain": ParquetTarget(str(tmp_path / "plain")),
        "bucketed": BucketedParquetTarget(str(tmp_path / "bkt"), key="RecId", n_buckets=8),
        "manifest": ManifestParquetTarget(str(tmp_path / "mfst"), key="RecId", n_buckets=8),
    }


def _rows_of(tgt, spark):
    return sorted(
        (r["RecId"], r["SysRowVersion"], r["AMOUNT"]) for r in tgt.read(spark).collect()
    )


@pytest.mark.fast
def test_bucketed_merge_matches_full_rewrite(env, tmp_path):
    # every sink's merge must produce exactly the state the whole-table
    # rewrite produces, for upserts + tombstones together.
    spark, store, engine, _ = env
    sinks = _three_sinks(tmp_path)

    base = make_rows(60)
    batch = spark.createDataFrame(
        [
            (1003, 4, 501, None, dt.datetime(2024, 2, 1), 22.0, False),  # update
            (2000, 2, 502, None, dt.datetime(2024, 2, 1), 5.0, False),   # insert
            (1005, 4, 503, None, None, None, True),                      # tombstone
        ],
        SCHEMA + ", __deleted boolean",
    )
    for label, tgt in sinks.items():
        engine.merge_upsert(f"T_{label}", df_of(spark, base), tgt)
        engine.merge_upsert(f"T_{label}", batch, tgt)

    finals = {label: _rows_of(tgt, spark) for label, tgt in sinks.items()}
    assert finals["plain"] == finals["bucketed"] == finals["manifest"]
    assert store.get("T_plain") == store.get("T_bucketed") == store.get("T_manifest")
    assert "__kb" not in sinks["bucketed"].read(spark).columns  # bucket col hidden


def test_bucketed_merge_rewrites_only_affected_buckets(env, tmp_path):
    # untouched buckets' files must carry forward as hardlinks (same
    # inode), proving the merge never rewrote their data
    import os

    from d365fo_db_sync_spark.sinks import BucketedParquetTarget

    spark, store, engine, _ = env
    tgt = BucketedParquetTarget(str(tmp_path / "b"), key="RecId", n_buckets=16)
    engine.merge_upsert("TB", df_of(spark, make_rows(200)), tgt)

    def inodes_by_bucket(path):
        out = {}
        for entry in os.listdir(path):
            if entry.startswith("__kb="):
                d = os.path.join(path, entry)
                out[entry] = {
                    os.stat(os.path.join(d, f)).st_ino
                    for f in os.listdir(d)
                    if f.endswith(".parquet")
                }
        return out

    before = inodes_by_bucket(tgt.current_path())
    one = spark.createDataFrame(
        [(1003, 4, 900, None, dt.datetime(2024, 3, 1), 1.0)], SCHEMA
    )
    n = tgt.merge(spark, one, one.limit(0).select("RecId"))
    assert n == 1  # exactly one bucket touched
    after = inodes_by_bucket(tgt.current_path())
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1  # every other bucket is the same inodes
    untouched = [b for b in before if b not in changed]
    assert untouched and all(before[b] == after[b] for b in untouched)
    got = {r["RecId"]: r["SysRowVersion"] for r in tgt.read(spark).collect()}
    assert got[1003] == 900 and len(got) == 200


def test_bucketed_merge_empty_change_set_is_noop(env, tmp_path):
    from d365fo_db_sync_spark.sinks import BucketedParquetTarget

    spark, store, engine, _ = env
    tgt = BucketedParquetTarget(str(tmp_path / "b2"), key="RecId", n_buckets=4)
    engine.merge_upsert("TN", df_of(spark, make_rows(20)), tgt)
    v = tgt.current_path()
    empty = df_of(spark, make_rows(1)).limit(0)
    assert tgt.merge(spark, empty, empty.select("RecId")) == 0
    assert tgt.current_path() == v  # version untouched


@pytest.mark.fast
def test_optimized_path_on_bucketed_target_matches_plain(env, tmp_path):
    # the reference's core incremental cycle (control scan -> 3-step
    # merge) and the state-loss STANDARD cycle must produce identical
    # rows and state through the partial-rewrite sinks as through the
    # full-rewrite sink — deletes, modifications, window excess, and
    # late rows included.
    spark, store, engine, _ = env
    engine.config.record_count = 100
    rows = make_rows(100)
    deleted = {1000 + 7, 1000 + 8}
    ver = 1000
    new_rows = []
    for r in rows:
        if r[0] in deleted:
            continue
        if r[0] % 20 == 0:
            ver += 1
            r = (r[0], r[1] + 1, ver, r[3], r[4], r[5] + 99.0)
        new_rows.append(r)
    new_rows.append((3000, 2, 5, None, dt.datetime(2024, 1, 15), 7.0))  # late, old ver

    # state loss, then modifies, deletes and inserts: the inserts push
    # the 100-row window up past the two lowest keys, which must go
    standard_rows = [
        (r[0], r[1] + 1, r[2] + 5000, r[3], r[4], -r[5]) if r[0] % 15 == 0 else r
        for r in new_rows
        if r[0] not in {1000 + 31, 1000 + 64}
    ] + [(4000 + i, 2, 9000 + i, None, dt.datetime(2024, 3, 1), 1.0 * i) for i in range(5)]
    standard_window = sorted(standard_rows)[-100:]
    assert {r[0] for r in standard_window} == {r[0] for r in standard_rows} - {1000, 1001}

    finals, states = {}, {}
    for label, tgt in _three_sinks(tmp_path).items():
        name = f"TO_{label}"
        r1 = engine.sync_table(name, df_of(spark, rows), tgt)
        assert r1.mode == STANDARD
        r2 = engine.sync_table(name, df_of(spark, new_rows), tgt)
        assert r2.mode == INCREMENTAL, (label, r2)
        incremental_rows = _rows_of(tgt, spark)
        st = store.get(name)
        assert st.src_ts == max(x[2] for x in new_rows)
        store.clear(name)
        r3 = engine.sync_table(name, df_of(spark, standard_rows), tgt)
        assert r3.mode == STANDARD, (label, r3)
        assert r3.classification.get("deleted") == 4
        assert r3.classification.get("new") == 5
        finals[label] = (incremental_rows, _rows_of(tgt, spark))
        states[label] = store.get(name)
    assert finals["plain"] == finals["bucketed"] == finals["manifest"]
    assert states["plain"] == states["bucketed"] == states["manifest"]
    assert finals["plain"][1] == sorted((r[0], r[2], r[5]) for r in standard_window)


def test_bucketed_merge_crash_before_swap_leaves_old_version(env, tmp_path, monkeypatch):
    # T6 for the partial-rewrite sink: a failure before the pointer
    # swap must leave the previous version live and complete, and the
    # engine must not advance state.
    import os as _os

    from d365fo_db_sync_spark.sinks import BucketedParquetTarget

    spark, store, engine, _ = env
    tgt = BucketedParquetTarget(str(tmp_path / "c"), key="RecId", n_buckets=4)
    engine.merge_upsert("TC", df_of(spark, make_rows(30)), tgt)
    v0 = tgt.current_path()
    st0 = store.get("TC")

    real_replace = _os.replace

    def boom(src, dst):
        if dst.endswith("_version"):
            raise OSError("simulated crash at publish")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", boom)
    batch = spark.createDataFrame(
        [(1003, 4, 900, None, dt.datetime(2024, 3, 1), 1.0)], SCHEMA
    )
    with pytest.raises(OSError, match="simulated crash"):
        engine.merge_upsert("TC", batch, tgt)
    monkeypatch.undo()

    assert tgt.current_path() == v0  # old version still live
    got = {r["RecId"]: r["AMOUNT"] for r in tgt.read(spark).collect()}
    assert got[1003] != 1.0 and len(got) == 30  # pre-merge contents intact
    assert store.get("TC") == st0  # watermark not advanced


def test_default_sections_and_secret_obfuscation(tmp_path):
    from d365fo_db_sync_spark.config import (
        deobfuscate_secret,
        obfuscate_secret,
        read_default_section,
        read_default_sections,
    )

    ini = tmp_path / "DefaultValues.ini"
    ini.write_text(
        "\n[SystemExcludedTables]\n\nSYSLOG\nBATCHJOB\n\n\n"
        "[ExcludedFields]\n*.SYSDATAAREAID\nCUSTTABLE.MEMO\n",
        encoding="utf-8",
    )
    sections = read_default_sections(str(ini))
    # case-insensitive lookup, blank edges stripped, internal preserved
    assert sections.get("systemexcludedtables") == "SYSLOG\nBATCHJOB"
    assert read_default_section(str(ini), "EXCLUDEDFIELDS") == (
        "*.SYSDATAAREAID\nCUSTTABLE.MEMO"
    )
    assert read_default_section(str(ini), "missing") is None
    assert read_default_sections(str(tmp_path / "nope.ini")) == {}

    assert deobfuscate_secret(obfuscate_secret("p@ss w0rd")) == "p@ss w0rd"
    assert obfuscate_secret("") == ""
    # non-base64 legacy value passes through
    assert deobfuscate_secret("plain!password") == "plain!password"


def test_vacuum_removes_orphaned_stagings(env, tmp_path, monkeypatch):
    # a crash before the pointer swap leaves its staged version dir
    # behind; vacuum reclaims it and never touches the live version
    import os as _os

    from d365fo_db_sync_spark.sinks import BucketedParquetTarget

    spark, store, engine, _ = env
    tgt = BucketedParquetTarget(str(tmp_path / "v"), key="RecId", n_buckets=4)
    engine.merge_upsert("TV", df_of(spark, make_rows(20)), tgt)
    live = tgt.current_path()

    real_replace = _os.replace

    def boom(src, dst):
        if dst.endswith("_version"):
            raise OSError("crash at publish")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", boom)
    with pytest.raises(OSError):
        engine.merge_upsert(
            "TV",
            spark.createDataFrame(
                [(1003, 4, 900, None, dt.datetime(2024, 3, 1), 1.0)], SCHEMA
            ),
            tgt,
        )
    monkeypatch.undo()

    orphans = [
        d for d in _os.listdir(tgt.root)
        if d.startswith("v_") and d != _os.path.basename(live)
    ]
    assert orphans  # the crash left its staging behind
    removed = tgt.vacuum()
    assert len(removed) == len(orphans)
    assert tgt.current_path() == live
    assert tgt.read(spark).count() == 20
    assert tgt.vacuum() == []  # idempotent


def test_fastpath_decision_matches_logical_condition(env):
    """Property: the checksum-based no-change decision must equal the
    logical condition (no row above either watermark AND identical key
    sets) on adversarial shapes — equal counts with swapped keys,
    supersets, empty sides, boundary watermarks — whether the probe
    scans the target or takes its half from a witness learned on that
    target. Spark-job-per-case, so the cases are enumerated rather than
    hypothesis-driven."""
    from dataclasses import replace

    from d365fo_db_sync_spark.sync import _witness_of, _witnessed_target

    spark, store, engine, target = env

    ts = 100
    state = TableState(src_ts=ts, tgt_ts=ts)

    def decide(ctl: dict, tgt: dict, probe: str) -> bool:
        c = spark.createDataFrame(
            [(k, v) for k, v in ctl.items()] or [(None, None)],
            "RecId long, SysRowVersion long",
        ).filter("RecId IS NOT NULL")
        t = spark.createDataFrame(
            [(k, v) for k, v in tgt.items()] or [(None, None)],
            "RecId long, SysRowVersion long",
        ).filter("RecId IS NOT NULL")
        row = engine._probe(c, t, state)
        if probe == "witness":
            # learn the witness from tgt, then decide as the engine does:
            # source-only probe plus the witnessed half, or a scan when
            # the witness does not certify tgt_changed == 0
            learned = replace(state, witness=_witness_of(row, "v_live"))
            known = _witnessed_target(learned, "v_live")
            assert (known is None) == any(v is not None and v > ts for v in tgt.values())
            assert _witnessed_target(learned, "v_other") is None
            if known is not None:
                row = {**engine._probe(c, None, learned), **known}
        return (
            row["src_changed"] == 0
            and row["tgt_changed"] == 0
            and row["tgt_total"] == row["control_rows"]
            and row["c_sum1"] == row["t_sum1"]
            and row["c_sum2"] == row["t_sum2"]
        )

    def logical(ctl: dict, tgt: dict) -> bool:
        return (
            all(v is None or v <= ts for v in ctl.values())
            and all(v is None or v <= ts for v in tgt.values())
            and set(ctl) == set(tgt)
        )

    cases = [
        ({1: 50, 2: 60}, {1: 50, 2: 60}),          # identical -> no-op
        ({1: 50, 2: 60}, {1: 50, 2: 61}),          # same keys, both below -> no-op
        ({1: 50, 2: 101}, {1: 50, 2: 60}),         # source above watermark
        ({1: 50, 2: 60}, {1: 50, 2: 101}),         # target above watermark
        ({1: 50, 2: 60}, {1: 50, 3: 60}),          # equal counts, swapped key
        ({1: 50}, {1: 50, 2: 60}),                 # target superset
        ({1: 50, 2: 60}, {1: 50}),                 # control superset
        ({}, {}),                                  # both empty -> vacuous no-op
        ({}, {1: 50}),                              # empty control
        ({1: 100}, {1: 100}),                      # exactly AT watermark (not above)
        ({1: None}, {1: None}),                    # NULL versions, same keys
        ({1: None, 2: 50}, {1: 50, 2: None}),      # NULLs crossed, same keys
    ]
    for ctl, tgt in cases:
        for probe in ("scan", "witness"):
            assert decide(ctl, tgt, probe) == logical(ctl, tgt), (ctl, tgt, probe)
