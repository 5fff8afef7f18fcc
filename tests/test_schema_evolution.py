"""Schema evolution on the partial-rewrite merge sinks.

A long-lived sync target outlives its source's schema: columns get
added (new business fields) and dropped (deprecations) mid-stream. The
reference's SchemaService intersects schemas per run; the sink-side
contract here is widen-and-retain — new columns NULL-backfill history
(including untouched carried-forward buckets that are never rewritten),
dropped columns keep their history and NULL-fill new rows, and type
changes are always a hard error.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from d365fo_db_sync_spark.sinks import (
    BucketedParquetTarget,
    ManifestParquetTarget,
    ParquetTarget,
)
from d365fo_db_sync_spark.suite import scratch_dir

SINKS = [BucketedParquetTarget, ManifestParquetTarget]


def _seed(spark, sink_cls, tag: str):
    t = sink_cls(scratch_dir(f"evo_{tag}_") + "/t", key="k", n_buckets=8)
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.overwrite(base)
    return t


@pytest.mark.parametrize("sink_cls", SINKS, ids=["hardlink", "manifest"])
def test_added_column_backfills_null(spark, sink_cls):
    t = _seed(spark, sink_cls, "add")
    up = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(999).cast("long").alias("v"), F.lit("new").alias("extra")
    )
    t.merge(spark, up, evolve_schema=True)
    out = t.read(spark)
    assert set(out.columns) == {"k", "v", "extra"}
    rows = {r["k"]: (r["v"], r["extra"]) for r in out.collect()}
    assert len(rows) == 100
    assert rows[3] == (999, "new")
    # history — including rows in buckets the merge never touched —
    # reads NULL for the new column
    assert rows[97] == (194, None)
    untouched = [r for k, r in rows.items() if k >= 5]
    assert all(extra is None for _v, extra in untouched)


@pytest.mark.parametrize("sink_cls", SINKS, ids=["hardlink", "manifest"])
def test_dropped_column_retains_history(spark, sink_cls):
    t = _seed(spark, sink_cls, "drop")
    up = spark.range(100, 105).select(F.col("id").alias("k"))  # no `v`
    t.merge(spark, up, evolve_schema=True)
    out = t.read(spark)
    assert set(out.columns) == {"k", "v"}
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert len(rows) == 105
    assert rows[50] == 100  # history intact
    assert rows[102] is None  # new row NULL-fills the absent column


@pytest.mark.parametrize("sink_cls", SINKS, ids=["hardlink", "manifest"])
def test_type_change_raises(spark, sink_cls):
    t = _seed(spark, sink_cls, "type")
    up = spark.range(0, 5).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    with pytest.raises(Exception):
        t.merge(spark, up, evolve_schema=True)


@pytest.mark.parametrize("sink_cls", SINKS, ids=["hardlink", "manifest"])
def test_strict_mode_still_rejects_drift(spark, sink_cls):
    t = _seed(spark, sink_cls, "strict")
    up = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v"), F.lit("x").alias("extra")
    )
    with pytest.raises(Exception):
        t.merge(spark, up)  # evolve_schema defaults to False


@pytest.mark.parametrize("sink_cls", SINKS, ids=["hardlink", "manifest"])
def test_unified_schema_survives_later_merges(spark, sink_cls):
    """Once evolved, the widened schema must persist through later
    NON-evolving merges and probes, even though untouched buckets still
    hold old-schema files."""
    t = _seed(spark, sink_cls, "persist")
    up = spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v"), F.lit("e").alias("extra")
    )
    t.merge(spark, up, evolve_schema=True)
    up2 = spark.range(3, 6).select(
        F.col("id").alias("k"), F.lit(2).cast("long").alias("v"), F.lit("f").alias("extra")
    )
    t.merge(spark, up2)  # strict merge in the evolved schema
    out = t.read(spark)
    assert set(out.columns) == {"k", "v", "extra"}
    rows = {r["k"]: r["extra"] for r in out.collect()}
    assert rows[4] == "f" and rows[1] == "e" and rows[50] is None
    # point-lookup path sees the same unified schema
    probed = t.probe(spark, spark.range(50, 51).select(F.col("id").alias("k")))
    got = [r for r in probed.collect() if r["k"] == 50]
    assert len(got) == 1 and got[0]["extra"] is None


@pytest.mark.parametrize("sink_cls", SINKS, ids=["hardlink", "manifest"])
def test_evolution_preserves_partial_rewrite(spark, sink_cls):
    """Evolving must not silently degrade into a full rewrite: only the
    upserts' buckets rewrite; the rest carry forward."""
    t = _seed(spark, sink_cls, "partial")
    up = spark.range(0, 1).select(
        F.col("id").alias("k"), F.lit(7).cast("long").alias("v"), F.lit("z").alias("extra")
    )
    n = t.merge(spark, up, evolve_schema=True)
    assert 1 <= n < 8


def test_strategy_dsl_parses_evolve():
    from d365fo_db_sync_spark.strategy import parse_strategy_line

    s = parse_strategy_line("CUSTTABLE|5000 -buckets 16 -evolve")
    assert s.evolve and s.buckets == 16 and s.record_count == 5000
    s2 = parse_strategy_line("SALESLINE|sql:SELECT * FROM S -evolve -truncate")
    assert s2.evolve and s2.use_truncate
    s3 = parse_strategy_line("INVENTTABLE|1000")
    assert not s3.evolve


@pytest.mark.parametrize(
    "make_target",
    [ParquetTarget, lambda root: BucketedParquetTarget(root, key="RecId", n_buckets=4)],
    ids=["plain", "hardlink"],
)
def test_sync_engine_evolves_source_drift(spark, make_target):
    """End-to-end: a source that grows a column mid-stream syncs through
    SyncEngine with evolve_schema — history NULL-backfills, new rows
    carry the new column; without the flag the same drift errors."""
    from d365fo_db_sync_spark.state import StateStore
    from d365fo_db_sync_spark.sync import INCREMENTAL, SyncConfig, SyncEngine

    work = scratch_dir("evo_sync_")
    store = StateStore(work + "/state.json")
    engine = SyncEngine(
        spark, store, SyncConfig(key="RecId", version="Ver", record_count=1000)
    )
    t = make_target(work + "/t")

    src1 = spark.range(0, 50).select(
        F.col("id").alias("RecId"), (F.col("id") + 10).alias("Ver")
    )
    engine.sync_table("T", src1, t)

    src2 = spark.range(0, 60).select(
        F.col("id").alias("RecId"),
        (F.col("id") + 20).alias("Ver"),
        F.concat(F.lit("x"), F.col("id")).alias("NewCol"),
    )
    with pytest.raises(Exception):
        engine.sync_table("T", src2, t)
    report = engine.sync_table("T", src2, t, evolve_schema=True)
    assert report.mode == INCREMENTAL  # 20 of 60 rows changed: 33% < 40%
    out = t.read(spark)
    assert "NewCol" in out.columns
    assert out.count() == 60
    assert out.filter(F.col("NewCol").isNull()).count() < 60  # new rows carry it


def test_truncate_fallback_keeps_evolved_schema(spark):
    """A full refresh (forced truncate) under -evolve must keep the
    target's widened schema: dropped columns stay present, all-NULL —
    the promise must not depend on which cycle crossed the truncate
    threshold."""
    from d365fo_db_sync_spark.state import StateStore
    from d365fo_db_sync_spark.sync import SyncConfig, SyncEngine

    work = scratch_dir("evo_trunc_")
    store = StateStore(work + "/state.json")
    engine = SyncEngine(
        spark, store, SyncConfig(key="RecId", version="Ver", record_count=1000)
    )
    t = ParquetTarget(work + "/t")
    src1 = spark.range(0, 40).select(
        F.col("id").alias("RecId"), (F.col("id") + 10).alias("Ver"),
        F.concat(F.lit("x"), F.col("id")).alias("Legacy"),
    )
    engine.sync_table("T", src1, t)
    assert "Legacy" in t.read(spark).columns

    # source drops Legacy; forced full refresh with evolve keeps it
    src2 = spark.range(0, 45).select(
        F.col("id").alias("RecId"), (F.col("id") + 20).alias("Ver")
    )
    engine.sync_table("T", src2, t, force_truncate=True, evolve_schema=True)
    out = t.read(spark)
    assert set(out.columns) == {"RecId", "Ver", "Legacy"}
    assert out.count() == 45
    assert out.filter(F.col("Legacy").isNotNull()).count() == 0

    # without evolve, truncate takes the source schema wholesale
    engine.sync_table("T", src2, t, force_truncate=True)
    assert set(t.read(spark).columns) == {"RecId", "Ver"}


def test_profile_columns_odd_names(spark):
    """Column names are data: spaces/dots/quotes must not break the
    stack unpivot (they are never spliced into SQL as syntax)."""
    from d365fo_db_sync_spark import catalog

    df = spark.range(0, 10).selectExpr(
        "id as `order key`", "id * 2 as `it's`", "cast(id as string) as `a.b`"
    )
    prof = catalog.profile_columns(df)
    rows = {r["column"]: r for r in prof.collect()}
    assert set(rows) == {"order key", "it's", "a.b"}
    assert rows["order key"]["n_distinct"] == 10
    assert rows["a.b"]["n_nulls"] == 0
