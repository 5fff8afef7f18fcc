"""The R6 no-change probe as SQL expressions: its split key-hash sums
are exact, and a witnessed no-change cycle builds it in a bounded
number of Py4J round trips."""

from __future__ import annotations

import gc

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from d365fo_db_sync_spark.sinks import ParquetTarget
from d365fo_db_sync_spark.state import StateStore, TableState
from d365fo_db_sync_spark.sync import NO_CHANGE, SyncConfig, SyncEngine

from tests.test_sync_engine import df_of, make_rows

LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1

keys = st.lists(
    st.one_of(st.none(), st.integers(min_value=LONG_MIN, max_value=LONG_MAX)), max_size=40
)


def _frame(spark, ks):
    return spark.createDataFrame([(k, 1) for k in ks], "RecId long, SysRowVersion long")


def _exact_sums(spark, ks) -> tuple:
    """Both salted xxhash64 sums over the non-NULL keys as Python ints,
    None when there is none: the hashes come from Spark, the sums
    never touch it."""
    hashes = (
        _frame(spark, ks)
        .filter(F.col("RecId").isNotNull())
        .select(F.xxhash64("RecId"), F.xxhash64("RecId", F.lit(0x5EED)))
        .collect()
    )
    if not hashes:
        return None, None
    return sum(h[0] for h in hashes), sum(h[1] for h in hashes)


@pytest.mark.fast
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(src=keys, tgt=keys)
@example(src=[], tgt=[None])
@example(src=[LONG_MIN, LONG_MAX, None, -1, 0], tgt=[LONG_MAX] * 40)
def test_split_sums_are_exact(spark, tmp_path_factory, src, tgt):
    engine = SyncEngine(
        spark, StateStore(str(tmp_path_factory.mktemp("probe") / "state.json")), SyncConfig()
    )
    state = TableState(src_ts=0, tgt_ts=0)
    row = engine._probe(_frame(spark, src), _frame(spark, tgt), state)
    assert (row["c_sum1"], row["c_sum2"]) == _exact_sums(spark, src)
    assert (row["t_sum1"], row["t_sum2"]) == _exact_sums(spark, tgt)
    assert (row["control_rows"], row["tgt_total"]) == (
        sum(k is not None for k in src),
        sum(k is not None for k in tgt),
    )
    half = engine._probe(_frame(spark, src), None, state)
    assert (half["c_sum1"], half["c_sum2"]) == (row["c_sum1"], row["c_sum2"])


@pytest.mark.fast
def test_witnessed_noop_cycle_round_trip_budget(spark, tmp_path, monkeypatch):
    """A witnessed no-change cycle is one source-only aggregate; the
    Python side's work to build it is counted as Py4J commands: 342 when the
    probe was built from Column objects, 54 to 64 as SQL expressions,
    figures that do not depend on the table's size. Python's cyclic
    garbage collector is paused for the cycle: a collection it happens
    to run there releases other frames' Java objects, one command
    each."""
    from py4j.clientserver import ClientServerConnection

    src_path = str(tmp_path / "src")
    df_of(spark, make_rows(120)).write.parquet(src_path)
    source = spark.read.parquet(src_path)
    engine = SyncEngine(
        spark, StateStore(str(tmp_path / "state.json")), SyncConfig(record_count=100)
    )
    target = ParquetTarget(str(tmp_path / "tgt"))
    engine.sync_table("T", source, target)
    assert engine.sync_table("T", source, target).probe == "scan"
    # one witnessed cycle first: the first one in a process also
    # releases Java objects that earlier calls left behind
    assert engine.sync_table("T", source, target).probe == "witness"

    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    try:
        monkeypatch.setattr(ClientServerConnection, "send_command", counted)
        r = engine.sync_table("T", source, target)
        monkeypatch.undo()
    finally:
        gc.enable()
    assert (r.mode, r.probe) == (NO_CHANGE, "witness")
    assert 0 < len(calls) <= 100, len(calls)
