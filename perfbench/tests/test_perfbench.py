"""Tests of the benchmark's own machinery: the generator, the span
arithmetic, the output checks and the write accounting.

    python3 -m pytest perfbench/tests -q

Only the last test starts Spark.
"""

from __future__ import annotations

import json
import os
import sys
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import check  # noqa: E402
from perfbench.gen import KEY, VERSION, CdcStream, SourceTable, VersionClock, write_parquet  # noqa: E402
from perfbench.tracing import Recorder, Span, file_inodes, self_times, written_since  # noqa: E402

# -- generator ------------------------------------------------------------------------------


def _history(seed: int) -> list[pa.Table]:
    table = SourceTable(np.random.default_rng(seed), VersionClock(), 2_000)
    out = [table.table()]
    for _ in range(3):
        table.change(modify=0.01, delete=0.005, insert=0.01, late=0.002)
        out.append(table.table())
    return out


def test_generator_is_deterministic_per_seed():
    assert all(a.equals(b) for a, b in zip(_history(7), _history(7)))
    assert not _history(7)[0].equals(_history(8)[0])
    one = CdcStream(np.random.default_rng(3), VersionClock(), 1_000)
    two = CdcStream(np.random.default_rng(3), VersionClock(), 1_000)
    assert one.initial().equals(two.initial())
    assert one.batch(200).equals(two.batch(200))


def test_versions_rise_across_generations():
    """Rows a generation publishes carry versions above everything the
    generation before it published, except late rows: they surface one
    generation later, below the last synced watermark, but still above
    everything published two generations back."""
    table = SourceTable(np.random.default_rng(1), VersionClock(), 5_000)
    assert len(np.unique(table.ver)) == len(table.ver)
    watermarks = [int(table.ver.max())]
    late_seen = 0
    for _ in range(4):
        before = dict(zip(table.key.tolist(), table.ver.tolist()))
        table.change(modify=0.01, delete=0.002, insert=0.01, late=0.004)
        fresh = np.array([v for k, v in zip(table.key.tolist(), table.ver.tolist()) if before.get(k) != v])
        assert len(fresh)
        late = fresh[fresh <= watermarks[-1]]
        late_seen += len(late)
        if len(watermarks) > 1:
            assert (late > watermarks[-2]).all()
        else:
            assert len(late) == 0  # nothing was held back yet
        watermarks.append(int(table.ver.max()))
        assert len(np.unique(table.ver)) == len(table.ver)
    assert late_seen > 0


def test_cdc_batch_has_repeats_tombstones_and_new_keys():
    stream = CdcStream(np.random.default_rng(2), VersionClock(), 10_000)
    initial = stream.initial()
    batch = stream.batch(2_000)
    keys = batch[KEY].to_numpy()
    assert len(np.unique(keys)) < len(keys)  # repeated keys within the batch
    assert pc.sum(batch[CdcStream.TOMBSTONE]).as_py() > 0
    assert (keys > initial[KEY].to_numpy().max()).any()
    assert (np.diff(batch[VERSION].to_numpy()) > 0).all()  # arrival order = version order


# -- self time ------------------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "root", 0.0, 10.0, None),
        Span(2, "a", 1.0, 4.0, 1),
        Span(3, "b", 3.0, 6.0, 1),  # overlaps a, as parallel workers do
        Span(4, "a.child", 2.0, 3.0, 2),
        Span(5, "c", 9.0, 12.0, 1),  # runs past its parent's end
    ]
    got = self_times(spans)
    assert got == pytest.approx({1: 10 - 5 - 1, 2: 3 - 1, 3: 3, 4: 1, 5: 3})


def test_worker_thread_spans_nest_under_the_root():
    rec = Recorder()
    with rec.span("process") as (sid, _attrs):
        rec.root = sid

        def work():
            with rec.span("table"):
                with rec.span("read"):
                    pass

        threads = [threading.Thread(target=work) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in threads)
    spans = {s.id: s for s in rec.take()}
    tables = [s for s in spans.values() if s.name == "table"]
    assert len(tables) == 3 and all(s.parent == sid for s in tables)
    reads = [s for s in spans.values() if s.name == "read"]
    assert sorted(s.parent for s in reads) == sorted(s.id for s in tables)


# -- output checks --------------------------------------------------------------------------


def _target(root: str, table: pa.Table) -> str:
    """A target laid out like ParquetTarget: a version directory named
    by the _version pointer file."""
    os.makedirs(os.path.join(root, "v_1"), exist_ok=True)
    for i, part in enumerate((table.slice(0, table.num_rows // 2), table.slice(table.num_rows // 2))):
        pq.write_table(part, os.path.join(root, "v_1", f"part-{i}.parquet"))
    with open(os.path.join(root, "_version"), "w", encoding="utf-8") as f:
        f.write("v_1")
    return root


def test_window_check_rejects_a_planted_wrong_row(tmp_path):
    source = SourceTable(np.random.default_rng(4), VersionClock(), 500)
    expected = source.table(source.window_rows())
    con = check.connect(str(tmp_path / "duck"))
    assert check.window_matches(con, _target(str(tmp_path / "ok"), expected), expected)

    qty = expected["Qty"].to_numpy().copy()
    qty[17] += 1
    wrong = expected.set_column(expected.schema.get_field_index("Qty"), "Qty", pa.array(qty))
    assert not check.window_matches(con, _target(str(tmp_path / "wrong"), wrong), expected)
    assert not check.window_matches(con, _target(str(tmp_path / "short"), expected.slice(1)), expected)
    extra = source.table()  # the window plus the rows below it
    assert not check.window_matches(con, _target(str(tmp_path / "extra"), extra), expected)


def test_cdc_check_replays_last_event_per_key(tmp_path):
    stream = CdcStream(np.random.default_rng(5), VersionClock(), 300)
    initial, batch = stream.initial(), stream.batch(120)
    write_parquet(initial, str(tmp_path / "initial.parquet"))
    write_parquet(batch, str(tmp_path / "batch.parquet"))
    # the oracle, written out by hand: last event per key, tombstones delete
    rows = {r[KEY]: r for r in initial.to_pylist()}
    for r in batch.to_pylist():
        dead = r.pop(CdcStream.TOMBSTONE)
        if dead:
            rows.pop(r[KEY], None)
        else:
            rows[r[KEY]] = r
    merged = pa.Table.from_pylist(list(rows.values()), schema=initial.schema)
    con = check.connect(str(tmp_path / "duck"))
    files = [str(tmp_path / "batch.parquet")]
    assert check.cdc_matches(con, _target(str(tmp_path / "ok"), merged), str(tmp_path / "initial.parquet"), files)
    # a tombstoned key left live
    dead_key = next(
        r[KEY] for r in batch.to_pylist() if r[CdcStream.TOMBSTONE] and r[KEY] <= 300 and r[KEY] not in rows
    )
    resurrected = pa.concat_tables([merged, initial.filter(pc.equal(initial[KEY], dead_key))])
    assert not check.cdc_matches(
        con, _target(str(tmp_path / "bad"), resurrected), str(tmp_path / "initial.parquet"), files
    )


# -- write accounting -----------------------------------------------------------------------


def test_inode_diff_counts_hardlinked_buckets_as_not_written(tmp_path):
    old, new = tmp_path / "v_old", tmp_path / "v_new"
    for d in (old / "__kb=0", old / "__kb=1", new / "__kb=0", new / "__kb=1"):
        d.mkdir(parents=True)
    small = pa.table({KEY: pa.array(range(10), pa.int64())})
    big = pa.table({KEY: pa.array(range(25), pa.int64())})
    pq.write_table(small, old / "__kb=0" / "a.parquet")
    pq.write_table(small, old / "__kb=1" / "b.parquet")
    before = file_inodes(str(old))
    os.link(old / "__kb=0" / "a.parquet", new / "__kb=0" / "a.parquet")  # carried forward
    pq.write_table(big, new / "__kb=1" / "c.parquet")  # rewritten bucket
    rows, size = written_since(str(new), before)
    assert rows == 25
    assert size == os.path.getsize(new / "__kb=1" / "c.parquet")
    assert written_since(str(old), before) == (0, 0)


# -- BENCHMARK.json -------------------------------------------------------------------------


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    from collections import Counter

    from perfbench import run
    from perfbench.workloads import Verdict

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    ops = [run.Op("a", 1.0, Verdict(1, 1, 1, 1, True)), run.Op("a", 2.0, Verdict(1, 1, 1, 1, True), traced=True)]
    e2e = run._end_to_end(ops, Counter(a=1), "a", 3.0)
    layers = run._layer_metrics(ops, {"session": 1, "gen": 1, "load": 1, "warmup": 1}, 0.0, 1.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_v, u) in e2e.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {k: u for k, (_v, u) in layers.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(run.NAMED)


# -- engine behaviour the benchmark's schedule depends on -------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from d365fo_db_sync_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark")
    session = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.local.dir": str(local), "spark.driver.memory": "1g"},
    )
    yield session
    session.stop()


@pytest.mark.xfail(
    strict=True,
    reason="known engine defect: the STANDARD path keeps target rows that fell below the "
    "last-N window, so snapshot_resync's recovery cycles carry no inserts",
)
def test_standard_recovery_drops_rows_below_the_window(spark, tmp_path):
    from d365fo_db_sync_spark.sinks import ParquetTarget
    from d365fo_db_sync_spark.state import StateStore
    from d365fo_db_sync_spark.sync import STANDARD, SyncConfig, SyncEngine

    source = SourceTable(np.random.default_rng(6), VersionClock(), 200)
    engine = SyncEngine(spark, StateStore(str(tmp_path / "state.json")), SyncConfig(record_count=200))
    target = ParquetTarget(str(tmp_path / "target"))

    def sync(generation: int):
        path = str(tmp_path / f"src_{generation}.parquet")
        write_parquet(source.table(), path)
        return engine.sync_table("T", spark.read.parquet(path), target)

    sync(0)
    source.change(modify=0.0, insert=0.05)  # the window's lower edge moves up
    engine.store.clear("T")  # the state file is lost
    assert sync(1).mode == STANDARD
    con = check.connect(str(tmp_path / "duck"))
    assert check.window_matches(con, target.root, source.table(source.window_rows()))
