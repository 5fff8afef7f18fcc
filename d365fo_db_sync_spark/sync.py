"""Incremental sync engine — the reference's execution core, Spark-first.

Maps the reference's per-table pipeline (CopyOrchestrator.cs:812-1233)
onto DataFrame ops + an atomic-rewrite sink:

* control scan + change-volume evaluation  -> scans.control_scan + counts
* cost-based mode selection (R5/T2)        -> NO_CHANGE / INCREMENTAL /
  TRUNCATE / STANDARD, threshold 40% (AppConfiguration.cs:39)
* perfect-sync fast path (R6)              -> one shuffle-free aggregate
  built from SQL expression strings (a few Py4J round trips); each
  salted 64-bit key-hash sum runs as two BIGINT halves joined exactly
  in Python (no overflow below 2^31 rows; ANSI mode raises beyond). Its
  target half is memoized in StateStore per live version directory
  name, so a no-change cycle on a known version reads only the source
* snapshot refresh (first sync, -truncate,
  the R5 fallback)                         -> ONE job: _publish_window
  writes fetcher.full() and observes the rows written and their maxima
  inside that write; the state commit takes the observed maxima
* 3-step delete + selective insert (T3)    -> on a one-bucket target
  (sinks.ParquetTarget), which a merge would rewrite whole anyway, the
  same _publish_window of the fetched window, which by the window
  invariant IS survivors + inserts, also observing the report's
  per-key counts. On a partial-rewrite sink, and on an -evolve cycle,
  one sink call: target.merge(upserts, doomed_keys) deletes the doomed
  and upserted keys, inserts the upserts (the missing and changed
  rows) and publishes atomically, rewriting only the buckets the keys
  hash into
* state-loss compare (STANDARD)            -> the full window paired with
  the WHOLE target by the same one-exchange groupBy as INCREMENTAL,
  classified by delta.change_type (CompareRecords); target keys outside
  the window are deleted, and a cycle that finds no change writes
  nothing. A change is published as INCREMENTAL publishes it: the
  cached window by _publish_window on a one-bucket target, whose
  observation supplies the committed maxima, else a merge
* late-data widening (T4)                  -> fetch threshold =
  min(stored watermark, min version among keys missing from target)
  (CopyOrchestrator.cs:1106-1123)
* idempotent insert (T5)                   -> anti-join fetched rows
  against current keys before union (CopyOrchestrator.cs:1147-1161)
* sequence fencing (T7)                    -> greatest(max key, seq) + gap
  (AxDbDataService.cs:489-531)
* watermark commit (T1)                    -> StateStore.commit AFTER the
  sink swap succeeds; never on failure

Scale notes: every join here shuffles on the sync key only; the control
frame is two columns (~16 B/row — DBSyncTool_Optimization_Spec.md:1560)
and broadcasts when small. The only driver-side values are scalar counts
and watermarks — key sets stay distributed (unlike the reference's
HashSets, CopyOrchestrator.cs:1018-1022).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from d365fo_db_sync_spark import delta
from d365fo_db_sync_spark.sinks import (
    ConcurrentWriteError,
    ParquetTarget,
    _align_for_evolution,
)
from d365fo_db_sync_spark.state import StateStore, TableState

NO_CHANGE = "NO_CHANGE"
INCREMENTAL = "INCREMENTAL"
TRUNCATE = "TRUNCATE"
STANDARD = "STANDARD"

#: the second key hash's salt: xxhash64(key, 0x5EED) next to xxhash64(key)
_SALT = 0x5EED

#: INCREMENTAL's pairing compares the version column only
_BY_VERSION = delta.ComparisonContext(has_recversion=True, has_created=False, has_modified=False)


@dataclass
class SyncConfig:
    key: str = "RecId"
    version: str = "SysRowVersion"  # uint64 surrogate of BINARY(8) rowversion
    record_count: int = 10_000  # DefaultRecordCount (AppConfiguration.cs:32)
    truncate_threshold_percent: float = 40.0  # AppConfiguration.cs:39
    sequence_gap: int = 10_000  # AxDbDataService.cs:12
    current_sequence: int = 0
    #: optional CDC arrival-order column (e.g. a Kafka offset). When a
    #: micro-batch carries it, _compact_last_event uses it as the
    #: tiebreaker instead of monotonically_increasing_id, whose value
    #: encodes (partitionId, rowIndex) — partition order, NOT true
    #: arrival order, for batches spanning >1 partition. Like the
    #: tombstone marker, the merge consumes it and does not write it.
    sequence_col: str | None = None


@dataclass
class SyncReport:
    table: str
    mode: str
    src_changed: int = 0
    tgt_changed: int = 0
    missing: int = 0
    deleted: int = 0
    inserted: int = 0
    change_percent: float = 0.0
    excess_percent: float = 0.0
    duration_sec: float = 0.0
    classification: dict[str, int] = field(default_factory=dict)
    #: target half of the R6 no-change probe: "witness" (taken from the
    #: state's stored witness, the target was not opened), "scan" (the
    #: target was read), "" when no probe ran (STANDARD, forced
    #: TRUNCATE, merge_upsert)
    probe: str = ""
    #: how the cycle published: "window" (the fetched window by
    #: target.overwrite: first sync, TRUNCATE, and a changed INCREMENTAL
    #: or STANDARD cycle on a one-bucket target), "merge" (target.merge)
    #: or "" (nothing written). ``mode`` stays the logical decision.
    write: str = ""


def _witness_of(row: dict, version: str) -> dict:
    """The target half of a two-sided _probe row, stored as the witness
    of the live version directory named ``version`` (relative to the
    target root)."""
    max_ver = row["t_max_ver"]
    return {
        "path": version,
        "rows": row["tgt_total"],
        "sum1": row["t_sum1"],
        "sum2": row["t_sum2"],
        "max_ver": None if max_ver is None else int(max_ver),
    }


def _live_version(target: ParquetTarget) -> str | None:
    """The live version directory's name relative to the target root,
    the key a witness is stored under: unlike the absolute path, it
    does not depend on where the target sits."""
    path = target.current_path()
    return None if path is None else os.path.relpath(path, target.root)


def _quoted(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, any backtick
    inside doubled."""
    return "`" + name.replace("`", "``") + "`"


def _writes_window(target: ParquetTarget, evolve_schema: bool) -> bool:
    """Whether a changed delta cycle publishes the whole fetched window
    by ``target.overwrite`` instead of ``target.merge``. A one-bucket
    layout's merge rewrites the whole table anyway, and by the window
    invariant survivors + upserts ARE the window. An -evolve cycle
    merges: widen-and-retain keeps the survivors' values of columns the
    source dropped, which the window no longer carries."""
    return target.n_buckets == 1 and not evolve_schema


def _check_drift(tgt_df: DataFrame, window: DataFrame) -> None:
    """Strict mode's column-drift error, raised before anything is
    written: the union analysis a merge runs on survivors and upserts."""
    _ = tgt_df.limit(0).unionByName(window.limit(0)).schema


def _above(version, ts) -> Column:
    """Whether a row's version is above the watermark ``ts``; a NULL
    version (or watermark) counts as not above, i.e. not changed."""
    return F.coalesce(F.col(version) > F.lit(ts), F.lit(False))


def _with_in_target(window: DataFrame, tgt_df: DataFrame, key: str) -> DataFrame:
    """``window`` left-joined with the target's keys: ``__in_target`` is
    true where the target holds the row's key and NULL elsewhere. The
    target is unique on its key, so the join adds no row."""
    return window.join(tgt_df.select(key, F.lit(True).alias("__in_target")), on=key, how="left")


def _witnessed_target(state: TableState, version: str | None) -> dict | None:
    """The target half of the R6 probe as the stored witness certifies
    it, or None when the probe must scan the target. The witness holds
    only for the version it was learned on — a published version
    directory never changes, and every publish stages a fresh one — and
    only while no witnessed row sits above ``tgt_ts``, which is exactly
    ``tgt_changed == 0``."""
    w = state.witness
    if w is None or w["path"] != version:
        return None
    if w["max_ver"] is not None and (state.tgt_ts is None or w["max_ver"] > state.tgt_ts):
        return None
    return {"tgt_total": w["rows"], "tgt_changed": 0, "t_sum1": w["sum1"], "t_sum2": w["sum2"]}


class SyncEngine:
    """Per-table incremental replication onto ParquetTarget sinks."""

    def __init__(self, spark: SparkSession, store: StateStore, config: SyncConfig | None = None):
        self.spark = spark
        self.store = store
        self.config = config or SyncConfig()

    # -- public -------------------------------------------------------------

    def sync_table(
        self,
        name: str,
        source: DataFrame,
        target: ParquetTarget,
        fetcher=None,
        force_truncate: bool = False,
        evolve_schema: bool = False,
    ) -> SyncReport:
        """Make the last N source rows (by key) identical in the target —
        the reference's core promise (README.md:9). Routes to a
        snapshot refresh when there is no target yet or the caller
        forces one, to the optimized (watermark) path when state exists,
        else to the standard (state-loss) compare.

        ``fetcher`` supplies the three physical fetch specializations
        (strategy.Fetcher); omitted, the default RecId top-N shapes are
        built from config. ``force_truncate`` is the strategy DSL's
        ``-truncate`` flag / System mode: full refresh, no delta compare
        (ProcessTableStandardModeAsync truncate branch,
        CopyOrchestrator.cs:1281-1450). ``evolve_schema`` admits source
        column drift mid-stream: the target widens-and-retains (new
        columns NULL-backfill history, dropped columns keep history) on
        every write path — the strategy DSL's ``-evolve`` flag."""
        t0 = time.time()
        cfg = self.config
        if fetcher is None:
            from d365fo_db_sync_spark.strategy import Fetcher, Strategy

            fetcher = Fetcher(
                self.spark,
                source,
                Strategy(table=name, record_count=cfg.record_count),
                fields=source.columns,
                key=cfg.key,
                version=cfg.version,
                default_count=cfg.record_count,
            )
        state = self.store.get(name)
        if force_truncate or not target.exists():
            report = SyncReport(
                table=name,
                mode=TRUNCATE if force_truncate else STANDARD,
                inserted=self._refresh(name, target, fetcher, evolve_schema),
                write="window",
            )
        elif cfg.version in source.columns and state.src_ts is not None:
            report = self._sync_optimized(
                name, source, target, state, fetcher, evolve_schema=evolve_schema
            )
        else:
            report = self._sync_standard(
                name, target, state, fetcher, evolve_schema=evolve_schema
            )
        report.duration_sec = time.time() - t0
        return report

    def _refresh(self, name: str, target: ParquetTarget, fetcher, evolve_schema: bool) -> int:
        """Snapshot refresh — a first sync, the ``-truncate`` flag and
        the R5 cost-based fallback: publish the full fetched window as
        the target's new version in one job, then commit the maxima
        observed in that write. Returns the rows written.

        The state commit OVERWRITES: the window's maxima are the
        source's truth, so a refresh after a source restore lowers the
        watermark to the rebuilt source's maximum instead of pinning the
        stale higher one.

        A refresh replaces every ROW, so per-row history cannot survive
        — but under the evolution contract the SCHEMA must: columns the
        target carries that the source has dropped stay present
        (all-NULL), so the -evolve promise of a stable widened schema
        does not silently depend on which cycle happened to cross the
        truncate threshold. Without evolve the refresh takes the source
        schema wholesale (the reference's truncate semantics)."""
        window = fetcher.full()
        if evolve_schema and target.exists():
            _s, window = _align_for_evolution(target.read(self.spark).limit(0), window)
        written = self._publish_window(window, target)
        self._commit_state(name, written["max_key"], written["max_ver"], overwrite=True)
        return written["rows"]

    def _publish_window(
        self,
        window: DataFrame,
        target: ParquetTarget,
        tgt_df: DataFrame | None = None,
        tgt_ts: int | None = None,
    ) -> dict:
        """Publish ``window`` by ``target.overwrite`` and count, in the
        write's own job, its _window_stats. Given the target's rows
        ``tgt_df``, also count what a merge would have reported:
        ``missing`` (window rows whose key the target lacks) and
        ``survivors`` (matched rows not above the target watermark
        ``tgt_ts``: the rows a merge keeps).

        On a one-bucket layout the observe node sits in the write's
        result stage, whose task updates Spark applies once per
        partition. A layout whose overwrite adds an exchange (a bucketed
        sink) observes in a map stage, where a re-run task may count its
        rows twice; the maxima cannot change that way."""
        key, ver = self.config.key, self.config.version
        metrics = self._window_stats(window)
        written = window
        if tgt_df is not None:
            in_target = F.col("__in_target").isNotNull()
            written = _with_in_target(window, tgt_df, key)
            metrics += [
                F.count(F.when(~in_target, 1)).alias("missing"),
                F.count(F.when(in_target & ~_above(ver, tgt_ts), 1)).alias("survivors"),
            ]
        observed = Observation()
        target.overwrite(written.observe(observed, *metrics).select(*window.columns))
        # read only after the write returned: get blocks until a
        # finished query delivers the metrics, and a failed write must
        # not wait on them
        return observed.get

    #: optional tombstone marker column in CDC batches: rows where it is
    #: true DELETE their key from the target instead of upserting
    TOMBSTONE_COL = "__deleted"

    def merge_upsert(
        self,
        name: str,
        batch: DataFrame,
        target: ParquetTarget,
        evolve_schema: bool = False,
    ) -> SyncReport:
        """Delta-batch merge: replace-or-insert by key; delete keys whose
        rows carry a true ``__deleted`` tombstone marker.

        This is the merge shape for CDC micro-batches (each batch carries
        only changed rows, unlike the snapshot window sync_table expects).
        Equivalent to MERGE WHEN MATCHED [AND tombstone] DELETE /
        WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT; idempotent on
        replay (T5): upserts re-replace the same keys, deletes of absent
        keys are no-ops.
        """
        t0 = time.time()
        key, ver = self.config.key, self.config.version
        tomb = self.TOMBSTONE_COL
        is_tomb = (
            F.coalesce(F.col(tomb), F.lit(False)) if tomb in batch.columns else F.lit(False)
        )
        batch = self._compact_last_event(batch).cache()
        try:
            # one agg job covers live count, tombstone count, watermark
            # maxima AND the changed keys' bucket set, so merge() below
            # skips its own distinct+collect job (r15: one Spark job per
            # micro-batch instead of two on the CDC path)
            row = batch.agg(
                F.count(F.when(~is_tomb, 1)).alias("n"),
                F.count(F.when(is_tomb, 1)).alias("n_dead"),
                F.max(F.when(~is_tomb, F.col(key))).alias("max_key"),
                F.max(F.when(~is_tomb, F.col(ver))).alias("max_ver")
                if ver in batch.columns
                else F.lit(None).alias("max_ver"),
                F.collect_set(target._bucket_of(F.col(key))).alias("aff"),
            ).first()
            n_dead = row["n_dead"]
            report = SyncReport(table=name, mode=INCREMENTAL, inserted=row["n"], deleted=n_dead)
            if row["n"] == 0 and n_dead == 0:
                report.mode = NO_CHANGE
            else:
                report.write = "merge"
                consumed = [c for c in (tomb, self.config.sequence_col) if c]
                upserts = batch.filter(~is_tomb).drop(*consumed)
                tombstoned = batch.filter(is_tomb).select(key)
                # retry on optimistic-concurrency conflict: merge() re-reads
                # the live version on every call, so a retry re-derives the
                # carried references from the interloper's commit — the
                # standard OCC loop. The merge itself is idempotent on the
                # same batch (T5), so a retry after a conflicting publish is
                # semantically a fresh merge of the same delta. Bounded: a
                # writer that keeps losing the race after 3 attempts gives
                # up loudly rather than spinning against a hot table.
                for attempt in range(3):
                    try:
                        target.merge(
                            self.spark,
                            upserts,
                            tombstoned,
                            evolve_schema=evolve_schema,
                            affected_buckets=sorted(row["aff"] or []),
                        )
                        break
                    except ConcurrentWriteError:
                        if attempt == 2:
                            raise
                self._commit_state(name, row["max_key"], row["max_ver"])
        finally:
            batch.unpersist()
        report.duration_sec = time.time() - t0
        return report

    def _compact_last_event(self, batch: DataFrame) -> DataFrame:
        """Reduce a CDC micro-batch to the LAST event per key before the
        tombstone/upsert split. Raw foreachBatch frames routinely carry
        several events for one key: without compaction two updates both
        survive the union (duplicate keys in the target) and an
        update-then-tombstone pair resurrects the deleted row (the key is
        anti-joined away, then the stale update is re-inserted).

        Ordering: version descending when EVERY event of the key carries
        a version; arrival order as the tiebreaker. Keys where ANY event
        lacks a version fall back to arrival-order-primary for the whole
        key — a NULL-version tombstone (the common CDC delete shape, all
        non-key columns NULL) must beat an earlier versioned update, not
        sort below it.

        Arrival = ``config.sequence_col`` when the batch carries it (a
        true source offset); else monotonically_increasing_id, which
        encodes (partitionId, rowIndex) — batch-internal partition order.
        For single-partition foreachBatch frames that IS arrival order;
        for multi-partition version-less batches it is only
        deterministic per physical plan, so supply ``sequence_col``
        there. Both windows partition on the key — one shuffle, reused."""
        from pyspark.sql import Window

        cfg = self.config
        key, ver = cfg.key, cfg.version
        arrival = "__arrival"
        if cfg.sequence_col and cfg.sequence_col in batch.columns:
            compacted = batch.withColumn(arrival, F.col(cfg.sequence_col))
        else:
            compacted = batch.withColumn(arrival, F.monotonically_increasing_id())
        if ver in batch.columns:
            # NULL-out the version for every row of a key that has any
            # NULL-version event: the whole key then ties on the primary
            # sort and resolves purely by arrival.
            any_null = F.max(F.col(ver).isNull().cast("int")).over(Window.partitionBy(key))
            compacted = compacted.withColumn(
                "__ord_ver", F.when(any_null == 0, F.col(ver))
            )
            order = [F.col("__ord_ver").desc_nulls_last(), F.col(arrival).desc()]
        else:
            order = [F.col(arrival).desc()]
        w = Window.partitionBy(key).orderBy(*order)
        return (
            compacted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", arrival, "__ord_ver")
        )

    # -- optimized path (CopyOrchestrator.cs:812-939) -------------------------

    def _sync_optimized(
        self,
        name: str,
        source: DataFrame,
        target: ParquetTarget,
        state: TableState,
        fetcher,
        evolve_schema: bool = False,
    ) -> SyncReport:
        cfg = self.config
        key, ver = cfg.key, cfg.version

        # S6: 2-column control scan of the sync window (strategy-aware:
        # SQL templates get their star rewritten to (key, version); the
        # probe projects the two columns itself). NOT cached yet: the
        # no-change and truncate branches read it exactly once, so
        # materializing a cache there is pure overhead; the merge branch
        # caches before its multi-join reuse.
        control = fetcher.control()

        # R6 probe: counts + dual key checksums, ZERO shuffle. Its source
        # half runs every cycle; its target half is memoized per live
        # version directory, which no publish ever modifies. When the
        # stored witness names the live version, a no-change cycle is
        # ONE source-only aggregate and never opens the target; else
        # both sides are scanned, and a cycle that ends NO_CHANGE stores
        # the target half it scanned.
        live = _live_version(target)
        known = _witnessed_target(state, live)
        tgt_df = None
        if known is not None:
            probe = "witness"
            row = {**self._probe(control, None, state), **known}
        else:
            probe = "scan"
            tgt_df = target.read(self.spark)
            row = self._probe(control, tgt_df, state)
        control_rows, src_changed = row["control_rows"], row["src_changed"]
        min_key, max_key, max_ver = row["min_key"], row["max_key"], row["max_ver"]
        tgt_total, tgt_changed = row["tgt_total"], row["tgt_changed"]

        # R6: perfect-sync fast path (CopyOrchestrator.cs:998-1051).
        # Equal counts + no row above either watermark + equal key-set
        # checksums (two independent 64-bit hashes summed exactly —
        # collision odds ~2^-128, non-adversarial keys) ⟺ the old
        # per-key missing==0 check, without paying its shuffle.
        if (
            src_changed == 0
            and tgt_changed == 0
            and tgt_total == control_rows
            and row["c_sum1"] == row["t_sum1"]
            and row["c_sum2"] == row["t_sum2"]
        ):
            if probe == "scan":
                self._learn_witness(name, state, _witness_of(row, live))
            return SyncReport(table=name, mode=NO_CHANGE, probe=probe)

        metrics = delta.change_metrics(src_changed, tgt_changed, control_rows, tgt_total)
        report = SyncReport(
            table=name,
            mode=INCREMENTAL,
            src_changed=src_changed,
            tgt_changed=tgt_changed,
            change_percent=metrics["change_percent"],
            excess_percent=metrics["excess_percent"],
            probe=probe,
        )

        # R5/T2: cost-based fallback to full refresh
        # (CopyOrchestrator.cs:884-914) — decided from counts alone, so
        # the truncate path never pays the per-key pairing pass either
        if (
            report.change_percent >= cfg.truncate_threshold_percent
            or report.excess_percent >= cfg.truncate_threshold_percent
        ):
            report.mode = TRUNCATE
            report.write = "window"
            report.inserted = self._refresh(name, target, fetcher, evolve_schema)
            return report

        if tgt_df is None:
            tgt_df = target.read(self.spark)

        # INCREMENTAL on a one-bucket target: a merge would rewrite the
        # whole table, so skip the pairing pass, the watermark fetch and
        # the anti-joins and write the window in one job. Its per-key
        # counts are observed inside that job; tgt_total is the probe's.
        if _writes_window(target, evolve_schema):
            window = fetcher.full()
            _check_drift(tgt_df, window)
            counts = self._publish_window(window, target, tgt_df, state.tgt_ts)
            self._commit_state(name, max_key, max_ver)
            report.write = "window"
            report.missing = counts["missing"]
            report.deleted = tgt_total - counts["survivors"]
            report.inserted = counts["rows"] - counts["survivors"]
            return report

        # INCREMENTAL through target.merge (a partial-rewrite sink, or an
        # -evolve cycle): pay the per-key pairing pass for the merge
        # bounds (missing keys, T4 widening floor, survivor accounting),
        # so the sink rewrites only the buckets the changed keys hash
        # into. The no-change cycle (the path the reference's 15x
        # headline is about) never reaches this shuffle.
        # Cache control now: the pairing pass + changed_keys + merge
        # joins all re-read it.
        control = control.select(key, ver).cache()
        try:
            row = self._premerge_metrics(control, tgt_df, state).first()
            missing, survivors_cnt = row["missing"], row["survivors"]
            report.missing = missing

            # T4: late-data widening — rows older than the watermark but
            # absent from the target must still be recovered
            # (CopyOrchestrator.cs:1106-1123). A missing row with a NULL
            # version counts as version 0 (_premerge_metrics), even beside
            # versioned ones: `version >= ts` is null-rejecting, so without
            # that floor the row would not be fetched. The reference
            # substitutes an all-zeros timestamp here
            # (CopyOrchestrator.cs:1115-1118); the fetch admits NULL
            # versions when the threshold is <= 0.
            fetch_ts = state.src_ts
            if row["min_missing_ver"] is not None:
                fetch_ts = min(fetch_ts, row["min_missing_ver"])
            fetch_floor = min_key if row["min_missing_key"] is None else min(
                min_key, row["min_missing_key"]
            )

            # S7: watermark-filtered incremental fetch (strategy-aware: the
            # template's @sysRowVersionFilter slot becomes this predicate)
            fetched = fetcher.incremental(fetch_ts, fetch_floor)

            # T3: three-step merge. doomed = excess (J5 complement) ∪
            # modified (J4); the fetched rows the target lacks or holds
            # below their version replace-or-insert (T5). A fetched row
            # the target already holds unchanged (T4's lowered floor
            # refetches them) is left alone, so -evolve keeps its
            # retained columns and its bucket is not rewritten. The sink
            # rewrites only what its layout needs to.
            changed = _above(ver, state.tgt_ts)
            upserts = (
                _with_in_target(fetched, tgt_df, key)
                .filter(F.col("__in_target").isNull() | changed)
                .select(*fetched.columns)
            )
            changed_keys = control.filter(changed).select(key)
            excess = tgt_df.join(control.select(key), on=key, how="left_anti").select(key)
            target.merge(
                self.spark,
                upserts,
                excess.unionByName(changed_keys),
                evolve_schema=evolve_schema,
            )
            self._commit_state(name, max_key, max_ver)
            report.write = "merge"
            # accounting from the fused agg + the written footers: zero
            # extra jobs (previously a full recomputation of inserts +
            # survivors)
            report.deleted = max(0, tgt_total - survivors_cnt)
            report.inserted = max(0, target.num_rows() - survivors_cnt)
        finally:
            control.unpersist()
        return report

    def _fastpath_metrics(
        self, control: DataFrame, tgt_df: DataFrame | None, state: TableState
    ) -> DataFrame:
        """The R6 no-change probe: A6/A7 counts, window bounds, and a
        key-SET equality witness, all in ONE map-only aggregation over
        each side's projection of key, version and key hashes — ZERO
        exchanges before the final singleton. Built from SQL expression
        strings: one ``selectExpr`` projects each side and one
        aggregates, a handful of Py4J round trips where Column objects
        cost several per node.

        Set equality without pairing: both sides are unique on the key,
        so equal counts + equal exact sums of two independent 64-bit key
        hashes (xxhash64 with distinct salts, over non-NULL keys)
        certify control-keys == target-keys with collision odds ~2^-128
        for non-adversarial keys. Each hash is summed as two BIGINT
        halves, ``<sum>_lo`` = sum(h & 0xFFFFFFFF) and ``<sum>_hi`` =
        sum(h >> 32), which _probe joins into the exact integer sum.
        Neither half can overflow below 2^31 rows; beyond that, ANSI
        mode raises on the overflow instead of wrapping. The per-key
        pairing pass (_premerge_metrics) runs only once something
        actually changed.

        ``tgt_df=None`` aggregates the control window alone (the
        ``control_rows``, ``src_changed``, ``min_key``, ``max_key``,
        ``max_ver`` and ``c_sum*`` columns). That is the whole cost of a
        no-change resync on a target version whose witness the state
        already holds — the reference's 15x headline
        (TESTING_GUIDE.md:331-333): one column-pruned scan of the
        source and nothing else at ANY scale. With a target frame the
        row adds its half: ``tgt_total``, ``tgt_changed``, ``t_sum*``
        and ``t_max_ver``, the fields a witness stores."""
        key, ver = _quoted(self.config.key), _quoted(self.config.version)

        def side(df: DataFrame, tag: str) -> DataFrame:
            return df.selectExpr(
                f"{key} AS {tag}_k",
                f"{ver} AS {tag}_v",
                f"CASE WHEN {key} IS NOT NULL THEN xxhash64({key}) END AS {tag}_h1",
                f"CASE WHEN {key} IS NOT NULL THEN xxhash64({key}, {_SALT}) END AS {tag}_h2",
            )

        def changed(tag: str, ts: int | None) -> str:
            bound = "NULL" if ts is None else f"{int(ts)}L"
            return f"count(CASE WHEN {tag}_v > {bound} THEN 1 END)"

        def split_sums(tag: str, name: str) -> list[str]:
            return [
                f"sum({tag}_h{i} {op}) AS {name}{i}_{part}"
                for i in (1, 2)
                for part, op in (("lo", "& 4294967295"), ("hi", ">> 32"))
            ]

        sides = side(control, "s")
        aggs = [
            "count(s_k) AS control_rows",
            f"{changed('s', state.src_ts)} AS src_changed",
            "min(s_k) AS min_key",
            "max(s_k) AS max_key",
            "max(s_v) AS max_ver",
            *split_sums("s", "c_sum"),
        ]
        if tgt_df is not None:
            sides = sides.unionByName(side(tgt_df, "t"), allowMissingColumns=True)
            aggs += [
                "count(t_k) AS tgt_total",
                f"{changed('t', state.tgt_ts)} AS tgt_changed",
                *split_sums("t", "t_sum"),
                "max(t_v) AS t_max_ver",
            ]
        return sides.selectExpr(*aggs)

    def _probe(
        self, control: DataFrame, tgt_df: DataFrame | None, state: TableState
    ) -> dict:
        """The _fastpath_metrics row with each key-hash sum's halves
        joined in Python as ``(hi << 32) + lo``: the exact integer
        sum of the salted hashes, None when no key was summed."""
        row = self._fastpath_metrics(control, tgt_df, state).first().asDict()
        for name in [c[: -len("_lo")] for c in row if c.endswith("_lo")]:
            lo, hi = row.pop(f"{name}_lo"), row.pop(f"{name}_hi")
            row[name] = None if lo is None else (hi << 32) + lo
        return row

    def _learn_witness(self, name: str, probed: TableState, witness: dict) -> None:
        """Store the target half a scan probe found in sync, under the
        store lock and only while the stored watermarks are still the
        ones the probe used: a cycle that committed in between keeps its
        state. Never moves a watermark."""

        def _merge(prev: TableState, learned: TableState) -> TableState:
            same = replace(prev, witness=None) == replace(learned, witness=None)
            return learned if same else prev

        self.store.merge_commit(name, replace(probed, witness=witness), _merge)

    def _pair_by_key(
        self, src: DataFrame, tgt_df: DataFrame, context: delta.ComparisonContext
    ) -> DataFrame:
        """The per-key pairing of both delta modes: one row per key seen
        on either side, carrying both sides' compared columns — the
        shape delta.classify_changes gets from a full-outer join, here
        from a tagged union and ONE groupBy on the key. Each side's
        compared columns sit under its own prefix (delta.side_columns:
        ``s_<key>``, ``s_rv``, ... on source rows; ``t_*`` on target
        rows), NULL on the other side's rows. Both sides are unique on
        the key (the target is the keyed table, the source the top-N
        window of one), so every ``s_*``/``t_*`` column has at most one
        non-NULL value per key and max() recovers it. One
        hash-partition exchange, no join and no sort: a full-outer
        equi-join cannot broadcast and costs two exchanges plus two
        sorts."""
        key = self.config.key
        names = dict(key=key, recversion=self.config.version)
        tagged = src.select(*delta.side_columns("s", context, **names)).unionByName(
            tgt_df.select(*delta.side_columns("t", context, **names)),
            allowMissingColumns=True,
        )
        return tagged.groupBy(F.coalesce(f"s_{key}", f"t_{key}").alias(key)).agg(
            *[F.max(c).alias(c) for c in tagged.columns]
        )

    def _premerge_metrics(
        self, control: DataFrame, tgt_df: DataFrame, state: TableState
    ) -> DataFrame:
        """A6/A7 + J2 + T4 bounds + survivor count, FUSED: one pass feeds
        ONE aggregation — a single driver round trip where the naive plan
        pays four (control agg, target agg, missing-keys agg, pre-write
        survivors count).

        Pairs only (key, version) rows, ~16 B/row, through _pair_by_key.
        This is the INCREMENTAL cycle's pairing pass, the one shuffle
        it adds to the no-change probe (_fastpath_metrics); plan-property
        tests pin zero-join/single-exchange."""
        s_key, t_key = F.col(f"s_{self.config.key}"), F.col(f"t_{self.config.key}")
        per_key = self._pair_by_key(control, tgt_df, _BY_VERSION)
        is_missing = t_key.isNull()
        # survivor = target row whose key is in the window and not marked
        # changed — the complement of the J4/J5 delete set
        is_survivor = (
            t_key.isNotNull()
            & s_key.isNotNull()
            & ~_above("s_rv", state.tgt_ts)
        )
        return per_key.agg(
            F.count(s_key).alias("control_rows"),
            F.count(F.when(F.col("s_rv") > F.lit(state.src_ts), 1)).alias("src_changed"),
            F.min(s_key).alias("min_key"),
            F.max(s_key).alias("max_key"),
            F.max("s_rv").alias("max_ver"),
            F.count(t_key).alias("tgt_total"),
            F.count(F.when(F.col("t_rv") > F.lit(state.tgt_ts), 1)).alias("tgt_changed"),
            F.count(F.when(is_missing, 1)).alias("missing"),
            F.min(F.when(is_missing, F.coalesce("s_rv", F.lit(0)))).alias("min_missing_ver"),
            F.min(F.when(is_missing, s_key)).alias("min_missing_key"),
            F.count(F.when(is_survivor, 1)).alias("survivors"),
        )

    # -- standard path (CopyOrchestrator.cs:1281-1450) ------------------------

    def _sync_standard(
        self,
        name: str,
        target: ParquetTarget,
        state: TableState,
        fetcher,
        evolve_schema: bool = False,
    ) -> SyncReport:
        """State-loss compare against an existing target: pair the full
        fetched window with the WHOLE target and classify every key by
        CompareRecords. A target key outside the window is DELETED, so
        rows that fell below it go; the reference pairs only target keys
        >= the window's minimum (AxDbDataService.cs:737) and keeps
        them."""
        key = self.config.key
        kind = F.col("change_type")
        window_write = _writes_window(target, evolve_schema)
        fetched = fetcher.full().cache()
        changed = None
        try:
            tgt_df = target.read(self.spark)
            changed = (
                self._classify_by_key(fetched, tgt_df, state.max_transferred_key)
                .filter(kind != delta.UNCHANGED)
                .select(key, kind)
            )
            if not window_write:
                # only the changed keys are kept: the merge reads them
                # three times, and Spark's adaptive execution reuses no
                # shuffle above a cached scan, so each read would pair
                # again
                changed = changed.cache()
            kinds = (delta.NEW, delta.MODIFIED, delta.DELETED)
            counts = changed.agg(*[F.count(F.when(kind == t, 1)).alias(t) for t in kinds]).first()
            counts = counts.asDict()
            report = SyncReport(
                table=name,
                mode=STANDARD,
                inserted=counts[delta.MODIFIED] + counts[delta.NEW],
                deleted=counts[delta.MODIFIED] + counts[delta.DELETED],
            )
            if (report.inserted or report.deleted) and window_write:
                # a merge would rewrite the whole table: publish the
                # cached window the classification just read, taking
                # its rows and maxima from the write's own observation
                _check_drift(tgt_df, fetched)
                window = self._publish_window(fetched, target)
                report.write = "window"
            else:
                window = fetched.agg(*self._window_stats(fetched)).first()
                if report.inserted or report.deleted:
                    # a deleted key matches no fetched row and a new one
                    # no target row, so one key set is both the upserts'
                    # filter and the doomed keys
                    keys = changed.select(key)
                    target.merge(
                        self.spark,
                        fetched.join(keys, on=key, how="left_semi"),
                        keys,
                        evolve_schema=evolve_schema,
                    )
                    report.write = "merge"
            counts[delta.UNCHANGED] = window["rows"] - counts[delta.NEW] - counts[delta.MODIFIED]
            report.classification = {t: counts[t] for t in delta.CHANGE_TYPES if counts[t]}
            # full-window fetch: the fetched maxima ARE the source's
            # truth, so overwrite (a restore-lowered rowversion must stick)
            self._commit_state(name, window["max_key"], window["max_ver"], overwrite=True)
        finally:
            if changed is not None:
                changed.unpersist()
            fetched.unpersist()
        return report

    def _classify_by_key(
        self, src: DataFrame, tgt_df: DataFrame, max_transferred_key: int | None
    ) -> DataFrame:
        """STANDARD's pairing: _pair_by_key over every column
        CompareRecords compares, plus ``change_type`` (delta.change_type).
        The engine's version column (config.version, default
        SysRowVersion) drives the comparison: with the default D365
        names the context would report has_recversion=False and the
        classification would silently degrade to key-only — modified
        rows never re-sync."""
        context = delta.ComparisonContext.from_columns(
            src.columns, tgt_df.columns, recversion=self.config.version
        )
        return self._pair_by_key(src, tgt_df, context).withColumn(
            "change_type", delta.change_type(context, self.config.key, max_transferred_key)
        )

    def _window_stats(self, window: DataFrame) -> list:
        """Aggregates of a full fetched window: its ``rows`` and the
        maxima a snapshot path commits, ``max_key`` and ``max_ver``
        (NULL without a version column)."""
        key, ver = self.config.key, self.config.version
        return [
            F.count(F.lit(1)).alias("rows"),
            F.max(key).alias("max_key"),
            F.max(ver if ver in window.columns else F.lit(None).cast("long")).alias("max_ver"),
        ]

    # -- commit machinery -----------------------------------------------------

    def _commit_state(
        self, name: str, max_key, max_ver, overwrite: bool = False
    ) -> None:
        """Commit the fetched maxima AFTER the sink published its write.
        Sink first, state second — a failure between the two leaves a
        valid target with a stale watermark, which the next run repairs
        idempotently (T5/T6). State NEVER advances on a failed write.

        Two commit semantics, matching the reference:

        * partial-batch merges (``overwrite=False``) MERGE element-wise
          max with the prior state, never overwriting a non-None
          watermark with None: a CDC batch touching only old keys must
          not regress max_transferred_key/next_sequence below committed
          values (the T7 fence may never move backwards), and an
          all-tombstone batch (no live maxima) must not erase the
          watermark — doing so silently demotes the next run to the
          full standard compare. The get-merge-write runs atomically
          under the store lock (StateStore.merge_commit) so concurrent
          same-table commits cannot interleave and lose a maximum.
        * snapshot paths (``overwrite=True``: truncate, standard, the
          optimized path's TRUNCATE fallback) OVERWRITE state with the
          fetched maxima, as TimestampManager.SetTimestamps does
          (TimestampManager.cs:41-53). After a source rowversion
          regression (DB restore), merging would pin the stale high
          watermark forever: later modifications with versions below it
          would classify NO_CHANGE and be silently skipped until
          store.clear(). A full refresh must be able to LOWER the
          watermark to the rebuilt source's true maximum."""
        cfg = self.config
        next_seq = None
        if max_key is not None:
            # T7: fence target-assigned ids past source-assigned ones
            next_seq = max(int(max_key), cfg.current_sequence) + cfg.sequence_gap
        fetched_state = TableState(
            src_ts=None if max_ver is None else int(max_ver),
            tgt_ts=None if max_ver is None else int(max_ver),
            max_transferred_key=None if max_key is None else int(max_key),
            next_sequence=next_seq,
        )
        if overwrite:
            self.store.commit(name, fetched_state)
            return

        def _merged(old: int | None, new: int | None) -> int | None:
            if new is None:
                return old
            return new if old is None else max(old, new)

        def _merge(prev: TableState, new: TableState) -> TableState:
            return TableState(
                src_ts=_merged(prev.src_ts, new.src_ts),
                tgt_ts=_merged(prev.tgt_ts, new.tgt_ts),
                max_transferred_key=_merged(prev.max_transferred_key, new.max_transferred_key),
                next_sequence=_merged(prev.next_sequence, new.next_sequence),
            )

        self.store.merge_commit(name, fetched_state, _merge)
