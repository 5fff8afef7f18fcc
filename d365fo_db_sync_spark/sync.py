"""Incremental sync engine — the reference's execution core, Spark-first.

Maps the reference's per-table pipeline (CopyOrchestrator.cs:812-1233)
onto DataFrame ops + an atomic-rewrite sink:

* control scan + change-volume evaluation  -> scans.control_scan + counts
* cost-based mode selection (R5/T2)        -> NO_CHANGE / INCREMENTAL /
  TRUNCATE / STANDARD, threshold 40% (AppConfiguration.cs:39)
* 3-step delete + selective insert (T3)    -> one sink call,
  target.merge(upserts, doomed_keys): every sink deletes the doomed and
  upserted keys, inserts the upserts and publishes atomically; only which
  files it rewrites depends on its layout (sinks.ParquetTarget)
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

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
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
        the reference's core promise (README.md:9). Routes to the
        optimized (watermark) path when state exists, else standard.

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
        if force_truncate:
            report = self._sync_truncate(
                name, source, target, fetcher, evolve_schema=evolve_schema
            )
        elif (
            cfg.version in source.columns
            and state.src_ts is not None
            and target.exists()
        ):
            report = self._sync_optimized(
                name, source, target, state, fetcher, evolve_schema=evolve_schema
            )
        else:
            report = self._sync_standard(
                name, source, target, fetcher, evolve_schema=evolve_schema
            )
        report.duration_sec = time.time() - t0
        return report

    def _sync_truncate(
        self,
        name: str,
        source: DataFrame,
        target: ParquetTarget,
        fetcher,
        evolve_schema: bool = False,
    ) -> SyncReport:
        cfg = self.config
        key, ver = cfg.key, cfg.version
        fetched = fetcher.full().cache()
        row = fetched.agg(
            F.max(key).alias("max_key"),
            F.max(ver).alias("max_ver") if ver in source.columns else F.lit(None).alias("max_ver"),
        ).first()
        report = SyncReport(table=name, mode=TRUNCATE)
        report.inserted = self._overwrite_and_commit(
            name,
            self._widen_for_refresh(fetched, target, evolve_schema),
            target,
            row["max_key"],
            row["max_ver"],
        )
        fetched.unpersist()
        return report

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
        # SQL templates get their star rewritten to (key, version)).
        # NOT cached yet: the no-change and truncate branches read it
        # exactly once, so materializing a cache there is pure overhead;
        # the incremental branch caches before its multi-join reuse.
        control = fetcher.control().select(key, ver)
        tgt_df = target.read(self.spark)

        # R6 probe: counts + dual key checksums, ZERO shuffle (the
        # common resync cycle is "nothing changed" — it must cost two
        # pruned scans with partial aggs, never an exchange)
        row = self._fastpath_metrics(control, tgt_df, state).first()
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
            return SyncReport(
                table=name, mode=NO_CHANGE, src_changed=0, tgt_changed=0, missing=0
            )

        metrics = delta.change_metrics(src_changed, tgt_changed, control_rows, tgt_total)
        report = SyncReport(
            table=name,
            mode=INCREMENTAL,
            src_changed=src_changed,
            tgt_changed=tgt_changed,
            change_percent=metrics["change_percent"],
            excess_percent=metrics["excess_percent"],
        )

        # R5/T2: cost-based fallback to full refresh
        # (CopyOrchestrator.cs:884-914) — decided from counts alone, so
        # the truncate path never pays the per-key pairing pass either
        if (
            report.change_percent >= cfg.truncate_threshold_percent
            or report.excess_percent >= cfg.truncate_threshold_percent
        ):
            report.mode = TRUNCATE
            fetched = fetcher.full()
            report.inserted = self._overwrite_and_commit(
                name,
                self._widen_for_refresh(fetched, target, evolve_schema),
                target,
                max_key,
                max_ver,
            )
            return report

        # INCREMENTAL: pay the per-key pairing pass for the merge bounds
        # (missing keys, T4 widening floor, survivor accounting). The
        # merge below runs several jobs anyway, so the map-only probe
        # above is noise here — while the no-change cycle (the path the
        # reference's 15x headline is about) never reaches this shuffle.
        # Cache control now: the pairing pass + changed_keys + merge
        # joins all re-read it.
        control = control.cache()
        row = self._premerge_metrics(control, tgt_df, state).first()
        missing, survivors_cnt = row["missing"], row["survivors"]
        report.missing = missing

        # T4: late-data widening — rows older than the watermark but absent
        # from the target must still be recovered (CopyOrchestrator.cs:1106-1123)
        fetch_ts = state.src_ts
        if row["min_missing_ver"] is not None:
            fetch_ts = min(fetch_ts, row["min_missing_ver"])
        elif row["missing"]:
            # missing rows exist but ALL carry a NULL version: F.min skipped
            # them, and `version >= ts` is null-rejecting — without a floor
            # they are re-reported missing every cycle without converging.
            # The reference substitutes an all-zeros timestamp here
            # (CopyOrchestrator.cs:1115-1118); watermark_scan additionally
            # admits NULL versions when the threshold is <= 0.
            fetch_ts = 0
        fetch_floor = min_key if row["min_missing_key"] is None else min(
            min_key, row["min_missing_key"]
        )

        # S7: watermark-filtered incremental fetch (strategy-aware: the
        # template's @sysRowVersionFilter slot becomes this predicate)
        fetched = fetcher.incremental(fetch_ts, fetch_floor)

        # T3: three-step merge. doomed = excess (J5 complement) ∪
        # modified (J4); fetched rows replace-or-insert (T5: a replayed
        # row replaces its own copy). The sink rewrites only what its
        # layout needs to.
        changed_keys = control.filter(F.col(ver) > F.lit(state.tgt_ts)).select(key)
        excess = tgt_df.join(control.select(key), on=key, how="left_anti").select(key)
        target.merge(
            self.spark,
            fetched,
            excess.unionByName(changed_keys),
            evolve_schema=evolve_schema,
        )
        self._commit_state(name, max_key, max_ver)
        # accounting from the fused agg + the written footers: zero extra
        # jobs (previously a full recomputation of inserts + survivors)
        report.deleted = max(0, tgt_total - survivors_cnt)
        report.inserted = max(0, target.num_rows() - survivors_cnt)
        control.unpersist()
        return report

    def _fastpath_metrics(
        self, control: DataFrame, tgt_df: DataFrame, state: TableState
    ) -> DataFrame:
        """The R6 no-change probe: A6/A7 counts, window bounds, and a
        key-SET equality witness, all in ONE map-only aggregation over
        the tagged union — ZERO exchanges before the final singleton.

        Set equality without pairing: both sides are unique on the key,
        so equal counts + equal exact sums of two independent 64-bit key
        hashes (xxhash64 with distinct salts, summed as DECIMAL(38) so
        no overflow wraps) certify control-keys == target-keys with
        collision odds ~2^-128 for non-adversarial keys. This is what
        lets the no-change resync cycle — the reference's 15x headline
        (TESTING_GUIDE.md:331-333) — cost two column-pruned scans and
        nothing else at ANY scale; the per-key pairing pass
        (_premerge_metrics) runs only once something actually changed."""
        key = self.config.key
        ver = self.config.version
        c = control.select(
            F.col(key), F.col(ver).alias("__v"), F.lit(1).alias("__c"), F.lit(0).alias("__t")
        )
        t = tgt_df.select(
            F.col(key), F.col(ver).alias("__v"), F.lit(0).alias("__c"), F.lit(1).alias("__t")
        )
        on_ctl = F.col("__c") == 1
        on_tgt = F.col("__t") == 1
        h1 = F.xxhash64(F.col(key)).cast("decimal(38,0)")
        h2 = F.xxhash64(F.col(key), F.lit(0x5EED)).cast("decimal(38,0)")
        return c.unionByName(t).agg(
            F.count(F.when(on_ctl, 1)).alias("control_rows"),
            F.count(F.when(on_ctl & (F.col("__v") > F.lit(state.src_ts)), 1)).alias(
                "src_changed"
            ),
            F.min(F.when(on_ctl, F.col(key))).alias("min_key"),
            F.max(F.when(on_ctl, F.col(key))).alias("max_key"),
            F.max(F.when(on_ctl, F.col("__v"))).alias("max_ver"),
            F.count(F.when(on_tgt, 1)).alias("tgt_total"),
            F.count(F.when(on_tgt & (F.col("__v") > F.lit(state.tgt_ts)), 1)).alias(
                "tgt_changed"
            ),
            F.sum(F.when(on_ctl, h1)).alias("c_sum1"),
            F.sum(F.when(on_tgt, h1)).alias("t_sum1"),
            F.sum(F.when(on_ctl, h2)).alias("c_sum2"),
            F.sum(F.when(on_tgt, h2)).alias("t_sum2"),
        )

    def _premerge_metrics(
        self, control: DataFrame, tgt_df: DataFrame, state: TableState
    ) -> DataFrame:
        """A6/A7 + J2 + T4 bounds + survivor count, FUSED: one pass feeds
        ONE aggregation — a single driver round trip where the naive plan
        pays four (control agg, target agg, missing-keys agg, pre-write
        survivors count).

        Physically a tagged UNION + groupBy(key) instead of a full-outer
        join: both sides are unique on the key (the target is the keyed
        table, the control is the top-N window of one), so per-key max
        over the tagged rows reconstructs the exact (control, target)
        pairing with ONE hash-partition exchange — a full-outer equi-join
        cannot broadcast and costs two exchanges plus two sorts. Only
        (key, version) pairs move, ~16 B/row. This is the entire cost of
        the reference's no-change fast path (R6), so its plan shape is
        the engine's headline number; plan-property tests pin
        zero-join/single-exchange."""
        key = self.config.key
        ver = self.config.version
        c = control.select(
            F.col(key), F.col(ver).alias("__v"), F.lit(1).alias("__c"), F.lit(0).alias("__t")
        )
        t = tgt_df.select(
            F.col(key), F.col(ver).alias("__v"), F.lit(0).alias("__c"), F.lit(1).alias("__t")
        )
        per_key = (
            c.unionByName(t)
            .groupBy(key)
            .agg(
                F.max(F.when(F.col("__c") == 1, F.col("__v"))).alias("__sv"),
                F.max(F.when(F.col("__t") == 1, F.col("__v"))).alias("__tv"),
                F.max("__c").alias("__on_c"),
                F.max("__t").alias("__on_t"),
            )
        )
        on_ctl = F.col("__on_c") == 1
        is_missing = on_ctl & (F.col("__on_t") == 0)
        # survivor = target row whose key is in the window and not marked
        # changed — the complement of the J4/J5 delete set
        is_survivor = (
            (F.col("__on_t") == 1)
            & on_ctl
            & ~F.coalesce(F.col("__sv") > F.lit(state.tgt_ts), F.lit(False))
        )
        return per_key.agg(
            F.count(F.when(on_ctl, 1)).alias("control_rows"),
            F.count(F.when(F.col("__sv") > F.lit(state.src_ts), 1)).alias("src_changed"),
            F.min(F.when(on_ctl, F.col(key))).alias("min_key"),
            F.max(F.when(on_ctl, F.col(key))).alias("max_key"),
            F.max("__sv").alias("max_ver"),
            F.count(F.when(F.col("__on_t") == 1, 1)).alias("tgt_total"),
            F.count(F.when(F.col("__tv") > F.lit(state.tgt_ts), 1)).alias("tgt_changed"),
            F.count(F.when(is_missing, 1)).alias("missing"),
            F.min(F.when(is_missing, F.col("__sv"))).alias("min_missing_ver"),
            F.min(F.when(is_missing, F.col(key))).alias("min_missing_key"),
            F.count(F.when(is_survivor, 1)).alias("survivors"),
        )

    # -- standard path (CopyOrchestrator.cs:1281-1450) ------------------------

    def _sync_standard(
        self,
        name: str,
        source: DataFrame,
        target: ParquetTarget,
        fetcher,
        evolve_schema: bool = False,
    ) -> SyncReport:
        cfg = self.config
        key, ver = cfg.key, cfg.version

        fetched = fetcher.full().cache()
        row = fetched.agg(
            F.min(key).alias("min_key"), F.max(key).alias("max_key"),
            F.max(ver).alias("max_ver") if ver in source.columns else F.lit(None).alias("max_ver"),
        ).first()
        min_key, max_key, max_ver = row["min_key"], row["max_key"], row["max_ver"]

        if not target.exists() or min_key is None:
            report = SyncReport(table=name, mode=STANDARD)
            report.inserted = self._overwrite_and_commit(name, fetched, target, max_key, max_ver)
            fetched.unpersist()
            return report

        tgt_df = target.read(self.spark)
        # J1 scoped to keys >= min fetched key (GetAxDbVersionMapAsync's
        # WHERE RecId >= @MinRecId, AxDbDataService.cs:737)
        tgt_window = tgt_df.filter(F.col(key) >= F.lit(min_key))
        state = self.store.get(name)
        # the engine's version column (cfg.version, default SysRowVersion)
        # must drive the comparison: with the default D365 names the
        # context would report has_recversion=False and classification
        # silently degrades to key-only — modified rows never re-sync
        classified = delta.classify_changes(
            fetched,
            tgt_window,
            key=key,
            max_transferred_key=state.max_transferred_key,
            recversion=self.config.version,
        ).cache()
        counts = {r["change_type"]: r["cnt"] for r in delta.change_counts(classified).collect()}

        incoming_keys = classified.filter(
            F.col("change_type").isin(delta.MODIFIED, delta.NEW)
        ).select(key)
        deleted_keys = classified.filter(F.col("change_type") == delta.DELETED).select(key)

        report = SyncReport(table=name, mode=STANDARD, classification=counts)
        report.inserted = counts.get(delta.MODIFIED, 0) + counts.get(delta.NEW, 0)
        report.deleted = counts.get(delta.MODIFIED, 0) + counts.get(delta.DELETED, 0)
        target.merge(
            self.spark,
            fetched.join(incoming_keys, on=key, how="left_semi"),
            deleted_keys,
            evolve_schema=evolve_schema,
        )
        # full-window fetch: the fetched maxima ARE the source's truth,
        # so overwrite (a restore-lowered rowversion must stick)
        self._commit_state(name, max_key, max_ver, overwrite=True)
        classified.unpersist()
        fetched.unpersist()
        return report

    # -- commit machinery -----------------------------------------------------

    def _widen_for_refresh(
        self, fetched: DataFrame, target: ParquetTarget, evolve_schema: bool
    ) -> DataFrame:
        """Full-refresh frame under the evolution contract. A truncate
        replaces every ROW, so per-row history cannot survive — but the
        SCHEMA must: under evolve, columns the target carries that the
        source has dropped stay present (all-NULL), so the -evolve
        promise of a stable widened schema does not silently depend on
        which cycle happened to cross the truncate threshold. Without
        evolve: the refresh takes the source schema wholesale (the
        reference's truncate semantics)."""
        if not evolve_schema or not target.exists():
            return fetched
        tgt_shape = target.read(self.spark).limit(0)
        _s2, widened = _align_for_evolution(tgt_shape, fetched)
        return widened

    def _overwrite_and_commit(
        self, name: str, df: DataFrame, target: ParquetTarget, max_key, max_ver
    ) -> int:
        # write once, then count from the written footers — no pre-write
        # cache+count materialization pass. Every caller is a snapshot
        # path (full refresh), so the state commit OVERWRITES.
        target.overwrite(df)
        self._commit_state(name, max_key, max_ver, overwrite=True)
        return target.num_rows()

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
