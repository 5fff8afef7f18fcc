"""Sinks: transactional-enough writes for a non-transactional format.

The reference wraps delete+insert+sequence in one SQL transaction
(CopyOrchestrator.cs:1053-1232). Parquet has no transactions, so the
engine uses the classic staging-path + atomic-pointer-swap pattern
(SURVEY §4 R14): write the new version to a fresh directory, then
atomically repoint. A failed write leaves the current version intact and
the watermark un-advanced — the same failure semantics as the
reference's rollback.

``JdbcSink`` carries the reference's physical knobs (batch size 10,000 —
AxDbDataService.cs:353) for real JDBC deployments; it is exercised only
for SQL generation in tests since no database ships in this environment.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class ConcurrentWriteError(RuntimeError):
    """Another writer published a version between this writer's
    manifest read and its publish attempt — the optimistic-concurrency
    conflict every manifest-based table format (Delta/Iceberg, public
    designs) surfaces instead of silently losing the other writer's
    commit. Retry by re-reading the live manifest and re-deriving the
    change."""


class ConstraintViolation(RuntimeError):
    """A write staged rows that FAIL a table CHECK constraint (the
    Delta-style write-side contract): the version is never published —
    readers cannot observe the bad rows — and the error carries the
    per-constraint violation counts plus a sample for triage."""

    def __init__(self, counts: dict, sample: list) -> None:
        self.counts = counts
        self.sample = sample
        super().__init__(
            f"CHECK constraint(s) violated: {counts}; sample rows: {sample!r}"
        )


class ParquetTarget:
    """A versioned parquet table with atomic overwrite.

    Layout: ``<root>/_version`` names the live subdirectory; writers
    stage into a new uuid-dir and swap the pointer last. Readers resolve
    the pointer at read time.

    Every sink offers the same two writes: :meth:`overwrite` for
    snapshots and :meth:`merge` for deltas. The plain target is one
    bucket with no pinned key, so its merge rewrites the whole table.
    """

    key: str | None = None
    n_buckets = 1

    def __init__(self, root: str, partition_by: list[str] | None = None) -> None:
        """``partition_by``: hive-style partition columns for every write
        — at scale this is what lets downstream scans partition-prune
        (e.g. an IVF index partitioned by cell, a sync target by date).
        """
        self.root = root
        self.partition_by = list(partition_by or [])
        #: per-version-path schema memo: a version directory is
        #: immutable once the pointer names it, so its schema never
        #: changes — later reads skip Spark's schema-inference pass
        #: (a driver round trip per read that dominates small no-op
        #: sync cycles and adds up across CDC micro-batches)
        self._schema_cache: dict[str, object] = {}
        os.makedirs(root, exist_ok=True)

    # -- read ---------------------------------------------------------------
    def _pointer(self) -> str:
        return os.path.join(self.root, "_version")

    def current_path(self) -> str | None:
        try:
            with open(self._pointer(), encoding="utf-8") as f:
                name = f.read().strip()
        except FileNotFoundError:
            return None
        path = os.path.join(self.root, name)
        return path if os.path.exists(path) else None

    def exists(self) -> bool:
        return self.current_path() is not None

    SCHEMA_SIDECAR = "_schema.json"

    def read(self, spark: SparkSession) -> DataFrame:
        path = self.current_path()
        if path is None:
            raise FileNotFoundError(f"no live version under {self.root}")
        schema = self._schema_cache.get(path)
        if schema is None:
            # the sidecar pins the schema without an inference job
            # (unpartitioned overwrite writes it). A version published
            # by an evolve_schema merge holds files of MIXED schemas
            # (carried-forward buckets keep their old footers); there
            # the pin also makes the read deterministic — absent
            # columns in old files surface as NULL, exactly the
            # evolution semantics the merge promised
            sidecar = os.path.join(path, self.SCHEMA_SIDECAR)
            if os.path.exists(sidecar):
                import json

                from pyspark.sql.types import StructType

                with open(sidecar, encoding="utf-8") as f:
                    schema = StructType.fromJson(json.load(f))
                self._schema_cache = {path: schema}
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
        df = spark.read.parquet(path)
        self._schema_cache = {path: df.schema}
        return df

    def num_rows(self) -> int:
        """Row count of the live version from parquet footers — no Spark
        job at all. Footers carry exact row counts, so post-write
        accounting (rows inserted = new total − survivors) is free
        instead of costing a pre-write recomputation of the insert
        frame. Driver-side file walk; an object-store deployment would
        swap in a listing client, the footer math is identical."""
        import pyarrow.parquet as pq

        path = self.current_path()
        if path is None:
            return 0
        total = 0
        for dirpath, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(dirpath, fn)).metadata.num_rows
        return total

    # -- write --------------------------------------------------------------
    def _swap_pointer(self, name: str, old: str | None = None) -> None:
        """Atomically repoint ``_version`` at the staged ``name``, then
        drop the superseded version directory ``old``."""
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(name)
        os.replace(tmp, self._pointer())
        if old and os.path.basename(old) != name:
            shutil.rmtree(old, ignore_errors=True)

    def overwrite(self, df: DataFrame) -> None:
        """Stage + atomic pointer swap; old version GC'd after the swap.

        The staged version carries the written schema as its
        ``_schema.json`` sidecar, so a read through ANY handle (the
        orchestrator opens a fresh one per table per round) skips
        Spark's schema-inference job. Parquet always stores top-level
        fields nullable, so nullability is relaxed to match what
        inference would return. Partitioned layouts are excluded:
        inference reorders/re-types partition columns, so their reads
        infer, and the first one memoizes the result."""
        import json

        from pyspark.sql.types import StructField, StructType

        name = f"v_{uuid.uuid4().hex[:12]}"
        staged = os.path.join(self.root, name)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(staged)
        self._schema_cache = {}
        if not self.partition_by:
            schema = StructType(
                [StructField(f.name, f.dataType, True, f.metadata) for f in df.schema.fields]
            )
            with open(os.path.join(staged, self.SCHEMA_SIDECAR), "w", encoding="utf-8") as f:
                json.dump(schema.jsonValue(), f)
            self._schema_cache = {staged: schema}
        self._swap_pointer(name, self.current_path())

    def merge(
        self,
        spark: SparkSession,
        upserts: DataFrame,
        doomed_keys: DataFrame | None = None,
        replace_keys: bool = True,
        evolve_schema: bool = False,
        affected_buckets: "list[int] | None" = None,
    ) -> int:
        """Replace-or-insert ``upserts`` rows by key and delete the rows
        of ``doomed_keys`` (a one-column key frame), rewriting only the
        buckets those keys hash into. Returns the number of rewritten
        buckets. With no live version the upserts are written by
        :meth:`overwrite`. A plain target has no pinned key and takes
        it from ``doomed_keys``, which it therefore requires.

        ``replace_keys=False`` appends the upserts without removing rows
        that share their keys: the shape of inverted indexes where many
        rows legitimately share a key. The caller then must not append
        rows that already exist (replay dedup).

        ``affected_buckets`` optionally passes the changed keys' bucket
        set when the caller has already computed it (e.g. folded into a
        stats aggregate it was running anyway — sync.merge_upsert),
        skipping this method's own distinct+collect job. It MUST equal
        ``{_bucket_of(key)}`` over the upsert and doomed keys: a
        superset would rewrite clean buckets, a subset would leave stale
        rows live.

        ``evolve_schema=True`` admits upserts whose column set differs
        from the target's: new columns widen the table (NULL for all
        historical rows), and columns missing from the upserts stay,
        NULL-filled for the new rows. Type changes always raise. The
        default (False) keeps the strict contract: any column drift is
        an error.

        Crash contract matches :meth:`overwrite`: the rewrite stages
        into a fresh version directory and the pointer swap is the
        single atomic publish."""
        if not self.exists():
            self.overwrite(upserts)
            return self.n_buckets
        if self.key is None and doomed_keys is None:
            raise TypeError("a plain ParquetTarget.merge takes its key from doomed_keys")
        key = self.key or doomed_keys.columns[0]
        changed = upserts.select(key)
        if doomed_keys is not None:
            changed = changed.unionByName(doomed_keys.select(key))
        affected = (
            sorted(affected_buckets)
            if affected_buckets is not None
            else self._buckets_of(changed)
        )
        if not affected:
            return 0

        def rebuild(window: DataFrame) -> DataFrame:
            survivors = (
                window.join(changed, on=key, how="left_anti") if replace_keys else window
            )
            up = self._with_bucket(upserts)
            if evolve_schema:
                survivors, up = _align_for_evolution(survivors, up)
            return survivors.unionByName(up, allowMissingColumns=False)

        self._rewrite(spark, affected, rebuild)
        return len(affected)

    # -- layout hooks: what a merge touches, reads and publishes ------------
    def _bucket_of(self, key_col):
        from pyspark.sql import functions as F

        return F.lit(0)

    def _buckets_of(self, keys: DataFrame) -> list[int]:
        return [0]  # everything, with no Spark job

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df

    def _rewrite(self, spark: SparkSession, affected: list[int], rebuild) -> None:
        """Publish ``rebuild(rows of the affected buckets)`` in place of
        those buckets: here the whole table."""
        self.overwrite(rebuild(self.read(spark)))

    def vacuum(self) -> list[str]:
        """Remove version directories that are not the live one —
        staged writes orphaned by a crash BEFORE their pointer swap
        (the swap's crash contract leaves them behind by design).
        Returns the removed paths. Safe against concurrent writers the
        same way the swap is: a writer that has not swapped yet loses
        its staging to vacuum exactly as it would to its own failure,
        and re-stages on retry — so run vacuum between cycles, not
        during one."""
        live = self.current_path()
        live_name = os.path.basename(live) if live else None
        removed = []
        for entry in os.listdir(self.root):
            path = os.path.join(self.root, entry)
            if (
                entry.startswith("v_")
                and entry != live_name
                and os.path.isdir(path)
            ):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
        return removed


class JdbcSink:
    """JDBC sink config mirroring the reference's physical parameters.

    Statement execution goes through a caller-supplied
    ``statement_runner: Callable[[str], None]`` (a thin wrapper over a
    JDBC/ODBC cursor in a real deployment, a stub in tests) — the
    sandbox ships no database driver, so the sink's contract is pinned
    by the statements it emits and the order it emits them in.
    """

    def __init__(
        self,
        url: str,
        table: str,
        batch_size: int = 10_000,  # SqlBulkCopy batch (AxDbDataService.cs:353)
        delete_batch_size: int = 5_000,  # IN-list chunk (AxDbDataService.cs:11)
        options: dict[str, str] | None = None,
    ) -> None:
        self.url = url
        self.table = table
        self.batch_size = batch_size
        self.delete_batch_size = delete_batch_size
        self.options = options or {}

    # -- T8: trigger toggling around loads (AxDbDataService.cs:316-318,369-397)
    def trigger_disable_sql(self) -> str:
        return f"ALTER TABLE [{self.table}] DISABLE TRIGGER ALL"

    def trigger_enable_sql(self) -> str:
        return f"ALTER TABLE [{self.table}] ENABLE TRIGGER ALL"

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        statement_runner=None,
        pre_sql: list[str] | None = None,
        post_sql: list[str] | None = None,
    ) -> None:
        """Bulk load, optionally bracketed by pre/post statements.

        With a ``statement_runner``, pre_sql (default: DISABLE TRIGGER
        ALL) runs before the load and post_sql (default: ENABLE TRIGGER
        ALL) runs in a finally — ALWAYS, even when the load raises, and
        re-enable failures are swallowed so they cannot mask the
        original error (the reference's catch-all re-enable,
        AxDbDataService.cs:369-397: triggers must never stay disabled).
        """
        if statement_runner is None:
            self._save(df, mode)
            return
        for stmt in pre_sql if pre_sql is not None else [self.trigger_disable_sql()]:
            statement_runner(stmt)
        try:
            self._save(df, mode)
        finally:
            for stmt in post_sql if post_sql is not None else [self.trigger_enable_sql()]:
                try:
                    statement_runner(stmt)
                except Exception:  # noqa: BLE001 — best-effort re-enable
                    pass

    def _save(self, df: DataFrame, mode: str) -> None:
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
            .option("batchsize", str(self.batch_size))
            .options(**self.options)
            .mode(mode)
            .save()
        )

    def delete_in_batches_sql(self, key: str, ids: list[int]) -> list[str]:
        """J6 — chunked IN-list DELETE statements
        (AxDbDataService.cs:909-932). Generated for JDBC targets; parquet
        targets express deletes as anti-join rewrites instead."""
        out = []
        for i in range(0, len(ids), self.delete_batch_size):
            chunk = ",".join(str(x) for x in ids[i : i + self.delete_batch_size])
            out.append(f"DELETE FROM {self.table} WHERE {key} IN ({chunk})")
        return out

    def execute_deletes(self, statement_runner, key: str, ids: list[int]) -> int:
        """Run the chunked DELETEs through the statement runner, in
        order (DeleteByRecIdListAsync, AxDbDataService.cs:909-932: one
        statement per DELETE_BATCH_SIZE chunk, no-op on empty list).
        Returns the number of statements executed."""
        statements = self.delete_in_batches_sql(key, ids)
        for stmt in statements:
            statement_runner(stmt)
        return len(statements)


def snapshot(
    target: ParquetTarget,
    snapshot_root: str,
    label: str,
    progress=None,
) -> str:
    """Backup sink (S13, BackupService.cs:36-121): write the target's
    current state to a labeled snapshot path. The reference's
    ``[database]_[datetime].bak`` token pattern becomes a caller-built
    label (date_format tokens); COPY_ONLY semantics hold for free — the
    snapshot never participates in the pointer swap.

    ``progress``: optional ``callback(percent: float,
    est_remaining_sec: float | None)`` — the analog of the reference's
    percent_complete/estimated_completion_time poll
    (PollBackupProgressAsync, BackupService.cs:129-192). Called after
    every copied file plus once at 100%; estimates come from measured
    copy throughput (None until any bytes have moved). Callback errors
    are swallowed, as the reference swallows poll errors — monitoring
    must never fail the backup.
    """
    import time

    src = target.current_path()
    if src is None:
        raise FileNotFoundError(f"target {target.root} has no current version")
    dest = os.path.join(snapshot_root, label)
    if os.path.exists(dest):
        raise FileExistsError(dest)
    os.makedirs(snapshot_root, exist_ok=True)
    if progress is None:
        shutil.copytree(src, dest)
        return dest

    files: list[tuple[str, str, int]] = []  # (abs src, rel path, bytes)
    for dirpath, _dirs, names in os.walk(src):
        for fn in names:
            p = os.path.join(dirpath, fn)
            files.append((p, os.path.relpath(p, src), os.path.getsize(p)))
    total = sum(sz for _, _, sz in files) or 1
    done = 0
    t0 = time.monotonic()

    def report(pct: float) -> None:
        elapsed = time.monotonic() - t0
        est = (elapsed / done * (total - done)) if done else None
        try:
            progress(pct, est)
        except Exception:  # noqa: BLE001 — monitoring never fails the backup
            pass

    os.makedirs(dest, exist_ok=True)
    for abs_src, rel, sz in files:
        out = os.path.join(dest, rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.copy2(abs_src, out)
        done += sz
        report(min(100.0, done / total * 100.0))
    report(100.0)
    return dest


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_col) at
    WRITE time so every later equi-join or aggregation on that column
    runs shuffle-free (Exchange-less SortMergeJoin between two tables
    bucketed the same way).

    This is the 100 TB answer for the sync workload's repeated key joins
    (control ⋈ target, missing-keys, survivors): pay the partitioning
    once on load, reuse it every cycle. Requires a metastore-backed
    saveAsTable — plain parquet files cannot carry bucket metadata.
    """
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def _align_for_evolution(survivors: DataFrame, upserts: DataFrame):
    """Column-align two frames for a schema-evolving union: the result
    carries the UNION of columns (survivor order first, then new
    columns in upsert order), with NULL backfill on whichever side
    lacks a column — new columns are NULL for history, dropped columns
    are NULL for new rows and never lose their history. A same-name
    column with a different type raises: silent type coercion is how
    lakes corrupt — type changes are a caller-driven migration, not an
    evolution. Mirrors the reference's schema-intersection discipline
    (SchemaService.cs) extended to retention semantics on the sink."""
    from pyspark.sql import functions as F

    s_types = {f.name: f.dataType for f in survivors.schema.fields}
    u_types = {f.name: f.dataType for f in upserts.schema.fields}
    conflicts = {
        c for c in s_types.keys() & u_types.keys() if s_types[c] != u_types[c]
    }
    if conflicts:
        raise ValueError(
            f"schema evolution cannot change column types: {sorted(conflicts)}"
        )
    ordered = list(survivors.columns) + [
        c for c in upserts.columns if c not in s_types
    ]
    s2 = survivors
    missing_s = {c: t for c, t in u_types.items() if c not in s_types}
    if missing_s:
        s2 = s2.withColumns({c: F.lit(None).cast(t) for c, t in missing_s.items()})
    u2 = upserts
    missing_u = {c: t for c, t in s_types.items() if c not in u_types}
    if missing_u:
        u2 = u2.withColumns({c: F.lit(None).cast(t) for c, t in missing_u.items()})
    return s2.select(ordered), u2.select(ordered)


class BucketedParquetTarget(ParquetTarget):
    """ParquetTarget whose rows are hive-partitioned by a hash bucket
    of the sync key — the partial-rewrite merge sink.

    Why: a merge rewrites every bucket its changed keys hash into, and
    the plain target is a single bucket. At 100 TB with a 0.1% change
    rate that is 1000x write amplification. Bucketing the key into
    ``n_buckets`` hive partitions bounds each merge to the buckets that
    actually contain changed keys:

    * affected buckets = distinct hash-bucket of changed keys (a
      <= n_buckets int set — tiny driver value, like the watermark);
    * survivors are read with a PARTITION-PRUNED scan of only those
      buckets (untouched buckets are never even read);
    * the new version directory hardlinks every untouched bucket's
      files from the previous version (metadata-only, no data copy —
      an object-store deployment records a file manifest instead) and
      stages only the rewritten buckets;
    * the same atomic pointer swap publishes the version, so readers
      never see a half-merged table and a crash leaves the old
      version live with the watermark un-advanced (T6 unchanged).

    Single writer per table assumed (the orchestrator's
    worker-per-table rule, same as StateStore): two concurrent merges
    could each hardlink from the same old version and the loser's
    buckets would be silently dropped by the winner's swap.
    """

    BUCKET_COL = "__kb"
    GEOMETRY_SIDECAR = "_geometry.json"

    def __init__(self, root: str, key: str, n_buckets: int = 64) -> None:
        super().__init__(root, partition_by=[self.BUCKET_COL])
        self.key = key
        self.n_buckets = n_buckets

    def _bucket_of(self, key_col) -> "object":
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(key_col), F.lit(self.n_buckets)).cast("int")

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.withColumn(self.BUCKET_COL, self._bucket_of(F.col(self.key)))

    def _record_geometry(self) -> None:
        """(Re)pin the table's bucket geometry in a root-level sidecar
        — called by overwrite, the full replace that DEFINES the
        table's layout (writing with a new geometry is a legitimate
        migration there, exactly like the manifest sink's rebucket)."""
        import json

        os.makedirs(self.root, exist_ok=True)
        path = os.path.join(self.root, self.GEOMETRY_SIDECAR)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"key": self.key, "n_buckets": self.n_buckets}, f)
        os.replace(tmp, path)

    def _check_geometry_sidecar(self) -> None:
        """Refuse a handle whose geometry disagrees with the sidecar:
        every bucket-pruned path (probe's partition cut, merge's
        affected-bucket window) maps keys through
        ``pmod(xxhash64(key), n_buckets)``, and under the wrong
        ``n_buckets``/key that map is silently wrong — probes miss
        live rows, merges rewrite the wrong window. Tables written
        before geometry tracking have no sidecar and are trusted as
        constructed (legacy contract, same as the manifest sink)."""
        import json

        path = os.path.join(self.root, self.GEOMETRY_SIDECAR)
        if not os.path.exists(path):
            return
        with open(path, encoding="utf-8") as f:
            got = json.load(f)
        want = {"key": self.key, "n_buckets": self.n_buckets}
        if got != want:
            raise ValueError(
                f"table at {self.root} was written with geometry "
                f"(key={got.get('key')!r}, n_buckets={got.get('n_buckets')}), "
                f"but this target was constructed with (key={self.key!r}, "
                f"n_buckets={self.n_buckets}) — bucket-pruned reads and "
                "merges would be silently wrong; reopen with the recorded "
                "geometry, or overwrite() to redefine the layout"
            )

    def overwrite(self, df: DataFrame) -> None:
        from pyspark.sql import functions as F

        if self.BUCKET_COL not in df.columns:
            df = self._with_bucket(df)
        # co-locate each bucket's rows before the hive write: one file
        # per bucket instead of (shuffle partitions x buckets) shards
        super().overwrite(df.repartition(self.n_buckets, F.col(self.BUCKET_COL)))
        # publish the geometry only after the pointer swap: a crash
        # mid-write must leave BOTH the old data and the old sidecar
        # live, or a new-geometry handle would pass the sidecar check
        # and bucket-prune through the wrong modulus over old-layout
        # files (the exact corruption the sidecar exists to refuse)
        self._record_geometry()

    def read(self, spark: SparkSession) -> DataFrame:
        return super().read(spark).drop(self.BUCKET_COL)

    def probe(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        """Live rows from ONLY the buckets the given key frame hashes
        into — a partition-pruned point-lookup window. At 100 TB an
        existence check for a small batch reads ~|batch-buckets| /
        n_buckets of the table instead of scanning it all. The affected
        bucket set is a <= n_buckets int list (tiny driver value)."""
        from pyspark.sql import functions as F

        self._check_geometry_sidecar()
        affected = self._buckets_of(keys)
        live = super().read(spark)  # keeps __kb (a partition column)
        return live.filter(F.col(self.BUCKET_COL).isin(affected)).drop(self.BUCKET_COL)

    # bound here as well as inherited, so instrumentation (perfbench's
    # tracer) can wrap the partial-rewrite merge apart from the plain one
    merge = ParquetTarget.merge

    def _buckets_of(self, keys: DataFrame) -> list[int]:
        from pyspark.sql import functions as F

        return sorted(
            r["b"]
            for r in keys.select(self._bucket_of(F.col(self.key)).alias("b"))
            .distinct()
            .collect()
        )

    def _rewrite(self, spark: SparkSession, affected: list[int], rebuild) -> None:
        """Stage only the affected buckets; hardlink the rest forward."""
        import json

        from pyspark.sql import functions as F

        self._check_geometry_sidecar()
        live = super().read(spark)  # keeps __kb (a partition column)
        # partition-pruned: only affected buckets' files are scanned
        new_rows = rebuild(live.filter(F.col(self.BUCKET_COL).isin(affected)))
        name = f"v_{uuid.uuid4().hex[:12]}"
        staged = os.path.join(self.root, name)
        (
            new_rows.repartition(max(1, len(affected)), F.col(self.BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(self.BUCKET_COL)
            .parquet(staged)
        )
        # publish the unified schema: carried-forward buckets keep old
        # footers, so without this pin a later read's schema would
        # depend on which file Spark sampled. Written on EVERY merge —
        # once a table has ever evolved, the pin must persist.
        with open(os.path.join(staged, self.SCHEMA_SIDECAR), "w", encoding="utf-8") as f:
            json.dump(new_rows.schema.jsonValue(), f)
        # carry untouched buckets forward as hardlinks: metadata-only
        old = self.current_path()
        affected_dirs = {f"{self.BUCKET_COL}={b}" for b in affected}
        for entry in os.listdir(old):
            src = os.path.join(old, entry)
            if not entry.startswith(f"{self.BUCKET_COL}=") or not os.path.isdir(src):
                continue
            if entry in affected_dirs:
                continue
            dst = os.path.join(staged, entry)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.endswith(".parquet"):
                    os.link(os.path.join(src, fn), os.path.join(dst, fn))
        self._swap_pointer(name, old)


class ManifestParquetTarget(BucketedParquetTarget):
    """The object-store-native variant of :class:`BucketedParquetTarget`:
    versions carry untouched buckets forward BY REFERENCE, not by
    hardlink.

    Hardlinks are a POSIX-filesystem trick — S3/GCS/ABFS have none, and
    copying untouched buckets would reintroduce the write amplification
    the bucketed sink exists to remove. The table-format answer
    (Iceberg/Delta manifests, public designs) is metadata: each version
    directory publishes ``_manifest.json`` mapping every bucket to the
    parquet files that hold it — newly rewritten buckets point into the
    new version, untouched buckets point into whichever prior version
    last wrote them. Readers plan from the manifest (a driver-side file
    list — no directory listing, and bucket pruning becomes an exact
    file-list cut rather than directory globbing); the pointer swap
    stays the single atomic publish. Prior versions therefore cannot be
    deleted at swap time — :meth:`vacuum_unreferenced` removes version
    directories once no live-manifest file references them (the GC
    model of every manifest-based table format).

    The bucket id is materialized as a DATA column (``__kb_data``)
    inside every file: explicit-file-list reads do not perform hive
    partition discovery, so the value must travel in the data, not the
    directory name.
    """

    MANIFEST = "_manifest.json"
    DATA_BUCKET_COL = "__kb_data"
    VERSION_LOG = "_versions.log"

    def __init__(
        self,
        root: str,
        key: str,
        n_buckets: int = 64,
        retain_versions: int = 1,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 1 << 14,
        bloom_k: int = 5,
        constraints: dict[str, str] | None = None,
    ) -> None:
        """``retain_versions`` is the time-travel window: how many
        published versions (including live) GC must keep readable.
        The default 1 keeps only the live version — the original
        delete-on-unreferenced behavior. Raising it makes every
        retained version a reproducible snapshot: training runs pin
        the version name they read, and a later backfill can re-read
        the exact same file set via :meth:`read_version`.

        ``stats_cols`` zone-maps ADDITIONAL columns beyond the key
        (footer min/max per file, recorded under the manifest's
        ``stats[f]["cols"]``): a change-tracking column here (e.g.
        SysRowVersion) turns :meth:`scan_range` watermark reads into
        file-skipping scans — CDC FROM a manifest table reads only the
        files whose version range crosses the watermark, the Delta/
        Iceberg incremental-read shape. Files written before a column
        was tracked simply lack its entry and scan conservatively.

        ``bloom_cols`` maintains a PER-BUCKET Bloom filter for each
        named column in the manifest (``2^bloom_bits`` bits each, k
        seeded xxhash64 probes — operators/bloom.py): point lookups on
        a NON-key column (:meth:`probe_value`) then plan only the
        buckets whose bloom admits the value. Zone maps prune by ORDER
        and need clustering to bite; blooms prune by MEMBERSHIP and
        work on hash-scattered values — the complementary cut for
        "find this user/tenant/doc id" against a table bucketed by a
        different key. Bloom union is bitwise OR, so append-mode
        writes fold new rows in without re-reading old files; a bucket
        whose history predates bloom tracking simply has no entry and
        scans conservatively."""
        super().__init__(root, key, n_buckets)
        if retain_versions < 1:
            raise ValueError(f"retain_versions must be >= 1, got {retain_versions}")
        if bloom_bits % 64:
            raise ValueError(f"bloom_bits must be a multiple of 64, got {bloom_bits}")
        self.retain_versions = retain_versions
        self.stats_cols = [c for c in (stats_cols or []) if c != key]
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_bits = bloom_bits
        self.bloom_k = bloom_k
        #: named CHECK constraints ({name: SQL boolean expr}), enforced
        #: at the staging choke point on EVERY write path (overwrite,
        #: merge, append, compact, replace_range) with standard SQL
        #: semantics — a row violates only when the expression is
        #: FALSE; NULL/UNKNOWN passes. A violating batch aborts before
        #: the pointer swap, so readers never observe it.
        self.constraints = dict(constraints or {})

    def _merged_blooms(
        self,
        out: DataFrame,
        staged_buckets: set[int],
        buckets: dict,
        carried: dict,
        prior: dict | None,
        append: bool,
    ) -> dict:
        """Per-bucket bloom maintenance for one staged version: fresh
        blooms aggregate over ONLY the staged rows (one grouped
        bit_or pass per tracked column); untouched buckets carry their
        prior words; append-mode buckets OR fresh into prior (bloom
        union). The invariant is SUPERSET-or-ABSENT: a bucket gets an
        entry only when its words provably cover every row in its file
        list (absent = probe scans it conservatively), so appending
        onto pre-bloom history yields no entry rather than a filter
        that would silently drop matches."""
        from .operators.bloom import build_grouped, words_or

        prior_meta = (prior or {}).get("bloom_meta")
        if prior_meta is not None and prior_meta.get("m_bits") != self.bloom_bits:
            raise ValueError(
                f"bloom_bits {self.bloom_bits} does not match the live "
                f"manifest's {prior_meta.get('m_bits')} — blooms OR-merge "
                "across versions and cannot change geometry in place"
            )
        prior_blooms = (prior or {}).get("blooms", {})
        empty_words = [0] * (self.bloom_bits // 64)
        blooms: dict = {}
        for col in self.bloom_cols:
            fresh = build_grouped(
                out, self.BUCKET_COL, col, m_bits=self.bloom_bits, k=self.bloom_k
            )
            prior_col = prior_blooms.get(col, {})
            colmap: dict = {}
            for b, fs in buckets.items():
                if not fs:
                    continue
                key = str(b)
                if b not in staged_buckets:
                    # untouched: carry the prior words if any
                    if key in prior_col:
                        colmap[key] = prior_col[key]
                    continue
                fw = fresh.get(b, empty_words)
                inherited = carried.get(b, []) if append else []
                if not inherited:
                    colmap[key] = fw  # bucket is exactly the staged rows
                elif key in prior_col:
                    colmap[key] = words_or(prior_col[key], fw)
                # else: appending onto never-tracked history — no entry
            blooms[col] = colmap
        return blooms

    # -- manifest io --------------------------------------------------------
    def _manifest_at(self, path: str) -> dict:
        import json

        with open(os.path.join(path, self.MANIFEST), encoding="utf-8") as f:
            raw = json.load(f)
        out = {
            "schema": raw["schema"],
            "buckets": {int(k): v for k, v in raw["buckets"].items()},
            # zone maps are additive metadata: manifests written before
            # they existed read as stats-less (every file conservatively
            # scanned), so no migration is needed
            "stats": raw.get("stats", {}),
        }
        # per-bucket blooms are likewise additive (absent = every
        # bucket scanned conservatively on probe_value)
        if "blooms" in raw:
            out["blooms"] = raw["blooms"]
            out["bloom_meta"] = raw.get("bloom_meta")
        # merge-on-read key tombstones: additive metadata (absent =
        # nothing masked)
        if "tombstones" in raw:
            out["tombstones"] = raw["tombstones"]
        # bucket geometry: additive metadata (absent = legacy manifest,
        # trusted as written). Validation happens on the LIVE paths
        # (_load_manifest/_live_snapshot), not here — read_version /
        # export read explicit file lists, which stay correct across a
        # rebucket migration, so historical geometries must not raise.
        if "geometry" in raw:
            out["geometry"] = raw["geometry"]
        return out

    def _check_geometry(self, m: dict) -> dict:
        """Refuse to operate on a live manifest whose recorded bucket
        geometry disagrees with this object's: every bucket-pruning
        path (probe, merge's affected-bucket cut, tombstone
        retirement) maps keys through ``pmod(xxhash64(key),
        n_buckets)`` — under the wrong ``n_buckets`` or key column the
        map is silently WRONG (probes miss live rows, merges rewrite
        the wrong window), which is data corruption, not an error
        state. Manifests written before geometry tracking have no
        entry and are trusted as constructed (legacy behavior)."""
        g = m.get("geometry")
        if g is not None:
            if g.get("key") != self.key or int(g.get("n_buckets")) != self.n_buckets:
                raise ValueError(
                    f"table at {self.root} was written with geometry "
                    f"(key={g.get('key')!r}, n_buckets={g.get('n_buckets')}), "
                    f"but this target was constructed with (key={self.key!r}, "
                    f"n_buckets={self.n_buckets}) — bucket-pruned reads and "
                    "merges would be silently wrong; reopen with the "
                    "recorded geometry or migrate with rebucket()"
                )
        return m

    def _file_key_stats(self, path: str) -> dict:
        """Footer-derived zone map for ``self.key`` (plus
        ``stats_cols``) in one parquet file: ``{"rows": n, "min": x,
        "max": y, "cols": {...}}`` — min/max omitted when any row group
        lacks statistics or the values aren't JSON-scalar (absent zone
        map = file is always scanned, never wrongly skipped).

        String-stats safety note: parquet writers may TRUNCATE long
        binary min/max statistics, but the spec-compliant truncation
        keeps them valid bounds (min rounded down, max rounded UP by
        incrementing the last byte; oversized stats are omitted
        entirely → has_min_max False here). Valid-but-loose bounds
        only make the range classifications MORE conservative —
        "wholly outside" and "wholly covered" can never become wrongly
        true — so delete_range/scan_range stay row-exact under
        truncation."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}

        def minmax(col: str):
            idx = names.get(col)
            if idx is None:
                return None
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if isinstance(mn, (int, float, str)) and isinstance(mx, (int, float, str)):
                return mn, mx
            return None

        out: dict = {"rows": md.num_rows}
        key_mm = minmax(self.key)
        if key_mm is not None:
            out["min"], out["max"] = key_mm
        cols = {}
        for c in self.stats_cols:
            mm = minmax(c)
            if mm is not None:
                cols[c] = {"min": mm[0], "max": mm[1]}
        if cols:
            out["cols"] = cols
        return out

    def _load_manifest(self) -> dict | None:
        path = self.current_path()
        if path is None:
            return None
        return self._check_geometry(self._manifest_at(path))

    def _live_snapshot(self) -> tuple[str, dict]:
        """(parent name, manifest) from ONE pointer resolution — every
        publishing path must derive its plan AND its expected_parent
        from the same version. Reading them separately leaves a window
        where an interloper's publish lands between the two reads: the
        plan is stale but the parent is fresh, so the OCC check PASSES
        and the publish silently drops the interloper's files."""
        path = self.current_path()
        if path is None:
            raise FileNotFoundError(f"no live version under {self.root}")
        return os.path.basename(path), self._check_geometry(self._manifest_at(path))

    def versions(self) -> list[str]:
        """Published version names, oldest first, restricted to those
        still readable (manifest present on disk — GC'd versions drop
        out). The publish log tolerates dangling entries from a crash
        between staging and pointer swap."""
        log = os.path.join(self.root, self.VERSION_LOG)
        names: list[str] = []
        if os.path.exists(log):
            with open(log, encoding="utf-8") as f:
                names = [ln.strip() for ln in f if ln.strip()]
        # the pointer is the publish truth: fold the live name in last
        # so a crash between pointer swap and log append (the one
        # window the append-after-swap ordering leaves) cannot hide
        # the live version from the history
        live = self.current_path()
        if live is not None:
            live_name = os.path.basename(live)
            if live_name in names:
                names = [n for n in names if n != live_name] + [live_name]
            else:
                names.append(live_name)
        return [
            n
            for n in names
            if os.path.exists(os.path.join(self.root, n, self.MANIFEST))
        ]

    def read_version(self, spark: SparkSession, name: str) -> DataFrame:
        """Time-travel read: the table exactly as version ``name``
        published it — same file set, same schema. Works for any name
        in :meth:`versions` (GC keeps the last ``retain_versions``
        readable)."""
        path = os.path.join(self.root, name)
        if not os.path.exists(os.path.join(path, self.MANIFEST)):
            raise FileNotFoundError(f"version {name!r} not readable under {self.root}")
        m = self._manifest_at(path)
        files = [f for fs in m["buckets"].values() for f in fs]
        return self._read_files(
            spark, files, m["schema"], m.get("tombstones")
        ).drop(self.DATA_BUCKET_COL)

    #: sentinel: "no concurrency check" (overwrite semantics)
    _UNCHECKED = object()

    def _publish_lock(self):
        """Short exclusive lock over check-pointer + swap + log:
        ``flock(LOCK_EX)`` on a persistent lock file (the local-disk
        mutex; on a real object store the swap itself becomes a
        conditional PUT — if-match — and this lock disappears). Held
        for metadata writes only, microseconds. The kernel releases a
        crashed holder's flock automatically, so there is no staleness
        heuristic to race on — the earlier O_EXCL + mtime-TTL scheme
        let two waiters both judge a lock stale and one unlink the
        other breaker's fresh lock (TOCTOU), defeating the OCC check
        it guards. The lock file is deliberately never unlinked:
        removing it would let a late waiter (blocked on the old inode)
        and a fresh opener (new inode at the same path) hold "the"
        lock simultaneously."""
        import contextlib
        import fcntl
        import time

        lock = self._pointer() + ".lock"

        @contextlib.contextmanager
        def _held():
            fd = os.open(lock, os.O_CREAT | os.O_RDWR)
            deadline = time.monotonic() + 10.0
            try:
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except OSError:
                        if time.monotonic() > deadline:
                            raise TimeoutError(f"publish lock busy: {lock}")
                        time.sleep(0.05)
                yield
            finally:
                os.close(fd)  # close releases the flock

        return _held()

    def _write_version(
        self,
        df: DataFrame,
        carried: dict[int, list[str]],
        append: bool = False,
        expected_parent: str | None | object = _UNCHECKED,
        sort_by_key: bool = False,
        sort_exprs: list | None = None,
        max_records_per_file: int | None = None,
        retire_keys: DataFrame | None = None,
        n_write_partitions: int | None = None,
    ) -> None:
        """Stage ``df`` (bucketed rows) into a fresh version dir, merge
        its freshly-written bucket files with the ``carried``
        references, publish manifest + pointer atomically. With
        ``append`` the staged files EXTEND a bucket's carried list
        instead of replacing it (the insert-only fast path).

        ``retire_keys`` is a caller-supplied frame of keys whose
        merge-on-read tombstones must retire in THIS commit even though
        their buckets still carry prior files — the range-removal paths
        use it for tombstoned keys whose physical rows they dropped or
        rewrote away (the bucket-level rule below can't see those).

        ``expected_parent`` is the optimistic-concurrency token: the
        version name whose manifest the caller derived ``carried``
        from (None for "table did not exist"). The publish takes a
        short exclusive lock on the pointer, and if the live version
        no longer matches, raises :class:`ConcurrentWriteError`
        instead of clobbering the interloper's commit — carried
        references derived from a stale manifest would resurrect
        deleted rows and drop the other writer's changes. Overwrite
        keeps last-writer-wins (the sentinel skips the check). A
        conflict leaves the staged dir unpublished; vacuum collects it
        once it ages past ``_STAGING_TTL`` (never sooner — a fresh
        unpublished dir may be another writer's in-flight staging)."""
        import json

        from pyspark.sql import functions as F

        if self.BUCKET_COL not in df.columns:
            df = self._with_bucket(df)
        name = f"v_{uuid.uuid4().hex[:12]}"
        staged = os.path.join(self.root, name)
        out = df.withColumn(self.DATA_BUCKET_COL, F.col(self.BUCKET_COL))
        # Sort columns for clustered layouts. Computed sort expressions
        # (a Morton z-code) MUST be materialized as temp columns first:
        # Spark's generated ordering re-evaluates sort expressions on
        # BOTH rows at EVERY comparison (O(n log n) evaluations — a
        # complex z-code expression there turned a seconds-long sf1
        # rewrite into minutes, found live). The temp columns are
        # dropped after the sort, before anything reaches the files;
        # the projection is narrow, so the local sort order survives.
        tmp: dict[str, object] = {}
        # `shaping` carries the temp sort columns; `out` stays pristine
        # because the manifest schema is derived from it below
        shaping = out
        if sort_by_key and sort_exprs is None:
            # key clustering sorts on the plain column — no
            # materialization needed, attribute compares are cheap
            sort_cols = [F.col(self.key)]
        elif sort_exprs is not None:
            tmp = {f"__kb_sort_{i}": e for i, e in enumerate(sort_exprs)}
            shaping = out.withColumns(tmp)
            sort_cols = [F.col(c) for c in tmp]
        else:
            sort_cols = []
        if sort_cols and n_write_partitions and n_write_partitions > 1:
            # Clustered rewrite at write parallelism ~ output file
            # count (Iceberg's range distribution-mode, public design):
            # range-partition on (bucket, sort key) so every task owns
            # a CONTIGUOUS slice of the clustered order — zone maps
            # stay range-tight across the task split — instead of
            # hash-on-bucket's one-task-per-bucket serialization (a
            # 4-bucket table compacted on 4 of 32 cores, each task
            # rotating through maxRecordsPerFile splits one file at a
            # time). The range sampling pass re-reads the input once —
            # the documented cost of every range-distributed clustered
            # write; the serial alternative is far worse at scale.
            shaped = shaping.repartitionByRange(
                int(n_write_partitions), F.col(self.BUCKET_COL), *sort_cols
            )
        else:
            shaped = shaping.repartition(self.n_buckets, F.col(self.BUCKET_COL))
        if sort_cols:
            # clustered layout: rows sorted within each task, so
            # maxRecordsPerFile splits yield files owning CONTIGUOUS
            # sort-order ranges — per-file zone maps go from bucket-wide
            # to range-tight, and scan_range/scan_box/delete_range prune
            # INSIDE a bucket instead of only across buckets.
            shaped = shaped.sortWithinPartitions(
                F.col(self.BUCKET_COL), *sort_cols
            )
        if tmp:
            shaped = shaped.drop(*tmp)
        writer = shaped.write.mode("overwrite")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.partitionBy(self.BUCKET_COL).parquet(staged)
        buckets: dict[int, list[str]] = dict(carried)
        staged_buckets: set[int] = set()
        for entry in sorted(os.listdir(staged)):
            if not entry.startswith(f"{self.BUCKET_COL}="):
                continue
            b = int(entry.split("=", 1)[1])
            staged_buckets.add(b)
            files = sorted(
                os.path.join(staged, entry, fn)
                for fn in os.listdir(os.path.join(staged, entry))
                if fn.endswith(".parquet")
            )
            buckets[b] = (carried.get(b, []) + files) if append else files
        if self.constraints and staged_buckets:
            # CHECK enforcement at the one choke point every write path
            # funnels through, over the freshly WRITTEN bytes (no
            # upstream-plan recompute, the bloom discipline): one scan
            # counts all constraints together; rows violate only when
            # the expression is FALSE (NULL passes — standard SQL CHECK)
            spark = out.sparkSession
            staged_df = spark.read.parquet(staged)
            counts_row = staged_df.agg(
                *[
                    F.sum((~F.expr(sql)).cast("long")).alias(name)
                    for name, sql in self.constraints.items()
                ]
            ).first()
            bad = {
                name: int(counts_row[name] or 0)
                for name in self.constraints
                if (counts_row[name] or 0) > 0
            }
            if bad:
                first = next(iter(bad))
                sample = [
                    tuple(r)
                    for r in staged_df.filter(~F.expr(self.constraints[first]))
                    .drop(self.DATA_BUCKET_COL)
                    .limit(3)
                    .collect()
                ]
                shutil.rmtree(staged, ignore_errors=True)
                raise ConstraintViolation(bad, sample)
        # manifest schema = the FILE schema (data cols + __kb_data):
        # explicit-file reads get it verbatim, so empty tables and
        # empty buckets read with the exact same shape
        schema_json = out.drop(self.BUCKET_COL).schema.json()
        # zone maps: fresh files from their footers (driver-side, only
        # the files just staged), carried files from the prior manifest
        # (their footers haven't changed — no re-read). Raw load, no
        # geometry check: callers validated their snapshot already, and
        # a rebucket/overwrite under a NEW geometry must still be able
        # to read the old-geometry prior for stats/tombstone carryover.
        prior_path = self.current_path()
        prior = self._manifest_at(prior_path) if prior_path is not None else None
        prior_stats = prior["stats"] if prior else {}
        stats: dict[str, dict] = {}
        for fs in buckets.values():
            for f in fs:
                if f.startswith(staged):
                    stats[f] = self._file_key_stats(f)
                elif f in prior_stats:
                    stats[f] = prior_stats[f]
        tombs = list((prior or {}).get("tombstones", []))
        if tombs:
            # A tombstone masks physical rows living in the PRIOR files
            # of its key's bucket. Any bucket whose prior files ALL left
            # the manifest in this commit (rewritten from masked reads,
            # or dropped outright) has nothing left to mask, so its
            # entries retire. The replaced set is derived from
            # prior-vs-surviving file lists — NOT from staged_buckets:
            # overwrite() replaces every bucket but only stages the
            # non-empty ones, and a merge that empties a bucket stages
            # no files for it; both would otherwise leave stale global
            # tombstones that silently mask a later re-insert of the
            # key (row loss) and make num_rows subtract phantom rows.
            # Keys whose buckets still carry prior files retire only via
            # the caller's explicit retire_keys (range removals know
            # which tombstoned keys their rewrite physically dropped).
            # Survivors consolidate into one fresh tombstone file.
            marker = staged + os.sep
            prior_ids = {
                int(b)
                for b, fs in (prior["buckets"] if prior else {}).items()
                if fs
            }
            survived = {
                int(b)
                for b, fs in buckets.items()
                if any(not f.startswith(marker) for f in fs)
            }
            replaced = sorted(prior_ids - survived)
            if prior_ids and not (prior_ids - set(replaced)):
                # EVERY prior bucket was replaced (overwrite, rebucket,
                # a merge emptying the table): nothing is left to mask,
                # so all tombstones retire without reading them. This
                # short-circuit is also what keeps a rebucket migration
                # correct — the bucket-membership filter below maps
                # keys through the CURRENT geometry, which would be the
                # wrong map for tombstones written under the old one.
                tombs = []
            elif replaced or retire_keys is not None:
                spark = out.sparkSession
                dead = (
                    spark.read.parquet(*[t["path"] for t in tombs])
                    .select(self.key)
                    .distinct()
                )
                keep = dead
                if replaced:
                    keep = keep.filter(
                        ~self._bucket_of(F.col(self.key)).isin(replaced)
                    )
                if retire_keys is not None:
                    keep = keep.join(
                        F.broadcast(retire_keys.select(self.key).distinct()),
                        on=self.key,
                        how="left_anti",
                    )
                n_keep = keep.count()
                if n_keep == 0:
                    tombs = []
                elif n_keep < sum(t["rows"] for t in tombs):
                    tpath = os.path.join(staged, "tombstones")
                    keep.write.mode("overwrite").parquet(tpath)
                    tombs = [{"path": tpath, "rows": n_keep}]
        manifest = {
            "schema": schema_json,
            "buckets": {str(k): v for k, v in buckets.items()},
            "stats": stats,
            "geometry": {"key": self.key, "n_buckets": self.n_buckets},
        }
        if tombs:
            manifest["tombstones"] = tombs
        if self.bloom_cols:
            manifest["bloom_meta"] = {
                "m_bits": self.bloom_bits,
                "seeds": list(range(42, 42 + self.bloom_k)),
            }
            # blooms aggregate over the freshly WRITTEN files read back
            # (one scan of the staged bytes), not the upstream plan —
            # re-running a merge/compact plan just to hash its rows
            # would double the write's compute at scale. The read MUST
            # be the explicit staged-file list, not the staged dir:
            # tombstone consolidation writes an UNPARTITIONED
            # staged/tombstones dir next to the hive __kb_bucket=N
            # dirs, and directory-level partition discovery over that
            # mix raises "Conflicting directory structures". Explicit
            # leaf files skip discovery; the bucket id rides in the
            # __kb_data column the files already carry.
            spark = out.sparkSession
            marker = staged + os.sep
            staged_files = [
                f for fs in buckets.values() for f in fs if f.startswith(marker)
            ]
            if staged_files:
                staged_df = spark.read.parquet(*staged_files).withColumnRenamed(
                    self.DATA_BUCKET_COL, self.BUCKET_COL
                )
            else:
                staged_df = out.limit(0)
            manifest["blooms"] = self._merged_blooms(
                staged_df, staged_buckets, buckets, carried, prior, append
            )
        self._publish_manifest(staged, name, manifest, expected_parent)

    def _publish_manifest(
        self, staged: str, name: str, manifest: dict, expected_parent
    ) -> None:
        """Write the manifest into the staged dir and publish it:
        pointer lock, OCC check against ``expected_parent``, atomic
        pointer swap, version-log append with crash healing, then
        reference-walking GC. The single publish tail shared by data
        writes (:meth:`_write_version`) and metadata-only commits
        (:meth:`delete_keys_mor`)."""
        import json

        with open(os.path.join(staged, self.MANIFEST), "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        with self._publish_lock():
            prior_live = self.current_path()
            if expected_parent is not self._UNCHECKED:
                live_name = (
                    os.path.basename(prior_live) if prior_live is not None else None
                )
                if live_name != expected_parent:
                    raise ConcurrentWriteError(
                        f"live version is {live_name!r}, but this write was "
                        f"derived from {expected_parent!r} — another writer "
                        "published in between; re-read and retry"
                    )
            self._swap_pointer(name)
            # publish log AFTER the pointer swap: logging first would list a
            # never-published version (its manifest already exists in the
            # staged dir, so a manifest-existence filter can't catch it).
            # A crash between swap and append loses only the LIVE version's
            # log line; versions() repairs that while it stays live, and the
            # next publish heals it DURABLY here — the prior live name is
            # re-appended if a crash ever kept it out of the log, so history
            # cannot lose a published version permanently.
            log_path = os.path.join(self.root, self.VERSION_LOG)
            logged: set[str] = set()
            if os.path.exists(log_path):
                with open(log_path, encoding="utf-8") as f:
                    logged = {ln.strip() for ln in f if ln.strip()}
            with open(log_path, "a", encoding="utf-8") as f:
                if prior_live is not None:
                    prior_name = os.path.basename(prior_live)
                    if prior_name not in logged:
                        f.write(prior_name + "\n")
                f.write(name + "\n")
        # prior versions may still be referenced by the manifest just
        # published, so deletion is reference-walking GC, not rmtree:
        # auto-vacuum keeps parity with ParquetTarget's delete-on-swap
        # for whatever is now orphaned (single writer, same contract)
        self.vacuum_unreferenced()

    def _read_files(
        self,
        spark: SparkSession,
        files: list[str],
        schema_json: str,
        tombstones: list | None = None,
    ) -> DataFrame:
        """Explicit-file-list read, the single choke point every read
        path routes through. ``tombstones`` (the manifest's
        merge-on-read key-delete entries) mask deleted keys with ONE
        broadcast anti-join — a key set the size of the un-compacted
        delete batches, by construction small until compact()
        materializes them."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(__import__("json").loads(schema_json))
        if not files:
            return spark.createDataFrame([], schema)
        df = spark.read.schema(schema).parquet(*files)
        if tombstones:
            dead = (
                spark.read.parquet(*[t["path"] for t in tombstones])
                .select(self.key)
                .distinct()
            )
            df = df.join(F.broadcast(dead), on=self.key, how="left_anti")
        return df

    # -- public surface (same contracts as BucketedParquetTarget) ----------
    def overwrite(self, df: DataFrame) -> None:
        self._write_version(df, carried={})

    def read(self, spark: SparkSession) -> DataFrame:
        m = self._load_manifest()
        if m is None:
            raise FileNotFoundError(f"no live version under {self.root}")
        files = [f for fs in m["buckets"].values() for f in fs]
        return self._read_files(
            spark, files, m["schema"], m.get("tombstones")
        ).drop(self.DATA_BUCKET_COL)

    def probe(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        """Live rows from ONLY the buckets the key frame hashes into —
        in manifest mode the pruning is an exact driver-side file-list
        cut: no directory listing, no partition discovery, just the
        manifest entries of the affected buckets."""
        m = self._load_manifest()
        if m is None:
            raise FileNotFoundError(f"no live version under {self.root}")
        files = [f for b in self._buckets_of(keys) for f in m["buckets"].get(b, [])]
        return self._read_files(
            spark, files, m["schema"], m.get("tombstones")
        ).drop(self.DATA_BUCKET_COL)

    def scan_range(self, spark: SparkSession, lo, hi, col: str | None = None) -> DataFrame:
        """Key-range scan with zone-map data skipping (the
        Iceberg/Delta file-stats cut, public designs): plan only the
        files whose footer ``[min, max]`` overlaps ``[lo, hi]`` — an
        exact driver-side file-list decision from the manifest's zone
        maps, no directory listing, no footer reads at query time.
        Files without a recorded zone map are conservatively scanned,
        so skipping can never drop rows; the residual engine filter
        keeps the result row-exact. Hash bucketing spreads key ranges
        across buckets, so this is the complementary cut to
        :meth:`probe`: probe prunes by key SET (equality), scan_range
        by key ORDER — effective whenever ingestion order correlates
        with the key (monotonic RecIds), which makes every old file's
        zone map end below new keys. ``col`` redirects the cut to any
        column named in ``stats_cols`` (e.g. a rowversion watermark
        scan — the incremental-read-from-lakehouse shape); columns
        without recorded stats scan conservatively, never skip."""
        col = col or self.key
        return self.scan_box(spark, {col: (lo, hi)})

    def _stat_bounds(self, s: dict, col: str):
        """Zone-map ``(min, max)`` for ``col`` in one file's manifest
        stats entry, or None when the column has no recorded stats
        (untracked column / writer omitted stats — never skip)."""
        if col == self.key:
            if "min" in s and "max" in s:
                return s["min"], s["max"]
        else:
            cs = s.get("cols", {}).get(col)
            if cs is not None:
                return cs["min"], cs["max"]
        return None

    def scan_box(self, spark: SparkSession, preds: dict) -> DataFrame:
        """Multi-column box scan with conjunctive zone-map skipping:
        ``preds`` maps column name -> inclusive ``(lo, hi)``, and a
        file is planned only if EVERY predicate's recorded ``[min,
        max]`` overlaps its range — one provably-disjoint dimension
        skips the file. Columns without stats are conservatively
        treated as overlapping (skipping can never drop rows), and the
        residual engine filter keeps the result row-exact.

        This is the read-side payoff of :meth:`compact_zorder`: after
        a Morton-clustered rewrite each file covers a small axis-
        aligned rectangle in the z-ordered column space, so a k-D box
        predicate prunes on ALL clustered dimensions at once — a
        single-column clustering can only ever prune its own column
        (Delta/Iceberg OPTIMIZE ZORDER read path, public designs)."""
        from pyspark.sql import functions as F

        m = self._load_manifest()
        if m is None:
            raise FileNotFoundError(f"no live version under {self.root}")
        stats = m["stats"]

        def overlaps(f: str) -> bool:
            s = stats.get(f)
            if not s:
                return True
            for col, (lo, hi) in preds.items():
                b = self._stat_bounds(s, col)
                if b is not None and (b[1] < lo or b[0] > hi):
                    return False
            return True

        files = [f for fs in m["buckets"].values() for f in fs if overlaps(f)]
        df = self._read_files(
            spark, files, m["schema"], m.get("tombstones")
        ).drop(self.DATA_BUCKET_COL)
        cond = None
        for col, (lo, hi) in preds.items():
            c = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
            cond = c if cond is None else (cond & c)
        return df.filter(cond) if cond is not None else df

    def probe_value(self, spark: SparkSession, col: str, value) -> DataFrame:
        """Point lookup on a bloom-tracked NON-key column: plan only
        the buckets whose per-bucket Bloom filter admits ``value``
        (operators/bloom.py words; a miss is a PROOF of absence, a hit
        means scan). Buckets without a bloom entry — pre-tracking
        history — scan conservatively, so the result is always
        row-exact after the residual ``col == value`` filter.

        This is the membership complement to :meth:`scan_range`'s
        order cut and :meth:`probe`'s key-hash cut: the probed column
        hashes into buckets by the TABLE key, so a rare value touches
        few buckets and the bloom proves which. The probe's k hash
        positions come from one 1-row engine job (xxhash64 has no
        Python twin), then the word tests are driver-side bit math."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from .operators.bloom import probe_positions, words_might_contain

        m = self._load_manifest()
        if m is None:
            raise FileNotFoundError(f"no live version under {self.root}")
        blooms = m.get("blooms", {}).get(col)
        meta = m.get("bloom_meta")
        if blooms is None or meta is None:
            raise ValueError(
                f"column {col!r} is not bloom-tracked — construct the target "
                "with bloom_cols and rewrite"
            )
        schema = StructType.fromJson(__import__("json").loads(m["schema"]))
        dtype = schema[col].dataType
        pos = probe_positions(spark, value, dtype, meta["m_bits"], tuple(meta["seeds"]))
        files = [
            f
            for b, fs in m["buckets"].items()
            for f in fs
            if str(b) not in blooms or words_might_contain(blooms[str(b)], pos)
        ]
        df = self._read_files(
            spark, files, m["schema"], m.get("tombstones")
        ).drop(self.DATA_BUCKET_COL)
        return df.filter(F.col(col) == F.lit(value))

    def num_rows(self) -> int:
        import pyarrow.parquet as pq

        m = self._load_manifest()
        if m is None:
            return 0
        total = sum(
            pq.ParquetFile(f).metadata.num_rows
            for fs in m["buckets"].values()
            for f in fs
        )
        # merge-on-read tombstones subtract exactly: delete_keys_mor
        # only tombstones keys VERIFIED present (and not already
        # tombstoned), and any rewrite that removes the underlying rows
        # retires the entries in the same commit
        return total - sum(t["rows"] for t in m.get("tombstones", []))

    def _rewrite(self, spark: SparkSession, affected: list[int], rebuild) -> None:
        """Stage only the affected buckets; carry the rest forward by
        manifest reference. Under evolve, carried buckets need no
        rewrite: the published schema widens, and _read_files'
        explicit-schema read surfaces absent columns in old files as
        NULL."""
        parent, m = self._live_snapshot()
        aff_files = [f for b in affected for f in m["buckets"].get(b, [])]
        window = self._read_files(
            spark, aff_files, m["schema"], m.get("tombstones")
        ).withColumnRenamed(self.DATA_BUCKET_COL, self.BUCKET_COL)
        # an affected bucket emptied by deletes writes no files and must
        # not carry its old entry: seed empty lists, staged dirs override
        carried = {**m["buckets"], **{b: [] for b in affected}}
        self._write_version(rebuild(window), carried=carried, expected_parent=parent)

    def delete_range(self, spark: SparkSession, lo, hi) -> dict:
        """``DELETE WHERE lo <= key <= hi`` planned from the zone maps
        — the lakehouse metadata-delete: files whose key range lies
        WHOLLY inside [lo, hi] drop from the manifest without being
        read or rewritten (a pure metadata commit, the Delta/Iceberg
        delete-file-skipping model); files straddling a boundary are
        rewritten filtered; files wholly outside carry forward by
        reference, byte-untouched. Files without zone-map stats are
        conservatively rewritten, never wrongly dropped. Publishes one
        new version under the usual OCC check; returns
        ``{"dropped_files", "rewritten_files", "untouched_files",
        "deleted_rows"}``.

        At 100 TB this is the retention/GDPR workhorse: deleting a
        day's range from a key-clustered corpus touches two boundary
        files' worth of IO regardless of how many TB the range spans.
        """
        from pyspark.sql import functions as F

        plan = self._range_removal_plan(spark, lo, hi)
        # append-mode publish: staged survivor files EXTEND each
        # bucket's carried (untouched) list instead of replacing it
        self._write_version(
            plan["survivors"],
            carried=plan["carried"],
            append=True,
            expected_parent=plan["parent"],
            retire_keys=plan["retire_keys"],
        )
        return {k: plan[k] for k in (
            "dropped_files", "rewritten_files", "untouched_files", "deleted_rows"
        )}

    def delete_keys_mor(self, spark: SparkSession, keys: DataFrame) -> int:
        """Merge-on-read key deletes (the Delta deletion-vector /
        Iceberg equality-delete shape, public designs): the commit
        writes ONE small tombstone file of verified-present keys and
        republishes the manifest with every data file carried by
        reference — an O(delete batch) metadata commit where
        copy-on-write would rewrite every touched bucket. Every read
        path masks tombstoned keys with one broadcast anti-join at the
        :meth:`_read_files` choke point (row-exact immediately), and
        the next full rewrite of a bucket — compact, z-order, a merge
        touching it — RETIRES its tombstone entries in the same commit
        because the rewrite reads masked data.

        Keys are verified present (probe + semi-join, itself masked,
        so re-deleting or deleting absent keys is a no-op) before they
        are tombstoned — which is what keeps :meth:`num_rows`'s
        footer-minus-tombstones arithmetic exact. Returns the number
        of keys tombstoned; 0 publishes nothing. OCC-checked like
        every other publish."""
        from pyspark.sql import functions as F

        if not self.exists():
            raise FileNotFoundError(f"no live version under {self.root}")
        parent, m = self._live_snapshot()
        kd = keys.select(self.key).distinct()
        present = (
            self.probe(spark, kd)
            .select(self.key)
            .join(F.broadcast(kd), on=self.key, how="left_semi")
            .distinct()
        )
        n = present.count()
        if n == 0:
            return 0
        name = f"v_{uuid.uuid4().hex[:12]}"
        staged = os.path.join(self.root, name)
        tpath = os.path.join(staged, "tombstones")
        present.write.mode("overwrite").parquet(tpath)
        manifest = {
            "schema": m["schema"],
            "buckets": {str(k): v for k, v in m["buckets"].items()},
            "stats": m["stats"],
            "geometry": {"key": self.key, "n_buckets": self.n_buckets},
            "tombstones": m.get("tombstones", []) + [{"path": tpath, "rows": n}],
        }
        if "blooms" in m and m.get("bloom_meta"):
            manifest["blooms"] = m["blooms"]
            manifest["bloom_meta"] = m["bloom_meta"]
        self._publish_manifest(staged, name, manifest, parent)
        return n

    def _range_removal_plan(self, spark: SparkSession, lo, hi) -> dict:
        """Shared zone-map planning for delete_range / replace_range:
        classify every manifest file against [lo, hi] and build the
        carried map plus the filtered survivor frame for the boundary
        files."""
        from pyspark.sql import functions as F

        parent, m = self._live_snapshot()
        carried: dict[int, list[str]] = {}
        rewrite: list[str] = []
        n_drop = n_keep = 0
        dropped_rows = 0
        for b, fs in m["buckets"].items():
            kept: list[str] = []
            for f in fs:
                st = m["stats"].get(f, {})
                mn, mx = st.get("min"), st.get("max")
                if mn is None or mx is None:
                    rewrite.append(f)  # no stats: must look inside
                elif mx < lo or mn > hi:
                    kept.append(f)  # wholly outside: carry by reference
                    n_keep += 1
                elif lo <= mn and mx <= hi:
                    n_drop += 1  # wholly covered: metadata-only drop
                    dropped_rows += st.get("rows", 0)
                else:
                    rewrite.append(f)
            if kept:
                carried[b] = kept
        window = self._read_files(
            spark, rewrite, m["schema"], m.get("tombstones")
        ).withColumnRenamed(
            self.DATA_BUCKET_COL, self.BUCKET_COL
        )
        key = F.col(self.key)
        survivors = window.filter((key < F.lit(lo)) | (key > F.lit(hi)))
        # rewrite-set row total comes from the manifest stats ("rows"
        # is recorded unconditionally per file) — no extra data scan
        rewrite_rows = sum(m["stats"].get(f, {}).get("rows", 0) for f in rewrite)
        deleted_in_rewrite = rewrite_rows - survivors.count() if rewrite else 0
        # Merge-on-read tombstones whose physical rows this plan removes
        # must retire in the same commit, and must NOT be re-counted as
        # deleted now (they were already logically deleted — the footer
        # totals in dropped_rows/rewrite_rows still include their bytes
        # while t["rows"] also counts them, so num_rows would double-
        # subtract and deleted_rows would over-report). Two exact
        # classes cover every removed tombstone: keys IN [lo, hi] (kept
        # files are wholly outside the range, so an in-range key's rows
        # can only have lived in dropped or rewritten files), and keys
        # physically resident in the rewritten files (found with one
        # UNMASKED read of the boundary files this plan reads anyway).
        # Keys outside the range living in kept files keep their
        # tombstones — their physical rows survive untouched.
        retire = None
        n_retire = 0
        tombs = m.get("tombstones")
        if tombs:
            dead = (
                spark.read.parquet(*[t["path"] for t in tombs])
                .select(self.key)
                .distinct()
            )
            retire = dead.filter((key >= F.lit(lo)) & (key <= F.lit(hi)))
            if rewrite:
                unmasked = self._read_files(
                    spark, rewrite, m["schema"], None
                ).select(self.key)
                retire = (
                    retire.unionByName(
                        dead.join(unmasked, on=self.key, how="left_semi")
                    ).distinct()
                )
            n_retire = retire.count()
            if n_retire == 0:
                retire = None
        return {
            "parent": parent,
            "carried": carried,
            "survivors": survivors,
            "retire_keys": retire,
            "dropped_files": n_drop,
            "rewritten_files": len(rewrite),
            "untouched_files": n_keep,
            "deleted_rows": dropped_rows + deleted_in_rewrite - n_retire,
        }

    def replace_range(self, spark: SparkSession, lo, hi, rows: DataFrame) -> dict:
        """Atomic range restatement — ``DELETE WHERE key BETWEEN lo AND
        hi`` and insert ``rows`` in ONE version commit (the daily-
        partition reload: restate yesterday without a window where
        readers see the range deleted but not yet replaced). Planning
        is the same zone-map split as :meth:`delete_range`; the staged
        write is the boundary survivors plus the replacement rows,
        published under one OCC check. ``rows`` whose key falls
        OUTSIDE [lo, hi] raise — they would silently coexist with the
        live copies of the same keys."""
        from pyspark.sql import functions as F

        key = F.col(self.key)
        # pin ONE materialization of the caller's frame: a
        # nondeterministic input re-evaluated per job could pass the
        # range validation yet stage different rows
        rows = rows.persist()
        try:
            counts = rows.agg(
                F.count("*").alias("n"),
                F.sum(
                    ((key < F.lit(lo)) | (key > F.lit(hi))).cast("long")
                ).alias("n_outside"),
            ).collect()[0]
            if counts["n_outside"]:
                raise ValueError(
                    f"{counts['n_outside']} replacement rows have {self.key} "
                    f"outside [{lo!r}, {hi!r}] — replace_range only restates "
                    "the range"
                )
            plan = self._range_removal_plan(spark, lo, hi)
            staged = plan["survivors"].unionByName(
                self._with_bucket(rows), allowMissingColumns=False
            )
            self._write_version(
                staged, carried=plan["carried"], append=True,
                expected_parent=plan["parent"],
                retire_keys=plan["retire_keys"],
            )
        finally:
            rows.unpersist()
        return {
            **{k: plan[k] for k in (
                "dropped_files", "rewritten_files", "untouched_files",
                "deleted_rows",
            )},
            "inserted_rows": int(counts["n"]),
        }

    def vacuum(self) -> list[str]:
        """Override the base 'delete every non-live version' vacuum:
        on a manifest target prior versions may still be REFERENCED by
        the live manifest, so the only safe GC is reference-walking —
        delegate to :meth:`vacuum_unreferenced` (inheriting the base
        behavior here would destroy carried-forward data)."""
        return self.vacuum_unreferenced()

    def append_rows(self, spark: SparkSession, inserts: DataFrame) -> None:
        """Insert-only fast path: stage the batch's bucket files and
        publish a version whose touched buckets reference old files AND
        the new ones — no existing bucket is ever read or rewritten, so
        the cycle costs O(batch), not O(touched-bucket data). This is
        the right path for high-volume insert streams (event ingestion,
        log shipping) where the merge path's survivor rewrite is pure
        write amplification.

        Caller contract: keys in ``inserts`` must be NEW (gate with
        :meth:`probe` or the Bloom pre-filter upstream) — existing keys
        would surface as duplicate rows until a merge touches their
        bucket. Each batch accretes one file per touched bucket; run
        :meth:`compact` periodically to restore one file per bucket."""
        if not self.exists():
            self.overwrite(inserts)
            return
        parent, m = self._live_snapshot()
        self._write_version(
            inserts, carried=dict(m["buckets"]), append=True, expected_parent=parent
        )

    def compact(
        self,
        spark: SparkSession,
        max_files_per_bucket: int = 1,
        cluster_by_key: bool = False,
        target_rows_per_file: int | None = None,
    ) -> int:
        """Small-file maintenance (the lakehouse OPTIMIZE): buckets
        whose manifest references more than ``max_files_per_bucket``
        files are read back and rewritten as one file each; untouched
        buckets carry forward by reference as usual and the rewrite
        publishes atomically as a new version. Incremental merges and
        appends accrete a file per cycle per touched bucket — at 10^5
        buckets x daily cycles that is the classic small-file problem
        (open/seek costs dominate scans); periodic compaction restores
        ~one file per bucket without ever blocking readers (pointer
        swap) or copying untouched buckets. Returns the number of
        buckets compacted; 0 leaves the table untouched (no empty
        version is published).

        ``cluster_by_key=True`` is the OPTIMIZE-with-clustering
        variant: EVERY non-empty bucket rewrites with rows sorted by
        the key, and ``target_rows_per_file`` caps file size so the
        sorted stream splits into files owning contiguous key ranges —
        after which zone maps prune ranges INSIDE buckets (scan_range
        reads ~range/bucket_span files instead of every file, and
        delete_range's metadata-only drops apply mid-bucket). The
        full-rewrite cost is the same deliberate trade Delta's
        OPTIMIZE ZORDER makes; run it at maintenance cadence."""
        if max_files_per_bucket < 1:
            raise ValueError(
                f"max_files_per_bucket must be >= 1, got {max_files_per_bucket}"
            )
        if not self.exists():
            return 0
        parent, m = self._live_snapshot()
        if cluster_by_key:
            fat = sorted(b for b, fs in m["buckets"].items() if fs)
        else:
            fat = sorted(
                b for b, fs in m["buckets"].items() if len(fs) > max_files_per_bucket
            )
        if not fat:
            return 0
        fat_files = [f for b in fat for f in m["buckets"][b]]
        window = self._read_files(
            spark, fat_files, m["schema"], m.get("tombstones")
        ).withColumnRenamed(
            self.DATA_BUCKET_COL, self.BUCKET_COL
        )
        carried = {b: fs for b, fs in m["buckets"].items() if b not in set(fat)}
        for b in fat:
            carried[b] = []  # staged dirs repopulate the compacted buckets
        self._write_version(
            window,
            carried=carried,
            expected_parent=parent,
            sort_by_key=cluster_by_key,
            max_records_per_file=target_rows_per_file,
            n_write_partitions=self._clustered_write_partitions(
                m, fat_files, target_rows_per_file
            )
            if cluster_by_key
            else None,
        )
        return len(fat)

    def rebucket(self, spark: SparkSession, n_buckets: int) -> None:
        """Geometry migration — rewrite the table into ``n_buckets``
        hash buckets as ONE atomic version commit (the lakehouse
        answer to "the table outgrew its bucket count": a table
        bucketed at 64 when it was 1 GB has multi-GB buckets at 10 TB,
        and every merge window / compact task inherits that grain).

        A full rewrite by necessity — every row's bucket assignment
        changes — published under the usual OCC pointer discipline, so
        readers switch at the pointer swap. The masked read means
        tombstoned keys are physically absent from the new layout, and
        the all-buckets-replaced retirement short-circuit clears their
        entries in the same commit (the per-key bucket filter would map
        old-geometry tombstones through the NEW hash, which is exactly
        the wrong-geometry corruption this class refuses elsewhere).
        Prior versions stay time-travel readable: version reads are
        explicit file lists, geometry-independent; only the LIVE
        manifest must match the handle, and this handle's geometry is
        updated in place on success."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        parent, m = self._live_snapshot()
        if n_buckets == self.n_buckets:
            return
        files = [f for fs in m["buckets"].values() for f in fs]
        rows = self._read_files(
            spark, files, m["schema"], m.get("tombstones")
        ).drop(self.DATA_BUCKET_COL)
        old = self.n_buckets
        self.n_buckets = n_buckets
        try:
            self._write_version(
                self._with_bucket(rows), carried={}, expected_parent=parent
            )
        except BaseException:
            self.n_buckets = old
            raise

    def compact_zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        bits: int = 6,
        target_rows_per_file: int | None = None,
    ) -> int:
        """OPTIMIZE ZORDER (Delta/Iceberg public design): full rewrite
        with every bucket's rows ordered by the Morton interleave of
        quantile-rank buckets over ``cols``, split at
        ``target_rows_per_file`` — each output file then covers a
        small axis-aligned RECTANGLE in the clustered column space, so
        :meth:`scan_box` prunes k-D box predicates on ALL clustered
        dimensions at once (a key-clustered layout prunes only the
        key). Returns the number of buckets rewritten.

        Pipeline (all inside the rewrite's single repartition — no
        extra shuffle, no UDF, no materialized z-column):
        quantile cut points per column (driver-side bounded list,
        ``2**bits - 1`` doubles) -> rank bucket via a literal-array
        ``aggregate`` -> Morton bit interleave -> the z-code feeds
        ``sortWithinPartitions`` as a raw expression. Rank buckets
        (not raw value bits) equalize skewed distributions — the
        standard Zipf guard.

        Every z-ordered column must be zone-mapped (``stats_cols`` or
        the key), else the clustering would be write-only: the read
        path prunes from recorded footer stats."""
        from .operators.zorder import morton_interleave, quantile_bounds_multi, rank_bucket

        untracked = [c for c in cols if c != self.key and c not in self.stats_cols]
        if untracked:
            raise ValueError(
                f"z-order columns {untracked} are not zone-mapped — add them "
                "to stats_cols so scan_box can actually prune on them"
            )
        if not self.exists():
            return 0
        parent, m = self._live_snapshot()
        fat = sorted(b for b, fs in m["buckets"].items() if fs)
        if not fat:
            return 0
        files = [f for b in fat for f in m["buckets"][b]]
        window = self._read_files(
            spark, files, m["schema"], m.get("tombstones")
        ).withColumnRenamed(
            self.DATA_BUCKET_COL, self.BUCKET_COL
        )
        bounds = quantile_bounds_multi(window, cols, bits=bits)
        zcode = morton_interleave(
            [rank_bucket(c, bounds[c]) for c in cols], bits=bits
        )
        carried = {b: [] for b in m["buckets"]}
        self._write_version(
            window,
            carried=carried,
            expected_parent=parent,
            sort_exprs=[zcode],
            max_records_per_file=target_rows_per_file,
            n_write_partitions=self._clustered_write_partitions(
                m, files, target_rows_per_file
            ),
        )
        return len(fat)

    def _clustered_write_partitions(
        self, m: dict, files: list[str], target_rows_per_file: int | None
    ) -> int | None:
        """Write parallelism for a clustered full rewrite: ~one task
        per intended output file (``total rows / target_rows_per_file``,
        floored at ``n_buckets``), derived from the manifest's recorded
        per-file row counts — a driver-side metadata sum, no Spark job.
        None (the hash-on-bucket legacy shape) when there is no file
        split target or the row counts aren't recorded."""
        if not target_rows_per_file or target_rows_per_file < 1:
            return None
        stats = m.get("stats", {})
        known = [stats[f]["rows"] for f in files if f in stats and "rows" in stats[f]]
        if not known:
            return None
        total = sum(known)
        if total <= 0:
            return None
        return max(self.n_buckets, -(-total // int(target_rows_per_file)))

    #: grace period before an unreferenced, never-published ``v_*``
    #: dir (a concurrent writer's in-flight staging, or a
    #: conflict-abandoned one) may be GC'd — the Delta/Iceberg
    #: retention-horizon model. Without it, writer B's post-publish
    #: vacuum could rmtree writer A's freshly staged files while A's
    #: expected_parent check still passes (live unchanged since A read
    #: it), letting A publish a manifest referencing deleted files.
    _STAGING_TTL = 3600.0

    def vacuum_unreferenced(self) -> list[str]:
        """GC: delete version directories that hold NO file referenced
        by any RETAINED manifest — the live version plus the most
        recent ``retain_versions - 1`` published before it (the
        time-travel window). With the default ``retain_versions=1``
        this is exactly the original live-only reference walk.

        Concurrency-safe under OCC writers: PUBLISHED dirs (in the
        version log or the live pointer) are deleted as soon as they
        age out — any writer still deriving from them fails its
        ``expected_parent`` check rather than reading deleted files.
        A ``v_*`` dir that was never published is a concurrent
        writer's staging (or a conflict's abandonment): it is skipped
        until its mtime exceeds ``_STAGING_TTL``, so GC cannot shoot
        an in-flight publish."""
        import time

        live = self.current_path()
        if self._load_manifest() is None or live is None:
            return []
        published = {os.path.basename(live)}
        log = os.path.join(self.root, self.VERSION_LOG)
        if os.path.exists(log):
            with open(log, encoding="utf-8") as f:
                published |= {ln.strip() for ln in f if ln.strip()}
        retained_dirs = [os.path.abspath(live)]
        for name in reversed(self.versions()):
            path = os.path.abspath(os.path.join(self.root, name))
            if path not in retained_dirs:
                retained_dirs.append(path)
            if len(retained_dirs) >= self.retain_versions:
                break
        referenced_dirs = set()
        for d in retained_dirs:
            m = self._manifest_at(d)
            referenced_dirs |= {
                os.path.dirname(os.path.dirname(f))  # strip __kb=N/file.parquet
                for fs in m["buckets"].values()
                for f in fs
            }
            # tombstone files live one level under their version dir
            referenced_dirs |= {
                os.path.dirname(t["path"]) for t in m.get("tombstones", [])
            }
            referenced_dirs.add(d)
        removed = []
        referenced = {os.path.abspath(d) for d in referenced_dirs}
        retained = set(retained_dirs)
        for entry in os.listdir(self.root):
            path = os.path.abspath(os.path.join(self.root, entry))
            if not entry.startswith("v_") or not os.path.isdir(path):
                continue
            if path not in referenced:
                if entry not in published:
                    # never published: a concurrent writer may be
                    # mid-staging here — only GC past the TTL horizon.
                    # Age = newest mtime across the dir and its shallow
                    # subdirs, NOT the top dir alone: during a long
                    # Spark stage the files land inside _temporary/ and
                    # bucket subdirs, so the top-level mtime can go
                    # stale while the write is very much alive.
                    try:
                        # FULL tree walk: an in-flight Spark write's
                        # activity lives arbitrarily deep
                        # (v_x/_temporary/<job>/.../attempt_*/part-...),
                        # so shallow sampling would judge a live
                        # long-running stage stale. A staged dir is
                        # bounded (buckets + the task-attempt tree), so
                        # the walk is cheap for a GC pass.
                        mtimes = [os.path.getmtime(path)]
                        for root_d, dirs, files in os.walk(path):
                            for name in dirs + files:
                                mtimes.append(
                                    os.path.getmtime(os.path.join(root_d, name))
                                )
                        age = time.time() - max(mtimes)
                    except OSError:
                        continue  # raced with its publisher/another GC
                    if age <= self._STAGING_TTL:
                        continue
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
            elif path not in retained:
                # the dir must survive (a retained manifest references
                # its files) but the VERSION it published has aged out
                # of the time-travel window: drop its manifest so
                # versions()/read_version expose exactly the retained
                # window, not whichever dirs happen to survive
                manifest = os.path.join(path, self.MANIFEST)
                if os.path.exists(manifest):
                    os.remove(manifest)
        return removed

    def layout_report(
        self,
        small_file_rows: int = 10_000,
        rebucket_rows_per_bucket: int = 50_000_000,
    ) -> dict:
        """Metadata-only layout health check — the input to a
        maintenance decision, computed entirely from the live manifest
        (no file IO, no Spark job):

        * ``n_files`` / ``files_per_bucket_max`` / ``small_files``
          (files under ``small_file_rows``) — small-file pressure, the
          signal for :meth:`compact`;
        * ``zone_overlap_frac`` — of the buckets with ≥2 zone-mapped
          files, the fraction of file pairs whose key ranges OVERLAP:
          ~0 on a range-clustered layout (scan_range/delete_range
          prune well), ~1 after interleaved appends — the signal for
          ``compact(cluster_by_key=True)``;
        * ``rows_per_bucket_max`` — the fattest bucket's manifest row
          total; past ``rebucket_rows_per_bucket`` the merge window /
          compact task grain has outgrown the geometry — the signal
          for :meth:`rebucket` (the default ~50M rows is a few GB per
          bucket task at typical row widths);
        * ``recommendations`` — the derived action list ("compact",
          "cluster", "rebucket"), empty when the layout is healthy.
        """
        m = self._load_manifest()
        if m is None:
            raise FileNotFoundError(f"no live version under {self.root}")
        stats = m["stats"]
        n_files = small = 0
        per_bucket: list[int] = []
        bucket_rows: list[int] = []
        pairs = overlapping = 0
        for fs in m["buckets"].values():
            per_bucket.append(len(fs))
            n_files += len(fs)
            zoned = []
            rows = 0
            for f in fs:
                st = stats.get(f, {})
                rows += st.get("rows", 0)
                if st.get("rows", small_file_rows) < small_file_rows:
                    small += 1
                if "min" in st and "max" in st:
                    zoned.append((st["min"], st["max"]))
            bucket_rows.append(rows)
            for i in range(len(zoned)):
                for j in range(i + 1, len(zoned)):
                    pairs += 1
                    if zoned[i][0] <= zoned[j][1] and zoned[j][0] <= zoned[i][1]:
                        overlapping += 1
        overlap = (overlapping / pairs) if pairs else 0.0
        rows_max = max(bucket_rows) if bucket_rows else 0
        recs = []
        if per_bucket and max(per_bucket) > 4:
            recs.append("compact")
        if overlap > 0.5:
            recs.append("cluster")
        if rows_max > rebucket_rows_per_bucket:
            recs.append("rebucket")
        return {
            "n_buckets_used": sum(1 for n in per_bucket if n),
            "n_files": n_files,
            "files_per_bucket_max": max(per_bucket) if per_bucket else 0,
            "small_files": small,
            "rows_per_bucket_max": rows_max,
            "zone_overlap_frac": round(overlap, 4),
            "recommendations": recs,
        }

    def export_version(self, name: str, dest_root: str) -> "ManifestParquetTarget":
        """Materialize version ``name`` as a STANDALONE table at
        ``dest_root`` — the dataset-release step: a training snapshot
        published to a location whose lifecycle is independent of the
        source table's GC/retention window.

        The export copies exactly the files the pinned manifest
        references (no Spark job — a driver-side byte copy here; an
        object-store deployment swaps in server-side copies of the
        same file list) into a fresh single-version layout, rewrites
        the manifest to the new paths carrying the zone maps along,
        and publishes it with the same pointer discipline. The result
        is a fully functional ManifestParquetTarget: readable,
        probe/scan_range-prunable, even mergeable — a fork, not a
        symlink; later writes to either side cannot corrupt the other.

        ``dest_root`` must not already host a table: every other
        publish path in this class goes through the pointer lock + OCC
        check, and silently re-pointing an existing table's pointer
        here would clobber it (and orphan its log history). Exporting
        onto a live table raises ``FileExistsError`` — pick a fresh
        root, or merge into the existing table instead.
        """
        src_path = os.path.join(self.root, name)
        if not os.path.exists(os.path.join(src_path, self.MANIFEST)):
            raise FileNotFoundError(f"version {name!r} not readable under {self.root}")
        import json

        m = self._manifest_at(src_path)
        # construct the dest handle with the VERSION's recorded
        # geometry (a pre-rebucket snapshot exports as a table of its
        # own layout, and the returned handle must be usable as-is)
        g = m.get("geometry") or {}
        dest = ManifestParquetTarget(
            dest_root,
            key=g.get("key", self.key),
            n_buckets=int(g.get("n_buckets", self.n_buckets)),
        )
        if os.path.exists(dest._pointer()):
            raise FileExistsError(
                f"{dest_root!r} already hosts a live table — export_version "
                "refuses to clobber its pointer; use a fresh dest_root"
            )
        out_name = f"v_{uuid.uuid4().hex[:12]}"
        staged = os.path.join(dest_root, out_name)
        new_buckets: dict[int, list[str]] = {}
        new_stats: dict[str, dict] = {}
        for b, fs in m["buckets"].items():
            outs = []
            for i, f in enumerate(sorted(fs)):
                rel = os.path.join(f"{self.BUCKET_COL}={b}", f"part-{i:05d}.parquet")
                out = os.path.join(staged, rel)
                os.makedirs(os.path.dirname(out), exist_ok=True)
                shutil.copy2(f, out)
                outs.append(out)
                if f in m["stats"]:
                    new_stats[out] = m["stats"][f]
            new_buckets[b] = outs
        new_tombs = []
        for i, t in enumerate(m.get("tombstones", [])):
            # tombstone dirs copy like data files: the exported fork
            # must keep masking exactly what the pinned version masked
            out_dir = os.path.join(staged, f"tombstones-{i}")
            shutil.copytree(t["path"], out_dir)
            new_tombs.append({"path": out_dir, "rows": t["rows"]})
        manifest = {
            "schema": m["schema"],
            "buckets": {str(k): v for k, v in new_buckets.items()},
            "stats": new_stats,
        }
        # carry the SOURCE version's recorded geometry (not self's):
        # exporting a pre-rebucket snapshot must produce a table whose
        # manifest matches its own file layout
        if "geometry" in m:
            manifest["geometry"] = m["geometry"]
        if new_tombs:
            manifest["tombstones"] = new_tombs
        os.makedirs(staged, exist_ok=True)
        with open(os.path.join(staged, self.MANIFEST), "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        dest._swap_pointer(out_name)
        with open(
            os.path.join(dest_root, self.VERSION_LOG), "a", encoding="utf-8"
        ) as f:
            f.write(out_name + "\n")
        return dest
