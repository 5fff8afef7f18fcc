"""Delta comparison rules (reference family J1-J6).

The reference classifies every key into {new, modified, unchanged, deleted}
by building a driver-side hash map of the target's version columns and
probing it with each source row (CompareRecords,
AxDbDataService.cs:717-867). This module writes those rules ONCE, as
Column expressions over a paired frame whose columns carry a side prefix
(``s_*`` source, ``t_*`` target):

* :func:`side_columns` projects one side onto its prefixed key and the
  version columns both sides have (:class:`ComparisonContext`);
* :func:`change_type` is the classification: null-safe equality
  (``eqNullSafe``) on the version columns reproduces the reference's
  DBNull semantics (ValuesEqual, AxDbDataService.cs:872-886), and the
  RECVERSION=1 fallback rule (AxDbDataService.cs:801-814) is a
  predicate against the stored max-transferred key.

Two pairings apply them. The sync engine pairs its rows with a tagged
union and ONE groupBy on the key (sync.SyncEngine._pair_by_key).
:func:`classify_changes` pairs them with a full-outer join; it serves
the ``delta_classify_*`` gate queries, the operator suite, and the tests
that check both pairings against one oracle.

Nothing here collects to the driver — every output is a DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: change_type values (ComparisonResult, AxDbDataService.cs:1241-1247)
NEW = "new"
MODIFIED = "modified"
UNCHANGED = "unchanged"
DELETED = "deleted"
CHANGE_TYPES = (NEW, MODIFIED, UNCHANGED, DELETED)


@dataclass(frozen=True)
class ComparisonContext:
    """Which version columns exist on BOTH sides
    (BuildComparisonContext, AxDbDataService.cs:674-712)."""

    has_recversion: bool = True
    has_created: bool = True
    has_modified: bool = True

    @property
    def is_fallback_mode(self) -> bool:
        # RECVERSION-only comparison (AxDbDataService.cs:1224)
        return not self.has_created and not self.has_modified

    @classmethod
    def from_columns(
        cls,
        src_cols: list[str],
        tgt_cols: list[str],
        recversion: str = "RECVERSION",
        created: str = "CREATEDDATETIME",
        modified: str = "MODIFIEDDATETIME",
    ) -> "ComparisonContext":
        """Presence test honors the caller's column NAMES — a custom
        version column (e.g. SysRowVersion) must make has_recversion
        true, or the classification would silently degrade to key-only
        comparison and report every surviving key unchanged."""
        s = {c.upper() for c in src_cols}
        t = {c.upper() for c in tgt_cols}
        both = s & t
        return cls(
            has_recversion=recversion.upper() in both,
            has_created=created.upper() in both,
            has_modified=modified.upper() in both,
        )


def side_columns(
    tag: str,
    context: ComparisonContext,
    key: str = "RecId",
    recversion: str = "RECVERSION",
    created: str = "CREATEDDATETIME",
    modified: str = "MODIFIEDDATETIME",
) -> list[Column]:
    """One side's columns as :func:`change_type` reads them: the key as
    ``{tag}_{key}``, then ``{tag}_rv``, ``{tag}_cd`` and ``{tag}_md``
    for each version column the context finds on both sides."""
    cols = [F.col(key).alias(f"{tag}_{key}")]
    if context.has_recversion:
        cols.append(F.col(recversion).alias(f"{tag}_rv"))
    if context.has_created:
        cols.append(F.col(created).alias(f"{tag}_cd"))
    if context.has_modified:
        cols.append(F.col(modified).alias(f"{tag}_md"))
    return cols


def change_type(
    context: ComparisonContext,
    key: str = "RecId",
    max_transferred_key: int | None = None,
) -> Column:
    """CompareRecords (AxDbDataService.cs:765-867) over a paired frame
    of :func:`side_columns` (a NULL ``s_{key}``/``t_{key}`` means the
    key is absent from that side):

    * key only in source -> ``new``
    * key only in target -> ``deleted``
    * fallback mode (no datetime columns) and source RECVERSION == 1:
      ``unchanged`` iff target RECVERSION == 1 and key <= stored
      max-transferred key, else ``modified``
    * otherwise: ``unchanged`` iff RECVERSION and every available
      datetime column null-safe-equal, else ``modified``."""
    equal: Column = F.lit(True)
    if context.has_recversion:
        equal = equal & F.col("s_rv").eqNullSafe(F.col("t_rv"))
    if context.has_created:
        equal = equal & F.col("s_cd").eqNullSafe(F.col("t_cd"))
    if context.has_modified:
        equal = equal & F.col("s_md").eqNullSafe(F.col("t_md"))

    change = (
        F.when(F.col(f"t_{key}").isNull(), F.lit(NEW))
        .when(F.col(f"s_{key}").isNull(), F.lit(DELETED))
    )
    if context.is_fallback_mode and context.has_recversion:
        max_key = F.lit(max_transferred_key) if max_transferred_key is not None else F.lit(None)
        fallback_unchanged = (
            (F.col("t_rv") == 1) & max_key.isNotNull() & (F.col(f"s_{key}") <= max_key)
        )
        change = change.when(
            F.col("s_rv") == 1,
            F.when(fallback_unchanged, F.lit(UNCHANGED)).otherwise(F.lit(MODIFIED)),
        )
    return change.when(equal, F.lit(UNCHANGED)).otherwise(F.lit(MODIFIED))


def classify_changes(
    src: DataFrame,
    tgt: DataFrame,
    key: str = "RecId",
    context: ComparisonContext | None = None,
    max_transferred_key: int | None = None,
    recversion: str = "RECVERSION",
    created: str = "CREATEDDATETIME",
    modified: str = "MODIFIEDDATETIME",
    compact_duplicates: bool = False,
    salt: int = 16,
) -> DataFrame:
    """Full-outer join + 4-way classification (J1).

    Returns one row per key seen on either side with columns
    ``(key, change_type)``, classified by :func:`change_type`. Both
    sides shuffle-partition on the key (sort-merge join at scale).

    Skew: with unique keys per side (the reference's invariant) the
    hash shuffle spreads keys uniformly and AQE splits any residual
    partition skew — no salting needed or useful. The skew vector that
    CAN kill this join is a source carrying MANY duplicate rows for a
    hot key (an uncompacted CDC replay feed): the full-outer join
    funnels every duplicate into the hot key's one task.
    ``compact_duplicates=True`` removes it before the join with a
    two-stage salted reduction (operators/skew.py): stage 1 reduces on
    (key, salt) so the hot key spreads over ``salt`` reducers, stage 2
    merges the partials per key. Element-wise max is the correct merge
    for replayed/monotone version columns — the latest version wins.
    """
    context = context or ComparisonContext.from_columns(
        src.columns, tgt.columns, recversion=recversion, created=created, modified=modified
    )
    names = dict(key=key, recversion=recversion, created=created, modified=modified)
    s = src.select(*side_columns("s", context, **names))
    t = tgt.select(*side_columns("t", context, **names))
    if compact_duplicates:
        from d365fo_db_sync_spark.operators.skew import salted_agg

        value_cols = [c for c in s.columns if c != f"s_{key}"]
        if value_cols:
            s = salted_agg(s, [f"s_{key}"], {c: (c, "max") for c in value_cols}, salt=salt)
        else:
            s = s.distinct()
    joined = s.join(t, s[f"s_{key}"] == t[f"t_{key}"], "full_outer")
    return joined.select(
        F.coalesce(F.col(f"s_{key}"), F.col(f"t_{key}")).alias(key),
        change_type(context, key, max_transferred_key).alias("change_type"),
    )


def missing_keys(src: DataFrame, tgt: DataFrame, key: str = "RecId") -> DataFrame:
    """J2 — source keys absent from target (left-anti join).

    Replaces the reference's driver-side HashSet difference
    (CopyOrchestrator.cs:1018-1022) with a distributed anti-join.
    """
    return src.join(tgt, on=key, how="left_anti")


def deleted_keys(src: DataFrame, tgt: DataFrame, key: str = "RecId") -> DataFrame:
    """J3 — target keys absent from source (AxDbDataService.cs:857-864)."""
    return tgt.join(src, on=key, how="left_anti")


def doomed_rows(
    tgt: DataFrame,
    control: DataFrame,
    version_threshold,
    key: str = "RecId",
    version: str = "SysRowVersion",
) -> DataFrame:
    """J4 — target rows whose key appears in the control set with a version
    above the stored watermark (the modified-in-source delete set,
    AxDbDataService.cs:1129-1144)."""
    changed = control.filter(F.col(version) > F.lit(version_threshold)).select(key)
    return tgt.join(changed, on=key, how="left_semi")


def surviving_rows(tgt: DataFrame, control: DataFrame, key: str = "RecId") -> DataFrame:
    """J5 — target rows present in the control set (the complement of the
    NOT-EXISTS delete, AxDbDataService.cs:1160-1173). "Delete" in a
    rewrite-based sink = keep the survivors."""
    return tgt.join(control.select(key), on=key, how="left_semi")


def change_counts(classified: DataFrame) -> DataFrame:
    """Aggregate the classification into the four counts the reference
    logs (AxDbDataService.cs:246-248). One narrow shuffle."""
    return classified.groupBy("change_type").agg(F.count("*").alias("cnt"))


def change_metrics(
    src_changed: int, tgt_changed: int, control_rows: int, tgt_total: int
) -> dict[str, float]:
    """A9 — change%% and excess%% driving mode selection
    (CopyOrchestrator.cs:884-891). Pure arithmetic on already-aggregated
    scalars; stays on the driver by design."""
    if control_rows <= 0:
        return {"change_percent": 100.0, "excess_percent": 100.0}
    return {
        "change_percent": (src_changed + tgt_changed) / control_rows * 100.0,
        "excess_percent": (tgt_total - control_rows) / control_rows * 100.0,
    }
