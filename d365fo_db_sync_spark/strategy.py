"""Strategy DSL — the reference's per-table query spec language (U1).

Grammar (ParseStrategyLine, CopyOrchestrator.cs:1691-1801):

    TABLE                                  -> RecId strategy, default count
    TABLE|N          (N supports m-suffix) -> RecId strategy, top-N
    TABLE|sql:SELECT ... * ... FROM ...    -> SQL template strategy
    TABLE|N|sql:...                        -> SQL with explicit count
    any of the above + " -truncate"        -> force full-refresh mode
    + " -buckets N" (engine ext.)          -> partial-rewrite bucketed sink
    + " -buckets N -manifest" (engine ext.)-> object-store manifest sink
    + " -evolve" (engine ext.)             -> widen-and-retain schema drift
    + " -retain N" (engine ext.)           -> manifest time-travel window
    + " -statscols a,b" (engine ext.)      -> extra zone-mapped columns
    + " -bloomcols a,b" (engine ext.)      -> per-bucket Bloom filters

SQL templates must contain ``*`` (expanded to the copyable field list)
and may use ``@recordCount`` and ``@sysRowVersionFilter`` — the latter is
the explicit predicate-pushdown slot: ``(1 = 1)`` for full/truncate
passes, the watermark predicate for incremental passes
(GenerateFetchSql, CopyOrchestrator.cs:1913-1935; incremental variant
Tier2DataService.cs:393-411; contract README.md:217-221).

Compilation targets ``spark.sql`` over a temp view of the source, so
Catalyst folds the substituted constants and pushes the filters — the
macro expansion is literally predicate/projection injection.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, SparkSession


class StrategyType(Enum):
    RECID = "RecId"  # top-N by key (default)
    SQL = "Sql"  # user SQL template
    SYSTEM = "System"  # full table copy (TableInfo.cs:134-139)


@dataclass
class Strategy:
    table: str
    type: StrategyType = StrategyType.RECID
    record_count: int | None = None
    sql_template: str = ""
    use_truncate: bool = False
    #: engine extension (no reference analog): hash-bucket the target
    #: into N hive partitions so merges rewrite only affected buckets
    #: (sinks.BucketedParquetTarget)
    buckets: int | None = None
    #: engine extension: with -buckets, select the object-store-native
    #: manifest sink (sinks.ManifestParquetTarget) — carry-forward by
    #: manifest reference instead of hardlinks
    manifest: bool = False
    #: engine extension: admit source schema drift — the target widens
    #: and retains (NULL backfill) instead of erroring on new/dropped
    #: columns (sinks merge evolve_schema / SyncEngine rewrite align)
    evolve: bool = False
    #: engine extension: with -manifest, the time-travel window
    #: (sinks.ManifestParquetTarget retain_versions)
    retain: int | None = None
    #: engine extension: with -manifest, extra zone-mapped columns
    #: (sinks.ManifestParquetTarget stats_cols) — e.g. the rowversion
    #: column for file-skipping watermark scans
    stats_cols: tuple[str, ...] = ()
    #: engine extension: with -manifest, per-bucket Bloom-filtered
    #: columns (sinks.ManifestParquetTarget bloom_cols) — membership
    #: point lookups on non-key columns via probe_value
    bloom_cols: tuple[str, ...] = ()


class StrategyParseError(ValueError):
    pass


def try_parse_record_count(text: str) -> int | None:
    """``10m`` -> 10,000,000 (TryParseRecordCount, CopyOrchestrator.cs:1765-1779)."""
    t = text.strip()
    if t.lower().endswith("m"):
        num = t[:-1]
        return int(num) * 1_000_000 if re.fullmatch(r"-?\d+", num) else None
    return int(t) if re.fullmatch(r"-?\d+", t) else None


def parse_strategy_line(line: str) -> Strategy:
    """One line -> Strategy (ParseStrategyLine, CopyOrchestrator.cs:1692-1763)."""
    working = line.strip()
    use_truncate = False
    buckets: int | None = None
    manifest = False
    evolve = False
    retain: int | None = None
    stats_cols: tuple[str, ...] = ()
    bloom_cols: tuple[str, ...] = ()
    # trailing flags, any order: " -truncate" (reference), " -buckets N"
    # (engine extension — partial-rewrite target), " -manifest" (engine
    # extension — object-store manifest carry-forward; requires -buckets),
    # " -evolve" (engine extension — widen-and-retain schema drift)
    while True:
        m = re.search(r"\s+-truncate$", working, re.IGNORECASE)
        if m:
            use_truncate = True
            working = working[: m.start()].strip()
            continue
        m = re.search(r"\s+-buckets\s+(\d+)$", working, re.IGNORECASE)
        if m:
            buckets = int(m.group(1))
            if buckets <= 0:
                raise StrategyParseError("Invalid format: -buckets must be positive")
            working = working[: m.start()].strip()
            continue
        m = re.search(r"\s+-manifest$", working, re.IGNORECASE)
        if m:
            manifest = True
            working = working[: m.start()].strip()
            continue
        m = re.search(r"\s+-evolve$", working, re.IGNORECASE)
        if m:
            evolve = True
            working = working[: m.start()].strip()
            continue
        m = re.search(r"\s+-retain\s+(\d+)$", working, re.IGNORECASE)
        if m:
            retain = int(m.group(1))
            if retain < 1:
                raise StrategyParseError("Invalid format: -retain must be >= 1")
            working = working[: m.start()].strip()
            continue
        m = re.search(r"\s+-statscols\s+([\w,]+)$", working, re.IGNORECASE)
        if m:
            stats_cols = tuple(c for c in m.group(1).split(",") if c)
            if not stats_cols:
                raise StrategyParseError(
                    "Invalid format: -statscols needs column names"
                )
            working = working[: m.start()].strip()
            continue
        m = re.search(r"\s+-bloomcols\s+([\w,]+)$", working, re.IGNORECASE)
        if m:
            bloom_cols = tuple(c for c in m.group(1).split(",") if c)
            if not bloom_cols:
                raise StrategyParseError(
                    "Invalid format: -bloomcols needs column names"
                )
            working = working[: m.start()].strip()
            continue
        break
    if manifest and buckets is None:
        raise StrategyParseError("Invalid format: -manifest requires -buckets N")
    if (retain is not None or stats_cols or bloom_cols) and not manifest:
        raise StrategyParseError(
            "Invalid format: -retain/-statscols/-bloomcols require -manifest"
        )

    def _finish(st: Strategy) -> Strategy:
        st.retain = retain
        st.stats_cols = stats_cols
        st.bloom_cols = bloom_cols
        return st

    parts = working.split("|")
    if not parts or not parts[0].strip():
        raise StrategyParseError("Invalid format: missing table name")
    table = parts[0].strip()

    if len(parts) == 1:
        return _finish(Strategy(table=table, use_truncate=use_truncate, buckets=buckets, manifest=manifest, evolve=evolve))

    part1 = parts[1].strip()
    if part1.lower().startswith("sql:"):
        return _finish(_parse_sql(table, part1, None, use_truncate, buckets, manifest, evolve))

    count = try_parse_record_count(part1)
    if count is not None:
        if count <= 0:
            raise StrategyParseError("Invalid format: RecId count must be positive")
        if len(parts) >= 3:
            part2 = parts[2].strip()
            if part2.lower().startswith("sql:"):
                return _finish(_parse_sql(table, part2, count, use_truncate, buckets, manifest, evolve))
            raise StrategyParseError(f"Invalid format: unexpected '{part2}' after record count")
        return _finish(Strategy(table=table, record_count=count, use_truncate=use_truncate, buckets=buckets, manifest=manifest, evolve=evolve))

    raise StrategyParseError(
        f"Invalid format: '{part1}' is not a valid strategy (expected number or 'sql:...')"
    )


def _parse_sql(
    table: str,
    sql_part: str,
    count: int | None,
    use_truncate: bool,
    buckets: int | None = None,
    manifest: bool = False,
    evolve: bool = False,
) -> Strategy:
    sql = sql_part[4:].strip()
    if not sql:
        raise StrategyParseError("Invalid format: empty SQL statement")
    if "*" not in sql:
        raise StrategyParseError("SQL strategy must contain '*' for field replacement")
    return Strategy(
        table=table,
        type=StrategyType.SQL,
        record_count=count,
        sql_template=sql,
        use_truncate=use_truncate,
        buckets=buckets,
        manifest=manifest,
        evolve=evolve,
    )


def parse_strategy_overrides(text: str) -> dict[str, Strategy]:
    """Multi-line parse with line-numbered errors
    (ParseStrategyOverrides, CopyOrchestrator.cs:1660-1689)."""
    result: dict[str, Strategy] = {}
    if not text or not text.strip():
        return result
    for i, raw in enumerate(text.splitlines(), start=1):
        line = raw.strip()
        if not line:
            continue
        try:
            s = parse_strategy_line(line)
        except StrategyParseError as e:
            raise StrategyParseError(f"Line {i}: {e}\nLine text: {line}") from e
        result[s.table.upper()] = s
    return result


def get_strategy(
    table: str, overrides: dict[str, Strategy], default_count: int = 10_000
) -> Strategy:
    """Override lookup with RecId default (GetStrategy,
    CopyOrchestrator.cs:1803-1817)."""
    s = overrides.get(table.upper())
    if s is not None:
        return s
    return Strategy(table=table, record_count=default_count)


# ---------------------------------------------------------------------------
# compilation


def expand_sql_template(
    template: str,
    fields: list[str],
    record_count: int,
    watermark_predicate: str = "(1 = 1)",
    key: str = "RecId",
) -> str:
    """Macro expansion (GenerateFetchSql, CopyOrchestrator.cs:1923-1930;
    control variant Tier2DataService.cs:344-353): ``@recordCount`` ->
    constant, ``*`` -> field list, ``@sysRowVersionFilter`` -> pushdown
    predicate. T-SQL ``TOP (n)`` is rewritten to Spark-SQL ``LIMIT``."""
    field_list = ", ".join(f"`{f}`" for f in fields)
    sql = template.replace("@recordCount", str(record_count))
    sql = sql.replace("*", field_list)
    sql = re.sub(r"@sysRowVersionFilter", watermark_predicate, sql, flags=re.IGNORECASE)
    # T-SQL TOP(n) has no Spark equivalent in-place; hoist to LIMIT.
    m = re.search(r"\bTOP\s*\(\s*(\d+)\s*\)\s*", sql, flags=re.IGNORECASE)
    if m:
        sql = sql[: m.start()] + sql[m.end() :]
        sql = f"{sql.rstrip().rstrip(';')} LIMIT {m.group(1)}"
    return sql


class Fetcher:
    """The three physical specializations of one table's strategy
    (SURVEY §3 entry point 3): the reference expands ONE SQL template
    into a full fetch, a 2-column control fetch (star ->
    "RecId, SysRowVersion", Tier2DataService.cs:344-353), and a
    watermark-filtered incremental fetch (@sysRowVersionFilter -> the
    stored-threshold predicate, Tier2DataService.cs:393-411). RECID and
    SYSTEM strategies compile to declarative DataFrame ops directly.
    """

    def __init__(
        self,
        spark: SparkSession,
        source: DataFrame,
        strategy: Strategy,
        fields: list[str],
        key: str = "RecId",
        version: str = "SysRowVersion",
        default_count: int = 10_000,
    ) -> None:
        self.spark = spark
        self.source = source
        self.strategy = strategy
        self.fields = fields
        self.key = key
        self.version = version
        self.n = strategy.record_count or default_count

    # -- the three variants ---------------------------------------------------

    def full(self) -> DataFrame:
        """Full/truncate pass: @sysRowVersionFilter folds to (1 = 1)."""
        from d365fo_db_sync_spark.scans import top_n_by_key

        if self.strategy.type == StrategyType.SYSTEM:
            return self.source.select(*self.fields)
        if self.strategy.type == StrategyType.RECID:
            return top_n_by_key(self.source, self.key, self.n, fields=self.fields)
        return self._sql(self.fields, "(1 = 1)")

    def control(self) -> DataFrame:
        """Control pass: projection forced to (key, version) before the
        top-k — the 99%-transfer-cut column pruning."""
        from d365fo_db_sync_spark.scans import control_scan

        if self.strategy.type == StrategyType.SQL:
            return self._sql([self.key, self.version], "(1 = 1)")
        n = None if self.strategy.type == StrategyType.SYSTEM else self.n
        return control_scan(self.source, key=self.key, version=self.version, n=n)

    def incremental(self, version_threshold, min_key) -> DataFrame:
        """Incremental pass: the pushdown slot becomes the watermark
        predicate; RECID compiles to the same range filters natively."""
        from d365fo_db_sync_spark.scans import watermark_scan

        if self.strategy.type == StrategyType.SQL:
            ver_pred = f"`{self.version}` >= {int(version_threshold)}"
            if int(version_threshold) <= 0:
                # zero-floor late-data pass admits NULL versions too
                ver_pred = f"({ver_pred} OR `{self.version}` IS NULL)"
            pred = f"({ver_pred} AND `{self.key}` >= {int(min_key)})"
            return self._sql(self.fields, pred)
        return watermark_scan(
            self.source,
            version_threshold=version_threshold,
            min_key=min_key,
            key=self.key,
            version=self.version,
            fields=self.fields,
        )

    def _sql(self, fields: list[str], watermark_predicate: str) -> DataFrame:
        view = f"__strategy_src_{self.strategy.table.lower()}"
        self.source.createOrReplaceTempView(view)
        sql = expand_sql_template(
            self.strategy.sql_template,
            fields,
            self.n,
            watermark_predicate=watermark_predicate,
            key=self.key,
        )
        sql = re.sub(
            rf"\bFROM\s+\[?{re.escape(self.strategy.table)}\]?",
            f"FROM {view}",
            sql,
            flags=re.IGNORECASE,
        )
        return self.spark.sql(sql)
