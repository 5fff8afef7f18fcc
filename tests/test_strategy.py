"""Strategy DSL grammar cases (TESTING_GUIDE.md:21-67 scenario 1;
DBSyncTool_Optimization_Spec.md:1610-1620 matrix)."""

from __future__ import annotations

import pytest

from d365fo_db_sync_spark.strategy import (
    Strategy,
    StrategyParseError,
    StrategyType,
    expand_sql_template,
    get_strategy,
    parse_strategy_line,
    parse_strategy_overrides,
    try_parse_record_count,
)


def test_table_only_default():
    s = parse_strategy_line("CUSTTABLE")
    assert s.table == "CUSTTABLE"
    assert s.type == StrategyType.RECID
    assert s.record_count is None
    assert not s.use_truncate


def test_table_with_count():
    s = parse_strategy_line("SALESTABLE|5000")
    assert s.record_count == 5000


@pytest.mark.parametrize(
    ("text", "expected"),
    [("10m", 10_000_000), ("2M", 2_000_000), ("500", 500), ("abc", None), ("1.5m", None)],
)
def test_m_suffix(text, expected):
    assert try_parse_record_count(text) == expected


def test_truncate_flag():
    s = parse_strategy_line("INVENTTRANS|10m -truncate")
    assert s.use_truncate
    assert s.record_count == 10_000_000


def test_sql_strategy():
    s = parse_strategy_line(
        "SALESLINE|sql:SELECT TOP (@recordCount) * FROM SALESLINE WHERE DATAAREAID='usmf'"
    )
    assert s.type == StrategyType.SQL
    assert "@recordCount" in s.sql_template


def test_sql_with_count():
    s = parse_strategy_line("T|50000|sql:SELECT * FROM T")
    assert s.type == StrategyType.SQL
    assert s.record_count == 50000


def test_sql_requires_star():
    with pytest.raises(StrategyParseError, match="must contain"):
        parse_strategy_line("T|sql:SELECT a, b FROM T")


def test_zero_count_rejected():
    with pytest.raises(StrategyParseError, match="positive"):
        parse_strategy_line("T|0")


def test_garbage_after_count_rejected():
    with pytest.raises(StrategyParseError, match="unexpected"):
        parse_strategy_line("T|100|nonsense")


def test_multiline_with_line_numbers():
    with pytest.raises(StrategyParseError, match="Line 2"):
        parse_strategy_overrides("GOOD|10\nBAD|x|y\n")


def test_override_lookup_case_insensitive():
    overrides = parse_strategy_overrides("CustTable|123")
    assert get_strategy("CUSTTABLE", overrides).record_count == 123
    assert get_strategy("OTHER", overrides, default_count=77).record_count == 77


def test_expand_sql_template():
    sql = expand_sql_template(
        "SELECT TOP (@recordCount) * FROM T WHERE x=1 AND @sysRowVersionFilter ORDER BY RecId DESC",
        fields=["RecId", "NAME"],
        record_count=500,
        watermark_predicate="(SysRowVersion >= 42)",
    )
    assert "@recordCount" not in sql and "@sysRowVersionFilter" not in sql.lower()
    assert "`RecId`, `NAME`" in sql
    assert "(SysRowVersion >= 42)" in sql
    assert sql.rstrip().endswith("LIMIT 500")


def test_compile_fetch_sql_runs(spark):
    from d365fo_db_sync_spark.strategy import Fetcher

    src = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(20)], "RecId long, NAME string, GRP int"
    )
    s = Strategy(
        table="T",
        type=StrategyType.SQL,
        sql_template="SELECT TOP (@recordCount) * FROM T WHERE GRP = 1 AND @sysRowVersionFilter ORDER BY RecId DESC",
    )
    out = Fetcher(spark, src, s, fields=["RecId", "NAME"], default_count=3).full()
    rows = out.collect()
    assert len(rows) == 3
    assert [r["RecId"] for r in rows] == [19, 16, 13]


def test_parse_buckets_flag():
    from d365fo_db_sync_spark.strategy import parse_strategy_line

    s = parse_strategy_line("CUSTTABLE|5000 -buckets 64")
    assert (s.record_count, s.buckets, s.use_truncate) == (5000, 64, False)
    # flags compose in either order
    s2 = parse_strategy_line("CUSTTABLE -buckets 32 -truncate")
    assert (s2.buckets, s2.use_truncate) == (32, True)
    s3 = parse_strategy_line("CUSTTABLE -truncate -buckets 32")
    assert (s3.buckets, s3.use_truncate) == (32, True)
    s4 = parse_strategy_line("T|sql:SELECT * FROM T -buckets 8")
    assert s4.buckets == 8 and s4.sql_template
    import pytest as _pytest

    from d365fo_db_sync_spark.strategy import StrategyParseError

    with _pytest.raises(StrategyParseError):
        parse_strategy_line("T -buckets 0")


def test_parse_manifest_flag():
    import pytest as _pytest

    from d365fo_db_sync_spark.strategy import StrategyParseError, parse_strategy_line

    s = parse_strategy_line("CUSTTABLE|5000 -buckets 64 -manifest")
    assert (s.buckets, s.manifest) == (64, True)
    # flag order free; composes with -truncate
    s2 = parse_strategy_line("CUSTTABLE -manifest -buckets 8 -truncate")
    assert (s2.buckets, s2.manifest, s2.use_truncate) == (8, True, True)
    s3 = parse_strategy_line("T|sql:SELECT * FROM T -manifest -buckets 4")
    assert s3.manifest and s3.buckets == 4 and s3.sql_template
    # -manifest without -buckets is a hard parse error
    with _pytest.raises(StrategyParseError, match="-manifest requires -buckets"):
        parse_strategy_line("T -manifest")
    # plain -buckets stays non-manifest
    assert parse_strategy_line("T -buckets 4").manifest is False


def test_retain_and_statscols_flags():
    from d365fo_db_sync_spark.strategy import parse_strategy_line

    st = parse_strategy_line(
        "CUSTTABLE|10m -buckets 32 -manifest -retain 3 -statscols SysRowVersion,ts"
    )
    assert st.buckets == 32 and st.manifest
    assert st.retain == 3
    assert st.stats_cols == ("SysRowVersion", "ts")
    # order-independent with other flags
    st2 = parse_strategy_line(
        "T|sql:select * from T -statscols v -retain 2 -manifest -buckets 8"
    )
    assert st2.retain == 2 and st2.stats_cols == ("v",) and st2.sql_template


def test_retain_statscols_require_manifest():
    import pytest as _p

    from d365fo_db_sync_spark.strategy import (
        StrategyParseError,
        parse_strategy_line,
    )

    with _p.raises(StrategyParseError, match="require -manifest"):
        parse_strategy_line("T|100 -buckets 8 -retain 2")
    with _p.raises(StrategyParseError, match="require -manifest"):
        parse_strategy_line("T|100 -statscols v")
    with _p.raises(StrategyParseError, match="-retain"):
        parse_strategy_line("T|100 -buckets 8 -manifest -retain 0")


def test_bloomcols_flag_parses_and_guards():
    import pytest

    from d365fo_db_sync_spark.strategy import StrategyParseError, parse_strategy_line

    st = parse_strategy_line(
        "CUSTTABLE|500000 -buckets 8 -manifest -statscols rv -bloomcols user_id,req"
    )
    assert st.bloom_cols == ("user_id", "req")
    assert st.stats_cols == ("rv",)
    assert st.record_count == 500000
    with pytest.raises(StrategyParseError, match="-bloomcols require -manifest"):
        parse_strategy_line("T|1 -buckets 4 -bloomcols a")
    with pytest.raises(StrategyParseError):
        parse_strategy_line("T|1 -buckets 4 -manifest -bloomcols ,")
