"""Property-based tests for the delta classifier (SURVEY §5 upgrade:
the reference's scenario matrix as generated cases).

Hypothesis drives randomized source/target snapshot pairs through both
pairings of the CompareRecords rules — the full-outer
``delta.classify_changes`` and the sync engine's per-key groupBy (the
STANDARD path's classification) — and checks them row-by-row against a
direct Python re-statement of the reference's rules
(AxDbDataService.cs:765-867, 801-814) — including the NULL=NULL
datetime rule and the RECVERSION=1 / MaxRecId fallback."""

from __future__ import annotations

import datetime as dt
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from d365fo_db_sync_spark import delta
from d365fo_db_sync_spark.state import StateStore
from d365fo_db_sync_spark.sync import SyncConfig, SyncEngine

BASE_TS = dt.datetime(2024, 1, 1)

row_st = st.fixed_dictionaries(
    {
        "key": st.integers(min_value=1, max_value=40),
        "ver": st.one_of(st.just(1), st.none(), st.integers(min_value=-3, max_value=5)),
        "created": st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        "modified": st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
    }
)


def _mk_rows(rows):
    seen = {}
    for r in rows:
        seen[r["key"]] = (
            r["key"],
            r["ver"],
            None if r["created"] is None else BASE_TS + dt.timedelta(days=r["created"]),
            None if r["modified"] is None else BASE_TS + dt.timedelta(days=r["modified"]),
        )
    return list(seen.values())


def _expected(src, tgt, fallback: bool, max_key: int | None):
    out = {}
    s = {r[0]: r for r in src}
    t = {r[0]: r for r in tgt}
    for k in s.keys() | t.keys():
        if k not in t:
            out[k] = "new"
        elif k not in s:
            out[k] = "deleted"
        else:
            sv, tv = s[k][1], t[k][1]
            if fallback:
                if sv == 1:
                    # undecidable by version: unchanged only if target
                    # also =1 AND key was already transferred
                    out[k] = (
                        "unchanged"
                        if tv == 1 and max_key is not None and k <= max_key
                        else "modified"
                    )
                else:
                    out[k] = "unchanged" if sv == tv else "modified"
            else:
                same = (
                    s[k][1] == t[k][1]
                    and s[k][2] == t[k][2]  # None == None is True in Python
                    and s[k][3] == t[k][3]
                )
                out[k] = "unchanged" if same else "modified"
    return out


def _full_outer(spark, src, tgt, context, max_key):
    return delta.classify_changes(
        src, tgt, key="RecId", context=context, max_transferred_key=max_key
    )


def _per_key(spark, src, tgt, context, max_key):
    # the engine derives the context from the columns; the frames here
    # carry exactly the columns of the context under test
    derived = delta.ComparisonContext.from_columns(src.columns, tgt.columns)
    assert context in (None, derived)
    engine = SyncEngine(
        spark, StateStore(tempfile.mktemp(suffix=".json")), SyncConfig(version="RECVERSION")
    )
    return engine._classify_by_key(src, tgt, max_key)


#: both pairings of the one set of CompareRecords rules (delta.change_type)
PAIRINGS = pytest.mark.parametrize(
    "classify", [_full_outer, _per_key], ids=["full_outer", "per_key"]
)


SCHEMA_FULL = (
    "RecId long, RECVERSION int, CREATEDDATETIME timestamp_ntz, "
    "MODIFIEDDATETIME timestamp_ntz"
)


@PAIRINGS
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    src=st.lists(row_st, max_size=25),
    tgt=st.lists(row_st, max_size=25),
)
def test_classify_matches_reference_rules_full_context(spark, classify, src, tgt):
    s_rows, t_rows = _mk_rows(src), _mk_rows(tgt)
    sdf = spark.createDataFrame(s_rows, SCHEMA_FULL)
    tdf = spark.createDataFrame(t_rows, SCHEMA_FULL)
    got = {
        r["RecId"]: r["change_type"]
        for r in classify(spark, sdf, tdf, None, None).select("RecId", "change_type").collect()
    }
    assert got == _expected(s_rows, t_rows, fallback=False, max_key=None)


@PAIRINGS
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    src=st.lists(row_st, max_size=25),
    tgt=st.lists(row_st, max_size=25),
    max_key=st.one_of(st.none(), st.integers(min_value=0, max_value=40)),
)
def test_classify_matches_reference_rules_fallback(spark, classify, src, tgt, max_key):
    s_rows = [(k, v) for k, v, _, _ in _mk_rows(src)]
    t_rows = [(k, v) for k, v, _, _ in _mk_rows(tgt)]
    sdf = spark.createDataFrame(s_rows, "RecId long, RECVERSION int")
    tdf = spark.createDataFrame(t_rows, "RecId long, RECVERSION int")
    ctx = delta.ComparisonContext(has_recversion=True, has_created=False, has_modified=False)
    got = {
        r["RecId"]: r["change_type"]
        for r in classify(spark, sdf, tdf, ctx, max_key).select("RecId", "change_type").collect()
    }
    exp = _expected(
        [(k, v, None, None) for k, v in s_rows],
        [(k, v, None, None) for k, v in t_rows],
        fallback=True,
        max_key=max_key,
    )
    assert got == exp
