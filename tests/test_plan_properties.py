"""Plan-property regression tests: the physical plans the 100 TB design
depends on, pinned (see SCALE.md audit). A change that silently turns
the top-k into a global sort or un-pushes a scan predicate fails here,
not in production."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from d365fo_db_sync_spark import scans
from d365fo_db_sync_spark.plans.audit import (
    physical_operators,
    pushed_filters,
    read_schema,
    uses,
)
from d365fo_db_sync_spark.sources import load_table

#: driver-window tier: value-equality / contract tests (pytest -m fast)
pytestmark = pytest.mark.fast

SF = "/root/testdata/sf0.001"


def test_topn_is_distributed_topk_with_pruned_scan(spark):
    orders = load_table(spark, SF, "orders")
    df = scans.top_n_by_key(orders, "o_orderkey", 100, fields=["o_orderkey", "o_totalprice"])
    assert uses(df, "TakeOrderedAndProject"), physical_operators(df)
    assert not uses(df, "Sort"), "top-k must not global-sort"
    assert set(read_schema(df)) == {"o_orderkey", "o_totalprice"}


def test_watermark_predicates_reach_scan(spark):
    """events.ts is a native parquet timestamp[us], so the semantic
    ``ts >=`` watermark pushes straight to the reader — no conversion
    layer, no redundant raw-value predicate needed."""
    events = load_table(spark, SF, "events")
    df = scans.watermark_scan(
        events, version_threshold="2024-01-20 00:00:00", min_key=500,
        key="event_id", version="ts",
    )
    pushed = pushed_filters(df)
    assert any("GreaterThanOrEqual(ts," in p for p in pushed), pushed
    assert any("GreaterThanOrEqual(event_id,500" in p for p in pushed), pushed


def test_small_dim_join_broadcasts(spark):
    nation = load_table(spark, SF, "nation")
    customer = load_table(spark, SF, "customer")
    df = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    assert uses(df, "BroadcastHashJoin"), physical_operators(df)


def test_full_outer_classify_is_sort_merge(spark):
    from d365fo_db_sync_spark import delta

    orders = load_table(spark, SF, "orders")
    k = F.col("o_orderkey")
    src = orders.select(k.alias("RecId"), F.pmod(k, 100).cast("int").alias("RECVERSION"))
    tgt = orders.select(k.alias("RecId"), F.pmod(k, 100).cast("int").alias("RECVERSION"))
    ctx = delta.ComparisonContext(has_recversion=True, has_created=False, has_modified=False)
    df = delta.classify_changes(src, tgt, key="RecId", context=ctx, max_transferred_key=0)
    assert uses(df, "SortMergeJoin"), physical_operators(df)


def test_control_scan_prunes_to_two_columns(spark):
    orders = load_table(spark, SF, "orders")
    df = scans.control_scan(orders, key="o_orderkey", version="o_orderdate", n=100)
    assert set(read_schema(df)) == {"o_orderkey", "o_orderdate"}


def test_bruteforce_cosine_broadcasts_queries_not_corpus(spark):
    """The exact top-k path must broadcast the QUERY side and stream the
    corpus — broadcasting the corpus OOMs every executor at 100 TB
    (VERDICT r1). Pins the BroadcastNestedLoopJoin build side to the
    frame carrying q_vec."""
    import re

    from d365fo_db_sync_spark.operators.similarity import cosine_topk_bruteforce
    from d365fo_db_sync_spark.plans.audit import explain_formatted

    emb = load_table(spark, SF, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = cosine_topk_bruteforce(corpus, queries, k=5)
    plan = explain_formatted(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the BroadcastExchange section's Input must carry the query columns
    # (q_vec/q_norm), never the corpus norm
    m = re.search(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m, plan
    broadcast_cols = m.group(1)
    assert "q_vec" in broadcast_cols and "q_norm" in broadcast_cols, broadcast_cols
    assert "c_norm" not in broadcast_cols, broadcast_cols


def test_bucketed_join_is_shuffle_free(spark):
    """Two tables bucketed identically on the join key must join with no
    Exchange on either side — the write-once/join-many co-location that
    replaces per-cycle shuffles at scale."""
    from d365fo_db_sync_spark.sinks import write_bucketed

    spark.sql("DROP TABLE IF EXISTS _bk_src")
    spark.sql("DROP TABLE IF EXISTS _bk_tgt")
    df = spark.range(0, 10_000).withColumnRenamed("id", "RecId")
    write_bucketed(df, "_bk_src", "RecId", num_buckets=8)
    write_bucketed(df.withColumn("RecId", F.col("RecId") + 5_000), "_bk_tgt", "RecId", 8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the merge-join path: broadcast would bypass bucketing
        # (and its BroadcastExchange is not the shuffle being tested)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("_bk_src").join(spark.table("_bk_tgt"), on="RecId")
        ops = physical_operators(joined)
        assert not any("Exchange" in o for o in ops), ops
        assert joined.count() == 5_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS _bk_src")
        spark.sql("DROP TABLE IF EXISTS _bk_tgt")


def test_interval_join_is_equi_join_not_nested_loop(spark):
    from d365fo_db_sync_spark.operators.rangejoin import interval_join

    events = load_table(spark, SF, "events")
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("wid"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.make_interval(hours=F.lit(2))).alias("w_end"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), F.col("ts").alias("ets")
    )
    df = interval_join(errors, signups, "ets", "w_start", "w_end")
    ops = physical_operators(df)
    assert not uses(df, "BroadcastNestedLoopJoin"), ops
    assert not uses(df, "CartesianProduct"), ops
    assert uses(df, "HashJoin") or uses(df, "SortMergeJoin"), ops


def test_fused_sync_metrics_no_join_single_exchange(spark):
    """The optimized sync path's metric pass must stay ONE fused pass —
    zero joins (the tagged-union rewrite replaced the full-outer SMJ)
    and exactly one hash-partition exchange on the key plus the final
    singleton: this plan IS the no-change fast path's entire cost, so a
    regression to join-or-per-metric passes shows up directly in the
    reference's headline no-op number."""
    from d365fo_db_sync_spark.state import TableState
    from d365fo_db_sync_spark.sync import SyncEngine, SyncConfig
    from d365fo_db_sync_spark.state import StateStore
    import tempfile

    orders = load_table(spark, SF, "orders")
    k = F.col("o_orderkey")
    src = orders.select(k.alias("RecId"), (k * 2).alias("SysRowVersion"))
    engine = SyncEngine(
        spark, StateStore(tempfile.mktemp(suffix=".json")), SyncConfig()
    )
    metrics = engine._premerge_metrics(
        src.select("RecId", "SysRowVersion"),
        src.select("RecId", "SysRowVersion"),
        TableState(src_ts=10**12, tgt_ts=10**12),  # nothing above watermark
    )
    ops = physical_operators(metrics)
    joins = [o for o in ops if "Join" in o]
    assert not joins, ops  # tagged union + groupBy, never a join
    assert ops.count("Exchange") <= 2, ops  # key shuffle + final singleton
    row = metrics.first()
    assert row["control_rows"] == row["tgt_total"] == row["survivors"]
    assert row["missing"] == 0


def test_standard_pairing_no_join_single_exchange(spark):
    """The state-loss (STANDARD) compare pairs the fetched window with
    the whole target through the same tagged-union groupBy as the
    INCREMENTAL pass, carrying every column CompareRecords compares: no
    join (the full-outer classify it replaced was a sort-merge join with
    two exchanges and two sorts), and at most the key shuffle plus the
    final singleton gather."""
    from d365fo_db_sync_spark.state import StateStore
    from d365fo_db_sync_spark.sync import SyncEngine, SyncConfig
    import tempfile

    orders = load_table(spark, SF, "orders")
    k = F.col("o_orderkey")
    src = orders.select(
        k.alias("RecId"),
        (k * 2).alias("SysRowVersion"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("MODIFIEDDATETIME"),
    )
    engine = SyncEngine(
        spark, StateStore(tempfile.mktemp(suffix=".json")), SyncConfig()
    )
    classified = engine._classify_by_key(src, src.filter(k > 10), max_transferred_key=None)
    kind = F.col("change_type")
    counts = classified.agg(
        *[F.count(F.when(kind == t, 1)).alias(t) for t in ("new", "modified", "deleted")]
    )
    ops = physical_operators(counts)
    assert not [o for o in ops if "Join" in o], ops
    assert ops.count("Exchange") <= 2, ops  # key shuffle + final singleton
    row = counts.first()
    assert row["new"] == src.filter(k <= 10).count()
    assert row["modified"] == row["deleted"] == 0


def test_noop_fastpath_probe_zero_shuffle(spark):
    """The R6 no-change probe must be map-only: no joins, and no
    Exchange other than the final singleton gather. This plan is the
    ENTIRE per-cycle cost of a no-change resync — the reference's 15x
    headline (TESTING_GUIDE.md:331-333) — so any shuffle creeping in
    here is a direct scale regression."""
    from d365fo_db_sync_spark.state import TableState, StateStore
    from d365fo_db_sync_spark.sync import SyncEngine, SyncConfig
    import tempfile

    orders = load_table(spark, SF, "orders")
    k = F.col("o_orderkey")
    src = orders.select(k.alias("RecId"), (k * 2).alias("SysRowVersion"))
    engine = SyncEngine(
        spark, StateStore(tempfile.mktemp(suffix=".json")), SyncConfig()
    )
    state = TableState(src_ts=10**12, tgt_ts=10**12)
    ops = physical_operators(engine._fastpath_metrics(src, src, state))
    assert not [o for o in ops if "Join" in o], ops
    assert ops.count("Exchange") <= 1, ops  # only the final singleton
    row = engine._probe(src, src, state)
    assert row["control_rows"] == row["tgt_total"]
    assert row["src_changed"] == 0 and row["tgt_changed"] == 0
    assert row["c_sum1"] == row["t_sum1"] and row["c_sum2"] == row["t_sum2"]
    # the source half alone (the probe of a witnessed target version)
    ops = physical_operators(engine._fastpath_metrics(src, None, state))
    assert not [o for o in ops if "Join" in o], ops
    assert ops.count("Exchange") <= 1, ops
    half = engine._probe(src, None, state)
    assert "tgt_total" not in half
    assert (half["control_rows"], half["c_sum1"], half["c_sum2"]) == (
        row["control_rows"], row["c_sum1"], row["c_sum2"]
    )


def test_noop_fastpath_checksum_catches_swapped_keys(spark):
    """Equal counts + equal changed-counts but DIFFERENT key sets must
    NOT look like a no-op: the checksum witness is what replaces the
    per-key missing==0 check, so pin that it actually discriminates."""
    from d365fo_db_sync_spark.state import TableState, StateStore
    from d365fo_db_sync_spark.sync import SyncEngine, SyncConfig
    import tempfile

    a = spark.range(0, 1000).select(
        F.col("id").alias("RecId"), F.lit(1).cast("long").alias("SysRowVersion")
    )
    b = spark.range(500, 1500).select(  # same count, shifted key set
        F.col("id").alias("RecId"), F.lit(1).cast("long").alias("SysRowVersion")
    )
    engine = SyncEngine(
        spark, StateStore(tempfile.mktemp(suffix=".json")), SyncConfig()
    )
    row = engine._probe(a, b, TableState(src_ts=10**12, tgt_ts=10**12))
    assert row["control_rows"] == row["tgt_total"]
    assert row["c_sum1"] != row["t_sum1"]
    assert row["c_sum2"] != row["t_sum2"]


def test_shingle_sets_single_exchange(spark):
    """The shingle pipeline (tokenize -> posexplode -> lead window ->
    collect_set) must shuffle exactly ONCE, on the document id: the
    set-building groupBy reuses the window's partitioning. A second
    Exchange means dropDuplicates/regrouping crept back in — at 100 TB
    that is a full extra shuffle of the widest intermediate."""
    from d365fo_db_sync_spark.operators.dedup import shingle_sets
    from d365fo_db_sync_spark.plans.audit import physical_operators

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ops = physical_operators(shingle_sets(docs, "doc_id", "text"))
    assert ops.count("Exchange") == 1, ops


def test_minhash_signatures_single_exchange(spark):
    """Same property for the MinHash signature build: min() is
    duplicate-insensitive, so no distinct pass may appear between the
    shingle window and the 64-min aggregation."""
    from d365fo_db_sync_spark.operators.dedup import minhash_signatures
    from d365fo_db_sync_spark.plans.audit import physical_operators

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ops = physical_operators(minhash_signatures(docs, "doc_id", "text"))
    assert ops.count("Exchange") == 1, ops


def test_quantized_topk_broadcasts_queries_not_corpus(spark):
    """The int8 path must keep the exact path's broadcast discipline:
    query vectors broadcast, quantized corpus streams."""
    import re

    from d365fo_db_sync_spark.operators.similarity import (
        quantize_embeddings,
        quantized_cosine_topk,
    )
    from d365fo_db_sync_spark.plans.audit import explain_formatted

    emb = load_table(spark, SF, "embeddings")
    qz = quantize_embeddings(emb)
    queries = qz.filter(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("query_id"), "qvec"
    )
    plan = explain_formatted(quantized_cosine_topk(qz, queries, k=5))
    assert "BroadcastNestedLoopJoin" in plan, plan
    m = re.search(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m, plan
    assert "q_q" in m.group(1) and "c_q" not in m.group(1), m.group(1)


def test_bucketed_merge_survivor_scan_partition_prunes(spark, tmp_path):
    """Inside BucketedParquetTarget.merge the survivor read must prune
    to the affected buckets at the partition level — a post-scan filter
    would read every bucket's files."""
    from d365fo_db_sync_spark.plans.audit import explain_formatted
    from d365fo_db_sync_spark.sinks import BucketedParquetTarget

    tgt = BucketedParquetTarget(str(tmp_path / "t"), key="id", n_buckets=8)
    tgt.overwrite(spark.range(1000).withColumnRenamed("id", "id").selectExpr("id", "id * 2 AS v"))
    live = spark.read.parquet(tgt.current_path())
    pruned = live.filter(F.col(tgt.BUCKET_COL).isin([0, 3]))
    plan = explain_formatted(pruned)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "__kb" in seg, seg


def test_decontam_broadcasts_bench_side(spark):
    """benchmark_overlap must broadcast the BENCHMARK shingles and
    stream the corpus — re-partitioning the corpus by shingle would
    shuffle every n-gram of a 100 TB corpus."""
    from d365fo_db_sync_spark.operators.decontam import benchmark_overlap
    from d365fo_db_sync_spark.plans.audit import explain_formatted

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    df = benchmark_overlap(docs, bench)
    plan = explain_formatted(df)
    assert "BroadcastHashJoin" in plan, plan
    # no SortMergeJoin on the shingle: the corpus side must never be
    # exchange-partitioned by g
    assert "SortMergeJoin" not in plan, plan


def test_index_probe_is_partition_pruned(spark, tmp_path):
    """BucketedParquetTarget.probe must prune to the probed buckets at
    the partition level — a full index scan defeats incremental
    ingestion at scale."""
    from d365fo_db_sync_spark.plans.audit import explain_formatted
    from d365fo_db_sync_spark.sinks import BucketedParquetTarget

    idx = BucketedParquetTarget(str(tmp_path / "idx"), key="fp", n_buckets=16)
    base = spark.createDataFrame(
        [(i, f"fp{i}") for i in range(200)], "doc_id long, fp string"
    )
    idx.overwrite(base)
    keys = spark.createDataFrame([("fp7",), ("fp8",)], "fp string")
    plan = explain_formatted(idx.probe(spark, keys))
    assert "PartitionFilters" in plan and "__kb" in plan, plan


def test_cluster_safe_split_labels_corpus_by_broadcast(spark):
    """The split must never shuffle the corpus: the component map and
    the split predicate attach via BroadcastHashJoin + codegen — the
    only exchanges in the plan belong to the component computation on
    the (tiny) pair set, not to the docs frame."""
    from d365fo_db_sync_spark.operators.sampling import cluster_safe_split

    docs = load_table(spark, SF, "documents")
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3)], "id_a long, id_b long"
    )
    df = cluster_safe_split(docs, pairs, {"train": 0.9, "eval": 0.1})
    assert uses(df, "BroadcastHashJoin"), physical_operators(df)
    assert not uses(df, "SortMergeJoin"), physical_operators(df)


def test_ordered_budget_head_has_no_global_window(spark):
    """The running total must stay banded: every Window in the plan is
    keyed (stage 1 by _band, stage 2 by the constant pmod key) — a
    refactor that reintroduces the naive global cumsum would plan an
    unpartitioned Window over the corpus and single-thread it."""
    from d365fo_db_sync_spark.operators.sampling import ordered_budget_head

    docs = load_table(spark, SF, "documents")
    from d365fo_db_sync_spark.operators import text

    score = (text.stopword_count("text") * F.lit(1000)).cast("long")
    df = ordered_budget_head(
        docs,
        order_key=-score,
        band=F.least(F.lit(255), score / F.lit(1000)).cast("long"),
        token_count=F.size(text.tokens("text")),
        budget=10_000,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an unpartitioned window plans `Exchange SinglePartition` over its
    # whole input (verified rendering on this Spark version); both
    # stages here key their windows (_band / the pmod constant), so the
    # plan must carry NO SinglePartition exchange at all
    assert "Exchange SinglePartition" not in plan, plan
    assert uses(df, "Window"), physical_operators(df)


def test_heavy_hitters_broadcasts_candidates(spark):
    """heavy_hitters_exact's verify pass must BROADCAST the candidate
    set into a left-semi join (map-side drop of non-candidates before
    the partial agg) — a sort-merge join on token would shuffle the
    whole token stream, the exact cost the two-scan plan exists to
    avoid."""
    from d365fo_db_sync_spark.operators.text import heavy_hitters_exact
    from d365fo_db_sync_spark.plans.audit import explain_formatted

    docs = load_table(spark, SF, "documents")
    plan = explain_formatted(heavy_hitters_exact(docs, "text", k=60))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zscore_outliers_one_exchange_plus_broadcast(spark):
    """The power-sum stats frame must come back as a BROADCAST build
    side, and the whole flag pipeline may carry exactly one hash
    exchange (the stats groupBy) — a shuffled stats join would
    re-shuffle the fact table at scale."""
    from d365fo_db_sync_spark.operators.stats import zscore_outliers

    ev = load_table(spark, SF, "events").select("event_type", "value")
    df = zscore_outliers(ev, ["event_type"], "value", k=3, value_scale=2)
    ops = physical_operators(df)
    assert uses(df, "BroadcastHashJoin"), ops
    assert ops.count("Exchange") == 1, ops


def test_prototype_confusion_broadcasts_centroids(spark):
    """The (label, dim) centroid frame broadcasts onto the posexploded
    corpus — the corpus itself must never shuffle for the join."""
    from d365fo_db_sync_spark.operators.similarity import prototype_confusion

    emb = load_table(spark, SF, "embeddings")
    df = prototype_confusion(emb)
    assert uses(df, "BroadcastHashJoin"), physical_operators(df)


def test_tfidf_keywords_no_corpus_join(spark):
    """The 1-row N frame rides a broadcast nested-loop join; the token
    df comes from a count window, not a join — so the plan has no
    shuffled join at all."""
    from d365fo_db_sync_spark.operators.text_rank import tfidf_keywords

    docs = load_table(spark, SF, "documents")
    df = tfidf_keywords(docs, k=3)
    ops = physical_operators(df)
    assert "BroadcastNestedLoopJoin" in ops or "BroadcastExchange" in ops, ops
    assert "SortMergeJoin" not in ops and "ShuffledHashJoin" not in ops, ops


def test_sliding_reach_clips_days_by_broadcast(spark):
    """The 7-day sliding-distinct plan: the bounded interval explode
    joins the observed-day spine by BROADCAST (|days| rows), and the
    distinct aggregate keeps a partial (map-side) pass."""
    from d365fo_db_sync_spark.suite.tail_q import events_sliding_reach

    df = events_sliding_reach(spark, SF)
    assert uses(df, "BroadcastHashJoin"), physical_operators(df)
    assert not uses(df, "SortMergeJoin"), physical_operators(df)


def test_attribution_single_window_sort(spark):
    """Last-touch attribution carries the prior touch in ONE window
    over (user, ts) — exactly one Window operator, no self-join of the
    events table."""
    from d365fo_db_sync_spark.suite.tail_q import (
        events_attribution_last_touch,
    )

    df = events_attribution_last_touch(spark, SF)
    ops = physical_operators(df)
    assert ops.count("Window") == 1, ops
    assert not uses(df, "SortMergeJoin"), ops
    assert not uses(df, "BroadcastNestedLoopJoin"), ops


def test_phrase_search_never_self_joins_postings(spark):
    """Phrase search joins postings against the broadcast phrase table
    ONCE — no posting-list self-join (the quadratic stopword trap)."""
    from d365fo_db_sync_spark.operators.text_search import phrase_search

    docs = load_table(spark, SF, "documents")
    df = phrase_search(docs, ["fast key scan", "table table"])
    ops = physical_operators(df)
    assert ops.count("BroadcastHashJoin") == 1, ops
    assert not uses(df, "SortMergeJoin"), ops


def test_grouping_sets_single_expand_single_exchange(spark):
    """An explicit GROUPING SETS list compiles to ONE corpus scan +
    Expand + a single hash aggregate pair around one exchange — not
    three unioned GROUP BYs re-reading the corpus."""
    from d365fo_db_sync_spark.suite.tail_q import events_grouping_sets

    df = events_grouping_sets(spark, SF)
    ops = physical_operators(df)
    assert ops.count("Expand") == 1, ops
    assert ops.count("Exchange") == 1, ops
    assert ops.count("Scan parquet") == 1 or ops.count("FileScan") == 1, ops
