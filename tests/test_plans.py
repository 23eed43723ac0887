"""Physical-plan regression tests: the scale-critical plan properties —
pushdown, pruning, broadcast, partial aggregation — asserted on explain
output so refactors can't silently regress them (SURVEY §4: these are the
optimizations the reference hand-codes and we delegate to Catalyst)."""

from __future__ import annotations

import contextlib
import io

import pytest

from learn_hbase_spark import queries as Q

SF = "/root/testdata/sf0.01"


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs():
    return Q.queries()


def test_filter_scan_pushes_predicates(spark, qs):
    plan = _plan(qs["filter_scan"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_returnflag)" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(l_shipdate," in plan
    # column pruning: only the 6 needed columns reach the scan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read and "l_tax" not in read


def test_prefix_scan_pushes_startswith(spark, qs):
    plan = _plan(qs["prefix_scan"](spark, SF))
    assert "StringStartsWith(p_type,PROMO)" in plan


def test_lookup_join_broadcasts_dim(spark, qs):
    plan = _plan(qs["lookup_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_uses_partial_aggregation(spark, qs):
    """Sum/count run map-side (partial) before the exchange — the shuffle
    carries one row per group per task, not the raw rows."""
    plan = _plan(qs["agg_pricing_summary"](spark, SF), "simple")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_dedup_exact_shuffles_digest_not_body(spark, qs):
    """The exchange for exact dedup must not carry the document text."""
    plan = _plan(qs["dedup_exact"](spark, SF), "formatted")
    exchange_sections = [
        s for s in plan.split("\n\n") if "Exchange" in s and "hashpartitioning" in s
    ]
    assert exchange_sections, "expected a hash exchange in the plan"
    assert all("text" not in s for s in exchange_sections), exchange_sections


def test_range_join_is_hash_join_not_nested_loop(spark, qs):
    """The interval join must go through the bucket equi-key — a hash (or
    sort-merge) join with the range predicate as residual — never a
    BroadcastNestedLoopJoin / CartesianProduct over the theta condition."""
    plan = _plan(qs["range_join_events"](spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, qs):
    """The corpus side must not shuffle: the benchmark gram set is the
    broadcast build side of a semi join."""
    plan = _plan(qs["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_column_profile_is_single_aggregate(spark, qs):
    """One scan, one aggregation — not one job per profiled column."""
    plan = _plan(qs["column_profile"](spark, SF), "simple")
    assert plan.count("Scan parquet") == 1


def test_curation_pipeline_final_shuffle_is_body_free(spark, qs):
    """The packing window's exchange must carry only (doc_id, pack_group,
    token count) — never the document text."""
    plan = _plan(qs["curation_pipeline"](spark, SF), "formatted")
    exchanges = [
        s for s in plan.split("\n\n")
        if s.startswith("(") and "Exchange" in s.splitlines()[0]
    ]
    final = [s for s in exchanges if "pack_group" in s]
    assert final, "expected the packing exchange in the plan"
    assert all("text" not in s for s in final), final


def test_sql_passthrough_pushes_filters_to_scans(spark, qs):
    """Raw SQL through spark.sql must still get Catalyst pushdown: the date
    range reaches the orders scan, the region literal reaches region."""
    plan = _plan(qs["sql_passthrough_q5"](spark, SF))
    assert "GreaterThanOrEqual(o_orderdate," in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_scalar_subquery_q17_broadcasts_both_joins(spark, qs):
    """The brand-part dim and the per-part threshold aggregate are both
    tiny — each join must broadcast; the fact never shuffles on partkey."""
    plan = _plan(qs["scalar_subquery_q17"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "EqualTo(p_brand,Brand#23)" in plan  # brand filter reaches the scan


def test_exists_agg_plans_semi_join_with_pushed_dates(spark, qs):
    """EXISTS shape: a left-semi join, with the date range pushed to the
    orders scan so the probe side is pruned before any shuffle."""
    plan = _plan(qs["exists_agg"](spark, SF))
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan


def test_window_ranks_single_window_operator(spark, qs):
    """All five rank functions share one partition/order spec → exactly one
    Window physical operator and one exchange on o_custkey."""
    plan = _plan(qs["window_ranks"](spark, SF), "simple")
    assert plan.count("Window") == 1


def test_disjunctive_pushdown_reaches_both_scans(spark, qs):
    """Q19 shape: the OR-of-ANDs must be split into single-side
    disjunctions and pushed below the join to BOTH parquet scans."""
    plan = _plan(qs["disjunctive_pushdown"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity,1.0" in ln and "Or(" in ln for ln in pushed)
    assert any("p_brand,Brand#12" in ln and "Or(" in ln for ln in pushed)


def test_widetable_scan_prunes_partitions(spark, tmp_path):
    """A prefix-bounded scan reads only the matching prefix partitions."""
    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(spark, str(tmp_path / "wt"), ["info"])
    rows = [(f"{p:04d}_{i:03d}", "info", "q", "v") for p in (1, 2, 3) for i in range(5)]
    t.put(spark.createDataFrame(
        rows, "rowkey string, family string, qualifier string, value string"
    ))
    plan = _plan(t.scan(start="0002", stop="0003"), "formatted")
    # partition filters present on the prefix column
    assert "prefix" in plan and "PartitionFilters" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "isnotnull(prefix" in pf or "prefix" in pf
    assert t.scan(start="0002", stop="0003").count() == 5


def test_source_overlap_single_corpus_pass(spark, qs):
    """source_overlap must scan/fingerprint the corpus ONCE (per-digest
    pair expansion) — a fingerprint self-join would plan TWO parquet scans
    of documents and compute the pipeline per side."""
    plan = _plan(qs["source_overlap"](spark, SF), "simple")
    assert plan.count("Scan parquet") == 1, plan


def test_q7_broadcasts_all_dims(spark, qs):
    """The 6-way Q7 join must broadcast every dim side; only the fact
    tables may shuffle (no SortMergeJoin on a dim)."""
    plan = _plan(qs["q7_nation_volume"](spark, SF), "simple")
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime row-level filtering at scale: a selective filter on one join
    side must inject a bloom filter that pre-prunes the OTHER (fact) side
    before its shuffle — Spark's runtime bloom-filter join optimization.
    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling only rows that can possibly match. Config-driven
    (no code change to any query); this test pins that the optimization
    actually fires on our data layout so a session-config regression
    can't silently lose it."""
    from pyspark.sql import functions as F

    from learn_hbase_spark.tables import load_table

    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders").filter(F.col("o_totalprice") > 400000)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        # force a shuffle join (broadcast would bypass the bloom path) and
        # drop the size floor so sf0.01 qualifies like a real fact table
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # and the result is unaffected by the pruning
        n_expected = (
            load_table(spark, SF, "lineitem")
            .join(
                load_table(spark, SF, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .filter(F.col("o_totalprice") > 400000)
            .count()
        )
        assert j.count() == n_expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_thresh,
        )


def test_hot_bucket_caps_count_before_collect(spark, qs):
    """The hot-bucket cap must be COUNT-FIRST: bucket sizes from a plain
    partial-aggregable count, over-cap keys semi-joined away, and only then
    collect_list — so a pathological (boilerplate) bucket never materializes
    its full id array in one task's aggregation buffer. Pinned on the
    optimized logical plan: root-first printing means the collect_list
    aggregate appears BEFORE (above) the count aggregate feeding the join."""
    for name in ("minhash_lsh_capped", "winnow_match_capped"):
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "collect_list" in plan, (name, plan)
        # the observe (CollectMetrics) rides the count pre-pass; root-first
        # printing ⇒ it must appear after (below) the collect_list aggregate
        cm = plan.index("CollectMetrics")
        assert plan.index("collect_list") < cm, (
            name,
            "count pre-pass must sit BELOW collect_list in the tree",
        )
        assert "count(" in plan[cm:], (
            name,
            "the cap must be fed by a plain count aggregate",
        )
        assert "Join" in plan, (name, "cap must be a key semi/inner join")


def test_hot_bucket_cap_reuses_signature_exchange(spark, qs):
    """The count pre-pass and the collect branch must share ONE bucket-key
    exchange at runtime (AQE exchange reuse): without it the signature /
    fingerprint pipeline upstream of the cap executes twice. Requires both
    branches canonically equal — see the null-key pre-filter note in
    dedup._capped_bucket_ids."""
    for name in ("minhash_lsh_capped", "winnow_match_capped"):
        df = qs[name](spark, SF)
        df.collect()
        ex = df._jdf.queryExecution().executedPlan().toString()
        reused = [ln for ln in ex.splitlines() if "ReusedExchange" in ln]
        assert any("REPARTITION_BY_COL" in ln for ln in reused), (name, ex)


def test_hard_negative_lsh_no_corpus_broadcast(spark, qs):
    """The corpus-anchored hard-negative miner must never broadcast a
    corpus-sized side or fall into a nested loop: there is no join at all
    — candidates come from the (bucket, block-pair) applyInPandas scorer
    (one hash exchange on the grouping key) and the only other exchange
    is the per-anchor top-k window's."""
    df = qs["hard_negative_topk_lsh"](spark, SF)
    plan = _plan(df, "formatted")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan, "no corpus-sized broadcast"
    assert "FlatMapGroupsInPandas" in plan  # the blocked matmul scorer
    # grouping rides the bucket id — the LSH prefilter IS the shuffle key
    assert "_bk" in plan


def test_widetable_scan_prunes_subpartitioned_layout(spark, tmp_path):
    """The two-level prefix/bucket layout keeps prefix pruning intact for
    range scans, and a point get prunes on BOTH partition columns — the
    bucket literal computed driver-side from the portable md5 hash."""
    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(
        spark, str(tmp_path / "wtb"), ["info"], n_subpartitions=4
    )
    rows = [
        (f"{p:04d}_{i:03d}", "info", "q", "v")
        for p in (1, 2, 3)
        for i in range(8)
    ]
    t.put(spark.createDataFrame(
        rows, "rowkey string, family string, qualifier string, value string"
    ))
    # range scan: prefix pruning exactly as on the flat layout
    plan = _plan(t.scan(start="0002", stop="0003"), "formatted")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "prefix" in pf
    assert t.scan(start="0002", stop="0003").count() == 8
    # point get: bucket joins the partition filter with its literal value
    # (on the raw point read — get itself returns a driver-resolved local
    # relation)
    rk = "0002_003"
    gplan = _plan(t._point_read(rk), "formatted")
    gpf = [ln for ln in gplan.splitlines() if "PartitionFilters" in ln][0]
    assert "bucket" in gpf and str(t._py_bucket(rk)) in gpf
    got = t.get(rk).collect()
    assert [(r["rowkey"], r["value"]) for r in got] == [(rk, "v")]


def test_decontaminate_bloom_probe_is_broadcast_and_mapside(spark, qs):
    """The bit-word table joins as a BroadcastHashJoin (probe = one AND,
    map-side) and the exact confirm is a LeftSemi on the candidate stream
    — deliberately NOT forced to broadcast (the operator exists for gram
    sets too big to broadcast as strings; Catalyst may still choose
    broadcast when they fit). No never-at-scale join shapes."""
    plan = _plan(qs["decontaminate_bloom"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
