"""Connected components (near-dup clustering) and deterministic sampling."""

from __future__ import annotations

import random
import tempfile

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from learn_hbase_spark import driver_path
from learn_hbase_spark.operators import graph, sampling
from learn_hbase_spark.operators.graph import connected_components, dedup_decisions


def _cc(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(ndf, edf)
    return {r["node"]: r["cluster_id"] for r in out.collect()}


def test_cc_basic_components(spark, cc_path):
    got = _cc(spark, range(1, 8), [(1, 2), (2, 3), (5, 6)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_cc_long_chain_converges(spark, cc_path):
    """A 9-hop chain needs multiple propagation rounds to pull every node
    down to the minimum label."""
    got = _cc(spark, range(10), [(i, i + 1) for i in range(9)])
    assert set(got.values()) == {0}


def test_cc_singleton_only(spark, cc_path):
    ndf = spark.createDataFrame([(7,)], "node long")
    edf = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(ndf, edf).collect()
    assert [(r["node"], r["cluster_id"]) for r in out] == [(7, 7)]


def _arrow_df(spark, **cols):
    """A local relation built through Arrow: no Python-RDD job of its own."""
    return spark.createDataFrame(pa.table(cols))


def _random_graph(rnd, ids):
    """Edges over ``ids`` with self-loops, duplicates and reversed copies;
    nodes that miss some endpoints and add some untouched ids."""
    edges = [tuple(rnd.sample(ids, 2)) for _ in range(len(ids) // 2)]
    edges += [(x, x) for x in rnd.sample(ids, 5)]
    edges += rnd.sample(edges, 5) + [(b, a) for a, b in rnd.sample(edges, 5)]
    rnd.shuffle(edges)
    nodes = rnd.sample(ids, len(ids) * 3 // 4)
    return nodes, edges


def _cc_both_paths(spark, monkeypatch, nodes, edges, arrow_type):
    ndf = _arrow_df(spark, node=pa.array(nodes, arrow_type))
    a, b = zip(*edges) if edges else ((), ())
    edf = _arrow_df(
        spark, id_a=pa.array(a, arrow_type), id_b=pa.array(b, arrow_type)
    )
    got = {}
    for path, cap in (("driver", driver_path.CC_DRIVER_EDGE_CAP), ("loop", 0)):
        monkeypatch.setattr(driver_path, "CC_DRIVER_EDGE_CAP", cap)
        got[path] = sorted(
            map(tuple, connected_components(ndf, edf).collect())
        )
    return got


def test_cc_driver_path_equals_the_loop(spark, monkeypatch):
    """Seeded random graphs: the driver union-find labels every node as the
    star loop does — long ids, string ids ordered by code point (U+FFEF
    sorts below U+1F600 in UTF-8, above it in UTF-16), and an empty edge
    set."""
    rnd = random.Random(15)
    nodes, edges = _random_graph(rnd, rnd.sample(range(10**12), 120))
    got = _cc_both_paths(spark, monkeypatch, nodes, edges, pa.int64())
    assert got["driver"] == got["loop"]
    assert len(got["driver"]) == len(set(nodes) | {x for e in edges for x in e})

    alphabet = ["a", "z", "é", "中", "\uffef", "\U0001f600"]
    words = sorted(
        {"".join(rnd.choices(alphabet, k=rnd.randint(1, 3))) for _ in range(90)}
    )
    nodes, edges = _random_graph(rnd, words)
    got = _cc_both_paths(spark, monkeypatch, nodes, edges, pa.string())
    assert got["driver"] == got["loop"]
    assert len({c for _, c in got["driver"]}) < len(got["driver"])

    got = _cc_both_paths(spark, monkeypatch, [3, 1, 2], [], pa.int64())
    assert got["driver"] == got["loop"] == [(1, 1), (2, 2), (3, 3)]


def _cc_jobs(spark, nodes, edges, group):
    """``connected_components`` under a job group: its result and the
    number of Spark jobs the call started."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = connected_components(nodes, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_small_graph_runs_at_most_three_jobs(spark, monkeypatch):
    """A 10-edge graph at a cap of 10: the counted edge-set write and one
    collect, with no star rounds and no checkpoint. At a cap of 9 the same
    graph takes the star loop."""
    ndf = _arrow_df(spark, node=pa.array(range(20), pa.int64()))
    edf = _arrow_df(
        spark,
        id_a=pa.array(range(10), pa.int64()),
        id_b=pa.array(range(1, 11), pa.int64()),
    )
    expect = {n: 0 if n <= 10 else n for n in range(20)}
    monkeypatch.setattr(driver_path, "CC_DRIVER_EDGE_CAP", 10)
    out, jobs = _cc_jobs(spark, ndf, edf, "cc-at-cap")
    assert jobs <= 3, f"connected_components ran {jobs} jobs"
    assert dict(map(tuple, out.collect())) == expect
    monkeypatch.setattr(driver_path, "CC_DRIVER_EDGE_CAP", 9)
    out, jobs = _cc_jobs(spark, ndf, edf, "cc-above-cap")
    assert jobs > 3, f"connected_components ran {jobs} jobs above the cap"
    assert dict(map(tuple, out.collect())) == expect


def test_cc_result_outlives_the_owned_scratch(
    spark, cc_path, monkeypatch, tmp_path
):
    """The owned scratch dir is gone when the call returns, and the result
    still collects: the driver path's labels are a local relation, the
    loop's result a checkpoint."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = connected_components(
        _arrow_df(spark, node=pa.array([1, 2, 3, 4], pa.int64())),
        _arrow_df(
            spark,
            id_a=pa.array([2, 4], pa.int64()),
            id_b=pa.array([1, 3], pa.int64()),
        ),
    )
    assert list(tmp_path.iterdir()) == []
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 3), (4, 3)]


def test_cc_removes_its_scratch_when_a_round_raises(
    spark, monkeypatch, tmp_path
):
    """A failure inside either path still removes the owned scratch dir."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def boom(*_):
        raise RuntimeError("injected")

    ndf = _arrow_df(spark, node=pa.array([1, 2], pa.int64()))
    edf = _arrow_df(
        spark, id_a=pa.array([1], pa.int64()), id_b=pa.array([2], pa.int64())
    )
    for target, cap in (("_min_root_labels", None), ("_cc_round", 0)):
        with monkeypatch.context() as mp:
            mp.setattr(graph, target, boom)
            if cap is not None:
                mp.setattr(driver_path, "CC_DRIVER_EDGE_CAP", cap)
            with pytest.raises(RuntimeError, match="injected"):
                connected_components(ndf, edf)
        assert not [p for p in tmp_path.iterdir() if p.name.startswith("cc_edges_")]


def test_dedup_decisions_keeps_representative(spark):
    ndf = spark.createDataFrame([(n,) for n in (1, 2, 3)], "doc_id long")
    edf = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    cc = connected_components(ndf, edf, node_col="doc_id")
    got = {r["doc_id"]: r["keep"] for r in dedup_decisions(cc).collect()}
    assert got == {1: True, 2: False, 3: True}


def test_hash_split_fractions_and_stability(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    counts = {
        r["split"]: r["n"]
        for r in sampling.hash_split(df, "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert abs(counts["train"] / 2000 - 0.8) < 0.03
    assert abs(counts["val"] / 2000 - 0.1) < 0.03
    assert abs(counts["test"] / 2000 - 0.1) < 0.03
    # identity-stable: the same ids land in the same split regardless of
    # partitioning or row order
    again = sampling.hash_split(
        df.repartition(7).orderBy(F.col("doc_id").desc()), "doc_id"
    )
    a = {r["doc_id"]: r["split"] for r in sampling.hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in again.collect()}
    assert a == b


def test_deterministic_sample_is_nested(spark):
    """Growing the fraction only adds rows — smaller samples are strict
    subsets of larger ones (the property that makes hash sampling safe for
    incremental pipelines)."""
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    s20 = {r["doc_id"] for r in sampling.deterministic_sample(df, "doc_id", 0.2).collect()}
    s50 = {r["doc_id"] for r in sampling.deterministic_sample(df, "doc_id", 0.5).collect()}
    assert s20 <= s50
    assert abs(len(s50) / 1000 - 0.5) < 0.05


def test_pagerank_properties(spark):
    """PageRank on a small known graph: a hub node outranks leaves,
    isolated nodes keep the uniform prior, and total rank mass is
    conserved at ~|V|."""
    from pyspark.sql import functions as F

    from learn_hbase_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    # star: 0 connected to 1..3; pair: 4-5 isolated from the star... 4-5 edge
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(nodes, edges).collect()}
    assert set(got) == set(range(6))
    hub, leaf = got[0], got[1]
    assert hub > leaf  # the hub accumulates its leaves' mass
    assert abs(got[1] - got[2]) < 1e-9 and abs(got[2] - got[3]) < 1e-9
    assert abs(got[4] - got[5]) < 1e-9  # symmetric pair
    assert abs(sum(got.values()) - 6.0) < 0.2  # mass conserved (~|V|)


def test_pagerank_dangling_mass_redistribution(spark):
    """On a graph WITH dangling (edge-less) nodes: default mode leaks mass
    (isolated nodes pin at 1-d, total < |V|); redistribution mode conserves
    total mass at |V| and lifts connected nodes, while relative order
    within the connected component is unchanged."""
    from learn_hbase_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(8)], "node long")
    # star on 0..3; nodes 4..7 dangling (no edges at all)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    plain = {
        r["node"]: r["rank"] for r in pagerank(nodes, edges).collect()
    }
    redis = {
        r["node"]: r["rank"]
        for r in pagerank(
            nodes, edges, redistribute_dangling=True, n_iter=30
        ).collect()
    }
    # default: each dangling node sits at exactly 1-d; total mass short
    assert all(abs(plain[i] - 0.15) < 1e-9 for i in range(4, 8))
    assert sum(plain.values()) < 8.0 - 1.0
    # redistribution: mass conserved at |V| (0.85^30 * initial deficit)
    assert abs(sum(redis.values()) - 8.0) < 0.05
    # dangling nodes now hold more than the bare prior, all equal
    assert redis[4] > 0.15 and len({round(redis[i], 6) for i in range(4, 8)}) == 1
    # hub still outranks leaves; leaves still tie
    assert redis[0] > redis[1]
    assert abs(redis[1] - redis[2]) < 1e-9


def test_pagerank_deterministic_across_partitioning(spark):
    from learn_hbase_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(20)], "node long")
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(20)], "id_a long, id_b long"
    )
    a = sorted(map(tuple, pagerank(nodes, edges).collect()))
    b = sorted(map(tuple, pagerank(nodes.repartition(7), edges.repartition(5)).collect()))
    assert a == b


def test_connected_components_long_chain_converges_fast(spark, cc_loop):
    """A 64-node path graph has diameter 63; large-star/small-star
    converges in O(log² n) rounds independent of diameter — assert both
    the answer and that convergence stayed inside a log-ish round budget
    (min-label propagation would need 63 rounds and blow max_iter=10)."""
    from pyspark.sql import functions as F

    from learn_hbase_spark.operators.graph import connected_components

    n = 64
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    got = connected_components(nodes, edges, max_iter=10).collect()
    assert len(got) == n
    assert {r["cluster_id"] for r in got} == {0}


def test_connected_components_shuffled_chain_diameter_free(spark, cc_loop):
    """500-node chain with ids SHUFFLED along the path (the worst case
    for label propagation — the min sits at an arbitrary position and
    label chains never align with edges). max_iter=12 only clears if the
    round count is genuinely diameter-free; verify against a python
    union-find ground truth."""
    import random

    from learn_hbase_spark.operators.graph import connected_components

    rnd = random.Random(11)
    ids = list(range(1000, 1500))
    rnd.shuffle(ids)
    # two disjoint chains of 250
    edges = [(ids[i], ids[i + 1]) for i in range(249)] + [
        (ids[250 + i], ids[250 + i + 1]) for i in range(249)
    ]
    ndf = spark.createDataFrame([(i,) for i in ids], "node long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(ndf, edf, max_iter=12).collect()
    }
    m1, m2 = min(ids[:250]), min(ids[250:])
    assert len(got) == 500
    for i, node in enumerate(ids):
        assert got[node] == (m1 if i < 250 else m2)


def test_connected_components_max_iter_cap_keeps_one_row_per_node(
    spark, cc_loop
):
    """Capping max_iter below convergence must still emit exactly one
    row per node (the output min-agg guards the unconverged edge set) —
    labels may be refinable, but never duplicated or dropped."""
    from learn_hbase_spark.operators.graph import connected_components

    ids = list(range(40))
    edges = [(i, i + 1) for i in range(39)]
    ndf = spark.createDataFrame([(i,) for i in ids], "node long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    got = connected_components(ndf, edf, max_iter=1).collect()
    assert len(got) == 40
    assert len({r["node"] for r in got}) == 40


def test_temperature_rates_laws(spark):
    """The temperature-sampling defining laws: alpha=1 gives every source
    the uniform target_frac rate (natural proportions); alpha<1 flattens —
    smaller sources get strictly higher rates; rates never exceed 1; and
    the expected kept volume stays ~target_frac*N when no rate caps."""
    from learn_hbase_spark.operators.sampling import (
        temperature_rates,
        temperature_sample,
    )

    rows = (
        [(i, "big") for i in range(400)]
        + [(i + 1000, "mid") for i in range(100)]
        + [(i + 2000, "small") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    flat = {r["stratum"]: r["rate"]
            for r in temperature_rates(df, "source", alpha=1.0,
                                       target_frac=0.4).collect()}
    assert all(abs(v - 0.4) < 1e-9 for v in flat.values())

    tempered = {r["stratum"]: r
                for r in temperature_rates(df, "source", alpha=0.5,
                                           target_frac=0.4).collect()}
    assert (tempered["small"]["rate"] > tempered["mid"]["rate"]
            > tempered["big"]["rate"])
    assert all(r["rate"] <= 1.0 for r in tempered.values())
    # first-principles replay: Z = 20 + 10 + 5; the small source's
    # tempered ask (0.4*525*5/(35*25) = 1.2) caps at 1.0, so the one-pass
    # kept volume is the capped sum, deliberately UNDER the raw target
    ref = {"big": 0.3, "mid": 0.6, "small": 1.0}
    for s, want in ref.items():
        assert abs(tempered[s]["rate"] - want) < 1e-9
    expected = sum(r["n"] * r["rate"] for r in tempered.values())
    assert abs(expected - 205.0) < 1e-6  # 120 + 60 + 25, caps applied

    kept = temperature_sample(df, "doc_id", "source", alpha=0.5,
                              target_frac=0.4)
    by_src = {r["source"]: r["cnt"] for r in
              kept.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    # hash realization tracks expectation within binomial noise
    for s in ("big", "mid", "small"):
        exp = tempered[s]["n"] * tempered[s]["rate"]
        assert abs(by_src.get(s, 0) - exp) < 4 * (exp ** 0.5) + 3


def test_temperature_sample_preserves_clashing_user_columns(spark):
    """The rates frame joins under underscore-prefixed internal names, so
    an input that already carries a column named ``rate``, ``n``, or
    ``stratum`` keeps it (and the keep/drop calls are unchanged)."""
    from learn_hbase_spark.operators.sampling import temperature_sample

    rows = [(i, "s%d" % (i % 3), float(i), i * 2, "x%d" % i)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, rate double, n long, stratum string"
    )
    kept = temperature_sample(df, "doc_id", "source", alpha=0.5,
                              target_frac=0.5)
    assert set(kept.columns) == {"doc_id", "source", "rate", "n", "stratum"}
    for r in kept.collect():
        assert r["rate"] == float(r["doc_id"])
        assert r["n"] == r["doc_id"] * 2
        assert r["stratum"] == "x%d" % r["doc_id"]
    # keep/drop decisions identical to the clash-free projection
    plain = temperature_sample(
        df.select("doc_id", "source"), "doc_id", "source",
        alpha=0.5, target_frac=0.5,
    )
    assert {r["doc_id"] for r in kept.collect()} == {
        r["doc_id"] for r in plain.collect()
    }


def test_cluster_safe_split_never_leaks_near_dups(spark):
    """The defining guarantee: every member of a cluster lands in the
    SAME split; singletons (absent from the cluster frame) split by
    their own id — bit-identical to hash_split for them."""
    from learn_hbase_spark.operators.sampling import (
        cluster_safe_split,
        hash_split,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # clusters: {0..9} -> 0, {10..14} -> 10; everything else singleton
    cl_rows = [(i, 0) for i in range(10)] + [(i, 10) for i in range(10, 15)]
    clusters = spark.createDataFrame(cl_rows, "doc_id long, cluster_id long")

    out = {r["doc_id"]: r["split"]
           for r in cluster_safe_split(docs, clusters).collect()}
    assert len({out[i] for i in range(10)}) == 1
    assert len({out[i] for i in range(10, 15)}) == 1
    # singletons match plain doc-level hashing exactly
    plain = {r["doc_id"]: r["split"]
             for r in hash_split(docs, "doc_id").collect()}
    for i in range(15, 200):
        assert out[i] == plain[i]
    # all three splits realized at ~80/10/10 over 200 ids
    from collections import Counter
    c = Counter(out.values())
    assert c["train"] > c["val"] > 0 and c["test"] > 0


def test_unimax_rates_waterfilling(spark):
    """Closed-form level matches the hand-run waterfill: n=(10,100,1000),
    E=2, budget=half of 1110 -> B=555: small sources take their full
    2-epoch caps (20, 200), the big one takes the remaining 335."""
    from learn_hbase_spark.operators.sampling import unimax_rates

    rows = (
        [(f"a{i}", "a") for i in range(10)]
        + [(f"b{i}", "b") for i in range(100)]
        + [(f"c{i}", "c") for i in range(1000)]
    )
    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {
        r["stratum"]: (r["n_docs"], r["cap"], r["alloc"], r["epochs"])
        for r in unimax_rates(df, "source", 0.5, 2.0).collect()
    }
    assert got == {
        "a": (10, 20.0, 20.0, 2.0),
        "b": (100, 200.0, 200.0, 2.0),
        "c": (1000, 2000.0, 335.0, 0.335),
    }
    # allocations exhaust the budget exactly
    assert sum(v[2] for v in got.values()) == 555.0


def test_unimax_rates_all_capped_when_budget_exceeds_caps(spark):
    """budget > sum(caps): no valid level exists -> every source takes
    its full cap (the corpus simply fits under the repetition limit)."""
    from learn_hbase_spark.operators.sampling import unimax_rates

    rows = [(f"a{i}", "a") for i in range(4)] + [(f"b{i}", "b") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    # E=1, budget_frac=2.0 -> B=20 > caps 4+6
    got = {
        r["stratum"]: (r["alloc"], r["epochs"])
        for r in unimax_rates(df, "source", 2.0, 1.0).collect()
    }
    assert got == {"a": (4.0, 1.0), "b": (6.0, 1.0)}


def test_pagerank_exact_replay_tracks_double_path(spark):
    """exact_replay runs the iteration in 1e-9 scaled-integer fixed point
    (per-step floors, always downward) so an external engine replays it
    bit-identically; its ranks must sit within n_iter * 1e-9 BELOW the
    default double path, preserve the ranking, and refuse the two
    configurations whose scalars are not integer-pinned."""
    import pytest

    from learn_hbase_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(8)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (4, 5), (5, 6)],
        "id_a long, id_b long",
    )
    dbl = {r["node"]: r["rank"] for r in pagerank(nodes, edges, n_iter=5).collect()}
    fix = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, n_iter=5, exact_replay=True).collect()
    }
    assert set(dbl) == set(fix)
    for n in dbl:
        # double path rounds to 6; replay floors at 1e-9 per step
        assert fix[n] <= dbl[n] + 5e-7
        assert dbl[n] - fix[n] < 1e-6 + 5 * 1e-9
    order = lambda d: sorted(d, key=lambda n: (-d[n], n))  # noqa: E731
    assert order(dbl) == order(fix)

    with pytest.raises(ValueError, match="integer-percent"):
        pagerank(nodes, edges, damping=0.8567, exact_replay=True)
    with pytest.raises(ValueError, match="no-redistribution"):
        pagerank(
            nodes, edges, exact_replay=True, redistribute_dangling=True
        )


def test_pagerank_exact_replay_enforces_int64_node_bound(spark, monkeypatch):
    """Past ~9.2e7 nodes the scaled-integer update can overflow int64,
    which Spark WRAPS silently (DuckDB would error) — so the bound must be
    enforced at entry, not merely documented. Pin the guard by shrinking
    the module constant rather than building a 9e7-node graph."""
    import pytest

    from learn_hbase_spark.operators import graph

    nodes = spark.createDataFrame([(i,) for i in range(8)], "node long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")

    monkeypatch.setattr(graph, "_EXACT_REPLAY_MAX_NODES", 5)
    with pytest.raises(ValueError, match="int64-exact only to 5 nodes"):
        graph.pagerank(nodes, edges, n_iter=2, exact_replay=True)
    # the double path is unaffected by the replay bound
    assert graph.pagerank(nodes, edges, n_iter=2).count() == 8
    # and at-or-under the bound the replay still runs
    monkeypatch.setattr(graph, "_EXACT_REPLAY_MAX_NODES", 8)
    assert graph.pagerank(nodes, edges, n_iter=2, exact_replay=True).count() == 8
