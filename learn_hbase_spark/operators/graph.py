"""Distributed connected components — near-duplicate cluster assignment.

The LLM-pipeline dedup family (``operators.dedup``) produces *pairs*; turning
pairs into keep/drop decisions needs the transitive closure: if A~B and B~C,
all three are one duplicate cluster even when A~C was never a candidate.
That closure is connected components over the pair graph.

Scale posture: alternating large-star / small-star edge rewriting (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14) — each
round is two groupBy-min + join passes over the edge set, and the round
count is O(log²n) INDEPENDENT of component diameter. Near-dup graphs are
dense blobs (2-3 rounds); record-linkage graphs can be long chains (e.g.
edit-distance-1 name chains), where diameter-free convergence is the
difference between ~6 rounds and thousands (a min-label-propagation loop,
this module's previous algorithm, measured 20 rounds on a diameter-23
graph where large-star/small-star takes 6).
Lineage is truncated by a two-slot parquet state per round so the plan does
not grow with iterations; only a scalar convergence signature reaches the
driver per round. Below ``CC_DRIVER_EDGE_CAP`` canonical edges none of that
runs: the per-round job overhead, not the data, would set the latency, so the
edge set is collected once and closed by union-find on the driver.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import IntegralType, StringType

# exact_replay pagerank's int64 safety bound: the damped update computes
# d_pct * in_sum with d_pct < 100 and in_sum <= total mass = |V| * 1e9, so
# the product stays below 2^63 while |V| <= (2^63-1) // (100 * 1e9) ≈ 9.2e7.
# Module-level so tests can pin the guard without building a 9e7-node graph.
_EXACT_REPLAY_MAX_NODES = (2**63 - 1) // (100 * 1_000_000_000)

# connected_components closes up to this many canonical edges on the
# driver; above it the star loop runs (crossover in its docstring).
CC_DRIVER_EDGE_CAP = 100_000


def _cc_canonical_edges(
    edges: DataFrame, src_col: str = "id_a", dst_col: str = "id_b"
) -> DataFrame:
    """The canonical undirected (u, v) edge set :func:`connected_components`
    iterates over: self-loops dropped, endpoints ordered, duplicates
    removed. Extracted so the plan audit can compose ONE un-truncated
    round over a query's real pair lineage (the per-round parquet state
    hides the loop from the final frame's explain)."""
    return (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )


def _cc_round(e: DataFrame) -> DataFrame:
    """ONE large-star/small-star rewrite — the exact loop body of
    :func:`connected_components` (which calls this per round), exposed so
    tools/plan_audit.py can explain a representative un-truncated
    iteration composed over the query's real edge lineage. Per-round
    minima come from a window over the endpoint partition — one shuffle —
    instead of a groupBy + join back (two). The only distinct is on the
    round's final state: large-star duplicates are linear in the edge
    count and cheaper to carry one pass than to dedup with an extra
    exchange."""
    w_u = Window.partitionBy("u")
    # ---- large star: (v, m) for every neighbor v > u, m = min(N⁺(u))
    # Symmetrize by EXPLODING each edge into its two orientations instead
    # of a self-union (r16): the union consumed `e` twice, so when two
    # star-rounds batch into one materialization (below), round 2's
    # symmetrization re-computed round 1's entire rewrite — ~1.5x
    # star compute per pair (the r15 ADVICE trade-off) and the driver-
    # measured semantic_dedup regression. The explode consumes `e`
    # exactly ONCE (same output multiset: e ∪ reversed(e)), so batched
    # rounds are pure write savings with no recompute. It also makes
    # every round's lineage single-consumption, so a mid-plan
    # Observation no longer double-fires (the union was why
    # convergence could only be detected at materialization
    # granularity).
    sym = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("_uv")
    ).select("_uv.u", "_uv.v")
    ls = (
        sym.withColumn(
            "_m", F.least(F.min("v").over(w_u), F.col("u"))
        )
        .filter((F.col("v") > F.col("u")) & (F.col("v") != F.col("_m")))
        .select(
            F.least(F.col("v"), F.col("_m")).alias("u"),
            F.greatest(F.col("v"), F.col("_m")).alias("v"),
        )
    )
    # ---- small star: orient high→low; (x, m) for x ∈ smaller(u) ∪ {u}
    return (
        ls.select(F.col("v").alias("u"), F.col("u").alias("v"))
        .withColumn("_m", F.min("v").over(w_u))
        .select(
            F.col("_m").alias("m"),
            F.explode(F.array("u", "v")).alias("x"),
        )
        .filter(F.col("x") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("x").alias("v"))
        .distinct()
    )


def _min_root_labels(edges) -> dict:
    """Union-find over ``(u, v)`` pairs with path compression, where the
    smaller root always wins a union — so every node's label is the minimum
    id reachable from it, the same fixpoint the star loop converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _driver_labels(init: DataFrame) -> DataFrame:
    """``(n, comp)`` for every edge-touched node: the edges collected in one
    job, closed by :func:`_min_root_labels`, handed back as an Arrow-built
    local relation typed like ``init``'s ids (so an empty edge set works)."""
    labels = _min_root_labels(init.collect())
    ids = to_arrow_type(init.schema["u"].dataType)
    return init.sparkSession.createDataFrame(
        pa.table({
            "n": pa.array(list(labels), ids),
            "comp": pa.array(list(labels.values()), ids),
        })
    )


def _star_loop_labels(
    init: DataFrame, touched: DataFrame, scratch: str, max_iter: int
) -> DataFrame:
    """``(n, comp)`` for every edge-touched node from at most ``max_iter``
    large-star/small-star rounds; the result reads from ``scratch``."""
    spark = init.sparkSession

    def _observed(df: DataFrame):
        obs = Observation()
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
            ).alias("sig"),
        ), obs

    def _write(df: DataFrame, rnd: int) -> DataFrame:
        # read back with the written schema: no footer-inference job
        path = f"{scratch}/r{rnd % 2}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.schema(df.schema).parquet(path)

    e, sig = init, (-1, None)

    # TWO star-rounds per materialization (r15 optimization): the
    # per-round parquet write/read is the fixed cost that dominates the
    # loop (the star rewrites themselves are two windows over a shrinking
    # edge set), and a 2-round lineage is still trivially plannable — so
    # half the materializations for the same total round count. The
    # fixpoint is unique (min-reachable-id labels) and _cc_round is
    # stable on it, so batching cannot change the result; convergence is
    # detected by the same count+hash signature at 2-round granularity.
    # r16: _cc_round now symmetrizes by explode (single consumption of
    # its input), so round 2 of a batch no longer re-computes round 1's
    # rewrite through the old self-union — batching is pure
    # materialization savings at EVERY scale (locally: half the parquet
    # round-trips; on a cluster: half the durable state writes), with no
    # extra star compute. max_iter keeps counting individual
    # star-rounds (the cap tests pin that).
    done = 0
    sync = 0
    while done < max_iter:
        steps = min(2, max_iter - done)
        body = e
        for _ in range(steps):
            body = _cc_round(body)
        body, obs = _observed(body)
        e = _write(body, sync)
        new_sig = (obs.get["n"], obs.get["sig"])
        sync += 1
        done += steps
        if new_sig == sig:
            break
        sig = new_sig

    # at convergence every edge is (root=u, member=v): v's label is u.
    # The min-agg is a no-op on a converged star but keeps the output
    # one-row-per-node even if max_iter capped the loop early.
    assign = e.groupBy(F.col("v").alias("n")).agg(
        F.min("u").alias("comp")
    )
    roots = touched.join(assign.select("n"), "n", "left_anti").select(
        "n", F.col("n").alias("comp")
    )
    return assign.unionByName(roots)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    The canonical edge set (:func:`_cc_canonical_edges`) is written once to
    the scratch dir, and an Observation on that write counts it at no extra
    job. Two paths follow:

    - **Driver path**, at most ``CC_DRIVER_EDGE_CAP`` canonical edges and
      integral or (binary-collation) string ids: the edges are collected in
      one job and closed by a min-root union-find on the driver; the labels
      come back as an Arrow-built local relation. For these types Python's
      order is Spark's (UTF-8 byte order is code-point order), so the labels
      are the ones the loop converges to. Crossover on random graphs (2N
      nodes, N edges, 4-core host, distributed vs driver): 1k edges 5.5 vs
      0.66 s, 10k 4.2 vs 0.74 s, 100k 9.1 vs 3.0 s, 1M 23.0 vs 25.5 s — the
      cap keeps a 3x margin. The result does not read the scratch dir.
    - **Distributed path**, anything else: alternating large-star /
      small-star (Kiveris et al. 2014, "Connected Components in MapReduce
      and Beyond"). Each round rewrites the EDGE set toward per-component
      stars rooted at the minimum id:

      - large-star: per node u, connect every strictly-larger neighbor to
        ``m = min(N(u) ∪ {u})``;
      - small-star: orient edges high→low, connect u and its smaller
        neighbors to their minimum.

    The loop converges in O(log²n) rounds; a min-LABEL-propagation loop (an
    earlier implementation) needs O(diameter) rounds — measured 20
    rounds vs 6 on the sf0.1 SemDeDup graph (diameter ≈ 23), and a
    2000-node chain would need 2000 rounds vs ~10. At 100 TB component
    diameters are unbounded (near-dup chains), so the round count being
    diameter-FREE is the scale property that matters. Per round the edge
    set shrinks toward one edge per non-root node — intermediate state
    is O(edges), never more than the symmetrized input.

    Parameters
    ----------
    nodes: one row per node (singletons allowed — they become their own
        cluster); ``node_col`` must be orderable (the min is the label).
    edges: undirected pair list; only ``src_col``/``dst_col`` are read.
    max_iter: caps the distributed loop's star-rounds only. The driver path
        always returns the converged labelling; the loop returns the same
        labelling whenever it converges within ``max_iter``.
    scratch_dir: where the edge set and per-round edge frames are parked.
        Defaults to a driver-local temp dir (correct for local[*]), removed
        on every exit; ON A CLUSTER PASS A SHARED PATH (HDFS/object store)
        — executors must see it.

    Returns ``(node_col, cluster_id)``.

    Iteration-state note: per-round lineage is truncated by writing the
    edge frame to parquet and reading it back — the alternating two-slot
    scratch layout keeps disk use at two frames. Chained
    ``localCheckpoint`` frames measured per-round wall time DOUBLING
    from ~15 chained checkpoints (0.15s/round -> 45s/round by round 19
    on a 2000-node graph); the parquet round-trip measured flat at
    ~0.3s/round. Parquet also survives a driver restart and works
    identically on a real cluster. Convergence detection is an
    Observation (count + exact decimal hash-sum of the edge set) riding
    the state write, so it costs no extra job; the signature is
    collision-safe to ~2⁻⁶⁴ per round and ``max_iter`` caps the loop
    regardless.

    Only edge-TOUCHED nodes are labelled by either path: a node in no edge
    keeps its own id, so singletons ride back in via one anti-join at the
    end. In a near-dup graph the touched set is a small fraction of the
    corpus (at 100 TB: millions of pair-involved docs vs billions of rows).
    """
    import shutil
    import tempfile

    spark = nodes.sparkSession
    owns_scratch = scratch_dir is None
    scratch = scratch_dir or tempfile.mkdtemp(prefix="cc_edges_")
    try:
        # canonical undirected edge set, self-loops dropped; materialized
        # once to its own slot and counted on the way
        e0 = _cc_canonical_edges(edges, src_col, dst_col)
        counted = Observation()
        e0.observe(counted, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{scratch}/init")
        init = spark.read.schema(e0.schema).parquet(f"{scratch}/init")
        ids = e0.schema["u"].dataType
        on_driver = counted.get["n"] <= CC_DRIVER_EDGE_CAP and (
            isinstance(ids, IntegralType) or ids == StringType()
        )
        if on_driver:
            labelled = _driver_labels(init)
            touched = labelled.select("n")
        else:
            # the touched-node set derives from the parquet copy lazily
            # instead of a second checkpoint job
            touched = (
                init.select(F.col("u").alias("n"))
                .union(init.select(F.col("v").alias("n")))
                .distinct()
            )
            labelled = _star_loop_labels(init, touched, scratch, max_iter)
        singletons = (
            nodes.select(F.col(node_col).alias("n"))
            .join(touched, "n", "left_anti")
            .select("n", F.col("n").alias("comp"))
        )
        out = labelled.unionByName(singletons).select(
            F.col("n").alias(node_col), F.col("comp").alias("cluster_id")
        )
        # the loop's result still reads from the scratch slot: hand the
        # rows back as a self-contained frame before the temp dir goes
        if owns_scratch and not on_driver:
            out = out.localCheckpoint()
        return out
    finally:
        if owns_scratch:
            shutil.rmtree(scratch, ignore_errors=True)


def dedup_decisions(
    clusters: DataFrame, node_col: str = "doc_id"
) -> DataFrame:
    """Keep/drop verdict per document from a cluster assignment: the cluster
    representative (minimum id — which IS ``cluster_id`` by construction) is
    kept, every other member dropped. Pure projection, no extra shuffle."""
    return clusters.select(
        node_col,
        "cluster_id",
        (F.col(node_col) == F.col("cluster_id")).alias("keep"),
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    damping: float = 0.85,
    n_iter: int = 10,
    redistribute_dangling: bool = False,
    exact_replay: bool = False,
) -> DataFrame:
    """PageRank over an undirected edge list, fixed iteration count.

    Returns ``(node_col, rank)`` in the 1-centered formulation
    ``rank = (1-d) + d * sum(in)``. By default no dangling-mass
    redistribution is applied: an isolated node settles at ``1-d`` and
    total mass is <= |V| (equal only when every node has out-degree > 0)
    — fine for the near-dup-cluster ranking this feeds, where only
    relative order within a connected component matters. With
    ``redistribute_dangling=True`` the standard correction (Page et al.
    1999) is applied: each round, the rank mass sitting on out-degree-0
    nodes is spread uniformly over all nodes
    (``rank = (1-d) + d*(sum_in + dangling_mass/|V|)``), and total mass
    converges to exactly ``|V|`` — use it when absolute rank values
    matter (cross-component comparison, mass-conservation audits). Cost:
    one extra scalar aggregate per round over the (static, usually tiny)
    dangling-node set, broadcast back as a one-row crossJoin. Each
    iteration is one join + one
    aggregation on the edge list — rank mass flows along edges, damped
    toward the uniform prior. Fixed
    ``n_iter`` (not convergence-tested) keeps the result deterministic for
    a given graph. Lineage is truncated per round (``localCheckpoint``) so
    the plan doesn't grow with iterations — at cluster scale, persist to a
    bucketed table instead and co-partition ``edges`` by ``u`` so every
    round's join is shuffle-free on the edge side.

    ``exact_replay=True`` pins every iteration engine-exactly so an
    external SQL engine replaying the same ``n_iter`` power iterations
    over the same edge table reproduces the ranks BIT-IDENTICALLY. The
    iteration runs in scaled-INTEGER fixed point (units of 1e-9): the
    edge contribution is ``rank_int div deg`` (floor division — every
    engine agrees on positive integer division, unlike float summation
    order, double→decimal casts at dyadic midpoints, or decimal
    scale-reduction, which DuckDB truncates where Spark rounds HALF_UP),
    the in-sum is an associative shuffle-order-free integer sum, and the
    damped update is ``base + (d_pct * sum) div 100`` with
    ``damping = d_pct/100``; the output is the final integer over 1e9 as
    one IEEE double division. Each step floors at the 1e-9 quantum, so
    replay ranks sit within ``n_iter`` ulps-of-1e-9 below the default
    double path — immaterial for ranking, decisive for verification.
    Bounds: exact while ``d_pct * sum(rank_int)`` fits int64 — total
    mass <= |V| means |V| up to ~9.2e7 nodes (``_EXACT_REPLAY_MAX_NODES``);
    the verification scales this exists for. The bound is ENFORCED at
    entry (Spark's int64 arithmetic wraps silently where DuckDB errors,
    so past the bound the replay would produce quietly wrong ranks —
    raising keeps "exact" honest). Requires integer-percent damping; not
    composable with ``redistribute_dangling`` (its per-round mass scalar
    would need the same pinning — unbuilt because no replay caller needs
    it).
    """
    if exact_replay and redistribute_dangling:
        raise ValueError(
            "exact_replay pins the default (no-redistribution) form; "
            "the dangling-mass scalar is not integer-pinned"
        )
    d_pct = round(damping * 100)
    if exact_replay and abs(damping * 100 - d_pct) > 1e-9:
        raise ValueError(
            "exact_replay needs integer-percent damping (e.g. 0.85), "
            f"got {damping}"
        )
    if exact_replay:
        # enforce the int64 bound BEFORE any edge-table work: total scaled
        # mass <= |V| * 1e9, and the damped update multiplies a node's
        # in-sum (<= total mass) by d_pct < 100 before the div — Spark
        # wraps on overflow instead of erroring, so guard here rather than
        # document-and-hope. One count on the node frame, which is exactly
        # the scale the guard exists for — failing fast here spares the
        # (much larger) edge symmetrization + checkpoint.
        n_base = nodes.count()
        if n_base > _EXACT_REPLAY_MAX_NODES:
            raise ValueError(
                f"exact_replay is int64-exact only to "
                f"{_EXACT_REPLAY_MAX_NODES} nodes (got {n_base}); use the "
                "default double path for graphs past the bound"
            )
    sym = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint()
    degrees = sym.groupBy("u").agg(F.count("*").alias("_deg"))
    # iteration frames carry (id, rank/deg) only — far smaller than the
    # input. Sizing their partition count to the EDGE count (not the
    # session's shuffle.partitions) keeps per-round task-scheduling
    # overhead proportional to the graph, which is what dominates an
    # iterative algorithm's wall clock when the graph is much smaller
    # than the corpus that produced it.
    n_parts = max(1, min(sym.sparkSession.sparkContext.defaultParallelism,
                         sym.count() // 10_000 + 1))
    out_edges = sym.join(degrees, "u").coalesce(n_parts).localCheckpoint()

    base = nodes.select(F.col(node_col).alias("u")).coalesce(n_parts)
    init = F.lit(1_000_000_000).cast("long") if exact_replay else F.lit(1.0)
    ranks = base.withColumn("rank", init).localCheckpoint()

    if redistribute_dangling:
        # static set: symmetrized edges give every endpoint out-degree >0,
        # so dangling == node never appearing in an edge
        dangling = base.join(degrees, "u", "left_anti").localCheckpoint()
        n_nodes = base.count()  # scalar; bounded driver value

    for i in range(n_iter):
        contrib = (
            out_edges.join(ranks, "u")
            .select(
                F.col("v").alias("u"),
                (
                    F.expr("rank div _deg")
                    if exact_replay
                    else F.col("rank") / F.col("_deg")
                ).alias("_c"),
            )
            .groupBy("u")
            .agg(F.sum("_c").alias("_in"))
        )
        if exact_replay:
            incoming = F.coalesce(F.col("_in"), F.lit(0).cast("long"))
        else:
            incoming = F.coalesce(F.col("_in"), F.lit(0.0))
        if redistribute_dangling:
            dang_mass = dangling.join(ranks, "u").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
            )
            # one-row crossJoin (allowlisted bounded NLJ): ships the scalar
            # to every task without a driver round-trip inside the lineage
            ranks = (
                base.join(contrib, "u", "left")
                .crossJoin(F.broadcast(dang_mass))
                .select(
                    "u",
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping)
                        * (incoming + F.col("_dm") / F.lit(float(n_nodes)))
                    ).alias("rank"),
                )
            )
        else:
            if exact_replay:
                # base + (d_pct * sum) div 100, all int64: exact,
                # associative, engine-free
                updated = (
                    F.lit((100 - d_pct) * 1_000_000_000 // 100).cast("long")
                    + F.expr(f"({d_pct} * _incoming_i) div 100")
                )
                ranks = (
                    base.join(contrib, "u", "left")
                    .withColumn("_incoming_i", incoming)
                    .select("u", updated.alias("rank"))
                )
            else:
                updated = F.lit(1.0 - damping) + F.lit(damping) * incoming
                ranks = base.join(contrib, "u", "left").select(
                    "u", updated.alias("rank")
                )
        # truncate lineage every few rounds: a checkpoint per round pays a
        # full materialization each iteration, while a 3-round join-agg
        # lineage is still cheap to plan — checkpoint cadence trades
        # materialization cost against plan depth
        if (i + 1) % 3 == 0 or i == n_iter - 1:
            ranks = ranks.localCheckpoint()
    final = (
        # one IEEE division on the exact integer: same double in any
        # engine; rounding here would re-introduce a shortest-repr-vs-
        # binary tie hazard
        F.col("rank").cast("double") / F.lit(1_000_000_000.0)
        if exact_replay
        else F.round("rank", 6)
    )
    return ranks.select(F.col("u").alias(node_col), final.alias("rank"))
