"""Embedding similarity search (north-star extension, SURVEY §7.2 M4).

Two tiers:
- ``cosine_topk``: exact brute-force top-k — the correctness baseline. The
  query side is broadcast (it's small by construction); the corpus side
  streams through one codegen'd stage; top-k is a per-query window. No
  driver-side collection.
- ``lsh_topk``: random-hyperplane LSH bucketing — the 100 TB path. Corpus
  vectors hash into sign-pattern buckets; only colliding buckets are
  compared, cutting the candidate set by ~2^planes while recall stays high
  for near-neighbors (Charikar 2002 SimHash argument for cosine).

Dot products use ``F.zip_with`` + ``F.aggregate`` — pure JVM expression
tree, no Python in the loop.
"""

from __future__ import annotations

import functools
import hashlib
import time

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from .. import driver_path

# Crash-safe artifact mechanics (tombstone-first, rename-not-rmtree,
# committed-file-less-dir-as-absent, Hadoop-FS ops) live in the shared
# storage module — ONE implementation for the ANN artifact and the
# WideTable index stack. The leading-underscore aliases keep this
# module's historical internal names stable for tests and docstrings.
from ..functions.layout import rebalance_for_compute
from ..storage.artifact import (
    delta_partition_count as _delta_partition_count_shared,
    fs_delete as _fs_delete,
    fs_rename as _fs_rename,
    hadoop_fs as _hfs,
    swap_via_trash as _swap_via_trash,
    try_parquet as _try_parquet,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (computed in double)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    return _dot(da, db) / (_norm(da) * _norm(db))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k per query vector.

    Returns (query_id, neighbor_id, rank, sim) — rank 1..k by descending
    similarity, ties broken by ascending neighbor id (deterministic).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    pairs = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("sim", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
    impl: str = "pandas",
    prefilter_planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) for every
    pair with cosine >= threshold, id_a < id_b.

    ``impl="pandas"`` (default) is a block nested-loop: vectors hash into
    `blocks` blocks, every row is replicated to each block pair it belongs
    to (shuffle volume N x blocks rows — NOT N^2), and one Arrow-batched
    ``applyInPandas`` task scores a (block_a x block_b) NumPy matmul. Block
    count bounds per-task memory; at 100 TB raise `blocks` so each block
    matrix stays executor-sized.

    ``prefilter_planes`` is the 100 TB default path: vectors are first
    bucketed by :func:`hyperplane_bucket` sign pattern and only same-bucket
    pairs are scored, so total compute drops from O(N²) to Σ n_bucket² —
    approximate (cross-bucket pairs are skipped; recall for cosine ≥ t
    rises with t, Charikar 2002), fully deterministic given fixed planes.
    The bucket id joins the grouping key, so hot buckets are still split
    across block pairs and per-task memory stays bounded.

    ``impl="jvm"`` is the pure-expression form (broadcast nested-loop with
    one fold-dot per pair) — exact same results, no Python workers, but
    higher-order-function lambdas are interpreted per element, so it's the
    slow path for large pair counts; kept for environments without Arrow.
    """
    bucket = (
        hyperplane_bucket(F.col(vec_col), prefilter_planes)
        if prefilter_planes
        else F.lit(0).cast("long")
    )

    if impl == "jvm":
        prepped = df.select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
            bucket.alias("_bk"),
        ).withColumn("_n", _norm(F.col("_v")))
        a, b = prepped.alias("a"), prepped.alias("b")
        sim = _dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
        return (
            a.join(
                b,
                (F.col("a._id") < F.col("b._id"))
                & (F.col("a._bk") == F.col("b._bk")),
            )
            .withColumn("_sim", sim)
            .filter(F.col("_sim") >= threshold)
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.round("_sim", 6).alias("sim"),
            )
        )

    import numpy as np
    import pandas as pd

    prepped = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int").alias("_b"),
        bucket.alias("_bk"),
    )
    # replicate each row to every block pair (min(b,o), max(b,o)) it joins
    rep = prepped.select(
        "_id", "_v", "_b", "_bk",
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_o"),
    ).select(
        "_id", "_v", "_b", "_bk",
        F.least("_b", "_o").alias("_p"),
        F.greatest("_b", "_o").alias("_q"),
    )  # pairs are distinct per row (partner index varies), no dedup needed

    def _score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = key[-2], key[-1]
        m_all = np.stack(pdf["_v"].to_numpy())
        ids = pdf["_id"].to_numpy()
        norms = np.linalg.norm(m_all, axis=1)
        blk = pdf["_b"].to_numpy()
        if p == q:
            sims = (m_all @ m_all.T) / np.outer(norms, norms)
            ia, ib = np.triu_indices(len(ids), k=1)
            ids_a = ids_b = ids
        else:
            a_mask, b_mask = blk == p, blk == q
            sims = (m_all[a_mask] @ m_all[b_mask].T) / np.outer(
                norms[a_mask], norms[b_mask]
            )
            ia, ib = np.indices(sims.shape).reshape(2, -1)
            ids_a, ids_b = ids[a_mask], ids[b_mask]
        keep = sims[ia, ib] >= threshold
        ia, ib = ia[keep], ib[keep]
        lo = np.minimum(ids_a[ia], ids_b[ib])
        hi = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": np.round(sims[ia, ib], 6)})

    return rep.groupBy("_bk", "_p", "_q").applyInPandas(
        _score, schema="id_a long, id_b long, sim double"
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id for a vector under fixed hyperplanes.

    The planes are deterministic constants (supplied by the caller), so the
    bucketing is reproducible across engines and runs.
    """
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket.bitwiseOR(
            F.when(_dot(F.transform(vec, lambda x: x.cast("double")), arr) >= 0,
                   F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
        )
    return bucket


def _np_norm_rows(m):
    """Row-normalize a matrix (L2, zero-safe)."""
    import numpy as np

    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _topk_cells_np(raw, cent_matrix, probes: int):
    """THE cell-assignment rule, shared by every IVF stage — the
    ``ivf_seed_cells``/``ivf_topk`` assignment passes (via
    :func:`_cell_assigner`) and ``ivf_topk``'s fused refinement kernel:
    L2-normalize the rows, score against the (already normalized)
    centroid matrix, take the ``probes`` best cells per row. kind="stable"
    is load-bearing: default quicksort is NOT stable, so exact cosine ties
    (duplicate seed embeddings) would break the documented
    lowest-cell-index tie rule the ``ivf_cell_assign`` oracle's
    ORDER BY sc DESC, cell ASC mirrors."""
    import numpy as np

    m = _np_norm_rows(raw)
    return np.argsort(-(m @ cent_matrix.T), axis=1, kind="stable")[:, :probes]


def _cell_assigner(cent_matrix, probes: int):
    """``mapInPandas`` body assigning each vector its ``probes`` nearest
    centroids by cosine (:func:`_topk_cells_np` — stable argsort, ties to
    the lowest cell index, the numpy argmax rule the ``ivf_cell_assign``
    oracle mirrors). Module-level so ``ivf_topk``, the partial-oracle
    query :func:`ivf_seed_cells` and the k-means loop run the SAME
    kernel."""
    import numpy as np

    def fn(batches):
        for pdf in batches:
            raw = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            top = _topk_cells_np(raw, cent_matrix, probes)
            for p in range(probes):
                out = pdf[["_id", "_v"]].copy()
                out["_cell"] = top[:, p].astype("int32")
                yield out

    return fn


def ivf_seed_cells(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF coarse quantizer's SEED assignment pass, exposed as its own
    operator so it can be oracle-twinned (``ivf_cell_assign``): centroids
    are the ``nlist`` lowest-id corpus vectors (normalized) and every
    vector goes to its max-cosine seed — the exact first stage of
    :func:`ivf_topk` (same ``_cell_assigner`` kernel), and the stage that
    decides the Lloyd-refinement sample memberships. Integer output
    (id, cell); the refined-centroid assignment stays rows-only (the
    per-cell float means are summation-order-sensitive across engines).
    """
    import numpy as np

    seeds = (
        corpus.orderBy(F.col(id_col).asc()).limit(nlist)
        .select(vec_col).toPandas()[vec_col]
    )
    cents = _np_norm_rows(
        np.stack([np.asarray(v, dtype=np.float64) for v in seeds])
    )
    prepped = corpus.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    return prepped.mapInPandas(
        _cell_assigner(cents, 1), schema="_id long, _v array<double>, _cell int"
    ).select(F.col("_id").alias(id_col), F.col("_cell").alias("cell"))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_replay: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer splits the
    corpus into `nlist` cells; each query probes only its `nprobe` nearest
    cells and scores those candidates exactly.

    Centroids: the `nlist` lowest-id vectors seed the quantizer, refined by
    one Lloyd step over a deterministic hash-sample of the corpus (assign
    via Arrow-batched NumPy argmax → per-cell mean). Training on a sample
    means the FULL corpus is scanned exactly once — by the final
    assignment pass — instead of once for refinement and again for
    assignment. Only the centroid matrix (nlist x dim floats) ever reaches
    the driver — bounded index metadata, same class as a broadcast dim
    table; corpus vectors stay distributed. At 100 TB the cell id is the
    storage partition key, so probing prunes partitions; `nlist` grows
    with the corpus (~sqrt(N)) and `train_mod` grows so the sample stays
    executor-bounded.

    ``exact_replay=True`` switches the REFINEMENT to the engine-portable
    form that lets the whole query carry a chained-CTE DuckDB oracle —
    the ``pagerank exact_replay`` / BPE promotion recipe applied to the
    one Lloyd step (VERDICT r12 #4): (a) the training sample is selected
    by plain ``id % train_mod`` instead of ``xxhash64`` (the hash is
    Spark-specific, a modulus replays in any engine; both are
    deterministic 1-in-``train_mod`` rules); (b) the refined means are
    computed from exact integer micro-unit component sums — associative,
    so any partial-agg order gives the same bits in both engines — and
    rounded half-up to 6 decimals in integer arithmetic
    (:func:`half_up_mean`), instead of the fused float partial-sum kernel
    whose summation order is engine-local. Assignment, probing, scoring,
    and ranking are the SAME kernels in both modes; cross-engine
    cosine/argmax agreement
    rests on the same separation argument the ``ivf_cell_assign`` /
    ``ann_cosine_topk`` oracles have held green on since r2. The default
    (False) keeps the zero-exchange fused float path for production.
    """
    import numpy as np
    import pandas as pd

    _norm_rows = _np_norm_rows
    _assign = _cell_assigner

    seeds = (
        corpus.orderBy(F.col(id_col).asc()).limit(nlist)
        .select(vec_col).toPandas()[vec_col]
    )
    cents = _norm_rows(np.stack([np.asarray(v, dtype=np.float64) for v in seeds]))

    prepped = corpus.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    # NOT checkpointed (unlike kmeans_clusters): only two passes read this
    # (sample refinement + final assignment). Re-measured r8 at sf0.1,
    # min-of-3: none 0.676 s vs localCheckpoint 0.663 s on the execution
    # phase — a wash, so the simpler no-materialization form stays.
    schema = "_id long, _v array<double>, _cell int"
    # refinement trains on a deterministic 1/train_mod sample so the
    # full corpus is only assigned once (below, under the refined centroids)
    train_mod = 4

    if exact_replay:
        # engine-portable refinement (see docstring): modulus sample,
        # assign with the shared kernel, then exact micro-unit component
        # sums → integer half-up means. Driver pull is nlist x dim rows —
        # the bounded k-means-centroid class.
        sample = prepped.filter(F.pmod(F.col("_id"), F.lit(train_mod)) == 0)
        # r16: assignment + exact decimal partial sums fused into one
        # Arrow kernel (shared with _kmeans_fit) — the sample's vectors
        # never cross back to the JVM and no N×dim posexplode runs;
        # bit-parity argued at _micro_partial_sums.
        mean_rows = _exact_mean_rows(sample, cents)
        cents2 = cents.copy()  # member-less cells keep their seed row
        if mean_rows:
            raw = np.zeros_like(cents)
            for r in mean_rows:
                raw[r["_cell"], r["_dim"]] = r["_m"]
            touched = sorted({int(r["_cell"]) for r in mean_rows})
            cents2[touched] = _norm_rows(raw[touched])
        return _ivf_probe_rank(
            queries, prepped, cents2, k, nlist, nprobe, id_col, vec_col
        )

    sample = prepped.filter(
        F.pmod(F.xxhash64(F.col("_id")), F.lit(train_mod)) == 0
    ).withColumn("_pid", F.spark_partition_id())

    # One Lloyd refinement, FUSED into a single Python stage: each task
    # assigns its batch (same _topk_cells_np rule as every other IVF
    # stage) and emits per-(partition, cell) partial sums — ≤ nlist tiny
    # rows per batch — which the driver combines in canonical
    # (cell, partition) order. Replaces the r7 shape (assignment
    # mapInPandas → groupBy → applyInPandas → toPandas): same bounded
    # driver pull, but one Python stage and ZERO exchanges instead of two
    # Python stages around a shuffle (measured 0.67 → 0.27 s at sf0.1 —
    # the construction latency the r7→r8 bench regression traced to).
    # At cluster scale the partials are a map-side-only aggregation: the
    # refinement never reshuffles the sample.
    def _partial_cell_sums(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            cells = _topk_cells_np(raw, cents, 1)[:, 0]
            pid = int(pdf["_pid"].iloc[0])
            rows = []
            for c in np.unique(cells):
                mask = cells == c
                rows.append(
                    (pid, int(c), raw[mask].sum(axis=0).tolist(),
                     int(mask.sum()))
                )
            yield pd.DataFrame(
                rows, columns=["_pid", "_cell", "_s", "_n"]
            )

    parts = sample.mapInPandas(
        _partial_cell_sums,
        schema="_pid int, _cell int, _s array<double>, _n long",
    ).toPandas()
    cents2 = cents.copy()  # cells that lost all members keep their seed
    if len(parts):
        parts = parts.sort_values(["_cell", "_pid"], kind="stable")
        touched = []
        for c, grp in parts.groupby("_cell", sort=True):
            s = np.stack([np.asarray(v) for v in grp["_s"]]).sum(axis=0)
            cents2[int(c)] = s / grp["_n"].sum()
            touched.append(int(c))
        # normalize ONLY the rows rebuilt from partial sums: member-less
        # cells keep their seed row byte-identical (re-normalizing a
        # ~unit-norm seed can shift it by an ulp and flip assignments at
        # exact ties)
        cents2[touched] = _norm_rows(cents2[touched])

    return _ivf_probe_rank(
        queries, prepped, cents2, k, nlist, nprobe, id_col, vec_col
    )


def _ivf_probe_rank(
    queries: DataFrame,
    prepped: DataFrame,
    cents2,
    k: int,
    nlist: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The probe-and-rank tail shared by both :func:`ivf_topk` refinement
    modes: assign the corpus and the queries under the refined centroid
    matrix (same :func:`_cell_assigner` kernel), join candidates on cell,
    score exactly by cosine, rank with the ascending-id tiebreak."""
    schema = "_id long, _v array<double>, _cell int"
    _assign = _cell_assigner
    corpus_cells = prepped.mapInPandas(_assign(cents2, 1), schema=schema)
    q_prepped = queries.select(
        F.col(id_col).alias("_qid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    ).withColumnsRenamed({"_qid": "_id", "_qv": "_v"})
    q_cells = q_prepped.mapInPandas(
        _assign(cents2, min(nprobe, nlist)), schema=schema
    ).withColumnsRenamed({"_id": "_qid", "_v": "_qv"})

    pairs = corpus_cells.join(F.broadcast(q_cells), on="_cell").filter(
        F.col("_qid") != F.col("_id")
    )
    scored = pairs.withColumn("sim", cosine(F.col("_qv"), F.col("_v")))
    w = Window.partitionBy("_qid").orderBy(
        F.col("sim").desc(), F.col("_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_id").alias("neighbor_id"),
            "rank",
            F.round("sim", 6).alias("sim"),
        )
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing an LSH bucket.

    At 100 TB the bucket column is also the natural storage partition key:
    queries then prune to a handful of partitions instead of the full scan.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
    ).withColumn("_bk", hyperplane_bucket(F.col("_qv"), planes))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
    ).withColumn("_bk", hyperplane_bucket(F.col("_cv"), planes))
    pairs = c.join(F.broadcast(q), on="_bk").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn("sim", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def kmeans_clusters(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_replay: bool = False,
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column — corpus
    clustering for curation (domain discovery, cluster-balanced sampling,
    per-cluster dedup budgets; the same clustering ``ivf_topk`` uses as an
    index, exposed as a first-class operator).

    Deterministic by construction: seeds are the ``k`` lowest-id vectors,
    a FIXED ``n_iter`` Lloyd rounds (no convergence race), cosine
    assignment with argmax-ties broken by lowest centroid index
    (:func:`_topk_cells_np`). The cast ``(id, vector)`` frame is
    checkpointed once; an Observation on that job counts its components
    (rows x dim), and the count picks one of two paths:

    - **Driver path**, at most ``driver_path.KMEANS_DRIVER_VALUES_CAP``
      components: the checkpoint is collected once through Arrow and every
      round runs in numpy on the driver (:func:`_lloyd_local`). The labelled
      corpus, each row with its centroid, goes back as an Arrow-built
      local relation. Per-round job overhead, not the data, sets the
      latency at this size: at sf0.1 (2,000 x 64) the loop ran 10 Spark
      jobs.
    - **Distributed loop**, above the cap: each round is one Arrow-batched
      assignment pass (``mapInPandas``) plus one per-cell mean, and only
      the k x dim centroid matrix reaches the driver. At 100 TB: k grows
      ~sqrt(N), the assignment pass is embarrassingly parallel, and the
      per-round driver collect is k rows regardless of corpus size.

    Both paths share the assignment rule, the quantizer and the mean rule,
    so they return the same rows. Returns ``(id_col, cluster_id, sim)`` —
    sim is cosine similarity to the assigned (final) centroid, rounded to
    6 by a Spark expression on either path.

    ``exact_replay=True`` computes each round's per-cell means from exact
    integer micro-unit component sums (each component quantized as
    ``cast(double AS decimal(18,6))`` does), rounded half away from zero
    in integer arithmetic (:func:`half_up_mean`). Integer sums are
    associative, so any partial-agg order gives the same bits in every
    engine, and the integer rounding has no double quotient whose decimal
    half-ties two engines could break differently. That makes the FULL
    fixed-round run replayable as chained SQL CTEs and lets
    ``embedding_kmeans`` carry a complete DuckDB oracle. The float mode
    takes the id-ordered mean of each cell's members. Cross-engine
    agreement of the argmax and the final ``round(sim, 6)`` rests on the
    separation of the cosine scores, as in the assignment oracles.
    """
    prepped, local = _kmeans_prepped(corpus, id_col, vec_col)
    cents = _kmeans_fit(prepped, k, n_iter, exact_replay, local)
    spark = corpus.sparkSession
    if local is None:
        final = prepped.mapInPandas(
            _cell_assigner(cents, 1),
            schema="_id long, _v array<double>, _cell int",
        ).join(
            F.broadcast(driver_path.local_frame(
                spark,
                [range(len(cents)), list(cents)],
                "_cell int, _cv array<double>",
            )),
            "_cell",
        )
    else:
        # each row carries its centroid, so the write needs no join job
        table, _, raw = local
        cells = _topk_cells_np(raw, cents, 1)[:, 0]
        final = driver_path.local_frame(
            spark,
            [table["_id"], table["_v"], cells, list(cents[cells])],
            "_id long, _v array<double>, _cell int, _cv array<double>",
        )
    return (
        final.select(
            F.col("_id").alias(id_col),
            F.col("_cell").alias("cluster_id"),
            F.round(cosine(F.col("_v"), F.col("_cv")), 6).alias("sim"),
        )
    )


def _kmeans_prepped(corpus: DataFrame, id_col: str, vec_col: str):
    """``(prepped, local)`` for :func:`_kmeans_fit`. ``prepped`` is the
    corpus as a checkpointed ``(_id, _v double[])`` frame; ``local`` is
    ``(arrow table, ids, vectors)`` of the same rows, collected in one job,
    when they hold at most ``driver_path.KMEANS_DRIVER_VALUES_CAP``
    components, and None above it. The component count rides the
    checkpoint's own job as an Observation.

    The loop path reads ``prepped`` n_iter+2 times, so the cast vectors
    are materialized once instead of re-scanning parquet and re-casting
    per Lloyd round (the standard cache-the-input shape for iterative ML;
    at cluster scale a persist of (id, double[]), strictly smaller than
    re-decoding the source each round). NOT rebalanced (r16, measured):
    the per-round fused kernel is matmul-cheap, so fanning a single-split
    local input to core-count partitions costs more in shuffle and
    per-round task scheduling than the parallelism returns (~4.6-5.6 s vs
    ~3.4 s for 5 exact rounds at sf0.1); a production scan is already
    well-split."""
    import numpy as np
    import pyarrow.compute as pc

    counted = Observation()
    prepped = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .observe(counted, F.sum(F.size("_v")).alias("values"))
        .localCheckpoint()
    )
    if (counted.get["values"] or 0) > driver_path.KMEANS_DRIVER_VALUES_CAP:
        return prepped, None
    table = prepped.toArrow()
    vecs = table["_v"].combine_chunks()
    lens = pc.list_value_length(vecs)
    if vecs.null_count or pc.min_max(lens)["min"] != pc.min_max(lens)["max"]:
        raise ValueError("k-means needs one non-null vector length per row")
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    raw = flat.astype(np.float64).reshape(len(vecs), -1)
    ids = table["_id"].to_numpy()
    return prepped, (table, ids, raw)


def _micro_quantize(x):
    """Vectorized int64 "micro units" replicating Spark's
    ``cast(double AS decimal(18,6))``: java ``BigDecimal.valueOf(d)``
    parses the SHORTEST decimal repr (exactly what Python ``repr(float)``
    prints) and ``setScale(6, HALF_UP)`` rounds ties away from zero.
    Fast path: ``floor(|x|*1e6 + 0.5)`` — exact whenever the scaled value
    is not within float error of a .5 tie; elements inside a 1e-4 margin
    of the tie (or non-finite, or too large for the fast path's error
    bound) take the per-element ``Decimal(repr(x))`` path. Returns
    ``(micros int64, valid bool)``; invalid elements (cast → NULL in
    Spark: NaN/±inf, |rounded| beyond decimal(18,6)'s 12 integer digits)
    report micros=0 so an exact sum skips them like SQL ``sum`` skips
    NULL."""
    import numpy as np

    ax = np.abs(x)
    scaled = ax * 1e6
    fast = np.floor(scaled + 0.5)
    frac = np.abs(scaled - np.floor(scaled) - 0.5)
    # |x| < 1e4 bounds the scaling's absolute error to ~1.1e-6 — two
    # orders under the 1e-4 tie margin, so a fast-path round can never
    # land on the wrong side of the boundary the margin doesn't catch
    risky = (frac < 1e-4) | ~np.isfinite(x) | (ax >= 1e4)
    out = np.where(x < 0, -fast, fast)
    out[risky] = 0.0  # keep the int64 cast below in exact-float range
    valid = np.ones(x.shape, dtype=bool)
    if risky.any():
        from decimal import Decimal, ROUND_HALF_UP

        q6 = Decimal("0.000001")
        cap = Decimal("1000000000000")  # decimal(18,6): 12 integer digits
        micros = out
        for idx in np.argwhere(risky):
            i = tuple(idx)
            v = float(x[i])
            if v != v or v in (float("inf"), float("-inf")):
                valid[i] = False
                continue
            d = Decimal(repr(v)).quantize(q6, rounding=ROUND_HALF_UP)
            if d.copy_abs() >= cap:
                valid[i] = False
            else:
                micros[i] = float(d.scaleb(6))
    return out.astype(np.int64), valid


def _micro_partial_sums(cent_matrix):
    """``mapInPandas`` body FUSING the Lloyd assignment pass with the
    exact per-(cell, dim) component sums in int64 micro-units (guide
    §2.3/§4.2: aggregate before anything crosses a boundary; ship
    partials, not payloads): the raw vectors never cross Python→JVM and
    the exchange carries ≤ tasks × k × dim tiny partial rows. Integer
    addition is exact, so ANY partial grouping gives the same totals (the
    associativity the exact_replay contract is built on); per-element
    quantization parity with Spark's ``cast(double AS decimal(18,6))`` is
    :func:`_micro_quantize`."""
    import numpy as np
    import pandas as pd

    k, dim = cent_matrix.shape

    def fn(batches):
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            cells = _topk_cells_np(raw, cent_matrix, 1)[:, 0].astype("int64")
            micros, valid = _micro_quantize(raw)
            micros[~valid] = 0  # NULL-parity: sum skips, count doesn't
            np.add.at(sums, cells, micros)
            counts += np.bincount(cells, minlength=k)
        touched = np.nonzero(counts)[0]
        if not len(touched):
            return
        yield pd.DataFrame({
            "_cell": np.repeat(touched, dim).astype("int32"),
            "_dim": np.tile(np.arange(dim, dtype="int32"), len(touched)),
            "_s": sums[touched].ravel(),
            "_n": np.repeat(counts[touched], dim),
        })

    return fn


def half_up_mean(s: Column, n: Column) -> Column:
    """The mean of an exact micro-unit sum ``s`` (int64 units of 1e-6)
    over ``n`` members, rounded half away from zero to 6 decimals in
    integer arithmetic: ``sign(s) * ((2|s| + n) div 2n) / 1e6``.

    Rounding the double quotient instead (``round(double(s)/n, 6)``) is not
    portable: a mean such as 0.712630 / 20 = 0.0356315 is an exact decimal
    half-tie, its double quotient sits just below the tie, and Spark (which
    rounds the double's decimal string) and DuckDB (which scales first)
    round it in opposite directions. A quotient that is not a tie gives
    the same double as before. :func:`_half_up_mean_np` is the numpy twin,
    and the DuckDB oracles spell the same formula."""
    q = F.call_function("div", 2 * F.abs(s) + n, 2 * n)
    return F.when(s < 0, -q).otherwise(q) / F.lit(1e6)


def _half_up_mean_np(s, n):
    """:func:`half_up_mean` over int64 numpy arrays."""
    import numpy as np

    q = (2 * np.abs(s) + n) // (2 * n)
    return np.where(s < 0, -q, q) / 1e6


def _exact_mean_rows(frame, cent_matrix):
    """Driver-collected ``(cell, dim, mean)`` rows of one exact-replay
    Lloyd round over a prepped ``(_id, _v)`` frame — the shared
    round body of :func:`_kmeans_fit`'s loop and :func:`ivf_topk`'s
    ``exact_replay`` refinement: fused assignment and micro-unit partial
    sums (:func:`_micro_partial_sums`), summed per (cell, dim), then the
    integer half-up mean (:func:`half_up_mean`)."""
    return (
        frame.mapInPandas(
            _micro_partial_sums(cent_matrix),
            schema="_cell int, _dim int, _s long, _n long",
        )
        .groupBy("_cell", "_dim")
        .agg(F.sum("_s").alias("_s"), F.sum("_n").alias("_n"))
        .select(
            "_cell", "_dim", half_up_mean(F.col("_s"), F.col("_n")).alias("_m")
        )
        .collect()
    )


def _kmeans_fit(prepped, k: int, n_iter: int, exact_replay: bool, local=None):
    """The deterministic Lloyd loop over a prepped ``(_id, _v)`` frame:
    k lowest-id seeds, ``n_iter`` fixed rounds, per-round driver state =
    the k×dim centroid matrix. Shared by :func:`kmeans_clusters` (which
    labels the corpus with the result) and :func:`freeze_kmeans` (which
    persists it as the deployment artifact). With ``local`` (the
    driver-held rows from :func:`_kmeans_prepped`) the rounds run in
    numpy (:func:`_lloyd_local`); without it, as Spark jobs."""
    import numpy as np
    import pandas as pd

    if local is not None:
        _, ids, raw = local
        return _lloyd_local(ids, raw, k, n_iter, exact_replay)

    seeds = (
        prepped.orderBy(F.col("_id").asc()).limit(k).toPandas()["_v"]
    )
    cents = _np_norm_rows(
        np.stack([np.asarray(v, dtype=np.float64) for v in seeds])
    )

    schema = "_id long, _v array<double>, _cell int"

    def _cell_mean(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        # id-sorted before the mean: float summation is order-dependent,
        # and group row order otherwise varies with upstream partitioning
        pdf = pdf.sort_values("_id")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        return pd.DataFrame({"_cell": [key[0]], "_v": [m.mean(axis=0).tolist()]})

    for _ in range(n_iter):
        new_cents = cents.copy()
        if exact_replay:
            # exact integer component means (see kmeans_clusters); the
            # driver pull is k x dim rows — the bounded centroid class
            mean_rows = _exact_mean_rows(prepped, cents)
            if mean_rows:
                raw = np.zeros_like(cents)
                for r in mean_rows:
                    raw[r["_cell"], r["_dim"]] = r["_m"]
                touched = sorted({int(r["_cell"]) for r in mean_rows})
                new_cents[touched] = _np_norm_rows(raw[touched])
        else:
            assigned = prepped.mapInPandas(
                _cell_assigner(cents, 1), schema=schema
            )
            means = (
                assigned.groupBy("_cell")
                .applyInPandas(_cell_mean, schema="_cell int, _v array<double>")
                .toPandas()  # bounded: k rows
            )
            new_cents[means["_cell"].to_numpy()] = _np_norm_rows(
                np.stack([np.asarray(v) for v in means["_v"]])
            )
        cents = new_cents  # empty cells keep their previous centroid

    return cents


def _lloyd_local(ids, raw, k: int, n_iter: int, exact_replay: bool):
    """:func:`_kmeans_fit`'s rounds over driver-held ``(ids, vectors)``,
    giving the loop path's bits: the same seeds (the k lowest ids), the
    same assignment rule (:func:`_topk_cells_np`), and per mode the same
    mean — integer micro-unit sums (:func:`_micro_quantize`) under
    :func:`_half_up_mean_np`, or the id-ordered float mean of each
    cell's members, as ``_cell_mean`` takes it."""
    import numpy as np

    if not len(ids):
        raise ValueError("k-means over an empty corpus")
    raw = raw[np.argsort(ids, kind="stable")]
    cents = _np_norm_rows(raw[:k])
    if exact_replay:
        micros, valid = _micro_quantize(raw)
        micros[~valid] = 0  # NULL-parity: sum skips, count doesn't
    for _ in range(n_iter):
        cells = _topk_cells_np(raw, cents, 1)[:, 0]
        counts = np.bincount(cells, minlength=len(cents))
        touched = np.nonzero(counts)[0]
        if exact_replay:
            sums = np.stack([micros[cells == c].sum(axis=0) for c in touched])
            means = _half_up_mean_np(sums, counts[touched, None])
        else:
            means = np.stack([raw[cells == c].mean(axis=0) for c in touched])
        cents = cents.copy()  # empty cells keep their previous centroid
        cents[touched] = _np_norm_rows(means)
    return cents


@functools.lru_cache(maxsize=None)
def _code_digest() -> str:
    """A digest of this module's source, read once per process. Freeze
    stamps carry it, so an artifact built by other trainer code reads as
    stale instead of serving centroids this code would not produce."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def freeze_kmeans(
    corpus: DataFrame,
    path: str,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_fingerprint: str | None = None,
    exact_replay: bool = False,
) -> None:
    """Persist the trained k-means centroids as a deployment artifact —
    train-once/assign-many for domain clustering, exactly the frozen
    posture the IVF-PQ index, bigram LM, and DSIR weights already have:
    a curation pipeline clusters the corpus ONCE, then every daily batch
    assigns against the frozen centroids at O(new) cost
    (:func:`kmeans_assign_frozen`) instead of re-running Lloyd.

    Layout: ``{path}/centroids`` (cell, c) + a ``{path}/_src`` text
    sidecar recording the corpus fingerprint, the train params and the
    digest of the code that trained them (:func:`_code_digest`), written
    AFTER the table (validity marker last — a torn rewrite reads stale
    and refreezes; the sidecar is deleted before the rewrite so a stale
    marker can never vouch for mixed halves). Fresh ⇒ skip. An empty
    fingerprint (non-file-backed corpus) always refreezes."""
    from ..storage.artifact import (
        fs_delete,
        read_text_sidecar,
        write_text_sidecar,
    )

    spark = corpus.sparkSession
    src = (
        src_fingerprint
        if src_fingerprint is not None
        else ivf_pq_fingerprint(corpus)
    )
    stamp = (
        f"{src}|k={k}|n={n_iter}|replay={int(bool(exact_replay))}"
        f"|id={id_col}|vec={vec_col}|code={_code_digest()}"
        if src
        else ""
    )
    marker = f"{path}/_src"
    if stamp and read_text_sidecar(spark, marker) == stamp:
        return
    fs_delete(spark, marker)
    prepped, local = _kmeans_prepped(corpus, id_col, vec_col)
    cents = _kmeans_fit(prepped, k, n_iter, exact_replay, local)
    driver_path.local_frame(
        spark, [range(len(cents)), list(cents)], "cell int, c array<double>"
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    write_text_sidecar(spark, marker, stamp)


def kmeans_assign_frozen(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign a batch of vectors to a :func:`freeze_kmeans` artifact's
    clusters — the O(new) deployment pass: centroids load from the
    written table (k rows), the batch cross-joins the broadcast centroid
    frame JVM-side (cosine via ``zip_with``/``aggregate`` — no Python in
    the loop), and a per-vector window picks the max-cosine cell (ties →
    lowest cell). Returns ``(id_col, cluster_id, sim)``, sim rounded to
    6 — the :func:`kmeans_clusters` output contract, so downstream
    consumers (within-cluster pairs, cluster-balanced sampling) take
    either source. Refuses a torn artifact (missing ``_src`` marker)
    loudly."""
    from ..storage.artifact import read_text_sidecar

    spark = batch.sparkSession
    if read_text_sidecar(spark, f"{path}/_src") is None:
        raise ValueError(
            f"no complete k-means artifact at {path} (missing _src "
            "marker) — freeze_kmeans first"
        )
    cents = spark.read.parquet(f"{path}/centroids").select(
        F.col("cell").alias("cluster_id"), F.col("c").alias("_cv")
    )
    q = batch.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    # rank on the RAW cosine (round only the output): rounding before
    # the argmax would manufacture ties at 1e-6 resolution that the
    # separation argument doesn't cover
    scored = q.join(F.broadcast(cents), how="cross").withColumn(
        "_sc", cosine(F.col("_v"), F.col("_cv"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_sc").desc(), F.col("cluster_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "cluster_id", F.round("_sc", 6).alias("sim"))
    )


def semdedup_gate(
    batch: DataFrame,
    history: DataFrame,
    path: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    history_assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup at O(new) — the incremental deployment form the exact
    and MinHash dedup families already have (``dedup_incremental``,
    ``minhash_incremental``), completing the set: instead of
    re-clustering corpus ∪ batch, the ARRIVING batch assigns against
    the :func:`freeze_kmeans` centroids at ``path`` (k-row broadcast)
    and is gated per cell — rejected if any same-cell HISTORY vector
    sits at cosine ≥ threshold (the SemDeDup duplicate criterion), or
    if a smaller-id same-cell batch mate does (min-id-wins, the
    ``_neardup_gate`` intra-batch rule, deliberately non-recursive so a
    replay reproduces the verdict without chaining).

    Cost shape at 100 TB: the batch side is broadcast EVERYWHERE — the
    history scan is one pass joined on the cell key against a
    batch-sized build side (never shuffled, never re-clustered), and
    the intra-batch pair search is Σ|batch-cell|². Pass
    ``history_assigned`` (an ``(id_col, cluster_id)`` frame — the
    STORED assignment table a production pipeline maintains; the
    freeze/assign contract guarantees it equals a recompute) to make
    the history side a pure equi-join scan; when omitted, assignments
    are recomputed from the frozen centroids for self-containment,
    which adds a history×k argmax pass (measured ~4× the gate's
    deployment cost at 25× — SCALE.md r15). Returns ``(id_col, keep
    boolean)`` for the batch."""
    prep_v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    a_new = kmeans_assign_frozen(batch, path, id_col, vec_col).select(
        id_col, "cluster_id"
    )
    n_frame = a_new.join(
        batch.select(id_col, prep_v.alias("_nv")), id_col
    ).select(F.col(id_col).alias("_nid"), "cluster_id", "_nv")
    a_hist = (
        history_assigned.select(id_col, "cluster_id")
        if history_assigned is not None
        else kmeans_assign_frozen(history, path, id_col, vec_col).select(
            id_col, "cluster_id"
        )
    )
    h_frame = a_hist.join(
        history.select(id_col, prep_v.alias("_hv")), id_col
    ).select(F.col(id_col).alias("_hid"), "cluster_id", "_hv")
    hist_hits = (
        h_frame.join(F.broadcast(n_frame), "cluster_id")
        .filter(
            F.round(cosine(F.col("_nv"), F.col("_hv")), 6)
            >= F.lit(float(threshold))
        )
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    intra = (
        within_cluster_pairs(
            a_new.join(batch.select(id_col, vec_col), id_col),
            threshold, id_col, vec_col,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    rejected = hist_hits.union(intra).distinct().withColumn(
        "_r", F.lit(True)
    )
    return (
        batch.select(id_col)
        .join(rejected, id_col, "left")
        .select(id_col, F.col("_r").isNull().alias("keep"))
    )


def within_cluster_pairs(
    assigned: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Embedding near-dup candidate pairs restricted to k-means cells —
    the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): semantic
    duplicates are near-identical vectors, near-identical vectors land in
    the same cluster, so the pair search runs per-cell instead of
    all-pairs. Candidate volume drops from O(N²) to Σ|cell|², and the
    cell id is the one shuffle key — each cell's pairs compute where its
    vectors already live. Guaranteeing recall ACROSS cell boundaries is
    the caller's k/threshold trade (SemDeDup accepts boundary misses;
    for guaranteed recall use the LSH path in ``lsh_topk``).

    Returns ``(id_a, id_b, sim)`` with ``id_a < id_b``, cosine >= threshold.
    """
    import numpy as np
    import pandas as pd

    def _cell_pairs(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        # one BLAS matmul per cell instead of a per-pair expression over
        # exploded array copies: the self-join form materialized both
        # 64-float vectors for every candidate pair and evaluated an
        # aggregate expression each time (measured 3x slower on the
        # semantic_dedup composition). Memory is O(|cell|^2) per task —
        # bounded by the caller's k (SemDeDup sizes cells ~N/k with k
        # grown alongside N); for unbounded cells use the blocked matmul
        # in neardup_pairs.
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        m = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = np.round(m @ m.T, 6)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "sim": sims[ia[keep], ib[keep]],
            }
        )

    return (
        assigned.select(cluster_col, id_col, vec_col)
        .groupBy(cluster_col)
        .applyInPandas(_cell_pairs, "id_a long, id_b long, sim double")
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dup_threshold: float = 0.3,
    floor: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive hard-negative mining (the DPR / SimCSE training-data
    prep step, Karpukhin et al. 2020 §4.2): for each anchor vector, the
    top-k most similar corpus vectors that are NOT near-duplicates —
    cosine strictly below ``dup_threshold`` (at or above it the pair is
    a positive/duplicate, exactly the ``embedding_neardup_pairs`` band,
    and training on it as a negative would be a false negative) and at
    least ``floor`` (below that the negative is "easy" and carries no
    gradient signal). Returns ``(query_id, neighbor_id, rank, sim)``.

    Determinism: the similarity is ROUNDED to 6 before both band
    comparisons and the ranking, so every engine makes identical
    keep/drop and order calls (rank ties at equal rounded sim break by
    ascending neighbor id).

    Scale: same posture as :func:`cosine_topk` — the anchor side
    broadcasts, dot products are JVM fold expressions, and the top-k is
    a WindowGroupLimit per anchor. For corpus-sized anchor sets use
    :func:`hard_negative_topk_lsh` — the hyperplane-LSH-prefiltered
    composition where only bucket-mates score and nothing corpus-sized
    broadcasts.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.join(F.broadcast(q), how="cross")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
        .filter(
            (F.col("sim") >= F.lit(float(floor)))
            & (F.col("sim") < F.lit(float(dup_threshold)))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def hard_negative_topk_lsh(
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    dup_threshold: float = 0.3,
    floor: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """Corpus-scale hard-negative mining — :func:`hard_negative_topk`
    with EVERY corpus vector as an anchor, prefiltered by the same
    deterministic hyperplane-LSH buckets as
    :func:`embedding_neardup_pairs`: candidates are restricted to
    same-sign-pattern bucket mates, so the pair space falls from O(N²)
    to Σ n_bucket² and — the point of this variant — NO corpus-sized
    side is ever broadcast. There is no join at all: the scorer is the
    near-dup family's blocked Arrow/NumPy matmul (one ``applyInPandas``
    task per (bucket, block-pair), per-task memory bounded by
    ``blocks``), emitting only in-band pairs; a first JVM-join draft of
    this operator spent 12.9 s at sf0.1 in interpreted fold-cosine
    lambdas vs ~1 s for the matmul shape — the measured engine rule from
    SCALE.md holds here too.

    Semantics match :func:`hard_negative_topk` restricted to bucket
    mates: keep ROUNDED-6 cosine in ``[floor, dup_threshold)`` — above
    the band is a near-duplicate (false negative), below carries no
    gradient — and take the top-k per anchor (ties break by ascending
    neighbor id). LSH bias works FOR this miner: bucket mates are the
    high-similarity region where hard negatives live; the recall loss is
    confined to easier (cross-bucket) negatives, the ones top-k discards
    anyway. Returns ``(query_id, neighbor_id, rank, sim)``.

    Scale: one shuffle of (id, vector, ~blocks replicas) on the
    (bucket, block-pair) key + the per-anchor WindowGroupLimit top-k
    over in-band pairs only. Hot sign-patterns split across block pairs;
    for skew beyond that add planes (buckets halve per plane) — the same
    knob as the near-dup prefilter.
    """
    import numpy as np
    import pandas as pd

    prepped = corpus.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int").alias("_b"),
        hyperplane_bucket(F.col(vec_col), planes).alias("_bk"),
    )
    rep = prepped.select(
        "_id", "_v", "_b", "_bk",
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_o"),
    ).select(
        "_id", "_v", "_b", "_bk",
        F.least("_b", "_o").alias("_p"),
        F.greatest("_b", "_o").alias("_q"),
    )

    lo, hi = float(floor), float(dup_threshold)

    def _banded(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # each unordered bucket-mate pair reaches exactly one task (the
        # neardup replication invariant); emit BOTH directions so every
        # vector anchors its own top-k
        p, q = key[-2], key[-1]
        m_all = np.stack(pdf["_v"].to_numpy())
        ids = pdf["_id"].to_numpy()
        norms = np.linalg.norm(m_all, axis=1)
        blk = pdf["_b"].to_numpy()
        if p == q:
            sims = np.round((m_all @ m_all.T) / np.outer(norms, norms), 6)
            ia, ib = np.triu_indices(len(ids), k=1)
            ids_a = ids_b = ids
        else:
            a_mask, b_mask = blk == p, blk == q
            sims = np.round(
                (m_all[a_mask] @ m_all[b_mask].T)
                / np.outer(norms[a_mask], norms[b_mask]),
                6,
            )
            ia, ib = np.indices(sims.shape).reshape(2, -1)
            ids_a, ids_b = ids[a_mask], ids[b_mask]
        s = sims[ia, ib]
        keep = (s >= lo) & (s < hi)  # band on the ROUNDED sim
        qa, nb, sv = ids_a[ia[keep]], ids_b[ib[keep]], s[keep]
        return pd.DataFrame(
            {
                "query_id": np.concatenate([qa, nb]),
                "neighbor_id": np.concatenate([nb, qa]),
                "sim": np.concatenate([sv, sv]),
            }
        )

    pairs = rep.groupBy("_bk", "_p", "_q").applyInPandas(
        _banded, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _assign_encode_kernel(cent_matrix, seeds, m: int, sub: int):
    """``mapInPandas`` body FUSING the IVF coarse assignment with the PQ
    encode — ONE Arrow pass over the corpus emitting
    ``(_id, _cell, _codes array<int>)`` instead of two full passes (cell
    assignment, then encode) joined back on id (guide §1.2: remove whole
    passes first). Cell rule is the shared :func:`_topk_cells_np`
    (identical to :func:`_cell_assigner` with probes=1); per-subspace
    code is the same L2 ``argmin`` as :func:`pq_codes` — the fused
    artifact rows are bit-identical to the two-pass form's."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            cell = _topk_cells_np(raw, cent_matrix, 1)[:, 0].astype("int32")
            codes = np.empty((len(raw), m), dtype=np.int32)
            for j in range(m):
                Xs = raw[:, j * sub:(j + 1) * sub]
                Ss = seeds[:, j * sub:(j + 1) * sub]
                d = ((Xs[:, None, :] - Ss[None, :, :]) ** 2).sum(axis=-1)
                codes[:, j] = d.argmin(axis=1).astype("int32")
            yield pd.DataFrame(
                {"_id": pdf["_id"], "_cell": cell, "_codes": list(codes)}
            )

    return fn


def _pq_seeds(corpus: DataFrame, k_codes: int, id_col: str, vec_col: str):
    """Seed codebook source: the ``k_codes`` lowest-id corpus vectors,
    RAW (PQ quantizes in L2 space — normalizing would distort subvector
    distances). Bounded driver pull (k rows), the ``ivf_seed_cells``
    class. Per-subspace codewords are these vectors' subvector slices —
    the same seeds-then-refine posture as IVF; a Lloyd-refined codebook
    drops in without touching the encode/ADC shape (refined means are
    summation-order-sensitive across engines, so the seeded form is the
    oracle-twinned one)."""
    import numpy as np

    rows = (
        corpus.orderBy(F.col(id_col).asc()).limit(k_codes)
        .select(vec_col).toPandas()[vec_col]
    )
    return np.stack([np.asarray(v, dtype=np.float64) for v in rows])


def _adc_table(seeds, m: int, sub: int):
    """Shared ADC distance-table kernel for :func:`pq_adc_topk` and
    :func:`ivf_pq_topk` (extracted so the two search paths cannot
    drift): a ``mapInPandas`` generator that, per query vector, emits
    the round-6 squared-L2 partial distance from each of its ``m``
    subvectors to every codeword — the nq x m x k_codes bounded table
    that broadcasts to the corpus-side code join."""
    import numpy as np
    import pandas as pd

    def _tab(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            frames = []
            for j in range(m):
                Qs = Q[:, j * sub:(j + 1) * sub]
                Ss = seeds[:, j * sub:(j + 1) * sub]
                d = np.round(
                    ((Qs[:, None, :] - Ss[None, :, :]) ** 2).sum(axis=-1), 6
                )
                for c in range(seeds.shape[0]):
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": pdf["_id"],
                                "subspace": np.int32(j),
                                "code": np.int32(c),
                                "pdist": d[:, c],
                            }
                        )
                    )
            yield pd.concat(frames)

    return _tab


def pq_codes(
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds=None,
) -> DataFrame:
    """Product-quantization encoding (Jégou, Douze & Schmid 2011, "Product
    Quantization for Nearest Neighbor Search" — the FAISS IVF-PQ building
    block): split each vector into ``m`` equal subvectors and store, per
    subspace, the id of the nearest codeword (L2, ties to the lowest
    code — numpy argmin's first-occurrence rule). A 64-dim float64
    vector becomes m=4 small ints: the 100 TB memory story — the
    scored-against representation shrinks ~128x, and at search time the
    corpus side of ADC carries ONLY these ints, never raw vectors.

    Returns LONG format ``(id, subspace, code)`` — m rows per vector:
    the join-ready shape for :func:`pq_adc_topk`'s broadcast
    lookup-table join (a wide per-vector row would need an unpivot
    before every search anyway; the ``pq_encode`` query pivots wide for
    its integer-exact oracle compare).

    Scale: one Arrow-batched NumPy pass over the corpus (the
    ``_cell_assigner`` posture); per-task state is the (k_codes x dim)
    codebook.
    """
    import numpy as np
    import pandas as pd

    if seeds is None:
        seeds = _pq_seeds(corpus, k_codes, id_col, vec_col)
    dim = seeds.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    def _enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            frames = []
            for j in range(m):
                Xs = X[:, j * sub:(j + 1) * sub]
                Ss = seeds[:, j * sub:(j + 1) * sub]
                d = ((Xs[:, None, :] - Ss[None, :, :]) ** 2).sum(axis=-1)
                frames.append(
                    pd.DataFrame(
                        {
                            "_id": pdf["_id"],
                            "subspace": np.int32(j),
                            "code": d.argmin(axis=1).astype("int32"),
                        }
                    )
                )
            yield pd.concat(frames)

    prepped = corpus.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    return prepped.mapInPandas(
        _enc, schema="_id long, subspace int, code int"
    ).select(F.col("_id").alias(id_col), "subspace", "code")


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k over PQ codes (Jégou
    2011 §III.B): each query precomputes its distance TABLE — squared L2
    from its m subvectors to every codeword, nq x m x k_codes bounded
    rows — and a corpus vector's approximate distance is the sum of m
    table lookups on its codes. Smaller distance = nearer; ties break by
    ascending neighbor id; partial distances and the final sum round to
    6 so an external engine makes identical ranking calls.

    Scale — the reason PQ exists: the corpus side of the search is the
    ``(id, subspace, code)`` int table from :func:`pq_codes` (never raw
    vectors), the distance table BROADCASTS (nq x m x k_codes rows —
    query-set-sized, the `ann_cosine_topk` bounded class), the lookup is
    a broadcast hash join on (subspace, code), and the per-(query,
    vector) sum is partial-aggregable. At 100 TB the codes table is
    ~m bytes/vector and the only corpus-sized work is one scan + one
    map-side join + one grouped sum.
    """
    seeds = _pq_seeds(corpus, k_codes, id_col, vec_col)
    dim = seeds.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    codes = pq_codes(corpus, m, k_codes, id_col, vec_col, seeds=seeds).select(
        F.col(id_col).alias("neighbor_id"), "subspace", "code"
    )

    q_prepped = queries.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    table = q_prepped.mapInPandas(
        _adc_table(seeds, m, sub),
        schema="query_id long, subspace int, code int, pdist double",
    )
    scored = (
        codes.join(F.broadcast(table), ["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pdist"), 6).alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def _ivf_seeded_cells(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The deterministic seeded IVF coarse quantizer shared by every
    oracle-twinned IVF composition (``ivf_pq_topk``, ``ivf_sq8_topk``):
    seed centroids = the ``nlist`` lowest-id vectors normalized, corpus
    assigned 1 cell, queries ``nprobe`` cells. ONE implementation so
    the compositions cannot drift from each other (or from the shared
    iseeds/ccells/qcells oracle CTEs). Returns ``(corpus_cells,
    q_cells)``, both ``(_id, _v, cell)`` — ``_v`` rides along for
    scorers that need the vector at the candidate row."""
    import numpy as np

    cell_seeds = (
        corpus.orderBy(F.col(id_col).asc()).limit(nlist)
        .select(vec_col).toPandas()[vec_col]
    )
    cents = _np_norm_rows(
        np.stack([np.asarray(v, dtype=np.float64) for v in cell_seeds])
    )
    prep = lambda df: df.select(  # noqa: E731 - local shaping lambda
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    corpus_cells = prep(corpus).mapInPandas(
        _cell_assigner(cents, 1),
        schema="_id long, _v array<double>, _cell int",
    ).select("_id", "_v", F.col("_cell").alias("cell"))
    q_cells = prep(queries).mapInPandas(
        _cell_assigner(cents, min(nprobe, nlist)),
        schema="_id long, _v array<double>, _cell int",
    ).select("_id", "_v", F.col("_cell").alias("cell"))
    return corpus_cells, q_cells


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 4,
    k_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the FAISS-standard composition of the two index halves
    this library ships separately (Jégou 2011 §V): the IVF coarse
    quantizer restricts candidates to each query's ``nprobe`` nearest
    cells, and ADC over PQ codes scores ONLY those candidates. Fully
    deterministic in its seeded form (seed cells = `ivf_seed_cells`'s
    lowest-id normalized vectors, seed codebooks = :func:`_pq_seeds`'s
    raw slices), so the whole composition is oracle-twinnable end to
    end, unlike the Lloyd-refined `ivf_topk`.

    Scale — what each half buys at 100 TB: IVF cuts the scored set by
    ~nlist/nprobe and makes the cell id the storage partition key
    (probing prunes partitions); PQ makes the scored representation m
    ints so the candidate join moves code rows, never raw vectors. The
    query side (cells + distance tables) is bounded (nq x nprobe +
    nq x m x k_codes rows) and broadcasts; the per-candidate sum is
    partial-aggregable. Ranking: ascending ADC distance, ties by
    ascending neighbor id, round-6 — the `pq_adc_topk` contract.
    """
    corpus_cells, q_cells = _ivf_seeded_cells(
        queries, corpus, nlist, nprobe, id_col, vec_col
    )

    # candidate set: corpus members of each query's probed cells
    cand = (
        corpus_cells.select(F.col("_id").alias("neighbor_id"), "cell")
        .join(
            F.broadcast(
                q_cells.select(F.col("_id").alias("query_id"), "cell")
            ),
            "cell",
        )
        .select("query_id", "neighbor_id")
    )

    # ADC scoring restricted to candidates
    seeds = _pq_seeds(corpus, k_codes, id_col, vec_col)
    dim = seeds.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    codes = pq_codes(corpus, m, k_codes, id_col, vec_col, seeds=seeds).select(
        F.col(id_col).alias("neighbor_id"), "subspace", "code"
    )

    table = queries.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).mapInPandas(
        _adc_table(seeds, m, sub),
        schema="query_id long, subspace int, code int, pdist double",
    )
    scored = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(table), ["query_id", "subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pdist"), 6).alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


# ---------------------------------------------------------------------------
# Frozen IVF-PQ deployment artifact (VERDICT r11 #6): train once, probe many.
# ---------------------------------------------------------------------------


def ivf_pq_fingerprint(corpus: DataFrame) -> str:
    """Deterministic fingerprint of the corpus FILES backing a frozen
    index: md5 over the sorted (path, size, mtime_ns) of
    ``df.inputFiles()``. One metadata listing — the same file list Spark
    resolves to PLAN any scan of the corpus, so the staleness check costs
    no more than planning one read and touches no data. At table-format
    scale (Delta/Iceberg) swap this for the snapshot id: a string compare,
    no listing at all. Returns '' for non-file-backed frames (the caller
    then refreezes every time — conservative).

    file: paths stat locally (nanosecond mtimes); hdfs:// goes through
    the Hadoop FS API — size + millisecond mtime, the finest HDFS
    exposes, fine-grained enough in practice for an append-mostly
    corpus. OBJECT-STORE schemes (s3a/gs/abfs/...) return '' — i.e.
    always-refreeze, the strictly conservative posture: their mtime
    resolution is often whole seconds, so a same-size in-place rewrite
    could read as fresh and a probe would serve stale centroids against
    new data. The table-format snapshot id is the real answer at that
    scale — a string compare, no listing, no clock. Any stat failure
    also returns '' (never matches — refreeze, conservative)."""
    import hashlib
    import os as _os
    import re as _re

    files = sorted(corpus.inputFiles())
    if not files:
        return ""
    spark = corpus.sparkSession
    h = hashlib.md5()
    for uri in files:
        p = _strip_file_scheme(uri)
        if p != uri or not _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", uri):
            try:
                st = _os.stat(p)
            except OSError:
                return ""
            h.update(f"{uri}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        elif uri.startswith("hdfs://"):
            try:
                fs, jp = _hfs(spark, uri)
                st = fs.getFileStatus(jp)
            except Exception:
                return ""
            h.update(
                f"{uri}:{st.getLen()}:{st.getModificationTime()}\n".encode()
            )
        else:
            # object stores: no reliable mtime granularity — never vouch
            return ""
    return h.hexdigest()


# Auto-nlist bounds (freeze_ivf_pq(nlist=None)): the floor keeps tiny
# corpora from degenerating to one-cell scans; the cap bounds the DRIVER
# state every probe/extend loads (centroids collect to the driver: cap ×
# dim doubles — at 65536 × 1024 that is ~512 MB, the k-means-centroid
# class ceiling; past it, per-cell size should be held by sharding the
# artifact, not by more centroids in one driver matrix).
_NLIST_FLOOR = 16
_NLIST_CAP = 65536


def _auto_nlist(n_rows: int) -> int:
    """nlist ∝ √N: with ``nlist = √N`` the expected per-cell row count is
    ALSO √N, so the probe's dominant cost — scanning ``nprobe`` cells'
    codes — grows as √N instead of linearly (the standard IVF sizing rule;
    FAISS's guidelines recommend the same ``sqrt(N)`` order). Floored and
    capped by the driver-state bound above, and never above N (a corpus
    smaller than the floor seeds fewer cells — _load_quantizers sizes by
    written rows)."""
    import math

    return max(min(_NLIST_FLOOR, n_rows), min(math.isqrt(n_rows), _NLIST_CAP))


def freeze_ivf_pq(
    corpus: DataFrame,
    path: str,
    nlist: int | None = None,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_fingerprint: str | None = None,
) -> None:
    """Materialize the IVF-PQ index halves as a parquet deployment
    artifact — the ANN counterpart of :func:`~learn_hbase_spark.operators.
    corpus.freeze_bigram_lm`'s train-once/deploy-many form: every other
    learned component (bigram LM, DSIR weights, frozen classifier) already
    deploys from written tables; without this, each ANN query re-derived
    centroids/codebooks AND re-encoded the corpus per invocation.

    Layout under ``path``:
    - ``centroids``: (cell, c) — the ``nlist`` normalized coarse seeds.
    - ``codebook``: (subspace, code, sv) — the PQ seed subvector slices.
    - ``cells``: (vec_id, cell), cell-sorted — corpus coarse assignment,
      the partition key at scale (probing prunes cell partitions).
    - ``codes``: (vec_id, subspace, code, cell), cell-sorted — the
      PQ-encoded corpus: the m ints per vector that replace raw
      embeddings at search time, carrying the cell id (layout v2) so the
      probe's literal probed-cell filter prunes this table's scan too.
    - ``meta``: ONE row (nlist, m, k_codes, dim, src, gen, layout) — the
      valid row is
      written LAST, and every freeze FIRST tombstones meta
      (``nlist = -1``) and clears delta/tmp/trash/sidecar state: a crash
      mid-freeze therefore leaves a tombstone over mixed halves — which
      `ivf_pq_fresh` reads as stale and the probe refuses loudly —
      never an OLD complete-looking meta that a corpus rollback could
      re-validate, and never a prior stream's delta segments unioned
      into the new base. The WideTable stamp is write-FIRST because its
      staleness is miss-only; here a partial artifact would be silently
      wrong, so the ordering inverts.

    Both halves are the deterministic SEEDED forms (`ivf_seed_cells` +
    :func:`_pq_seeds`), so a probe over the artifact is a replayable
    function of the corpus — the property that lets the frozen-probe
    query keep `ivf_pq_topk`'s full DuckDB oracle. Cost: the seed pulls
    (bounded: nlist + k_codes rows) plus TWO corpus passes (cell
    assignment, PQ encode), each one Arrow-batched map — paid once,
    amortized over every subsequent probe.

    ``nlist=None`` (the default) resolves to :func:`_auto_nlist`'s
    ``√N`` rule — one corpus count at freeze time, paid once with the
    encode passes — and the RESOLVED value is what meta records, so
    probes/extends/freshness checks see a concrete nlist; pass an
    explicit nlist to pin it (every registered oracle query does, for
    replayability)."""
    import numpy as np

    spark = corpus.sparkSession
    if nlist is None:
        nlist = _auto_nlist(corpus.count())
    # ALWAYS tombstone first and clear auxiliary state — unconditionally,
    # not gated on the old meta being readable: a torn previous meta
    # (reads as None) must not let stale delta segments or a stale
    # compact sidecar survive into the new artifact, where a probe would
    # union a fresh base with a previous stream's rows, or a later
    # compact would "resume" from a sidecar that predates this freeze.
    # Deletes go through the Hadoop FS API: a local rmtree on an
    # hdfs://-path would silently no-op and leave the previous stream's
    # deltas live under the fresh meta.
    spark.createDataFrame(
        [_meta_tombstone()], _META_SCHEMA
    ).write.mode("overwrite").parquet(f"{path}/meta")
    for sub_dir in ("cells_delta", "codes_delta", "meta_compact",
                    "cells_tmp", "codes_tmp", "cells_trash",
                    "codes_trash"):
        _fs_delete(spark, f"{path}/{sub_dir}")
    # ONE seed pull serves both quantizer halves (r16 — the former
    # _pq_seeds + centroid pulls were two driver jobs over the same
    # lowest-id rows): the first k_codes rows RAW are the PQ codebook
    # source, the first nlist rows NORMALIZED are the coarse seeds —
    # byte-identical to the separate pulls (orderBy id is total: ids are
    # unique).
    pull_rows = (
        corpus.orderBy(F.col(id_col).asc()).limit(max(nlist, k_codes))
        .select(vec_col).toPandas()[vec_col]
    )
    pulled = np.stack([np.asarray(v, dtype=np.float64) for v in pull_rows])
    seeds = pulled[:k_codes]
    dim = seeds.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents = _np_norm_rows(pulled[:nlist].copy())

    spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(cents.shape[0])],
        "cell int, c array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in seeds[c, j * sub:(j + 1) * sub]])
            for j in range(m)
            for c in range(seeds.shape[0])
        ],
        "subspace int, code int, sv array<double>",
    ).write.mode("overwrite").parquet(f"{path}/codebook")

    # ONE fused assign+encode pass over the corpus (r16 — guide §1.2:
    # the former chain was TWO full corpus passes, cells written then
    # READ BACK and joined onto the encode pass's output, plus a second
    # corpus-wide shuffle). The kernel shares _topk_cells_np (THE
    # cell-assignment rule — identical to ivf_seed_cells' kernel) and
    # pq_codes' argmin, so the written rows are bit-identical. Both
    # halves are written CELL-SORTED from one hash-partitioned,
    # partition-sorted frame: the probe pushes its probed-cell set as a
    # literal IN filter, so row-group min/max stats skip every unprobed
    # cell's rows — the same sorted-segment pruning the WideTable index
    # uses; at table-format scale the cell id is the partition key and
    # the same filter prunes whole partitions. Hash-partition (not
    # repartitionByRange — r15): probes select DISCRETE cell ids, and
    # range layout would pay a boundary-sampling pass per write. The
    # persist spans exactly the two artifact writes (unpersisted in the
    # finally) — an intra-freeze intermediate, strictly cheaper at any
    # scale than re-running the encode pass for the second table.
    combined = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double")
            ).alias("_v"),
        )
        .mapInPandas(
            _assign_encode_kernel(cents, seeds, m, sub),
            schema="_id long, _cell int, _codes array<int>",
        )
        .repartition(F.col("_cell"))
        .sortWithinPartitions("_cell")
        .persist()
    )
    try:
        combined.select(
            F.col("_id").alias(id_col), F.col("_cell").alias("cell")
        ).write.mode("overwrite").parquet(f"{path}/cells")
        # layout v2: codes carry the vector's cell id so the probe's
        # literal probed-cell filter prunes the BIG table's row groups
        # the same way it prunes cells'.
        combined.select(
            F.col("_id").alias(id_col),
            F.posexplode("_codes").alias("subspace", "code"),
            F.col("_cell").alias("cell"),
        ).write.mode("overwrite").parquet(f"{path}/codes")
    finally:
        combined.unpersist()

    src = src_fingerprint if src_fingerprint is not None else (
        ivf_pq_fingerprint(corpus)
    )
    spark.createDataFrame(
        [(nlist, m, k_codes, dim, src, time.time_ns(), _LAYOUT_VERSION)],
        _META_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/meta")
    # drop any memoized quantizers for this path. The gen stamp already
    # makes every freeze's meta row distinct (so OTHER processes' caches
    # can't collide either); clearing our own slot as well just frees the
    # dead entry immediately.
    _QUANTIZER_CACHE.clear()


def ivf_pq_meta(spark, path: str):
    """The artifact's one meta row, or None if absent/torn (meta is
    written last, so its presence certifies a complete freeze)."""
    try:
        rows = spark.read.parquet(f"{path}/meta").collect()
    except Exception:
        return None
    return rows[0] if rows else None


def ivf_pq_fresh(
    spark,
    path: str,
    src_fingerprint: str,
    nlist: int | None = 16,
    m: int = 4,
    k_codes: int = 16,
) -> bool:
    """True iff a complete artifact exists at ``path`` frozen from exactly
    this corpus fingerprint under these index parameters. An empty
    fingerprint never matches (non-file-backed corpora refreeze —
    conservative). ``nlist=None`` accepts whatever nlist meta records —
    the auto-nlist pairing: the same corpus fingerprint implies the same
    N, hence the same resolved √N nlist, so the fingerprint equality
    already pins it."""
    meta = ivf_pq_meta(spark, path)
    return (
        meta is not None
        and bool(src_fingerprint)
        and meta["src"] == src_fingerprint
        and int(meta["nlist"]) >= 0
        and (nlist is None or meta["nlist"] == nlist)
        and meta["m"] == m
        and meta["k_codes"] == k_codes
        # an older physical layout reads as stale, so freeze-when-stale
        # callers transparently upgrade the artifact
        and _meta_layout(meta) == _LAYOUT_VERSION
    )


# gen: a per-write freeze generation (epoch-ns at write time) so every
# freeze/extend/tombstone produces a DISTINCT meta row even when all other
# fields repeat (src='' for non-file-backed corpora) — the quantizer cache
# key is (path, meta row), and without gen a refreeze by a DIFFERENT
# process could write a byte-identical row and leave a long-lived probe
# process serving stale centroids against the new codes.
# layout: the artifact's physical-layout version. v2 carries the cell id
# on every codes row (cell-sorted), so the probe's literal probed-cell
# filter prunes the BIG table's scan too; v1 (pre-layout meta, read as 1)
# lacks it. ivf_pq_fresh requires the CURRENT layout, so the freeze-when-
# stale query paths transparently upgrade old artifacts; the append paths
# (extend/ingest) refuse v1 loudly rather than write mixed-schema codes.
_META_SCHEMA = (
    "nlist int, m int, k_codes int, dim int, src string, gen long, "
    "layout int"
)
_LAYOUT_VERSION = 2


def _meta_tombstone() -> tuple:
    """A fresh tombstone meta row (nlist=-1): refuse-service marker with
    its own generation stamp."""
    return (-1, -1, -1, -1, "", time.time_ns(), _LAYOUT_VERSION)


def _meta_values(meta_row) -> tuple:
    """A meta Row → a _META_SCHEMA-shaped tuple; pre-``gen`` artifacts
    read as gen=0, pre-``layout`` artifacts as layout=1."""
    d = meta_row.asDict()
    return (
        d["nlist"], d["m"], d["k_codes"], d["dim"], d["src"],
        d.get("gen", 0), d.get("layout", 1),
    )


def _meta_layout(meta_row) -> int:
    return meta_row.asDict().get("layout", 1)


def _strip_file_scheme(p: str) -> str:
    """file:// URI → local path, PREFIX-only (a substring replace would
    mangle any path merely containing 'file:'). Shared by the local-stat
    fast path of the corpus fingerprint."""
    if p.startswith("file://"):
        return p[7:]
    if p.startswith("file:"):
        return p[5:]
    return p


# one-entry memo for the frozen quantizer matrices: keyed by (path, meta
# row) so any refreeze/extend — which rewrites meta — naturally invalidates
# it, while streaming drains (many foreachBatch invocations over one frozen
# artifact) stop re-collecting two tables per micro-batch. Single-slot on
# purpose: the working set is "the artifact this process is maintaining".
_QUANTIZER_CACHE: dict = {}


def _load_quantizers(spark, path: str, meta):
    """(cents, seeds) driver matrices from the artifact's centroids /
    codebook tables — THE reconstruction rule, shared by the probe, the
    batch extend, and the streaming ingest so the three paths cannot
    drift. Sized by the WRITTEN rows, not meta's requested params: a
    corpus smaller than nlist/k_codes freezes fewer seeds, and
    zero-padding would create phantom all-zero centroids that outrank
    real negative-cosine cells. Memoized per (path, meta row) — the
    fingerprint contract (meta.src tracks the corpus) is what makes the
    key sound."""
    key = (path, tuple(meta))
    hit = _QUANTIZER_CACHE.get(key)
    if hit is not None:
        return hit
    import numpy as np

    m, dim = int(meta["m"]), int(meta["dim"])
    sub = dim // m
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.zeros((len(cent_rows), dim))
    for r in cent_rows:
        cents[r["cell"]] = r["c"]
    cb_rows = spark.read.parquet(f"{path}/codebook").collect()
    n_codes = max(r["code"] for r in cb_rows) + 1
    seeds = np.zeros((n_codes, dim))
    for r in cb_rows:
        j = r["subspace"]
        seeds[r["code"], j * sub:(j + 1) * sub] = r["sv"]
    _QUANTIZER_CACHE.clear()
    _QUANTIZER_CACHE[key] = (cents, seeds)
    return cents, seeds


def ivf_pq_topk_frozen(
    queries: DataFrame,
    path: str,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ top-k over a :func:`freeze_ivf_pq` artifact — the PROBE-ONLY
    deployment path: centroids + codebook load to the driver (bounded:
    nlist + m*k_codes rows, the k-means-centroid class), the query side
    computes its probe cells and ADC distance tables in the same
    Arrow-batched kernels as `ivf_pq_topk`, and the corpus side is the
    WRITTEN ``cells``/``codes`` int tables — the raw corpus is never
    touched. Same math, joins, ranking, and round-6 contract as
    `ivf_pq_topk` (shared kernels: :func:`_cell_assigner`,
    :func:`_adc_table`), so the frozen probe inherits its full DuckDB
    oracle. At 100 TB the probe cost is (query set) x (probed cells'
    codes) — independent of corpus encode cost, which is the point of
    freezing.

    ``allowed`` (optional, a frame with ``id_col``) enables FILTERED
    vector search — top-k among the vectors satisfying a metadata
    predicate, the production pattern behind "similar docs in license
    class X". The restriction applies to the CANDIDATE set before ADC
    ranking (rank-then-filter would silently return < k rows whenever
    the filter is selective). Pre-filtering is the right regime when the
    predicate passes a nontrivial fraction of each probed cell; for
    needle-sharp predicates, flip to an exact scan over the allowed set
    (`cosine_topk` against the filtered corpus) — the standard
    crossover every filtered-ANN system documents."""
    spark = queries.sparkSession
    meta = ivf_pq_meta(spark, path)
    if meta is None or int(meta["nlist"]) < 0:
        # absent, or a refreeze tombstone over mixed halves — refuse
        # loudly instead of probing a torn index
        raise ValueError(f"no complete IVF-PQ artifact at {path}")
    m, dim = int(meta["m"]), int(meta["dim"])
    sub = dim // m
    cents, seeds = _load_quantizers(spark, path, meta)

    q_prepped = queries.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    q_cells = q_prepped.mapInPandas(
        _cell_assigner(cents, min(nprobe, cents.shape[0])),
        schema="_id long, _v array<double>, _cell int",
    ).select(
        F.col("_id").alias("query_id"), F.col("_cell").alias("cell")
    ).localCheckpoint()
    # ^ localCheckpoint BEFORE the collect below: the probed-cell
    # literals and the joined q_cells must come from ONE materialization
    # — re-evaluating a non-deterministic query source (sampled/
    # rand-derived) in two separate jobs could otherwise collect a
    # probed set that diverges from the join's cells and silently drop
    # candidate cells.

    # The probed-cell set pulled to the driver and pushed as a LITERAL
    # IN filter on the corpus scan: it is ≤ nlist distinct ints no
    # matter how many queries probe (the centroid-class bound), and a
    # literal filter — unlike the join alone — reaches the parquet
    # reader, so row-group stats on the cell-sorted base (and partition
    # pruning, once the artifact lives in a cell-partitioned table
    # format) skip every unprobed cell before any join runs.
    probed = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )

    # corpus side = base tables ∪ any streaming delta segments
    # (ann_index_ingest_batch's per-drain landings; compact_ivf_pq folds
    # the stack so a long-maintained artifact's union stays short)
    corpus_cells = spark.read.parquet(f"{path}/cells")
    cells_delta = _try_parquet(spark, f"{path}/cells_delta")
    if cells_delta is not None:
        corpus_cells = corpus_cells.unionByName(cells_delta.drop("_batch"))
    corpus_cells = corpus_cells.filter(F.col("cell").isin(probed)).select(
        F.col(id_col).alias("neighbor_id"), "cell"
    )
    if allowed is not None:
        # metadata predicate → candidate restriction BEFORE ranking; a
        # semi-join, so the filter frame's other columns never widen the
        # probe rows, and at scale it rides the same id partitioning
        corpus_cells = corpus_cells.join(
            allowed.select(F.col(id_col).alias("neighbor_id")),
            "neighbor_id",
            "left_semi",
        )
    cand = corpus_cells.join(F.broadcast(q_cells), "cell").select(
        "query_id", "neighbor_id"
    )

    codes = spark.read.parquet(f"{path}/codes")
    codes_delta = _try_parquet(spark, f"{path}/codes_delta")
    if codes_delta is not None:
        codes = codes.unionByName(codes_delta.drop("_batch"))
    if "cell" in codes.columns:
        # layout v2: the BIG table also prunes on the literal probed-cell
        # set — at fixed nlist that is a nprobe/nlist scan reduction on
        # the dominant probe cost, before the candidate join runs
        # (layout-1 artifacts lack the column and skip the filter)
        codes = codes.filter(F.col("cell").isin(probed))
    codes = codes.select(
        F.col(id_col).alias("neighbor_id"), "subspace", "code"
    )
    table = q_prepped.mapInPandas(
        _adc_table(seeds, m, sub),
        schema="query_id long, subspace int, code int, pdist double",
    )
    joined = cand.join(codes, "neighbor_id")
    if cells_delta is not None or codes_delta is not None:
        # replay anomalies can leave a vector in base AND a delta (e.g. a
        # compacted batch re-landing under a new batch id after a
        # checkpoint rollback): duplicated cells × duplicated codes rows
        # would inflate the summed ADC distance 4× and silently mis-rank.
        # Dedup AFTER candidate restriction — candidate-set-sized
        # (nq × probed cells × m), never corpus-sized.
        joined = joined.distinct()
    scored = (
        joined.join(F.broadcast(table), ["query_id", "subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pdist"), 6).alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def sq8_bounds(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) training bounds for scalar quantization —
    ONE aggregate pass emitting 2×dim cells (no explode: each dimension
    is its own min/max expression in a single agg), driver state 2×dim
    doubles. The SQ analog of the k-means-centroid driver-state class."""
    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError(
            f"sq8_bounds: corpus is empty (or {vec_col!r} is null in the "
            "first row) — cannot train quantization bounds"
        )
    dim = len(head[0])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    prepped = corpus.select(v.alias("_v"))
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at("_v", i + 1)).alias(f"lo_{i}"))
        aggs.append(F.max(F.element_at("_v", i + 1)).alias(f"hi_{i}"))
    row = prepped.agg(*aggs).collect()[0]
    return (
        [row[f"lo_{i}"] for i in range(dim)],
        [row[f"hi_{i}"] for i in range(dim)],
    )


def _sq8_code(x: Column, lo: Column, hi: Column) -> Column:
    """The SQ8 bucket of ``x`` in [lo, hi]: ``min(255, floor((x-lo)/
    (hi-lo)*256))`` — FLOOR, not round, so the assignment is a
    deterministic function of the double inputs in any engine (round's
    half-way tie rules differ across engines; floor doesn't have ties).
    Degenerate dimensions (hi == lo) code to 0. Out-of-range inputs
    clamp to the nearest bucket (0 below ``lo``, 255 above ``hi``) the
    way FAISS SQ8 does — callers may pass frozen bounds trained on an
    older corpus slice, so new values can legitimately fall outside."""
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(255.0), F.floor((x - lo) / (hi - lo) * F.lit(256.0))
            ),
        )
    )


def _sq8_dequant(v: Column, los: list[float], his: list[float]) -> Column:
    """The SQ8 quantize→reconstruct round trip as one JVM expression:
    each element buckets via :func:`_sq8_code` and reconstructs at its
    bucket CENTER (``lo + (code+0.5)·(hi-lo)/256``). Numerically
    identical to storing the int code and decoding it later — the
    expression every asymmetric SQ8 scorer shares."""
    dim = len(los)
    lo_arr = F.array(*[F.lit(float(x)) for x in los])
    hi_arr = F.array(*[F.lit(float(x)) for x in his])
    idx = F.sequence(F.lit(1), F.lit(dim))
    return F.transform(
        idx,
        lambda i: F.element_at(lo_arr, i)
        + (
            _sq8_code(
                F.element_at(v, i),
                F.element_at(lo_arr, i),
                F.element_at(hi_arr, i),
            )
            + F.lit(0.5)
        )
        * (F.element_at(hi_arr, i) - F.element_at(lo_arr, i))
        / F.lit(256.0),
    )


def sq8_encode_long(
    corpus: DataFrame,
    los: list[float],
    his: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantize the corpus to int8-range codes, LONG format
    ``(id, i, code)`` — 4× (fp32) / 8× (fp64) memory-bandwidth reduction
    with per-dimension trained bounds, the classic FAISS ``SQ8``
    alternative to PQ (per-dimension buckets instead of per-subspace
    codebooks: cheaper train, no codebook state, lower compression).
    Pure JVM expression tree (transform over an index sequence), ints
    out ⇒ exact replay in any engine."""
    dim = len(los)
    lo_arr = F.array(*[F.lit(float(x)) for x in los])
    hi_arr = F.array(*[F.lit(float(x)) for x in his])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    idx = F.sequence(F.lit(1), F.lit(dim))
    codes = F.transform(
        idx,
        lambda i: _sq8_code(
            F.element_at(v, i),
            F.element_at(lo_arr, i),
            F.element_at(hi_arr, i),
        ).cast("int"),
    )
    return corpus.select(
        F.col(id_col), F.posexplode(codes).alias("i", "code")
    ).select(id_col, (F.col("i") + 1).alias("i"), "code")


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by inner product against the SQ8-RECONSTRUCTED
    corpus: train bounds (one agg), quantize each corpus vector to
    per-dimension byte buckets, reconstruct each element at its bucket
    CENTER (``lo + (code+0.5)·(hi-lo)/256``), and score the full-precision
    query against the reconstruction — the asymmetric-distance posture
    (query exact, corpus compressed) SQ shares with ADC. The whole
    dequantize+dot is one JVM expression tree per row (no Python, no
    shuffle beyond the broadcast query side); at scale the codes table
    is what streams through memory, which is the point of SQ8. Returns
    (query_id, neighbor_id, rank, score) — rank by score desc, ties by
    ascending neighbor id; round-6 scores for engine parity."""
    los, his = sq8_bounds(corpus, vec_col)
    return _sq8_score_topk(queries, corpus, los, his, k, id_col, vec_col)


def _sq8_score_topk(
    queries: DataFrame,
    corpus: DataFrame,
    los: list[float],
    his: list[float],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The quantize→reconstruct→score→rank body shared by
    :func:`sq8_topk` (bounds trained per call) and
    :func:`sq8_topk_frozen` (bounds loaded from a frozen artifact) —
    one implementation so the two paths cannot drift."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _sq8_dequant(v, los, his).alias("_xq"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    scored = (
        c.join(F.broadcast(q), how="cross")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(_dot(F.col("_qv"), F.col("_xq")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def freeze_sq8(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    src_fingerprint: str | None = None,
) -> None:
    """Train SQ8 per-dimension bounds ONCE and persist them as a
    deployment artifact — the train-once/encode-many form the other
    trained operators (IVF-PQ, k-means, bigram LM, DSIR) already have:
    a production pipeline trains quantization bounds on a corpus
    snapshot, then every arriving batch encodes against the FROZEN
    bounds at O(new) cost (:func:`sq8_assign_frozen`) instead of
    re-aggregating the corpus per call, and — critically for serving —
    every consumer decodes with the SAME bounds the codes were written
    with (per-call re-training would silently shift every stored code's
    meaning as the corpus grows).

    Layout mirrors :func:`freeze_kmeans`: ``{path}/bounds`` (i, lo, hi —
    dim rows) + a ``{path}/_src`` text sidecar recording the corpus
    fingerprint and vec_col, written AFTER the table and deleted BEFORE
    the rewrite (validity marker last — a torn rewrite reads stale and
    refreezes; a stale marker can never vouch for mixed halves). Fresh ⇒
    skip. An empty fingerprint (non-file-backed corpus) always
    refreezes."""
    from ..storage.artifact import (
        fs_delete,
        read_text_sidecar,
        write_text_sidecar,
    )

    spark = corpus.sparkSession
    src = (
        src_fingerprint
        if src_fingerprint is not None
        else ivf_pq_fingerprint(corpus)
    )
    stamp = f"{src}|vec={vec_col}" if src else ""
    marker = f"{path}/_src"
    if stamp and read_text_sidecar(spark, marker) == stamp:
        return
    fs_delete(spark, marker)
    los, his = sq8_bounds(corpus, vec_col)
    spark.createDataFrame(
        [(i + 1, float(lo), float(hi))
         for i, (lo, hi) in enumerate(zip(los, his))],
        "i int, lo double, hi double",
    ).write.mode("overwrite").parquet(f"{path}/bounds")
    write_text_sidecar(spark, marker, stamp)


def sq8_load_bounds(spark: SparkSession, path: str) -> tuple[list, list]:
    """The frozen (los, his) of a :func:`freeze_sq8` artifact — a
    dim-row driver read. Refuses a torn artifact (missing ``_src``
    marker) loudly."""
    from ..storage.artifact import read_text_sidecar

    if read_text_sidecar(spark, f"{path}/_src") is None:
        raise ValueError(
            f"no complete SQ8 artifact at {path} (missing _src marker) "
            "— freeze_sq8 first"
        )
    rows = spark.read.parquet(f"{path}/bounds").orderBy("i").collect()
    return [r["lo"] for r in rows], [r["hi"] for r in rows]


def sq8_assign_frozen(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode a batch against a :func:`freeze_sq8` artifact's bounds —
    the O(new) deployment pass: dim (lo, hi) pairs load from the written
    table (driver state 2×dim doubles riding the expression tree as
    literals), the batch encodes in one JVM expression pass, no corpus
    re-aggregation. Output is :func:`sq8_encode_long`'s ``(id, i,
    code)`` contract; out-of-range values (the batch arrived AFTER the
    bounds were trained) clamp to buckets 0/255 per the FAISS SQ8
    rule."""
    los, his = sq8_load_bounds(batch.sparkSession, path)
    return sq8_encode_long(batch, los, his, id_col, vec_col)


def sq8_topk_frozen(
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`sq8_topk` serving against FROZEN bounds: the asymmetric
    quantize→reconstruct→score pass (shared body, so the trained and
    frozen paths cannot drift) with bounds loaded from the artifact
    instead of re-trained per call — the full-corpus 2×dim aggregate
    disappears from the serving path, leaving the codes-table stream as
    the only corpus touch."""
    los, his = sq8_load_bounds(queries.sparkSession, path)
    return _sq8_score_topk(queries, corpus, los, his, k, id_col, vec_col)


def ivf_sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list, list] | None = None,
) -> DataFrame:
    """IVF + SQ8 — FAISS's ``IndexIVFScalarQuantizer``, the OTHER
    standard pairing of the coarse quantizer (the first being IVF-PQ):
    the seeded IVF cells restrict each query to its ``nprobe`` probed
    cells' members, and the asymmetric SQ8 score (full-precision query
    vs bucket-center reconstruction) runs over ONLY those candidates.
    Versus IVF-PQ: per-dimension buckets instead of per-subspace
    codebooks — cheaper train (one min/max agg, no codebook k-means),
    higher fidelity per byte at small dims, same candidate pruning.

    Scale: IVF cuts the scored set by ~nlist/nprobe and the cell id is
    the storage partition key; the SQ8 representation is dim bytes per
    candidate and the quantize→reconstruct→dot is one JVM expression —
    no Python, no shuffle beyond the bounded broadcast query side
    (nq×nprobe cell rows + nq query vectors). Fully deterministic in
    the seeded form (cells = lowest-``nlist`` normalized vectors, the
    ``ivf_pq_topk`` rule; floor-bucket SQ8 — no tie rule), so the whole
    composition is oracle-twinnable end to end. ``bounds`` accepts a
    frozen (los, his) pair (:func:`freeze_sq8`) — default trains on the
    corpus in one agg. Returns (query_id, neighbor_id, rank, score):
    score desc, ties by ascending neighbor id, round-6."""
    los, his = bounds if bounds is not None else sq8_bounds(corpus, vec_col)

    cells, qc = _ivf_seeded_cells(
        queries, corpus, nlist, nprobe, id_col, vec_col
    )
    corpus_cells = cells.select(
        F.col("_id").alias("neighbor_id"),
        "cell",
        # reconstruct AT THE CANDIDATE ROW: the quantize→dequantize
        # round trip equals decoding a stored dim-byte code, so this is
        # the artifact path's arithmetic without materializing codes
        _sq8_dequant(F.col("_v"), los, his).alias("_xq"),
    )
    q_cells = qc.select(
        F.col("_id").alias("query_id"), "cell", F.col("_v").alias("_qv")
    )

    scored = (
        corpus_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(_dot(F.col("_qv"), F.col("_xq")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def rerank_exact(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine re-rank of an ANN shortlist — the standard two-stage
    production pattern (FAISS ``IndexRefine`` over IVF-PQ): the
    quantized ADC pass only has to put the true neighbors inside a
    top-R SUPERSET; the final order comes from exact similarity over R
    raw vectors per query. Corpus access is a candidate-set-sized
    gather (the nq×R shortlist broadcast into one corpus scan — at
    100 TB this is the point: the raw vectors are touched for R rows
    per query, never re-scanned), the query side is broadcast, ranking
    is the `cosine_topk` window. ``shortlist`` needs (query_id,
    neighbor_id); returns (query_id, neighbor_id, rank, sim)."""
    cand = F.broadcast(shortlist.select("query_id", "neighbor_id"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def extend_ivf_pq(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_fingerprint: str | None = None,
) -> None:
    """Incrementally EXTEND a frozen IVF-PQ artifact with new corpus
    vectors — the O(new) daily-growth path: at 100 TB a corpus grows by
    shards, and re-running :func:`freeze_ivf_pq` would re-encode
    everything to admit one day's arrivals. The quantizers stay FROZEN
    (centroids + codebooks are trained once — exactly how production IVF
    deploys: FAISS `add()` encodes against the trained index without
    retraining), so extension is two Arrow-batched passes over ONLY the
    new vectors — cell assignment and PQ encode against the stored
    seeds — APPENDED to ``cells``/``codes``. Same incremental posture as
    ``dedup.exact_dedup_incremental`` and the WideTable's delta segments.

    Crash safety mirrors the refreeze protocol: meta is tombstoned before
    the appends and rewritten (with the new ``src_fingerprint``) after
    both land, so a crash mid-extend reads as a torn artifact
    (`ivf_pq_fresh` = False, probe refuses) instead of a half-extended
    index silently missing one table's rows.

    The caller owns id uniqueness (new ids must not collide with indexed
    ones — the WideTable/dedup incremental contract) and passes the
    grown corpus's fingerprint so subsequent freshness checks compare
    against the post-extension corpus. Note the deliberate asymmetry
    with a full refreeze: seeds derive from the ORIGINAL corpus's
    lowest-id vectors, so an extended artifact is NOT bit-identical to
    a from-scratch freeze of the grown corpus — it is the deployment
    trade (stable quantizers, O(new) cost) and the probe remains exact
    over the codes it stores."""
    spark = new_vectors.sparkSession
    meta = ivf_pq_meta(spark, path)
    if meta is None or int(meta["nlist"]) < 0:
        raise ValueError(f"no complete IVF-PQ artifact at {path} to extend")
    if _meta_layout(meta) != _LAYOUT_VERSION:
        # appending current-layout rows onto an older base would leave
        # MIXED codes schemas under one table — refuse loudly; a
        # refreeze both upgrades the layout and admits the new vectors
        raise ValueError(
            f"artifact at {path} has layout {_meta_layout(meta)} "
            f"(current {_LAYOUT_VERSION}) — refreeze to upgrade before "
            "extending"
        )
    nlist, m = int(meta["nlist"]), int(meta["m"])
    k_codes, dim = int(meta["k_codes"]), int(meta["dim"])
    cents, seeds = _load_quantizers(spark, path, meta)

    # tombstone meta BEFORE the appends (torn-extend safety), and clear
    # any stale compact sidecar first — otherwise a sidecar left by a
    # compact that crashed after its meta restore would let a later
    # compact "resume" over this extend's tombstone and restore valid
    # meta above a half-extended artifact. Hadoop FS delete: the sidecar
    # must actually clear on cluster URIs too.
    _fs_delete(spark, f"{path}/meta_compact")
    spark.createDataFrame(
        [_meta_tombstone()], _META_SCHEMA
    ).write.mode("overwrite").parquet(f"{path}/meta")

    # ONE fused assign+encode pass over the new shard (r16 — was: an
    # assignment pass checkpointed, a SECOND full pass over the shard
    # for the PQ encode, and a join to re-attach the cell). The shared
    # kernel keeps the appended rows bit-identical; the checkpoint spans
    # the two appends so the shard is read and encoded exactly once.
    combined = new_vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).mapInPandas(
        _assign_encode_kernel(cents, seeds, m, dim // m),
        schema="_id long, _cell int, _codes array<int>",
    ).localCheckpoint()  # two appends read it; assign+encode once
    combined.select(
        F.col("_id").alias(id_col), F.col("_cell").alias("cell")
    ).write.mode("append").parquet(f"{path}/cells")

    # layout v2: the appended codes carry cell too (from the same fused
    # pass — no join, no pass over the base)
    combined.select(
        F.col("_id").alias(id_col),
        F.posexplode("_codes").alias("subspace", "code"),
        F.col("_cell").alias("cell"),
    ).write.mode("append").parquet(f"{path}/codes")

    spark.createDataFrame(
        [(nlist, m, k_codes, dim, src_fingerprint or "", time.time_ns(),
          _LAYOUT_VERSION)],
        _META_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/meta")
    # the quantizers themselves are unchanged by an extend, but the meta
    # row (cache key, now including the fresh gen stamp) moved — drop the
    # old entry rather than let the single-slot cache hold a dead key
    _QUANTIZER_CACHE.clear()


# A maintained stream appends one _batch partition per drain; past this
# many the ingest body folds the stack itself (compact_ivf_pq between
# drains), so a long-running stream cannot grow the probe's base ∪ delta
# union and its file listing without bound — the WideTable
# INDEX_DELTA_MERGE_THRESHOLD discipline on the ANN artifact.
ANN_DELTA_COMPACT_THRESHOLD = 16


def _delta_partition_count(spark, p: str) -> int:
    """Committed ``_batch=*`` partitions under a delta table (shared
    implementation: one bounded driver-side dir listing via Hadoop FS)."""
    return _delta_partition_count_shared(spark, p, prefix="_batch=")


def resume_crashed_compact(spark, path: str) -> bool:
    """Self-heal a fold that crashed mid-:func:`compact_ivf_pq`: that
    crash leaves live meta TOMBSTONED with the ``meta_compact`` recovery
    sidecar still present — a state every read/append path refuses — and
    the compact protocol is designed to converge when re-run from it.
    Returns True iff a resume ran (meta is live again afterwards).

    Only the maintenance paths call this automatically
    (:func:`ann_index_ingest_batch`, ``ann_probe_stream``'s drain body):
    without it, the self-bounding unattended stream the auto-compact
    threshold promises could wedge permanently on the first mid-fold
    crash — the replayed drain would hit the torn-state refusal before
    any resume logic ran, forever. Safe under the artifact family's
    standing single-writer discipline (foreachBatch bodies run serially;
    maintenance streams share one scheduler slot), which is what
    guarantees tombstone+sidecar means a CRASHED fold, not a live one.
    A tombstone WITHOUT the sidecar (a crash mid-freeze/extend) still
    refuses loudly — there is nothing complete to resume to."""
    meta = ivf_pq_meta(spark, path)
    if (meta is None or int(meta["nlist"]) < 0) and _try_parquet(
        spark, f"{path}/meta_compact"
    ) is not None:
        compact_ivf_pq(spark, path)
        return True
    return False


def ann_index_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_threshold: int | None = None,
) -> None:
    """One micro-batch of :func:`~learn_hbase_spark.streaming.events.
    ann_index_ingest_stream`: encode the batch against the artifact's
    FROZEN quantizers and land its cells/codes as DELTA segments —
    ``{path}/cells_delta`` / ``{path}/codes_delta``, both partitioned by
    ``_batch`` and written as a dynamic partition overwrite of this
    batch's own partition, so a foreachBatch replay (at-least-once)
    rewrites the same partition with the same rows instead of
    double-appending — the ``neardup_ingest_batch`` replay contract, on
    the WideTable delta-segment layout. The probe unions base + deltas;
    :func:`compact_ivf_pq` folds the stack. Unlike :func:`extend_ivf_pq`
    (the batch-mode append, which tombstones meta around a plain append),
    the streaming path never touches meta outside a fold — per-drain
    freshness is the stream's checkpointed file listing, not the corpus
    fingerprint.

    The stack is BOUNDED: once the delta holds more than
    ``compact_threshold`` (default :data:`ANN_DELTA_COMPACT_THRESHOLD`)
    ``_batch`` partitions, the drain finishes by folding it into base via
    :func:`compact_ivf_pq` — safe here because foreachBatch bodies run
    serially, so "end of the body" IS "between drains" (no concurrent
    writer; concurrent probes see the documented meta-tombstone refusal
    for the fold's duration). A batch REPLAYED after a fold re-lands rows
    the fold already moved to base — the probe's candidate-sized replay
    dedup and the next fold's ``distinct`` both collapse those."""
    if not batch.take(1):
        return
    spark = batch.sparkSession
    meta = ivf_pq_meta(spark, path)
    if meta is None or int(meta["nlist"]) < 0:
        # a previous drain's auto-compact may have crashed mid-fold
        # (tombstone + recovery sidecar): resume it, then re-read meta —
        # otherwise the replayed drain refuses forever and the
        # self-bounding unattended stream wedges on its first crash
        if resume_crashed_compact(spark, path):
            meta = ivf_pq_meta(spark, path)
    if meta is None or int(meta["nlist"]) < 0:
        raise ValueError(f"no complete IVF-PQ artifact at {path} to ingest")
    if _meta_layout(meta) != _LAYOUT_VERSION:
        # same refusal as extend_ivf_pq: never mix codes schemas
        raise ValueError(
            f"artifact at {path} has layout {_meta_layout(meta)} "
            f"(current {_LAYOUT_VERSION}) — refreeze to upgrade before "
            "streaming into it"
        )
    m = int(meta["m"])
    # memoized: under max_files_per_trigger one drain splits into many
    # foreachBatch invocations — the frozen quantizers load once, not
    # twice per micro-batch
    cents, seeds = _load_quantizers(spark, path, meta)

    # ONE fused assign+encode pass per drain (r16, the extend_ivf_pq
    # fusion applied to the streaming path): the former shape assigned,
    # checkpointed, then ran a SECOND pass over the batch for the PQ
    # encode and joined the cell back on id. Same kernels → identical
    # delta rows; the checkpoint spans both delta writes.
    dim = int(meta["dim"])
    combined = batch.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).mapInPandas(
        _assign_encode_kernel(cents, seeds, m, dim // m),
        schema="_id long, _cell int, _codes array<int>",
    ).localCheckpoint()  # both delta writes read it; one pass per drain
    (
        combined.select(
            F.col("_id").alias(id_col), F.col("_cell").alias("cell")
        )
        .withColumn("_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(f"{path}/cells_delta")
    )
    (
        # layout v2: delta codes carry cell (from the same fused pass),
        # so the probe's probed-cell filter and the compact fold see ONE
        # codes schema across base and deltas
        combined.select(
            F.col("_id").alias(id_col),
            F.posexplode("_codes").alias("subspace", "code"),
            F.col("_cell").alias("cell"),
        )
        .withColumn("_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(f"{path}/codes_delta")
    )
    limit = (
        ANN_DELTA_COMPACT_THRESHOLD
        if compact_threshold is None
        else compact_threshold
    )
    if _delta_partition_count(spark, f"{path}/cells_delta") > limit:
        compact_ivf_pq(spark, path)


def compact_ivf_pq(spark, path: str) -> None:
    """Fold the streaming delta segments into the base ``cells``/``codes``
    tables — the maintenance pairing for :func:`ann_index_ingest_batch`
    (run it between drains, not concurrently with a stream or probe, the
    WideTable ``build_index`` discipline; a long-running maintained
    stream otherwise grows the probe's delta union linearly with drains).

    Crash-safe and RESUMABLE — every window of the protocol converges on
    re-run:
    1. the live meta row is saved to a ``meta_compact`` recovery sidecar
       BEFORE the live meta is tombstoned, so a crash mid-compact leaves
       a resumable state (probes/extends refuse the tombstone; a re-run
       finds the sidecar and continues) instead of bricking the artifact;
    2. per table, DISTINCT(base ∪ delta) stages to ``{table}_tmp`` —
       (id, cell) and (id, subspace, code) rows are unique per vector, so
       recomputing after a partial fold converges instead of duplicating;
    3. the base swap is rename-to-trash then rename-tmp-in: directory
       RENAMES are atomic where rmtree is not — a crash mid-removal would
       leave a PARTIAL base that still reads as present, and a re-run
       would fold the partial base over the only complete copy. With
       renames, base is either wholly present or wholly absent; when
       absent, the complete staged tmp (which already folded the delta)
       is renamed into place on resume;
    4. the delta/trash/tmp dirs are deleted only after their content is
       in base;
    5. the live meta is restored from the sidecar LAST, and the sidecar
       removed. (A sidecar surviving a crash after this restore is
       cleared by the next freeze/extend before they tombstone, so it can
       never vouch for a LATER torn state.)
    All moves/deletes go through the Hadoop FS API, so the protocol runs
    unchanged on file: and hdfs:// (where directory rename is atomic).
    Object stores (s3a://) rename by copy — there, stage the swap
    through the store's committer or keep the artifact in a table
    format."""
    live = ivf_pq_meta(spark, path)
    recovery = _try_parquet(spark, f"{path}/meta_compact")
    if live is not None and int(live["nlist"]) >= 0:
        saved = _meta_values(live)
        spark.createDataFrame([saved], _META_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{path}/meta_compact")
        spark.createDataFrame(
            [_meta_tombstone()], _META_SCHEMA
        ).write.mode("overwrite").parquet(f"{path}/meta")
    elif recovery is not None:
        # resuming a crashed compact: live meta is already tombstoned
        saved = _meta_values(recovery.collect()[0])
    else:
        raise ValueError(f"no complete IVF-PQ artifact at {path} to compact")

    for table in ("cells", "codes"):
        base_p = f"{path}/{table}"
        tmp_p = f"{path}/{table}_tmp"
        delta_p = f"{path}/{table}_delta"
        trash_p = f"{path}/{table}_trash"
        base = _try_parquet(spark, base_p)
        if base is None:
            # crash window between the two renames: base went to trash,
            # the staged tmp (already including the delta) is the only
            # complete copy — swap it in
            if _try_parquet(spark, tmp_p) is None:
                raise ValueError(
                    f"{table}: neither base nor staged tmp present"
                )
            _fs_rename(spark, tmp_p, base_p)
        else:
            delta = _try_parquet(spark, delta_p)
            if delta is not None:
                folded = base.unionByName(
                    delta.drop("_batch"), allowMissingColumns=False
                ).distinct()
                if "cell" in folded.columns:
                    # preserve the layout-v2 cell-sorted property across
                    # folds, so probed-cell row-group pruning keeps
                    # working on a long-maintained artifact (hash by cell:
                    # same one-partition-per-cell pruning as the freeze,
                    # without the range variant's boundary-sampling pass)
                    folded = folded.repartition(
                        F.col("cell")
                    ).sortWithinPartitions("cell")
                folded.write.mode("overwrite").parquet(tmp_p)
                _swap_via_trash(spark, base_p, tmp_p, trash_p)
        for aux in (delta_p, tmp_p, trash_p):
            _fs_delete(spark, aux)

    spark.createDataFrame([saved], _META_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    _fs_delete(spark, f"{path}/meta_compact")
