"""Driver-side fast paths: k-means below ``KMEANS_DRIVER_VALUES_CAP`` against
the distributed loop, the integer half-up mean, the code-stamped freeze, and
the ratchet on Python-RDD local frames."""

from __future__ import annotations

import ast
import importlib.util
import pathlib
import random

import pyarrow as pa
import pytest

from learn_hbase_spark import driver_path
from learn_hbase_spark.operators import similarity

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _value_hash():
    spec = importlib.util.spec_from_file_location(
        "oracle_check", ROOT / "tools" / "oracle_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    """Seed 9 at 300 documents / 200 embeddings: a k-means cell mean in
    round 4 is the exact decimal half-tie 0.712630 / 20 = 0.0356315."""
    from perfbench import gen

    d = str(tmp_path_factory.mktemp("seed9"))
    gen.write_tables(d, 0.001, 9, rows={"documents": 300, "embeddings": 200})
    return d


def test_embedding_kmeans_matches_its_oracle_on_a_half_tie(
    spark, km_path, tie_dir
):
    import duckdb

    from learn_hbase_spark import queries as Q

    got = Q.queries()["embedding_kmeans"](spark, tie_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tie_dir}/embeddings.parquet'"
    )
    want = con.execute(Q.oracle_sql()["embedding_kmeans"]).df()
    value_hash = _value_hash()
    assert len(got) == len(want) == 200
    assert value_hash(got) == value_hash(want)


def test_half_up_mean_rounds_ties_away_from_zero(spark):
    import numpy as np
    from pyspark.sql import functions as F

    s = [712630, -712630, 5, -5, 7, -1, 0, 2**40 + 1]
    n = [20, 20, 2, 2, 2, 3, 3, 2]
    want = [0.035632, -0.035632, 3e-06, -3e-06, 4e-06, 0.0, 0.0, 549755.813889]
    df = spark.createDataFrame(list(zip(s, n)), "s long, n long")
    got = [
        r["m"]
        for r in df.select(
            similarity.half_up_mean(F.col("s"), F.col("n")).alias("m")
        ).collect()
    ]
    assert got == want
    assert similarity._half_up_mean_np(np.array(s), np.array(n)).tolist() == want


def _corpus(spark, seed, n=120, dim=8, dup_seed=False, parts=3):
    rnd = random.Random(seed)
    vecs = [[rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
    if dup_seed:
        # the two lowest ids share a vector: every score ties between
        # seeds 0 and 1, the lower cell wins, and cell 1 starts empty
        vecs[1] = list(vecs[0])
        vecs[7] = list(vecs[0])
    ids = sorted(rnd.sample(range(10**6), n))
    tbl = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float64())),
    })
    df = spark.createDataFrame(tbl)
    return df.repartition(parts) if parts else df


def _both_paths(monkeypatch, fn):
    out = {}
    for path, cap in (("driver", driver_path.KMEANS_DRIVER_VALUES_CAP), ("loop", 0)):
        monkeypatch.setattr(driver_path, "KMEANS_DRIVER_VALUES_CAP", cap)
        out[path] = fn()
    return out


@pytest.mark.parametrize("exact", [True, False])
def test_kmeans_driver_path_equals_the_loop(spark, monkeypatch, tie_dir, exact):
    """Byte-identical rows on both paths: seeded corpora, the seed-9 tie
    input, duplicate vectors (argmax ties and an empty cell) and
    ``n_iter=0``."""
    dup = _corpus(spark, 2, dup_seed=True)
    cases = [
        (_corpus(spark, 1), 4, 3),
        (dup, 4, 2),
        (dup, 4, 0),
        (spark.read.parquet(f"{tie_dir}/embeddings.parquet"), 8, 5),
    ]
    got = {}
    for case, (corpus, k, n_iter) in enumerate(cases):
        got[case] = _both_paths(monkeypatch, lambda: sorted(
            map(tuple, similarity.kmeans_clusters(
                corpus, k=k, n_iter=n_iter, exact_replay=exact
            ).collect())
        ))
        assert got[case]["driver"] == got[case]["loop"]
        assert len(got[case]["driver"]) == corpus.count()
    # unrefined duplicate seeds: every tie went to the lower cell
    assert 1 not in {c for _, c, _ in got[2]["driver"]}


def test_kmeans_on_the_driver_runs_at_most_three_jobs(spark):
    """The counted checkpoint, one Arrow collect and the write."""
    sc = spark.sparkContext
    corpus = _corpus(spark, 4, parts=None)
    group = "km-driver"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = similarity.kmeans_clusters(corpus, k=4, n_iter=3, exact_replay=True)
        out.write.mode("overwrite").format("noop").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 3, f"kmeans_clusters + write ran {jobs} jobs"


def test_freeze_kmeans_refreezes_when_the_code_digest_changes(
    spark, monkeypatch, tmp_path
):
    import os

    src = str(tmp_path / "corpus")
    _corpus(spark, 5, n=24, dim=4).write.parquet(src)
    corpus = spark.read.parquet(src)
    path = str(tmp_path / "km")

    def newest_mtime():
        d = f"{path}/centroids"
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    similarity.freeze_kmeans(corpus, path, k=2, n_iter=1, exact_replay=True)
    m0 = newest_mtime()
    similarity.freeze_kmeans(corpus, path, k=2, n_iter=1, exact_replay=True)
    assert newest_mtime() == m0  # same code: fresh
    monkeypatch.setattr(similarity, "_code_digest", lambda: "other-code")
    similarity.freeze_kmeans(corpus, path, k=2, n_iter=1, exact_replay=True)
    assert newest_mtime() > m0
    with open(f"{path}/_src") as f:
        assert f.read().endswith("|code=other-code")


def _list_create_dataframe_calls() -> int:
    """``createDataFrame`` calls in the package whose data is not an Arrow
    table built in the call (``pa.table(...)``)."""
    n = 0
    for p in (ROOT / "learn_hbase_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            arg = node.args[0] if node.args else None
            arrow = (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Attribute)
                and isinstance(arg.func.value, ast.Name)
                and arg.func.value.id == "pa"
            )
            n += not arrow
    return n


def test_list_create_dataframe_calls_only_go_down():
    """A list becomes a Python RDD, and its consumer a Python-worker job;
    new driver frames go through ``driver_path.local_frame``."""
    assert _list_create_dataframe_calls() <= 15


def test_local_frame_types_every_column(spark):
    df = driver_path.local_frame(
        spark, [[1, 2], [[0.5], None], ["a", None]],
        "i int, v array<double>, s string",
    )
    assert df.schema.simpleString() == "struct<i:int,v:array<double>,s:string>"
    assert [tuple(r) for r in df.collect()] == [(1, [0.5], "a"), (2, None, None)]
