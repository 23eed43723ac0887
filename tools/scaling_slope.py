"""Measure the empirical scaling exponent of the most expensive bench
queries (VERDICT r9 task 5): build a K× corpus from sf0.1 by replicating
documents/embeddings with DISTRIBUTION-PRESERVING perturbation, time each
query at both scales, and report exponent = ln(t_K / t_1) / ln(K).

Perturbation matters more than volume here: a naive self-union makes every
row an exact near-duplicate of its K-1 replicas, multiplying LSH/semantic
PAIR volume by ~K² and measuring a data distribution no real corpus has.
Instead each replica r > 0:
- documents: CONTENT-BEARING words get a replica suffix (``w`` → ``w·r``)
  while stopwords (the language-ID lists ∪ the Gopher required-word list)
  and short words (≤ 3 chars) pass through unchanged. Suffixing every
  word would decorrelate grams but also break rule-gate behavior in
  replicas ('the' → 'the1' stops matching, mean word length shifts, the
  bigram-LM vocab grows ~K×), so rule-gated queries would traverse
  different code paths than the base shard and the exponent would partly
  measure distribution shift. Keeping the function-word skeleton intact
  preserves stopword ratios, the short-word length mass, and the LM's
  high-frequency backbone; content grams (which carry the n-gram /
  shingle volume that dominates cost) still decorrelate across replicas.
  Residual: shingles that span only kept words still collide across
  replicas — a small, distribution-REALISTIC overlap (real corpora share
  function-word n-grams too), so measured exponents are the honest
  upper bound for gram-family queries;
- embeddings: the vector is cyclically shifted by 13·r positions (norms
  and within-replica geometry preserved; cross-replica cosine decorrelated);
- ids are remapped to ``id + r · (max_id + 1)`` so uniqueness invariants
  hold.

Timing follows the bench protocol (construction included, sf0.001 warmup,
min-of-N) — run in a quiet window, never concurrently with pytest or
another Spark job.

Usage: python tools/scaling_slope.py [K] [reps] [query ...]
(defaults: K=5, reps=2, queries=TOP_QUERIES; pass explicit query names for
the filled-core 25× run, e.g.
``python tools/scaling_slope.py 25 1 gopher_repetition_flags``)
Prints one JSON line per query and a summary line; paste the table into
SCALE.md.

The pseudo-query ``semantic_dedup_kn`` measures the k ∝ N MITIGATION
(VERDICT r11 #5): the same semantic_dedup pipeline body
(queries._semantic_dedup_impl) but with the k-means cell count scaled by K
at the scaled corpus (8 → 8·K), holding per-cell size — and so the
within-cell quadratic pair term — constant, which is how production runs
SemDeDup. Compare its exponent against plain ``semantic_dedup`` (fixed
k=8) from the same window. Both arms run ``kmeans_clusters``' one Lloyd
refinement, the integer half-up mean the registered query's oracle replays;
SCALE.md's round-12 k ∝ N table predates it and was taken on a float-mean
refinement that has since been deleted.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
WARM = "/root/testdata/sf0.001"
TOP_QUERIES = [
    "gopher_repetition_flags",
    "semantic_dedup",
    "neardup_canonical",
    "leakage_safe_split",
    "curation_pipeline",
]
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def build_scaled(spark, k: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    # untouched tables ride along as copies so any query can run
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            shutil.copy(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")

    from learn_hbase_spark.functions.text import GOPHER_STOPWORDS, STOPWORDS

    keep_words = sorted(
        {w for ws in STOPWORDS.values() for w in ws} | set(GOPHER_STOPWORDS)
    )
    keep_arr = F.array(*[F.lit(w) for w in keep_words])

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    max_doc = docs.agg(F.max("doc_id")).collect()[0][0]
    parts = []
    for r in range(k):
        d = docs
        if r:
            # suffix only content-bearing words: stopwords (rule-gate
            # vocabulary) and short words keep their surface form so
            # replicas exercise the same gate paths as the base shard
            d = d.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.when(
                            F.array_contains(keep_arr, F.lower(w))
                            | (F.length(w) <= 3),
                            w,
                        ).otherwise(F.concat(w, F.lit(str(r)))),
                    ),
                    " ",
                ),
            )
        parts.append(
            d.withColumn(
                "doc_id", F.col("doc_id") + F.lit(r * (max_doc + 1))
            )
        )
    scaled_docs = parts[0]
    for p in parts[1:]:
        scaled_docs = scaled_docs.unionByName(p)
    scaled_docs.write.parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    max_vec = emb.agg(F.max("vec_id")).collect()[0][0]
    dim = len(emb.select("embedding").first()[0])
    parts = []
    for r in range(k):
        e = emb
        s = (13 * r) % dim
        if s:
            e = e.withColumn(
                "embedding",
                F.concat(
                    F.slice(F.col("embedding"), s + 1, dim - s),
                    F.slice(F.col("embedding"), 1, s),
                ),
            )
        parts.append(
            e.withColumn(
                "vec_id", F.col("vec_id") + F.lit(r * (max_vec + 1))
            )
        )
    scaled_emb = parts[0]
    for p in parts[1:]:
        scaled_emb = scaled_emb.unionByName(p)
    scaled_emb.write.parquet(f"{out_dir}/embeddings.parquet")


def main() -> int:
    import math

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    queries = sys.argv[3:] if len(sys.argv) > 3 else TOP_QUERIES
    out_dir = f"/tmp/spark_graft_scaled_x{k}"

    import __spark_entry__ as entrymod
    from learn_hbase_spark import session

    spark = session.get_session()
    build_scaled(spark, k, out_dir)
    qs = entrymod.queries()

    from learn_hbase_spark import queries as Q

    results = {}
    for name in queries:
        if name == "semantic_dedup_kn":
            # k ∝ N: base runs the registered k=8, the K× corpus runs
            # k=8·K — per-cell size (the quadratic term) held constant
            def fn_base(spark, sf_dir):
                return Q._semantic_dedup_impl(spark, sf_dir, k_cells=8)

            def fn_scaled(spark, sf_dir):
                return Q._semantic_dedup_impl(spark, sf_dir, k_cells=8 * k)

            fn, fn_k = fn_base, fn_scaled
        else:
            fn = fn_k = qs[name]
        fn(spark, WARM).toPandas()  # warmup (plan + python paths hot)
        if fn_k is not fn:
            # warm BOTH arms: an unwarmed scaled closure would bill plan
            # compilation to t_k only — asymmetric between the arms being
            # compared, and invisible under reps=1
            fn_k(spark, WARM).toPandas()
        t1 = min(
            _timed(fn, spark, BASE) for _ in range(reps)
        )
        tk = min(
            _timed(fn_k, spark, out_dir) for _ in range(reps)
        )
        exponent = math.log(tk / t1) / math.log(k)
        results[name] = {
            "t_sf0.1_sec": round(t1, 3),
            f"t_x{k}_sec": round(tk, 3),
            "exponent": round(exponent, 3),
        }
        print(json.dumps({"query": name, **results[name]}), flush=True)
    print(json.dumps({"k": k, "reps": reps, "results": results}))
    return 0


def _timed(fn, spark, sf_dir) -> float:
    t0 = time.time()
    fn(spark, sf_dir).toPandas()
    return time.time() - t0


if __name__ == "__main__":
    raise SystemExit(main())
