"""Plan-quality audit: sweep every queries() entry and summarize the
scale-critical properties of its physical plan — exchange count, join
strategies, scans with/without pushed filters, Python-boundary operators —
so plan regressions (a lost broadcast, a new nested-loop join, a dropped
pushdown) surface as a diff in one JSON report instead of a slow query at
100 TB.

Usage: python tools/plan_audit.py [--post-exec] [sf_dir] [query ...]

Prints one JSON line per query plus a trailing summary line. Exit 1 if any
query plans a CartesianProduct / BroadcastNestedLoopJoin (the never-at-scale
strategies) unless it is explicitly allowlisted below.

``--post-exec`` (r16, VERDICT r15 #8): run each query to completion first
(collect — bounded at the audit SFs) and explain the SAME DataFrame
afterwards, so the text is the AQE-FINAL adaptive plan
(``AdaptiveSparkPlan isFinalPlan=true``) — the only plan in which runtime
exchange reuse is visible. The report gains ``reused_exchanges`` /
``aqe_shuffle_reads`` counts; AQE stays ON in this mode (the static mode
disables it to expose codegen ids). Use this for any "shares one
exchange at runtime" claim — static dumps cannot show AQE reuse.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import sys

# Queries where a nested-loop join is accepted and why. Keep this list empty
# unless the cross product is provably bounded (e.g. joining against a
# one-row aggregate or a tiny literal frame).
NESTED_LOOP_ALLOWED: dict[str, str] = {
    # Brute-force all-pairs cosine is the documented recall-1.0 baseline the
    # approximate variants (ann_lsh_topk, ann_ivf_topk) are measured against;
    # the broadcast side is the bounded query set, not the corpus.
    "ann_cosine_topk": "intentional bounded cross join (query set broadcast)",
    # Same bounded shape over the SQ8-reconstructed corpus: the query set
    # broadcasts, the corpus streams through one codegen'd stage — SQ8's
    # value is the 4-8x smaller corpus representation, not candidate
    # pruning (compose the IVF prefilter for that).
    "ann_sq8_topk": "intentional bounded cross join (query set broadcast)",
    # Same bounded shape, serving from the frozen bounds artifact.
    "ann_sq8_frozen": "intentional bounded cross join (query set broadcast)",
    # k centroid rows broadcast into the batch — the k-means-centroid
    # bounded class (cross of the batch with a k-row frame, never N x N).
    "kmeans_assign_frozen": "k-row centroid frame broadcast into the batch",
    # Two frozen-centroid assignments (batch + history), each the same
    # k-row broadcast; the history-vs-batch gate itself is an equi-join
    # on the cell key.
    "semdedup_incremental": "k-row centroid broadcasts (batch + history assign)",
    # Same bounded shape: the benchmark set (tiny by construction — eval
    # suites vs a billion-doc corpus) is the broadcast side; corpus never
    # shuffles. The LSH-bucketed equi-join is the documented alternative
    # for oversized benchmark sets.
    "semantic_decontaminate": "bounded benchmark set broadcast vs corpus",
    # Theta self-join (<) over the 25-row nation dimension: dim x dim by
    # construction; corpus-scale fuzzy matching goes through blocking first.
    "fuzzy_nation_pairs": "bounded dim x dim theta join (25-row nation)",
    # ONE-ROW broadcast cross join shipping the scalar vocabulary size to
    # every score row (the add-k smoothing denominator) — the same bounded
    # class as pagerank's dangling-mass scalar; build side is a single
    # aggregate row at any corpus size.
    "bigram_lm_score": "one-row broadcast cross join (vocab-size scalar)",
    # Same one-row vocab-size scalar, frozen-model variant.
    "bigram_lm_score_frozen": "one-row broadcast cross join (vocab-size scalar)",
    # Scalar-aggregate threshold: the build side is the ONE-ROW avg frame,
    # so the "nested loop" is a broadcast compare per row — O(N), exactly
    # how Catalyst itself plans scalar subqueries.
    "q22_idle_customers": "one-row scalar-aggregate broadcast threshold",
    # Same shape as q22: the HAVING threshold is the ONE-ROW nation-total
    # aggregate crossed into the per-part frame — an O(parts) broadcast
    # compare, exactly Catalyst's own plan for a scalar subquery.
    "q11_important_stock": "one-row scalar-aggregate broadcast threshold",
    # The corpus-mean embedding is a ONE-ROW array frame broadcast to every
    # vector — an O(N) per-row dot product, the same bounded shape as the
    # scalar-aggregate thresholds above (at scale: K centroid rows, still
    # a broadcast, never N x N).
    "embedding_vector_ops": "one-row mean-vector broadcast",
    # One-row min/max bounds frame crossed into the table for bin
    # assignment — O(N) broadcast compare, same scalar-aggregate shape.
    "histogram_equiwidth": "one-row min/max bounds broadcast",
    # The lift denominator is the ONE-ROW distinct-user total crossed into
    # the (|types| choose 2)-row pair frame — both sides bounded by the
    # type vocabulary, never by users or events.
    "cooccurrence_lift": "one-row total crossed into type-pair frame",
    # Three ONE-ROW aggregates (edges / wedges / triangles) crossed into a
    # single summary row; the triangle join itself is equi (hash).
    "graph_triangle_stats": "cross of three one-row aggregate summaries",
    # The band thresholds are a ONE-ROW percentile aggregate broadcast into
    # the scored frame — O(N) compare, the aggregation alternative to a
    # single-task global rank window.
    "quality_band_sample": "one-row percentile-bounds broadcast threshold",
    # The curation pipeline/audit embed the bigram-LM band (r8): the same
    # two bounded one-row broadcasts as their standalone twins — the
    # vocab-size scalar (bigram_lm_score) and the percentile threshold
    # (quality_band_sample). Every corpus-sized join in the lineage is equi.
    "curation_pipeline": "one-row vocab-size + percentile-threshold broadcasts",
    "curation_audit": "one-row vocab-size + percentile-threshold broadcasts",
    # Same bounded class as curation_pipeline/audit: the rules-composed
    # variants add no new cross-join shape — the bigram-LM vocab-size
    # scalar (one row) feeding the CCNet per-stratum tertile thresholds
    # (|strata| rows, broadcast).
    "curation_pipeline_rules": "one-row vocab-size + per-stratum threshold broadcasts",
    "curation_audit_rules": "one-row vocab-size + per-stratum threshold broadcasts",
    # curate_from_signals shares _curate_tail verbatim with the rules
    # pipeline — same two bounded broadcasts, no new cross-join shape.
    "curate_from_signals": "one-row vocab-size + per-stratum threshold broadcasts",
    # Temperature mixture: the ONE-ROW (N, Z) totals aggregate crossed into
    # the |strata|-row counts frame — both sides bounded by the source
    # vocabulary; the corpus-sized application join is equi (hash).
    "temperature_mixture_rates": "one-row (N, Z) totals crossed into strata counts",
    "temperature_mixture_sample": "one-row (N, Z) totals crossed into strata counts",
    # DSIR: the two one-row gram-total aggregates (target N, raw N) cross
    # into the <=10k-row bucket-ratio table — bounded build sides at any
    # corpus size (the bucket space is the cap, that's the point of
    # hashed features).
    "dsir_weights": "one-row gram-total scalars crossed into bucket table",
    # Same bounded class, frozen-distribution variant: the two nested
    # loops are the one-row tn/rn reference-total scalars.
    "dsir_weights_frozen": "one-row gram-total scalars crossed into stream",
    "dsir_select": "one-row gram totals + one-row quantile threshold",
    # Same bounded class as dsir_select: the Gumbel perturbation is a pure
    # projection, the three nested loops are the gram-total scalars and the
    # one-row quantile threshold.
    "dsir_select_gumbel": "one-row gram totals + one-row quantile threshold",
    # Frozen-weights + Gumbel composition: same one-row frames (two frozen
    # gram totals, one quantile threshold) broadcast onto the new batch.
    "dsir_frozen_gumbel": "one-row gram totals + one-row quantile threshold",
    # Same bounded shape as ann_cosine_topk: the anchor set broadcasts,
    # the corpus never shuffles; corpus-sized anchor sets compose the
    # LSH/IVF prefilter first (documented in the operator).
    "hard_negative_topk": "intentional bounded cross join (anchor set broadcast)",
    # One-row (k, N) totals crossed into the |strata|-sized allocation
    # frame — the temperature_mixture_rates class.
    "unimax_mixture_rates": "one-row (k, N) totals crossed into strata frame",
}

# Queries whose iteration localCheckpoint-truncates the returned frame's
# lineage: their static plan reads as a bare RDD scan, so the registry-wide
# no-NLJ / pushed-scan invariants would silently skip exactly the iterative
# operators (VERDICT r11: the audit artifact overstated its own coverage).
# These are audited with localCheckpoint patched to identity — the explain
# then shows EVERY iteration's joins/exchanges/scans (the executed-work
# total for the fixed iteration count, which is the honest number for an
# iterative operator). Queries whose result is DRIVER-materialized
# (createDataFrame over a bounded pull) can't be un-truncated this way and
# instead register a loop-body frame in queries._AUDIT_BODIES.
UNCHECKPOINTED_AUDIT: dict[str, str] = {
    "pagerank_neardup": "5 power iterations (join+agg each) over LSH pairs",
    "pagerank_iter1": "1 power iteration, un-truncated",
    "graph_triangle_stats": "symmetrized edge frame un-truncated",
    "embedding_kmeans": "assignment pass over un-truncated feature cast",
    "kmeans_assign_iter1": "assignment pass over un-truncated feature cast",
    "bpe_tokenize": "encode pass over the corpus, un-truncated",
    # r16: curation's stage-seam pins became localCheckpoints (plan-size
    # fix) — identity-patch them here so the registry-wide NLJ/pushdown
    # audit keeps seeing the FULL gate→band lineage these queries
    # execute, not just the post-pin tail. (pretraining_run stays
    # truncated: its curate→dedup seam exists precisely because the
    # un-truncated composition plan is driver-hostile; its curation
    # prefix is covered by the five queries below and its dedup/CC tail
    # by the _AUDIT_BODIES row.)
    "curation_pipeline": "full gate→pack lineage through the pins",
    "curation_pipeline_rules": "full rules gate→pack lineage through the pins",
    "curation_audit": "full audit lineage through the pins",
    "curation_audit_rules": "full rules audit lineage through the pins",
    "curate_from_signals": "signals gate→pack lineage through the pins",
}
# NOTE: the CC-family queries (neardup_clusters, semantic_dedup,
# entity_resolution) truncate per round through PARQUET state, which this
# mode cannot un-truncate — they audit through queries._AUDIT_BODIES
# loop-body frames instead (pair lineage + one large-star/small-star
# round).


@contextlib.contextmanager
def no_localcheckpoint():
    """Patch the concrete (classic) DataFrame class — patching the
    pyspark.sql.DataFrame base does NOT intercept Spark 4 instances.
    A pinned frame that is itself an ``observe`` still runs once (a noop
    write), so its Observation fires: k-means reads its component count
    from the checkpoint's job, and ``Observation.get`` blocks until that
    count arrives, so a pure identity hangs the audit."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    def _unpinned(self, eager=True):
        if self._jdf.queryExecution().logical().nodeName() == "CollectMetrics":
            self.write.mode("overwrite").format("noop").save()
        return self

    orig = _CDF.localCheckpoint
    _CDF.localCheckpoint = _unpinned
    try:
        yield
    finally:
        _CDF.localCheckpoint = orig


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _dedup_cached(text: str) -> str:
    """Collapse repeated InMemoryRelation subtrees to their first
    occurrence: explain() re-prints a cached frame's ENTIRE child plan at
    every InMemoryTableScan site, so a pipeline that persists a
    multiply-referenced frame would be charged its upstream exchanges
    once per REFERENCE even though they execute once (the pin exists
    precisely to stop re-execution). Subtree extent is by indentation
    (first letter column); the dedup key strips tree art so the same
    cached plan matches at different nesting depths."""
    lines = text.splitlines()
    out: list[str] = []
    seen: set[str] = set()

    def col(line: str) -> int:
        m = re.search(r"[A-Za-z]", line)
        return m.start() if m else 10**9

    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            d = col(line)
            j = i + 1
            while j < len(lines) and (
                not lines[j].strip() or col(lines[j]) > d
            ):
                j += 1
            # normalize per-reference renumbering: InMemoryRelation output
            # attributes get fresh expression ids (#N) at every reference
            # to the same cached plan, and tree art differs by nesting.
            # Ids are ALPHA-RENAMED (first-occurrence order), not erased,
            # so the id PATTERN (which attrs repeat where — self-joins,
            # reused keys) still discriminates. Blocks identical after
            # alpha-renaming are safe to collapse: Spark's CacheManager
            # itself dedups caches by analyzed-plan equality, so two
            # text-identical cached subtrees (same ops, names, literals,
            # paths) share ONE cache entry and execute once.
            canon: dict[str, str] = {}

            def _canon_id(m: re.Match) -> str:
                return canon.setdefault(
                    m.group(0), f"#{chr(97 + len(canon) % 26)}{len(canon)}"
                )

            key = "\n".join(
                re.sub(
                    r"#\d+", _canon_id, re.sub(r"^[\s:+*()\d-]*", "", s)
                )
                for s in lines[i:j]
                if s.strip()  # blank lines swallowed at block edges
            )
            if key in seen:
                i = j  # whole repeated subtree dropped
            else:
                seen.add(key)
                # emit only the header and KEEP SCANNING inside the block:
                # pinned frames nest (clean's cached plan embeds gated's),
                # so inner cached subtrees must be deduped independently
                # or each outer block re-counts them
                out.append(line)
                i += 1
        else:
            out.append(line)
            i += 1
    return "\n".join(out)


def audit(df) -> dict:
    # operator counts from the simple plan (one line per operator); pushdown
    # detail only exists in formatted mode, where the tree and the numbered
    # details section would otherwise double-count every operator.
    simple = _dedup_cached(plan_text(df, "simple"))
    formatted = plan_text(df, "formatted")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    return {
        "exchanges": len(re.findall(r"\bExchange\b", simple)),
        "broadcast_hash_joins": simple.count("BroadcastHashJoin"),
        "sort_merge_joins": simple.count("SortMergeJoin"),
        "shuffled_hash_joins": simple.count("ShuffledHashJoin"),
        "nested_loop_joins": simple.count("BroadcastNestedLoopJoin")
        + simple.count("CartesianProduct"),
        # all file sources, not just parquet — file_corpus_dedup reads a
        # text-source corpus and would otherwise report a scanless plan
        "scans": len(
            re.findall(r"Scan (?:parquet|text|csv|json|binaryFile)", simple)
        ),
        "scans_with_pushed_filters": sum(1 for p in pushed if p.strip()),
        "window_ops": len(re.findall(r"\bWindow\b", simple)),
        "python_ops": len(
            re.findall(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
                       r"|MapInPandas|PythonMapInArrow", simple)
        ),
        # AQE initial plans omit *(N) markers; formatted mode records each
        # operator's codegen membership as "[codegen id : N]"
        "wholestage_codegen_spans": len(
            set(re.findall(r"codegen id : (\d+)", formatted))
        ),
    }


def audit_post_exec(df) -> dict:
    """Execute ``df`` (collect — the audit SFs keep results bounded), then
    explain the SAME DataFrame: Spark stringifies the executed
    AdaptiveSparkPlanExec's FINAL plan, where runtime exchange reuse
    (``ReusedExchange``) and coalesced/skew-split shuffle reads
    (``AQEShuffleRead``) actually appear."""
    df.collect()
    simple = _dedup_cached(plan_text(df, "simple"))
    formatted = plan_text(df, "formatted")
    return {
        "final_plan": "isFinalPlan=true" in formatted,
        "exchanges": len(re.findall(r"\bExchange\b", simple)),
        "reused_exchanges": len(re.findall(r"\bReusedExchange\b", simple)),
        "aqe_shuffle_reads": len(re.findall(r"\bAQEShuffleRead\b", simple)),
        "in_memory_scans": len(re.findall(r"InMemoryTableScan", simple)),
        "python_ops": len(
            re.findall(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
                       r"|MapInPandas|PythonMapInArrow", simple)
        ),
    }


def main() -> int:
    argv = sys.argv[1:]
    post_exec = "--post-exec" in argv
    if post_exec:
        argv.remove("--post-exec")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
    )
    if not post_exec:
        # static audit: AQE's wrapper hides codegen ids / final shapes in
        # unexecuted explain output. With AQE off the audit sees the full
        # statically-planned tree; runtime AQE only improves on it.
        # (--post-exec keeps AQE ON — reuse is a runtime property.)
        builder = builder.config("spark.sql.adaptive.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from learn_hbase_spark import queries as qmod

    audit_bodies = getattr(qmod, "_AUDIT_BODIES", {})

    failures = []
    totals = {"queries": 0, "exchanges": 0, "nested_loop_joins": 0}
    for name, fn in sorted(entrymod.queries().items()):
        if only and name not in only:
            continue
        try:
            if post_exec:
                report = audit_post_exec(fn(spark, sf_dir))
                print(json.dumps({"query": name, **report}))
                totals["queries"] += 1
                totals["exchanges"] += report["exchanges"]
                continue
            if name in audit_bodies:
                # bodies also run un-checkpointed: a kmeans/feature-table
                # localCheckpoint inside the body's upstream would
                # otherwise hide the corpus scan feeding it
                with no_localcheckpoint():
                    report = audit(audit_bodies[name](spark, sf_dir))
                report["loop_body"] = True
            elif name in UNCHECKPOINTED_AUDIT:
                with no_localcheckpoint():
                    report = audit(fn(spark, sf_dir))
                report["uncheckpointed"] = True
            else:
                report = audit(fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - audit tool
            print(json.dumps({"query": name, "error": str(exc)[:200]}))
            failures.append(name)
            continue
        report = {"query": name, **report}
        print(json.dumps(report))
        totals["queries"] += 1
        totals["exchanges"] += report["exchanges"]
        if report["nested_loop_joins"] and name not in NESTED_LOOP_ALLOWED:
            failures.append(name)
            totals["nested_loop_joins"] += report["nested_loop_joins"]
    print(json.dumps({"summary": totals, "nested_loop_failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
