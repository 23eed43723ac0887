"""The edit-reverification guard: a verified query whose code (or oracle, or
a referenced operator module) changes must drop out of the verified tail and
re-enter the FRONT of the driver's rotation — no Spark needed, pure registry
mechanics."""

from __future__ import annotations

from learn_hbase_spark import queries as Q


def test_fingerprints_are_stable_and_per_query():
    a = Q.query_fingerprint("agg_pricing_summary")
    assert a == Q.query_fingerprint("agg_pricing_summary")
    assert a != Q.query_fingerprint("group_topk")


def test_fingerprint_covers_referenced_operator_module():
    """An edit to operators/dedup.py must invalidate queries built on it:
    the dedup module's source is part of their fingerprint parts."""
    parts = Q._fingerprint_parts(Q._QUERIES["winnow_match_pairs"])
    assert "mod:learn_hbase_spark.operators.dedup" in parts
    # and queries-local helpers are followed (the _t loader)
    assert "fn:_t" in parts


def test_fingerprint_covers_transitive_package_imports():
    """tokenizer.py does ``from .dedup import normalize_text`` — an edit to
    dedup.normalize_text changes bpe_pair_counts' ANSWER, so dedup.py must be
    in its fingerprint even though the query never references dedup directly
    (the round-6 ADVICE hole)."""
    parts = Q._fingerprint_parts(Q._QUERIES["bpe_pair_counts"])
    assert "mod:learn_hbase_spark.operators.tokenizer" in parts
    assert "mod:learn_hbase_spark.operators.dedup" in parts
    # corpus.py imports normalize_text the same way
    parts = Q._fingerprint_parts(Q._QUERIES["lm_score"])
    assert "mod:learn_hbase_spark.operators.dedup" in parts


def test_fingerprint_follows_imports_made_inside_the_query():
    """``from .widetable import WideTable`` inside a query body binds no
    global, so a ``__globals__`` lookup alone misses the module: an edit
    to widetable.py would leave the index queries reading as verified."""
    for name in ("widetable_index_lookup", "widetable_index_incremental"):
        parts = Q._fingerprint_parts(Q._QUERIES[name])
        assert "mod:learn_hbase_spark.widetable" in parts
        # and that module's own imports (the shared artifact protocol)
        assert "mod:learn_hbase_spark.storage.artifact" in parts
    # ``from .operators import expectations as X``: a submodule import
    parts = Q._fingerprint_parts(Q._QUERIES["expectation_report"])
    assert "mod:learn_hbase_spark.operators.expectations" in parts


def test_fingerprint_does_not_depend_on_the_checkout_path(monkeypatch):
    """file_corpus_dedup's oracle reads files under the scratch root, so its
    SQL embeds that absolute path; the fingerprint hashes it as a token,
    so a second checkout of the same code reads as verified too."""
    name = "file_corpus_dedup"
    oracle, here = Q._ORACLES[name], Q._SCRATCH_ROOT
    assert here in oracle
    fps = set()
    for root in ("/one/checkout/spark-warehouse", "/another/spark-warehouse"):
        # the oracle as an import from a checkout at ``root`` builds it
        monkeypatch.setattr(Q, "_SCRATCH_ROOT", root)
        monkeypatch.setitem(Q._ORACLES, name, oracle.replace(here, root))
        fps.add(Q.query_fingerprint(name))
    assert len(fps) == 1


def test_changed_fingerprint_moves_query_to_rotation_front(monkeypatch):
    monkeypatch.setattr(Q, "_rotation_keys", Q._rotation_keys.__wrapped__)
    names = list(Q._QUERIES)
    records = {
        n: {"fp": Q.query_fingerprint(n), "round": 1, "seq": i}
        for i, n in enumerate(names)
    }
    monkeypatch.setattr(Q, "recorded_verifications", lambda: records)
    assert list(Q.queries()) == names  # all verified, (round, seq) order

    # tamper the newest record = "this query's code changed since its
    # verification": it must leave the verified tail for the FRONT
    victim = names[-1]
    records[victim] = dict(records[victim], fp="0" * 64)
    rotation = list(Q.queries())
    assert rotation[0] == victim
    assert rotation[1:] == names[:-1]


def test_recorded_file_only_contains_registered_names():
    recorded = Q.recorded_verifications()
    assert recorded, "_verified_hashes.json missing"
    assert set(recorded) <= set(Q._QUERIES)


def test_rows_only_checks_cover_exactly_the_no_oracle_tail():
    """tools/record_verified_hashes.py re-stamps a changed rows-only query
    only after its declared pytest check passes — that tier map must track
    the registry exactly: every no-oracle query has a declared check, and
    no stale entries linger for queries that gained an oracle."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "record_verified_hashes",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "record_verified_hashes.py",
        ),
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    rows_only = set(Q._QUERIES) - set(Q._ORACLES)
    assert set(tool._ROWS_ONLY_CHECKS) == rows_only
    for name, nodes in tool._ROWS_ONLY_CHECKS.items():
        assert nodes, f"{name} has an empty check list"


def test_package_module_closure_terminates_on_import_cycles():
    """Two package modules importing each other must not loop the closure
    walk — the visited-set guard, pinned with synthetic cyclic modules."""
    import os
    import types

    import learn_hbase_spark

    pkgdir = os.path.dirname(learn_hbase_spark.__file__)
    a = types.ModuleType("learn_hbase_spark._fake_a")
    b = types.ModuleType("learn_hbase_spark._fake_b")
    a.__file__ = os.path.join(pkgdir, "queries.py")
    b.__file__ = os.path.join(pkgdir, "tables.py")
    a.dep, b.dep = b, a  # cycle

    parts = Q._package_module_closure(a)
    assert "mod:learn_hbase_spark._fake_a" in parts
    assert "mod:learn_hbase_spark._fake_b" in parts
    assert len(parts) == 2


def test_rotation_puts_never_recorded_then_stale_then_oldest_verified(
    monkeypatch,
):
    """Never-recorded queries lead the front and stale ones follow, both in
    registration order; verified queries fill the tail oldest-first by
    (round, seq), whatever their registration order."""
    monkeypatch.setattr(Q, "_rotation_keys", Q._rotation_keys.__wrapped__)
    monkeypatch.setattr(Q, "query_fingerprint", lambda n: f"fp_{n}")
    names = list(Q._QUERIES)
    never = [names[5], names[100]]
    stale = [names[3], names[50]]
    verified = [n for n in reversed(names) if n not in never + stale]
    records = {
        n: {"fp": f"fp_{n}", "round": 1 + i // 50, "seq": i % 50}
        for i, n in enumerate(verified)
    }
    records.update({n: {"fp": "old", "round": 99, "seq": 0} for n in stale})
    monkeypatch.setattr(Q, "recorded_verifications", lambda: records)

    expected = [names[5], names[100], names[3], names[50], *verified]
    assert list(Q.queries()) == expected
    assert list(Q.oracle_sql()) == [n for n in expected if n in Q._ORACLES]
    assert Q.verification_backlog() == (
        f"verification backlog: 4 of {len(names)} unverified "
        "(2 never verified)"
    )
