"""Record query verifications — the write side of the verification rotation
and edit-reverification guard in ``learn_hbase_spark/queries.py``.

``learn_hbase_spark/_verified_hashes.json`` holds one record per verified
query: ``{"fp": fingerprint, "round": N, "seq": i}``, where the fingerprint
covers the function source + oracle SQL + referenced package-module sources,
N is the round that verified it and i its position in that round's sweep
(the key order of ``CORRECTNESS_rNN.json``). ``queries()`` derives the
driver's rotation from these records alone: never-recorded and stale
(fingerprint moved) queries first, then verified ones oldest ``(round, seq)``
first. This tool is the ONLY writer of that file. Given one round's
CORRECTNESS file, it stamps ``fp``/``round``/``seq`` for a row only when:

  (a) the row is green (rows+schema+hash match) — a fresh verification of
      the current code, whether or not the name had a record before;
  (b) the row is a declared rows-only (``no_oracle``) query that ran, its
      fingerprint differs from its record (or it has none), AND its declared
      pytest reference check (``_ROWS_ONLY_CHECKS``) passes against the
      current code — the driver's rows-only row alone is too weak a bar to
      stamp changed code.

Every other record is left as it is: an unchanged fingerprint keeps its old
round, and a name whose code changed since its last verification and which
this round did NOT re-check keeps its OLD fingerprint, i.e. stays at the
front of the next sweep's rotation. That closes the round-5 process hole
(edited queries silently keeping a stale verified slot).

Usage (once per round, after the driver writes the file):
  python tools/record_verified_hashes.py CORRECTNESS_r16.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from learn_hbase_spark import queries as Q  # noqa: E402

# Declared secondary checks for the rows-only (``no_oracle``) queries. The
# driver's rows-only row only proves "ran and returned rows" — far weaker
# than the rows+schema+hash oracle path — so a rows-only query whose
# fingerprint CHANGED since its last verification is re-stamped only after
# its declared pytest reference check passes against the current code. An
# unchanged fingerprint needs no re-proof (refreshing is a no-op), so the
# pytest cost is paid only when the query's answer-defining code moved.
_ROWS_ONLY_CHECKS = {
    "simhash_fingerprints": [
        "tests/test_llm_ops.py::test_simhash_close_for_near_dups",
        "tests/test_llm_ops.py::test_simhash_md5_deterministic_and_near",
    ],
    # approx_profile additionally has a FULL-oracle tolerance twin since
    # r15 (approx_profile_bounds: per-source boolean error-bound verdicts
    # the DuckDB oracle asserts TRUE), so every sweep value-checks the
    # estimates; the sketch-valued query itself stays rows-only.
    "approx_profile": [
        "tests/test_sketches.py::test_approx_distinct_within_rsd",
        "tests/test_sketches.py::test_approx_quantiles_near_exact",
    ],
    # ann_ivf_topk and embedding_kmeans left this table in round 13: the
    # exact-replay Lloyd refinement (modulus sample / decimal-exact
    # rounded means) gave both full chained-CTE DuckDB oracles.
    # pagerank_neardup left this table in round 11: exact_replay gave it
    # a FULL DuckDB oracle (five integer-fixed-point power iterations
    # replayed as chained CTEs), so the driver's value-hash check is the
    # bar again.
    # semantic_dedup left this table in round 13: exact-replay clustering
    # + rounded-cosine pair join + recursive-CTE closure gave it a full
    # DuckDB oracle (the closure needs no round replay — min-reachable-id
    # is algorithm-independent).
    "hll_sketch_rollup": [
        "tests/test_sketches.py::test_hll_rollup_tolerance_and_merge_consistency",
        "tests/test_sketches.py::test_hll_merge_law_partitioning_invariant",
    ],
    # bpe_train_merges and bpe_tokenize left this table in round 12: the
    # chained-CTE training replay gave both FULL DuckDB oracles (all 8
    # integer count->argmax->rewrite cycles), so the driver's value-hash
    # check is the bar again.
}


def _rows_only_check_passes(name: str) -> bool:
    nodes = _ROWS_ONLY_CHECKS.get(name)
    if not nodes:
        print(f"note: rows-only {name} has no declared pytest check; kept stale")
        return False
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-m", "pytest", "-x", "-q", *nodes], cwd=repo
    )
    return res.returncode == 0


def _green(row: dict) -> bool:
    return bool(
        row.get("err") is None
        and row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
    )


def _rows_only_ran(row: dict) -> bool:
    return row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0


def main(argv: list[str]) -> None:
    if len(argv) != 1:
        raise SystemExit(__doc__)
    m = re.search(r"r(\d+)", os.path.basename(argv[0]))
    if not m:
        raise SystemExit(f"{argv[0]}: no round number (r<N>) in the file name")
    rnd = int(m.group(1))
    with open(argv[0]) as fh:
        rows = json.load(fh)

    records = Q.recorded_verifications()
    updated = []
    for seq, (name, row) in enumerate(rows.items()):
        if name not in Q._QUERIES:
            continue
        cur = Q.query_fingerprint(name)
        if _green(row) or (
            # Weaker tier: the driver only proved the query ran. Stamp a
            # CHANGED rows-only fingerprint only after its declared pytest
            # reference check passes against the current code.
            _rows_only_ran(row)
            and records.get(name, {}).get("fp") != cur
            and _rows_only_check_passes(name)
        ):
            records[name] = {"fp": cur, "round": rnd, "seq": seq}
            updated.append(name)

    kept_stale = sorted(
        n
        for n, rec in records.items()
        if n in Q._QUERIES and rec["fp"] != Q.query_fingerprint(n)
    )
    with open(Q._VERIFIED_HASHES_PATH, "w") as fh:
        json.dump(dict(sorted(records.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        f"recorded {len(records)} verifications "
        f"({len(updated)} stamped round {rnd}: {updated or '-'}; "
        f"{len(kept_stale)} changed-but-unverified kept stale: "
        f"{kept_stale or '-'})"
    )


if __name__ == "__main__":
    main(sys.argv[1:])
