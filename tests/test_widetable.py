"""WideTable: the HBase-capability surface (S3-S6, S8-S9) over parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as _F

from learn_hbase_spark import driver_path
from learn_hbase_spark.widetable import WideTable


@pytest.fixture()
def table(spark, tmp_path):
    return WideTable.create(spark, str(tmp_path / "t"), ["info", "bmz", "rdl"])


def _cells(spark, rows):
    return spark.createDataFrame(
        rows, "rowkey string, family string, qualifier string, value string"
    )


def test_create_and_exists(table):
    assert table.exists()


def test_put_get_point(spark, table):
    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U1")]))
    got = table.get("0401_M1", "info", "yhbh").collect()
    assert len(got) == 1 and got[0]["value"] == "U1"


def test_latest_wins_upsert(spark, table):
    table.put(_cells(spark, [("0401_M1", "bmz", "20190501", "100")]))
    table.put(_cells(spark, [("0401_M1", "bmz", "20190501", "200")]))
    got = table.get("0401_M1", "bmz", "20190501").collect()
    assert len(got) == 1 and got[0]["value"] == "200"


def test_scan_range_and_projection(spark, table):
    table.put(
        _cells(
            spark,
            [
                ("0401_A", "info", "yhbh", "U1"),
                ("0402_B", "info", "yhbh", "U2"),
                ("0402_B", "bmz", "20190501", "5"),
                ("0403_C", "info", "yhbh", "U3"),
            ],
        )
    )
    rows = table.scan(start="0402", stop="0403", families=["info"]).collect()
    assert [(r["rowkey"], r["value"]) for r in rows] == [("0402_B", "U2")]


def test_scan_prunes_partitions(spark, table):
    table.put(
        _cells(spark, [("0401_A", "info", "q", "1"), ("0402_B", "info", "q", "2")])
    )
    plan = table.scan(start="0402", stop="0403")._jdf.queryExecution().executedPlan().toString()
    # the prefix predicate must reach the scan as a partition filter
    assert "prefix" in plan


def test_unknown_family_rejected(spark, table):
    with pytest.raises(ValueError, match="unknown column family"):
        table.put(_cells(spark, [("0401_A", "nope", "q", "1")]))
    # the aborted write must leave the table unchanged (committer cleanup)
    assert table.scan().count() == 0


def test_put_is_single_action(spark, table):
    """put() must not run a separate validation job — exactly one Spark
    action per batch (VERDICT r1: per-put distinct().collect() was a
    driver-side job on the ingest hot path)."""
    sc = spark.sparkContext
    sc.setJobGroup("widetable-put-audit", "count jobs for one put")
    try:
        table.put(_cells(spark, [("0401_A", "info", "q", "1")]))
        jobs = sc.statusTracker().getJobIdsForGroup("widetable-put-audit")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 1, f"put() ran {len(jobs)} jobs: {jobs}"


def test_same_batch_duplicate_resolves_deterministically(spark, table):
    """Duplicate cell keys inside ONE batch share a version stamp; the
    latest-wins window breaks the tie on value, not partition order."""
    table.put(
        _cells(
            spark,
            [("0401_A", "info", "q", "aaa"), ("0401_A", "info", "q", "zzz")],
        )
    )
    for _ in range(3):  # stable across repeated evaluations
        got = table.get("0401_A", "info", "q").collect()
        assert len(got) == 1 and got[0]["value"] == "zzz"


def test_exists_via_hadoop_fs_scheme(spark, tmp_path):
    """exists()/create() resolve through Hadoop FileSystem, so an explicit
    file:-scheme URI (the shape any hdfs:/s3a: path takes) works and a
    second create() is a no-op rather than an overwrite."""
    from learn_hbase_spark.widetable import WideTable

    uri = "file://" + str(tmp_path / "fs_table")
    t = WideTable.create(spark, uri, ["info"])
    assert t.exists()
    t.put(_cells(spark, [("0401_A", "info", "q", "keep")]))
    again = WideTable.create(spark, uri, ["info"])  # must NOT wipe data
    assert again.scan().count() == 1


def test_compact_crash_recovery(spark, table):
    """A crash between compact()'s two renames leaves <path>__old only;
    the next read heals it and compact() reruns cleanly (idempotent)."""
    table.put(_cells(spark, [("0401_A", "info", "q", "old")]))
    table.put(_cells(spark, [("0401_A", "info", "q", "new")]))
    # simulate the crash window: table moved aside, new copy never landed
    fs = table._fs()
    assert fs.rename(table._hpath(table.path), table._hpath(table.path + "__old"))
    assert table.exists()  # recovery ran inside exists()
    got = table.get("0401_A", "info", "q").collect()
    assert len(got) == 1 and got[0]["value"] == "new"
    table.compact()  # still compacts after the healed crash
    assert table.get("0401_A", "info", "q").collect()[0]["value"] == "new"
    assert not fs.exists(table._hpath(table.path + "__old"))
    assert not fs.exists(table._hpath(table.path + "__compact"))


def test_to_wide_pivot(spark, table):
    table.put(
        _cells(
            spark,
            [
                ("0401_A", "bmz", "20190501", "10"),
                ("0401_A", "bmz", "20190502", "20"),
            ],
        )
    )
    wide = table.to_wide("bmz", ["20190501", "20190502"]).collect()
    assert len(wide) == 1
    assert wide[0]["20190501"] == "10" and wide[0]["20190502"] == "20"


def test_compact_preserves_latest(spark, table):
    table.put(_cells(spark, [("0401_A", "info", "q", "old")]))
    table.put(_cells(spark, [("0401_A", "info", "q", "new")]))
    table.compact()
    got = table.get("0401_A", "info", "q").collect()
    assert len(got) == 1 and got[0]["value"] == "new"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without a shuffle exchange:
    the write-time bucketing replaces the per-query exchange."""
    import io
    import contextlib

    from pyspark.sql import functions as F

    from learn_hbase_spark.tables import load_table, write_bucketed

    SF_CORRECT = "/root/testdata/sf0.01"

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt.db'"
    )
    orders = load_table(spark, SF_CORRECT, "orders")
    cust = load_table(spark, SF_CORRECT, "customer")
    write_bucketed(orders, "bkt.orders_b", 4, ["o_custkey"], ["o_custkey"])
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "bkt.customer_b", 4, ["o_custkey"], ["o_custkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt.orders_b").join(
            spark.table("bkt.customer_b"), "o_custkey"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: result matches the plain join
        plain = orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_stats_reports_compaction_debt(spark, table):
    table.put(_cells(spark, [("0401_A", "info", "q", "v1")]))
    table.put(_cells(spark, [("0401_A", "info", "q", "v2"),
                             ("0402_B", "info", "q", "x")]))
    stats = {r["prefix"]: r for r in table.partition_stats().collect()}
    assert stats["0401"]["n_cells"] == 2 and stats["0401"]["n_live"] == 1
    assert stats["0401"]["n_versions"] == 2
    assert stats["0402"]["live_fraction"] == 1.0
    table.compact()
    stats2 = {r["prefix"]: r for r in table.partition_stats().collect()}
    assert all(r["live_fraction"] == 1.0 for r in stats2.values())
    assert stats2["0401"]["n_versions"] == 1


def test_delete_tombstone_hides_cell_until_compact(spark, table):
    table.put(_cells(spark, [("0401_A", "info", "q", "v1"),
                             ("0401_A", "info", "r", "keep")]))
    table.delete("0401_A", "info", "q")
    # deleted cell is gone from reads; sibling cell survives
    assert table.get("0401_A", "info", "q").count() == 0
    assert table.get("0401_A", "info", "r").collect()[0]["value"] == "keep"
    # the tombstone bytes persist until compaction, then disappear
    stats = {r["prefix"]: r for r in table.partition_stats().collect()}
    assert stats["0401"]["n_cells"] == 3  # v1 + tombstone + keep
    table.compact()
    stats2 = {r["prefix"]: r for r in table.partition_stats().collect()}
    assert stats2["0401"]["n_cells"] == 1
    assert table.get("0401_A", "info", "q").count() == 0


def test_scan_as_of_time_travel(spark, table):
    import time

    table.put(_cells(spark, [("0401_A", "info", "q", "old")]))
    t_between = time.time_ns()
    table.put(_cells(spark, [("0401_A", "info", "q", "new")]))
    table.delete("0401_A", "info", "q")
    # present: deleted; as-of the capture point: the old value
    assert table.scan().count() == 0
    past = table.scan(as_of=t_between).collect()
    assert len(past) == 1 and past[0]["value"] == "old"


def test_compact_prefixes_targets_only_named_partitions(spark, table):
    # two prefixes, three append batches on 0401, one on 0402
    for v in ("U1", "U2", "U3"):
        table.put(_cells(spark, [("0401_M1", "info", "yhbh", v)]))
    table.put(_cells(spark, [("0402_M9", "info", "yhbh", "X1")]))
    before = {
        r["prefix"]: r["n_versions"]
        for r in table.partition_stats().collect()
    }
    assert before["0401"] == 3 and before["0402"] == 1
    full_before = sorted(map(tuple, table.scan().collect()))

    table.compact_prefixes(["0401"])

    after = {
        (r["prefix"]): (r["n_versions"], r["n_cells"])
        for r in table.partition_stats().collect()
    }
    assert after["0401"] == (1, 1)  # rewritten to latest-wins only
    assert after["0402"] == (1, 1)  # untouched
    assert sorted(map(tuple, table.scan().collect())) == full_before
    got = table.get("0401_M1", "info", "yhbh").collect()
    assert got[0]["value"] == "U3"


def test_compact_prefixes_drops_fully_tombstoned_prefix(spark, table):
    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U1")]))
    table.put(_cells(spark, [("0402_M9", "info", "yhbh", "X1")]))
    table.delete("0401_M1", "info", "yhbh")
    table.compact_prefixes(["0401"])
    rows = sorted(r["rowkey"] for r in table.scan().collect())
    assert rows == ["0402_M9"]


def test_compact_prefixes_crash_recovery(spark, table, tmp_path):
    """A parked partition (simulated crash between the two renames) is
    healed by the next read's _recover."""
    import shutil
    from pathlib import Path

    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U1")]))
    table.put(_cells(spark, [("0402_M9", "info", "yhbh", "X1")]))
    root = Path(table.path)
    aside = Path(str(root) + "__aside")
    aside.mkdir()
    shutil.move(str(root / "prefix=0401"), str(aside / "prefix=0401"))
    # table is missing a partition on disk; a read must heal it first
    rows = sorted(r["rowkey"] for r in table.scan().collect())
    assert rows == ["0401_M1", "0402_M9"]
    assert not aside.exists()


def test_versions_returns_full_history_newest_first(spark, table):
    """Multi-version read (HBase Get.readVersions): full per-cell history
    ranked newest-first, tombstones visible as raw data, max_versions cap,
    and scan() still resolves latest-wins over the same cells."""
    for v in ("U1", "U2", "U3"):
        table.put(_cells(spark, [("0401_M1", "info", "yhbh", v)]))
    table.delete("0401_M1", "info", "yhbh")

    hist = table.versions("0401_M1", "info", "yhbh").orderBy("version_rank")
    rows = hist.collect()
    assert [r["value"] for r in rows] == [None, "U3", "U2", "U1"]
    assert [r["version_rank"] for r in rows] == [1, 2, 3, 4]
    assert rows[0]["version"] > rows[1]["version"] > rows[2]["version"]

    capped = table.versions("0401_M1", max_versions=2).collect()
    assert len(capped) == 2
    # the resolved view hides the tombstoned cell entirely
    assert table.get("0401_M1", "info", "yhbh").count() == 0


def test_compact_prefixes_escaped_partition_values(spark, table):
    """A prefix containing characters Spark escapes in partition dir names
    (':' -> %3A) must still be found and compacted — the dir-name math has
    to match the writer's escaping, not the raw value."""
    for v in ("U1", "U2", "U3"):
        table.put(_cells(spark, [("04:1_M1", "info", "yhbh", v)]))
    before = {
        r["prefix"]: r["n_versions"]
        for r in table.partition_stats().collect()
    }
    assert before["04:1"] == 3
    table.compact_prefixes(["04:1"])
    after = {
        r["prefix"]: r["n_versions"]
        for r in table.partition_stats().collect()
    }
    assert after["04:1"] == 1  # silently no-oping here was the ADVICE bug
    got = table.get("04:1_M1", "info", "yhbh").collect()
    assert got[0]["value"] == "U3"


def test_recover_drops_stale_aside_when_main_exists(spark, table):
    """Crash AFTER install but before aside cleanup: the parked copy is
    stale (main holds the compacted data) and _recover must remove it."""
    import shutil
    from pathlib import Path

    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U1")]))
    root = Path(table.path)
    aside = Path(str(root) + "__aside")
    aside.mkdir()
    # simulate: parked copy left behind while main partition is live
    shutil.copytree(str(root / "prefix=0401"), str(aside / "prefix=0401"))
    rows = sorted(r["rowkey"] for r in table.scan().collect())
    assert rows == ["0401_M1"]
    assert not aside.exists()  # stale park removed, root cleaned up


def test_escape_partition_value_matches_spark_writer(spark, tmp_path):
    """The escape table must agree byte-for-byte with what Spark's
    partitioned writer puts on disk."""
    import os

    from learn_hbase_spark.widetable import _escape_partition_value

    vals = ["a b", "a:b", "a=b", "a%b", "a#b", "a'b", "a/x", "pl", "a[]^{"]
    df = spark.createDataFrame([(v, 1) for v in vals], "p string, x int")
    out = str(tmp_path / "esc")
    df.write.partitionBy("p").mode("overwrite").parquet(out)
    on_disk = {n for n in os.listdir(out) if n.startswith("p=")}
    assert {f"p={_escape_partition_value(v)}" for v in vals} == on_disk


def test_null_family_raises_typed_error(spark, table):
    import pytest as _pytest

    cells = spark.createDataFrame(
        [("0401_M1", None, "q", "v")],
        "rowkey string, family string, qualifier string, value string",
    )
    with _pytest.raises(ValueError, match="unknown column family"):
        table.put(cells)


def test_descriptor_roundtrip_open(spark, tmp_path):
    """create() persists families+TTL in the table descriptor; open()
    recovers them without the caller re-stating schema (HBase
    HTableDescriptor parity). The underscore-prefixed descriptor file is
    invisible to the parquet reader."""
    path = str(tmp_path / "t")
    WideTable.create(spark, path, ["info", "bmz"], ttl={"info": 3600})
    t = WideTable.open(spark, path)
    assert t.families == ["info", "bmz"]
    assert t.ttl == {"info": 3600}
    # descriptor file does not confuse the data read
    assert t.scan().count() == 0


def test_open_without_descriptor_raises(spark, tmp_path):
    path = str(tmp_path / "bare")
    spark.createDataFrame(
        [("0401_A", "info", "q", "v", 1)],
        "rowkey string, family string, qualifier string, value string, "
        "version long",
    ).withColumn("prefix", _F.substring("rowkey", 1, 4)).write.partitionBy(
        "prefix"
    ).parquet(path)
    with pytest.raises(FileNotFoundError):
        WideTable.open(spark, path)


def test_ttl_hides_expired_cells(spark, tmp_path):
    """Family TTL (HColumnDescriptor.setTimeToLive): cells older than the
    family's TTL vanish from scan/get/versions; non-TTL families never
    expire. The clock is pinned via now_ns for determinism."""
    t = WideTable.create(
        spark, str(tmp_path / "t"), ["hot", "cold"], ttl={"hot": 60}
    )
    t.put(_cells(spark, [("0401_A", "hot", "q", "h1"),
                         ("0401_A", "cold", "q", "c1")]))
    import time as _time

    wrote = _time.time_ns()
    fresh = wrote + 1_000_000_000          # 1s later: nothing expired
    stale = wrote + 120 * 1_000_000_000    # 2min later: hot TTL (60s) passed
    assert t.scan(now_ns=fresh).count() == 2
    live = t.scan(now_ns=stale).collect()
    assert [(r["family"], r["value"]) for r in live] == [("cold", "c1")]
    assert t.get("0401_A", "hot", "q", now_ns=stale).count() == 0
    assert t.versions(rowkey="0401_A", now_ns=stale).count() == 1


def test_ttl_expired_cell_cannot_resurrect_older_version(spark, tmp_path):
    """Both versions of an expired cell are older than the cutoff, so
    expiry can never surface a stale predecessor (filter-before-resolve)."""
    t = WideTable.create(spark, str(tmp_path / "t"), ["hot"], ttl={"hot": 60})
    t.put(_cells(spark, [("0401_A", "hot", "q", "old")]))
    t.put(_cells(spark, [("0401_A", "hot", "q", "new")]))
    import time as _time

    stale = _time.time_ns() + 120 * 1_000_000_000
    assert t.scan(now_ns=stale).count() == 0


def test_ttl_compaction_purges_and_preserves_stamps(spark, tmp_path):
    """compact() on a TTL table physically drops expired cells and keeps
    the surviving cells' REAL version stamps (HBase compaction preserves
    cell timestamps) — a version=1 reset would expire everything at the
    next read and reset cell age."""
    t = WideTable.create(
        spark, str(tmp_path / "t"), ["hot", "cold"], ttl={"hot": 10**9}
    )
    t.put(_cells(spark, [("0401_A", "hot", "q", "h"),
                         ("0401_A", "cold", "q", "c")]))
    before = {
        (r["family"]): r["version"]
        for r in t.versions(rowkey="0401_A").collect()
    }
    t.compact()
    after = {
        (r["family"]): r["version"]
        for r in t.versions(rowkey="0401_A").collect()
    }
    assert after["hot"] == before["hot"]  # real stamp survives compaction
    assert t.scan().count() == 2          # nothing expired with a huge TTL
    # descriptor survives the whole-table swap
    reopened = WideTable.open(spark, str(tmp_path / "t"))
    assert reopened.ttl == {"hot": 10**9}


def test_changes_feed_is_incremental_and_typed(spark, table):
    """changes(since) returns exactly the post-checkpoint delta with
    put/delete ops — the WAL/replication analogue for downstream sync."""
    table.put(_cells(spark, [("0401_A", "info", "q", "v1")]))
    ckpt = max(
        r["version"] for r in table.changes().select("version").collect()
    )
    table.put(_cells(spark, [("0402_B", "info", "q", "v2")]))
    table.delete("0401_A", "info", "q")
    delta = table.changes(since_version=ckpt).collect()
    ops = {(r["rowkey"], r["op"]) for r in delta}
    assert ops == {("0402_B", "put"), ("0401_A", "delete")}
    # full feed from 0 replays everything
    assert len(table.changes().collect()) == 3


def test_merge_update_insert_and_skip_unchanged(spark, table):
    """MERGE: matched rows update, unmatched insert, and unchanged rows
    write NOTHING (no-op elision — write amplification tracks the true
    delta, not the snapshot size)."""
    table.put(_cells(spark, [("0401_A", "info", "q", "same"),
                             ("0401_B", "info", "q", "old")]))
    stats0 = {r["prefix"]: r["n_cells"]
              for r in table.partition_stats().collect()}
    src = _cells(spark, [("0401_A", "info", "q", "same"),   # unchanged
                         ("0401_B", "info", "q", "new"),    # update
                         ("0401_C", "info", "q", "fresh")]) # insert
    table.merge(src)
    got = {r["rowkey"]: r["value"] for r in table.scan().collect()}
    assert got == {"0401_A": "same", "0401_B": "new", "0401_C": "fresh"}
    stats1 = {r["prefix"]: r["n_cells"]
              for r in table.partition_stats().collect()}
    # exactly 2 new cell versions (update + insert); the unchanged row
    # appended nothing
    assert stats1["0401"] - stats0["0401"] == 2


def test_merge_insert_only_never_clobbers(spark, table):
    """when_matched='skip': insert-if-absent ingest — existing cells are
    untouched even when the source disagrees."""
    table.put(_cells(spark, [("0401_A", "info", "q", "keep")]))
    src = _cells(spark, [("0401_A", "info", "q", "CLOBBER"),
                         ("0401_B", "info", "q", "new")])
    table.merge(src, when_matched="skip")
    got = {r["rowkey"]: r["value"] for r in table.scan().collect()}
    assert got == {"0401_A": "keep", "0401_B": "new"}


def test_merge_delete_matched(spark, table):
    """when_matched='delete': sync-with-deletes — matched cells get
    tombstones, unmatched source rows insert."""
    table.put(_cells(spark, [("0401_A", "info", "q", "gone"),
                             ("0401_B", "info", "q", "stays")]))
    src = _cells(spark, [("0401_A", "info", "q", None),
                         ("0401_C", "info", "q", "added")])
    table.merge(src, when_matched="delete")
    got = {r["rowkey"]: r["value"] for r in table.scan().collect()}
    assert got == {"0401_B": "stays", "0401_C": "added"}


def test_merge_rejects_unknown_clause(spark, table):
    with pytest.raises(ValueError):
        table.merge(_cells(spark, []), when_matched="upsert")


def test_counter_family_sums_deltas(spark, tmp_path):
    """Counter families (HBase Increment): the live value is the sum of
    delta cells — blind appends, no read-modify-write — and a delete
    resets the counter (sum restarts after the tombstone)."""
    t = WideTable.create(
        spark, str(tmp_path / "t"), ["info", "cnt"], counters=["cnt"]
    )
    t.increment("0401_A", "cnt", "hits", 5)
    t.increment("0401_A", "cnt", "hits", 3)
    t.increment("0401_A", "cnt", "hits", -1)
    t.put(_cells(spark, [("0401_A", "info", "q", "x")]))  # normal family
    got = {(r["family"], r["qualifier"]): r["value"]
           for r in t.scan().collect()}
    assert got[("cnt", "hits")] == "7"
    assert got[("info", "q")] == "x"
    assert t.get("0401_A", "cnt", "hits").collect()[0]["value"] == "7"
    # delete resets: only post-tombstone deltas count
    t.delete("0401_A", "cnt", "hits")
    assert t.get("0401_A", "cnt", "hits").count() == 0
    t.increment("0401_A", "cnt", "hits", 2)
    assert t.get("0401_A", "cnt", "hits").collect()[0]["value"] == "2"


def test_counter_survives_compaction_and_reopen(spark, tmp_path):
    """Compaction folds a counter's deltas into one base cell whose value
    keeps summing with later increments; the counter-family set persists
    in the descriptor."""
    path = str(tmp_path / "t")
    t = WideTable.create(spark, path, ["cnt"], counters=["cnt"])
    t.increment("0401_A", "cnt", "hits", 10)
    t.increment("0401_A", "cnt", "hits", 4)
    t.compact()
    stats = {r["prefix"]: r["n_cells"] for r in t.partition_stats().collect()}
    assert stats["0401"] == 1  # two deltas folded to one base cell
    t2 = WideTable.open(spark, path)
    assert t2.counters == ["cnt"]
    t2.increment("0401_A", "cnt", "hits", 1)
    assert t2.get("0401_A", "cnt", "hits").collect()[0]["value"] == "15"


def test_increment_rejects_non_counter_family(spark, tmp_path):
    t = WideTable.create(spark, str(tmp_path / "t"), ["info"])
    with pytest.raises(ValueError, match="not a counter family"):
        t.increment("0401_A", "info", "q")


def test_counter_family_must_be_declared_family(spark, tmp_path):
    with pytest.raises(ValueError, match="counter families"):
        WideTable.create(spark, str(tmp_path / "t"), ["a"], counters=["b"])


# ---------------------------------------------------------------------------
# secondary index (value -> rowkey)
# ---------------------------------------------------------------------------


def test_index_lookup_matches_scan(spark, table):
    table.put(_cells(spark, [
        ("0401_M1", "info", "yhbh", "U1"),
        ("0402_M2", "info", "yhbh", "U2"),
        ("0403_M3", "info", "yhbh", "U1"),
        ("0401_M4", "info", "zhbl", "U1"),   # other qualifier — not indexed
    ]))
    table.build_index("info", "yhbh")
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "U1").collect()
    )
    assert got == ["0401_M1", "0403_M3"]


def test_index_read_repair_never_returns_wrong_rows(spark, table):
    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U1")]))
    table.build_index("info", "yhbh")
    # overwrite AFTER the build: the index still maps U1 -> 0401_M1, but
    # the live resolved value is U9 — read-repair must drop the row
    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U9")]))
    got = table.lookup_by_value(
        "info", "yhbh", "U1", allow_stale=True
    ).collect()
    assert got == []


def test_index_staleness_contract(spark, table):
    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U1")]))
    table.build_index("info", "yhbh")
    # fresh: serves
    assert len(table.lookup_by_value("info", "yhbh", "U1").collect()) == 1
    import time as _time
    _time.sleep(0.01)
    table.put(_cells(spark, [("0402_M2", "info", "yhbh", "U1")]))
    with pytest.raises(WideTable.IndexStale):
        table.lookup_by_value("info", "yhbh", "U1")
    # stale reads are opt-in and one-sided: only MISS the new row
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value(
            "info", "yhbh", "U1", allow_stale=True
        ).collect()
    )
    assert got == ["0401_M1"]
    # rebuild heals
    table.build_index("info", "yhbh")
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "U1").collect()
    )
    assert got == ["0401_M1", "0402_M2"]


def test_index_unknown_family_and_missing_index(spark, table):
    with pytest.raises(ValueError, match="unknown family"):
        table.build_index("nope", "q")
    with pytest.raises(ValueError, match="build_index first"):
        table.lookup_by_value("info", "yhbh", "U1")


def test_index_files_prune_on_value_stats(spark, table):
    # the index is written value-range-partitioned + sorted, so a point
    # probe is decidable from file-level min/max stats: most index files
    # must be prunable without reading rows
    import glob

    import pyarrow.parquet as pq

    rows = [
        (f"04{i % 15 + 1:02d}_M{i}", "info", "yhbh", f"U{i:04d}")
        for i in range(400)
    ]
    table.put(_cells(spark, rows))
    table.build_index("info", "yhbh")
    idx_dir = table._index_path("info", "yhbh") + "/base"
    files = sorted(glob.glob(idx_dir + "/*.parquet"))
    assert len(files) >= 2, "need multiple index files to show pruning"
    probe = "U0042"
    total = candidate = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        st = md.row_group(0).column(names.index("value")).statistics
        total += 1
        if st is None or (st.min <= probe <= st.max):
            candidate += 1
    assert candidate < total, (
        f"no file-level pruning: {candidate}/{total} files candidate"
    )
    # and the probe still answers correctly through the index
    got = table.lookup_by_value("info", "yhbh", probe).collect()
    assert [r["rowkey"] for r in got] == ["0413_M42"]


def test_subpartitioned_compact_one_bucket(spark, tmp_path):
    """Bucket-granular compaction on the two-level layout: only the named
    (prefix, bucket) cell is rewritten; sibling buckets keep their append
    batches; the resolved view is unchanged; the layout round-trips
    through open()."""
    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(
        spark, str(tmp_path / "wtc"), ["info"], n_subpartitions=4
    )
    # spread rows over one prefix; find two rowkeys in DIFFERENT buckets
    keys = [f"0401_{i:03d}" for i in range(16)]
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(t._py_bucket(k), []).append(k)
    (hot_b, hot_keys), (cold_b, cold_keys) = sorted(by_bucket.items())[:2]
    for v in ("U1", "U2", "U3"):  # 3 append batches -> compaction debt
        t.put(_cells(
            spark,
            [(k, "info", "q", v) for k in hot_keys + cold_keys],
        ))
    before = sorted(map(tuple, t.scan().collect()))

    t.compact_prefixes(["0401"], buckets=[hot_b])

    # resolved view unchanged
    assert sorted(map(tuple, t.scan().collect())) == before
    # hot bucket collapsed to one version; cold bucket keeps its 3
    import collections
    vers = collections.defaultdict(set)
    for r in t._cells().collect():
        vers[r["bucket"]].add(r["version"])
    assert len(vers[hot_b]) == 1
    assert len(vers[cold_b]) == 3
    # descriptor round-trip: open() recovers the layout and still reads
    t2 = WideTable.open(spark, str(tmp_path / "wtc"))
    assert t2.n_subpartitions == 4
    assert t2.get(hot_keys[0], "info", "q").collect()[0]["value"] == "U3"


def test_subpartitioned_bucket_park_heals(spark, tmp_path):
    """A bucket-level park (crash between the two renames) must heal
    bucket-by-bucket: the parked bucket is renamed back even though the
    main prefix dir still exists."""
    import shutil
    from pathlib import Path

    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(
        spark, str(tmp_path / "wtp"), ["info"], n_subpartitions=4
    )
    keys = [f"0401_{i:03d}" for i in range(16)]
    t.put(_cells(spark, [(k, "info", "q", "v") for k in keys]))
    buckets = sorted({t._py_bucket(k) for k in keys})
    assert len(buckets) >= 2
    b = buckets[0]
    before = sorted(map(tuple, t.scan().collect()))
    # simulate: park bucket b under __aside, main bucket dir gone
    root = Path(str(tmp_path / "wtp"))
    src = root / "prefix=0401" / f"bucket={b}"
    aside = Path(str(tmp_path / "wtp") + "__aside") / "prefix=0401"
    aside.mkdir(parents=True)
    shutil.move(str(src), str(aside / f"bucket={b}"))
    assert sorted(map(tuple, t.scan().collect())) == before  # healed
    assert not (aside / f"bucket={b}").exists()


def test_recover_does_not_resurrect_tombstoned_bucket(spark, tmp_path):
    """Crash between install and aside-cleanup of a WHOLE-PREFIX compaction
    on a sub-partitioned table: the parked pre-compaction prefix dir holds a
    bucket the compaction legitimately tombstoned away (absent from the
    freshly-installed main dir). The aside manifest records which buckets
    the compaction wrote, so _recover must DELETE the stale parked bucket —
    not rename it back and resurrect physically-purged data."""
    import shutil
    from pathlib import Path

    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(
        spark, str(tmp_path / "wtm"), ["info"], n_subpartitions=4
    )
    keys = [f"0401_{i:03d}" for i in range(16)]
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(t._py_bucket(k), []).append(k)
    (dead_b, dead_keys), (live_b, live_keys) = sorted(by_bucket.items())[:2]
    t.put(_cells(
        spark, [(k, "info", "q", "v") for k in dead_keys + live_keys]
    ))
    for k in dead_keys:  # tombstone the whole dead bucket
        t.delete(k, "info", "q")
    root = Path(str(tmp_path / "wtm"))
    saved = tmp_path / "pre_compaction_copy"
    shutil.copytree(root / "prefix=0401", saved)

    t.compact_prefixes(["0401"])  # dead bucket physically purged
    assert not (root / "prefix=0401" / f"bucket={dead_b}").exists()
    after = sorted(map(tuple, t.scan().collect()))
    assert {r[0] for r in after} == set(live_keys)

    # simulate the crash aftermath: stale pre-compaction copy still parked,
    # manifest (written before any swap) still present
    aside = Path(str(root) + "__aside")
    aside.mkdir()
    shutil.move(str(saved), str(aside / "prefix=0401"))
    t._write_aside_manifest(
        t._fs(), {"prefix=0401": [f"bucket={live_b}"]}, []
    )

    assert sorted(map(tuple, t.scan().collect())) == after  # _recover ran
    # the tombstoned bucket stays purged; the park and manifest are consumed
    assert not (root / "prefix=0401" / f"bucket={dead_b}").exists()
    assert not aside.exists()


def test_recover_manifest_tombstoned_bucket_unit(spark, tmp_path):
    """Same crash window for a BUCKET-level compaction unit that resolved to
    zero rows: the manifest lists 'prefix/bucket' under tombstoned, so
    _recover deletes the parked bucket instead of restoring it."""
    import shutil
    from pathlib import Path

    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(
        spark, str(tmp_path / "wtn"), ["info"], n_subpartitions=4
    )
    keys = [f"0401_{i:03d}" for i in range(16)]
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(t._py_bucket(k), []).append(k)
    (dead_b, dead_keys), (live_b, live_keys) = sorted(by_bucket.items())[:2]
    t.put(_cells(
        spark, [(k, "info", "q", "v") for k in dead_keys + live_keys]
    ))
    for k in dead_keys:
        t.delete(k, "info", "q")
    root = Path(str(tmp_path / "wtn"))
    # simulate the crash: compaction parked the dead bucket (its tmp output
    # was empty -> unit tombstoned in the manifest) and died before the
    # aside cleanup
    aside = Path(str(root) + "__aside") / "prefix=0401"
    aside.mkdir(parents=True)
    shutil.move(
        str(root / "prefix=0401" / f"bucket={dead_b}"),
        str(aside / f"bucket={dead_b}"),
    )
    t._write_aside_manifest(
        t._fs(), {}, [f"prefix=0401/bucket={dead_b}"]
    )
    rows = sorted(r["rowkey"] for r in t.scan().collect())
    assert rows == sorted(live_keys)  # dead bucket NOT restored
    assert not (root / "prefix=0401" / f"bucket={dead_b}").exists()
    assert not Path(str(root) + "__aside").exists()


def test_recover_manifest_deletes_flat_stale_park(spark, tmp_path):
    """Flat layout (no buckets), crash after install but before aside
    cleanup: the parked dir is the stale pre-compaction copy of a WRITTEN
    unit whose install completed — _recover must delete it (and consume
    the manifest), not leave it under __aside forever."""
    import shutil
    from pathlib import Path

    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(spark, str(tmp_path / "wtf"), ["info"])
    for v in ("U1", "U2"):
        t.put(_cells(spark, [("0401_M1", "info", "q", v)]))
    root = Path(str(tmp_path / "wtf"))
    saved = tmp_path / "stale_copy"
    shutil.copytree(root / "prefix=0401", saved)

    t.compact_prefixes(["0401"])
    after = sorted(map(tuple, t.scan().collect()))

    aside = Path(str(root) + "__aside")
    aside.mkdir()
    shutil.move(str(saved), str(aside / "prefix=0401"))
    t._write_aside_manifest(t._fs(), {"prefix=0401": []}, [])

    assert sorted(map(tuple, t.scan().collect())) == after  # _recover ran
    assert not aside.exists()  # stale park AND manifest consumed


def test_recover_restores_premanifest_bucket_park(spark, tmp_path):
    """A parked bucket in NEITHER manifest set is unreachable under the
    single-writer protocol, but if a stale pre-manifest park ever coexists
    with a fresh manifest (covering a different unit), deleting it would be
    irreversible data loss. _recover must fall back to the legacy
    conservative heal: restore the bucket when its main copy is missing."""
    import shutil
    from pathlib import Path

    from learn_hbase_spark.widetable import WideTable

    t = WideTable.create(
        spark, str(tmp_path / "wtp"), ["info"], n_subpartitions=4
    )
    keys = [f"0401_{i:03d}" for i in range(16)]
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(t._py_bucket(k), []).append(k)
    (parked_b, parked_keys), _ = sorted(by_bucket.items())[:2]
    t.put(_cells(spark, [(k, "info", "q", "v") for k in keys]))
    root = Path(str(tmp_path / "wtp"))
    # pre-manifest park: bucket moved aside, main copy GONE, and the fresh
    # manifest on disk mentions only an unrelated unit
    aside = Path(str(root) + "__aside") / "prefix=0401"
    aside.mkdir(parents=True)
    shutil.move(
        str(root / "prefix=0401" / f"bucket={parked_b}"),
        str(aside / f"bucket={parked_b}"),
    )
    t._write_aside_manifest(
        t._fs(), {}, ["prefix=0499/bucket=0"]
    )
    rows = sorted(r["rowkey"] for r in t.scan().collect())
    assert rows == sorted(keys)  # parked bucket restored, nothing lost
    assert (root / "prefix=0401" / f"bucket={parked_b}").exists()
    assert not Path(str(root) + "__aside").exists()


def _dir_parquet_bytes(root):
    import os

    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def test_index_incremental_update_equivalent_to_rebuild(spark, tmp_path):
    """VERDICT r10 #8, the Phoenix incremental-maintenance pattern:
    update_index appends a delta segment for ONLY the upserted rowkeys
    (value change, new row, tombstone) and re-stamps; the lookup through
    base+delta must equal a full rebuild's, the staleness gate must
    accept the delta as fresh, and the delta's write volume must be
    bounded by the upsert — not the index."""
    import os
    import time as _time

    table = WideTable.create(spark, str(tmp_path / "ti"), ["info"])
    rows = [(f"04{i:02d}_M{i}", "info", "yhbh", f"U{i % 7}")
            for i in range(40)]
    table.put(_cells(spark, rows))
    table.build_index("info", "yhbh")
    idx_root = table._index_path("info", "yhbh")
    base_bytes = _dir_parquet_bytes(os.path.join(idx_root, "base"))

    # the upsert: one value change INTO the probe value, one change away
    # from it, one brand-new row, one tombstone of a probe-value row
    _time.sleep(0.01)
    table.put(_cells(spark, [
        ("0401_M1", "info", "yhbh", "U3"),    # was U1 -> now matches probe
        ("0403_M3", "info", "yhbh", "U6"),    # was U3 -> leaves probe set
        ("0499_NEW", "info", "yhbh", "U3"),   # fresh row in probe set
        ("0410_M10", "info", "yhbh", None),   # tombstone (was U3)
    ]))
    with pytest.raises(WideTable.IndexStale):
        table.lookup_by_value("info", "yhbh", "U3")

    table.update_index(
        "info", "yhbh", ["0401_M1", "0403_M3", "0499_NEW", "0410_M10"]
    )
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "U3").collect()
    )

    # staleness-equivalence: a full rebuild answers identically
    table.build_index("info", "yhbh")
    want = sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "U3").collect()
    )
    assert got == want
    assert "0401_M1" in got and "0499_NEW" in got      # delta hits
    assert "0403_M3" not in got and "0410_M10" not in got  # repair + tomb
    # the changed-away row must also have left its OLD value's result
    # (read-repair over the superseded base entry)
    table.update_index("info", "yhbh", ["0403_M3"])  # no-op delta is fine
    assert "0403_M3" not in {
        r["rowkey"]
        for r in table.lookup_by_value(
            "info", "yhbh", "U3", allow_stale=True
        ).collect()
    }


def test_index_delta_write_volume_bounded(spark, tmp_path):
    """The point of incremental maintenance: a 2-row upsert writes an
    index delta orders smaller than the base snapshot, and a full
    rebuild collapses the segment stack back to base-only."""
    import os
    import time as _time

    table = WideTable.create(spark, str(tmp_path / "tv"), ["info"])
    pad = "x" * 200
    rows = [(f"04{i:02d}_M{i}", "info", "yhbh", f"U{i}{pad}")
            for i in range(64)]
    table.put(_cells(spark, rows))
    table.build_index("info", "yhbh")
    idx_root = table._index_path("info", "yhbh")
    base_bytes = _dir_parquet_bytes(os.path.join(idx_root, "base"))

    _time.sleep(0.01)
    table.put(_cells(spark, [
        ("0401_M1", "info", "yhbh", "V1"),
        ("0402_M2", "info", "yhbh", "V1"),
    ]))
    table.update_index("info", "yhbh", ["0401_M1", "0402_M2"])
    deltas = [d for d in os.listdir(idx_root) if d.startswith("delta_")]
    assert len(deltas) == 1
    delta_bytes = _dir_parquet_bytes(os.path.join(idx_root, deltas[0]))
    assert 0 < delta_bytes < base_bytes / 4  # upsert-sized, not index-sized
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "V1").collect()
    )
    assert got == ["0401_M1", "0402_M2"]

    # full rebuild collapses the stack: deltas gone, lookups unchanged
    table.build_index("info", "yhbh")
    assert not [d for d in os.listdir(idx_root) if d.startswith("delta_")]
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "V1").collect()
    ) == ["0401_M1", "0402_M2"]


def test_index_update_requires_build_and_accepts_dataframe_keys(
    spark, tmp_path
):
    table = WideTable.create(spark, str(tmp_path / "tdf"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "yhbh", "U1")]))
    with pytest.raises(ValueError, match="build_index first"):
        table.update_index("info", "yhbh", ["0401_M1"])
    table.build_index("info", "yhbh")
    import time as _time

    _time.sleep(0.01)
    table.put(_cells(spark, [("0402_M2", "info", "yhbh", "U1")]))
    table.update_index(
        "info", "yhbh", spark.createDataFrame([("0402_M2",)], "rowkey string")
    )
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "U1").collect()
    ) == ["0401_M1", "0402_M2"]
    # a one-shot iterable: the coverage check must not use up the keys
    # the delta is built from (that would stamp an index missing the row)
    table.put(_cells(spark, [("0403_M3", "info", "yhbh", "U1")]))
    table.update_index("info", "yhbh", (k for k in ["0403_M3"]))
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "yhbh", "U1").collect()
    ) == ["0401_M1", "0402_M2", "0403_M3"]


def test_index_range_lookup(spark, tmp_path):
    """lookup_by_value_range: half-open [lo, hi) over the sorted segment
    stack, with read-repair semantics identical to the point probe —
    including entries that arrive via an update_index delta."""
    import time as _time

    table = WideTable.create(spark, str(tmp_path / "tr"), ["info"])
    table.put(_cells(spark, [
        ("0401_M1", "info", "seg", "APPLE"),
        ("0402_M2", "info", "seg", "BANANA"),
        ("0403_M3", "info", "seg", "CHERRY"),
        ("0404_M4", "info", "seg", "DATE"),
    ]))
    table.build_index("info", "seg")
    got = sorted(
        (r["rowkey"], r["value"])
        for r in table.lookup_by_value_range(
            "info", "seg", "BANANA", "DATE"
        ).collect()
    )
    assert got == [("0402_M2", "BANANA"), ("0403_M3", "CHERRY")]

    # delta entries join the range; changed-away rows leave it
    _time.sleep(0.01)
    table.put(_cells(spark, [
        ("0401_M1", "info", "seg", "BLUEBERRY"),   # into range via delta
        ("0403_M3", "info", "seg", "ELDERBERRY"),  # out of range
    ]))
    table.update_index("info", "seg", ["0401_M1", "0403_M3"])
    got = sorted(
        (r["rowkey"], r["value"])
        for r in table.lookup_by_value_range(
            "info", "seg", "BANANA", "DATE"
        ).collect()
    )
    assert got == [("0401_M1", "BLUEBERRY"), ("0402_M2", "BANANA")]


def test_put_maintained_couples_writes_to_index(spark, tmp_path):
    """put_maintained derives each index's touched keys from the cells it
    lands, so index coverage is a construction property: after any
    sequence of maintained writes, every lookup is fresh AND complete —
    the hazard it closes is a bare put whose rows a later update_index
    re-stamp would silently vouch for."""
    table = WideTable.create(spark, str(tmp_path / "tpm"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "seg", "A")]))
    table.build_index("info", "seg")

    import time as _time

    _time.sleep(0.01)
    table.put_maintained(
        _cells(spark, [
            ("0402_M2", "info", "seg", "A"),
            ("0403_M3", "info", "seg", "B"),
        ]),
        (("info", "seg"),),
    )
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "seg", "A").collect()
    ) == ["0401_M1", "0402_M2"]

    # an all-miss maintenance (no cells for the pair) re-stamps without
    # accreting an empty delta segment
    import os

    idx_root = table._index_path("info", "seg")
    before = {d for d in os.listdir(idx_root) if d.startswith("delta_")}
    _time.sleep(0.01)
    table.put_maintained(
        _cells(spark, [("0404_M4", "info", "other", "X")]),
        (("info", "seg"),),
    )
    after = {d for d in os.listdir(idx_root) if d.startswith("delta_")}
    assert after == before  # no empty segment
    # and the pair's index is still FRESH (the other-qualifier write is
    # covered by the re-stamp: it cannot affect info:seg lookups)
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "seg", "B").collect()
    ) == ["0403_M3"]


def test_index_probe_freshness_is_one_sidecar_read(spark, tmp_path):
    """VERDICT r11 weak #1: the lookup freshness probe must be O(1)
    metadata reads — one _lastwrite sidecar read — never a recursive
    listing of every table file (a multi-second driver stall per probe
    on a 100 TB table). The mtime walk survives only as the fallback
    for tables written before the sidecar existed."""
    table = WideTable.create(spark, str(tmp_path / "tp"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "seg", "A")]))
    table.build_index("info", "seg")

    calls = {"walk": 0}
    orig = WideTable._newest_data_mtime_ms

    def counting_walk(self):
        calls["walk"] += 1
        return orig(self)

    try:
        WideTable._newest_data_mtime_ms = counting_walk
        assert [
            r["rowkey"]
            for r in table.lookup_by_value("info", "seg", "A").collect()
        ] == ["0401_M1"]
        assert calls["walk"] == 0  # sidecar answered; no listing walk

        # staleness still detected through the sidecar alone
        import time as _time

        _time.sleep(0.001)
        table.put(_cells(spark, [("0402_M2", "info", "seg", "A")]))
        with pytest.raises(WideTable.IndexStale):
            table.lookup_by_value("info", "seg", "A")
        assert calls["walk"] == 0

        # fallback: a pre-sidecar table (no _lastwrite) uses the walk
        table.build_index("info", "seg")
        table._fs().delete(
            table._hpath(table.path + "/_lastwrite"), False
        )
        assert [
            r["rowkey"]
            for r in table.lookup_by_value("info", "seg", "A").collect()
        ] == ["0401_M1", "0402_M2"]
        assert calls["walk"] == 1
    finally:
        WideTable._newest_data_mtime_ms = orig


def test_index_survives_compaction_fresh(spark, tmp_path):
    """Compaction preserves the resolved view (latest-wins + TTL purge are
    both read-invisible), so a secondary index legitimately stays FRESH
    across compact() — the Phoenix-on-HBase behavior, and at 100 TB the
    difference between compaction cadence and index-rebuild cadence
    being coupled or not. The carried _lastwrite stamp must survive the
    whole-dir swap."""
    table = WideTable.create(spark, str(tmp_path / "tc"), ["info"])
    table.put(_cells(spark, [
        ("0401_M1", "info", "seg", "A"),
        ("0402_M2", "info", "seg", "B"),
    ]))
    table.put(_cells(spark, [("0401_M1", "info", "seg", "B")]))  # overwrite
    table.build_index("info", "seg")
    table.compact()
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "seg", "B").collect()
    )
    assert got == ["0401_M1", "0402_M2"]  # fresh, no IndexStale
    # and a write AFTER the compaction is still detected
    import time as _time

    _time.sleep(0.001)
    table.put(_cells(spark, [("0403_M3", "info", "seg", "B")]))
    with pytest.raises(WideTable.IndexStale):
        table.lookup_by_value("info", "seg", "B")


def test_update_index_rejects_uncovered_bare_put(spark, tmp_path):
    """ADVICE r11 #1: a bare put whose rowkeys were never maintained must
    degrade to a LOUD IndexStale at the next update_index instead of
    being silently vouched for by its re-stamp (which would turn the
    uncovered rows into permanent lookup misses)."""
    table = WideTable.create(spark, str(tmp_path / "tu"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "seg", "A")]))
    table.build_index("info", "seg")
    import time as _time

    _time.sleep(0.001)
    table.put(_cells(spark, [("0402_M2", "info", "seg", "A")]))  # bare put
    _time.sleep(0.001)
    table.put(_cells(spark, [("0403_M3", "info", "seg", "B")]))
    with pytest.raises(WideTable.IndexStale, match="cannot vouch"):
        table.update_index("info", "seg", ["0403_M3"])  # omits 0402_M2
    # same catch through put_maintained (the mixed-workflow hazard)
    with pytest.raises(WideTable.IndexStale, match="cannot vouch"):
        table.put_maintained(
            _cells(spark, [("0404_M4", "info", "seg", "B")]),
            (("info", "seg"),),
        )
    # remedy 1: include every touched rowkey — the call then vouches
    table.update_index("info", "seg", ["0402_M2", "0403_M3", "0404_M4"])
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "seg", "A").collect()
    ) == ["0401_M1", "0402_M2"]
    # writes to OTHER qualifiers never trip the check (cannot affect it)
    _time.sleep(0.001)
    table.put(_cells(spark, [("0405_M5", "info", "other", "X")]))
    table.update_index("info", "seg", [])
    # opt-out for construction-guaranteed paths exists but is explicit
    _time.sleep(0.001)
    table.put(_cells(spark, [("0406_M6", "info", "seg", "A")]))
    table.update_index("info", "seg", [], verify_coverage=False)


def test_index_delta_stack_auto_merges(spark, tmp_path):
    """ADVICE r11 #4: the delta stack is bounded — once it grows past
    INDEX_DELTA_MERGE_THRESHOLD segments, update_index folds the deltas
    (never the base) into ONE merged segment, so a long-running
    maintained stream cannot grow the probe plan linearly with drains."""
    import os

    table = WideTable.create(spark, str(tmp_path / "tm"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "seg", "A")]))
    table.build_index("info", "seg")
    table.INDEX_DELTA_MERGE_THRESHOLD = 3  # instance override for the test
    import time as _time

    expect = {"0401_M1"}
    for i in range(2, 8):
        _time.sleep(0.001)
        key = f"04{i:02d}_M{i}"
        table.put_maintained(
            _cells(spark, [(key, "info", "seg", "A")]), (("info", "seg"),)
        )
        expect.add(key)
    idx_root = table._index_path("info", "seg")
    deltas = [d for d in os.listdir(idx_root) if d.startswith("delta_")]
    assert len(deltas) <= 4  # folded: 6 drains never stack 6 segments
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "seg", "A").collect()
    ) == sorted(expect)


def test_index_probe_survives_interrupted_fold(spark, tmp_path):
    """VERDICT r12 weak: a crash mid-fold used to leave a committed-file-
    less ``delta_*`` dir (an empty shell from an interrupted delete, or a
    ``_temporary``-only remnant of a torn merged-segment write) that broke
    every later lookup with UNABLE_TO_INFER_SCHEMA until a manual
    build_index. The probe now reads segments through the ANN artifact
    family's ``_try_parquet`` posture — committed-file-less reads as
    absent and is skipped (provably safe: such a dir holds no committed
    data, and the fold removes old segments only after the merged one is
    fully written) — so lookups keep answering correctly."""
    import os

    table = WideTable.create(spark, str(tmp_path / "tc"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "seg", "A")]))
    table.build_index("info", "seg")
    table.put_maintained(
        _cells(spark, [("0402_M2", "info", "seg", "A")]), (("info", "seg"),)
    )
    idx_root = table._index_path("info", "seg")
    # crash state 1: interrupted fs.delete left an EMPTY delta shell
    os.makedirs(os.path.join(idx_root, "delta_000000000000000001"))
    # crash state 2: merged write died before commit — _temporary only
    os.makedirs(
        os.path.join(idx_root, "delta_000000000000000002", "_temporary")
    )
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "seg", "A").collect()
    )
    assert got == ["0401_M1", "0402_M2"]
    # range probe rides the same segment walk
    got_rng = sorted(
        r["rowkey"]
        for r in table.lookup_by_value_range(
            "info", "seg", "A", "B"
        ).collect()
    )
    assert got_rng == ["0401_M1", "0402_M2"]


def test_index_fold_heals_torn_deltas_and_leaves_no_trash(spark, tmp_path):
    """The fold itself must also survive (and clean up) a predecessor's
    torn state: committed-file-less deltas are skipped when building the
    merged segment, every old delta is moved aside by atomic renames
    (never a non-atomic recursive delete of a live ``delta_*`` name), and
    no ``_trash_fold_*`` residue remains after the fold completes."""
    import os
    import time as _time

    table = WideTable.create(spark, str(tmp_path / "tf"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "seg", "A")]))
    table.build_index("info", "seg")
    table.INDEX_DELTA_MERGE_THRESHOLD = 2
    idx_root = table._index_path("info", "seg")
    # pre-seed both torn crash states BEFORE the fold triggers
    os.makedirs(os.path.join(idx_root, "delta_000000000000000001"))
    os.makedirs(
        os.path.join(idx_root, "delta_000000000000000002", "_temporary")
    )
    expect = {"0401_M1"}
    for i in range(2, 7):
        _time.sleep(0.001)
        key = f"04{i:02d}_M{i}"
        table.put_maintained(
            _cells(spark, [(key, "info", "seg", "A")]), (("info", "seg"),)
        )
        expect.add(key)
    names = os.listdir(idx_root)
    deltas = [d for d in names if d.startswith("delta_")]
    assert len(deltas) <= 3  # folded: the stack stays bounded
    # the torn shells were swept into the trash and the trash removed
    assert "delta_000000000000000001" not in names
    assert "delta_000000000000000002" not in names
    assert not [d for d in names if d.startswith("_trash_fold_")]
    assert sorted(
        r["rowkey"]
        for r in table.lookup_by_value("info", "seg", "A").collect()
    ) == sorted(expect)


def test_index_probe_torn_build_refuses_loudly(spark, tmp_path):
    """A build_index that crashes between writing base and stamping used
    to make every strict lookup raise TypeError (int > None against the
    missing stamp); an interrupted index-dir delete (empty base) was
    misdiagnosed by a catch-all except. Both torn states must surface as
    the loud rebuild ValueError — and the stampless-but-complete base
    must still serve under allow_stale=True."""
    import os
    import shutil

    table = WideTable.create(spark, str(tmp_path / "tb"), ["info"])
    table.put(_cells(spark, [("0401_M1", "info", "seg", "A")]))
    table.build_index("info", "seg")
    idx_root = table._index_path("info", "seg")

    # torn state 1: stamp missing (crash before _write_index_stamp)
    os.remove(os.path.join(idx_root, "_built"))
    with pytest.raises(ValueError, match="no build stamp"):
        table.lookup_by_value("info", "seg", "A")
    # base itself is complete (stamp is written last) — stale reads OK
    got = sorted(
        r["rowkey"]
        for r in table.lookup_by_value(
            "info", "seg", "A", allow_stale=True
        ).collect()
    )
    assert got == ["0401_M1"]

    # torn state 2: interrupted delete left an EMPTY base shell
    shutil.rmtree(os.path.join(idx_root, "base"))
    os.makedirs(os.path.join(idx_root, "base"))
    with pytest.raises(ValueError, match="build_index first"):
        table.lookup_by_value("info", "seg", "A")


# ---------------------------------------------------------------------------
# point operations resolved on the driver
# ---------------------------------------------------------------------------


def test_driver_resolver_equals_the_window(spark, table):
    """``_latest_cells`` is ``_latest`` evaluated on the driver: on seeded
    random cell sets with same-version ties, tombstones, empty strings and
    non-ASCII values (a BMP character above the surrogates sorts BELOW an
    astral one in UTF-8 and by code point, above it in UTF-16), both give
    the same live cells. All sets run through one Spark job."""
    import random

    from learn_hbase_spark.widetable import CELL_SCHEMA, _latest_cells

    rng = random.Random(20261019)
    values = [None, "", "a", "b", "ab", "\u00e9", "\uffef", "\U0001F600", "\u4e2d"]
    cells = []
    for s in range(200):
        for _ in range(rng.randint(1, 8)):
            cells.append((
                f"04{s:02d}_{rng.randint(0, 1)}",
                rng.choice(["f", "g"]),
                rng.choice(["q", "r", "ü"]),
                rng.choice(values),
                rng.randint(1, 3),  # few versions: ties are common
            ))
    want = sorted(
        tuple(r)
        for r in table._latest(spark.createDataFrame(cells, CELL_SCHEMA))
        .select("rowkey", "family", "qualifier", "value")
        .collect()
    )
    assert _latest_cells(cells) == want
    assert any(v is None for *_, v, _ in cells)  # tombstones were drawn


def _jobs(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the number of
    Spark jobs it started (read once the listener bus has drained)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_point_ops_job_counts(spark, table):
    """A get is one job (the raw cells, resolved on the driver), a
    put_row one (its rows are a local relation, not a Python RDD), and
    update_index on a rowkey list at most three (coverage check, touched
    cells, delta write)."""
    table.put(_cells(spark, [
        ("0401_M1", "info", "yhbh", "U1"),
        ("0402_M2", "info", "yhbh", "U2"),
    ]))
    table.build_index("info", "yhbh")
    written = []
    put = table.put
    table.put = lambda cells: (written.append(cells), put(cells))
    _, n = _jobs(spark, "wt-put-row", lambda: table.put_row(
        "0401_M1", "info", {"yhbh": "U3", "zhbl": "Z"}
    ))
    assert n == 1
    # a JVM local relation, not a Python RDD that needs a Python worker
    plan = written[0]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    _, n = _jobs(spark, "wt-update-index", lambda: table.update_index(
        "info", "yhbh", ["0401_M1"]
    ))
    assert n <= 3
    got, n = _jobs(
        spark, "wt-get", lambda: table.get("0401_M1", "info").collect()
    )
    assert n == 1
    assert [(r["qualifier"], r["value"]) for r in got] == [
        ("yhbh", "U3"), ("zhbl", "Z")
    ]
    assert sorted(
        r["rowkey"] for r in table.lookup_by_value("info", "yhbh", "U3").collect()
    ) == ["0401_M1"]


def test_get_is_an_eager_snapshot(spark, table):
    """Like an HBase Get result, a get's frame holds the row as of the
    call: a later put does not show in it, and a compaction that deletes
    the files it was read from does not break it."""
    table.put_row("0401_M1", "info", {"q": "old"})
    snap = table.get("0401_M1", "info", "q")
    table.put_row("0401_M1", "info", {"q": "new"})
    table.compact()
    assert [r["value"] for r in snap.collect()] == ["old"]
    assert [r["value"] for r in table.get("0401_M1").collect()] == ["new"]


def test_index_probe_above_the_driver_cap_matches_below(
    spark, table, monkeypatch
):
    """The driver fetch (candidates <= cap) and the broadcast semi-join
    (above it) return the same rows, read-repair included."""
    table.put(_cells(spark, [
        (f"04{p:02d}_M{i}", "info", "seg", "A" if i % 3 else "B")
        for p in (1, 2)
        for i in range(6)
    ]))
    table.build_index("info", "seg")
    # superseded after the build: read-repair must drop it on both paths
    table.put_row("0401_M1", "info", {"seg": "B"})
    table.update_index("info", "seg", ["0401_M1"])

    def rows():
        return sorted(
            tuple(r) for r in table.lookup_by_value("info", "seg", "A").collect()
        )

    def local():
        plan = table.lookup_by_value("info", "seg", "A")._jdf.queryExecution()
        return plan.optimizedPlan().toString().startswith("LocalRelation")

    below = rows()
    assert local()  # 7 candidates: resolved on the driver
    monkeypatch.setattr(driver_path, "INDEX_PROBE_DRIVER_CAP", 1)
    above = rows()
    assert not local()  # the broadcast semi-join
    assert above == below
    assert len(below) == 7 and ("0401_M1", "info", "seg", "A") not in below


def test_get_on_a_counter_table_keeps_the_counter_sum(spark, tmp_path):
    """Tables with counter families resolve gets in Spark: a counter reads
    as its tombstone-bounded delta sum, next to the row's normal cells."""
    t = WideTable.create(
        spark, str(tmp_path / "t"), ["info", "cnt"], counters=["cnt"]
    )
    t.increment("0401_A", "cnt", "hits", 4)
    t.delete("0401_A", "cnt", "hits")
    t.increment("0401_A", "cnt", "hits", 2)
    t.increment("0401_A", "cnt", "hits", 3)
    t.put_row("0401_A", "info", {"q": "x"})
    got = {(r["family"], r["qualifier"]): r["value"]
           for r in t.get("0401_A").collect()}
    assert got == {("cnt", "hits"): "5", ("info", "q"): "x"}
