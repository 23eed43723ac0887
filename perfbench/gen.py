"""Seeded input generators for the benchmark.

Every input a workload reads is made here from ``--seed``; nothing is read
from outside the checkout. Three generators:

- ``write_tables``: the star schema + ``events`` + ``documents`` +
  ``embeddings`` tables in the shape of TESTDATA.md's tables (same column
  names, types, value ranges and per-scale-factor row counts; one parquet
  file with one row group per table), with numpy and pyarrow.
- ``write_corpus``: a multi-file ``documents``/``embeddings`` scale point,
  built in the benchmark's Spark session the way
  ``tools/make_scale_corpus.py`` builds its 25x corpus (replica ``r``
  rotates each document's words by ``r`` and permutes/sign-flips each
  vector), with seed-driven permutations and ``n_files`` files per table.
- ``meter_fixture``: the reference's meter inputs (FIXTURES.md section B) as a
  ``pipeline.fixtures.Fixture``: 15 rowkey prefixes x N meters x 93 days with
  every edge case of the FIXTURES.md checklist, so
  ``pipeline.fixtures.golden_export`` computes its expected export.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (TESTDATA.md's sizing)."""
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, start: dt.date, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> int:
    t = pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(t, path, row_group_size=max(t.num_rows, 1))
    return os.path.getsize(path)


def documents(rng, n: int) -> dict:
    """Random-word documents; ~5% are another document's text + " dup"
    and a few are exact copies, as in TESTDATA.md's documents."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    near = rng.choice(n, size=n // 20, replace=False)
    for i in near:
        text[i] = text[int(rng.integers(0, n))] + " dup"
    exact = rng.choice(n, size=max(2, n // 600), replace=False)
    for i in exact:
        text[i] = text[int(rng.integers(0, n))]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }


def embeddings(rng, n: int) -> dict:
    """Unit-norm random float32 vectors with an independent 10-way label."""
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def write_tables(out_dir: str, sf: float, seed: int, rows: dict | None = None) -> dict:
    """Write every TESTDATA.md-shaped table at ``sf`` under ``out_dir``; ``rows``
    overrides the row count of single tables.
    Returns ``{"rows": {table: n}, "bytes": total, "files": count}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = dict(table_rows(sf), **(rows or {}))
    size = {}
    size["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    size["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    k = n["customer"]
    size["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, k), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k
        )),
    })
    k = n["supplier"]
    size["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, k), 2)),
    })
    k = n["part"]
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    size["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": pa.array(np.char.add(
            np.char.add(adj[rng.integers(0, 8, k)], " "), noun[rng.integers(0, 8, k)]
        )),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, k).astype(str))),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k
        )),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 1)),
    })
    k = n["orders"]
    size["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], k)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, k), 2)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), 2405, k)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k
        )),
    })
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    size["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, k), 2)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], k)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], k)),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), 2499, k)),
    })
    k = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, k))
    size["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, round(15_000 * sf)), k)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], k
        )),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })
    size["documents"] = _write(out_dir, "documents", documents(rng, n["documents"]))
    size["embeddings"] = _write(out_dir, "embeddings", embeddings(rng, n["embeddings"]))
    rows = dict(n, region=5, nation=25)
    return {"rows": rows, "bytes": sum(size.values()), "files": len(size)}


def write_corpus(
    spark, out_dir: str, base_dir: str, mult: int, n_files: int, seed: int
) -> dict:
    """Write ``mult`` replicas of ``base_dir``'s documents/embeddings under
    ``out_dir`` as ``n_files``-file parquet tables (``tools/make_scale_corpus.py``'s
    replica transforms, with the permutation seeds drawn from ``seed``)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    doc_stride = pq.read_metadata(f"{base_dir}/documents.parquet").num_rows
    vec_stride = pq.read_metadata(f"{base_dir}/embeddings.parquet").num_rows
    doc_parts, emb_parts = [], []
    for r in range(mult):
        words = F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != "")
        text = F.col("text")
        vec = F.col("embedding")
        if r:
            k = (F.lit(r) % F.greatest(F.size(words), F.lit(1))) + 1
            text = F.array_join(
                F.concat(F.slice(words, k, F.size(words)), F.slice(words, 1, k - 1)),
                " ",
            )
            prng = random.Random(seed * 1_000_003 + r)
            perm = list(range(EMBED_DIM))
            prng.shuffle(perm)
            signs = [prng.choice((-1.0, 1.0)) for _ in range(EMBED_DIM)]
            vec = F.array(*[
                F.element_at("embedding", perm[j] + 1) * F.lit(signs[j])
                for j in range(EMBED_DIM)
            ])
        doc_parts.append(docs.select(
            (F.col("doc_id") + r * doc_stride).alias("doc_id"),
            text.alias("text"), "lang", "source",
        ).withColumn("n_chars", F.length("text").cast("long")))
        emb_parts.append(emb.select(
            (F.col("vec_id") + r * vec_stride).alias("vec_id"),
            vec.cast("array<float>").alias("embedding"), "label",
        ))
    stats = {"rows": {}, "bytes": 0, "files": 0}
    for name, parts, key in (
        ("documents", doc_parts, "doc_id"), ("embeddings", emb_parts, "vec_id")
    ):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        path = f"{out_dir}/{name}.parquet"
        out.repartition(n_files, key).write.mode("overwrite").parquet(path)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        stats["files"] += len(files)
        stats["bytes"] += sum(os.path.getsize(os.path.join(path, f)) for f in files)
        stats["rows"][name] = sum(
            pq.read_metadata(os.path.join(path, f)).num_rows for f in files
        )
    return stats


# ---------------------------------------------------------------------------
# Meter fixture (FIXTURES.md section B) — the reference's own inputs.
# ---------------------------------------------------------------------------

N_PREFIXES = 15
METER_START = dt.date(2019, 5, 1)
METER_DAYS = 93  # [2019-05-01, 2019-08-01], the pipeline's compute window


def meter_fixture(seed: int, n_meters: int):
    """``n_meters`` meters spread over 15 prefixes ``0401``..``0415``.

    Meter kinds rotate with the meter number so every FIXTURES.md edge case
    is present at any size >= 150: NULL gdfj_key/yhbh/zhbl (1-3), blank
    yhbh (4), no readings (5), a rollover day (6), zero-reading days (7),
    NULL register values (8); every meter has ~3% missing days and ~2%
    duplicate (cldbs, sjsj) later arrivals, and 30 orphan readings join
    nothing."""
    from learn_hbase_spark.pipeline.fixtures import Fixture

    rng = random.Random(seed)
    days = [METER_START + dt.timedelta(days=i) for i in range(METER_DAYS)]
    dim_rows: list[dict] = []
    reading_rows: list[dict] = []
    seq = 0
    for m in range(1, n_meters + 1):
        p = (m - 1) % N_PREFIXES + 1
        prefix = f"04{p:02d}"
        kind = m % 10
        cldbs = f"M{m:07d}"
        gdfj_key = None if kind == 1 else f"{prefix}X{rng.randint(100, 999)}"
        yhbh = {2: None, 4: "  "}.get(kind, f"U{m:07d}")
        zhbl = None if kind == 3 else rng.choice([1, 40, 80])
        dim_rows.append(dict(
            gdfj_key=gdfj_key, cldbs=cldbs, yhbh=yhbh,
            zhbl=None if zhbl is None else Decimal(zhbl), dqbh=40000 + p * 100,
        ))
        if kind == 5:
            continue
        base = rng.uniform(100, 10000)
        val = base
        rollover = rng.randrange(10, 80) if kind == 6 else None
        for i, day in enumerate(days):
            if rng.random() < 0.03:
                continue
            val += rng.uniform(0, 50)
            zxygz = round(val, 4)
            if kind == 7 and i % 3 == 0:
                zxygz = 0.0
            if i == rollover:
                val = base / 2
                zxygz = round(val, 4)
            if kind == 8 and i % 7 == 0:
                zxygz = None
            reading_rows.append(dict(
                cldbs=cldbs, sjsj=day,
                zxygz=None if zxygz is None else Decimal(str(zxygz)),
                gddwbm=f"{prefix}D{rng.randint(10, 99)}", seq=seq,
            ))
            seq += 1
            if rng.random() < 0.02:
                reading_rows.append(dict(
                    cldbs=cldbs, sjsj=day,
                    zxygz=Decimal(str(round((zxygz or 0) + 999, 4))),
                    gddwbm=f"{prefix}D{rng.randint(10, 99)}", seq=seq,
                ))
                seq += 1
    for i in range(30):
        reading_rows.append(dict(
            cldbs=f"ORPHAN{i:03d}", sjsj=rng.choice(days),
            zxygz=Decimal(str(round(rng.uniform(1, 100), 4))),
            gddwbm=f"0401D{rng.randint(10, 99)}", seq=seq,
        ))
        seq += 1
    return Fixture(dim_rows, reading_rows)


def write_meter_fixture(fx, out_dir: str) -> dict:
    """Write the fixture as ``dim_yhcld``/``meter_readings`` parquet with the
    package's declared schemas (``schemas.DIM_YHCLD``/``METER_READINGS``)."""
    os.makedirs(out_dir, exist_ok=True)
    dim = fx.dim_rows
    rd = fx.reading_rows
    b = _write(out_dir, "dim_yhcld", {
        "gdfj_key": pa.array([r["gdfj_key"] for r in dim], pa.string()),
        "cldbs": pa.array([r["cldbs"] for r in dim], pa.string()),
        "yhbh": pa.array([r["yhbh"] for r in dim], pa.string()),
        "zhbl": pa.array([r["zhbl"] for r in dim], pa.decimal128(18, 6)),
        "dqbh": pa.array([r["dqbh"] for r in dim], pa.int32()),
    })
    b += _write(out_dir, "meter_readings", {
        "cldbs": pa.array([r["cldbs"] for r in rd], pa.string()),
        "sjsj": pa.array([r["sjsj"] for r in rd], pa.date32()),
        "zxygz": pa.array([r["zxygz"] for r in rd], pa.decimal128(18, 4)),
        "gddwbm": pa.array([r["gddwbm"] for r in rd], pa.string()),
        "seq": pa.array([r["seq"] for r in rd], pa.int64()),
    })
    return {"rows": {"dim_yhcld": len(dim), "meter_readings": len(rd)},
            "bytes": b, "files": 2}
