"""The two closed-loop workloads. One client thread waits for each op.

A workload is a class with ``generate(spark)`` (seeded inputs, timed apart
from set-up), ``pass_ops(rng)`` (one pass: a list of ``(kind, name, fn)``
ops; set-up runs one untimed pass),
``after_op(name, out)`` (checks or keeps one op's output outside the timed
window; ``False`` marks the op failed) and ``check()`` (the remaining checks
after the timed phase; returns the names of the ops that failed).
"""

from __future__ import annotations

import bisect
import itertools
import datetime as dt
import math
import os
import random
import shutil
import time

import duckdb

from . import gen

# Relational and windowed registry queries that read only the star schema +
# events and create no artifact (surveyed at sf0.001 with
# DataFrameReader.parquet wrapped and the package's scratch root watched),
# each with a DuckDB oracle twin: the fixed-cost regime, where
# tables.load_table and construction-time schema inference dominate.
ANALYTIC_PANEL = (
    "q3_shipping", "rdl_flagship", "lookup_join", "asof_join", "pivot_events",
    "sessionize", "point_get", "rowkey_range_scan",
)

# The LLM-curation query over the multi-file corpus: construction jobs,
# localCheckpoint seams, driver pulls, Arrow/pandas kernels (k-means,
# within-cell pairs) and connected-components rounds.
CURATION_PANEL = ("semantic_dedup",)


def duck_views(con, data_dir: str) -> None:
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, name)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
        )


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class RegistryMix:
    """Both panels over the seed's sf0.1-shaped tables, whose
    documents/embeddings are replaced by a CORPUS_MULT-replica multi-file
    corpus with one file per core. An op is one query's construction + noop
    materialization, as ``bench.py`` times it; a pass runs every query once
    in a seed-shuffled order."""

    SF = 0.1
    CORPUS_BASE = {"documents": 300, "embeddings": 200}
    CORPUS_MULT = 2

    def __init__(self, ctx):
        from learn_hbase_spark import queries as Q
        from oracle_check import value_hash  # tools/oracle_check.py

        self.ctx = ctx
        self.qs = Q.queries()
        self.oracles = Q.oracle_sql()
        self.value_hash = value_hash
        self.results: dict[str, object] = {}
        self.data_dir = os.path.join(ctx.work, "data")
        self.panel = ANALYTIC_PANEL + CURATION_PANEL
        missing = [q for q in self.panel if q not in self.qs or q not in self.oracles]
        if missing:
            raise SystemExit(f"panel queries without a registry entry or oracle: {missing}")

    def pass_ops(self, rng: random.Random):
        order = list(self.panel)
        rng.shuffle(order)
        return [("query", name, self._op(name)) for name in order]

    def _op(self, name):
        def run(spark, tracer):
            with tracer.span("queries.construct"):
                df = self.qs[name](spark, self.data_dir)
            with tracer.span("queries.exec"):
                df.write.mode("overwrite").format("noop").save()
            return df

        return run

    def after_op(self, name, df) -> None:
        """Keep each query's first timed result for the oracle comparison."""
        if self.ctx.phase == "timed" and name not in self.results:
            self.results[name] = df.toPandas()

    def check(self) -> set[str]:
        con = duckdb.connect(config={"threads": self.ctx.cores})
        duck_views(con, self.data_dir)
        failed = set()
        for name, got in self.results.items():
            t0 = time.perf_counter()
            want = con.execute(self.oracles[name]).df()
            self.ctx.log(f"oracle {name}: {time.perf_counter() - t0:.2f} s")
            same = (
                len(got) == len(want)
                and sorted(got.columns) == sorted(want.columns)
                and self.value_hash(got) == self.value_hash(want)
            )
            if not same:
                self.ctx.log(f"CHECK FAILED {name}: spark {len(got)} rows, oracle {len(want)}")
                failed.add(name)
        return failed

    def generate(self, spark) -> dict:
        stats = gen.write_tables(self.data_dir, self.SF, self.ctx.seed)
        base = os.path.join(self.ctx.work, "base")
        gen.write_tables(base, 0.001, self.ctx.seed, rows=self.CORPUS_BASE)
        for name in ("documents", "embeddings"):
            path = os.path.join(self.data_dir, f"{name}.parquet")
            stats["bytes"] -= os.path.getsize(path)
            os.remove(path)
        corpus = gen.write_corpus(
            spark, self.data_dir, base, self.CORPUS_MULT, self.ctx.cores, self.ctx.seed
        )
        shutil.rmtree(base)
        stats["rows"].update(corpus["rows"])
        stats["bytes"] += corpus["bytes"]
        stats["files"] += corpus["files"] - 2
        return stats


class MeterKV:
    """ETL to the per-prefix CSV export, bulk put of the bmz/rdl long cells
    into a fresh WideTable, a secondary index over one bmz day, then a
    seed-shuffled get/scan/put_row/lookup stream (Zipf-skewed keys) with a
    compact() after every COMPACT_EVERY puts.

    Op shapes follow the reference client: a get reads one (family,
    qualifier) cell of one row (HBaseClient.getData), a scan reads one
    family over one rowkey prefix range (RdlETL2/RdlETL3), a put_row writes
    a list of pairs into one family of one row (HBaseClient's single-row
    put overloads). Each put_row also maintains the index
    (``update_index`` on the touched row, the write-path coupling that
    WideTable's index contract asks for).

    COMPACT_EVERY: HBase considers a compaction once a store holds
    ``hbase.hstore.compaction.min`` (default 3) store files. The fixture
    (~2 MB) is one region, so the bmz family is one store; the bulk load
    (or the last compaction) leaves one file, and WideTable writes each
    put_row as its own file, so the third file arrives with the 2nd put.

    The op counts and the Zipf exponent have no source in the reference,
    which has no online traffic: they are an assumption (see rationale.json).
    """

    N_METERS = 1500
    # a fixed op count per kind, seed-shuffled, so every pass does the same work
    MIX = (("get", 12), ("scan", 4), ("put_row", 4), ("lookup", 4))
    COMPACT_EVERY = 2
    ZIPF_S = 1.1
    # the indexed cell: bmz on the compute window's 31st day
    INDEX = ("bmz", (gen.METER_START + dt.timedelta(days=30)).strftime("%Y%m%d"))

    def __init__(self, ctx):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "meter")
        self.passes = 0
        self.etl_checked = False
        self.model: dict[str, dict] = {}
        self.base_model: dict[str, dict] = {}
        self.tables: list[str] = []
        self.table_bytes = 0

    def generate(self, spark) -> dict:
        from learn_hbase_spark.pipeline.fixtures import golden_export

        self.fx = gen.meter_fixture(self.ctx.seed, self.N_METERS)
        stats = gen.write_meter_fixture(self.fx, self.data_dir)
        self.golden = golden_export(self.fx)
        return stats

    def _frames(self, spark, d):
        return (spark.read.parquet(f"{d}/dim_yhcld.parquet"),
                spark.read.parquet(f"{d}/meter_readings.parquet"))

    @staticmethod
    def cells(dim, readings):
        """The bmz and rdl long cells: (rowkey, family, qualifier, value)."""
        from pyspark.sql import functions as F

        from learn_hbase_spark.pipeline import rdl

        dl = rdl.load_dim(dim)
        bmz = rdl.load_readings(dl, readings)
        rdl_long = rdl.compute_rdl(dl, bmz)

        def long(df, family, col):
            return df.select(
                "rowkey", F.lit(family).alias("family"),
                F.date_format("rd_date", "yyyyMMdd").alias("qualifier"),
                F.col(col).cast("string").alias("value"),
            )

        return long(bmz, "bmz", "bmz").unionByName(long(rdl_long, "rdl", "rdl"))

    # -- the timed pass -----------------------------------------------------

    def pass_ops(self, rng: random.Random):
        from learn_hbase_spark.pipeline import rdl
        from learn_hbase_spark.widetable import WideTable

        p = self.passes
        self.passes += 1
        export = os.path.join(self.ctx.work, f"export{p}")
        path = os.path.join(self.ctx.work, f"table{p}")
        self.tables.append(path)
        state = {}

        def etl(spark, tracer):
            dim, readings = self._frames(spark, self.data_dir)
            wide = rdl.run_pipeline(dim, readings, out_path=export)
            state["dim"], state["readings"] = dim, readings
            return wide, export

        def bulk_put(spark, tracer):
            t = WideTable.create(spark, path, ["bmz", "rdl"], overwrite=True)
            with tracer.span("widetable.bulk_put"):
                t.put(self.cells(state["dim"], state["readings"]))
            state["table"] = t
            return None

        def index_build(spark, tracer):
            with tracer.span("widetable.index_build"):
                state["table"].build_index(*self.INDEX)
            return None

        ops = [("etl", "etl", etl), ("bulk_put", "bulk_put", bulk_put),
               ("index_build", "index_build", index_build)]
        stream = [kind for kind, n in self.MIX for _ in range(n)]
        rng.shuffle(stream)
        puts = 0
        for kind in stream:
            ops.append((kind, kind, self._stream_op(kind, rng, state)))
            puts += kind == "put_row"
            if kind == "put_row" and puts % self.COMPACT_EVERY == 0:
                ops.append(("compact", "compact", self._stream_op("compact", rng, state)))
        return ops

    @staticmethod
    def _day(rng: random.Random) -> str:
        day = gen.METER_START + dt.timedelta(days=rng.randrange(gen.METER_DAYS))
        return day.strftime("%Y%m%d")

    def _indexed_value(self, rng: random.Random) -> str:
        """The current indexed value of a Zipf-drawn meter, so hot rows and
        rewritten values are probed; a meter without the cell redraws."""
        for _ in range(100):
            v = self.model.get(self._zipf_key(rng), {}).get(self.INDEX)
            if v is not None:
                return v
        raise RuntimeError(f"no drawn meter holds {self.INDEX}")

    def _zipf_key(self, rng: random.Random) -> str:
        i = bisect.bisect_left(self.zipf_cdf, rng.random() * self.zipf_cdf[-1])
        return self.zipf_keys[min(i, len(self.zipf_keys) - 1)]

    def _stream_op(self, kind, rng, state):
        seed = rng.random()

        def run(spark, tracer):
            t = state["table"]
            r = random.Random(seed)
            if kind == "get":
                key = self._zipf_key(r)
                family = r.choice(("bmz", "rdl"))
                q = self._day(r)
                with tracer.span("widetable.get"):
                    rows = t.get(key, family, q).collect()
                return ("get", (key, family, q), rows)
            if kind == "scan":
                prefix = f"04{r.randint(1, gen.N_PREFIXES):02d}"
                with tracer.span("widetable.scan"):
                    rows = t.scan(start=prefix, stop=prefix + "\uffff",
                                  families=["rdl"]).collect()
                return ("scan", prefix, rows)
            if kind == "put_row":
                key = self._zipf_key(r)
                pairs = {self._day(r): f"{r.uniform(100, 10000):.4f}",
                         self.INDEX[1]: f"{r.uniform(100, 10000):.4f}"}
                with tracer.span("widetable.put"):
                    t.put_row(key, "bmz", pairs)
                with tracer.span("widetable.index_update"):
                    t.update_index(*self.INDEX, [key])
                return ("put_row", key, pairs)
            if kind == "lookup":
                value = self._indexed_value(r)
                with tracer.span("widetable.lookup"):
                    rows = t.lookup_by_value(*self.INDEX, value).collect()
                return ("lookup", value, rows)
            with tracer.span("widetable.compact"):
                t.compact()
            return ("compact", None, None)

        return run

    def after_op(self, name, out) -> bool:
        """Check each op's output against the model, outside the timed
        window; in the traced phase also take the layer's file counts."""
        ctx = self.ctx
        traced = ctx.tracer.enabled
        if name == "etl":
            if traced:
                files, size = dir_stats(out[1], ".csv")
                ctx.count("csv_files", files)
                ctx.count("csv_bytes", size)
                self._stage_spans()
            if ctx.phase == "timed" and not self.etl_checked:
                self.etl_checked = True
                return self._etl_matches(out[0])
            return True
        if name == "bulk_put":
            if not self.base_model:
                self._build_model()
            self.model = {k: dict(v) for k, v in self.base_model.items()}
            self._note_write(traced)
            return True
        if name == "index_build":
            return True
        kind, key, payload = out
        if kind == "get":
            key, family, q = key
            if traced:
                prefix_dir = os.path.join(self.tables[-1], f"prefix={key[:4]}")
                ctx.count("files_per_get", dir_stats(prefix_dir, ".parquet")[0])
            cell = self.model.get(key, {}).get((family, q))
            want = {} if cell is None else {(family, q): cell}
            got = {(r["family"], r["qualifier"]): r["value"] for r in payload}
            if got != want:
                ctx.log(f"CHECK FAILED get {key} {family}:{q}: {got} vs {want}")
                return False
        elif kind == "lookup":
            want = {k for k, cells in self.model.items() if cells.get(self.INDEX) == key}
            got = {r["rowkey"] for r in payload}
            if got != want or any(r["value"] != key for r in payload):
                ctx.log(f"CHECK FAILED lookup {key}: {len(got)} vs {len(want)} rows")
                return False
        elif kind == "scan":
            want = {
                (k, q): v for k, cells in self.model.items() if k.startswith(key)
                for (f, q), v in cells.items() if f == "rdl"
            }
            got = {(r["rowkey"], r["qualifier"]): r["value"] for r in payload}
            if got != want:
                ctx.log(f"CHECK FAILED scan {key}: {len(got)} vs {len(want)} cells")
                return False
        elif kind == "put_row":
            for q, v in payload.items():
                self.model.setdefault(key, {})[("bmz", q)] = v
            self._note_write(traced)
        else:
            self._note_write(traced, compact=True)
        return True

    def _note_write(self, traced: bool, compact: bool = False) -> None:
        """Bytes the last write added to the table (a compaction rewrites
        the whole table, so all of its output counts)."""
        if not traced:
            return
        size = dir_stats(self.tables[-1], ".parquet")[1]
        if compact:
            self.ctx.count("table_bytes_written", size)
            self.ctx.count("compact_bytes", size)
        else:
            self.ctx.count("table_bytes_written", max(0, size - self.table_bytes))
        self.table_bytes = size

    def _stage_spans(self) -> None:
        """Materialize each pipeline stage's output on its own, checkpointing
        the previous stage so a stage's span holds only its own work."""
        from learn_hbase_spark.pipeline import rdl

        tracer = self.ctx.tracer
        dim, readings = self._frames(self.ctx.spark, self.data_dir)
        dl = rdl.load_dim(dim)
        with tracer.span("pipeline.rdl.load_readings"):
            bmz = rdl.load_readings(dl, readings).localCheckpoint()
        with tracer.span("pipeline.rdl.compute_rdl"):
            rl = rdl.compute_rdl(dl, bmz).localCheckpoint()
        with tracer.span("pipeline.rdl.export_wide"):
            rdl.export_wide(dl, bmz, rl).write.mode("overwrite").format("noop").save()

    def _etl_matches(self, wide) -> bool:
        rows = {r["rowkey"]: r.asDict() for r in wide.collect()}
        if set(rows) != set(self.golden):
            self.ctx.log("CHECK FAILED etl: meter set differs from golden_export")
            return False
        for key, gold in self.golden.items():
            got = rows[key]
            for col, want in gold.items():
                have = got[col]
                if col == "YHBH":
                    ok = have == want
                elif want is None:
                    ok = have is None
                else:
                    ok = have is not None and math.isclose(float(have), want, rel_tol=1e-9)
                if not ok:
                    self.ctx.log(f"CHECK FAILED etl {key}/{col}: {have} != {want}")
                    return False
        return True

    def _build_model(self) -> None:
        """The latest value per cell, from the cells the bulk put wrote."""
        spark = self.ctx.spark
        dim, readings = self._frames(spark, self.data_dir)
        pdf = self.cells(dim, readings).toPandas()
        model: dict[str, dict] = {}
        for k, f, q, v in zip(pdf.rowkey, pdf.family, pdf.qualifier, pdf.value):
            if v is not None:  # a null value is a delete marker
                model.setdefault(k, {})[(f, q)] = v
        self.base_model = model
        keys = sorted(model)
        random.Random(self.ctx.seed).shuffle(keys)
        self.zipf_keys = keys
        self.zipf_cdf = list(itertools.accumulate(
            1.0 / (i + 1) ** self.ZIPF_S for i in range(len(keys))))

    def check(self) -> set[str]:
        """Durability: reopen the last table; every cell, each acknowledged
        put included, must read back as the model holds it."""
        from learn_hbase_spark.widetable import WideTable

        pdf = WideTable.open(self.ctx.spark, self.tables[-1]).scan().toPandas()
        got: dict[str, dict] = {}
        for k, f, q, v in zip(pdf.rowkey, pdf.family, pdf.qualifier, pdf.value):
            got.setdefault(k, {})[(f, q)] = v
        if got != self.model:
            self.ctx.log("CHECK FAILED durability: reopened table differs from the model")
            return {"durability"}
        return set()

    def user_bytes(self) -> int:
        return sum(
            len(k) + len(f) + len(q) + len(v or "")
            for k, cells in self.model.items() for (f, q), v in cells.items()
        )


WORKLOADS = {
    "registry_mix": RegistryMix,
    "meter_kv": MeterKV,
}
