"""Dev replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01; compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # canonical dtypes: timestamps → iso strings, floats stay floats
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        else:
            s = s.astype(str)
        out[c] = s
    res = pd.DataFrame(out)
    return res.sort_values(by=list(res.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    df = normalize(df)
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            h.update(col.to_numpy().tobytes())
        else:
            h.update("\x01".join(col.astype(str)).encode())
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from learn_hbase_spark.queries import verification_backlog

    # PLAIN session, like the external driver's — no tuned configs, so the
    # check catches any hidden dependency on learn_hbase_spark.session
    # defaults (ANSI stays at the Spark 4 default: ON).
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    print(verification_backlog(), file=sys.stderr)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:400]}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_pdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:400]}")
            continue
        problems = []
        if len(spark_pdf) != len(duck_pdf):
            problems.append(f"rows {len(spark_pdf)} != {len(duck_pdf)}")
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            problems.append(
                f"cols {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
            )
        if not problems and value_hash(spark_pdf) != value_hash(duck_pdf):
            problems.append("value-hash mismatch")
            # show a diff sample
            a, b = normalize(spark_pdf), normalize(duck_pdf)
            neq = (a != b) & ~(a.isna() & b.isna())
            if neq.any().any():
                rows = neq.any(axis=1)
                print("  spark:", a[rows].head(3).to_dict("records"))
                print("  duck :", b[rows].head(3).to_dict("records"))
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
