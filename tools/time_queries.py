"""Targeted re-timing of a few registered queries with the bench's exact
methodology (same session factory, sf0.001 plan warm, noop sink, min-of-2)
— the iteration loop for optimization work without paying a full 244-query
bench pass.

Usage: python tools/time_queries.py <query> [query ...]
  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from learn_hbase_spark import queries as Q  # noqa: E402
from learn_hbase_spark.session import get_session  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print(__doc__)
        return 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    qs = Q.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries:", unknown)
        return 1

    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        qs[name](spark, warm_dir).write.mode("overwrite").format("noop").save()

    def timed(name: str) -> float:
        spark.sparkContext.setJobDescription(f"time:{name}")
        # as bench.py: drop pass 1's pinned caches so every run is cold
        spark.catalog.clearCache()
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 3)

    out = {}
    for name in names:
        t1 = timed(name)
        t2 = timed(name)
        best = min(t1, t2)
        if best > 0.15 and abs(t1 - t2) / best > 0.30:
            best = min(best, timed(name))
        out[name] = best
        print(f"{best:8.3f}  {name}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
