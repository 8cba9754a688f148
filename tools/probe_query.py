"""Per-query optimization probe: time one or more registry queries in
isolation and capture their `.explain("formatted")` plans.

Usage:
  python tools/probe_query.py NAME [NAME...] [--plan-dir DIR \
      [--suffix before|after]] [--runs N] [--noop]

Timing methodology matches bench.py (min of N runs of `.collect()`;
cache cleared between queries, startup excluded). `--noop` times the
computation through the noop sink instead (guide §1.4) — reported
separately, never written into BENCH artifacts. Plans are captured
AFTER the timed runs so any staged state (pair tables, IVF memos) is
exactly what the steady-state plan sees.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from photon_spark.session import default_cpus, get_spark
    from photon_spark import queries as q

    spark = get_spark("photon_spark-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s
    warm_df = spark.range(10000).repartition(default_cpus())
    warm_df.select(_warm("id")).count()
    warm_df.mapInPandas(lambda it: it, schema="id long").count()

    for name in args.names:
        fn = q.QUERIES[name]
        spark.catalog.clearCache()
        best = -1.0
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.collect()
            dt = time.perf_counter() - t0
            best = dt if best < 0 else min(best, dt)
        mode = "noop" if args.noop else "collect"
        print(f"# {name}: {best:.3f}s ({mode}, min of {args.runs})")
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            path = os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"#   plan -> {path}")


if __name__ == "__main__":
    main()
