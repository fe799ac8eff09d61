"""Isolated per-entry timing: median-of-N (default 3) noop-sink executions
of the named catalog entries, with cache cleared between entries — the same
adjudication protocol bench.py uses for at-risk entries (guide §1.4).

Usage: python scripts/time_entries.py q1 q2 ...  [--reps N] [--json PATH]
The --json record also carries the timed region's compile counters
(``session.codegen_stats`` deltas: Janino compiles and seconds, JIT seconds).
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zio_analytics_spark import catalog  # noqa: E402
from zio_analytics_spark.session import codegen_stats, get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    reps = 3
    json_path = None
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_entries")
    # Same warm-ups as bench.py (session costs, not query costs).
    import pandas as pd
    from pyspark.sql import functions as F

    from zio_analytics_spark.sources.parquet import read_table

    spark.range(1000).selectExpr("sum(id)").collect()
    read_table(spark, sf_dir, "region").collect()
    read_table(spark, sf_dir, "lineitem").limit(1000).write.format("noop").mode(
        "overwrite"
    ).save()

    @F.pandas_udf("long")
    def _warm_udf(s: pd.Series) -> pd.Series:
        return s

    spark.range(100_000, numPartitions=32).select(_warm_udf(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()
    from zio_analytics_spark.tmpdirs import scratch_dir

    spark.range(1000).write.mode("overwrite").parquet(scratch_dir(prefix="zas_warm_"))

    fns = catalog.queries()
    out = {}
    compile_before = codegen_stats(spark)
    for name in args:
        spark.sparkContext.setJobDescription(f"time_entries: {name}")
        samples = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fns[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"median": round(statistics.median(samples), 3), "reps": samples}
        print(f"{name}: median {out[name]['median']:.3f}s  reps {samples}")
    # Janino and JIT compile time over the timed region (fields only)
    compiles = {
        k: round(v - compile_before[k], 3) for k, v in codegen_stats(spark).items()
    }
    if json_path:
        with open(json_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "measured": out, **compiles}, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
