"""Time individual driver-registry queries standalone (warm medians)
-- the optimization-round measurement loop: one untimed warm pass per
query, then N timed noop-sink samples, per-query medians printed as
one JSON line. Mirrors bench.py's standalone_warm protocol so numbers
are comparable to the committed artifacts. Per query it also reports
the Janino compiles and their total ms over the timed samples; with a
warm generated-code cache both stay near 0.

Usage: python tools/qtime.py [sf_dir] QUERY [QUERY ...]
       SPARK_GRAFT_BENCH_RUNS=N python tools/qtime.py ... (default 3)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    load1 = os.getloadavg()[0]
    from solana_data_etl_pipeline_spark.session import (
        codegen_stats,
        get_spark,
        persistent_rdd_ids,
        unpersist_rdds_since,
    )

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import _configure
    from solana_data_etl_pipeline_spark.plans.suite import all_queries

    _configure(spark)
    qs = all_queries()

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    compile_ms: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        # mirror bench.py's window hygiene: blocking unpersist of the
        # RDDs each sample persisted, outside the timed region
        before = persistent_rdd_ids(spark)
        spark.sparkContext.setJobDescription(f"qtime warm: {name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        unpersist_rdds_since(spark, before)
        samples = []
        n0, ms0 = codegen_stats(spark)
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"qtime sample {i}: {name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            unpersist_rdds_since(spark, before)
        n1, ms1 = codegen_stats(spark)
        timings[name] = round(statistics.median(samples), 3)
        compiles[name] = n1 - n0
        compile_ms[name] = round(ms1 - ms0, 1)
    print(
        json.dumps(
            {
                "queries": timings,
                "compiles": compiles,
                "compile_ms": compile_ms,
                "runs": runs,
                "load1_at_start": round(load1, 2),
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
