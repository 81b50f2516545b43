"""SparkSession factory.

Defaults are chosen for the 100 TB design point and scaled down by env
vars for local testing:

- AQE on (runtime coalesce, skew-join splitting) -- replaces the
  reference's static chunk sizing (reference src/backfill.rs:22-31).
- shuffle partitions sized from env (driver runs local[32]); on a real
  cluster this should be ~2-3x total cores and AQE coalesces down.
- broadcast threshold generous: every dim table in the star schema is
  tiny relative to the fact table, so dim joins must never shuffle.
- Arrow enabled for the few Pandas-UDF paths (extensions only).
- Session timezone pinned to UTC: the reference stores TIMESTAMPTZ and
  computes date arithmetic in UTC (reference src/parsers.rs:33-41).
- Generated-code cache sized to the working set (CODEGEN_CACHE_ENTRIES).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries in Spark's generated-class cache (Janino output), which
#: holds 100 by default. Measured working sets, in classes compiled:
#: one refresh cycle (ingest 49 + compact 14 + analytics 128) ~191,
#: one pass over the 7 benchmark registry entries ~190, one pass over
#: the 50 graded entries ~1,130. Below the working set the LRU evicts
#: every class before it comes round again, so each pass recompiles
#: all of them and the JIT then compiles the new bytecode too (a 50-entry
#: second pass: 971 recompiles at 100 entries, 24 at 2048). The cache
#: is keyed on (class loader, generated source), so a hit can never
#: serve code for a different plan. Static conf: it is read once per
#: JVM, when the first class is generated, and cannot be set at runtime.
CODEGEN_CACHE_ENTRIES = 2048


#: Engine session conventions that are runtime SQL confs: get_spark
#: applies them through the builder, and __spark_entry__._configure
#: through spark.conf.set on a session created elsewhere, so both kinds
#: of session plan every query alike.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Engine convention: all timestamps are UTC wall-clock, carried as
    # TIMESTAMP_NTZ end-to-end (parquet naive timestamps stay naive;
    # matches the DuckDB oracle's timestamp semantics exactly).
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions by BYTES (the advisory
    # size), not by core count: with the default parallelismFirst
    # the tiny shuffles of sub-GB stages stay fragmented across
    # 2x cores partitions and task overhead dominates -- measured
    # r14: dedup_minhash_lsh 2.30->1.84 s at 32 cores, 1.97->1.30 s
    # at 8 (the PERF_r13 anti-scaling class). Scale-adaptive by
    # construction: at 100 TB the same advisory target keeps
    # shuffles wide because the bytes are there (guide §2.2).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Some inputs carry TIMESTAMP(NANOS) parquet columns, which the
    # Spark reader rejects outright; read them as raw nano longs and
    # convert explicitly (see testdata_model.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.shuffledHashJoinFactor": "3",
}


def get_spark(app_name: str = "solana-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=RUNTIME_CONF)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, total compile ms) by Janino in this JVM so
    far. Both only grow; take deltas around the work of interest. A
    class served from the generated-code cache adds to neither."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e6


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of the RDDs currently persisted (cached or local-checkpointed)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def unpersist_rdds_since(spark: SparkSession, before: set[int]) -> None:
    """Blocking unpersist of every persisted RDD whose id is not in
    ``before`` (a ``persistent_rdd_ids`` snapshot): drops what one
    timed sample left behind and keeps anything persisted earlier."""
    for rdd_id, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rdd_id not in before:
            jrdd.unpersist(True)
