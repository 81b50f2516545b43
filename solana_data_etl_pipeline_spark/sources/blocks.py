"""Raw block JSON -> typed block DataFrame.

The reference keeps blocks as opaque serde_json::Value and re-walks
them imperatively; here the boundary types the payload once with
BLOCK_SCHEMA so every downstream access is a columnar projection
(pruned at scan when blocks land as files).
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.schemas import BLOCK_SCHEMA


def blocks_to_df(spark: SparkSession, blocks: Iterable[dict | None]) -> DataFrame:
    """Driver-held block dicts -> typed DataFrame. None entries (skipped
    slots) are dropped, mirroring the reference's null-block skip
    (reference src/rpc.rs:131-136)."""
    payload = [json.dumps(b) for b in blocks if b is not None]
    if not payload:
        return spark.createDataFrame([], BLOCK_SCHEMA)
    raw = spark.createDataFrame([(s,) for s in payload], ["json"])
    return raw.select(F.from_json(F.col("json"), BLOCK_SCHEMA).alias("b")).select("b.*")


def read_block_json(spark: SparkSession, path: str) -> DataFrame:
    """Landing-zone reader: JSONL block dumps -> typed DataFrame with
    PERMISSIVE per-record tolerance (malformed lines -> NULL rows are
    dropped, the reference's warn-and-continue, src/parsers.rs:22-26)."""
    return (
        spark.read.schema(BLOCK_SCHEMA)
        .option("mode", "PERMISSIVE")
        .json(path)
        .filter(F.col("slot").isNotNull())
    )


def read_block_json_quarantined(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Landing-zone reader with a dead-letter side: returns
    (good_blocks, quarantine) where quarantine rows are shaped like the
    reference's etl_errors table (docs/SCHEMA.md:307-319). Unlike
    read_block_json, malformed lines are preserved as evidence instead
    of silently null-filtered."""
    from solana_data_etl_pipeline_spark.sinks.quarantine import (
        CORRUPT_COL,
        split_corrupt,
        with_corrupt_column,
    )

    raw = (
        spark.read.schema(with_corrupt_column(BLOCK_SCHEMA))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return split_corrupt(raw, "slot")


def fetch_blocks_df(spark: SparkSession, client, slots: list[int]) -> DataFrame:
    """Distributed fetch: slot list -> blocks, fetched inside partitions
    (each task builds its own client state, reference
    src/backfill.rs:46-48). `client` must be picklable or a factory."""
    factory = client if callable(client) and not hasattr(client, "get_block") else (lambda: client)
    sc = spark.sparkContext
    n_parts = min(len(slots), sc.defaultParallelism) or 1

    def fetch_partition(slot_iter):
        local = factory()
        for slot in slot_iter:
            block = local.get_block(slot)
            if block is not None:
                yield json.dumps(block)

    raw = sc.parallelize(slots, n_parts).mapPartitions(fetch_partition)
    # Fetch each slot once: the probe below and every branch of the
    # parse read the stored blocks instead of re-issuing get_block (a
    # live chain may also answer differently between two fetches).
    # persist(), not localCheckpoint(): PySpark fuses the next Python
    # step into this RDD's function unless the RDD is marked cached,
    # which would bypass a checkpoint taken on the JVM side.
    raw.persist(StorageLevel.MEMORY_AND_DISK)
    if raw.isEmpty():
        return spark.createDataFrame([], BLOCK_SCHEMA)
    return spark.read.schema(BLOCK_SCHEMA).json(raw)
