"""Backfill + incremental ingestion (reference O-layer).

The reference's `incremental` command is a hand-rolled micro-batch
stream: offset = slot, trigger = sleep, checkpoint = etl_metadata row
(reference src/incremental.rs:10-104). `backfill` is the bounded bulk
variant with chunked bounded parallelism (src/backfill.rs:11-138).
Here both drive the same batch pipeline:

    slots -> distributed fetch (mapPartitions) -> parse_blocks
          -> warehouse.insert_events (idempotent) -> checkpoint

Scale notes: slots are ranged into chunks (O1) and fetched inside
partitions with per-task clients (O2/O3 -- the semaphore analog is the
partition count). The reference's per-slot `is_slot_processed` probe
(N DB round-trips, src/backfill.rs:84-87) becomes one anti-join against
the warehouse's distinct processed slots. Failed chunks are logged and
skipped, not fatal (src/backfill.rs:53-55); ordering within incremental
runs is by ascending slot range (src/incremental.rs:58).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.config import Config
from solana_data_etl_pipeline_spark.operators.parse import parse_blocks
from solana_data_etl_pipeline_spark.sinks.warehouse import Warehouse
from solana_data_etl_pipeline_spark.sources.blocks import fetch_blocks_df

log = logging.getLogger(__name__)


def chunk_ranges(start: int, end: int, chunk_size: int) -> list[tuple[int, int]]:
    """O1: inclusive slot range -> chunk list (reference src/backfill.rs:22-31)."""
    return [(lo, min(lo + chunk_size - 1, end)) for lo in range(start, end + 1, chunk_size)]


def run_backfill(
    spark: SparkSession,
    warehouse: Warehouse,
    client_factory: Callable[[], object],
    start_slot: int,
    end_slot: int,
    config: Config | None = None,
) -> int:
    """O2/O3: bulk ingest [start_slot, end_slot]. Returns events written.

    Chunk loop is sequential on the driver; parallelism lives inside
    each chunk's distributed fetch (partition count = min(chunk, default
    parallelism)), which is where the reference's worker semaphore
    lived (src/backfill.rs:34-44).
    """
    config = config or Config.load()
    warehouse.connect()
    # Collect only the slots inside the backfill window: the slot
    # range predicate is pushed into the warehouse scan (parquet
    # row-group stats / JDBC WHERE), so a backfill of one day against
    # a 100 TB warehouse pulls one day's worth of slot ids to the
    # driver, not the warehouse's entire processed-slot history.
    # Correctness does not depend on this set -- insert_events has its
    # own distributed anti-join -- it only short-circuits fetches.
    processed = {
        r[0]
        for r in warehouse.processed_slots()
        .filter(F.col("slot").between(start_slot, end_slot))
        .collect()
    }
    total = 0
    for lo, hi in chunk_ranges(start_slot, end_slot, config.etl.backfill_chunk_size):
        slots = [s for s in range(lo, hi + 1) if s not in processed]
        if not slots:
            continue
        try:
            blocks = fetch_blocks_df(spark, client_factory, slots)
            events = parse_blocks(blocks)
            total += warehouse.insert_events(events)
            # checkpoint at chunk granularity (reference checkpoints every
            # checkpoint_interval slots inside a chunk, src/backfill.rs:119-126;
            # one batched write per chunk subsumes that)
            last = warehouse.get_last_slot() or 0
            if hi > last:
                warehouse.update_last_slot(hi)
            # documented backfill-progress key (docs/SCHEMA.md:277-279)
            prev = warehouse.get_last_backfill_slot() or 0
            if hi > prev:
                warehouse.update_last_backfill_slot(hi)
        except Exception:
            # chunk failure is logged, not fatal (reference src/backfill.rs:53-55)
            log.exception("backfill chunk %s-%s failed; continuing", lo, hi)
    return total


def process_incremental(
    spark: SparkSession,
    warehouse: Warehouse,
    client,
    config: Config | None = None,
) -> int:
    """O5/O6: one delta pass -- fetch (last_slot, chain_tip], ingest in
    slot order, advance the checkpoint to the tip
    (reference src/incremental.rs:34-104). Returns events written."""
    config = config or Config.load()
    warehouse.connect()
    chain_tip = client.get_slot()
    last = warehouse.get_last_slot() or 0
    if chain_tip <= last:
        return 0  # no-op (reference src/incremental.rs:45-48)
    written = 0
    for lo, hi in chunk_ranges(last + 1, chain_tip, config.etl.backfill_chunk_size):
        blocks = fetch_blocks_df(spark, lambda: client, list(range(lo, hi + 1)))
        events = parse_blocks(blocks)  # missing slots already dropped (skip-tolerant)
        written += warehouse.insert_events(events)
        warehouse.update_last_slot(hi)  # periodic checkpoint (src/incremental.rs:86-92)
    warehouse.update_last_slot(chain_tip)
    return written


def run_incremental(
    spark: SparkSession,
    warehouse: Warehouse,
    client,
    config: Config | None = None,
    max_iterations: int | None = None,
    sleep=time.sleep,
) -> None:
    """O4: continuous loop -- process, sleep interval, repeat; errors
    logged and the loop continues (reference src/incremental.rs:10-31).
    `max_iterations` bounds the loop for tests/demos."""
    config = config or Config.load()
    i = 0
    while max_iterations is None or i < max_iterations:
        try:
            written = process_incremental(spark, warehouse, client, config)
            log.info("incremental pass wrote %d events", written)
        except Exception:
            log.exception("incremental pass failed; continuing")
        i += 1
        if max_iterations is None or i < max_iterations:
            sleep(config.etl.interval_seconds)


def run_health_check(client, warehouse: Warehouse | None = None) -> bool:
    """O7: source ping; warehouse ping intentionally mirrors the
    reference's skip (reference src/health.rs:22-25) unless one is
    passed explicitly."""
    try:
        tip = client.get_slot()
        ok = tip >= 0
    except Exception:
        return False
    if warehouse is not None:
        ok = ok and warehouse.health_check()
        # record the observed tip (docs/SCHEMA.md:280's chain_tip_slot)
        if ok:
            warehouse.update_chain_tip_slot(int(tip))
    return ok
