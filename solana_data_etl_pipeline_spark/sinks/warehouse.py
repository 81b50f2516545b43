"""Warehouse sinks (reference L-layer).

The reference upserts row-at-a-time into Postgres with
`ON CONFLICT (event_id) DO UPDATE` (reference src/warehouse.rs:201-249)
and keeps checkpoint state in an `etl_metadata` key/value table
(src/warehouse.rs:148-159,251-285). Spark-first equivalents:

- `Warehouse` protocol mirrors the reference trait surface
  (src/warehouse.rs:8-27): connect / insert_events / get_last_slot /
  update_last_slot / is_slot_processed / health_check.
- `ParquetWarehouse`: the event table is date-partitioned parquet
  (`event_date=.../`), replacing the slot index (src/warehouse.rs:183-186)
  and matching the documented BigQuery partitioning
  (docs/SCHEMA.md:76-77). Idempotency = batch-internal
  dropDuplicates(event_id) + anti-join against already-present keys
  in the touched date partitions, then append. Deterministic event ids
  make replays no-ops -- the same exactly-once *effect* the reference
  gets from ON CONFLICT.
- metadata lives in a tiny JSON file (single-writer driver state, the
  moral equivalent of the one-row etl_metadata upsert).

Scale notes: the anti-join prunes to the touched date partitions only
(partition filter pushed to the scan), and the incoming batch side is
broadcast when small. At 100 TB the event table is never rewritten --
appends + partition pruning only. A transactional table format (Delta
or Iceberg MERGE) slots in behind the same protocol when available.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.config import WarehouseConfig
from solana_data_etl_pipeline_spark.errors import ConfigError
from solana_data_etl_pipeline_spark.schemas import CANONICAL_EVENT_SCHEMA, EVENT_DATE_COL

#: directory value Spark writes for a NULL partition column
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def touched_dates_predicate(dates: list) -> F.Column:
    """Predicate selecting the date partitions a batch touches.
    ``isin()`` never matches NULL, so a batch row with null block_time
    (null event_date) would escape the present-keys anti-join -- and,
    on the upsert path, the null partition's existing rows would be
    dropped by the dynamic overwrite. Carry the IS NULL slice
    explicitly whenever the batch contains one."""
    non_null = [d for d in dates if d is not None]
    pred = F.col(EVENT_DATE_COL).isin(non_null) if non_null else F.lit(False)
    if len(non_null) != len(dates):
        pred = pred | F.col(EVENT_DATE_COL).isNull()
    return pred


def _overwrite_partitions(df: DataFrame, path: str) -> None:
    """Replace only the date partitions present in `df` (a per-write
    dynamic partition overwrite; the session conf is left alone)."""
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        EVENT_DATE_COL
    ).parquet(path)


class Warehouse(Protocol):
    """L1: abstract sink surface (reference src/warehouse.rs:8-27)."""

    def connect(self) -> None: ...
    def insert_events(self, events: DataFrame) -> int: ...
    def get_last_slot(self) -> int | None: ...
    def update_last_slot(self, slot: int) -> None: ...
    def is_slot_processed(self, slot: int) -> bool: ...
    def processed_slots(self) -> DataFrame: ...
    def health_check(self) -> bool: ...
    def get_last_backfill_slot(self) -> int | None: ...
    def update_last_backfill_slot(self, slot: int) -> None: ...
    def update_chain_tip_slot(self, slot: int) -> None: ...


def create_warehouse(spark: SparkSession, config: WarehouseConfig):
    """L2: sink factory (reference src/warehouse.rs:30-39). 'postgres'
    with a configured JDBC URL dispatches to the relational
    JdbcWarehouse (the reference's primary sink shape); without one it
    falls back to the parquet warehouse. Unknown sink types are a
    config error just like the reference."""
    if config.sink_type == "jdbc" or (config.sink_type == "postgres" and config.jdbc_url):
        if not config.jdbc_url:
            raise ConfigError("jdbc sink requires WAREHOUSE_JDBC_URL")
        from solana_data_etl_pipeline_spark.sinks.jdbc import JdbcWarehouse

        return JdbcWarehouse.from_config(spark, config)
    if config.sink_type in ("parquet", "postgres"):
        return ParquetWarehouse(spark, config.path)
    raise ConfigError(f"unknown warehouse sink type: {config.sink_type}")


class ParquetWarehouse:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.events_path = os.path.join(path, "fact_events")
        self.meta_path = os.path.join(path, "etl_metadata.json")

    # -- lifecycle ------------------------------------------------------
    def connect(self) -> None:
        """L4: ensure the storage location exists (schema lives in the
        parquet footers; nothing to migrate)."""
        os.makedirs(self.path, exist_ok=True)

    def health_check(self) -> bool:
        """L8: trivially SELECT 1 (reference src/warehouse.rs:301-308)."""
        return self.spark.sql("SELECT 1").count() == 1

    # -- events ---------------------------------------------------------
    def _existing(self) -> DataFrame | None:
        if not os.path.isdir(self.events_path):
            return None
        try:
            return self.spark.read.parquet(self.events_path)
        except Exception:
            return None

    def read_events(self) -> DataFrame:
        existing = self._existing()
        if existing is None:
            return self.spark.createDataFrame([], CANONICAL_EVENT_SCHEMA).withColumn(
                EVENT_DATE_COL, F.to_date("block_time")
            )
        return existing

    def insert_events(self, events: DataFrame) -> int:
        """L3: idempotent batch upsert.

        1. dedup inside the batch on event_id (keep any one -- rows with
           the same deterministic id are identical by construction,
           reference src/events.rs:76-86);
        2. anti-join against keys already stored in the touched date
           partitions (partition-pruned scan);
        3. append, partitioned by event_date.
        Returns the number of newly written rows.

        The deduped batch is materialized once, up front: the dates
        probe, the anti-join, the count and the append all read it, so
        the fetch and parse behind ``events`` run once per call.
        """
        batch = (
            events.withColumn(EVENT_DATE_COL, F.to_date("block_time"))
            .dropDuplicates(["event_id"])
            .localCheckpoint(eager=True)
        )
        existing = self._existing()
        if existing is not None:
            dates = [r[0] for r in batch.select(EVENT_DATE_COL).distinct().collect()]
            present = existing.filter(touched_dates_predicate(dates)).select("event_id")
            batch = batch.join(present, "event_id", "left_anti")
        batch = batch.persist()
        try:
            n_new = batch.count()
            if n_new:
                # sortWithinPartitions(slot): row groups get tight slot
                # min/max stats, so slot-predicate scans skip files --
                # the reference's slot index (src/warehouse.rs:183-186)
                # as a data-layout property instead of a structure
                batch.sortWithinPartitions(EVENT_DATE_COL, "slot").write.mode("append").partitionBy(
                    EVENT_DATE_COL
                ).parquet(self.events_path)
        finally:
            batch.unpersist()
        return n_new

    def compact(self) -> int:
        """Rewrite each date partition holding more than one file into
        one slot-sorted file; partitions already at one file are
        neither read nor written. Incremental appends accumulate small
        files (one per micro-batch per date); periodic compaction
        restores scan efficiency. Returns the number of partitions
        rewritten.

        Runs per partition (bounded memory), so the rewrite cost scales
        with the data actually compacted, not with the table.
        """
        existing = self._existing()
        if existing is None:
            return 0
        files = Counter(os.path.basename(os.path.dirname(f)) for f in existing.inputFiles())
        done = 0
        for part_dir, n_files in sorted(files.items()):
            if n_files == 1:
                continue
            value = part_dir.split("=", 1)[1]
            date = None if value == HIVE_DEFAULT_PARTITION else dt.date.fromisoformat(value)
            part = existing.filter(touched_dates_predicate([date]))
            merged = part.repartition(1).sortWithinPartitions("slot")
            merged = merged.localCheckpoint(eager=True)  # never re-scan files being replaced
            _overwrite_partitions(merged, self.events_path)
            done += 1
        return done

    def upsert_events(self, events: DataFrame) -> int:
        """L3 full parity: ON CONFLICT (event_id) DO UPDATE semantics
        (reference src/warehouse.rs:227-229) -- an incoming row with an
        existing id REPLACES the stored row (latest payload wins),
        unlike insert_events' insert-wins fast path.

        Plan: rewrite only the touched date partitions -- keep existing
        rows whose ids are not in the batch (anti-join), union the
        batch, overwrite those partitions (dynamic partition
        overwrite). Untouched partitions are never read or written, so
        the cost scales with the batch's date spread, not the table.
        Returns the number of incoming rows applied.
        """
        batch = events.withColumn(EVENT_DATE_COL, F.to_date("block_time")).dropDuplicates(["event_id"])
        existing = self._existing()
        if existing is None:
            n = batch.count()
            if n:
                batch.write.mode("append").partitionBy(EVENT_DATE_COL).parquet(self.events_path)
            return n
        batch = batch.persist()
        try:
            n = batch.count()
            if not n:
                return 0
            dates = [r[0] for r in batch.select(EVENT_DATE_COL).distinct().collect()]
            touched = existing.filter(touched_dates_predicate(dates))
            kept = touched.join(batch.select("event_id"), "event_id", "left_anti")
            # localCheckpoint truncates lineage BEFORE the overwrite:
            # the write must never re-trigger a scan of the files it is
            # replacing (persist alone is evictable and would).
            merged = kept.select(*batch.columns).unionByName(batch).localCheckpoint(eager=True)
            _overwrite_partitions(merged, self.events_path)
            return n
        finally:
            batch.unpersist()

    def is_slot_processed(self, slot: int) -> bool:
        """L7: idempotency probe (reference src/warehouse.rs:287-299).
        Prefer processed_slots()/anti-join for bulk paths -- this
        per-slot form exists for surface parity."""
        existing = self._existing()
        if existing is None:
            return False
        return existing.filter(F.col("slot") == slot).limit(1).count() > 0

    def processed_slots(self) -> DataFrame:
        """Bulk idempotency: distinct slots already present. The
        reference probes per slot (N round-trips,
        src/backfill.rs:84-87); one anti-join replaces them all."""
        existing = self._existing()
        if existing is None:
            return self.spark.createDataFrame([], "slot: long")
        return existing.select("slot").distinct()

    # -- checkpoint state ----------------------------------------------
    def _read_meta(self) -> dict:
        if not os.path.exists(self.meta_path):
            return {}
        with open(self.meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, tmp[: -len(".tmp")])

    def get_meta(self, key: str) -> str | None:
        """Generic etl_metadata key/value read (docs/SCHEMA.md:270-280)."""
        value = self._read_meta().get(key)
        return None if value is None else str(value)

    def set_meta(self, key: str, value) -> None:
        meta = self._read_meta()
        meta[key] = str(value)
        self._write_meta(meta)

    def get_last_slot(self) -> int | None:
        """L5 (reference src/warehouse.rs:251-265)."""
        value = self.get_meta("last_confirmed_slot")
        return int(value) if value is not None else None

    def update_last_slot(self, slot: int) -> None:
        """L6 (reference src/warehouse.rs:267-285)."""
        self.set_meta("last_confirmed_slot", int(slot))

    # the two remaining documented etl_metadata keys
    # (docs/SCHEMA.md:277-280): backfill progress + observed chain tip
    def get_last_backfill_slot(self) -> int | None:
        value = self.get_meta("last_backfill_slot")
        return int(value) if value is not None else None

    def update_last_backfill_slot(self, slot: int) -> None:
        self.set_meta("last_backfill_slot", int(slot))

    def get_chain_tip_slot(self) -> int | None:
        value = self.get_meta("chain_tip_slot")
        return int(value) if value is not None else None

    def update_chain_tip_slot(self, slot: int) -> None:
        self.set_meta("chain_tip_slot", int(slot))
