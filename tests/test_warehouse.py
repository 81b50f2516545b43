"""L-layer + O-layer integration: idempotent upsert semantics,
checkpoint state, backfill/incremental end-to-end on fixture blocks
(no network). Mirrors the reference's replay/idempotency guarantees
(ON CONFLICT upsert + slot checkpoints) on the parquet warehouse."""

import pytest

from solana_data_etl_pipeline_spark.config import Config, WarehouseConfig
from solana_data_etl_pipeline_spark.operators.parse import parse_blocks
from solana_data_etl_pipeline_spark.sinks.warehouse import ParquetWarehouse, create_warehouse
from solana_data_etl_pipeline_spark.sources.blocks import blocks_to_df, fetch_blocks_df
from solana_data_etl_pipeline_spark.sources.fixtures import FixtureRpcClient, make_block
from solana_data_etl_pipeline_spark.streaming.incremental import (
    chunk_ranges,
    process_incremental,
    run_backfill,
    run_health_check,
    run_incremental,
)


@pytest.fixture()
def warehouse(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.connect()
    return wh


def _events(spark, slots):
    return parse_blocks(blocks_to_df(spark, [make_block(s) for s in slots]))


def test_insert_events_is_idempotent(spark, warehouse):
    ev = _events(spark, [1, 2, 3])
    n_first = warehouse.insert_events(ev)
    assert n_first == ev.count() > 0
    # replaying the identical batch writes nothing new
    assert warehouse.insert_events(ev) == 0
    assert warehouse.read_events().count() == n_first


def test_insert_events_partial_overlap(spark, warehouse):
    warehouse.insert_events(_events(spark, [1, 2]))
    n = warehouse.insert_events(_events(spark, [2, 3]))
    assert n == _events(spark, [3]).count()
    total = warehouse.read_events().count()
    assert total == _events(spark, [1, 2, 3]).count()


def test_insert_dedups_within_batch(spark, warehouse):
    ev = _events(spark, [1])
    doubled = ev.unionByName(ev)
    assert warehouse.insert_events(doubled) == ev.count()


def test_upsert_events_replaces_payload(spark, warehouse):
    from pyspark.sql import functions as F

    ev = _events(spark, [1, 2])
    assert warehouse.upsert_events(ev) == ev.count()
    # replay the same ids with a mutated payload: DO-UPDATE semantics
    mutated = ev.withColumn("raw_payload", F.lit('{"replayed":true}'))
    assert warehouse.upsert_events(mutated) == ev.count()
    stored = warehouse.read_events()
    assert stored.count() == ev.count()  # no duplicates
    payloads = {r.raw_payload for r in stored.select("raw_payload").collect()}
    assert payloads == {'{"replayed":true}'}  # latest payload won


def test_upsert_events_touches_only_overlapping_ids(spark, warehouse):
    ev12 = _events(spark, [1, 2])
    warehouse.upsert_events(ev12)
    ev23 = _events(spark, [2, 3])
    warehouse.upsert_events(ev23)
    stored = warehouse.read_events()
    assert stored.count() == _events(spark, [1, 2, 3]).count()
    ids = [r.event_id for r in stored.select("event_id").collect()]
    assert len(ids) == len(set(ids))


def test_compact_preserves_rows_and_reduces_files(spark, warehouse):
    import glob

    # several appends -> several files per date partition
    for slots in ([1], [2], [3]):
        warehouse.insert_events(_events(spark, slots))
    before = warehouse.read_events()
    n_before = before.count()
    ids_before = sorted(r.event_id for r in before.select("event_id").collect())
    files_before = len(glob.glob(f"{warehouse.events_path}/*/*.parquet"))

    assert warehouse.compact() > 0
    after = warehouse.read_events()
    assert after.count() == n_before
    assert sorted(r.event_id for r in after.select("event_id").collect()) == ids_before
    files_after = len(glob.glob(f"{warehouse.events_path}/*/*.parquet"))
    assert files_after < files_before


def _data_files(warehouse, part_dir):
    import glob
    import os

    return {os.path.basename(f) for f in glob.glob(f"{warehouse.events_path}/{part_dir}/*.parquet")}


def test_compact_rewrites_only_fragmented_partitions(spark, warehouse):
    # day A: two appends, compacted once -> one file
    for slots in ([1], [2]):
        warehouse.insert_events(_events(spark, slots))
    warehouse.compact()
    part_a = "event_date=2023-11-14"
    (kept,) = _data_files(warehouse, part_a)
    # day B (block time crosses midnight at slot 3200) and the NULL
    # partition: two appends each -> several files
    for slots in ([3300], [3301]):
        warehouse.insert_events(_events(spark, slots))
        warehouse.insert_events(_null_time(_events(spark, [s + 50 for s in slots])))
    n_before = warehouse.read_events().count()

    assert warehouse.compact() == 2
    assert _data_files(warehouse, part_a) == {kept}  # never rewritten
    assert len(_data_files(warehouse, "event_date=2023-11-15")) == 1
    assert len(_data_files(warehouse, "event_date=__HIVE_DEFAULT_PARTITION__")) == 1
    assert warehouse.read_events().count() == n_before
    assert warehouse.compact() == 0


def test_ingest_fetches_each_slot_once(spark, warehouse, tmp_path):
    from collections import Counter

    log = str(tmp_path / "get_block.log")

    def counting_client():
        # runs in the Python workers: count calls in a shared file
        client = FixtureRpcClient(tip=40)
        get_block = client.get_block

        def counted(slot, encoding="jsonParsed"):
            with open(log, "a") as f:
                f.write(f"{slot}\n")
            return get_block(slot, encoding)

        client.get_block = counted
        return client

    slots = list(range(1, 21))
    warehouse.insert_events(_events(spark, [1]))  # non-empty table: the anti-join path
    n = warehouse.insert_events(parse_blocks(fetch_blocks_df(spark, counting_client, slots)))
    assert n == _events(spark, slots[1:]).count()
    with open(log) as f:
        calls = Counter(int(line) for line in f)
    assert calls == Counter(slots)


def test_checkpoint_roundtrip(warehouse):
    assert warehouse.get_last_slot() is None
    warehouse.update_last_slot(41)
    warehouse.update_last_slot(42)
    assert warehouse.get_last_slot() == 42


def test_is_slot_processed(spark, warehouse):
    warehouse.insert_events(_events(spark, [5]))
    assert warehouse.is_slot_processed(5)
    assert not warehouse.is_slot_processed(6)


def test_create_warehouse_factory(spark, tmp_path):
    cfg = WarehouseConfig(sink_type="parquet", path=str(tmp_path / "a"))
    assert isinstance(create_warehouse(spark, cfg), ParquetWarehouse)
    from solana_data_etl_pipeline_spark.errors import ConfigError

    with pytest.raises(ConfigError):
        create_warehouse(spark, WarehouseConfig(sink_type="mystery", path=str(tmp_path / "b")))


def test_chunk_ranges():
    assert chunk_ranges(1, 10, 4) == [(1, 4), (5, 8), (9, 10)]
    assert chunk_ranges(5, 5, 100) == [(5, 5)]


def test_backfill_end_to_end_and_replay(spark, warehouse):
    client = FixtureRpcClient(tip=40)
    cfg = Config.load()
    n = run_backfill(spark, warehouse, lambda: client, 1, 25, cfg)
    assert n > 0
    slots = {r.slot for r in warehouse.read_events().select("slot").distinct().collect()}
    assert slots == {s for s in range(1, 26) if s % 17 != 0}  # skipped slots dropped
    assert warehouse.get_last_slot() == 25
    # full replay of the same range is a no-op
    assert run_backfill(spark, warehouse, lambda: client, 1, 25, cfg) == 0


def test_incremental_advances_checkpoint(spark, warehouse):
    client = FixtureRpcClient(tip=10)
    cfg = Config.load()
    n1 = process_incremental(spark, warehouse, client, cfg)
    assert n1 > 0
    assert warehouse.get_last_slot() == 10
    # no new slots -> no-op
    assert process_incremental(spark, warehouse, client, cfg) == 0
    client.advance(5)
    n2 = process_incremental(spark, warehouse, client, cfg)
    assert n2 > 0
    assert warehouse.get_last_slot() == 15
    slots = {r.slot for r in warehouse.read_events().select("slot").distinct().collect()}
    assert slots == {s for s in range(1, 16) if s % 17 != 0}


def test_run_incremental_loop_bounded(spark, warehouse):
    client = FixtureRpcClient(tip=5)
    sleeps = []
    run_incremental(spark, warehouse, client, Config.load(), max_iterations=2, sleep=sleeps.append)
    assert warehouse.get_last_slot() == 5
    assert len(sleeps) == 1  # sleeps between iterations, not after the last


def test_health_check(warehouse):
    assert run_health_check(FixtureRpcClient(tip=3))
    assert run_health_check(FixtureRpcClient(tip=3), warehouse)

    class Down:
        def get_slot(self):
            raise ConnectionError("no rpc")

    assert not run_health_check(Down())


# -- JDBC sink (embedded Derby: the JDBC engine bundled with Spark) ----


@pytest.fixture()
def jdbc_wh(spark, tmp_path):
    from solana_data_etl_pipeline_spark.sinks.jdbc import JdbcWarehouse

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    wh = JdbcWarehouse(spark, url, write_partitions=2)
    wh.connect()
    return wh


def test_jdbc_factory_dispatch(spark, tmp_path):
    from solana_data_etl_pipeline_spark.sinks.jdbc import JdbcWarehouse

    url = f"jdbc:derby:{tmp_path}/factorydb;create=true"
    cfg = WarehouseConfig(sink_type="postgres", path=str(tmp_path), jdbc_url=url)
    assert isinstance(create_warehouse(spark, cfg), JdbcWarehouse)
    # postgres WITHOUT a url keeps the parquet fallback
    cfg2 = WarehouseConfig(sink_type="postgres", path=str(tmp_path), jdbc_url="")
    assert isinstance(create_warehouse(spark, cfg2), ParquetWarehouse)


def test_jdbc_insert_roundtrip_and_idempotency(spark, jdbc_wh):
    events = _events(spark, [10, 11])
    n1 = jdbc_wh.insert_events(events)
    assert n1 == events.select("event_id").distinct().count()
    # replay of the same slots is a no-op (anti-join on event_id)
    assert jdbc_wh.insert_events(events) == 0
    # overlapping batch inserts only the new slot
    n3 = jdbc_wh.insert_events(_events(spark, [11, 12]))
    assert 0 < n3 < _events(spark, [11, 12]).count() + 1
    back = jdbc_wh.read_events()
    assert back.count() == n1 + n3
    # array columns survive the JSON boundary
    row = back.filter(back.accounts.isNotNull()).first()
    if row is not None:
        assert isinstance(row.accounts, list)
    assert jdbc_wh.is_slot_processed(10)
    assert not jdbc_wh.is_slot_processed(99)
    assert sorted(r.slot for r in jdbc_wh.processed_slots().collect()) == [10, 11, 12]


def test_jdbc_upsert_replaces_latest_wins(spark, jdbc_wh):
    from pyspark.sql import functions as F

    events = _events(spark, [20])
    jdbc_wh.insert_events(events)
    mutated = events.withColumn("error_message", F.lit("rewritten"))
    assert jdbc_wh.upsert_events(mutated) == mutated.select("event_id").distinct().count()
    rows = jdbc_wh.read_events().collect()  # client-side compare: Derby
    # cannot evaluate pushed-down equality on CLOB columns
    assert len(rows) == events.select("event_id").distinct().count()  # replaced, not appended
    assert all(r.error_message == "rewritten" for r in rows)


def test_jdbc_checkpoint_roundtrip(jdbc_wh):
    assert jdbc_wh.get_last_slot() is None
    jdbc_wh.update_last_slot(123)
    assert jdbc_wh.get_last_slot() == 123
    jdbc_wh.update_last_slot(456)
    assert jdbc_wh.get_last_slot() == 456
    assert jdbc_wh.health_check()


def test_jdbc_empty_and_fresh_db_edges(spark, jdbc_wh):
    # reads and probes on a fresh database (no fact table yet) are
    # empty, not errors; empty batches are no-ops
    assert jdbc_wh.read_events().count() == 0
    assert jdbc_wh.processed_slots().count() == 0
    assert not jdbc_wh.is_slot_processed(1)
    empty = _events(spark, [30]).limit(0)
    assert jdbc_wh.insert_events(empty) == 0
    assert jdbc_wh.upsert_events(empty) == 0
    assert jdbc_wh.read_events().count() == 0


# -- null event_date slice + transactional merge ----------------------


def _null_time(df):
    from pyspark.sql import functions as F

    return df.withColumn("block_time", F.lit(None).cast(df.schema["block_time"].dataType))


def test_insert_null_block_time_replay_is_noop(spark, warehouse):
    # a null block_time row lands in the null date partition; isin()
    # never matches NULL, so without the explicit IS NULL branch the
    # replay would re-append it every time
    nulled = _null_time(_events(spark, [40, 41]))
    n = warehouse.insert_events(nulled)
    assert n > 0
    assert warehouse.insert_events(nulled) == 0
    assert warehouse.read_events().count() == n


def test_upsert_keeps_null_partition_rows(spark, warehouse):
    base = _null_time(_events(spark, [50, 51]))
    warehouse.insert_events(base)
    n_base = warehouse.read_events().count()
    # dynamic overwrite of the null partition must carry the existing
    # rows that are NOT in the incoming batch
    extra = _null_time(_events(spark, [52]))
    warehouse.upsert_events(extra)
    assert warehouse.read_events().count() == n_base + extra.count()


def test_jdbc_null_block_time_replay_is_noop(spark, jdbc_wh):
    nulled = _null_time(_events(spark, [60]))
    n = jdbc_wh.insert_events(nulled)
    assert n > 0
    assert jdbc_wh.insert_events(nulled) == 0
    assert jdbc_wh.read_events().count() == n


def test_jdbc_decode_in_fresh_readonly_instance(spark, jdbc_wh):
    from solana_data_etl_pipeline_spark.sinks.jdbc import JdbcWarehouse

    jdbc_wh.insert_events(_events(spark, [70]))
    # a brand-new instance that never encoded anything must still
    # decode array columns from the canonical schema, not from
    # encode-time instance state
    reader = JdbcWarehouse(spark, jdbc_wh.url, write_partitions=2)
    row = reader.read_events().filter("accounts IS NOT NULL").first()
    assert row is not None and isinstance(row.accounts, list)


def test_jdbc_execute_is_transactional(spark, jdbc_wh):
    import pytest as _pytest

    jdbc_wh.insert_events(_events(spark, [80]))
    n = jdbc_wh.read_events().count()
    assert n > 0
    # a failing later statement must roll back the earlier DELETE --
    # the upsert merge relies on delete+insert being one transaction
    with _pytest.raises(Exception):
        jdbc_wh._execute(f"DELETE FROM {jdbc_wh.table}", "NOT VALID SQL AT ALL")
    assert jdbc_wh.read_events().count() == n


def test_metadata_keys_full_surface(spark, warehouse, jdbc_wh):
    # the three documented etl_metadata keys round-trip on both sinks
    for wh in (warehouse, jdbc_wh):
        assert wh.get_last_backfill_slot() is None
        assert wh.get_chain_tip_slot() is None
        wh.update_last_backfill_slot(77)
        wh.update_chain_tip_slot(99)
        wh.update_last_slot(88)
        assert wh.get_last_backfill_slot() == 77
        assert wh.get_chain_tip_slot() == 99
        assert wh.get_last_slot() == 88
        assert wh.get_meta("nope") is None


def test_backfill_and_health_record_documented_keys(spark, warehouse):
    run_backfill(spark, warehouse, lambda: FixtureRpcClient(tip=5), 1, 4)
    assert warehouse.get_last_backfill_slot() == 4
    assert run_health_check(FixtureRpcClient(tip=123), warehouse)
    assert warehouse.get_chain_tip_slot() == 123
