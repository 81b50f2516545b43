"""Canonical-path analytics (A1-A14 over parsed events): every
analytics table materializes with rows and the recompute is
deterministic (drop-and-recreate semantics of the reference)."""

import datetime as dt

import pytest

from solana_data_etl_pipeline_spark.operators.parse import parse_blocks
from solana_data_etl_pipeline_spark.plans.canonical import normalize_canonical, run_analytics
from solana_data_etl_pipeline_spark.session import CODEGEN_CACHE_ENTRIES, codegen_stats
from solana_data_etl_pipeline_spark.sources.blocks import blocks_to_df
from solana_data_etl_pipeline_spark.sources.fixtures import make_block


@pytest.fixture(scope="module")
def events(spark):
    return parse_blocks(blocks_to_df(spark, [make_block(s) for s in range(1, 30)]))


@pytest.fixture(scope="module")
def as_of(events):
    return events.agg({"block_time": "max"}).first()[0]


def test_all_analytics_tables_materialize(events, as_of):
    results = run_analytics(events, as_of)
    assert set(results) == {
        "transaction_volume",
        "hourly_volume",
        "active_programs",
        "token_transfer_stats",
        "top_tokens",
        "failed_transactions",
        "top_errors",
        "wallet_activity",
        "top_wallets",
        "program_trends",
        # dimension tables ride the same recompute (docs/SCHEMA.md:204)
        "dim_wallets",
        "dim_programs",
        "dim_tokens",
    }
    for name in ["transaction_volume", "active_programs", "top_wallets", "failed_transactions", "dim_wallets"]:
        assert results[name].count() > 0, name


def test_recompute_is_deterministic(events, as_of):
    a = run_analytics(events, as_of)
    b = run_analytics(events, as_of)
    for name in a:
        # str sort key: dim rows carry None (unnamed programs), which
        # plain tuple ordering cannot compare against strings
        ra = sorted(map(tuple, a[name].collect()), key=str)
        rb = sorted(map(tuple, b[name].collect()), key=str)
        assert ra == rb, name


def test_failure_rate_within_bounds(events, as_of):
    results = run_analytics(events, as_of)
    row = results["failed_transactions"].first()
    assert 0.0 <= float(row.failure_rate) <= 100.0
    assert row.failed_transactions <= row.total_transactions


def test_canonical_normalization_wallet_fallback(spark, events):
    norm = normalize_canonical(events)
    tx = norm.filter(norm.event_type == "transaction")
    assert tx.filter(norm.wallet.isNull()).count() == 0  # accountKeys[0] always present


def test_analytics_writes_parquet_outputs(spark, events, as_of, tmp_path):
    run_analytics(events, as_of, output_path=str(tmp_path))
    got = spark.read.parquet(str(tmp_path / "analytics_transaction_volume"))
    assert {r.period_type for r in got.collect()} == {"total", "today", "week", "month"}


def test_session_sizes_codegen_cache(spark):
    # static conf: only the session builder can set it
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_identical_recompute_reuses_generated_code(spark, events, as_of, tmp_path):
    # one recompute compiles ~136 classes (~95 sources, most compiled
    # under both the planning thread's and the tasks' class loader);
    # with Spark's default 100-entry cache the LRU evicts each before
    # it is needed again. The one allowed exception: Spark numbers the distinct
    # groups of a multi-column count(distinct) (token_transfer_stats,
    # wallet_activity) in hash order of fresh expression ids, so a
    # recompute may draw an order not seen yet for the two stages of
    # each of those plans: at most 2 plans x 2 stages x 2 compiles.
    run_analytics(events, as_of, output_path=str(tmp_path))
    compiled, _ = codegen_stats(spark)
    run_analytics(events, as_of, output_path=str(tmp_path))
    assert codegen_stats(spark)[0] - compiled <= 8
