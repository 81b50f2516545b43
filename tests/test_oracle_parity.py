"""Full-registry oracle parity at sf0.001: every query in
plans.suite.all_queries() -- INCLUDING entries not exposed through the
curated 50-slot driver registry (__spark_entry__.queries()) -- is
checked against its DuckDB oracle twin on row count, column names, and
order-insensitive value multiset. This is what keeps every entry
outside DRIVER_ORDER -- including the quadratic exact baselines
(dedup_ngram_jaccard, knn_bruteforce) -- verified while the driver
surface is capped at 50 entries."""

import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location("selfcheck", ROOT / "tools" / "selfcheck.py")
selfcheck = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(selfcheck)


def test_driver_registry_is_within_budget_and_consistent():
    from solana_data_etl_pipeline_spark.plans.suite import (
        DRIVER_ORDER,
        all_oracle_sql,
        all_queries,
        driver_queries,
    )

    assert len(DRIVER_ORDER) == len(set(DRIVER_ORDER)) == 50  # driver budget
    assert set(driver_queries()) <= set(all_queries())
    # every registered query has an oracle except the documented
    # rows-only sketch rollup
    assert set(all_queries()) - set(all_oracle_sql()) == {"sketch_rollup"}
    # COVERAGE.md's "Registry note" states these counts; update BOTH
    # when registering a query (ADVICE r10: the doc drifted twice)
    assert len(all_queries()) == 153
    assert len(all_oracle_sql()) == 152


def test_full_registry_matches_oracle(spark):
    from __spark_entry__ import _configure
    from solana_data_etl_pipeline_spark.plans.suite import all_oracle_sql, all_queries

    _configure(spark)
    con = selfcheck.oracle_connection(SF)
    lines = []
    failures = selfcheck.check_queries(
        spark, con, all_queries(), all_oracle_sql(), SF, log=lines.append
    )
    assert failures == [], "\n".join(lines)


def test_curation_v3_epoch_branch_matches_oracle(spark):
    """The registered corpus_curation_v3 budget (7k) keeps both sf0.001
    and sf0.01 in the WATERFILL branch (budget < total capacity), so
    the epoch_plan branch of the scalar CASE would go unverified at
    the driver's scales. Drive it explicitly: at budget 25k (between
    1x and 4x the sf0.001 train capacity of ~12.3k) sources repeat at
    decaying value, src_alloc exceeds capacity (epochs_bp > 10000),
    and the engine-vs-engine comparison is the same one the driver
    applies at the default budget."""
    from __spark_entry__ import _configure
    from solana_data_etl_pipeline_spark.plans import corpus as C
    from solana_data_etl_pipeline_spark.plans.suite import _v3_oracle

    _configure(spark)
    budget = 25_000
    con = selfcheck.oracle_connection(SF)
    lines = []
    failures = selfcheck.check_queries(
        spark,
        con,
        {"v3_epoch": lambda sp, sf: C.corpus_curation_v3(sp, sf, budget=budget)},
        {"v3_epoch": _v3_oracle(budget)},
        SF,
        log=lines.append,
    )
    assert failures == [], "\n".join(lines)
    out = C.corpus_curation_v3(spark, SF, budget=budget).collect()
    assert out and max(r.epochs_bp for r in out) > 10_000  # repetition happened
    assert any(r.epochs_bp < 40_000 for r in out)  # and was budget-cut, not vacuous
