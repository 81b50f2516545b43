"""Analytics query plans (reference A1-A13 surface).

Each function is a pure ``DataFrame -> DataFrame`` plan over a
*normalized event model* with columns:

    block_time   timestamp
    event_type   string ('transaction' | 'program_instruction' |
                 'token_instruction' | 'token_transfer' | ...)
    program_id   string nullable
    wallet       string nullable   (accountKeys[0] analog)
    token_mint   string nullable
    from_wallet  string nullable
    to_wallet    string nullable
    failed       boolean           (meta.err IS NOT NULL analog)
    err_type     string nullable   (meta.err.type analog)

Both the canonical Solana event log (operators/parse.py output) and any
other event-shaped table can be projected into this model; the plans
are engine-parity with reference src/analytics.rs:243-712 (cited per
function) with two deliberate Spark-first deviations:

1. Wall-clock (`CURRENT_DATE`/`NOW()`, reference src/analytics.rs:272,
   292,335) is an explicit ``as_of`` parameter so results are
   deterministic and testable.
2. A13's N+1 per-program loop (reference src/analytics.rs:657-712) is
   collapsed into one window-rank + broadcast semi-join pass -- same
   result, one scan instead of 11 round-trips.

Every top-k has a deterministic tie-breaker appended (the reference
inherits Postgres's unstable ordering under ties; for a distributed
engine we make the result well-defined).

Scale notes (100 TB design point): every plan is a single scan ->
partial/final hash aggregate -> (tiny) top-k. No plan shuffles the fact
table more than once; `TakeOrderedAndProject` keeps top-k on the
executors. Exact COUNT(DISTINCT) matches reference semantics (Catalyst
plans it as expand + two-phase agg).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOP_PROGRAMS = 50  # reference src/analytics.rs:374
TOP_TOKENS = 20  # reference src/analytics.rs:469
TOP_ERRORS = 10  # reference src/analytics.rs:545
TOP_WALLETS = 20  # reference src/analytics.rs:629
TREND_PROGRAMS = 10  # reference src/analytics.rs:668
TREND_DAYS = 30  # reference src/analytics.rs:685


def _as_of_lit(as_of: dt.datetime) -> Column:
    return F.lit(as_of).cast("timestamp_ntz")


def transaction_volume(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A1-A4: total/today/week/month transaction counts in one scan.

    Reference runs four separate SELECT COUNT(*) statements
    (src/analytics.rs:251-316) into analytics_transaction_volume keyed
    by period_type; one conditional aggregation produces all four rows
    with a single pass over the fact table.
    """
    ts = _as_of_lit(as_of)
    is_tx = F.col("event_type") == "transaction"
    today = F.to_date(ts)
    agg = df.agg(
        F.sum(F.when(is_tx, 1).otherwise(0)).alias("total"),
        F.sum(F.when(is_tx & (F.to_date("block_time") == today), 1).otherwise(0)).alias("today"),
        F.sum(F.when(is_tx & (F.col("block_time") >= F.date_sub(today, 7).cast("timestamp_ntz")), 1).otherwise(0)).alias(
            "week"
        ),
        F.sum(F.when(is_tx & (F.col("block_time") >= F.date_sub(today, 30).cast("timestamp_ntz")), 1).otherwise(0)).alias(
            "month"
        ),
    )
    return agg.select(
        F.expr("stack(4, 'total', total, 'today', today, 'week', week, 'month', month) as (period_type, tx_count)")
    ).select("period_type", F.col("tx_count").cast("long").alias("tx_count"))


def hourly_volume(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A5: per-hour volume in the 24h before ``as_of``.

    Reference src/analytics.rs:329-340 (GROUP BY DATE, EXTRACT HOUR).
    """
    ts = _as_of_lit(as_of)
    return (
        df.filter((F.col("event_type") == "transaction") & (F.col("block_time") >= ts - F.expr("INTERVAL 24 HOURS")) & (F.col("block_time") <= ts))
        .groupBy(
            F.to_date("block_time").alias("event_date"),
            F.hour("block_time").alias("hour_of_day"),
        )
        .agg(F.count("*").alias("tx_count"))
    )


def active_programs(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A6: most active programs, top 50.

    Reference src/analytics.rs:363-378: COUNT(*), COUNT(DISTINCT
    accountKeys[0]), MAX(block_time) grouped by program_id over
    program_instruction events.
    """
    return (
        df.filter((F.col("event_type") == "program_instruction") & F.col("program_id").isNotNull())
        .groupBy("program_id")
        .agg(
            F.count("*").alias("tx_count"),
            F.count_distinct(F.col("wallet")).alias("unique_wallets"),
            F.max("block_time").alias("last_seen"),
        )
        .orderBy(F.desc("tx_count"), F.asc("program_id"))
        .limit(TOP_PROGRAMS)
    )


def token_transfer_stats(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A7: global token-transfer stats (one row, 3 exact distincts).

    Reference src/analytics.rs:406-438.
    """
    xfer = df.filter(F.col("event_type") == "token_transfer")
    return xfer.agg(
        F.count("*").alias("total_transfers"),
        F.count_distinct(F.col("token_mint")).alias("unique_mints"),
        F.count_distinct(F.col("from_wallet")).alias("unique_senders"),
        F.count_distinct(F.col("to_wallet")).alias("unique_receivers"),
    )


def top_tokens(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A8: top 20 tokens by transfer count.

    Reference src/analytics.rs:459-473 (null mints excluded by the
    query; the insert-side 'unknown' backfill at :484 never fires for
    non-null groups, so the query filter is the semantics).
    """
    return (
        df.filter((F.col("event_type") == "token_transfer") & F.col("token_mint").isNotNull())
        .groupBy(F.col("token_mint"))
        .agg(
            F.count("*").alias("transfer_count"),
            F.count_distinct(F.col("from_wallet")).alias("unique_senders"),
        )
        .orderBy(F.desc("transfer_count"), F.asc("token_mint"))
        .limit(TOP_TOKENS)
    )


def failed_transactions(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A9: failure rate as NUMERIC(5,2)-style percentage.

    Reference src/analytics.rs:495-533 computes two counts then the
    ratio host-side with a `.unwrap_or(1)` denominator guard
    (:508-513); here it is one conditional aggregation.
    """
    tx = df.filter(F.col("event_type") == "transaction")
    return tx.agg(
        F.count("*").alias("total_transactions"),
        F.sum(F.when(F.col("failed"), 1).otherwise(0)).cast("long").alias("failed_transactions"),
    ).select(
        "total_transactions",
        "failed_transactions",
        F.round(
            F.col("failed_transactions") * 100.0 / F.greatest(F.col("total_transactions"), F.lit(1)),
            2,
        ).alias("failure_rate"),
    )


def top_errors(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A10: top 10 error types with COALESCE('unknown') backfill.

    Reference src/analytics.rs:536-549.
    """
    return (
        df.filter(F.col("failed"))
        .groupBy(F.coalesce(F.col("err_type"), F.lit("unknown")).alias("error_type"))
        .agg(F.count("*").alias("error_count"))
        .orderBy(F.desc("error_count"), F.asc("error_type"))
        .limit(TOP_ERRORS)
    )


def wallet_activity(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A11: distinct active wallets total / today / last 7 days.

    Reference src/analytics.rs:573-600 runs three separate
    COUNT(DISTINCT) statements; one pass with conditional distincts is
    equivalent (NULLs are ignored by count_distinct).
    """
    ts = _as_of_lit(as_of)
    today = F.to_date(ts)
    tx = df.filter((F.col("event_type") == "transaction") & F.col("wallet").isNotNull())
    return tx.agg(
        F.count_distinct(F.col("wallet")).alias("active_wallets_total"),
        F.count_distinct(F.when(F.to_date("block_time") == today, F.col("wallet"))).alias(
            "active_wallets_today"
        ),
        F.count_distinct(
            F.when(F.col("block_time") >= F.date_sub(today, 7).cast("timestamp_ntz"), F.col("wallet"))
        ).alias("active_wallets_week"),
    )


def top_wallets(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A12: top 20 wallets by tx count with first/last seen.

    Reference src/analytics.rs:619-633.
    """
    return (
        df.filter((F.col("event_type") == "transaction") & F.col("wallet").isNotNull())
        .groupBy("wallet")
        .agg(
            F.count("*").alias("tx_count"),
            F.min("block_time").alias("first_seen"),
            F.max("block_time").alias("last_seen"),
        )
        .orderBy(F.desc("tx_count"), F.asc("wallet"))
        .limit(TOP_WALLETS)
    )


def program_trends(df: DataFrame, as_of: dt.datetime) -> DataFrame:
    """A13: daily tx series for the top-10 programs over 30 days.

    Reference src/analytics.rs:657-712 issues 1 + 10 queries (top-10,
    then one per program). Collapsed here: one aggregation produces
    (program_id, event_date) daily counts; a window row_number over the
    per-program totals picks the top 10; the daily rows are filtered by
    a broadcast-sized semi-join. Single fact scan, two tiny shuffles.
    """
    from pyspark.sql import Window

    ts = _as_of_lit(as_of)
    today = F.to_date(ts)
    base = df.filter(
        (F.col("event_type") == "program_instruction")
        & F.col("program_id").isNotNull()
        & (F.col("block_time") >= F.date_sub(today, TREND_DAYS).cast("timestamp_ntz"))
    )
    daily = base.groupBy("program_id", F.to_date("block_time").alias("event_date")).agg(
        F.count("*").alias("tx_count")
    )
    totals = daily.groupBy("program_id").agg(F.sum("tx_count").alias("total"))
    w = Window.orderBy(F.desc("total"), F.asc("program_id"))
    top = totals.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= TREND_PROGRAMS)
    return daily.join(F.broadcast(top.select("program_id")), "program_id", "inner").select(
        "program_id", "event_date", "tx_count"
    )


ALL_PLANS = {
    "transaction_volume": transaction_volume,
    "hourly_volume": hourly_volume,
    "active_programs": active_programs,
    "token_transfer_stats": token_transfer_stats,
    "top_tokens": top_tokens,
    "failed_transactions": failed_transactions,
    "top_errors": top_errors,
    "wallet_activity": wallet_activity,
    "top_wallets": top_wallets,
    "program_trends": program_trends,
}
