"""Temporal query plans over the events stream: as-of attribution and
gap sessionization (operators/temporal.py applied to the testdata).

These cover the time-series operator family the reference's event-log
model implies but never queries (its analytics are all bucketed
counts): as-of joins for point-in-time attribution and inactivity-gap
sessionization -- both staples of event-pipeline engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators.temporal import asof_join, epoch_sec, session_stats
from solana_data_etl_pipeline_spark.plans.testdata_model import load_table

SESSION_GAP_MINUTES = 720  # 12 h -- the synthetic stream's median inter-event gap is ~7 h


def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click attribution: each purchase joined as-of to the same
    user's most recent click at-or-before the purchase time.

    One shuffle on user_id (the as-of union-scan); no candidate
    explosion regardless of click volume.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", F.col("value").alias("click_value"))
    )
    out = asof_join(purchases, clicks, on="user_id", ts="ts", right_cols=["click_value"], tie="event_id")
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("asof_ts").alias("click_ts"),
        F.round("asof_click_value", 2).alias("click_value"),
        (epoch_sec(F.col("ts")) - epoch_sec(F.col("asof_ts"))).alias("gap_sec"),
    )


def salted_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe gap-sessionization: time-bucket-salted two-phase
    sessionization (operators/skew.py) whose heavy exchange partitions
    on (user_id, time-bucket) instead of user_id alone --
    result-identical to the built-in
    ``groupBy(user_id, session_window(ts, gap))`` form (pinned under a
    planted hot key in tests/test_skew.py), registered so the
    skew-hardened path carries its own driver verdict."""
    from solana_data_etl_pipeline_spark.operators.skew import salted_session_stats

    ev = load_table(spark, sf_dir, "events")
    return salted_session_stats(
        ev, key="user_id", ts="ts", gap_minutes=SESSION_GAP_MINUTES, bucket_hours=24
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user: session ordinal, bounds, size and
    duration. One shuffle on user_id; the session aggregation reuses
    the window partitioning."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return session_stats(ev, key="user_id", ts="ts", gap_minutes=SESSION_GAP_MINUTES, tie="event_id")
