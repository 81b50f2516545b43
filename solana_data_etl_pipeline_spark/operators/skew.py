"""Skew mitigation: salted two-phase aggregation.

A hot grouping key (the reference's `'unknown'` mint bucket from A8,
reference src/analytics.rs:484, is the canonical example) concentrates
one reducer at shuffle time. Salting splits each key into `salt`
sub-keys for the first (partial) aggregation, then merges the partials
in a second, now-uniform aggregation. Cost: one extra narrow shuffle of
already-reduced rows; win: the wide shuffle is uniform.

AQE's skew-join handling covers *joins*; salting covers *aggregations*,
which AQE does not rebalance. Only algebraic aggregates decompose this
way (count/sum/min/max); count-distinct needs the two-phase
distinct-first form below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt: int, col_name: str = "_salt") -> DataFrame:
    """Uniform pseudo-random salt in [0, salt) derived from a stable
    row hash (xxhash64 of all columns) -- deterministic for a given
    row, unlike rand(), so retries/replays salt identically."""
    return df.withColumn(col_name, F.pmod(F.xxhash64(*df.columns), F.lit(salt)))


def salted_count(df: DataFrame, keys: list[str], salt: int = 16, out: str = "cnt") -> DataFrame:
    """COUNT(*) per key, skew-safe: partial count per (key, salt), then
    merge. Result is identical to df.groupBy(keys).count()."""
    partial = with_salt(df, salt).groupBy(*keys, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(*keys).agg(F.sum("_c").cast("long").alias(out))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Column]],
    salt: int = 16,
) -> DataFrame:
    """General algebraic two-phase aggregation.

    `aggs` maps output column -> (partial_agg_expr, merge_agg_expr over
    the partial column named `_p_<out>`), e.g.
        {"total": (F.sum("x"), F.sum("_p_total")),
         "mx":    (F.max("x"), F.max("_p_mx"))}
    """
    partial = with_salt(df, salt).groupBy(*keys, "_salt").agg(
        *[p.alias(f"_p_{name}") for name, (p, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(*[m.alias(name) for name, (_, m) in aggs.items()])


def salted_count_distinct(
    df: DataFrame, keys: list[str], distinct_col: str, salt: int = 16, out: str = "n_distinct"
) -> DataFrame:
    """Exact COUNT(DISTINCT x) per key without a single hot reducer:
    phase 1 dedups (key, x) pairs salted on x (uniform by construction
    -- the salt is derived from the distinct column itself), phase 2
    counts the deduped pairs. Equivalent to
    groupBy(keys).agg(countDistinct(x)) but the heavy exchange
    partitions on (key, x-hash) instead of key alone."""
    pairs = df.select(*keys, distinct_col).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(salt))
    )
    deduped = pairs.dropDuplicates([*keys, distinct_col])
    return deduped.groupBy(*keys).agg(F.count(distinct_col).cast("long").alias(out))


def salted_session_stats(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_minutes: int = 30,
    bucket_hours: int = 24,
) -> DataFrame:
    """Skew-safe gap-sessionization: result-identical to the built-in
    ``groupBy(key, session_window(ts, gap))`` form (tests/test_skew.py
    pins the two equal) but the heavy event
    shuffle partitions on (key, time-bucket) instead of key alone, so
    one user with millions of events -- the SCALE.md-named failure mode
    -- spreads across reducers instead of serializing on one.

    Hash-salting (with_salt) cannot apply here: sessions depend on
    event ORDER, and a hash salt scatters a key's events arbitrarily.
    A contiguous TIME bucket is the order-preserving salt: phase 1
    computes local sessions inside each (key, bucket) with the built-in
    session_window; phase 2 stitches across bucket boundaries by
    merging adjacent local sessions whose gap is < the threshold --
    over per-SESSION summaries, orders of magnitude fewer rows than
    events (bounded by events/bucket only in the adversarial
    every-event-its-own-session case, where the plain plan is equally
    degenerate).

    The merge condition mirrors session_window exactly: events (and
    therefore adjacent local sessions) fuse when the gap is strictly
    less than the threshold, decided at microsecond precision.
    """
    gap_us = int(gap_minutes) * 60 * 1_000_000
    us = F.unix_micros(F.col(ts).cast("timestamp_ltz"))
    bucket = F.floor(us / F.lit(int(bucket_hours) * 3600 * 1_000_000)).alias("_bkt")
    local = (
        df.groupBy(F.col(key), bucket, F.session_window(F.col(ts), f"{gap_minutes} minutes"))
        .agg(F.min(ts).alias("_s"), F.max(ts).alias("_e"), F.count(F.lit(1)).alias("_n"))
        .select(key, "_s", "_e", "_n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col("_s").asc())
    prev_e = F.lag("_e").over(w)
    s_us = F.unix_micros(F.col("_s").cast("timestamp_ltz"))
    prev_us = F.unix_micros(prev_e.cast("timestamp_ltz"))
    new_flag = F.when(prev_e.isNull() | (s_us - prev_us >= F.lit(gap_us)), 1).otherwise(0)
    grp = F.sum(new_flag).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        local.withColumn("_g", grp)
        .groupBy(F.col(key), F.col("_g"))
        .agg(
            F.min("_s").alias("session_start"),
            F.max("_e").alias("session_end"),
            F.sum("_n").cast("long").alias("n_events"),
        )
        .select(key, "session_start", "session_end", "n_events")
    )
