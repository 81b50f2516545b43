"""Incremental near-dup CLUSTER maintenance for the streaming corpus.

The streaming ingest (streaming/corpus.py) DROPS near-duplicates
batch-by-batch via the materialized MinHash index, but until now the
cluster structure -- which retained document each dropped doc was a
near-dup of, and which retained docs later turned out to be connected
through a shared match -- was only recoverable by re-running the batch
`connected_components` over re-discovered pairs. This module keeps
component ids CONTINUOUSLY, so the streaming dedup story is complete:
every doc that ever appeared in a verified near-dup pair has a cluster
id at all times, and the ids agree with what batch
`operators.dedup.connected_components` would produce over the same
pairs (test-pinned up to that exact statement).

Layout, beside the MinHash index tables (`{index}/bands|shingles`):

  {index}/pairs/epoch=N/   append-only verified near-dup pairs
                           (doc_a < doc_b), one partition dir per
                           micro-batch epoch; a replayed epoch
                           OVERWRITES its own partition (idempotent)
  {index}/clusters         (doc_id, cluster_id) -- one row per doc
                           ever seen in a pair, APPEND-ONLY: a row is
                           written once, with the component root at
                           insert time, and never rewritten
  {index}/remaps           (old_root, new_root) -- tiny fully-RESOLVED
                           merge log: when components merge, only the
                           losing roots get a remap entry; reads
                           resolve with ONE broadcast join
  {index}/pairs_done       single-row marker: highest epoch folded
                           into clusters/remaps

Incremental rule (the contracted-graph step): each catch-up maps every
pending pair endpoint to its CURRENT root (clusters ⨝ remaps; a doc
with no row is its own root), runs connected_components over the
contracted edge list -- pending-batch-sized, orders of magnitude
smaller than the corpus -- and folds the result back as (a) append-only
cluster rows for first-seen docs and (b) remap entries for roots that
lost a merge. Existing per-doc rows are NEVER rewritten on a merge;
the remap table absorbs it with O(merged components) rows, and
`compact_clusters` folds remaps into the per-doc table at compaction
cadence (swap protocol), keeping the read path a single join.

Crash safety without a transaction log: catch-up is a pure function of
(pairs, clusters, remaps) driven by the `pairs_done` marker, ordered
pairs -> remaps -> clusters -> marker. Every prefix of that order is
re-runnable: an unadvanced marker reprocesses its epochs, where
already-applied merges contract to self-edges (no-ops) and
already-inserted docs are excluded by the append's anti-join guard.
Because corpus docs are mutually non-dup by construction (each batch
doc was verified against the index before admission), every pending
pair has at least one FIRST-SEEN endpoint, so "some endpoint lacks a
cluster row" exactly identifies unprocessed pairs -- the same
self-healing catch-up shape as the band/shingle index maintenance.

Semantics note, deliberate and documented: clusters here follow the
GREEDY online drop rule. A doc similar only to an already-DROPPED doc
(which never entered the index) starts a new cluster, where one batch
run over the full history would have bridged them transitively. That
is inherent to any index-of-retained-docs scheme -- and it is the
defensible dedup semantics: the newcomer is not a near-dup of any
RETAINED doc. Within a batch, delta-delta pairs are recorded, so
batch-internal transitivity is preserved.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators.dedup import connected_components
from solana_data_etl_pipeline_spark.operators.util import read_or_none

_REMAPS_SCHEMA = "old_root long, new_root long"


def _overwrite_swapped(df: DataFrame, path: str) -> None:
    """Overwrite a (small) parquet dir via the compaction swap
    protocol, so the table is never observed mid-overwrite and a
    crashed writer is repaired by the next one's recover_swap.
    Required here because the new contents are DERIVED from the old
    (a plain overwrite would delete its own input before the lazy
    plan reads it)."""
    import os

    from solana_data_etl_pipeline_spark.sinks.compaction import swap_dir

    base = path.rstrip("/")
    tmp = f"{base}._remap_{uuid.uuid4().hex[:8]}"
    df.write.parquet(tmp)
    if os.path.exists(base):
        swap_dir(base, tmp)
    else:
        os.rename(tmp, base)


def append_pairs(
    spark: SparkSession,
    index_path: str,
    pairs: DataFrame,
    epoch: int,
) -> None:
    """Record one micro-batch's verified near-dup pairs under
    `{index}/pairs/epoch={epoch}`. Pairs are normalized undirected
    (doc_a < doc_b) and deduplicated within the epoch.

    WRITE-ONCE per epoch: if the partition dir already holds a
    completed write (_SUCCESS), the call is a no-op. This matters
    beyond plain replay idempotency -- after a crash BETWEEN the
    corpus commit and the cluster catch-up, the replayed batch is
    emptied by the corpus fingerprint anti-join, so recomputing pairs
    yields NOTHING; an unconditional overwrite would erase the
    already-recorded pairs for that epoch. A partial dir without
    _SUCCESS (crash mid-write) is overwritten."""
    import os

    part = f"{index_path}/pairs/epoch={epoch}"
    if os.path.exists(os.path.join(part, "_SUCCESS")):
        return
    a, b = F.col("doc_a"), F.col("doc_b")
    norm = (
        pairs.select(
            F.least(a, b).alias("doc_a"), F.greatest(a, b).alias("doc_b")
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    norm.write.mode("overwrite").parquet(part)


def _pending_pairs(spark: SparkSession, index_path: str, last: int) -> DataFrame | None:
    """Pairs epochs newer than `last`. The epoch predicate lands on
    the PARTITION column (pairs are laid out one dir per epoch), so
    the scan prunes processed epochs at the file source -- at scale
    the catch-up touches only the unprocessed tail, never the whole
    log (partition-pruning pinned by test)."""
    all_pairs = read_or_none(spark, f"{index_path}/pairs")
    if all_pairs is None:
        return None
    return all_pairs.filter(F.col("epoch") > F.lit(int(last)))


def catch_up_clusters(spark: SparkSession, index_path: str) -> None:
    """Fold every pairs epoch newer than the `pairs_done` marker into
    clusters + remaps. Idempotent and self-healing: safe to call at
    any time, after any crash, any number of times.

    Scale shape: the epoch filter partition-prunes the pairs scan to
    the unprocessed tail (normally one micro-batch); the contracted
    edge list and everything derived from it are pending-sized, so
    connected_components takes its broadcast path; the only touch of
    the big per-doc table is one join to resolve endpoint roots and
    one anti-join guard on the append -- both against broadcast-sized
    pending frames, so the clusters table is never shuffled."""
    from solana_data_etl_pipeline_spark.sinks.compaction import recover_swap

    recover_swap(f"{index_path}/remaps")
    recover_swap(f"{index_path}/pairs_done")
    marker = read_or_none(spark, f"{index_path}/pairs_done")
    last = marker.agg(F.max("epoch")).collect()[0][0] if marker is not None else -1
    pending = _pending_pairs(spark, index_path, last)
    if pending is None:
        return
    top = pending.agg(F.max("epoch")).collect()[0][0]
    if top is None:
        return
    pending = pending.select("doc_a", "doc_b").distinct().localCheckpoint(eager=True)

    clusters = read_or_none(spark, f"{index_path}/clusters")
    remaps = read_or_none(spark, f"{index_path}/remaps")
    if clusters is not None:
        resolved = _resolve(clusters, remaps)
    else:
        resolved = spark.createDataFrame([], "doc_id long, cluster_id long")

    # contract each endpoint to its current root (absent => own id).
    # Join-direction discipline against the BIG per-doc table: outer
    # and anti joins build their non-preserved side, so a direct
    # "pending LEFT JOIN clusters" would shuffle or broadcast the
    # corpus-sized side. Instead: one broadcast SEMI join extracts the
    # pending endpoints' rows (clusters streams through un-shuffled,
    # output is pending-sized), and every outer/anti join after that
    # runs between pending-sized frames only.
    ends = pending.select(F.col("doc_a").alias("doc_id")).unionByName(
        pending.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    hits = (
        resolved.join(F.broadcast(ends), "doc_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    roots = (
        ends.join(F.broadcast(hits), "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("root"))
        .localCheckpoint(eager=True)
    )
    ra = roots.select(F.col("doc_id").alias("doc_a"), F.col("root").alias("ra"))
    rb = roots.select(F.col("doc_id").alias("doc_b"), F.col("root").alias("rb"))
    contracted = (
        pending.join(F.broadcast(ra), "doc_a")
        .join(F.broadcast(rb), "doc_b")
        .filter(F.col("ra") != F.col("rb"))
        .select("ra", "rb")
        .distinct()
    )
    if contracted.limit(1).count():
        labels = connected_components(contracted, "ra", "rb").localCheckpoint(eager=True)
        # first-seen docs = pending endpoints with no clusters row --
        # decidable from the tiny semi-join output, no anti-join
        # against the big table
        new_ids = ends.join(F.broadcast(hits.select("doc_id")), "doc_id", "left_anti")
        # merge losers: contracted nodes whose label moved, minus docs
        # first seen this round (those get their final label directly
        # in their own cluster row -- no remap indirection needed)
        merged = (
            labels.filter(F.col("id") != F.col("cluster_id"))
            .join(
                new_ids.select(F.col("doc_id").alias("id")),
                "id",
                "left_anti",
            )
            .select(
                F.col("id").alias("old_root"), F.col("cluster_id").alias("new_root")
            )
        )
        # keep remaps fully resolved: existing entries whose target
        # just lost a merge follow it to the new root, THEN the new
        # entries are unioned in -- every new_root is a CC fixpoint
        # (its own label), so one read-side join always terminates
        if remaps is not None:
            tgt = merged.select(
                F.col("old_root").alias("new_root"), F.col("new_root").alias("_next")
            )
            composed = (
                remaps.join(F.broadcast(tgt), "new_root", "left")
                .select(
                    "old_root",
                    F.coalesce("_next", "new_root").alias("new_root"),
                )
            )
            new_remaps = composed.unionByName(merged)
        else:
            new_remaps = merged
        _overwrite_swapped(new_remaps, f"{index_path}/remaps")
        # first-seen docs: root -> post-merge label (roots frame maps a
        # new doc to itself, so its label is its component's new root).
        # No append guard against the big table needed: new_ids is
        # already defined as "has no clusters row".
        lab = labels.select(F.col("id").alias("root"), F.col("cluster_id").alias("_lab"))
        new_rows = (
            new_ids.join(F.broadcast(roots), "doc_id")
            .join(F.broadcast(lab), "root", "left")
            .select("doc_id", F.coalesce("_lab", "root").alias("cluster_id"))
        )
        new_rows.write.mode("append").parquet(f"{index_path}/clusters")
    _overwrite_swapped(
        spark.createDataFrame([(int(top),)], "epoch long"), f"{index_path}/pairs_done"
    )


def _resolve(clusters: DataFrame, remaps: DataFrame | None) -> DataFrame:
    if remaps is None:
        return clusters.select("doc_id", "cluster_id")
    r = remaps.select(
        F.col("old_root").alias("cluster_id"), F.col("new_root")
    )
    return clusters.join(F.broadcast(r), "cluster_id", "left").select(
        "doc_id", F.coalesce("new_root", "cluster_id").alias("cluster_id")
    )


def streamed_clusters(spark: SparkSession, index_path: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc ever seen in a verified
    near-dup pair -- dropped docs included, which is the attribution a
    pure keep/drop stream loses. One broadcast join against the tiny
    resolved remap table; the per-doc table itself is never rewritten
    between compactions."""
    clusters = read_or_none(spark, f"{index_path}/clusters")
    if clusters is None:
        return spark.createDataFrame([], "doc_id long, cluster_id long")
    return _resolve(clusters, read_or_none(spark, f"{index_path}/remaps"))


def compact_clusters(spark: SparkSession, index_path: str) -> None:
    """Fold the remap log into the per-doc table (one full rewrite via
    the swap protocol) and reset the log, restoring the empty-remap
    fast path. Run at compaction cadence alongside the parquet
    compaction -- never per batch."""
    clusters = read_or_none(spark, f"{index_path}/clusters")
    remaps = read_or_none(spark, f"{index_path}/remaps")
    if clusters is None or remaps is None or not remaps.limit(1).count():
        return
    # _overwrite_swapped writes the derived frame to a temp sibling
    # BEFORE the swap touches the source dir, so no checkpoint needed
    _overwrite_swapped(_resolve(clusters, remaps), f"{index_path}/clusters")
    _overwrite_swapped(
        spark.createDataFrame([], _REMAPS_SCHEMA), f"{index_path}/remaps"
    )
