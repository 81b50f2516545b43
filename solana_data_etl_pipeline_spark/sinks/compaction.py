"""Small-file compaction for parquet landing zones / warehouse tables.

Streaming ingest (streaming/structured.py) and per-chunk backfill
commits (streaming/incremental.py) both append small parquet files;
at 100 TB a table of KB-sized files drowns the driver in footer reads
and turns every scan into a metadata problem. Compaction rewrites a
directory into size-targeted files, optionally sorted within files by
a clustering key so min/max row-group stats become selective (the
poor-man's Z-order for a single key).

The rewrite protocol is write-to-sibling-temp, then swap. The swap is
two os.renames and is therefore NOT atomic: a crash between them
leaves no directory at `path` (readers fail) plus stray `._old_*` /
temp siblings. What IS guaranteed is that no committed data is ever
lost -- the original survives as `._old_*`, the rewrite as the temp --
and `recover_swap` (run on entry to every rewrite) repairs the layout:
it restores the newest `._old_*` if `path` vanished mid-swap and
deletes stray swap debris. (On an object store the "rename" becomes a
manifest/metadata swap, which IS atomic -- same protocol, stronger
primitive.)
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators.util import read_or_none


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def plan_target_files(total_bytes: int, target_file_bytes: int) -> int:
    """Files needed so each lands near the target size (>=1)."""
    return max(1, math.ceil(total_bytes / max(1, target_file_bytes)))


#: sibling-dir suffixes a crashed rewrite can leave behind
_SWAP_PREFIXES = ("._old_", "._compact_", "._zorder_", "._retrain_", "._remap_")


def _swap_debris(path: str) -> list[str]:
    base = path.rstrip("/")
    parent, name = os.path.split(base)
    parent = parent or "."
    if not os.path.isdir(parent):
        return []
    return [
        os.path.join(parent, d)
        for d in sorted(os.listdir(parent))
        if any(d.startswith(name + p) for p in _SWAP_PREFIXES)
    ]


def recover_swap(path: str) -> None:
    """Entry-time repair for a previously crashed swap on `path`.

    A crash inside swap_dir's two-rename window leaves `path` absent
    with the original parked at `._old_*` (and the finished rewrite at
    a temp sibling). Restore the newest `._old_*` -- the known-good
    original -- then delete all remaining swap debris. Crashes at any
    other point leave `path` intact, so the repair reduces to debris
    cleanup. Single-writer per table assumed, as everywhere here."""
    base = path.rstrip("/")
    olds = [d for d in _swap_debris(path) if "._old_" in os.path.basename(d)]
    if not os.path.exists(base) and olds:
        os.rename(max(olds, key=os.path.getmtime), base)
    for d in _swap_debris(path):
        shutil.rmtree(d, ignore_errors=True)


def swap_dir(path: str, tmp: str) -> None:
    """Replace `path` with fully-written `tmp` via two renames.

    NOT atomic: a crash between the renames leaves no dir at `path`
    until the next rewrite's recover_swap restores the parked
    original. Never loses committed data."""
    old = f"{path.rstrip('/')}._old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet directory into ~target-sized files.

    Uses repartition (round-robin, parallel) when growing/shrinking the
    file count, plus sortWithinPartitions for clustering when asked --
    sorting is per-file, no global shuffle. Returns a summary dict
    (files/bytes before and after) for observability.
    """
    recover_swap(path)
    before_bytes = _dir_bytes(path)
    before_files = sum(
        1
        for root, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = plan_target_files(before_bytes, target_file_bytes)

    df = spark.read.parquet(path)
    out = df.repartition(n)
    if sort_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_by])

    tmp = f"{path.rstrip('/')}._compact_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    swap_dir(path, tmp)

    after_files = sum(
        1
        for root, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    return {
        "before_files": before_files,
        "after_files": after_files,
        "before_bytes": before_bytes,
        "after_bytes": _dir_bytes(path),
        "target_files": n,
    }


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> dict[str, dict]:
    """Compact every partition directory of a partitionBy-written table
    independently (e.g. the streaming-maintained IVF corpus, which
    appends up to nlist files per micro-batch: files-per-cell grows
    with batch count until compacted). Each partition rewrites with
    the same atomic-by-rename protocol as compact_parquet, preserving
    the partition layout -- and therefore the dynamic-partition-pruning
    probe path -- exactly.

    The driver loop is bounded by the partition-value count (nlist for
    an IVF layout), not data size; partitions rewrite one at a time so
    a failure mid-way leaves every completed partition atomic and the
    rest untouched."""
    out: dict[str, dict] = {}
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if "=" in d and os.path.isdir(full):
            out[d] = compact_parquet(spark, full, target_file_bytes, sort_by=sort_by)
    return out


#: preferred within-file clustering per index sub-table, matched
#: against the columns actually present: probe joins are equi-joins on
#: these keys, so co-locating a bucket's rows in one file region turns
#: the post-compaction probe scan into mostly-contiguous reads
_INDEX_CLUSTERING: tuple[list[str], ...] = (
    ["band", "band_sig"],   # minhash bands
    ["table", "bucket"],    # embedding buckets / excluded
    ["fingerprint"],        # winnow fingerprints / excluded
    ["doc_id"],             # shingle payloads, cluster tables
)


def compact_lsh_index(
    spark: SparkSession,
    index_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, dict]:
    """Compact every sub-table of a continuously-grown LSH index
    (minhash / winnow / embedding -- the indexes the streaming corpus
    pipeline appends to once per micro-batch): each append is its own
    small parquet file, so a long-lived stream accumulates thousands
    of them and every probe pays the file-listing + open cost. Each
    sub-table is rewritten into ~target-sized files through the same
    crash-safe tmp-write + directory-swap as compact_parquet (a crash
    mid-compaction leaves the recoverable marker recover_swap
    repairs), clustered within files on its probe-join keys. The
    `_meta` geometry file is not a directory, so it is left alone.
    Returns per-sub
    summaries; run it at the same cadence as cluster compaction --
    after a drain, never concurrent with an appending batch."""
    out: dict[str, dict] = {}
    for sub in sorted(os.listdir(index_path)):
        sub_path = os.path.join(index_path, sub)
        if not os.path.isdir(sub_path) or "._compact_" in sub:
            continue
        table = read_or_none(spark, sub_path)
        if table is None:
            continue  # non-parquet artifacts (markers, logs)
        cols = set(table.columns)
        sort_by = next(
            (k for k in _INDEX_CLUSTERING if set(k) <= cols), None
        )
        out[sub] = compact_parquet(
            spark, sub_path, target_file_bytes=target_file_bytes, sort_by=sort_by
        )
    return out
