"""Compaction must reduce file count to the size-derived target,
preserve every row, cluster within files when asked, and never lose
the original on a replayed run."""

import os

from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.sinks.compaction import (
    compact_parquet,
    plan_target_files,
)


def _parquet_files(path):
    return [
        os.path.join(root, f)
        for root, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def _fragmented(spark, path, parts=40, rows=4000):
    df = spark.range(0, rows).select(
        F.col("id"), (F.col("id") % 17).alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    )
    df.repartition(parts).write.mode("overwrite").parquet(path)
    return df


def test_plan_target_files():
    assert plan_target_files(0, 128) == 1
    assert plan_target_files(129, 128) == 2
    assert plan_target_files(1000, 100) == 10


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = _fragmented(spark, path)
    expected = sorted(r.id for r in df.collect())
    assert len(_parquet_files(path)) == 40

    total = sum(os.path.getsize(f) for f in _parquet_files(path))
    stats = compact_parquet(spark, path, target_file_bytes=total // 3 + 1)
    assert stats["after_files"] <= 4
    assert stats["after_files"] == stats["target_files"]
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == expected


def test_compaction_clusters_by_sort_key(spark, tmp_path):
    path = str(tmp_path / "frag2")
    _fragmented(spark, path)
    compact_parquet(spark, path, target_file_bytes=1 << 40, sort_by=["k"])
    files = _parquet_files(path)
    assert len(files) == 1
    ks = [r.k for r in spark.read.parquet(files[0]).collect()]
    assert ks == sorted(ks)  # clustered within the file


def test_compaction_idempotent_rerun(spark, tmp_path):
    path = str(tmp_path / "frag3")
    df = _fragmented(spark, path)
    expected = df.count()
    compact_parquet(spark, path, target_file_bytes=1 << 40)
    stats = compact_parquet(spark, path, target_file_bytes=1 << 40)
    assert stats["after_files"] == 1
    assert spark.read.parquet(path).count() == expected


def test_compact_partitioned_ivf_layout(spark, tmp_path):
    """Per-cell compaction of a streaming-maintained IVF layout: file
    counts shrink, data and cell assignment are untouched, and the
    layout stays probe-able."""
    import glob
    import json
    import os

    from solana_data_etl_pipeline_spark.operators.similarity import knn_ivf_materialized
    from solana_data_etl_pipeline_spark.sinks.compaction import compact_partitioned
    from solana_data_etl_pipeline_spark.streaming.embeddings import run_embedding_stream

    land = str(tmp_path / "in")
    layout = str(tmp_path / "ivf")
    os.makedirs(land, exist_ok=True)

    def _vec(i, emb):
        return json.dumps({"vec_id": i, "embedding": emb, "ingest_time": "2024-01-01T00:00:00"})

    a = [10.0, 0.0, 0.0, 0.1]
    b = [0.0, 10.0, 0.1, 0.0]
    # several batches so cells accumulate several small files
    for n, batch in enumerate([range(0, 6), range(6, 12), range(12, 18)]):
        with open(os.path.join(land, f"{n}.jsonl"), "w") as f:
            for i in batch:
                base = a if i % 2 == 0 else b
                f.write(_vec(i, [x + i * 0.01 for x in base]) + "\n")
        run_embedding_stream(
            spark, land, layout, str(tmp_path / "q"), str(tmp_path / "ck"), n_cells=2, dim=4
        )

    before = spark.read.parquet(f"{layout}/corpus")
    rows_before = sorted((r.vec_id, r.cell) for r in before.collect())
    files_before = len(glob.glob(f"{layout}/corpus/cell=*/*.parquet"))
    assert files_before > 2  # appends really did fragment the cells

    summary = compact_partitioned(spark, f"{layout}/corpus")
    files_after = len(glob.glob(f"{layout}/corpus/cell=*/*.parquet"))
    assert files_after < files_before
    assert set(summary) == {d for d in os.listdir(f"{layout}/corpus") if d.startswith("cell=")}

    after = spark.read.parquet(f"{layout}/corpus")
    assert sorted((r.vec_id, r.cell) for r in after.collect()) == rows_before

    queries = spark.createDataFrame(
        [(999, [10.0, 0.05, 0.0, 0.1])], "query_id long, embedding array<double>"
    )
    top = knn_ivf_materialized(spark, layout, queries, k=3, nprobe=1).collect()
    assert len(top) == 3


def test_recover_swap_repairs_crashed_swap(spark, tmp_path):
    """A crash between swap_dir's two renames leaves no dir at `path`
    (the original parked at ._old_, the rewrite at a temp sibling);
    recover_swap on the next rewrite's entry restores the parked
    original and clears all swap debris. A crash AFTER the swap (old
    dir not yet removed) reduces to debris cleanup."""
    import shutil

    from solana_data_etl_pipeline_spark.sinks.compaction import recover_swap

    path = str(tmp_path / "tbl")
    df = _fragmented(spark, path, parts=4, rows=100)
    expected = sorted(r.id for r in df.collect())

    # simulate the mid-swap crash window: path renamed away, temp left
    os.rename(path, path + "._old_deadbeef")
    shutil.copytree(path + "._old_deadbeef", path + "._compact_cafe")
    assert not os.path.exists(path)

    recover_swap(path)
    assert os.path.exists(path)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == expected
    assert not os.path.exists(path + "._old_deadbeef")
    assert not os.path.exists(path + "._compact_cafe")

    # post-swap crash: path intact, stale old dir left behind
    shutil.copytree(path, path + "._old_1234abcd")
    recover_swap(path)
    assert not os.path.exists(path + "._old_1234abcd")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == expected

    # a full rewrite still runs clean over a repaired table
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["after_files"] == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == expected


def test_compact_lsh_index_preserves_probes(spark, tmp_path):
    """compact_lsh_index rewrites every sub-table of a streamed index
    (many per-batch append files -> few clustered files) without
    changing a single probe verdict, and leaves the geometry meta
    alone."""
    import os

    from solana_data_etl_pipeline_spark.operators import dedup as D
    from solana_data_etl_pipeline_spark.sinks.compaction import compact_lsh_index

    path = str(tmp_path / "eidx")
    emb = spark.createDataFrame(
        [(i, [float((i + j) % 7) for j in range(64)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    D.materialize_embedding_lsh(emb, path, n_tables=2, max_bucket=8)
    # simulate per-batch appends: fragment the buckets table further
    extra = spark.createDataFrame(
        [(100 + i, [float((i * 3 + j) % 5) for j in range(64)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    from solana_data_etl_pipeline_spark.operators.similarity import (
        knn_lsh_indexed,
        lsh_bucket_rows,
    )
    from pyspark.sql import functions as F

    rows = lsh_bucket_rows(extra, n_tables=2, vec_out="v", norm_out="n")
    for _ in range(3):  # three more "batches" of small files
        rows.write.mode("append").parquet(f"{path}/buckets")

    batch = spark.createDataFrame(
        [(900, [float(j % 7) for j in range(64)]),   # twin of vec 0
         (901, [9.0] * 64)],                          # novel
        "vec_id long, embedding array<double>",
    )
    before = {r.vec_id for r in D.delta_embedding_dedup(spark, path, batch, threshold=0.99).collect()}
    queries = batch.select(F.col("vec_id").alias("query_id"), "embedding")
    knn_before = sorted(map(tuple, knn_lsh_indexed(path, queries, k=5).collect()))
    assert knn_before  # non-vacuous
    n_rows_before = spark.read.parquet(f"{path}/buckets").count()
    files_before = sum(
        1 for _r, _d, fs in os.walk(f"{path}/buckets") for f in fs if f.endswith(".parquet")
    )

    summary = compact_lsh_index(spark, path)
    assert "buckets" in summary and "excluded" in summary
    assert summary["buckets"]["after_files"] < files_before
    assert spark.read.parquet(f"{path}/buckets").count() == n_rows_before
    # geometry `_meta` untouched, probe verdicts identical
    from solana_data_etl_pipeline_spark.operators.util import read_index_meta

    assert read_index_meta(spark, path) == {"n_tables": 2}
    after = {r.vec_id for r in D.delta_embedding_dedup(spark, path, batch, threshold=0.99).collect()}
    assert after == before
    assert sorted(map(tuple, knn_lsh_indexed(path, queries, k=5).collect())) == knn_before
