"""Similarity-search properties: exact top-k correctness vs a NumPy
reimplementation, ANN (LSH / IVF) candidate containment and ranking
invariants."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators import dedup as D
from solana_data_etl_pipeline_spark.operators import similarity as V

DIM = 8
N = 40
K = 5


def _vectors():
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(N, DIM)).astype("float32")
    return [(i, [float(x) for x in vecs[i]], int(i % 4)) for i in range(N)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(_vectors(), "vec_id long, embedding array<float>, label int")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")


def _numpy_topk(k):
    rows = _vectors()
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    out = {}
    for q in range(3):
        cos = vecs @ vecs[q] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[q]))
        scored = sorted(
            ((round(float(c), 4), i) for i, c in enumerate(cos) if i != q),
            key=lambda t: (-t[0], t[1]),
        )
        out[q] = [(i, c) for c, i in scored[:k]]
    return out


def test_knn_bruteforce_matches_numpy(emb, queries):
    got = {}
    for r in V.knn_bruteforce(emb, queries, k=K).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    expected = _numpy_topk(K)
    for q in range(3):
        ranked = [(n, c) for _, n, c in sorted(got[q])]
        assert ranked == [(n, round(c, 4)) for n, c in expected[q]]


def test_knn_bruteforce_rank_invariants(emb, queries):
    rows = V.knn_bruteforce(emb, queries, k=K).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_knn_lsh_results_subset_of_exact_scores(emb, queries):
    """Every ANN hit must carry the exact cosine (rerank is exact) and
    respect top-k ordering within the candidate set."""
    exact = {}
    for r in V.knn_bruteforce(emb, queries, k=N).collect():
        exact[(r.query_id, r.neighbor_id)] = r.cosine
    for r in V.knn_lsh(emb, queries, k=K).collect():
        assert math.isclose(r.cosine, exact[(r.query_id, r.neighbor_id)], abs_tol=1e-9)


def test_knn_ivf_candidates_come_from_probed_cells(emb, queries):
    nprobe = 2
    cents = {r.cell: list(r.centroid) for r in V.ivf_centroids(emb, dim=DIM).collect()}
    vecs = {r[0]: (r[1], r[2]) for r in _vectors()}
    for r in V.knn_ivf(emb, queries, k=K, nprobe=nprobe, dim=DIM).collect():
        qv = np.array(vecs[r.query_id][0], dtype=np.float64)
        scored = sorted(
            (
                (-round(float(qv @ np.array(c) / (np.linalg.norm(qv) * np.linalg.norm(c))), 4), cell)
                for cell, c in cents.items()
            ),
        )
        probed = {cell for _, cell in scored[:nprobe]}
        assert vecs[r.neighbor_id][1] in probed


def test_pandas_udf_scorer_matches_hof_path(emb, queries):
    """The Arrow-vectorized scorer and the JVM higher-order-function
    scorer must be result-identical (interchangeable execution paths)."""
    hof = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in V.knn_bruteforce(emb, queries, k=K).collect()
    )
    arrow = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in V.knn_bruteforce_pandas(emb, queries, k=K).collect()
    )
    assert hof == arrow


def test_ivf_centroids_are_per_cell_means(emb):
    got = {r.cell: list(r.centroid) for r in V.ivf_centroids(emb, dim=DIM).collect()}
    rows = _vectors()
    for cell in range(4):
        members = np.array([r[1] for r in rows if r[2] == cell], dtype=np.float64)
        expected = [round(float(x), 6) for x in members.mean(axis=0)]
        assert got[cell] == pytest.approx(expected, abs=1e-6)


def test_bucket_expr_is_deterministic(emb):
    planes = V.lsh_planes(n_planes=4, dim=DIM)
    b1 = {r.vec_id: r.b for r in emb.select("vec_id", V.bucket_expr(F.col("embedding"), planes).alias("b")).collect()}
    b2 = {r.vec_id: r.b for r in emb.select("vec_id", V.bucket_expr(F.col("embedding"), planes).alias("b")).collect()}
    assert b1 == b2
    assert all(0 <= v < 16 for v in b1.values())


def test_multi_table_lsh_beats_single_table_on_planted_near_dups(spark):
    """The whole point of L hash tables: recall on TRUE near-dups
    (cos >= ~0.97 planted clones) must rise with table count --
    1-(1-p^b)^L. Single-table is the floor; more tables may only add
    candidate pairs, never lose them."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.limit(30).collect()
    rng = np.random.RandomState(1)
    planted = [
        (1000 + i, [float(x) + float(e) for x, e in zip(r.embedding, rng.normal(0, 0.02, len(r.embedding)))], r.label)
        for i, r in enumerate(base)
    ]
    full = emb.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>, label int")
    )
    truth = {(r.vec_id, 1000 + i) for i, r in enumerate(base)}

    def recall(n_tables):
        pairs = {(r.vec_a, r.vec_b) for r in D.embedding_near_dup_lsh(full, threshold=0.9, n_tables=n_tables).collect()}
        return sum(1 for a, b in truth if (a, b) in pairs or (b, a) in pairs)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1  # tables only union candidates
    assert r2 >= 0.75 * len(truth)  # empirically 25/30; theory ~0.81 for cos~0.97
    assert r1 >= 0.5 * len(truth)


def test_knn_lsh_indexed_identical_to_inline(emb, queries, tmp_path):
    """The embedding index (materialize_embedding_lsh, uncapped at
    knn_lsh's table count) probed by knn_lsh_indexed returns EXACTLY
    the inline knn_lsh rows: the query side buckets with the same
    fixed plane matrices and parquet stores the corpus vectors/norms
    exactly, so moving the corpus-side encode+bucket work to ingest
    changes no values."""
    path = str(tmp_path / "lsh_rows")
    D.materialize_embedding_lsh(emb, path, n_tables=V.LSH_TABLES)
    inline = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in V.knn_lsh(emb, queries, k=K).collect()
    )
    stored = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in V.knn_lsh_indexed(path, queries, k=K).collect()
    )
    assert inline == stored and inline  # identical, non-vacuous


def test_knn_lsh_indexed_equals_inline_after_catch_up(emb, tmp_path):
    """An index built on half the corpus and caught up by a second
    writer call on all of it probes exactly like inline knn_lsh over
    the whole corpus: the catch-up appends only the missing vectors,
    once each."""
    path = str(tmp_path / "lsh_rows")
    D.materialize_embedding_lsh(emb.filter(F.col("vec_id") % 2 == 0), path, n_tables=V.LSH_TABLES)
    D.materialize_embedding_lsh(emb, path)
    q = emb.filter(F.col("vec_id") % 7 == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    inline = sorted(map(tuple, V.knn_lsh(emb, q, k=K).collect()))
    assert sorted(map(tuple, V.knn_lsh_indexed(path, q, k=K).collect())) == inline and inline
    rows = emb.sparkSession.read.parquet(f"{path}/buckets")
    assert rows.count() == N * V.LSH_TABLES
    assert rows.select("vec_id").distinct().count() == N


def test_knn_lsh_indexed_pins_probe_params_to_build_params(emb, queries, tmp_path):
    """materialize_embedding_lsh writes its table count as the index's
    `_meta`, and the probe takes it from there: an index built at a
    non-default table count probes exactly like the inline form at
    that count. Without `_meta` the probe raises instead of guessing
    (a probe in a different hash space silently returns
    near-empty/wrong neighbor sets)."""
    import os

    from solana_data_etl_pipeline_spark.operators.util import read_index_meta

    spark = emb.sparkSession
    path = str(tmp_path / "lsh_rows")
    D.materialize_embedding_lsh(emb, path, n_tables=2)
    assert read_index_meta(spark, path) == {"n_tables": 2}
    resolved = V.knn_lsh_indexed(path, queries, k=K)
    two = V.knn_lsh(emb, queries, k=K, n_tables=2)
    assert sorted(map(tuple, resolved.collect())) == sorted(map(tuple, two.collect()))
    os.remove(f"{path}/_meta")
    with pytest.raises(ValueError, match="no `_meta`"):
        V.knn_lsh_indexed(path, queries, k=K)


def test_knn_lsh_indexed_prunes_and_keeps_extreme_query_ids(emb, tmp_path):
    """The probe filters no query: a query id at the far negative end
    of the long range gets the same neighbours from the stored index
    as from inline knn_lsh."""
    path = str(tmp_path / "lsh_rows")
    D.materialize_embedding_lsh(emb, path, n_tables=V.LSH_TABLES)
    low = -(1 << 62) - 1
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(low).cast("long").alias("query_id"), "embedding"
    )
    inline = sorted(map(tuple, V.knn_lsh(emb, q, k=K).collect()))
    probe = V.knn_lsh_indexed(path, q, k=K)
    assert sorted(map(tuple, probe.collect())) == inline
    assert inline and all(r[0] == low for r in inline)


def test_knn_lsh_multi_table_candidates_superset_and_dedup(emb, queries):
    """More tables -> more candidates (union), and a neighbor found by
    several tables appears exactly once in the output."""
    one = V.knn_lsh(emb, queries, k=K, n_tables=1)
    four = V.knn_lsh(emb, queries, k=K, n_tables=4)
    rows = four.collect()
    assert len({(r.query_id, r.neighbor_id) for r in rows}) == len(rows)  # deduped
    # per query, the 4-table candidate pool is a superset, so its
    # worst returned cosine is >= the single table's (or it found
    # at least as many neighbors)
    def per_q(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, []).append(r.cosine)
        return out

    o, f = per_q(one), per_q(four)
    for qid, cos4 in f.items():
        if qid in o:
            assert len(cos4) >= len(o[qid])


def test_kmeans_ivf_high_recall_on_clustered_data(spark):
    """With a GEOMETRIC coarse quantizer, planted clusters land in the
    same cell, so nprobe=1-2 IVF recovers near-perfect neighbors while
    scanning a fraction of the corpus -- the behavior the label-column
    stand-in cannot show on unclustered synthetic data."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(8, 16)) * 5
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + rng.normal(size=16) * 0.1
        rows.append((i, [float(x) for x in v], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cells = V.kmeans_cells(emb, n_cells=8, seed=42)
    # clusters are coherent: vectors from one planted center share a cell
    assign = {r.vec_id: r.cell for r in cells.collect()}
    for c in range(8):
        members = [assign[i] for i in range(c, 400, 8)]
        assert len(set(members)) == 1, f"planted cluster {c} split across cells"
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {}
    for r in V.knn_bruteforce(emb, q, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in V.knn_ivf(cells, q, k=10, nprobe=1, cell_col="cell").collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(approx.get(qid, set()) & exact[qid]) / 10 for qid in exact]
    assert min(recalls) == 1.0  # same-cluster neighbors all in the probed cell


def _planted_cluster_emb(spark, seed: int):
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.normal(size=(8, 16)) * 5
    rows = []
    for i in range(400):
        v = centers[i % 8] + rng.normal(size=16) * 0.1
        rows.append((i, [float(x) for x in v], 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_lloyd_cells_deterministic_total_assignment(spark):
    """lloyd_cells is the engine-portable quantizer: (a) byte-stable
    across runs (fixed sign-LSH init + contracted roundings -- no RNG
    anywhere), (b) every vector gets exactly one cell, (c) the
    quantizer actually partitions clustered data into several cells
    (a split planted cluster is FINE -- k=16 over 8 clusters splits
    by design, exactly like ml KMeans at the same k; the IVF-recall
    property is asserted separately with nprobe=2)."""
    emb = _planted_cluster_emb(spark, seed=3)
    a1 = {r.vec_id: r.cell for r in V.lloyd_cells(emb, dim=16).collect()}
    a2 = {r.vec_id: r.cell for r in V.lloyd_cells(emb, dim=16).collect()}
    assert a1 == a2
    assert len(a1) == 400
    assert len(set(a1.values())) >= 4


def test_knn_ivf_kmeans_recall_on_trained_cells(spark):
    """The registered knn_ivf_kmeans configuration (Lloyd cells,
    nprobe=2) recovers exact top-10 neighbors on clustered data --
    the property the label partition lacks (planted recall 0.44 at
    the same nprobe, BENCH r9)."""
    emb = _planted_cluster_emb(spark, seed=7)
    cells = V.lloyd_cells(emb, dim=16)
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {}
    for r in V.knn_bruteforce(emb, q, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in V.knn_ivf(cells, q, k=10, nprobe=2, cell_col="cell").collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(approx.get(qid, set()) & exact[qid]) / 10 for qid in exact]
    assert min(recalls) == 1.0


def test_materialized_ivf_end_to_end_with_partition_pruning(spark, tmp_path):
    """materialize_ivf persists the cell-partitioned corpus + centroid
    side table; knn_ivf_materialized over that layout must (a) match
    the in-memory knn_ivf on the same assignment and (b) carry a
    dynamic partition-pruning filter on the corpus scan, so only the
    probed cells' files are read."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.normal(size=(4, 8)) * 5
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + rng.normal(size=8) * 0.1
        rows.append((i, [float(x) for x in v], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    path = V.materialize_ivf(emb, str(tmp_path / "ivf"), n_cells=4, seed=42)

    import glob

    parts = glob.glob(f"{path}/corpus/cell=*")
    assert len(parts) == 4, "corpus must be physically partitioned by cell"

    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    got = V.knn_ivf_materialized(spark, path, q, k=5, nprobe=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "corpus scan must prune to probed cells"

    cells = spark.read.parquet(f"{path}/corpus")
    expected = V.knn_ivf(cells, q, k=5, nprobe=1, cell_col="cell")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))
    # planted clusters: nprobe=1 still finds perfect neighbors
    exact = {}
    for r in V.knn_bruteforce(emb, q, 5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in got.collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert all(approx[qid] == exact[qid] for qid in exact)


def test_reconstructed_int8_error_bounded_and_deterministic(spark, emb):
    """The int8 round-trip's per-element error is bounded by scale/2 =
    max|x|/254 per vector, and the reconstruction is byte-stable."""
    import numpy as np

    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    r1 = {r.vec_id: np.array(r.embedding) for r in V.reconstructed_int8(emb).collect()}
    r2 = {r.vec_id: np.array(r.embedding) for r in V.reconstructed_int8(emb).collect()}
    for vid, v in orig.items():
        bound = max(np.abs(v).max(), 1e-12) / 254.0 + 1e-12
        assert np.abs(r1[vid] - v).max() <= bound
        assert (r1[vid] == r2[vid]).all()


def test_knn_ivf_int8_recall_survives_compression(spark):
    """The compressed index (int8-reconstructed quantizer + scoring
    vectors, full-precision queries): CLUSTER coherence fully
    survives compression -- every returned neighbor comes from the
    query's own planted cluster -- while exact-top-10 recall among
    the cluster's NEAR-TIED members (true cosines all ~0.999, gaps
    below the int8 error max|x|/254) honestly degrades but stays
    high on average. The distinct-neighbor regime (one clear match,
    the bench planted rows) is unaffected by construction: int8
    error cannot flip a 0.95-vs-0.3 cosine gap."""
    emb = _planted_cluster_emb(spark, seed=7)
    cells = V.lloyd_cells(V.reconstructed_int8(emb), dim=16)
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {}
    for r in V.knn_bruteforce(emb, q, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in V.knn_ivf(cells, q, k=10, nprobe=2, cell_col="cell").collect():
        # cluster coherence: planted cluster = vec_id % 8
        assert r.neighbor_id % 8 == r.query_id % 8
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(approx.get(qid, set()) & exact[qid]) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.7


def test_reconstructed_pq_shape_determinism_and_quality(spark):
    """The PQ round-trip: (a) every vector comes back at full
    dimensionality with every element equal to a subspace codeword
    mean (bounded codebook -- at most 2^PQ_SUB_PLANES distinct
    subvectors per subspace), (b) byte-stable across runs (fixed
    sign-LSH init, contracted roundings), (c) on CLUSTERED data the
    reconstruction points the right way: cosine(original, recon) far
    above the ~0 a random codeword would give."""
    import numpy as np

    emb = _planted_cluster_emb(spark, seed=11)
    r1 = {r.vec_id: tuple(r.embedding) for r in V.reconstructed_pq(emb, m=4, dim=16).collect()}
    r2 = {r.vec_id: tuple(r.embedding) for r in V.reconstructed_pq(emb, m=4, dim=16).collect()}
    assert r1 == r2
    assert len(r1) == 400 and all(len(v) == 16 for v in r1.values())
    sub_dim = 16 // 4
    for j in range(4):
        codewords = {v[j * sub_dim : (j + 1) * sub_dim] for v in r1.values()}
        assert len(codewords) <= 2**V.PQ_SUB_PLANES  # bounded codebook
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    cos = [
        float(np.dot(orig[i], np.array(r1[i])))
        / (np.linalg.norm(orig[i]) * np.linalg.norm(np.array(r1[i])))
        for i in orig
    ]
    # tight clusters reconstruct usefully: measured mean ~0.84 (a
    # random codeword would sit near 0 in 16-dim); 4-dim subspace
    # codebooks assign by direction, so magnitude loss caps this well
    # below int8's ~0.999
    assert sum(cos) / len(cos) > 0.75
    assert min(cos) > 0.5


def test_reconstructed_pq_rejects_uneven_split(spark, emb):
    with pytest.raises(ValueError, match="subspaces"):
        V.reconstructed_pq(emb, m=3, dim=DIM)


def test_reconstructed_pq_residual_determinism_cells_and_quality(spark):
    """The residual-encoded IVF-ADC form: (a) byte-stable across runs,
    (b) the cell column IS the coarse lloyd_cells assignment on the
    raw vectors (the coarse code the index stores), (c) on clustered
    data the residual reconstruction is strictly closer to the
    original than the raw-vector PQ at the same code budget -- the
    whole point of encoding x - centroid(x) (mean L2 error and mean
    cosine both better)."""
    import numpy as np

    emb = _planted_cluster_emb(spark, seed=11)
    r1 = {r.vec_id: (tuple(r.embedding), r.cell) for r in V.reconstructed_pq_residual(emb, m=4, dim=16).collect()}
    r2 = {r.vec_id: (tuple(r.embedding), r.cell) for r in V.reconstructed_pq_residual(emb, m=4, dim=16).collect()}
    assert r1 == r2
    assert len(r1) == 400 and all(len(v[0]) == 16 for v in r1.values())
    coarse = {r.vec_id: r.cell for r in V.lloyd_cells(emb, dim=16).collect()}
    assert {i: c for i, (_, c) in r1.items()} == coarse
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    raw = {r.vec_id: np.array(r.embedding) for r in V.reconstructed_pq(emb, m=4, dim=16).collect()}

    def _stats(recon):
        l2 = [float(np.linalg.norm(orig[i] - np.asarray(recon[i]))) for i in orig]
        cos = [
            float(np.dot(orig[i], np.asarray(recon[i])))
            / (np.linalg.norm(orig[i]) * np.linalg.norm(np.asarray(recon[i])))
            for i in orig
        ]
        return sum(l2) / len(l2), sum(cos) / len(cos)

    res_l2, res_cos = _stats({i: v for i, (v, _) in r1.items()})
    raw_l2, raw_cos = _stats(raw)
    assert res_l2 < raw_l2
    assert res_cos > raw_cos
    # absolute quality: the coarse centroid explains the cluster
    # direction, residual codes sharpen it (measured ~0.96 vs the raw
    # form's ~0.84 on this fixture)
    assert res_cos > 0.9


def test_reconstructed_pq_residual_rejects_uneven_split(spark, emb):
    with pytest.raises(ValueError, match="subspaces"):
        V.reconstructed_pq_residual(emb, m=3, dim=DIM)


def test_knn_ivf_truncated_prefix_cluster_coherent(spark):
    """The dimension-truncation (Matryoshka-style) rung: index and
    queries both live in the first 4 of 16 dims. On planted clusters
    whose centers differ in the prefix too (random Gaussian centers
    do, with high probability), truncation preserves cluster
    coherence and most of the exact top-10 -- determinism pinned like
    every Lloyd form. The suite entry knn_ivf_mrl is this shape at
    16-of-64 on the synthetic corpus; its planted bench rows price
    the recall cost on NON-MRL vectors."""
    emb = _planted_cluster_emb(spark, seed=13)
    emb4 = emb.select(
        "vec_id", F.slice(F.col("embedding").cast("array<double>"), 1, 4).alias("embedding")
    )
    a1 = {r.vec_id: r.cell for r in V.lloyd_cells(emb4, dim=4).collect()}
    a2 = {r.vec_id: r.cell for r in V.lloyd_cells(emb4, dim=4).collect()}
    assert a1 == a2 and len(a1) == 400
    q4 = emb4.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in V.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ), 10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    assigned = V.lloyd_cells(emb4, dim=4)
    approx = {}
    for r in V.knn_ivf(assigned, q4, k=10, nprobe=2, cell_col="cell").collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    # cluster membership survives truncation: every query finds
    # same-cluster neighbors for most of its list
    recalls = [len(approx.get(qid, set()) & exact[qid]) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.3


def test_knn_ivf_pq_residual_cluster_coherent(spark):
    """The registered residual-PQ index shape (recon carries its own
    coarse cell; knn_ivf probes those cells; queries full precision)
    keeps planted-cluster coherence. Among NEAR-TIED members (true
    cosines ~0.999) exact-top-10 recall stays weak for ANY 2-byte
    code (measured 0.325 here vs the raw form's 0.425 -- both forms
    cannot rank what the codes cannot separate); residual encoding's
    win is the distinct-neighbor regime, where the bench planted rows
    measure 1.00 @.95 vs raw's 0.70 at the same budget."""
    emb = _planted_cluster_emb(spark, seed=7)
    recon = V.reconstructed_pq_residual(emb, m=4, dim=16)
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {}
    for r in V.knn_bruteforce(emb, q, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in V.knn_ivf(recon, q, k=10, nprobe=2, cell_col="cell").collect():
        assert r.neighbor_id % 8 == r.query_id % 8  # cluster coherence
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(approx.get(qid, set()) & exact[qid]) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.25


def test_knn_ivf_pq_cluster_coherent(spark):
    """The registered PQ index shape (PQ-reconstructed quantizer +
    scoring vectors, full-precision queries) keeps planted-cluster
    coherence: neighbors come from the query's own cluster, and
    exact-top-10 recall among near-tied members stays usable. PQ is
    the lossiest rung, so the bar sits below int8's."""
    emb = _planted_cluster_emb(spark, seed=7)
    recon = V.reconstructed_pq(emb, m=4, dim=16)
    cells = V.lloyd_cells(recon, dim=16)
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {}
    for r in V.knn_bruteforce(emb, q, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in V.knn_ivf(cells, q, k=10, nprobe=2, cell_col="cell").collect():
        assert r.neighbor_id % 8 == r.query_id % 8  # cluster coherence
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(approx.get(qid, set()) & exact[qid]) / 10 for qid in exact]
    # near-TIED members (true cosines ~0.999) discriminate poorly
    # through 4-dim codewords -- measured 0.425; the distinct-neighbor
    # regime (bench planted rows) is where PQ recall is judged
    assert sum(recalls) / len(recalls) >= 0.35


def test_lsh_bucket_rows_bit_identical_to_hof_projection(spark):
    """The Arrow/numpy bucket kernel (r13 optimization: the corpus-side
    hyperplane dots/norms move from interpreted HOF expressions to one
    vectorized batch pass) must reproduce the former HOF projection
    BIT-FOR-BIT -- same ids, tables, buckets, same double vectors, and
    norms equal to the last ulp (the kernel folds dimensions in the
    same left-to-right IEEE order as F.aggregate). Checked on both the
    embeddings table and hash_embed text vectors, at the knn (4-table)
    and dedup (2-table) operating points, plus the bucket-only form."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.similarity import (
        EMB_DIM,
        LSH_PLANES,
        _dvec,
        lsh_bucket_rows,
        norm_expr,
        table_bucket_col,
    )
    from solana_data_etl_pipeline_spark.operators.text import hash_embed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(64)
    for frame, n_tables in ((emb, 4), (emb, 2), (hash_embed(docs), 4)):
        buckets = table_bucket_col(F.col("embedding"), LSH_PLANES, n_tables, EMB_DIM)
        hof = frame.select(
            F.col("vec_id"),
            _dvec(F.col("embedding")).alias("c_emb"),
            norm_expr(F.col("embedding")).alias("c_norm"),
            F.posexplode(buckets).alias("table", "bucket"),
        )
        krn = lsh_bucket_rows(frame, LSH_PLANES, EMB_DIM, n_tables)
        key = lambda r: (r.vec_id, r.table, r.bucket, r.c_norm, tuple(r.c_emb))
        a = sorted(map(key, hof.collect()))
        b = sorted(map(key, krn.collect()))
        assert a == b
    only = lsh_bucket_rows(emb, LSH_PLANES, EMB_DIM, 2, include_vec=False)
    assert only.columns == ["vec_id", "table", "bucket"]
    full = {(r.vec_id, r.table, r.bucket) for r in lsh_bucket_rows(emb, LSH_PLANES, EMB_DIM, 2).collect()}
    assert {(r.vec_id, r.table, r.bucket) for r in only.collect()} == full


def test_lsh_bucket_rows_mixed_lengths_summing_to_n_dim(spark):
    """ADVICE r13 (medium): the kernel's fast-path uniformity check
    tested only the TOTAL flattened length, so a batch of mixed-length
    vectors whose lengths sum to n*dim (e.g. dim-1 and dim+1) took the
    reshape path misaligned and silently emitted wrong buckets/norms.
    Such rows must take the exact HOF-semantics fallback: bucket 0 per
    table (zip_with NULL-padding kills every plane dot) and the norm of
    whatever elements exist."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.similarity import (
        EMB_DIM,
        LSH_PLANES,
        _dvec,
        lsh_bucket_rows,
        norm_expr,
        table_bucket_col,
    )

    rows = [
        (1, [float(i) for i in range(EMB_DIM - 1)]),
        (2, [float(i) for i in range(EMB_DIM + 1)]),
        (3, [0.25 * i - 1.0 for i in range(EMB_DIM)]),  # one well-formed row
    ]
    frame = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    buckets = table_bucket_col(F.col("embedding"), LSH_PLANES, 2, EMB_DIM)
    hof = frame.select(
        F.col("vec_id"),
        _dvec(F.col("embedding")).alias("c_emb"),
        norm_expr(F.col("embedding")).alias("c_norm"),
        F.posexplode(buckets).alias("table", "bucket"),
    )
    krn = lsh_bucket_rows(frame, LSH_PLANES, EMB_DIM, 2)
    key = lambda r: (r.vec_id, r.table, r.bucket, r.c_norm, tuple(r.c_emb))
    assert sorted(map(key, hof.collect())) == sorted(map(key, krn.collect()))
    # the malformed rows land in bucket 0 for every table
    by_id = {(r.vec_id, r.table): r.bucket for r in krn.collect()}
    assert by_id[(1, 0)] == 0 and by_id[(1, 1)] == 0
    assert by_id[(2, 0)] == 0 and by_id[(2, 1)] == 0
