"""Similarity search over embedding columns (`array<float>`).

Two plans:

- `knn_bruteforce`: exact top-k cosine neighbors. The query side is
  broadcast (queries are few), the corpus side streams -- one narrow
  pass over the corpus per batch of queries plus a per-query top-k
  (window row_number). Correct baseline at any scale where queries fit
  in a broadcast.

- `knn_lsh`: random-hyperplane LSH (sign-bit buckets) + within-bucket
  exact rerank -- the IVF/LSH scale path: candidate generation touches
  only same-bucket vectors, cutting the cross product by ~2^planes.
  Hyperplanes are a fixed deterministic matrix (seeded), embedded as
  literals so the plan is reproducible across engines (the DuckDB
  oracle uses the same matrix).

Scoring arithmetic is built-in higher-order functions on double-cast
arrays (JVM-side). Every LSH side -- corpus, stored index and query --
buckets through ONE Arrow-batched kernel, `lsh_bucket_rows`, which
refuses a vector that is NULL, holds a NULL or is not `EMB_DIM` wide.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LSH_PLANES = 8
EMB_DIM = 64


def _dvec(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot_raw(a: Column, b: Column) -> Column:
    """Dot product of two already-double arrays (no per-element cast)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dvec(a), F.lit(0.0), lambda acc, x: acc + x * x))


LSH_TABLES = 4


def lsh_planes(n_planes: int = LSH_PLANES, dim: int = EMB_DIM, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: coefficient (p, d) is
    derived from a tiny LCG on the global plane index, mapped to
    [-1, 1). `table` offsets the index so each hash table gets an
    independent plane set. Matches the oracle SQL byte-for-byte
    because it is embedded as literals (table=0 reproduces the
    original single-table matrix)."""
    planes = []
    for p in range(n_planes):
        g = table * n_planes + p
        row = []
        for d in range(dim):
            x = (1103515245 * (g * dim + d + 12345) + 12345) % (2**31)
            row.append(round(x / float(2**30) - 1.0, 6))
        planes.append(row)
    return planes


def bucket_expr(emb: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of the bound column `emb`: bit p set iff
    dot(plane_p, emb) >= 0.

    The plane matrix is a single nested-array literal and the dot
    products run inside one `transform`, keeping the expression tree
    (and generated code) O(planes) instead of O(planes * dim). The
    WHOLE expression is ONE parsed SQL string rather than planes*dim
    `F.lit` calls and DSL lambdas: each is a py4j round-trip, and at
    8x64 doubles per table the former form cost ~0.5 s of pure
    plan-CONSTRUCTION time per table per query call (measured r13;
    guide §7.3's planning-time trap, driver-side). `repr(float)` is
    round-trip exact and Spark's double-literal parser is correctly
    rounded, so the parsed matrix is bit-identical to the F.lit
    form."""
    planes_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{v!r}D" for v in row) + ")" for row in planes
        )
        + ")"
    )
    powers_sql = "array(" + ",".join(f"{2**p}L" for p in range(len(planes))) + ")"
    dvec_sql = f"transform({emb}, x -> cast(x as double))"
    dots_sql = (
        f"transform({planes_sql}, row -> aggregate(zip_with(row, {dvec_sql}, "
        f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x))"
    )
    return F.expr(
        f"aggregate(zip_with({dots_sql}, {powers_sql}, "
        f"(d, pw) -> case when d >= 0 then pw else 0L end), "
        f"0L, (acc, x) -> acc + x)"
    )


def knn_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    corpus: (vec_id, embedding); queries: (query_id, embedding).
    Excludes self-matches when ids collide. Returns
    (query_id, neighbor_id, cosine, rank).

    Scale shape: the double-cast vector and its L2 norm are projected
    ONCE per side before the join, so the per-pair work is a single
    zip_with dot product -- at |corpus| x |queries| pairs that is the
    dominant cost and must not re-derive norms pairwise.
    """
    q = queries.select(
        F.col("query_id"), _dvec(F.col("embedding")).alias("q_emb"), norm_expr(F.col("embedding")).alias("q_norm")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        _dvec(F.col("embedding")).alias("c_emb"),
        norm_expr(F.col("embedding")).alias("c_norm"),
    )
    cos = dot_raw(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cos, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucket_rows(
    emb_df: DataFrame,
    n_tables: int = LSH_TABLES,
    id_col: str = "vec_id",
    id_out: str | None = None,
    vec_out: str = "c_emb",
    norm_out: str = "c_norm",
    include_vec: bool = True,
) -> DataFrame:
    """The exploded bucket rows of every multi-table LSH plan --
    (id, double vector, L2 norm, table, bucket), one row per (vector,
    hash table) over `n_tables` independent LSH_PLANES-plane tables --
    computed in ONE Arrow-batched numpy kernel instead of interpreted
    higher-order-function expressions (guide §4.2: HOFs evaluate
    interpreted with no codegen, so the n_tables*n_planes*dim
    multiply-adds per vector dominated every corpus-side pass; the
    batch kernel does the same arithmetic vectorized). It is the only
    embedding bucketer: corpus, stored-index and query sides all call
    it, so they hash in one space by construction.

    BIT-IDENTICAL to the HOF form -- `_dvec`, `norm_expr` and one
    `bucket_expr(emb, lsh_planes(table=t))` per table, exploded --
    pinned by test (tests/test_similarity.py): the per-(vector,
    plane) dot and the squared norm accumulate with one IEEE float64
    add per dimension in ascending-dimension order -- exactly
    `F.aggregate`'s left fold -- so every dot, norm, sign bit and
    bucket id matches the HOF form to the last bit (products are
    order-free, adds are sequenced identically, np.sqrt and Math.sqrt
    are both correctly rounded).

    Every vector must be EMB_DIM (the planes' width) non-NULL values.
    A NULL vector, a NULL element or any other width has no sign-bit
    bucket, so the kernel raises ValueError naming the id and the
    width it got (the job fails with it) instead of bucketing the row.

    `include_vec=False` drops the vector/norm columns for bucket-only
    consumers (cap stats, exposure), halving what crosses the Arrow
    boundary."""
    import pyspark.sql.types as T

    id_out = id_out or id_col
    n_planes, dim = LSH_PLANES, EMB_DIM
    planes_np = [row for t in range(n_tables) for row in lsh_planes(table=t)]

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        P = np.array(planes_np, dtype=np.float64)  # (n_tables*n_planes, dim)
        powers = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
        for batch in batches:
            ids = batch.column(0)
            embcol = batch.column(1)
            n = len(ids)
            if n == 0:
                continue
            # every ROW must be dim wide, not just the batch in
            # aggregate: mixed lengths summing to n*dim would reshape
            # misaligned (ADVICE r13). flatten() honors a nonzero
            # slice offset, where .values does not.
            flat = embcol.flatten()
            widths = np.diff(embcol.offsets.to_numpy(zero_copy_only=False))
            if embcol.null_count or flat.null_count or np.any(widths != dim):
                for i, vec in enumerate(embcol.to_pylist()):
                    if vec is None or len(vec) != dim or None in vec:
                        got = "a NULL vector" if vec is None else f"width {len(vec)}"
                        if vec is not None and None in vec:
                            got += " with a NULL element"
                        raise ValueError(
                            f"LSH bucketing needs EMB_DIM = {dim} non-NULL values "
                            f"per vector; {id_col} {ids[i].as_py()} has {got}"
                        )
            V = np.asarray(flat, dtype=np.float64).reshape(n, dim)
            # EXACT left fold over dimensions (see docstring)
            dots = np.zeros((n, P.shape[0]), dtype=np.float64)
            sq = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                dots += V[:, d, None] * P[None, :, d]
                sq += V[:, d] * V[:, d]
            bits = dots >= 0.0
            buckets = [
                (bits[:, t * n_planes : (t + 1) * n_planes] * powers).sum(axis=1)
                for t in range(n_tables)
            ]
            cols = [pa.concat_arrays([ids] * n_tables)]
            names = [id_out]
            if include_vec:
                cols.append(pa.concat_arrays([embcol] * n_tables))
                names.append(vec_out)
                cols.append(pa.array(np.tile(np.sqrt(sq), n_tables)))
                names.append(norm_out)
            cols.append(
                pa.array(np.repeat(np.arange(n_tables, dtype=np.int32), n), type=pa.int32())
            )
            names.append("table")
            cols.append(pa.array(np.concatenate(buckets).astype(np.int64)))
            names.append("bucket")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    fields = [T.StructField(id_out, T.LongType())]
    if include_vec:
        fields += [
            T.StructField(vec_out, T.ArrayType(T.DoubleType())),
            T.StructField(norm_out, T.DoubleType()),
        ]
    fields += [T.StructField("table", T.IntegerType()), T.StructField("bucket", T.LongType())]
    src = emb_df.select(
        F.col(id_col).cast("long").alias(id_out),
        _dvec(F.col("embedding")).alias("embedding"),
    )
    return src.mapInArrow(gen, T.StructType(fields))


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = LSH_TABLES,
) -> DataFrame:
    """ANN top-k with MULTI-TABLE random-hyperplane LSH: candidates are
    the union over `n_tables` independent hash tables of same-bucket
    vectors, then exact cosine rerank. For a neighbor at angle theta,
    per-table collision is p^b with p = 1 - theta/pi, so recall is
    1-(1-p^b)^L -- one 8-bit table catches only ~56% of cos>=0.95
    near-dups, four catch ~96%, while candidates stay ~L*n/2^b (a few
    percent of the corpus). Recall < 1 by design; deterministic given
    the fixed plane matrices, so still exactly oracle-checkable.

    Scale shape: the bucket kernel (lsh_bucket_rows) emits n_tables
    rows per vector carrying only (id, vec, norm, table, bucket);
    the join key is (table, bucket); candidates are deduped BEFORE
    rank (a neighbor found by several tables scores once).

    Scoring-vs-dedup order, MEASURED (sf0.1, L=4): collision
    multiplicity is 1.28x (618 collision rows -> 481 unique pairs), so
    deduping pairs BEFORE the cosine (dropDuplicates on ids, carrying
    both vectors through the exchange) saves ~22% of dot products but
    widens the dedup shuffle rows from 24 B to ~1 KB; wall times are
    statistically identical (A 2.11/2.25/2.45 s vs B 2.04/2.41/2.54 s
    across alternating runs). The kept plan scores-then-distincts: the
    shuffle stays narrow, and multiplicity only approaches L for pairs
    already so close they are few."""
    c = lsh_bucket_rows(corpus, n_tables=n_tables, id_out="neighbor_id")
    return _bucketed_top_k(c, queries, n_tables, k)


def knn_lsh_indexed(index_path: str, queries: DataFrame, k: int = 10) -> DataFrame:
    """knn_lsh's probe against a stored embedding bucket index
    (dedup.materialize_embedding_lsh): queries compute their own
    buckets from the SAME fixed plane matrices, the corpus side is the
    index's already-bucketed rows, and the rerank tail is knn_lsh's.
    Result-identical to knn_lsh at the index's table count (parquet
    stores the vectors and norms exactly; pinned by test).

    The table count is the index's `_meta`, never a caller's: a probe
    in a different hash space silently returns near-empty/wrong
    neighbor sets, so a path without `_meta` raises ValueError.

    Scale shape: the corpus-side hyperplane dots, norms and explode
    moved to ingest cadence; the probe is one index scan joined to the
    broadcast |queries| x n_tables bucket rows."""
    from solana_data_etl_pipeline_spark.operators.dedup import embedding_index

    n_tables, rows = embedding_index(queries.sparkSession, index_path)
    c = rows.toDF("neighbor_id", "c_emb", "c_norm", "table", "bucket")
    return _bucketed_top_k(c, queries, n_tables, k)


def _bucketed_top_k(c: DataFrame, queries: DataFrame, n_tables: int, k: int) -> DataFrame:
    """knn_lsh's query side and tail over corpus bucket rows
    `c` = (neighbor_id, c_emb, c_norm, table, bucket): the queries
    bucket through the same kernel (lsh_bucket_rows), join broadcast
    on (table, bucket), then exact cosine, candidate dedup and
    per-query top-k."""
    q = lsh_bucket_rows(
        queries, n_tables=n_tables, id_col="query_id", vec_out="q_emb", norm_out="q_norm"
    )
    cos = dot_raw(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cos, 4).alias("cosine"))
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_centroids(emb_df: DataFrame, dim: int = EMB_DIM, cell_col: str = "label") -> DataFrame:
    """(cell, centroid) coarse-quantizer table: per-cell element-wise
    mean via the ml-native vector aggregator (Summarizer.mean) -- one
    typed aggregation buffer per cell instead of `dim` scalar avg
    expressions (4x faster and O(1) codegen in dim). Rounded to 6 dp
    for engine portability; value-identical to the per-dim avg form."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    vec = array_to_vector(_dvec(F.col("embedding")))
    return (
        emb_df.select(F.col(cell_col).alias("cell"), vec.alias("_v"))
        .groupBy("cell")
        .agg(Summarizer.mean(F.col("_v")).alias("_m"))
        .select("cell", F.transform(vector_to_array("_m"), lambda x: F.round(x, 6)).alias("centroid"))
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    dim: int = EMB_DIM,
    cell_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: the corpus is pre-partitioned into cells
    (the `cell_col` column -- in a production pipeline the coarse
    quantizer assignment is materialized at ingest, which is exactly
    what the testdata's label column models). A query probes its
    `nprobe` nearest cell centroids, then exact-reranks only those
    cells' vectors.

    Scale shape: centroids are one tiny hash-agg; probe selection is a
    broadcast cross join against |cells| rows; candidate generation is
    an equi-join corpus.cell = probe.cell with the (small) probe side
    broadcast -- the corpus is never shuffled, and cell pruning cuts
    the scan to nprobe/nlist of the data when the table is
    partitioned/bucketed by cell.
    """
    # pass materialized `centroids` to skip the quantizer-training scan
    # (the production shape: centroids persist beside the cell table)
    cents = centroids if centroids is not None else ivf_centroids(corpus, dim, cell_col)
    cents = cents.select("cell", F.col("centroid").alias("c_vec"), norm_expr(F.col("centroid")).alias("c_n"))
    q = queries.select(
        F.col("query_id"),
        _dvec(F.col("embedding")).alias("q_emb"),
        norm_expr(F.col("embedding")).alias("q_norm"),
    )
    # rounded to 4 dp BEFORE ranking so probe selection tie-breaks
    # identically across engines (the oracle ranks rounded cosines)
    probe_cos = F.round(dot_raw(F.col("q_emb"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_n")), 4)
    wp = Window.partitionBy("query_id").orderBy(F.desc("probe_cos"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "q_emb", "q_norm", "cell", probe_cos.alias("probe_cos"))
        .withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "cell")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        _dvec(F.col("embedding")).alias("c_emb"),
        norm_expr(F.col("embedding")).alias("c_norm"),
    )
    cos = dot_raw(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cos, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_pandas_udf():
    """Arrow-vectorized cosine scorer: one NumPy matrix op per batch.

    The built-in higher-order-function path (dot_raw) stays JVM-side
    and wins below ~1k dims; the Pandas UDF becomes the faster path
    when vectors are long enough that NumPy's BLAS beats per-element
    expression evaluation, at the cost of one Arrow hop per batch.
    Kept result-identical to dot_raw (verified in tests) so the two
    are freely interchangeable."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        av = np.asarray(a.tolist(), dtype=np.float64)
        bv = np.asarray(b.tolist(), dtype=np.float64)
        dots = np.einsum("ij,ij->i", av, bv)
        norms = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
        return pd.Series(dots / norms)

    return cosine


def knn_bruteforce_pandas(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """knn_bruteforce with the Arrow-vectorized scorer -- identical
    results, different execution path (NumPy batch matmul instead of
    codegen'd per-element expressions)."""
    cosine = cosine_pandas_udf()
    q = queries.select(F.col("query_id"), _dvec(F.col("embedding")).alias("q_emb"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), _dvec(F.col("embedding")).alias("c_emb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine(F.col("q_emb"), F.col("c_emb")), 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def reconstructed_int8(emb_df: DataFrame) -> DataFrame:
    """(vec_id, embedding) with every vector round-tripped through the
    symmetric int8 quantization (scale = max|x|/127, q = round(x/scale),
    x_hat = q * scale) -- the INDEX-side vector a memory-bound
    deployment actually stores (4x smaller than float32). Probing with reconstructed corpus vectors
    against full-precision queries measures exactly the recall the
    compression costs; the registered knn_ivf_int8 plan builds its
    quantizer AND scores from these, so nothing in the index path
    touches the original floats.

    Scale shape: pure per-row projection, zero shuffles. The scale
    scalar binds to a column BEFORE the per-element lambdas (the HOF
    re-evaluation lesson: an aggregate referenced inside transform
    would recompute per element). Deterministic and engine-portable:
    round-half-away on both engines, exact float multiply back."""
    dv = _dvec(F.col("embedding"))
    b = emb_df.select(F.col("vec_id"), dv.alias("_v")).withColumn(
        "_scale", F.greatest(absmax_col("_v"), F.lit(1e-12)) / F.lit(127.0)
    )
    q8 = F.transform(F.col("_v"), lambda x: F.round(x / F.col("_scale"), 0))
    return b.select(
        "vec_id",
        F.transform(q8, lambda q: q * F.col("_scale")).alias("embedding"),
    )


def absmax_col(name: str) -> Column:
    """max |x| over an already-double array column."""
    return F.aggregate(
        F.col(name), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )


#: product-quantization geometry: m subquantizers over EMB_DIM dims
PQ_SUBSPACES = 4
#: sign-LSH init planes per subspace codebook (<= 2^planes codes)
PQ_SUB_PLANES = 4
#: Lloyd passes per subspace codebook
PQ_ITERS = 2


def reconstructed_pq(
    emb_df: DataFrame,
    m: int = PQ_SUBSPACES,
    n_iters: int = PQ_ITERS,
    dim: int = EMB_DIM,
) -> DataFrame:
    """(vec_id, embedding) with every vector round-tripped through
    PRODUCT QUANTIZATION (Jegou, Douze & Schmid 2011): the vector
    splits into `m` contiguous subvectors, each subspace trains its
    own deterministic Lloyd codebook (lloyd_cells on the slice, an
    independent plane table per subspace), and the reconstruction
    concatenates each subvector's assigned codeword (the final
    per-cell centroid). The stored form is m small codes per vector
    (here m=4 codes of <=4 bits = 2 bytes) plus m bounded codebooks
    -- two orders of magnitude below float32, the deepest rung of the
    compression ladder (float32 -> int8 -> PQ). Scoring reconstructed
    vectors against full-precision queries is EXACTLY asymmetric
    distance computation (ADC): dot(q, recon(x)) equals the sum of
    per-subspace query-to-codeword dots that a lookup-table scan
    would accumulate, so the measured recall is the recall PQ costs.

    Scale shape: each subspace fit is lloyd_cells' (n_iters bounded
    centroid aggregations + broadcast assignments -- the corpus never
    shuffles in the fit); codebooks broadcast (<= 2^PQ_SUB_PLANES
    rows); the m reconstruction joins are vec_id-co-partitioned
    narrow frames AQE plans together. Train on a sample at 100 TB --
    only the assignment pass must see every row, exactly like
    retrain_ivf."""
    sub_dim = dim // m
    if sub_dim * m != dim:
        raise ValueError(f"dim {dim} must split evenly into {m} subspaces")
    parts: DataFrame | None = None
    for j in range(m):
        sub = emb_df.select(
            "vec_id",
            F.slice(_dvec(F.col("embedding")), j * sub_dim + 1, sub_dim).alias("embedding"),
        )
        assigned = lloyd_cells(
            sub, n_iters=n_iters, n_planes=PQ_SUB_PLANES, dim=sub_dim, table=j
        )
        cents = ivf_centroids(assigned, dim=sub_dim, cell_col="cell")
        part = assigned.join(F.broadcast(cents), "cell").select(
            "vec_id", F.col("centroid").alias(f"_p{j}")
        )
        parts = part if parts is None else parts.join(part, "vec_id")
    return parts.select(
        "vec_id",
        F.concat(*[F.col(f"_p{j}") for j in range(m)]).alias("embedding"),
    )


def reconstructed_pq_residual(
    emb_df: DataFrame,
    m: int = PQ_SUBSPACES,
    n_iters: int = PQ_ITERS,
    dim: int = EMB_DIM,
) -> DataFrame:
    """(vec_id, embedding, cell): the RESIDUAL-encoded IVF-PQ form
    (Jegou, Douze & Schmid 2011's published recipe) -- the coarse
    Lloyd quantizer assigns each vector to a cell FIRST, the per-
    subspace codebooks then train on the RESIDUAL x - centroid(x)
    (not the raw vector), and the reconstruction is
    centroid(cell) + concat(subspace codewords). Residuals carry far
    less variance than raw vectors (the coarse quantizer has already
    explained the cell's mean), so the same code budget (m=4 codes of
    <=4 bits) quantizes a much tighter distribution -- this is why
    real IVF-ADC systems hold recall at ~100x compression where
    raw-vector PQ saturates (measured here: the raw form's planted
    recall stalls at 0.70 @.95 with wider codebooks "no better",
    VERDICT r10 #3 -- consistent with codebooks spending their codes
    on cell-mean variance the coarse quantizer already captured).

    Returns the cell column alongside the reconstruction because in
    IVF-ADC the coarse assignment IS part of the code (the index
    stores cell + m subspace codes); knn_ivf probes those cells
    directly, and its per-cell centroid aggregation over the
    reconstructions is derivable from the index alone (no raw floats
    at query time).

    Scale shape: one coarse lloyd_cells fit (bounded aggregations +
    broadcast assignments -- the corpus never shuffles), one
    broadcast centroid join for the residuals, then m subspace fits
    on the (vec_id, sub_dim-slice) projections and m vec_id-
    co-partitioned narrow joins for the reconstruction, exactly the
    raw form's cost plus the one residual join. Train on a sample at
    100 TB -- only the assignment passes must see every row, like
    retrain_ivf."""
    sub_dim = dim // m
    if sub_dim * m != dim:
        raise ValueError(f"dim {dim} must split evenly into {m} subspaces")
    # the coarse assignment feeds the centroid agg, the residual join,
    # and (through them) every subspace fit -- checkpoint once or each
    # consumer re-derives the full 4-pass Lloyd DAG
    assigned = lloyd_cells(emb_df, dim=dim).localCheckpoint(eager=False)
    coarse = ivf_centroids(assigned, dim=dim, cell_col="cell")
    res = assigned.join(F.broadcast(coarse), "cell").select(
        "vec_id",
        "cell",
        F.col("centroid").alias("_c"),
        F.zip_with(
            _dvec(F.col("embedding")), _dvec(F.col("centroid")), lambda x, c: x - c
        ).alias("_r"),
    ).localCheckpoint(eager=False)
    parts: DataFrame = res.select("vec_id", "cell", "_c")
    for j in range(m):
        sub = res.select(
            "vec_id", F.slice(F.col("_r"), j * sub_dim + 1, sub_dim).alias("embedding")
        )
        sub_assigned = lloyd_cells(sub, n_iters=n_iters, n_planes=PQ_SUB_PLANES, dim=sub_dim, table=j)
        cents = ivf_centroids(sub_assigned, dim=sub_dim, cell_col="cell")
        part = sub_assigned.join(F.broadcast(cents), "cell").select(
            "vec_id", F.col("centroid").alias(f"_p{j}")
        )
        parts = parts.join(part, "vec_id")
    code = F.concat(*[F.col(f"_p{j}") for j in range(m)])
    return parts.select(
        "vec_id",
        F.zip_with(F.col("_c"), code, lambda c, r: c + r).alias("embedding"),
        "cell",
    )


def kmeans_cells(
    emb_df: DataFrame,
    n_cells: int = 16,
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to a k-means cell
    (geometric cells, unlike the label-column stand-in that models an
    ingest-time assignment). Returns (vec_id, embedding, cell).

    Uses the ml-native KMeans (distributed Lloyd iterations; each pass
    is one broadcast of k centroids + one map-side assignment + one
    per-cell mean aggregation -- no pairwise shuffles). Deterministic
    given the seed. In a production pipeline this runs ONCE at ingest
    (or on a sample), the assignment is materialized as a partition
    column, and knn_ivf probes nprobe cells -- pruning the scan to
    nprobe/n_cells of the corpus, which is the entire point of IVF.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb_df.select("vec_id", "embedding", array_to_vector(_dvec(F.col("embedding"))).alias("_f"))
    model = KMeans(k=n_cells, maxIter=max_iter, seed=seed, featuresCol="_f", predictionCol="cell").fit(feats)
    return model.transform(feats).select("vec_id", "embedding", "cell")


LLOYD_ITERS = 4
LLOYD_INIT_PLANES = 4


def lloyd_cells(
    emb_df: DataFrame,
    n_iters: int = LLOYD_ITERS,
    n_planes: int = LLOYD_INIT_PLANES,
    dim: int = EMB_DIM,
    table: int = 0,
) -> DataFrame:
    """Deterministic Lloyd's k-means coarse quantizer -- the
    ENGINE-PORTABLE sibling of kmeans_cells (ml KMeans is seeded but
    its k-means|| init is not reproducible outside Spark, so a plan
    built on it cannot be oracle-checked). Init: the 2^n_planes
    sign-LSH buckets of the fixed hyperplane matrix (plane table
    `table`, default 0; per-subspace quantizers pass their subspace
    index for independent seedings) -- a geometric, data-independent
    seeding. Each Lloyd pass: per-cell
    mean (rounded 6 dp) then reassign every vector to its
    nearest-by-cosine centroid (cosine rounded 4 dp, ties to the
    lowest cell) -- every rounding is part of the contract so DuckDB
    replays the iteration bit-for-bit. Cells that lose all members
    drop out (standard Lloyd cell-death; the oracle mirrors it for
    free by aggregating only populated cells). Returns
    (vec_id, embedding, cell).

    Scale shape: per pass, ONE bounded centroid aggregation
    (<= 2^n_planes x dim cells, map-side combined) + ONE broadcast
    cross join of |corpus| x n_cells NARROW rows folded by max_by --
    the corpus never shuffles; total cost is n_iters scans. At 100 TB
    run the fit on a sample (the assignment pass is the only one that
    must see every row), exactly like retrain_ivf. The per-row
    assignment arithmetic (dim x n_cells dots x n_iters) is heavy
    enough that the input routes through ensure_parallelism -- a
    no-op on real multi-split tables, and the difference between 1
    and 32 cores on single-row-group test fixtures (the 10x-replica-
    runs-faster symptom, measured on this operator)."""
    from solana_data_etl_pipeline_spark.operators.util import ensure_parallelism

    assigned = ensure_parallelism(emb_df).select(
        "vec_id",
        "embedding",
        bucket_expr("embedding", lsh_planes(n_planes, dim, table=table)).alias("cell"),
    )
    for _ in range(n_iters):
        cents = ivf_centroids(assigned, dim=dim, cell_col="cell")
        assigned = assign_cells(assigned.select("vec_id", "embedding"), cents)
    return assigned


def assign_cells(emb_df: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell): nearest persisted centroid by cosine
    -- the ingest-time assignment for vectors arriving AFTER the
    quantizer was trained, consistent with knn_ivf's probe metric (so
    a vector is stored exactly where its own queries will look first).

    Scale shape: centroids broadcast (nlist rows); the cross join
    emits |batch| x nlist NARROW rows whose max_by partial aggregation
    combines map-side down to ~|batch| shuffled rows; ties break to
    the lowest cell deterministically."""
    cents = centroids.select(
        F.col("cell").alias("_cell"),
        _dvec(F.col("centroid")).alias("c_vec"),
        norm_expr(F.col("centroid")).alias("c_n"),
    )
    v = emb_df.select(
        "vec_id",
        "embedding",
        _dvec(F.col("embedding")).alias("_e"),
        norm_expr(F.col("embedding")).alias("_n"),
    )
    cos = F.round(dot_raw(F.col("_e"), F.col("c_vec")) / (F.col("_n") * F.col("c_n")), 4)
    return (
        v.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", F.col("_cell"), cos.alias("_cos"))
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.max_by("_cell", F.struct(F.col("_cos"), -F.col("_cell"))).alias("cell"),
        )
    )


def materialize_ivf(
    emb_df: DataFrame,
    path: str,
    n_cells: int = 16,
    max_iter: int = 10,
    seed: int = 42,
    cell_col: str | None = None,
) -> str:
    """Build the production IVF layout once at ingest: the k-means cell
    assignment written as a CELL-PARTITIONED parquet table plus the
    per-cell centroids beside it. knn_ivf_materialized then probes
    nprobe cells and Spark's dynamic partition pruning drops the other
    nlist-nprobe partitions AT THE SCAN -- the IVF read amplification
    (nprobe/nlist of the corpus) becomes an I/O property of the
    layout, not just a join-selectivity property.

    Scale notes: the quantizer trains once (ml KMeans, broadcast
    centroids per Lloyd pass); the partitioned write is one shuffle on
    cell; centroid storage is nlist rows. Rebuild cadence follows
    corpus drift, exactly like any IVF index.

    `cell_col` names an EXISTING assignment column to lay out instead
    of training the quantizer -- the ingest-time-assignment shape
    (e.g. the testdata's label column), where only the partitioned
    write and centroid scan remain."""
    if cell_col is not None:
        assigned = emb_df.select("vec_id", "embedding", F.col(cell_col).alias("cell"))
    else:
        assigned = kmeans_cells(emb_df, n_cells=n_cells, max_iter=max_iter, seed=seed)
    # repartition on the partition column before the partitioned write:
    # without it every input partition writes a file into every cell
    # directory (input_partitions x nlist tiny files); with it each
    # cell's data arrives at one task and writes one right-sized file
    assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/corpus"
    )
    spark = emb_df.sparkSession
    corpus = spark.read.parquet(f"{path}/corpus")
    # centroids from the materialized assignment: one scan at build
    # time so query time never pays the quantizer-training pass
    ivf_centroids(corpus, cell_col="cell").write.mode("overwrite").parquet(f"{path}/centroids")
    return path


def retrain_ivf(
    spark,
    path: str,
    n_cells: int = 16,
    max_iter: int = 10,
    seed: int = 42,
) -> dict:
    """IVF drift repair, run at compaction cadence: retrain the coarse
    quantizer on the CURRENT corpus and rewrite the whole layout
    (cell-partitioned corpus + centroid side table TOGETHER, so a
    prober never observes centroids from one quantizer generation
    against a corpus partitioned by another) via the compaction swap
    protocol (sinks/compaction.py swap_dir; recover_swap on entry
    repairs any previously crashed swap).

    Why it exists: the streaming ingest (streaming/embeddings.py)
    deliberately keeps the ingest-time quantizer and only ASSIGNS new
    vectors to the nearest stale centroid. Under drift -- new content
    clusters the training corpus never had -- those clusters straddle
    stale cell boundaries and split across cells, so fixed-nprobe
    probes lose their neighbors (the measured 0.98-vs-0.44 planted
    recall gap between a fitted and an arbitrary quantizer, SCALE.md).
    Retraining restores the quantizer-fits-corpus invariant that IVF
    recall rests on.

    Scale shape: one KMeans fit over the corpus (per Lloyd pass: one
    nlist-row centroid broadcast + map-side assignment + per-cell mean
    agg -- at 100 TB, fit on a sample and keep the full-corpus pass
    for the final assignment), one cell shuffle for the partitioned
    rewrite -- the same cost as the initial materialize_ivf, paid at
    compaction cadence, never per batch. Returns a summary dict."""
    import uuid

    from solana_data_etl_pipeline_spark.sinks.compaction import recover_swap, swap_dir

    recover_swap(path)
    current = spark.read.parquet(f"{path}/corpus").select("vec_id", "embedding")
    tmp = f"{path.rstrip('/')}._retrain_{uuid.uuid4().hex[:8]}"
    materialize_ivf(current, tmp, n_cells=n_cells, max_iter=max_iter, seed=seed)
    n = spark.read.parquet(f"{tmp}/corpus").count()
    swap_dir(path, tmp)
    return {"vectors": n, "n_cells": n_cells, "path": path}


def knn_ivf_materialized(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k ANN over a materialize_ivf layout: centroids load from
    their tiny side table, and the corpus scan carries a dynamic
    partition-pruning filter from the broadcast probe side (pinned in
    tests/test_plans.py) -- only the probed cells' files are read."""
    corpus = spark.read.parquet(f"{path}/corpus")
    centroids = spark.read.parquet(f"{path}/centroids")
    return knn_ivf(corpus, queries, k=k, nprobe=nprobe, cell_col="cell", centroids=centroids)
