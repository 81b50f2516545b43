"""Deduplication operators (exact + near-dup) for training-data pipelines.

Scale design (100 TB):

- Exact dedup is a hash group-by on a 128-bit content fingerprint --
  one shuffle on uniformly distributed keys, no skew by construction.
- MinHash-LSH near-dup: shingle -> H minhashes -> B bands; candidate
  generation is an equi-join on (band, signature) buckets, so the
  shuffle carries only (bucket, doc_id) pairs, never the documents.
  Verification joins the (small) candidate pair list back to the
  shingle sets -- the classic two-stage candidate/verify plan from the
  distributed similarity-join literature (see PAPERS.md).
- All hash functions are md5-derived and therefore deterministic and
  engine-portable: the DuckDB oracle reproduces the exact same
  signatures, making even the LSH path exactly checkable.
- No Python UDFs anywhere: shingling, hashing, min-reduction and
  banding are nested built-in higher-order functions (codegen'd).

Hash: h(s) = first 60 bits of md5(s), as a signed long (always >= 0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators.util import (
    read_index_meta,
    read_or_none,
    require_index_meta,
    unindexed,
    write_index_meta,
)

MINHASH_HASHES = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_HASHES // MINHASH_BANDS  # 4 -> s-curve threshold ~0.71
SHINGLE_N = 3
SIMHASH_BITS = 32

# Affine minhash family h_s(x) = (A[s]*x + B[s]) mod MINHASH_MOD over a
# 31-bit base hash: one expensive md5 per shingle, then pure integer
# arithmetic per seed (classic universal-hash minhash; products stay
# within signed-64 range). Constants from a fixed LCG so the oracle SQL
# can embed the identical literals.
MINHASH_MOD = 2147483647
_BASE_MOD = 2**31


def minhash_coeffs(num_hashes: int = MINHASH_HASHES) -> tuple[list[int], list[int]]:
    a, b = [], []
    for s in range(num_hashes):
        x = (1103515245 * (2 * s + 1) + 12345) % _BASE_MOD
        y = (1103515245 * (2 * s + 2) + 54321) % _BASE_MOD
        a.append(x | 1)
        b.append(y)
    return a, b


def _hash64(c: Column) -> Column:
    """Portable 60-bit hash: decimal value of md5's first 15 hex chars."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def normalized_text(text_col: str = "text") -> Column:
    return F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalized_text(text_col), " ")


def shingles_from_tokens(tk: Column | str, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles over an ALREADY-PROJECTED token
    array column.

    The token expression is referenced n times per gram inside the
    `transform` lambda; higher-order functions evaluate interpreted
    (no common-subexpression elimination), so callers MUST pass a bound
    attribute -- never the raw split/regexp expression -- or the
    tokenizer re-runs O(n * grams) times per row.

    Pass the bound column's NAME (str) on performance paths: the whole
    expression then builds as ONE parsed SQL string instead of dozens
    of py4j round-trips per call (the r13 plan-construction lesson,
    guide §7.3); the parsed tree is semantically identical to the DSL
    form (same functions, same coercions -- selfcheck hash-verified)."""
    if isinstance(tk, str):
        terms = ", ".join(f"try_element_at({tk}, i + {j + 1})" for j in range(n))
        return F.expr(
            f"array_distinct(transform(sequence(0, greatest(size({tk}) - {n}, 0)), "
            f"i -> concat_ws(' ', {terms})))"
        )
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
    # try_element_at: a doc shorter than n tokens yields one partial
    # gram (out-of-bounds -> NULL, skipped by concat_ws) -- same as the
    # oracle's out-of-range list indexing semantics
    grams = F.transform(idx, lambda i: F.concat_ws(" ", *[F.try_element_at(tk, i + j + 1) for j in range(n)]))
    return F.array_distinct(grams)


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct text
    with the kept (min) doc_id and the duplicate count.

    Parity note: this is the engine-side generalization of the
    reference's deterministic-key dedup (event_id sha256,
    reference src/events.rs:76-86 + ON CONFLICT upsert
    src/warehouse.rs:227-229) applied to document content.
    """
    return (
        df.groupBy(F.md5(normalized_text(text_col)).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min doc_id) per distinct normalized text."""
    w = Window.partitionBy(F.md5(normalized_text(text_col))).orderBy("doc_id")
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _base_hashes(sh: Column | str) -> Column:
    """Array of 31-bit base hashes, one per shingle of a bound array.
    A str argument names the bound column and builds the expression
    as one parsed SQL string (see shingles_from_tokens)."""
    if isinstance(sh, str):
        return F.expr(
            f"transform({sh}, g -> cast(conv(substring(md5(g), 1, 15), 16, 10) "
            f"as bigint) % {_BASE_MOD}L)"
        )

    def _base(g: Column) -> Column:
        return _hash64(g) % F.lit(_BASE_MOD)

    return F.transform(sh, _base)


def _shingle_sets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh): distinct shingle arrays, tokenized via a bound
    intermediate projection (see shingles_from_tokens)."""
    from solana_data_etl_pipeline_spark.operators.util import ensure_parallelism

    return (
        ensure_parallelism(df.select("doc_id", F.col(text_col)))
        .select("doc_id", tokens_col(text_col).alias("_tk"))
        .select("doc_id", shingles_from_tokens("_tk").alias("sh"))
    )


def minhash_sig_col(hashes_col: Column | str, num_hashes: int = MINHASH_HASHES) -> Column:
    """MinHash signature as a pure per-row expression over the base-hash
    array: sig[s] = min over shingles of (A[s]*h + B[s]) mod M.

    Single `aggregate` pass with an array-of-mins accumulator (rather
    than num_hashes unrolled array_min/transform pairs) so the
    expression tree -- and the generated code Janino has to compile --
    stays O(1) in num_hashes. A str argument names the bound column
    and builds the whole expression as one parsed SQL string (the r13
    plan-construction lesson, guide §7.3)."""
    a, b = minhash_coeffs(num_hashes)
    a_sql = "array(" + ",".join(f"{v}L" for v in a) + ")"
    b_sql = "array(" + ",".join(f"{v}L" for v in b) + ")"
    if isinstance(hashes_col, str):
        return F.expr(
            f"aggregate({hashes_col}, array_repeat({MINHASH_MOD}L, {num_hashes}), "
            f"(acc, x) -> zip_with(acc, zip_with({a_sql}, {b_sql}, "
            f"(ca, cb) -> (ca * x + cb) % {MINHASH_MOD}), "
            f"(m, s) -> least(m, s)))"
        )
    a_lit = F.expr(a_sql)
    b_lit = F.expr(b_sql)
    init = F.array_repeat(F.lit(MINHASH_MOD).cast("long"), num_hashes)

    def _step(acc: Column, x: Column) -> Column:
        seeds = F.zip_with(a_lit, b_lit, lambda ca, cb: (ca * x + cb) % F.lit(MINHASH_MOD))
        return F.zip_with(acc, seeds, lambda m, s: F.least(m, s))

    return F.aggregate(hashes_col, init, _step)


def minhash_signatures(df: DataFrame, text_col: str = "text", num_hashes: int = MINHASH_HASHES) -> DataFrame:
    """Per-doc MinHash signature, computed entirely per-row with
    higher-order functions: shingle -> md5 base hash (once per shingle)
    -> per-seed affine rehash -> array_min.

    Scale shape: ZERO shuffles -- the signature is a projection, so it
    pipelines with the parquet scan and never materializes the shingle
    inverted index. (An earlier version exploded shingles and ran a
    groupBy-min; the per-row form is strictly narrower and keeps the
    map side of any downstream LSH join shuffle-free.)
    """
    base = _shingle_sets(df, text_col).select("doc_id", _base_hashes("sh").alias("_hs"))
    return base.select("doc_id", minhash_sig_col("_hs", num_hashes).alias("minhash"))


def _band_rows(sig_df: DataFrame, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS) -> DataFrame:
    """(doc_id, band, band_sig) rows: md5 over each band's slice.
    Built as one parsed SQL expression (guide §7.3)."""
    band_sigs = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> md5(concat_ws(',', slice(minhash, b * {rows} + 1, {rows}))))"
    )
    return sig_df.select("doc_id", F.posexplode(band_sigs).alias("band", "band_sig"))


def _minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """(doc_id, band, band_sig): the band buckets of df's MinHash
    signatures -- what every minhash candidate join, index and cap
    report keys on."""
    sigs = minhash_signatures(df, text_col, num_hashes)
    return _band_rows(sigs, bands, num_hashes // bands)


def _simhash_segments(fp: DataFrame, max_hamming: int, bits: int) -> DataFrame:
    """(doc_id, simhash, seg, seg_val): the max_hamming+1 pigeonhole
    segment buckets of a (doc_id, simhash) frame."""
    n_seg = max_hamming + 1
    seg_bits = bits // n_seg
    segs = F.array(
        *[
            F.shiftright(F.col("simhash"), i * seg_bits)
            .bitwiseAND(F.lit((1 << seg_bits) - 1))
            .cast("long")
            for i in range(n_seg)
        ]
    )
    return fp.select("doc_id", "simhash", F.posexplode(segs).alias("seg", "seg_val"))


def _embedding_buckets(emb_df: DataFrame, n_tables: int) -> DataFrame:
    """(vec_id, table, bucket) hyperplane buckets without the vector
    payload: the bucket-only kernel pass (include_vec=False), so a cap
    report or guard ships nothing but ids and keys through Arrow.
    Bit-identical to the buckets of the full pass."""
    from solana_data_etl_pipeline_spark.operators.similarity import (
        LSH_PLANES,
        lsh_bucket_rows,
    )

    return lsh_bucket_rows(
        emb_df, LSH_PLANES, n_tables=n_tables, include_vec=False
    ).select("vec_id", "table", "bucket")


# -- the bucket cap: one policy for every capped LSH family ----------

#: the coverage floor every capped pair operator's guard defaults to
#: and cap_guard_report renders as its verdict threshold
CAP_COVERAGE_FLOOR = 0.5


def cap_buckets(
    rows: DataFrame,
    keys: list[str] | tuple[str, ...],
    max_bucket: int | None,
    existing: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(kept, overflow) split of LSH bucket rows under the degenerate-
    bucket cap: a bucket (the `keys` group) wider than `max_bucket`
    is refused WHOLE, so one degenerate bucket (e.g. the empty-document
    signature) cannot make a candidate self-join quadratic. Width
    counts the rows of `existing` too when given -- an index grown by
    appends caps against TOTAL width, so a batch that would push a
    bucket past the cap contributes nothing to it. `overflow` is
    exactly what the cap refused (kept and overflow partition `rows`);
    `max_bucket=None` returns `rows` itself and an empty overflow with
    its schema.

    The width is a count window over the bucket keys, not a groupBy +
    anti-join, which recomputes the whole bucket pipeline once more
    per join side (measured 2x the scan work). The window is not
    free: at sf0.01 the final AQE plans of the capped pair operators
    hold more exchanges than their uncapped forms (Shuffle + Broadcast
    exchange nodes: minhash 8 vs 6, simhash and winnow 4 vs 3,
    embedding 3 vs 2), because under a broadcast join each side pays
    its own window exchange. The existing-side width is a partial-agg
    groupBy over the index's bucket keys."""
    cols = rows.columns  # the existing-width join reorders; callers append
    if max_bucket is None:
        return rows, rows.filter(F.lit(False)).select(cols)
    rows = rows.withColumn("_new", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    if existing is not None:
        have = existing.groupBy(*keys).agg(F.count(F.lit(1)).alias("_have"))
        rows = rows.join(have, list(keys), "left").fillna(0, subset=["_have"])
    else:
        rows = rows.withColumn("_have", F.lit(0))
    fits = F.col("_new") + F.col("_have") <= max_bucket
    return rows.filter(fits).select(cols), rows.filter(~fits).select(cols)


def _write_index(
    df: DataFrame,
    path: str,
    geometry: dict[str, tuple],
    tables: dict,
    keys: list[str],
    max_bucket: int | None,
    id_col: str = "doc_id",
    excluded: bool = True,
) -> DataFrame:
    """The one rule by which every materialized LSH index is written,
    whether it is built or caught up; returns the bucket rows the cap
    refused in this call.

    `geometry` maps each geometry name to (requested value or None,
    module default); `tables` maps each sub-table to its row function
    `(docs, geometry) -> rows`, the FIRST being the bucket table that
    is capped on `keys` at `max_bucket` (cap_buckets).

    - No `{path}/_meta` (a build): `_meta` is written first -- None
      values take the module default -- then every sub-table is
      overwritten from all of `df`.
    - `_meta` present (a catch-up): geometry comes from `_meta`, and an
      explicit value that disagrees with it raises ValueError. Each
      sub-table appends the rows of the `df` ids it does not hold yet
      (its OWN ids: one shared anti-join would let the first append
      change what the second reads), and the cap counts the bucket
      table's existing rows too. The kept/refused split is checkpointed
      before the first append, because it depends on the rows being
      appended to.

    With `excluded`, `{path}/excluded` records each refused bucket
    once as (keys..., bucket_width): it is written even when empty if
    it does not exist yet (probes read it unconditionally), and a
    catch-up appends only buckets it does not hold. A build's
    bucket_width is the bucket's total width; a catch-up's is the mass
    refused by the call that first refused the bucket."""
    spark = df.sparkSession
    meta = read_index_meta(spark, path)
    build = meta is None
    if build:
        meta = {g: default if v is None else v for g, (v, default) in geometry.items()}
        write_index_meta(spark, path, meta)
    else:
        clash = {g: v for g, (v, _) in geometry.items() if v is not None and v != meta[g]}
        if clash:
            raise ValueError(f"{path}: {clash} disagrees with the index's `_meta` {meta}")
    mode = "overwrite" if build else "append"
    overflow = None
    for sub, rows_of in tables.items():
        have = None if build else read_or_none(spark, f"{path}/{sub}")
        rows = rows_of(unindexed(df, have, id_col), meta)
        if overflow is None:  # the first table: the capped bucket rows
            rows, overflow = cap_buckets(rows, keys, max_bucket, have)
            if have is not None:
                # one job materializes both halves: the union's branches
                # share (reuse) the cap plan's exchanges
                split = rows.withColumn("_kept", F.lit(True)).unionByName(
                    overflow.withColumn("_kept", F.lit(False))
                ).localCheckpoint(eager=True)
                rows, overflow = (
                    split.filter(kept).drop("_kept") for kept in (F.col("_kept"), ~F.col("_kept"))
                )
            if excluded:
                held = None if build else read_or_none(spark, f"{path}/excluded")
                if held is None or overflow.limit(1).count():
                    widths = overflow.groupBy(*keys).agg(F.count(F.lit(1)).alias("bucket_width"))
                    unindexed(widths, held, keys).write.mode(mode).parquet(f"{path}/excluded")
        rows.write.mode(mode).parquet(f"{path}/{sub}")
    return overflow


def lsh_cap_stats(
    bucket_rows: DataFrame, key_cols: list[str], max_bucket: int
) -> DataFrame:
    """Coverage diagnostic for a bucket-capped LSH candidate join --
    the observability counterpart of cap_buckets, over the same bucket
    rows every capped pair operator here (minhash / simhash /
    embedding / winnowing) caps. The cap bounds the worst case by
    REFUSING quadratic pair emission from degenerate buckets; on
    density-degenerate corpora (measured: simhash at 32 bits on the
    synthetic tables, where ~17% of ALL pairs sit within hamming 3)
    that refusal can silently drop >99% of true pairs. This frame
    makes the truncation observable so callers detect the regime and
    route dense families to the cluster/keeper path instead (SCALE.md
    routing rule).

    Returns ONE row:
      n_buckets / dropped_buckets  -- buckets total vs over-cap
      dropped_rows                 -- bucket rows the cap removed
      candidate_pairs_uncapped     -- sum over buckets of C(w, 2)
      candidate_pairs_kept         -- same sum over surviving buckets
      est_pair_coverage            -- kept / uncapped (1.0 = no loss)

    `est_pair_coverage` is CANDIDATE-space coverage (bucket-local
    pair counts, summed across bands/tables, so multi-band collisions
    count once per band) -- a cheap, deterministic proxy that tracks
    true-pair recall tightly in the degenerate regime it exists to
    flag (sf0.1 simhash: est coverage 0.003 vs measured capped recall
    0.002, BENCH recall table). Cost: ONE narrow groupBy over the
    same (key, doc) projection the candidate join shuffles -- no
    corpus rescans, no joins.
    """
    sizes = bucket_rows.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_w"))
    pairs = (F.col("_w") * (F.col("_w") - 1) / 2).cast("long")
    over = F.col("_w") > max_bucket

    def _zsum(col: Column, name: str) -> Column:
        # Zero-row bucket frames (empty / degenerate corpus) must
        # yield an all-zero diagnostic row, not NULL sums that break
        # int() in bench.py's cap_coverage recorder.
        return F.coalesce(F.sum(col).cast("long"), F.lit(0).cast("long")).alias(name)

    agg = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        _zsum(over.cast("long"), "dropped_buckets"),
        _zsum(F.when(over, F.col("_w")).otherwise(0), "dropped_rows"),
        _zsum(pairs, "candidate_pairs_uncapped"),
        _zsum(F.when(over, F.lit(0)).otherwise(pairs), "candidate_pairs_kept"),
    )
    return agg.withColumn(
        "est_pair_coverage",
        F.round(
            F.col("candidate_pairs_kept")
            / F.greatest(F.col("candidate_pairs_uncapped"), F.lit(1)),
            4,
        ),
    )


class CapCoverageError(RuntimeError):
    """Raised when a capped pair-emitting plan is in the
    density-degenerate regime (estimated pair coverage below the
    caller's floor): the cap would silently refuse nearly all true
    pairs, so pair emission is the wrong operator for this corpus --
    route dense families to the cluster/keeper path or (for families
    with a width dial) widen the key. Applies uniformly to every
    capped LSH family here (minhash bands, simhash segments, winnow
    fingerprints, embedding hyperplane buckets) -- the VERDICT r12
    generalization of the r12 simhash-only guard. See the SCALE.md
    routing rule."""


class SimhashCoverageError(CapCoverageError):
    """Simhash-family CapCoverageError (the original r12 guard --
    kept as a subclass so existing handlers keep catching it): route
    dense families to simhash_dedup_keepers or widen the key
    (bits=60)."""


#: (semantic hash of the bucket rows' analyzed plan, keys, max_bucket)
#: -> (est_pair_coverage, dropped_buckets, n_buckets): exactly the
#: inputs of the lsh_cap_stats job, so every bucket parameter (bands,
#: bits, k, n_tables, text column ...) is in the key through the plan.
#: The job is corpus-scale work; computing it on EVERY plan
#: construction made each timed bench sample of a capped entry pay
#: roughly double (ADVICE r12). The semantic hash is stable across
#: re-built identical FILE reads (bench re-invokes a registered query
#: callable per sample, producing a fresh DataFrame over the same
#: scan), so each unique (corpus, buckets, cap) pays the job once per
#: process. Rebuilt createDataFrame LocalRelations hash fresh each
#: time (new attribute ids) and simply re-pay the job. NOT
#: content-keyed: overwriting the files under the same path serves
#: the stale estimate (ROADMAP direction D).
_CAP_GUARD_CACHE: dict[tuple, tuple[float, int, int]] = {}


def _guard_plan_key(df: DataFrame):
    """The semantic hash of the frame's analyzed logical plan; falls
    back to id(df) for frames that cannot be analyzed (never expected
    in practice)."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return id(df)


def check_cap_coverage(
    rows: DataFrame,
    keys: list[str],
    max_bucket: int,
    *,
    family: str,
    coverage_floor: float,
    on_low_coverage: str,
    route_hint: str,
    error_cls: type = CapCoverageError,
) -> None:
    """COVERAGE-FLOOR GUARD shared by every capped pair-emitting
    family (VERDICT r12 #3 -- a registry caller must not be able to
    silently run a near-blind capped plan): compare lsh_cap_stats'
    candidate-pair coverage over the bucket `rows` the caller is about
    to cap against `coverage_floor`, raising `error_cls` by default
    and downgrading to a loud RuntimeWarning for callers that register
    the capped form deliberately as a priced demonstration
    (`on_low_coverage="warn"`).

    The estimate is cached per (rows plan, keys, max_bucket) for the
    life of the process (see _CAP_GUARD_CACHE). First construction per
    unique corpus+buckets+cap still pays the job eagerly at plan-build
    time; that is the contract -- the guard must fire before a caller
    can act on a blind plan."""
    key = (_guard_plan_key(rows), tuple(keys), max_bucket)
    cached = _CAP_GUARD_CACHE.get(key)
    if cached is None:
        row = lsh_cap_stats(rows, keys, max_bucket).collect()[0]
        cached = (
            float(row["est_pair_coverage"]),
            int(row["dropped_buckets"]),
            int(row["n_buckets"]),
        )
        _CAP_GUARD_CACHE[key] = cached
    cov, dropped, n_buckets = cached
    if cov >= coverage_floor:
        return
    msg = (
        f"{family} capped pair plan is nearly blind on this corpus "
        f"(est_pair_coverage={cov:.4f} < floor {coverage_floor}, "
        f"{dropped}/{n_buckets} buckets over max_bucket={max_bucket}). "
        f"Pair emission is the wrong operator for a density-degenerate "
        f"family: {route_hint}; see the SCALE.md routing rule."
    )
    if on_low_coverage == "warn":
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=3)
    else:
        raise error_cls(msg)


def minhash_cap_stats(
    df: DataFrame,
    max_bucket: int,
    text_col: str = "text",
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """lsh_cap_stats over the exact band buckets minhash_lsh_pairs
    joins on: what the cap would drop at this `max_bucket`."""
    b = _minhash_bands(df, text_col, num_hashes, bands)
    return lsh_cap_stats(b, ["band", "band_sig"], max_bucket)


def simhash_cap_stats(
    df: DataFrame,
    max_bucket: int,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """lsh_cap_stats over the pigeonhole segment buckets
    simhash_near_dup_pairs joins on."""
    b = _simhash_segments(simhash(df, text_col, bits), max_hamming, bits)
    return lsh_cap_stats(b, ["seg", "seg_val"], max_bucket)


def embedding_cap_stats(
    emb_df: DataFrame, max_bucket: int, n_tables: int = 2
) -> DataFrame:
    """lsh_cap_stats over the (table, bucket) hyperplane buckets
    embedding_near_dup_lsh joins on."""
    b = _embedding_buckets(emb_df, n_tables)
    return lsh_cap_stats(b, ["table", "bucket"], max_bucket)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
    max_bucket: int | None = None,
    coverage_floor: float | None = CAP_COVERAGE_FLOOR,
    on_low_coverage: str = "raise",
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding + exact verify.

    Stage 1 (candidates): docs sharing any (band, band_sig) bucket --
    equi-join shuffling only bucket keys. Stage 2 (verify): exact
    Jaccard over distinct shingle sets for the candidate pairs only.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >=
    threshold, rounded to 4 decimals.

    `max_bucket` caps band-bucket width: a bucket with more than
    max_bucket docs is dropped before the self-join (its pair count is
    quadratic -- one degenerate bucket, e.g. an empty-document
    signature, can dominate the whole job at corpus scale). Capped
    buckets trade recall for a bounded worst case; exact duplicates
    lost this way are caught by the cheap exact_duplicates pass.
    The truncation is OBSERVABLE two ways: minhash_cap_stats reports
    dropped buckets + estimated pair coverage over the identical band
    buckets, and a capped call is GUARDED by the shared
    coverage-floor check (check_cap_coverage, VERDICT r12 #3) --
    below `coverage_floor` it raises CapCoverageError by default
    (`on_low_coverage="warn"` for registered demos;
    `coverage_floor=None` opts out where measuring refusal is the
    point, e.g. deliberately tiny caps in cap-behavior tests).
    Doc-global content keys hold coverage ~1.0 at every measured
    scale (SCALE.md), so this family's guard is expected to stay
    silent -- it exists so a corpus where that stops being true
    cannot be processed blind.
    """
    keys = ["band", "band_sig"]
    b = _minhash_bands(df, text_col, num_hashes, bands)
    if max_bucket is not None and coverage_floor is not None:
        check_cap_coverage(
            b,
            keys,
            max_bucket,
            family="minhash_lsh_pairs",
            coverage_floor=coverage_floor,
            on_low_coverage=on_low_coverage,
            route_hint="route to the cluster/keeper path (dedup_keepers)",
        )
    b = cap_buckets(b, keys, max_bucket)[0]
    left = b.alias("l")
    right = b.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify joins pinned to sort-merge, same rationale as
    # containment_pairs: the shingle side is corpus-sized with array
    # payloads (~10x in-memory vs shuffle-compressed, the broadcast
    # size estimate's blind spot), and on dense corpora the candidate
    # side is large too -- and the pin is FASTER even at bench scale
    # (sf0.1 1.15->1.06 s, 10x 1.97->1.67 s: both sides arrive
    # hash-partitioned, so SMJ beats building a broadcast relation)
    sh = _shingle_sets(df, text_col).hint("merge")
    a = sh.alias("sa")
    bb = sh.alias("sb")
    verified = (
        cand.join(a, cand.doc_a == F.col("sa.doc_id"))
        .join(bb, cand.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
                / (
                    F.size(F.col("sa.sh"))
                    + F.size(F.col("sb.sh"))
                    - F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
                )
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", F.round("jac", 4).alias("jaccard"))
    )
    return verified


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Estimator-calibration diagnostic for the MinHash signature:
    over the SAME candidate pairs the registered LSH plan emits, how
    far is the signature's Jaccard estimate (matching components /
    num_hashes) from the exact shingle-set Jaccard? Completes the
    observability family: `minhash_cap_stats` measures what the cap
    DROPS, the recall twins measure what banding MISSES -- this
    measures how well the sketch itself resolves similarity, i.e.
    whether `num_hashes` is sized right for the thresholds in play
    (expected |err| ~ sqrt(J(1-J)/num_hashes): ~125k ppm at J=0.5
    with 16 hashes; quadrupling hashes halves it).

    Per pair both values quantize to INTEGER parts-per-million
    (est_ppm is exact -- k/num_hashes scaled; exact_ppm floors the
    identical IEEE division both engines compute), so the per-decile
    means are integer sums + one division -- the engine-portable
    aggregation rule. Returns one row per exact-Jaccard decile:
    (decile, n_pairs, mean_est_ppm, mean_exact_ppm, mean_abs_err_ppm).

    Scale shape: identical to minhash_lsh_pairs (band-bucket
    candidate join + sort-merge-pinned verify; the shingle/signature
    frame is computed ONCE and serves both pair sides), with the
    output collapsing to <= 10 rows in one bounded final agg."""
    rows = num_hashes // bands
    sets = _shingle_sets(df, text_col)
    feat = sets.select("doc_id", "sh", _base_hashes("sh").alias("_hs")).select(
        "doc_id",
        "sh",
        minhash_sig_col("_hs", num_hashes).alias("mh"),
    )
    b = _band_rows(feat.select("doc_id", F.col("mh").alias("minhash")), bands, rows)
    b = cap_buckets(b, ["band", "band_sig"], max_bucket)[0]
    left = b.alias("l")
    right = b.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    fa = feat.hint("merge").alias("fa")
    fb = feat.hint("merge").alias("fb")
    inter = F.size(F.array_intersect(F.col("fa.sh"), F.col("fb.sh")))
    union = F.size(F.col("fa.sh")) + F.size(F.col("fb.sh")) - inter
    matches = F.size(
        F.filter(
            F.zip_with(F.col("fa.mh"), F.col("fb.mh"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    pairs = (
        cand.join(fa, cand.doc_a == F.col("fa.doc_id"))
        .join(fb, cand.doc_b == F.col("fb.doc_id"))
        .select(
            matches.alias("_k"),
            (inter.cast("double") / union.cast("double")).alias("_jac"),
        )
        .select(
            F.expr(f"(_k * 1000000) div {num_hashes}").alias("est_ppm"),
            F.floor(F.col("_jac") * 1000000).cast("long").alias("exact_ppm"),
        )
        .select(
            "est_ppm",
            "exact_ppm",
            F.abs(F.col("est_ppm") - F.col("exact_ppm")).alias("err_ppm"),
            F.least(F.lit(9), F.expr("exact_ppm div 100000")).alias("decile"),
        )
    )
    n = F.count(F.lit(1))
    return pairs.groupBy("decile").agg(
        n.alias("n_pairs"),
        F.round(F.sum("est_ppm") / n, 1).alias("mean_est_ppm"),
        F.round(F.sum("exact_ppm") / n, 1).alias("mean_exact_ppm"),
        F.round(F.sum("err_ppm") / n, 1).alias("mean_abs_err_ppm"),
    )


def materialize_minhash(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    num_hashes: int | None = None,
    bands: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Write the corpus near-dup index: `{path}/bands` = (doc_id, band,
    band_sig) LSH band rows, `{path}/shingles` = (doc_id, sh) shingle
    sets for exact verification. Both are pure projections of the
    corpus (zero shuffles when uncapped); delta batches then dedup
    against the INDEX without ever rescanning corpus text. The dedup
    twin of the materialized IVF layout (similarity.py materialize_ivf).

    Build or catch-up is _write_index's rule: on a path that already
    holds an index, the call appends the docs it lacks at the index's
    banding scheme (`num_hashes`/`bands` None = the index's, else
    MINHASH_HASHES/MINHASH_BANDS) -- the streaming corpus pipeline
    grows its index this way. Returns the band rows the cap refused.

    `max_bucket` caps degenerate band buckets (one count window,
    amortized over every future probe; in a catch-up against the
    bucket's accumulated width): without it, a single pathological
    bucket -- e.g. the empty-document signature -- joins against every
    matching delta doc on every batch, forever. Same recall trade as
    minhash_lsh_pairs' cap: exact duplicates lost to a capped bucket
    are caught by the exact-fingerprint dedup stage that runs before
    near-dup in every pipeline here."""
    return _write_index(
        df,
        path,
        {"num_hashes": (num_hashes, MINHASH_HASHES), "bands": (bands, MINHASH_BANDS)},
        {
            "bands": lambda d, g: _minhash_bands(d, text_col, g["num_hashes"], g["bands"]),
            "shingles": lambda d, g: _shingle_sets(d, text_col),
        },
        ["band", "band_sig"],
        max_bucket,
        excluded=False,
    )


def delta_match_pairs(
    spark,
    index_path: str,
    delta: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Verified near-dup MATCH PAIRS of a delta batch against an
    already-materialized corpus index (materialize_minhash): returns
    `(corpus_hits, delta_pairs)` where corpus_hits = (delta_id,
    corpus_id) exact-Jaccard-verified collisions against the index and
    delta_pairs = (doc_a, doc_b), doc_a < doc_b, verified pairs WITHIN
    the batch. Both frames are unique per pair (candidates are
    distinct before the verify filter, and the shingle-set joins are
    one-row-per-key). delta_dedup_materialized derives its drop set
    from these; streaming/clusters.py records them so dropped docs
    keep cluster attribution.

    Scale shape: delta band rows and shingles are zero-shuffle
    projections; both candidate joins BROADCAST the delta side, so the
    corpus index is scanned once and never shuffled; exact verify
    touches only candidate pairs. The index verify join reads
    `{path}/shingles` instead of corpus text -- the index is
    self-contained, banding scheme included (its `_meta`)."""
    meta = require_index_meta(spark, index_path)
    idx_bands = spark.read.parquet(f"{index_path}/bands")
    idx_sh = spark.read.parquet(f"{index_path}/shingles")
    d_bands = _minhash_bands(delta, text_col, meta["num_hashes"], meta["bands"])
    d_sh = _shingle_sets(delta, text_col)

    jac = lambda a, b: (  # noqa: E731 - bound twice below
        F.size(F.array_intersect(a, b))
        / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b)))
    )

    # corpus hits: delta doc collides with an index doc and verifies
    cand_c = (
        idx_bands.alias("c")
        .join(
            F.broadcast(d_bands.alias("d")),
            (F.col("c.band") == F.col("d.band")) & (F.col("c.band_sig") == F.col("d.band_sig")),
        )
        .select(F.col("d.doc_id").alias("delta_id"), F.col("c.doc_id").alias("corpus_id"))
        .distinct()
    )
    corpus_hits = (
        cand_c.join(idx_sh.alias("cs"), cand_c.corpus_id == F.col("cs.doc_id"))
        .join(F.broadcast(d_sh.alias("ds")), cand_c.delta_id == F.col("ds.doc_id"))
        .filter(jac(F.col("ds.sh"), F.col("cs.sh")) >= threshold)
        .select("delta_id", "corpus_id")
    )
    # batch-internal hits (every frame here derives from the SMALL
    # delta batch -- broadcast hints keep all of them off the shuffle
    # path)
    l, r = d_bands.alias("l"), d_bands.alias("r")
    cand_d = (
        l.join(
            F.broadcast(r),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = d_sh.alias("sa"), d_sh.alias("sb")
    delta_pairs = (
        cand_d.join(F.broadcast(sa), cand_d.doc_a == F.col("sa.doc_id"))
        .join(F.broadcast(sb), cand_d.doc_b == F.col("sb.doc_id"))
        .filter(jac(F.col("sa.sh"), F.col("sb.sh")) >= threshold)
        .select("doc_a", "doc_b")
    )
    return corpus_hits, delta_pairs


def delta_dedup_materialized(
    spark,
    index_path: str,
    delta: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup dedup: the doc_ids of `delta` that survive
    against an already-materialized corpus index -- the continuous-
    ingest path, where re-pairing the whole corpus per batch
    (O(corpus) per batch, O(corpus^2) cumulative) is replaced by
    probing the index (O(delta) band rows joined against it).

    Drop rule, deterministic and set-based: a delta doc is dropped iff
    it verifies (exact Jaccard >= threshold) against ANY corpus doc it
    shares an LSH band bucket with (a corpus hit), or against a
    SMALLER-ID delta doc (min-id-wins within the batch -- the batch
    twin of keep_representatives' min-label rule, without the
    iterative closure a single batch doesn't need). Pair discovery and
    plan shape live in delta_match_pairs."""
    corpus_hits, delta_pairs = delta_match_pairs(spark, index_path, delta, text_col, threshold)
    dropped_c = corpus_hits.select(F.col("delta_id").alias("doc_id")).distinct()
    dropped_d = delta_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # the dropped set is bounded by the delta batch -- broadcasting it
    # leaves the delta scan entirely shuffle-free end to end
    return delta.select("doc_id").join(
        F.broadcast(dropped_c.unionByName(dropped_d)), "doc_id", "left_anti"
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity self-join (non-probabilistic
    baseline for minhash_lsh_pairs): candidates = pairs sharing at
    least one shingle (inverted-index join), then exact Jaccard.

    At scale the shingle join is the standard PPJoin-family prefix
    filter degenerate (full inverted index); use minhash_lsh_pairs when
    the corpus is large -- this operator is the exact oracle twin.
    """
    sh = _shingle_sets(df, text_col)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    l, r = inv.alias("l"), inv.alias("r")
    cand = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    a, b = sh.alias("sa"), sh.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    return (
        cand.join(a, cand.doc_a == F.col("sa.doc_id"))
        .join(b, cand.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter)).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", F.round("jac", 4).alias("jaccard"))
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash fingerprint over token hashes.

    bit j of the fingerprint = 1 iff sum over distinct tokens of
    (+1 if bit j of h64(token) set else -1) > 0. 32 bits keeps every
    intermediate in signed-long range and the oracle SQL portable.

    Scale shape: ZERO shuffles -- votes are per-row `aggregate` passes
    over the token-hash array, so the fingerprint is a projection that
    pipelines with the scan (previously an explode + 32-way groupBy
    sum, which shuffled one row per token).
    """
    from solana_data_etl_pipeline_spark.operators.util import ensure_parallelism

    th = F.transform(F.array_distinct(F.split(normalized_text(text_col), " ")), _hash64)
    hashed = ensure_parallelism(df.select("doc_id", F.col(text_col))).select("doc_id", th.alias("_th"))

    # one parsed literal, not `bits` F.lit round-trips (guide §7.3)
    masks = F.expr("array(" + ",".join(f"{1 << j}L" for j in range(bits)) + ")")
    zero = F.lit(0).cast("long")
    votes = F.aggregate(
        F.col("_th"),
        F.array_repeat(zero, bits),
        lambda acc, h: F.zip_with(
            acc, masks, lambda v, mask: v + F.when(h.bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1))
        ),
    )
    fp = F.aggregate(
        F.zip_with(votes, masks, lambda v, mask: F.when(v > 0, mask).otherwise(F.lit(0).cast("long"))),
        zero,
        lambda acc, x: acc + x,
    )
    return hashed.select("doc_id", fp.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_bucket: int | None = None,
    coverage_floor: float | None = CAP_COVERAGE_FLOOR,
    on_low_coverage: str = "raise",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, found with the
    classic PIGEONHOLE LSH: split the fingerprint into max_hamming+1
    equal segments -- two fingerprints within hamming distance
    max_hamming MUST agree on at least one whole segment, so docs
    sharing any (segment_index, segment_value) bucket are the complete
    candidate set (recall 1 w.r.t. the fingerprint; SimHash itself is
    the approximation). Exact bit_count verify on the candidates.
    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.

    Scale shape: fingerprints and segments are zero-shuffle
    projections; the candidate equi-join shuffles only (segment,
    value, id, fp) rows; `max_bucket` caps degenerate segment buckets
    through cap_buckets, the same cap as the minhash plans. At 32 bits a homogeneous corpus
    can be density-DEGENERATE (sf0.1 synthetic: ~17% of ALL pairs
    within hamming 3), where the cap silently refuses ~99.8% of true
    pairs -- simhash_cap_stats surfaces exactly that (est coverage
    ~0.003 there); use the cluster/keeper operators for dense
    families.

    COVERAGE-FLOOR GUARD (VERDICT r11 #5 -- the blind regime must not
    be silent; generalized to every capped family via
    check_cap_coverage in r13, with the estimate cached per
    plan+params per ADVICE r12): when a cap is set, the cap-stats
    estimate is compared to `coverage_floor`. Below the floor the
    call RAISES SimhashCoverageError by default, pointing at the
    routing rule; `on_low_coverage="warn"` downgrades to a loud
    RuntimeWarning for callers that register the capped form
    deliberately as a priced demonstration next to its
    uncapped/wide/routed twins (the suite does). Pass
    `coverage_floor=None` only where measuring the cap's refusal IS
    the point (the cross-family calibration report).
    """
    keys = ["seg", "seg_val"]
    b = _simhash_segments(simhash(df, text_col, bits), max_hamming, bits)
    if max_bucket is not None and coverage_floor is not None:
        check_cap_coverage(
            b,
            keys,
            max_bucket,
            family="simhash_near_dup_pairs",
            coverage_floor=coverage_floor,
            on_low_coverage=on_low_coverage,
            route_hint=(
                "route to the cluster/keeper path (simhash_dedup_keepers) "
                f"or widen the key (bits=60, got bits={bits})"
            ),
            error_cls=SimhashCoverageError,
        )
    b = cap_buckets(b, keys, max_bucket)[0]
    l, r = b.alias("l"), b.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        l.join(
            r,
            (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.seg_val") == F.col("r.seg_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )


def simhash_dedup_keepers(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    text_col: str = "text",
) -> DataFrame:
    """Dense-family dedup via the cluster/keeper route (the SCALE.md
    routing rule): keep one representative per hamming<=max_hamming
    simhash family, computed WITHOUT ever emitting the dense family's
    quadratic doc-pair list. Stage 1 collapses exact-fingerprint
    duplicates with one LINEAR groupBy (hamming-0 twins -- on a
    degenerate corpus this alone removes most rows: sf0.1, 5,000 docs
    -> 2,783 distinct fingerprints); stage 2 runs the uncapped
    pigeonhole candidate join among the DISTINCT fingerprints'
    representatives only (complete w.r.t. the fingerprint, recall 1);
    stage 3 is connected components + min-id keepers over the
    rep graph. Result-identical to keep_representatives over the
    full uncapped pair list (pinned by test): identical-fingerprint
    docs always share a component with their min-id rep (hamming 0
    collides in every segment), so collapsing them first changes
    which pairs exist but not which doc_ids survive.

    WIDTH DIAL (measured, SCALE.md round-8 sweep): the pigeonhole
    bucket domain is fixed at 2^(bits/(max_hamming+1)) values per
    segment, so once DISTINCT fingerprints outgrow it the rep join
    turns quadratic -- at 100x (280k reps) the 32-bit default bends
    to 19.6x/decade while bits=60 (32k-value segments) stays at
    5.0x for 100x data. Keep 2^(bits/(h+1)) comfortably above
    distinct-fingerprint count / target bucket width: 32-bit
    saturates near 1e5 reps; use bits=60 beyond that (64 is
    unavailable -- the 1<<63 bit-weight literal overflows a signed
    long).

    Returns the kept doc_ids (one column, `doc_id`)."""
    fp = simhash(df, text_col, bits)
    reps = fp.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    b = _simhash_segments(reps, max_hamming, bits)
    l, r = b.alias("l"), b.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    rep_pairs = (
        l.join(
            r,
            (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.seg_val") == F.col("r.seg_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .filter(ham <= max_hamming)
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    return keep_representatives(reps.select("doc_id"), rep_pairs)


def recommended_simhash_bits(
    n_distinct: int, max_hamming: int = 3, target_bucket: int = 64
) -> int:
    """The SCALE.md width rule as code: smallest supported fingerprint
    width whose pigeonhole segment domain 2^(bits/(h+1)) keeps the
    EXPECTED bucket width (distinct fingerprints / domain) at or
    under `target_bucket` -- the knob that kept simhash_dedup_keepers
    sublinear at 100x (32-bit bent to 19.6x/decade at 280k reps;
    60-bit measured 5.0x for 100x data). Supported widths are
    multiples of (max_hamming+1) from the 32-bit floor (narrower
    fingerprints weaken the hamming SIGNAL itself, not just the
    buckets) up to 60; 64 is unavailable (the 1<<63 bit-weight
    literal overflows a signed long)."""
    n_seg = max_hamming + 1
    floor_seg = max(4, -(-32 // n_seg))  # ceil(32/n_seg)
    best = None
    for seg_bits in range(floor_seg, 61 // n_seg + 1):
        bits = seg_bits * n_seg
        if bits > 60:
            break
        best = bits
        if n_distinct / (1 << seg_bits) <= target_bucket:
            return bits
    return best if best is not None else 60


def simhash_bruteforce_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Exact all-pairs hamming twin of simhash_near_dup_pairs
    (deliberately quadratic, UNREGISTERED -- exists only so bench.py
    can measure the pigeonhole plan's pair recall against ground
    truth, the same evidence standard as ngram_jaccard_pairs for the
    minhash plan). Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    fp = simhash(df, text_col, bits)
    l, r = fp.alias("l"), fp.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        l.join(r, F.col("l.doc_id") < F.col("r.doc_id"))
        .filter(ham <= max_hamming)
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
    )


def _union_find_labels(edge_pairs) -> list[tuple]:
    """Path-compressed union-find over an iterable of (a, b) edges,
    union by MIN id so every root is its component's minimum member --
    the same label contract as connected_components' distributed
    rounds. Pure python; shared by the driver-collect tier and the
    lazy in-task kernel so the two can never diverge. Order- and
    duplicate-insensitive: the min-id root wins every union, so any
    edge order (and either direction) yields identical labels."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return [(v, find(v)) for v in parent]


def _cc_label_schema(dt):
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField("id", dt, False), StructField("cluster_id", dt, False)]
    )


def _cc_driver_union_find(edges: DataFrame) -> DataFrame:
    """Driver-collected union-find (see _union_find_labels). Used only
    under the 100k-edge tier of connected_components, where one
    collect moves strictly less data than one broadcast round would."""
    spark = edges.sparkSession
    out = _union_find_labels((r["src"], r["dst"]) for r in edges.collect())
    return spark.createDataFrame(out, _cc_label_schema(edges.schema["src"].dataType))


def _cc_lazy_driver_labels(
    pairs: DataFrame, src_col: str, dst_col: str, checkpoint: bool = True
) -> DataFrame:
    """The driver tier's union-find as a LAZY single-task kernel: the
    pair list repartitions to one task (one exchange of <=100k narrow
    rows) and the same _union_find_labels runs inside it, so the
    whole pairs pipeline executes inside the CALLER'S action instead
    of eagerly at plan-construction time (r14, VERDICT r13 #1/#5: the
    eager checkpoint+count+collect ran the corpus-scale pair pipeline
    once per constructed plan and left checkpoint blocks behind).
    Only taken when a prior construction of the SAME pair plan
    measured the edge list under the driver threshold (_CC_TIER_CACHE)
    -- the first construction per (plan, params) still decides the
    tier eagerly, which is the contract. Labels are identical to the
    collect form: same union-find, order/duplicate-insensitive, and
    symmetrization/dedup of the edge list is unnecessary for a
    union-find. With `checkpoint` (the default) the result is lazily
    localCheckpoint'd: downstream consumers (keepers' rep filter +
    anti-join; curation's split machinery) read the one-task result
    instead of re-running the pair pipeline per consumer, and the
    checkpoint truncates the caller's OWN plan so enclosing
    checkpoints (curation `train`) do not re-plan the pair subtree.
    A SINGLE-consumer caller passes labels_checkpoint=False through
    connected_components: planning the checkpoint's physical plan at
    construction costs ~0.8 s of driver time for the minhash tree
    (measured r14: dedup_clusters 2.68 -> 1.85 s), bought for nothing
    when the labels feed exactly one downstream operator."""
    import pandas as pd

    dt = pairs.schema[src_col].dataType

    def run(batches):
        edges = []
        dtype = None
        for pdf in batches:
            if dtype is None and pdf.shape[1]:
                dtype = pdf.dtypes.iloc[0]
            edges.extend(zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()))
        out = _union_find_labels(edges)
        if out:
            import numpy as np

            dtype = dtype if dtype is not None else np.dtype("int64")
            yield pd.DataFrame(
                {
                    "id": np.asarray([a for a, _ in out], dtype=dtype),
                    "cluster_id": np.asarray([b for _, b in out], dtype=dtype),
                }
            )

    labels = (
        pairs.select(F.col(src_col), F.col(dst_col))
        .repartition(1)
        .mapInPandas(run, _cc_label_schema(dt))
    )
    return labels.localCheckpoint(eager=False) if checkpoint else labels


#: edge-count per (pair-plan semantic hash, cols, thresholds) -- the
#: CC execution-tier decision, cached like _CAP_GUARD_CACHE (r13's
#: sanctioned idiom): the first construction per unique pair plan
#: pays the eager count (that is the contract -- the tier must be
#: decided before the shape is chosen), repeat constructions of the
#: SAME plan skip the eager job and, under the driver threshold, take
#: the lazy in-task kernel. Holds one integer per plan -- a sizing
#: diagnostic, never rows or results.
_CC_TIER_CACHE: dict[tuple, int] = {}


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 20,
    *,
    labels_checkpoint: bool = True,
    _driver_threshold: int = 100_000,
    _broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected pair list -> (id,
    cluster_id) where cluster_id is the component's minimum id. This
    turns near-dup PAIRS into dedup CLUSTERS (keep cluster_id, drop the
    rest) -- the step that actually deduplicates.

    Iterative min-label propagation plus pointer jumping: each round
    every node adopts the minimum label among itself and its
    neighbors, then labels are re-resolved through their own targets
    (label[i] <- label[label[i]]), which squares the propagation reach
    -- O(log diameter) rounds instead of O(diameter). Driver-checked
    fixpoint (iterative graph algorithms are legitimately
    driver-looped); each round is two key-shuffles and lineage is
    truncated per round. The alternative contraction with the same
    bound is large-star/small-star (Kiveris et al.).

    Graph-size-adaptive execution, three tiers decided by one count of
    the deduplicated edge list:

    - <= 100k edges (the NORMAL case: the pair graph of a deduplicated
      corpus is docs-in-pairs sized, orders of magnitude smaller than
      the corpus -- sf0.1: 510 edge rows from 500k docs): collect and
      union-find on the driver. This is strictly LESS data movement
      than one distributed round -- a broadcast ships the same edge
      list to every executor, per round; the collect ships it once to
      one place -- and replaces O(log d) scheduled jobs with
      microseconds of path-compressed union-find. The same small-graph
      escape every production graph engine takes; the result returns
      as a DataFrame and downstream joins see an identical frame.
    - <= 2M edges: distributed rounds with broadcast hints, edge list
      collapsed to one partition (iterating a sub-broadcast-threshold
      graph through shuffle-partition-count exchanges measured 2x the
      whole CC wall time at sf0.1).
    - above: everything stays shuffle-based for arbitrarily large
      pair graphs.

    Label semantics are identical on all three paths (component =
    minimum member id) -- pinned by a three-way equivalence test.

    The tier decision (one count of the deduplicated edge list) is
    corpus-scale work, so it is cached per (pair-plan semantic hash,
    cols, thresholds) like the cap guard's estimate: the FIRST
    construction per unique plan pays it eagerly (the tier must be
    known before the shape is chosen); repeat constructions of the
    same plan skip the eager job, and under the driver threshold the
    union-find runs LAZILY inside the caller's action
    (_cc_lazy_driver_labels) -- identical labels, no plan-construction
    jobs, no checkpoint blocks left behind per construction.
    `labels_checkpoint=False` is the single-consumer opt-out of the
    lazy path's multi-consumer checkpoint (see _cc_lazy_driver_labels;
    results are identical either way)."""
    tier_key = (
        _guard_plan_key(pairs),
        src_col,
        dst_col,
        _driver_threshold,
        _broadcast_threshold,
    )
    n_cached = _CC_TIER_CACHE.get(tier_key)
    if n_cached is not None and n_cached <= _driver_threshold:
        return _cc_lazy_driver_labels(
            pairs, src_col, dst_col, checkpoint=labels_checkpoint
        )
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # count is one cheap job over the checkpointed frame; it decides
    # the execution shape for every round that follows
    n_edges = edges.count()
    _CC_TIER_CACHE[tier_key] = n_edges
    if n_edges <= _driver_threshold:
        return _cc_driver_union_find(edges)
    small = n_edges <= _broadcast_threshold  # labels comfortably broadcastable
    if small:
        edges = edges.coalesce(1).localCheckpoint(eager=True)
    _bc = F.broadcast if small else (lambda frame: frame)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    # Convergence probe: labels are monotone non-increasing (label[i]
    # starts at i and only moves via min / resolve-through-smaller),
    # so the label SUM strictly decreases iff ANY label changed -- one
    # aggregate over the checkpointed frame instead of a new-vs-old
    # key join + filter + count per round (one fewer shuffle/action).
    # decimal(38,0) so the sum cannot overflow at any graph size.
    def _label_sum(frame: DataFrame) -> object:
        return frame.agg(F.sum(F.col("cluster_id").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(_bc(labels), edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        propagated = labels.join(_bc(neighbor_min), "id", "left").select(
            "id", F.least(F.col("cluster_id"), F.coalesce("nmin", F.col("cluster_id"))).alias("cluster_id")
        )
        # pointer jumping: resolve each label through its target's label
        target = propagated.select(F.col("id").alias("t_id"), F.col("cluster_id").alias("t_cluster"))
        new_labels = (
            propagated.join(_bc(target), propagated.cluster_id == target.t_id, "left")
            .select("id", F.coalesce("t_cluster", "cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """The materialization step between near-dup PAIRS and a clean
    corpus: the kept document ids -- every doc that appears in no pair,
    plus one representative (the minimum id) per connected component
    of the pair graph. `df.join(keep_representatives(...), id_col,
    "semi")` IS the deduplicated corpus.

    Scale shape: connected_components' iterative cost over the (small)
    pair graph, one anti-join of the corpus ids against the clustered
    ids -- the clustered side is bounded by docs-in-pairs, so AQE
    broadcasts it and the corpus never shuffles -- and the
    representative filter is a free predicate on the component labels
    (the min-label node is exactly the node whose label equals its
    id). Assumes `id_col` is unique in `df` (it is the corpus key);
    duplicate ids would pass through the anti-join duplicated."""
    labels = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    reps = labels.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    non_dup = df.select(id_col).join(
        labels.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    return non_dup.unionByName(reps)


def keep_representatives_by(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Quality-aware variant of keep_representatives: the retained
    member of each near-dup component is the one with the HIGHEST
    `score_col` (ties broken by smallest id), not the smallest id --
    the standard corpus practice of keeping the longest / cleanest /
    best-scored duplicate rather than an arbitrary one.

    Scale shape: identical to keep_representatives -- the component
    labels are docs-in-pairs sized, so the score join BROADCASTS the
    labels against the un-shuffled corpus, the representative rank
    window runs over the tiny clustered set only, and the final
    anti-join again broadcasts the labels. The corpus never
    shuffles."""
    labels = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    scored = df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_score")).join(
        F.broadcast(labels), "id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col("id").asc()
    )
    reps = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("id").alias(id_col))
    )
    non_dup = df.select(id_col).join(
        F.broadcast(labels.select(F.col("id").alias(id_col))), id_col, "left_anti"
    )
    return non_dup.unionByName(reps)


def decontaminate_split(
    labeled: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """CLUSTER-LEVEL cross-split decontamination: given (id, split)
    labels and near-dup pairs, drop every TRAIN doc whose connected
    component (under the pair graph) contains ANY val doc -- including
    train docs linked to val only TRANSITIVELY (a train-train-val
    chain inside one near-dup family), which a direct-pair-only rule
    would leave in training. Val docs always survive.

    Scale shape: connected_components runs over the pairs-sized graph;
    the component labels are docs-in-pairs sized, so they BROADCAST
    onto the un-shuffled corpus label projection; val-component
    discovery, the leak set, and the final anti-join all operate on
    those small frames."""
    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    member = labeled.join(
        F.broadcast(comp.withColumnRenamed("id", id_col)), id_col
    )
    val_comps = (
        member.filter(F.col("split") == "val").select("cluster_id").distinct()
    )
    leaking_train = (
        member.filter(F.col("split") == "train")
        .join(F.broadcast(val_comps), "cluster_id")
        .select(id_col)
    )
    return labeled.join(F.broadcast(leaking_train), id_col, "left_anti")


def leakage_free_split(
    df: DataFrame,
    val_pct: int = 20,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    coverage_floor: float | None = CAP_COVERAGE_FLOOR,
    on_low_coverage: str = "raise",
) -> DataFrame:
    """Deterministic train/val split WITH cross-split near-dup
    decontamination: docs are split by the consistent hash-mod rule
    (stable across engines/reruns), then any TRAIN doc whose near-dup
    CLUSTER (connected component of the verified pair graph) contains
    a VAL doc is dropped -- the standard guard against evaluation
    leakage (a held-out doc whose twin stayed in training measures
    memorization, not generalization). Cluster-level, not
    direct-pair-level: a train doc chained to val through other train
    docs is still a leakage vector, so the whole val-touching family
    leaves training. Val docs always survive. Returns (doc_id,
    split).

    Scale shape: the split column is a pure projection (same hash-mod
    as consistent_sample); near-dup pairs come from the standard
    capped MinHash-LSH plan; the component/leak machinery runs over
    pairs-sized frames broadcast against the un-shuffled corpus (see
    decontaminate_split)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % 100
    )
    labeled = df.select(
        id_col, F.when(bucket < val_pct, F.lit("val")).otherwise(F.lit("train")).alias("split")
    )
    pairs = minhash_lsh_pairs(
        df,
        text_col=text_col,
        threshold=threshold,
        max_bucket=max_bucket,
        coverage_floor=coverage_floor,
        on_low_coverage=on_low_coverage,
    )
    return decontaminate_split(labeled, pairs, id_col=id_col)


#: default hot-bucket cap for containment_pairs: winnowing fingerprints
#: of boilerplate substrings (license headers, templates) form wide
#: buckets whose candidate self-join is quadratic; an uncapped default
#: would make the naive call a scale-killer. Callers doing forensic
#: (recall-1) runs pass max_bucket=None explicitly.
CONTAINMENT_MAX_BUCKET = 64


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = CONTAINMENT_MAX_BUCKET,
    text_col: str = "text",
    coverage_floor: float | None = CAP_COVERAGE_FLOOR,
    on_low_coverage: str = "raise",
) -> DataFrame:
    """CAPPED BY DEFAULT since round 7: max_bucket defaults to
    CONTAINMENT_MAX_BUCKET (64), not None -- results are approximate
    (measured recall 0.926 at sf0.1; every miss root-caused to the
    cap, uncapped recall 1.000). Callers who relied on the former
    exact default must pass max_bucket=None; a capped run is guarded
    by the shared winnow coverage-floor check (see
    winnow_overlap_pairs -- raises CapCoverageError below
    `coverage_floor`, "warn" for registered demos), and
    winnow_cap_stats measures what the cap drops in detail.

    Near-SUBSET duplicate pairs by shingle CONTAINMENT
    (|A∩B| / min(|A|,|B|) >= threshold, Broder's containment): the
    duplication mode symmetric Jaccard under-scores -- a short doc
    quoted whole inside a long one has containment ~1 but Jaccard
    ~|A|/|B|, so MinHash-LSH (which estimates Jaccard) both misses
    the candidates and rejects the verify. Candidates here come from
    shared WINNOWING fingerprints instead: any shared run of
    k+window-1 characters surfaces the pair regardless of how
    different the document LENGTHS are, which is exactly the
    asymmetric case. Verify is exact word-shingle containment.
    Returns (doc_a, doc_b, containment), doc_a < doc_b.

    Scale shape: the winnowed candidate join runs over the
    ~2/(window+1) fingerprint sample with the standard bucket cap;
    the verify joins touch candidate pairs only, and they are PINNED
    to sort-merge: in this plan NEITHER verify side is broadcastable
    at scale -- the candidate list is the large side (substring-level
    evidence admits far more pairs than LSH), and the shingle-set
    side is corpus-sized with array payloads whose in-memory rows
    run ~10x their shuffle-compressed estimate, so the size-based
    broadcast policy can pick it while under the byte threshold and
    then fail the heap build (measured: at 100x sf0.1 the unpinned
    plan dies with notEnoughMemoryToBuildAndBroadcastTableError; the
    pinned plan completes). Docs too short to have shingles never
    divide by zero -- the null containment is filtered on both
    engines."""
    from solana_data_etl_pipeline_spark.operators.text import winnow_overlap_pairs

    cand = winnow_overlap_pairs(
        df,
        min_shared=1,
        max_bucket=max_bucket,
        text_col=text_col,
        coverage_floor=coverage_floor,
        on_low_coverage=on_low_coverage,
    ).select("doc_a", "doc_b")
    sh = _shingle_sets(df, text_col).hint("merge")
    a, b = sh.alias("sa"), sh.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    cont = F.round(
        inter / F.least(F.size(F.col("sa.sh")), F.size(F.col("sb.sh"))), 4
    )
    return (
        cand.join(a, cand.doc_a == F.col("sa.doc_id"))
        .join(b, cand.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def materialize_winnow(
    df: DataFrame,
    path: str,
    k: int | None = None,
    window: int | None = None,
    max_bucket: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Write the corpus DECONTAMINATION index for the containment /
    winnowing family -- the substring-evidence twin of
    materialize_minhash: `{path}/fingerprints` = (doc_id, fingerprint)
    winnowing rows, `{path}/shingles` = (doc_id, sh) word-shingle sets
    for exact containment verification. Every future ingest batch is
    then checked against the corpus at DELTA cost (delta_containment)
    instead of the batch operator's full-corpus rescan. Build or
    catch-up is _write_index's rule; `k`/`window` None = the index's,
    else 5/4. Returns the fingerprint rows the cap refused.

    `max_bucket` caps degenerate fingerprint buckets (boilerplate
    substrings) through cap_buckets, amortized over every probe --
    same trade and same observability (winnow_cap_stats) as the batch
    plan's cap. The over-cap fingerprints are NOT lost: they are
    written to `{path}/excluded` as (fingerprint, bucket_width) -- the
    IR stop-word move for substring evidence -- so probes can report
    per-batch-doc how much of their fingerprint mass the index is
    blind to (delta_containment_exposure), turning cap loss into
    per-document routing signal instead of a corpus-level aggregate.
    (A build evaluates the windowed count twice -- once per output --
    which is fine at index-build cadence; the alternative,
    checkpointing the corpus-fingerprint frame, costs more than it
    saves.)"""
    from solana_data_etl_pipeline_spark.operators.text import winnow_fingerprints

    return _write_index(
        df,
        path,
        {"k": (k, 5), "window": (window, 4)},
        {
            "fingerprints": lambda d, g: winnow_fingerprints(
                d, k=g["k"], window=g["window"], text_col=text_col
            ),
            "shingles": lambda d, g: _shingle_sets(d, text_col),
        },
        ["fingerprint"],
        max_bucket,
    )


def delta_containment(
    spark,
    index_path: str,
    delta: DataFrame,
    threshold: float = 0.5,
    min_shared: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Incremental DECONTAMINATION probe: verified containment hits
    (|A∩B| / min, Broder) of an ingest batch against an
    already-materialized winnowing index (materialize_winnow) --
    new data checked against the corpus at delta cost, the
    containment-family mirror of delta_match_pairs. Returns
    (delta_id, corpus_id, containment) for every batch doc that
    shares >= `min_shared` winnowing fingerprints with a corpus doc
    and verifies at `threshold`; callers anti-join the delta on
    delta_id to admit only clean docs.

    Scale shape: the delta's fingerprints and shingles are
    zero-shuffle projections of the BATCH and broadcast (bounded by
    the batch contract -- the frame class SCALE.md's policy admits);
    the candidate join therefore scans the index once without
    shuffling the corpus. The candidate LIST is deliberately NOT
    broadcast: its size is delta-width x bucket-width, which grows
    with the CORPUS against an uncapped index (measured: the 10x
    sweep's forced-broadcast form died on driver.maxResultSize), so
    the verify join against the index shingles is left to the
    planner (sort-merge at scale) with only the delta shingles
    broadcast -- the same shape as delta_match_pairs' corpus-hits
    verify. Production indexes should be built with
    materialize_winnow's max_bucket, which bounds candidates at
    delta_fp_rows x cap regardless of corpus size; the registered
    query does exactly that with the cap mirrored in its oracle."""
    from solana_data_etl_pipeline_spark.operators.text import winnow_fingerprints

    meta = require_index_meta(spark, index_path)
    idx_fp = spark.read.parquet(f"{index_path}/fingerprints")
    idx_sh = spark.read.parquet(f"{index_path}/shingles")
    d_fp = winnow_fingerprints(delta, k=meta["k"], window=meta["window"], text_col=text_col)
    d_sh = _shingle_sets(delta, text_col)
    cand = (
        idx_fp.alias("c")
        .join(
            F.broadcast(d_fp.alias("d")),
            F.col("c.fingerprint") == F.col("d.fingerprint"),
        )
        .groupBy(
            F.col("d.doc_id").alias("delta_id"), F.col("c.doc_id").alias("corpus_id")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("delta_id", "corpus_id")
    )
    inter = F.size(F.array_intersect(F.col("ds.sh"), F.col("cs.sh")))
    cont = F.round(
        inter / F.least(F.size(F.col("ds.sh")), F.size(F.col("cs.sh"))), 4
    )
    return (
        cand.join(idx_sh.alias("cs"), F.col("cs.doc_id") == cand.corpus_id)
        .join(F.broadcast(d_sh.alias("ds")), cand.delta_id == F.col("ds.doc_id"))
        .select("delta_id", "corpus_id", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def delta_containment_exposure(
    spark,
    index_path: str,
    delta: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-document observability of the winnow index's capped blind
    spot: for each ingest-batch doc, how many of its winnowing
    fingerprints fall on the index's EXCLUDED (over-cap, boilerplate)
    list -- `{index_path}/excluded`, written by materialize_winnow --
    and that count as a fraction of the doc's fingerprint mass.
    Returns (delta_id, n_fps, n_excluded, exposure_bp) with the
    fraction in integer BASIS POINTS (floor(10000*n_excluded/n_fps)):
    a quantized per-doc ratio lands on exact .xxxx5 doubles often
    enough that HALF_UP-vs-half-even rounding flips the last digit
    between engines (the corpus_card lesson). A doc with
    exposure near 10000 consists almost entirely of substrings the index
    refused to enumerate pairs for, so its delta_containment verdict
    is blind there: route such docs to the uncapped batch check (or
    admit them knowingly). This is the per-DOC form of
    winnow_cap_stats' corpus-level coverage estimate -- cap loss as a
    routing signal at ingest time, not just a diagnostic aggregate.

    Scale shape: both aggregations are batch-sized; the excluded list
    is scanned once with the BATCH side broadcast (the excluded
    list's cardinality grows with corpus boilerplate, so it is never
    the broadcast side). Zero corpus shuffles; sub-shingle docs
    report no rows (no fingerprints to be blind about)."""
    from solana_data_etl_pipeline_spark.operators.text import winnow_fingerprints

    meta = require_index_meta(spark, index_path)
    excluded = spark.read.parquet(f"{index_path}/excluded")
    d_fp = winnow_fingerprints(delta, k=meta["k"], window=meta["window"], text_col=text_col)
    totals = d_fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fps")
    )
    hits = (
        excluded.join(F.broadcast(d_fp), "fingerprint")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_excluded"))
    )
    n_exc = F.coalesce("n_excluded", F.lit(0).cast("long"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            F.col("doc_id").alias("delta_id"),
            "n_fps",
            n_exc.alias("n_excluded"),
            F.floor(n_exc * 10000 / F.col("n_fps")).cast("long").alias("exposure_bp"),
        )
    )


#: Decontamination-tuned LSH scheme for cross_corpus_near_dup: 16
#: bands x 2 rows puts the s-curve threshold at (1/16)^(1/2) = 0.25,
#: vs 0.71 for the dedup default (4x4). The difference is the point:
#: lightly-paraphrased contamination sits at Jaccard ~0.4-0.6, where
#: the dedup scheme's candidate probability collapses (measured:
#: planted every-10th-word-drop paraphrases, J~0.55 -> recall 0.32,
#: exactly the analytic 1-(1-J^4)^4; the 16x2 scheme's analytic
#: probability there is 0.997). Cost is 4x the band rows -- paid on
#: the BOUNDED bench side's broadcast and one wider corpus projection,
#: not on any shuffle.
DECON_HASHES = 32
DECON_BANDS = 16
DECON_ROWS = DECON_HASHES // DECON_BANDS  # 2


def cross_corpus_near_dup(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    num_hashes: int = DECON_HASHES,
    bands: int = DECON_BANDS,
) -> DataFrame:
    """Near-dup decontamination JOIN between two corpora: verified
    MinHash-LSH matches of corpus docs against a benchmark/eval set --
    the fuzzy-matching upgrade of benchmark_contamination (exact
    shared n-grams miss a contaminated doc that was lightly
    paraphrased or re-whitespaced; Jaccard-verified near-dup pairs
    catch it). Returns (doc_id, bench_id, jaccard) for every
    corpus-bench pair sharing an LSH band bucket that verifies at
    exact shingle Jaccard >= threshold.

    Scale shape: both signature pipelines are zero-shuffle
    projections; benchmark suites are bounded by construction, so the
    bench band rows and shingle sets BROADCAST -- the corpus is
    scanned once and never shuffled (the same asymmetric-join shape
    as delta_match_pairs, with the bench set playing the delta).
    Signatures depend only on the document text, so results equal
    computing signatures corpus-wide and filtering -- which is how
    the DuckDB oracle checks this exactly."""
    c_bands = _minhash_bands(corpus, text_col, num_hashes, bands)
    b_bands = _minhash_bands(bench, text_col, num_hashes, bands)
    cand = (
        c_bands.alias("c")
        .join(
            F.broadcast(b_bands.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.band_sig") == F.col("b.band_sig")),
        )
        .select(F.col("c.doc_id").alias("doc_id"), F.col("b.doc_id").alias("bench_id"))
        .distinct()
    )
    c_sh = _shingle_sets(corpus, text_col)
    b_sh = _shingle_sets(bench, text_col)
    jac = (
        F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
        / (
            F.size(F.col("sa.sh"))
            + F.size(F.col("sb.sh"))
            - F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
        )
    )
    return (
        cand.join(c_sh.alias("sa"), cand.doc_id == F.col("sa.doc_id"))
        .join(F.broadcast(b_sh.alias("sb")), cand.bench_id == F.col("sb.doc_id"))
        .select(
            F.col("sa.doc_id").alias("doc_id"),
            F.col("sb.doc_id").alias("bench_id"),
            jac.alias("_j"),
        )
        .filter(F.col("_j") >= threshold)
        .select("doc_id", "bench_id", F.round("_j", 4).alias("jaccard"))
    )


def cross_corpus_near_dup_bruteforce(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Exact all-pairs twin of cross_corpus_near_dup (UNREGISTERED --
    bench.py's recall ground truth, same evidence standard as every
    other approximate plan here): every (corpus, bench) pair scored
    at exact shingle Jaccard via a broadcast nested-loop product --
    quadratic in |corpus| x |bench|, tolerable only because benchmark
    sets are bounded; never the registered path."""
    c_sh = _shingle_sets(corpus, text_col)
    b_sh = _shingle_sets(bench, text_col).select(
        F.col("doc_id").alias("bench_id"), F.col("sh").alias("bsh")
    )
    inter = F.size(F.array_intersect(F.col("sh"), F.col("bsh")))
    jac = inter / (F.size("sh") + F.size("bsh") - inter)
    return (
        c_sh.crossJoin(F.broadcast(b_sh))
        .select("doc_id", "bench_id", jac.alias("_j"))
        .filter(F.col("_j") >= threshold)
        .select("doc_id", "bench_id", F.round("_j", 4).alias("jaccard"))
    )


def containment_bruteforce_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Exact containment twin of containment_pairs (UNREGISTERED --
    exists so bench.py can measure the winnowing-candidate plan's
    pair recall against ground truth, the same evidence standard as
    ngram_jaccard_pairs for minhash and simhash_bruteforce_pairs for
    the pigeonhole plan). Candidates are every pair sharing ANY word
    shingle -- an inverted-index join whose candidate set is COMPLETE
    for containment > 0 (a pair with |A∩B| >= 1 shares a shingle by
    definition), i.e. the PPJoin-degenerate full index that does not
    scale; verify is the identical exact word-shingle containment.
    Returns (doc_a, doc_b, containment), doc_a < doc_b."""
    sh = _shingle_sets(df, text_col)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    l, r = inv.alias("l"), inv.alias("r")
    cand = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    a, b = sh.alias("sa"), sh.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    cont = F.round(inter / F.least(F.size(F.col("sa.sh")), F.size(F.col("sb.sh"))), 4)
    return (
        cand.join(a, cand.doc_a == F.col("sa.doc_id"))
        .join(b, cand.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def embedding_near_dup_lsh(
    emb_df: DataFrame,
    threshold: float = 0.95,
    max_bucket: int | None = None,
    n_tables: int = 2,
    coverage_floor: float | None = CAP_COVERAGE_FLOOR,
    on_low_coverage: str = "raise",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via MULTI-TABLE random-
    hyperplane LSH bucketing + exact-cosine verify (vec_a < vec_b,
    cos >= threshold).

    This is the 100 TB registered plan: per-table bucket assignment is
    a pure projection (sign bits against fixed literal plane
    matrices), so candidate generation is ONE equi-self-join on
    (table, bucket) -- the corpus shuffles once instead of the
    brute-force cartesian product (kept in embedding_near_dup_pairs as
    the recall-1 test oracle twin). Multiple independent tables lift
    recall on true near-dups: one 8-bit table collides a cos>=0.95
    pair with prob ~(1-theta/pi)^8 ~ 56%; two tables ~81%, four ~96%
    (1-(1-p^b)^L), while candidates stay ~L*n/2^b. Deterministic given
    the plane matrices, so still exactly oracle-checkable.

    `max_bucket` drops (table, bucket) groups wider than the cap
    before the self-join (same quadratic-degenerate-bucket defense as
    minhash_lsh_pairs -- e.g. an all-zeros embedding cluster);
    embedding_cap_stats reports what the cap drops over the identical
    buckets, and a capped call is GUARDED by the shared
    coverage-floor check (check_cap_coverage, VERDICT r12 #3 -- the
    measured sf0.1 coverage sits at 0.52, just above the default 0.5
    floor, so this family is the one the guard watches most closely:
    8-plane bucket domains are FIXED, and coverage saturates toward
    zero as the corpus outgrows them; see SCALE.md "Cap coverage
    UNDER SCALE").
    """
    from solana_data_etl_pipeline_spark.operators.similarity import (
        LSH_PLANES,
        dot_raw,
        lsh_bucket_rows,
    )

    keys = ["table", "bucket"]
    if max_bucket is not None and coverage_floor is not None:
        # the guard counts the bucket-only rows: no guard job ships
        # vectors through Arrow
        check_cap_coverage(
            _embedding_buckets(emb_df, n_tables),
            keys,
            max_bucket,
            family="embedding_near_dup_lsh",
            coverage_floor=coverage_floor,
            on_low_coverage=on_low_coverage,
            route_hint=(
                "route to the cluster/keeper path (semdedup_keepers / "
                "embedding_dedup_keepers)"
            ),
        )

    # one Arrow/numpy bucket-kernel pass for the corpus side
    # (bit-identical to the former HOF projection -- see
    # similarity.lsh_bucket_rows: the per-vector hyperplane dots and
    # norms were this plan's dominant per-call cost, guide §4.2)
    v = lsh_bucket_rows(
        emb_df, LSH_PLANES, n_tables=n_tables, vec_out="v", norm_out="n"
    )
    v = cap_buckets(v, keys, max_bucket)[0]
    a, b = v.alias("a"), v.alias("b")
    cos = dot_raw(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"), cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cosine"))
        .distinct()
    )


#: Hash-table count for the embedding dedup-GATE family's index build
#: and the streaming-maintained index (probes read the count from the
#: index's `_meta`, so they always agree with it).
#: 6 is the measured shippable point: planted cos>=0.97 recall 0.98
#: (vs 0.88 at 4, 0.72 at 2; see delta_embedding_dedup). knn_lsh's
#: ANN default (LSH_TABLES=4) is a different operating point: search
#: recall@10, not a drop gate.
EMBED_INDEX_TABLES = 6


def materialize_embedding_lsh(
    emb_df: DataFrame,
    path: str,
    n_tables: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Write the corpus EMBEDDING near-dup index -- the vector twin of
    materialize_minhash/materialize_winnow, completing the
    materialized-index story across all three dedup families:
    `{path}/buckets` = (vec_id, v, n, table, bucket) hyperplane-LSH
    bucket rows carrying the normalized vector payload, so probes
    verify exact cosine FROM THE INDEX without rereading embeddings.
    Build or catch-up is _write_index's rule; `n_tables` None = the
    index's, else EMBED_INDEX_TABLES. Returns the bucket rows the cap
    refused (the streaming pipeline's overflow twin holds them).

    `max_bucket` caps degenerate (table, bucket) groups (cap_buckets,
    amortized over every probe) -- the production shape, since the
    bucket domain is constant (2^planes values) and widths grow with
    the corpus. Over-cap buckets are not silently lost: like
    materialize_winnow's, `{path}/excluded` lists them, and probes
    read it to report per-vector blindness (delta_embedding_exposure).

    Uncapped at knn_lsh's table count (LSH_TABLES) it is also the ANN
    index similarity.knn_lsh_indexed probes, row-identical to inline
    knn_lsh.

    A catch-up anti-joins on vec_id AFTER the vectors are bucketed, and
    Spark does not push that anti-join below an embedding projection
    such as hash_embed: pass vectors of the unindexed documents only
    (operators/util.py unindexed)."""
    from solana_data_etl_pipeline_spark.operators.similarity import (
        LSH_PLANES,
        lsh_bucket_rows,
    )

    # Arrow/numpy bucket-kernel pass (bit-identical rows; the former
    # HOF projection's dots/norms dominated the build cost)
    return _write_index(
        emb_df,
        path,
        {"n_tables": (n_tables, EMBED_INDEX_TABLES)},
        {
            "buckets": lambda d, g: lsh_bucket_rows(
                d, LSH_PLANES, n_tables=g["n_tables"], vec_out="v", norm_out="n"
            ).select("vec_id", "v", "n", "table", "bucket"),
        },
        ["table", "bucket"],
        max_bucket,
        id_col="vec_id",
    )


def embedding_index(spark, index_path: str) -> tuple[int, DataFrame]:
    """(n_tables, bucket rows) of a materialize_embedding_lsh index: the
    table count from its `_meta` (ValueError without one) and its
    (vec_id, v, n, table, bucket) sub-table, read at the writer's fixed
    layout -- no footer inference."""
    n_tables = require_index_meta(spark, index_path)["n_tables"]
    return n_tables, spark.read.schema(
        "vec_id long, v array<double>, n double, table int, bucket long"
    ).parquet(f"{index_path}/buckets")


def delta_embedding_exposure(
    spark,
    index_path: str,
    delta: DataFrame,
) -> DataFrame:
    """Per-vector observability of the embedding index's capped blind
    spot (the vector twin of delta_containment_exposure): for each
    batch vector, how many of its `n_tables` LSH buckets land on the
    index's EXCLUDED (over-cap) list -- `{index_path}/excluded`,
    written by materialize_embedding_lsh. Returns (delta_id,
    n_buckets, n_excluded, exposure_bp). With the bucket DOMAIN fixed
    (2^planes per table), saturation is the measured failure mode at
    scale (coverage 0.52 -> 0 by 100x, SCALE.md) -- a vector at
    exposure 10000 has every probe route capped, so its dedup/ANN
    verdict is blind and it should route to a wider-key or
    brute-force check.

    Scale shape: both aggregations are batch-sized; the excluded list
    is bounded by the bucket DOMAIN (n_tables x 2^planes rows, unlike
    winnow's content-grown list) so the join is trivially cheap; the
    batch side is broadcast for symmetry with the winnow probe. Zero
    corpus shuffles."""
    from solana_data_etl_pipeline_spark.operators.similarity import (
        LSH_PLANES,
        table_bucket_col,
    )

    n_tables = require_index_meta(spark, index_path)["n_tables"]
    excluded = spark.read.parquet(f"{index_path}/excluded")
    buckets = table_bucket_col("embedding", LSH_PLANES, n_tables)
    d = delta.select(
        F.col("vec_id").alias("delta_id"),
        F.posexplode(buckets).alias("table", "bucket"),
    )
    totals = d.groupBy("delta_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    hits = (
        excluded.join(F.broadcast(d), ["table", "bucket"])
        .groupBy("delta_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_excluded"))
    )
    n_exc = F.coalesce("n_excluded", F.lit(0).cast("long"))
    return (
        totals.join(hits, "delta_id", "left")
        .select(
            "delta_id",
            "n_buckets",
            n_exc.alias("n_excluded"),
            F.floor(n_exc * 10000 / F.col("n_buckets")).cast("long").alias("exposure_bp"),
        )
    )


def delta_embedding_dedup(
    spark,
    index_path: str,
    delta: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Incremental embedding dedup: the vec_ids of a delta batch that
    survive against an already-materialized hyperplane-LSH index
    (materialize_embedding_lsh) -- the embedding mirror of
    delta_dedup_materialized. Drop rule, deterministic and set-based:
    a delta vector is dropped iff it verifies (exact cosine >=
    threshold) against ANY index vector it shares a (table, bucket)
    with, or against a SMALLER-ID delta vector (min-id-wins within
    the batch).

    The table count is the index's (its `_meta`); the build default
    EMBED_INDEX_TABLES = 6 is the MEASURED dedup-gate
    configuration. Per-table sign-LSH collision for a cos>=0.97
    neighbor is p^8 with p = 1 - theta/pi ~ 0.922, so L tables catch
    1-(1-p^8)^L of true near-dups (the analytic knn_lsh validates):
    2 -> 0.77 (bench r8 measured planted recall 0.72), 4 -> 0.947
    (measured 0.88 -- two of six misses were cap-blind buckets),
    6 -> 0.988 (measured 0.98 on the same planted batch, sf0.1). A
    28% -- or even 12% -- miss rate is not a shippable dedup gate;
    6 tables costs 1.5x the 4-table index rows for a 6x lower miss
    rate.

    Scale shape: the delta's bucket rows (vector payload included)
    are bounded by the batch contract and BROADCAST against one scan
    of the index -- candidate generation AND the cosine verify happen
    in that single join (both sides carry vectors), so the corpus
    never shuffles and nothing unbounded is ever broadcast; the
    batch-internal join is delta x delta, broadcast likewise."""
    from solana_data_etl_pipeline_spark.operators.similarity import (
        LSH_PLANES,
        _dvec,
        dot_raw,
        norm_expr,
        table_bucket_col,
    )

    n_tables, idx = embedding_index(spark, index_path)
    buckets = table_bucket_col("embedding", LSH_PLANES, n_tables)
    d = delta.select(
        F.col("vec_id"),
        _dvec(F.col("embedding")).alias("v"),
        norm_expr(F.col("embedding")).alias("n"),
        F.posexplode(buckets).alias("table", "bucket"),
    )
    cos_ic = dot_raw(F.col("c.v"), F.col("d.v")) / (F.col("c.n") * F.col("d.n"))
    corpus_dropped = (
        idx.alias("c")
        .join(
            F.broadcast(d.alias("d")),
            (F.col("c.table") == F.col("d.table"))
            & (F.col("c.bucket") == F.col("d.bucket")),
        )
        .filter(cos_ic >= threshold)
        .select(F.col("d.vec_id").alias("vec_id"))
        .distinct()
    )
    l, r = d.alias("l"), d.alias("r")
    cos_dd = dot_raw(F.col("l.v"), F.col("r.v")) / (F.col("l.n") * F.col("r.n"))
    batch_dropped = (
        l.join(
            F.broadcast(r),
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .filter(cos_dd >= threshold)
        .select(F.col("r.vec_id").alias("vec_id"))
        .distinct()
    )
    return delta.select("vec_id").join(
        F.broadcast(corpus_dropped.unionByName(batch_dropped)), "vec_id", "left_anti"
    )


def semdedup_keepers(
    emb_df: DataFrame,
    threshold: float = 0.30,
    cluster_col: str = "label",
    refine_bits: int = 0,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedded corpus. Cluster the embedding space,
    call within-cluster pairs at cosine >= `threshold` semantic
    duplicates, and keep from each duplicate GROUP (the connected
    component -- near-duplication chains) the single member with the
    LOWEST cosine to its cluster centroid, the paper's keeper rule:
    the most peripheral member preserves the most diversity. Returns
    every surviving vector as (vec_id, cluster, group_size,
    centroid_cos), group_size 1 for vectors with no in-cluster
    duplicate.

    Cluster assignment is pluggable: `cluster_col` names an existing
    assignment (default the ingest-time `label`, the same stance as
    knn_ivf's cell; kmeans_cells supplies a geometric one).
    `refine_bits` splits every cluster by leading sign-LSH bits --
    the paper's "k scales with N" contract made a concrete dial:
    within-cluster pair cost is quadratic in cluster size, so ~3.3
    extra bits per data decade hold per-cluster mass (and the pair
    budget) constant. Cross-(sub)cluster duplicates go unseen BY
    DESIGN -- the paper's accepted loss, measured here against the
    unclustered brute-force twin in tests.

    Scale shape: centroids are one narrow map-side-combined
    (cluster, dim) cell aggregation, re-assembled and BROADCAST back
    (bounded by k by construction -- k is the dial above); vectors
    are double-cast and norm-projected ONCE before any join; the
    pair join is a cluster-keyed equi-join (never a cartesian);
    components run on the pairs-sized graph via the adaptive CC; the
    keeper choice is a components-sized aggregation. Cosines are
    rounded to 4dp BEFORE thresholding/argmin so the decision is
    engine-portable."""
    from solana_data_etl_pipeline_spark.operators.similarity import (
        _dvec,
        dot_raw,
        norm_expr,
    )

    base = emb_df.select(
        "vec_id",
        _dvec(F.col("embedding")).alias("_v"),
        norm_expr(F.col("embedding")).alias("_n"),
        F.col(cluster_col).cast("long").alias("_cl"),
    )
    if refine_bits:
        base = base.withColumn(
            "_cl",
            F.col("_cl") * (2**refine_bits)
            + sign_sub_bits(F.col("_v"), refine_bits),
        )
    cells = (
        base.select("_cl", F.posexplode("_v").alias("dim", "val"))
        .groupBy("_cl", "dim")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
    )
    cent = cells.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("_cvec")
    )
    cent = cent.select("_cl", "_cvec", norm_expr(F.col("_cvec")).alias("_cn"))
    scored = base.join(F.broadcast(cent), "_cl").select(
        "vec_id",
        "_cl",
        "_v",
        "_n",
        F.round(
            dot_raw(F.col("_v"), F.col("_cvec")) / (F.col("_n") * F.col("_cn")), 4
        ).alias("centroid_cos"),
    )
    a = scored.select(
        F.col("_cl"), F.col("vec_id").alias("vec_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = scored.select(
        F.col("_cl"), F.col("vec_id").alias("vec_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    pairs = (
        a.join(b, ["_cl"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            F.round(
                dot_raw(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4
            )
            >= threshold
        )
        .select("vec_a", "vec_b")
    )
    return _semdedup_select_keepers(scored, pairs)


def _semdedup_select_keepers(scored: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared SemDeDup keeper tail: duplicate pairs -> connected
    components -> lowest-centroid-cosine representative per group,
    singletons passed through at group_size 1. `scored` must carry
    (vec_id, _cl, centroid_cos)."""
    # labels feed exactly one join (members below, which has its own
    # checkpoint): skip the lazy path's multi-consumer checkpoint
    comp = connected_components(pairs, "vec_a", "vec_b", labels_checkpoint=False)
    # members feeds BOTH output branches (singletons + group reps);
    # lazily checkpointed so the scoring join computes once -- and it
    # is the narrow projection (no vectors), so the checkpoint is a
    # few dozen bytes per row
    members = (
        scored.join(comp, scored["vec_id"] == comp["id"], "left")
        .select(
            scored["vec_id"], "_cl", "centroid_cos", F.col("cluster_id").alias("_comp")
        )
        .localCheckpoint(eager=False)
    )
    singles = members.filter(F.col("_comp").isNull()).select(
        "vec_id",
        F.col("_cl").alias("cluster"),
        F.lit(1).cast("long").alias("group_size"),
        "centroid_cos",
    )
    reps = (
        members.filter(F.col("_comp").isNotNull())
        .groupBy("_comp")
        .agg(
            F.min(F.struct("centroid_cos", "vec_id", "_cl")).alias("_k"),
            F.count(F.lit(1)).cast("long").alias("group_size"),
        )
        .select(
            F.col("_k.vec_id").alias("vec_id"),
            F.col("_k._cl").alias("cluster"),
            "group_size",
            F.col("_k.centroid_cos").alias("centroid_cos"),
        )
    )
    return singles.unionByName(reps)


def sign_sub_bits(vec_col, n_bits: int):
    """Leading sign-LSH sub-cell bits of a double-vector column --
    the k-grows-with-N refinement key shared by semdedup_keepers
    (refine_bits) and semdedup_keepers_multiprobe: near-identical
    vectors land on identical bits, so splitting cells by them cuts
    quadratic pair mass ~2^n_bits-fold while true dup pairs stay
    co-located. The plane matrix is the LCG-derived literal every
    bucket oracle inlines, and both engines fold the dot product
    left-to-right over the same doubles, so the sign decision is
    engine-portable bit-for-bit."""
    from solana_data_etl_pipeline_spark.operators.similarity import lsh_planes

    planes = lsh_planes(n_planes=n_bits)
    planes_col = F.array(*[F.array(*[F.lit(x) for x in row]) for row in planes])
    powers = F.array(*[F.lit(2**p).cast("long") for p in range(n_bits)])
    dots = F.transform(
        planes_col,
        lambda row: F.aggregate(
            F.zip_with(row, vec_col, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    bits = F.zip_with(
        dots,
        powers,
        lambda d, pw: F.when(d >= 0, pw).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def semdedup_probe_assignments(
    emb_df: DataFrame,
    cluster_col: str = "label",
    nprobe: int = 2,
) -> DataFrame:
    """The multi-probe assignment itself: (vec_id, _pcl, _pcos, _rn)
    rows for each vector's `nprobe` nearest cluster centroids by
    rounded cosine (rank 1 = the primary cell). Shared by
    semdedup_keepers_multiprobe and the bench coverage probe so the
    measured coverage is the coverage of the shipped assignment.

    Scale shape: centroids are a bounded (cluster, dim) map-side
    aggregation broadcast once; the ranking cross join is |corpus| x k
    NARROW rows (cosine projected immediately); the result is lazily
    checkpointed for reuse across the primary-score and pairing
    branches."""
    from solana_data_etl_pipeline_spark.operators.similarity import (
        _dvec,
        dot_raw,
        norm_expr,
    )

    base = emb_df.select(
        "vec_id",
        _dvec(F.col("embedding")).alias("_v"),
        norm_expr(F.col("embedding")).alias("_n"),
        F.col(cluster_col).cast("long").alias("_cl"),
    )
    cells = (
        base.select("_cl", F.posexplode("_v").alias("dim", "val"))
        .groupBy("_cl", "dim")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
    )
    cent = cells.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("_cvec")
    )
    cent = cent.select(
        F.col("_cl").alias("_pcl"), "_cvec", norm_expr(F.col("_cvec")).alias("_cn")
    )
    wr = Window.partitionBy("vec_id").orderBy(F.col("_pcos").desc(), F.col("_pcl").asc())
    return (
        base.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "_pcl",
            F.round(
                dot_raw(F.col("_v"), F.col("_cvec")) / (F.col("_n") * F.col("_cn")), 4
            ).alias("_pcos"),
        )
        .withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= int(nprobe))
        .localCheckpoint(eager=False)
    )


def semdedup_keepers_multiprobe(
    emb_df: DataFrame,
    threshold: float = 0.30,
    cluster_col: str = "label",
    nprobe: int = 2,
    refine_bits: int = 0,
) -> DataFrame:
    """SemDeDup with MULTI-PROBE pair assignment -- the routing answer
    to the paper's accepted cross-cluster blindness (Abbas et al.
    2023 scan pairs only within a cluster; the repo's measured pair
    coverage of that design is 0.097 on the ingest assignment /
    0.282 on k-means cells at tau=0.30). For the PAIRING stage only,
    every vector is assigned to its `nprobe` nearest cluster
    CENTROIDS by cosine (the same probe rule knn_ivf applies to
    queries, here applied to the corpus itself -- multi-probe in the
    Lv et al. 2007 sense); a pair is visible iff the probe sets
    intersect. Keeper scoring keeps the paper's rule against the
    PRIMARY (nearest-centroid) cell. Measured coverage on the sf0.1
    corpus at tau=0.30: nprobe=2 -> 0.61, nprobe=3 -> 0.89, vs 0.097
    for own-label pairing -- the registered nprobe=2 default clears
    the >=0.5 observability bar at ~nprobe^2 within-cell pair mass.

    Scale shape: centroids are the same bounded (cluster, dim)
    aggregation as semdedup_keepers, broadcast once; the probe
    ranking is a |corpus| x k NARROW cross join (cosines projected
    immediately, no vector payload survives it) with a per-vector
    rank window; pairing is the same cluster-keyed equi-join, now on
    probe cells (each vector in nprobe cells -> per-cell mass grows
    nprobe-fold). `refine_bits` is the k-grows-with-N dial applied to
    the PAIRING cells only: each probe cell splits by the vector's
    own sign-LSH sub-bits (sign_sub_bits -- near-identical vectors
    share them, so true dup pairs stay co-located while quadratic
    cell mass drops ~2^bits-fold); probe ranking and keeper scoring
    keep the unrefined label centroids. Probe rows are narrow and
    lazily checkpointed, so the ranking computes once for both the
    primary-score and pairing branches.

    DEFAULT FOR GROWN CORPORA: refine_bits > 0 (the registered
    `semdedup_multiprobe_scaled` form runs refine_bits=4). Measured
    at sf0.1 / tau=0.30: the unrefined nprobe=2 form's pair mass
    links ~the whole corpus into one duplicate component and removes
    removed_frac = 1.0 -- deterministic and oracle-correct, but not a
    curation any real run would ship; refine_bits=4 holds removal at
    0.612 at the same coverage dial (BENCH r9, SCALE.md). The
    unrefined form stays registered as the coverage demonstration of
    the raw multi-probe pair mass.

    TAU ROUTING RULE (the full (tau, nprobe, refine_bits) grid is in
    SCALE.md / tools/dials.py, VERDICT r10 #4): whether a
    coverage-honest point (pair coverage >= 0.5 AND removal < 1.0)
    exists depends on whether the duplicate graph PERCOLATES at tau.
    At tau=0.30 on this corpus it does (one giant component), and the
    region is provably empty: removal < 1.0 requires a key that
    breaks the component, and any key that separates cos-0.30 pairs
    (per-sign-bit agreement ~0.6 -> 4 shared bits pass ~0.13 of
    pairs; 0.092 measured) IS a coverage-destroying key -- they are
    the same partitioning. There refine_bits is honestly a SAMPLER of
    the duplicate graph, not an observability-complete dedup. At
    tau >= 0.5 the graph is a sparse near-dup graph and the
    registered `semdedup_near_dup` point (tau=0.5, nprobe=3, no
    refine bits) measures coverage 1.00 with removal 0.007 -- the
    refine bits exist to cut quadratic mass that a non-percolating
    tau no longer generates."""
    from solana_data_etl_pipeline_spark.operators.similarity import (
        _dvec,
        dot_raw,
        norm_expr,
    )

    base = emb_df.select(
        "vec_id",
        _dvec(F.col("embedding")).alias("_v"),
        norm_expr(F.col("embedding")).alias("_n"),
        F.col(cluster_col).cast("long").alias("_cl"),
    )
    ranked = semdedup_probe_assignments(emb_df, cluster_col, nprobe)
    scored = base.drop("_cl").join(
        ranked.filter(F.col("_rn") == 1).select(
            "vec_id", F.col("_pcl").alias("_cl"), F.col("_pcos").alias("centroid_cos")
        ),
        "vec_id",
    )
    pv = ranked.select("vec_id", "_pcl").join(
        base.select("vec_id", "_v", "_n"), "vec_id"
    )
    if refine_bits:
        pv = pv.withColumn(
            "_pcl",
            F.col("_pcl") * (2**refine_bits)
            + sign_sub_bits(F.col("_v"), refine_bits),
        )
    a = pv.select(
        F.col("_pcl"),
        F.col("vec_id").alias("vec_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = pv.select(
        F.col("_pcl"),
        F.col("vec_id").alias("vec_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = (
        a.join(b, ["_pcl"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            F.round(
                dot_raw(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4
            )
            >= threshold
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    return _semdedup_select_keepers(scored, pairs)


def semdedup_exact_first(
    emb_df: DataFrame,
    threshold: float = 0.5,
    cluster_col: str = "label",
    nprobe: int = 3,
) -> DataFrame:
    """The dedup-ladder contract as ONE executable plan (VERDICT r11
    #3): EXACT dedup first, the semantic stage on the residue.
    SemDeDup's pair stage is pair-set-sized, and byte-identical
    copies make the tau>=0.5 pair set itself quadratic (the measured
    16.45x replica row in SCALE.md -- any pair-emitting dedup pays
    it); the production answer is the ladder every curation pipeline
    runs (cf. the exact -> fuzzy -> semantic staging in corpus
    curation writeups): a LINEAR groupBy collapses byte-identical
    vectors to their min-vec_id representative, and the registered
    multiprobe SemDeDup (tau-routed coverage-honest point: tau=0.5,
    nprobe=3) sees only the exact residue, where tau=0.5 pairs are
    sparse (14 in 2M at sf0.1).

    Output: the semantic keepers over the residue, same schema as
    semdedup_near_dup (vec_id, cluster, group_size, centroid_cos) --
    group_size counts SEMANTIC group members among exact
    representatives; the exact stage's absorbed copies are simply
    not rows (the same contract dedup_keepers has for its collapsed
    exact twins).

    Scale shape: the exact stage is one hash aggregation keyed on the
    raw vector bytes (the only stage that shuffles full vectors --
    the same cost any exact content dedup pays) + a min-id semi-join
    back; the semantic stage inherits semdedup_keepers_multiprobe's
    shape with replica-degenerate cells already collapsed, so its
    per-cell pair mass is the residue's, not the corpus's."""
    keep_ids = emb_df.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    residue = emb_df.join(keep_ids.select("vec_id"), "vec_id", "semi")
    return semdedup_keepers_multiprobe(
        residue, threshold=threshold, cluster_col=cluster_col, nprobe=nprobe
    )


def embedding_near_dup_pairs(emb_df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (doc_a < doc_b, cos >= threshold).

    Brute-force O(n^2) cross join -- recall-1 oracle twin for
    embedding_near_dup_lsh in tests; never the registered plan (the
    cartesian product is a scale-killer at corpus size).
    """
    from solana_data_etl_pipeline_spark.operators.similarity import _dvec, dot_raw, norm_expr

    v = emb_df.select(
        F.col("vec_id"),
        _dvec(F.col("embedding")).alias("v"),
        norm_expr(F.col("embedding")).alias("n"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = dot_raw(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"), cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cosine"))
    )


def dedup_family_agreement(
    df: DataFrame,
    text_col: str = "text",
    minhash_threshold: float = 0.5,
    containment_threshold: float = 0.5,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    include_embedding: bool = False,
    embedding_threshold: float = 0.9,
) -> DataFrame:
    """Cross-family near-dup AGREEMENT report: which of the three
    text dedup families (MinHash-LSH Jaccard, SimHash hamming,
    winnowed shingle containment) flag which pairs, aggregated to one
    row per family-combination with its pair count. The calibration
    table a data team reads before choosing which gates to enable: a
    large containment-only cell means subset duplication Jaccard
    under-scores (the mode containment_pairs exists for), a large
    minhash-only cell means token-level paraphrases SimHash's global
    fingerprint smooths over, and the all-three cell is the
    high-confidence core (cf. the multi-signal dedup analyses in Lee
    et al. 2022 and the SCALE.md family-routing rules).

    ``include_embedding=True`` adds the VECTOR family as a fourth
    member: the corpus is hash-embedded (operators/text.py hash_embed
    -- the model-free encoder every embedding operator accepts) and
    run through the registered multi-table sign-LSH near-dup plan
    (embedding_near_dup_lsh) at ``embedding_threshold``; its
    distinctive catch is bag-of-words twins (permuted/reordered
    content) that shingle- and fingerprint-based families under-score.

    Scale shape: the member pipelines run as-registered (bucketed
    LSH, capped like the production gates when ``max_bucket`` is
    set -- never all-pairs); their outputs are pairs-sized frames, so
    the agreement rollup shuffles only (doc_a, doc_b, flags) and the
    report itself is at most 2^families rows."""
    # coverage_floor=None on EVERY member: measuring what the caps
    # refuse is this report's PURPOSE (a large family-only cell on a
    # capped run is the signal); the guard would turn the measurement
    # into an error
    members = [
        ("minhash", minhash_lsh_pairs(df, text_col, threshold=minhash_threshold, max_bucket=max_bucket, coverage_floor=None)),
        ("simhash", simhash_near_dup_pairs(df, text_col, max_hamming=max_hamming, max_bucket=max_bucket, coverage_floor=None)),
        ("containment", containment_pairs(df, threshold=containment_threshold, max_bucket=max_bucket, text_col=text_col, coverage_floor=None)),
    ]
    if include_embedding:
        from solana_data_etl_pipeline_spark.operators.text import hash_embed

        members.append(
            (
                "embedding",
                embedding_near_dup_lsh(
                    hash_embed(df, text_col=text_col),
                    threshold=embedding_threshold,
                    max_bucket=max_bucket,
                    coverage_floor=None,
                ).select(
                    F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
                ),
            )
        )
    fams = tuple(name for name, _ in members)
    tagged = None
    for name, pairs in members:
        t = pairs.select(
            "doc_a",
            "doc_b",
            *[F.lit(1 if name == n else 0).cast("long").alias(n) for n in fams],
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    flags = tagged.groupBy("doc_a", "doc_b").agg(
        *[F.max(n).alias(n) for n in fams]
    )
    return (
        flags.groupBy(*fams)
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(*fams)
    )
