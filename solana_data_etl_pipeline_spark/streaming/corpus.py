"""Streaming training-corpus assembly: the documents landing zone
ingested as a Structured Streaming job with the same gates the batch
corpus pipeline applies -- corrupt-line quarantine, fused per-doc
feature scoring, quality gates, PII flagging, and EXACT content dedup
with exactly-once effect across micro-batches and restarts.

This is the streaming twin of plans/corpus.py: a crawler drops JSONL
shards into the landing zone continuously; the corpus table only ever
receives gated, deduplicated, feature-annotated documents.

Each micro-batch runs the stage functions below in order, each a plain
batch function over one frame (so tests call them on a static
DataFrame): split_batch (quarantine split + media sidecar),
document_features_batch, media_gate, decontaminate, exact_dedup,
near_dup_dedup, semantic_dedup, the three policies, the pre-commit
logs (log_decon_blind, log_semantic_blind, log_drift), commit, and the
post-commit index catch-ups. One frozen StreamOptions carries every
option; a stage whose option is off returns its input unchanged.

Scale shape per micro-batch: one cached scan feeds the good/quarantine
split and the three per-doc feature branches (doc_features is the
fused single-pass scorer); batch-internal dedup is a window over
fingerprint; CROSS-batch dedup is an anti-join against the fingerprint
column of the already-written corpus -- at 100 TB that read is served
by a fingerprint-bucketed index table maintained beside the corpus
(same pattern as the warehouse sink's partition-pruned anti-join,
sinks/warehouse.py), never a full corpus scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solana_data_etl_pipeline_spark.operators import dedup as D
from solana_data_etl_pipeline_spark.operators import text as X
from solana_data_etl_pipeline_spark.operators.util import (
    read_index_meta,
    read_or_none,
    unindexed,
    write_index_meta,
)
from solana_data_etl_pipeline_spark.plans.corpus import (
    MIN_ALPHA_RATIO,
    MIN_TOKENS,
    V4_MEDIA_MAX_FRAMES,
    V4_MEDIA_MIN_FRAMES,
    V4_MEDIA_MIN_RMS,
)
from solana_data_etl_pipeline_spark.sinks.quarantine import (
    CORRUPT_COL,
    split_corrupt,
    with_corrupt_column,
)
from solana_data_etl_pipeline_spark.streaming.clusters import (
    append_pairs,
    catch_up_clusters,
)

#: JSONL landing-zone shape for documents (ingest_time is the event
#: time stamped by the crawler/uploader). Explicitly TIMESTAMP_NTZ so
#: the parse behaves identically under any session timestampType --
#: under NTZ a zoned literal fails to parse, which in PERMISSIVE mode
#: silently corrupts the WHOLE row into quarantine.
DOC_LANDING_SCHEMA = (
    "doc_id long, text string, lang string, source string, ingest_time timestamp_ntz"
)

#: The quality-gate generations document_features_batch applies.
GATES = ("simple", "published")

#: Tokens per batch in the drift report (log_drift).
DRIFT_TOP_K = 20

#: One row per media payload (split_batch); n_frames and rms are the
#: decoded FEATURES of audio (null otherwise) that media_gate bounds.
_MEDIA_PROBE = ("doc_id long, modality string, byte_len long, ok int, error string, "
                "n_frames long, rms double")


@dataclass(frozen=True)
class StreamOptions:
    """The document stream's options. Each stage's docstring says
    which fields it reads and what they do. An option that would be
    ignored is refused at construction, before any stream starts:
    `media_gate` needs `media_health`, `decon_route_blind` needs
    `decontaminate_bench`, `semantic_route_blind` needs
    `semantic_index`, `policy_log_dir` needs `temperature_tau`, and
    `gates` must be one of GATES."""

    gates: str = "simple"
    media_health: bool = False
    media_gate: bool = False
    decontaminate_bench: str | None = None
    decon_threshold: float = 0.5
    decon_blind_bp: int = 5000
    decon_route_blind: bool = False
    near_dup_index: str | None = None
    near_dup_threshold: float = 0.5
    near_dup_max_bucket: int | None = 64
    semantic_index: str | None = None
    semantic_threshold: float = 0.95
    semantic_max_bucket: int | None = 64
    semantic_blind_bp: int = 5000
    semantic_route_blind: bool = False
    temperature_tau: float | None = None
    target_frac: float = 0.5
    policy_log_dir: str | None = None
    waterfill_budget: int | None = None
    token_budget: int | None = None
    drift_report: bool = False

    def __post_init__(self):
        if self.gates not in GATES:
            raise ValueError(f"unknown gate policy: {self.gates!r}")
        for option, needed in (("media_gate", "media_health"),
                               ("decon_route_blind", "decontaminate_bench"),
                               ("semantic_route_blind", "semantic_index"),
                               ("policy_log_dir", "temperature_tau")):
            if _is_set(getattr(self, option)) and not _is_set(getattr(self, needed)):
                raise ValueError(f"{option} does nothing without {needed}")


def _is_set(value) -> bool:
    """Whether an option is on: not None and not False (a tau of 0.0 is set)."""
    return value is not None and value is not False


def document_features_batch(good: DataFrame, gates: str = "simple") -> DataFrame:
    """Gated, deduplicated (batch-internal), feature-annotated corpus
    rows from one micro-batch of parsed landing-zone documents. Pure
    batch logic so tests and backfills reuse it identically.

    `gates` mirrors the batch pipeline's two gate generations:
    "simple" = the MIN_TOKENS/alpha constants (corpus_selection /
    corpus_curation), "published" = C4 page cleaning + the full Gopher
    rule conjunction (corpus_curation_v2). Both are zero-shuffle
    per-doc projections, so the choice changes WHICH scan-fused
    predicates gate the batch, not the plan shape."""
    feats = X.doc_features(good).select(
        "doc_id", "n_tokens", "alpha_ratio", "predicted_lang", "fingerprint"
    )
    pii = X.pii_scan(good).select("doc_id", "has_pii")
    annotated = (
        good.select("doc_id", "text", "lang", "source", "ingest_time")
        .join(feats, "doc_id")
        .join(pii, "doc_id")
    )
    if gates == "published":
        c4 = X.c4_clean(good).select("doc_id", "page_filtered")
        gq = X.gopher_quality(good).select("doc_id", "gopher_pass")
        annotated = (
            annotated.join(c4, "doc_id")
            .join(gq, "doc_id")
            .filter(~F.col("page_filtered") & F.col("gopher_pass"))
            .drop("page_filtered", "gopher_pass")
        )
    elif gates == "simple":
        annotated = annotated.filter(
            (F.col("n_tokens") >= MIN_TOKENS) & (F.col("alpha_ratio") >= MIN_ALPHA_RATIO)
        )
    else:
        raise ValueError(f"unknown gate policy: {gates!r}")
    # batch-internal exact dedup: first doc_id wins per content hash
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    return (
        annotated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def index_health(
    spark: SparkSession,
    index_path: str,
    keys: tuple[str, str],
    max_bucket: int | None = None,
    sub: str = "bands",
) -> dict:
    """Bucket-width health of a continuously-grown LSH index (the
    streaming counterpart of the batch *_cap_stats diagnostics --
    the 'no silent caps' rule applied to the indexes the stream
    maintains): row count, distinct buckets, the width distribution's
    max and p99, and -- when the accumulated-width cap is in force --
    how many buckets sit AT the cap (those buckets silently reject
    all future appends; a growing at-cap count is the signal to
    re-key or widen before probe recall decays). One bounded
    aggregation over the index's own join keys; returns a plain dict
    for CLI/ops surfacing."""
    idx = spark.read.parquet(f"{index_path}/{sub}")
    widths = idx.groupBy(*keys).agg(F.count(F.lit(1)).alias("w"))
    agg = widths.agg(
        F.coalesce(F.sum("w"), F.lit(0)).alias("rows"),
        F.count(F.lit(1)).alias("buckets"),
        F.coalesce(F.max("w"), F.lit(0)).alias("max_width"),
        F.coalesce(F.expr("percentile_approx(w, 0.99)"), F.lit(0)).alias("p99_width"),
        (
            F.coalesce(
                F.sum((F.col("w") >= max_bucket).cast("long")), F.lit(0)
            ).alias("at_cap")
            if max_bucket is not None
            else F.lit(None).cast("long").alias("at_cap")
        ),
    ).collect()[0]
    return {
        "rows": int(agg["rows"]),
        "buckets": int(agg["buckets"]),
        "max_width": int(agg["max_width"]),
        "p99_width": int(agg["p99_width"]),
        "at_cap": None if agg["at_cap"] is None else int(agg["at_cap"]),
    }


def _epoch_logged(spark: SparkSession, path: str, epoch: int) -> bool:
    """Whether the write-once-per-epoch log at `path` already holds
    `epoch` (False before the log's first write)."""
    log = read_or_none(spark, path)
    return log is not None and bool(log.filter(F.col("epoch") == epoch).limit(1).count())


def _unlogged(spark: SparkSession, rows: DataFrame, path: str, key: str | list[str]) -> DataFrame:
    """`rows` whose `key` the append-only log at `path` does not hold
    yet: the replay guard of every idempotent append here."""
    return unindexed(rows, read_or_none(spark, path), key)


def read_landing(reader, input_dir: str, opts: StreamOptions) -> DataFrame:
    """The landing zone at `input_dir` as `reader` parses it:
    `spark.readStream` for the stream, `spark.read` for one static
    batch. PERMISSIVE, so a malformed line arrives in CORRUPT_COL for
    split_batch to quarantine. With `media_health` the schema grows
    the optional `media_b64`/`modality` sidecar columns."""
    ddl = DOC_LANDING_SCHEMA + (", media_b64 string, modality string" if opts.media_health else "")
    return (
        reader.schema(with_corrupt_column(T.StructType.fromDDL(ddl)))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(input_dir)
    )


def _probe_payloads(batches):
    """mapInPandas body: each payload through the REAL codec registry
    (operators/multimodal.py DECODERS -- wave for audio, struct-parsed
    BMP/AVI for image/video), plus the decoded duration and RMS of
    audio."""
    import numpy as _np
    import pandas as _pd

    from solana_data_etl_pipeline_spark.operators.multimodal import (
        DECODERS,
        _unavailable_decode,
        _wav_parse_raw,
    )

    for pdf in batches:
        rows = []
        for mid, mod, p in zip(pdf["doc_id"], pdf["modality"], pdf["payload"]):
            b = bytes(p) if p is not None else b""
            nf = rms = None
            try:
                DECODERS.get(mod, _unavailable_decode)(b, mod)
                ok, err = 1, None
                if mod == "audio":
                    m = _wav_parse_raw(b)
                    s = _np.frombuffer(m["samples"], dtype=_np.uint8)
                    nf = m["n_frames"]
                    rms = (
                        (int(((s.astype(_np.int64) - 128) ** 2).sum()) / s.size) ** 0.5
                        if s.size
                        else None
                    )
            except Exception as e:  # a real codec rejecting real bytes
                ok, err = 0, f"{type(e).__name__}: {e}"[:200]
            rows.append((mid, mod, len(b), ok, err, nf, rms))
        yield _pd.DataFrame(rows, columns=[f.split()[0] for f in _MEDIA_PROBE.split(", ")])


def split_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, opts: StreamOptions, output_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """(good, quarantine, media probe) of one landing batch.

    Malformed lines and rows missing doc_id land as etl_errors-shaped
    quarantine rows instead of vanishing (commit appends them).

    `media_health=True` turns on BINARY SIDECAR ingestion: each batch's
    base64 media payloads are decoded and probed through the codec
    registry map-side (Arrow-batched; the payload never shuffles).
    Per-batch per-modality counts (n_ok, n_bad, total_bytes) append to
    `{output_dir}_media_health` write-once per epoch, and docs whose
    payload FAILS its codec land in `{output_dir}_media_quarantine`
    (doc_id, modality, error, epoch) under a doc_id anti-join -- media
    corruption quarantines the MEDIA, not the document: the text
    pipeline admits the doc regardless, and an operator reads the
    quarantine to re-fetch or drop the payloads. The sidecar runs on
    arriving docs BEFORE dedup/policies (corruption is a property of
    the upload, not of curation), so its idempotency comes from its
    own guards (epoch key + doc_id anti-join), not from the
    fingerprint anti-join. The probe (None without media_health or
    without payloads) is what media_gate reads."""
    good, quarantine = split_corrupt(batch_df, required_col="doc_id")
    if not opts.media_health:
        return good, quarantine, None
    mm = good.filter(F.col("media_b64").isNotNull()).select(
        "doc_id",
        F.coalesce(F.col("modality"), F.lit("unknown")).alias("modality"),
        F.unbase64(F.col("media_b64")).alias("payload"),
    )
    probed = mm.mapInPandas(_probe_payloads, schema=_MEDIA_PROBE).localCheckpoint(eager=True)
    good = good.drop("media_b64")
    if not probed.limit(1).count():
        return good, quarantine, None
    health_dir = f"{output_dir}_media_health"
    if not _epoch_logged(spark, health_dir, batch_id):
        probed.groupBy("modality").agg(
            F.sum("ok").cast("long").alias("n_ok"),
            F.sum(1 - F.col("ok")).cast("long").alias("n_bad"),
            F.sum("byte_len").cast("long").alias("total_bytes"),
        ).withColumn("epoch", F.lit(int(batch_id))).write.mode("append").parquet(health_dir)
    mq_dir = f"{output_dir}_media_quarantine"
    bad = _unlogged(
        spark,
        probed.filter(F.col("ok") == 0).select(
            "doc_id", "modality", "error", F.lit(int(batch_id)).alias("epoch")
        ),
        mq_dir,
        "doc_id",
    )
    if bad.limit(1).count():
        bad.write.mode("append").parquet(mq_dir)
    return good, quarantine, probed


def media_gate(spark: SparkSession, kept: DataFrame, batch_id: int, opts: StreamOptions,
               output_dir: str, probed: DataFrame | None) -> DataFrame:
    """`media_gate=True` is the STREAMING twin of corpus_curation_v4's
    media gate: docs whose audio payload DECODES cleanly but whose
    decoded features (split_batch's probe) violate the v4 bounds
    (duration outside [V4_MEDIA_MIN_FRAMES, V4_MEDIA_MAX_FRAMES]
    frames, or RMS below V4_MEDIA_MIN_RMS -- the near-silence floor)
    are DROPPED before the corpus commit and logged to
    `{output_dir}_media_gated` (doc_id, n_frames, rms, epoch; doc_id
    anti-join idempotency). Unlike corruption -- a property of the
    upload, quarantined without touching the doc -- a feature-bound
    violation is a CURATION verdict on real decoded content, so it
    gates the document exactly as the batch pipeline does. Docs with
    no media, non-audio media, or failed decodes (already
    quarantined) pass through ungated."""
    if not opts.media_gate or probed is None:
        return kept
    gated = (
        probed.filter(
            (F.col("modality") == "audio")
            & (F.col("ok") == 1)
            & (
                ~F.col("n_frames").between(V4_MEDIA_MIN_FRAMES, V4_MEDIA_MAX_FRAMES)
                | (F.round("rms", 4) < V4_MEDIA_MIN_RMS)
            )
        )
        .select("doc_id", "n_frames", F.round("rms", 4).alias("rms"))
        .localCheckpoint(eager=True)
    )
    gate_dir = f"{output_dir}_media_gated"
    log_rows = _unlogged(spark, gated.withColumn("epoch", F.lit(int(batch_id))), gate_dir, "doc_id")
    if log_rows.limit(1).count():
        log_rows.write.mode("append").parquet(gate_dir)
    return kept.join(F.broadcast(gated.select("doc_id")), "doc_id", "left_anti")


def _decon_index(output_dir: str) -> str:
    return f"{output_dir}_decon_index"


def build_decon_indexes(spark: SparkSession, opts: StreamOptions, output_dir: str) -> None:
    """Build the benchmark set's winnowing index (fingerprints +
    shingle sets, capped at `near_dup_max_bucket`) at
    `{output_dir}_decon_index`, once, before the stream starts: the
    bench set is static, so every batch probes it at delta cost. With
    `decon_route_blind` an UNCAPPED twin is built beside it
    (`{output_dir}_decon_index_full`), probed only by measured-blind
    docs, so its hot buckets cost full width exactly where the capped
    verdict is hollow and nowhere else. An existing index is kept."""
    if opts.decontaminate_bench is None:
        return
    index = _decon_index(output_dir)
    twins = [(index, opts.near_dup_max_bucket)]
    if opts.decon_route_blind:
        twins.append((f"{index}_full", None))
    for path, max_bucket in twins:
        if read_or_none(spark, f"{path}/fingerprints") is None:
            D.materialize_winnow(
                spark.read.parquet(opts.decontaminate_bench).select("doc_id", "text"),
                path,
                max_bucket=max_bucket,
            )


def _contained(spark: SparkSession, index: str, docs: DataFrame, threshold: float) -> DataFrame:
    """doc_ids of `docs` that contain a doc of the winnowing index at
    `index` (delta_containment's exact-containment verify)."""
    return (
        D.delta_containment(spark, index, docs, threshold=threshold)
        .select(F.col("delta_id").alias("doc_id"))
        .distinct()
    )


def decontaminate(spark: SparkSession, kept: DataFrame, opts: StreamOptions,
                  output_dir: str) -> DataFrame:
    """`decontaminate_bench` (a parquet docs table) blocks benchmark
    contamination AT INGEST: the batch is probed against the bench
    set's index (build_decon_indexes) with exact-containment
    verification at `decon_threshold` (delta cost per batch; the
    static index is the decontamination twin of the continuously-grown
    near-dup index). The containment evidence catches a bench doc
    quoted whole inside a crawled page, which Jaccard-based near-dup
    under-scores.

    With `decon_route_blind=True` the blind-spot signal (log_decon_blind)
    ACTS in-stream: docs >= `decon_blind_bp` exposed take a second
    containment probe against the UNCAPPED twin, and fallback hits
    drop here, before dedup/policies -- the cap keeps batch probes
    cheap, the fallback pays full-bucket cost only for the
    measured-blind fraction. The uncapped probe's candidate width is
    bounded by the bench-set contract (a fixed benchmark suite), not
    by the growing corpus, so the routed path stays delta-cost."""
    if opts.decontaminate_bench is None:
        return kept
    index = _decon_index(output_dir)
    contaminated = _contained(spark, index, kept, opts.decon_threshold)
    kept = kept.join(F.broadcast(contaminated), "doc_id", "left_anti")
    if not opts.decon_route_blind:
        return kept
    exposed = (
        D.delta_containment_exposure(spark, index, kept)
        .filter(F.col("exposure_bp") >= opts.decon_blind_bp)
        .select(F.col("delta_id").alias("doc_id"))
    )
    blind_docs = kept.join(F.broadcast(exposed), "doc_id", "left_semi")
    caught = _contained(spark, f"{index}_full", blind_docs, opts.decon_threshold)
    return kept.join(F.broadcast(caught), "doc_id", "left_anti")


def exact_dedup(kept: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Cross-batch exact dedup: drop content whose fingerprint the
    corpus written so far (`seen`; None before the first commit)
    already holds. This anti-join is what makes a replayed or
    re-crawled batch a no-op for every later stage."""
    if seen is None:
        return kept
    return kept.join(seen.select("fingerprint").distinct(), "fingerprint", "left_anti")


def near_dup_dedup(spark: SparkSession, kept: DataFrame, batch_id: int,
                   opts: StreamOptions) -> DataFrame:
    """With `near_dup_index`, NEAR-dup dedup (MinHash-LSH + exact
    Jaccard verify at `near_dup_threshold`) of the batch against the
    corpus ingested so far: the batch probes the materialized index
    (operators/dedup.py delta_match_pairs) -- O(batch) work, the corpus
    is never rescanned -- and a doc drops if it verified against the
    index or against a smaller-id doc within the batch
    (delta_dedup_materialized's drop rule). Before the index exists
    only batch-internal pairs count (narrow probe: only the
    path-probing read may mean "first batch"). Runs after exact dedup,
    so only novel content pays signature cost.

    Both match frames are eagerly checkpointed so the one probe
    execution feeds the keep/drop decision AND the cluster pair log,
    which is appended here (append_pairs, write-once per epoch), before
    the corpus commit like every pre-commit log (log_decon_blind says
    why)."""
    if opts.near_dup_index is None:
        return kept
    index = opts.near_dup_index
    hits = None
    if read_or_none(spark, f"{index}/bands") is None:
        pairs = (
            D.minhash_lsh_pairs(kept, threshold=opts.near_dup_threshold)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    else:
        hits, pairs = D.delta_match_pairs(spark, index, kept, threshold=opts.near_dup_threshold)
        hits = hits.localCheckpoint(eager=True)
        pairs = pairs.localCheckpoint(eager=True)
    logged = pairs
    dropped = pairs.select(F.col("doc_b").alias("doc_id"))
    if hits is not None:
        logged = logged.unionByName(
            hits.select(F.col("delta_id").alias("doc_a"), F.col("corpus_id").alias("doc_b"))
        )
        dropped = dropped.unionByName(hits.select(F.col("delta_id").alias("doc_id")))
    append_pairs(spark, index, logged, epoch=batch_id)
    keep_ids = kept.select("doc_id").join(F.broadcast(dropped.distinct()), "doc_id", "left_anti")
    return kept.join(F.broadcast(keep_ids), "doc_id", "left_semi")


def semantic_dedup(spark: SparkSession, kept: DataFrame, opts: StreamOptions) -> DataFrame:
    """With `semantic_index`, embed-at-ingest SEMANTIC dedup: the batch
    is hash-embedded (operators/text.py hash_embed -- a deployment with
    a learned encoder swaps the vector source, nothing else changes)
    and probed against the continuously-grown embedding-LSH index
    (catch_up_semantic_index) via delta_embedding_dedup's drop rule at
    `semantic_threshold`, at delta cost: a doc drops if it is
    cosine-verified against any index vector sharing a bucket, or a
    smaller-id batch vector. Before the index exists, batch-internal
    pairs only. Runs AFTER exact and near-dup dedup so only novel
    content pays embedding cost; it catches what they miss
    (bag-of-words twins: permuted or re-ordered content).

    With `semantic_route_blind=True` the blind-spot signal
    (log_semantic_blind) ACTS in-stream, mirroring decontaminate's
    routing: survivors whose probe routes are >= `semantic_blind_bp`
    blind take a second probe against the OVERFLOW twin
    (`{semantic_index}_overflow`, exactly the hot-bucket tail the
    capped index refused), and fallback hits drop before the corpus
    commit -- the capped index keeps every batch probe cheap, and the
    overflow's full-width buckets are paid only by the measured-blind
    fraction. Unlike the decontamination fallback (whose uncapped
    twin is bounded by the static bench set), the overflow twin grows
    with the corpus's degenerate mass -- the honest cost of acting on
    embedding blindness, and still strictly cheaper than an uncapped
    index (it holds ONLY the over-cap tail)."""
    if opts.semantic_index is None:
        return kept
    index = opts.semantic_index
    vecs = X.hash_embed(kept)
    if read_or_none(spark, f"{index}/buckets") is None:
        # first batch: batch-internal pairs at the SAME table count
        # as the maintained index/gate (2-table recall 0.72 is not
        # a shippable drop gate -- the EMBED_INDEX_TABLES rationale)
        # coverage_floor=None: the streaming semantic gate handles
        # cap blindness STRUCTURALLY -- over-cap (blind) documents
        # are routed to the acting blind-doc path instead of being
        # silently admitted, so a batch-level raise would duplicate
        # a guarantee the stream already makes per document
        pairs = D.embedding_near_dup_lsh(
            vecs,
            threshold=opts.semantic_threshold,
            max_bucket=opts.semantic_max_bucket,
            n_tables=D.EMBED_INDEX_TABLES,
            coverage_floor=None,
        )
        dropped = pairs.select(F.col("vec_b").alias("doc_id")).distinct()
        keep = kept.select("doc_id").join(F.broadcast(dropped), "doc_id", "left_anti")
    else:
        survivors = D.delta_embedding_dedup(spark, index, vecs, threshold=opts.semantic_threshold)
        # Both reads are narrow path probes: no excluded list / no overflow
        # means nothing has ever over-capped.
        if opts.semantic_route_blind and not (
            read_or_none(spark, f"{index}/excluded") is None
            or read_or_none(spark, f"{index}_overflow/buckets") is None
        ):
            blind = (
                D.delta_embedding_exposure(spark, index, vecs)
                .filter(F.col("exposure_bp") >= opts.semantic_blind_bp)
                .select(F.col("delta_id").alias("vec_id"))
            )
            blind_vecs = vecs.join(
                F.broadcast(survivors.select("vec_id").join(blind, "vec_id", "left_semi")),
                "vec_id",
                "left_semi",
            )
            fallback_ok = D.delta_embedding_dedup(
                spark, f"{index}_overflow", blind_vecs, threshold=opts.semantic_threshold
            )
            caught = blind_vecs.select("vec_id").join(
                F.broadcast(fallback_ok.select("vec_id")), "vec_id", "left_anti"
            )
            survivors = survivors.select("vec_id").join(F.broadcast(caught), "vec_id", "left_anti")
        keep = survivors.select(F.col("vec_id").alias("doc_id"))
    return kept.join(F.broadcast(keep), "doc_id", "left_semi")


def temperature_policy(spark: SparkSession, kept: DataFrame, batch_id: int, opts: StreamOptions,
                       seen: DataFrame | None) -> DataFrame:
    """`temperature_tau`: mT5 temperature-scaled source rebalancing,
    the streaming half of the composed corpus_curation plan. Rates
    (operators/text.py temperature_rates, at `target_frac`) are
    recomputed each batch from corpus-so-far (`seen`) + batch source
    counts (streaming curation's honest form: the policy tracks the
    corpus as it grows, exactly how production pipelines periodically
    refresh mix rates), applied to the batch with the deterministic
    hash-mod gate, and -- when `policy_log_dir` is set -- logged per
    epoch as (epoch, source, rate_bp) so every admission decision is
    auditable after the fact.

    Like every policy stage, it composes with exactly-once: a replayed
    batch is emptied by the fingerprint anti-join BEFORE the policy
    stages, so counts are never double-applied, and the log append is
    keyed by epoch."""
    if opts.temperature_tau is None:
        return kept
    # Eagerly checkpoint the tiny per-source count frame: it is the
    # ONLY evaluation of the batch's feature/dedup pipeline this stage
    # triggers, and both the non-empty log guard below and the
    # corpus-so-far union reuse it instead of re-running the batch plan.
    batch_counts = (
        kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    )
    batch_nonempty = bool(batch_counts.limit(1).count())
    counts = batch_counts
    if seen is not None:
        counts = (
            batch_counts.unionByName(seen.groupBy("source").agg(F.count(F.lit(1)).alias("n")))
            .groupBy("source")
            .agg(F.sum("n").alias("n"))
        )
    rates = X.temperature_rates(counts, opts.temperature_tau, opts.target_frac).localCheckpoint(
        eager=True
    )
    if (
        opts.policy_log_dir is not None
        and batch_nonempty
        and not _epoch_logged(spark, opts.policy_log_dir, batch_id)
    ):
        rates.withColumn("epoch", F.lit(int(batch_id))).write.mode("append").parquet(
            opts.policy_log_dir
        )
    return X.keep_at_rates(kept, rates).drop("rate_bp")


def waterfill_policy(kept: DataFrame, opts: StreamOptions, seen: DataFrame | None) -> DataFrame:
    """`waterfill_budget`: the ALLOCATION-CONSTRAINED form of the token
    budget (corpus_curation_v3's mix stage made incremental): each
    batch recomputes per-source capacities over corpus-so-far + batch,
    waterfills the budget across sources at tau=0.5 weights
    (w = floor(sqrt(capacity))), and each source spends only its
    remaining allocation (allocation minus tokens it already
    committed), selecting its best batch docs greedily by alpha_ratio.
    Short sources saturate and their unmet share redistributes -- the
    source balance the plain budget gate cannot express. Deterministic
    given the ingest history. All frames here are SOURCES-sized (the
    planner's contract)."""
    if opts.waterfill_budget is None:
        return kept
    batch_tok = kept.groupBy("source").agg(F.sum("n_tokens").alias("capacity")).localCheckpoint(
        eager=True
    )
    caps = batch_tok
    committed = None
    if seen is not None:
        committed = (
            seen.groupBy("source").agg(F.sum("n_tokens").alias("done")).localCheckpoint(eager=True)
        )
        caps = (
            batch_tok.unionByName(committed.select("source", F.col("done").alias("capacity")))
            .groupBy("source")
            .agg(F.sum("capacity").alias("capacity"))
        )
    caps = caps.withColumn(
        "weight",
        F.greatest(F.floor(F.sqrt(F.col("capacity").cast("double"))), F.lit(1)).cast("long"),
    )
    alloc = X.mixture_waterfill(caps, budget=int(opts.waterfill_budget)).select("source", "alloc")
    if committed is not None:
        alloc = alloc.join(committed, "source", "left").select(
            "source",
            F.greatest(F.col("alloc") - F.coalesce(F.col("done"), F.lit(0)), F.lit(0)).alias(
                "alloc"
            ),
        )
    wsel = (
        Window.partitionBy("source")
        .orderBy(F.col("alpha_ratio").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        kept.join(F.broadcast(alloc), "source")
        .withColumn("_cum", F.sum("n_tokens").over(wsel))
        .filter(F.col("_cum") <= F.col("alloc"))
        .drop("_cum", "alloc")
    )


def token_budget_policy(kept: DataFrame, opts: StreamOptions, seen: DataFrame | None) -> DataFrame:
    """`token_budget`: a hard cap on total corpus tokens. Each batch
    computes the remaining budget (budget - corpus tokens so far) and
    admits its best-scored docs within it via the batch
    token_budget_select machinery (highest alpha_ratio buckets first,
    whole-bucket granularity); once the corpus reaches the budget,
    later batches admit nothing."""
    if opts.token_budget is None:
        return kept
    used = 0
    if seen is not None:
        used = seen.agg(F.sum("n_tokens")).collect()[0][0] or 0
    remaining = int(opts.token_budget) - int(used)
    if remaining <= 0:
        return kept.filter(F.lit(False))
    return X.token_budget_select(kept, remaining, score_col="alpha_ratio", weight_col="n_tokens")


def log_decon_blind(spark: SparkSession, kept: DataFrame, opts: StreamOptions,
                    output_dir: str) -> None:
    """Docs being admitted that the capped bench index is (partially)
    BLIND to -- >= `decon_blind_bp` basis points of their winnow
    fingerprints on the index's over-cap excluded list
    (delta_containment_exposure) -- are logged to
    `{output_dir}_decon_blind`, so an operator can route them to the
    uncapped batch check instead of trusting a verdict the cap
    hollowed out. In routed mode (decontaminate) fallback catches
    were already dropped, so the log records only docs the fallback
    VERIFIED clean. Written BEFORE the corpus commit: once the corpus
    commits, a replayed batch is emptied by the fingerprint anti-join
    and the rows would be unrecoverable; the delta_id anti-join guards
    the retry-after-log-commit case. The same stance holds for every
    pre-commit log."""
    if opts.decontaminate_bench is None:
        return
    blind_dir = f"{output_dir}_decon_blind"
    blind = D.delta_containment_exposure(spark, _decon_index(output_dir), kept).filter(
        F.col("exposure_bp") >= opts.decon_blind_bp
    )
    _unlogged(spark, blind, blind_dir, "delta_id").write.mode("append").parquet(blind_dir)


def log_semantic_blind(spark: SparkSession, kept: DataFrame, opts: StreamOptions,
                       output_dir: str) -> None:
    """The embedding family's blind-spot log, same stance as
    log_decon_blind: the semantic index's writer records every
    (table, bucket) its cap refused as `{semantic_index}/excluded`
    (bounded by the bucket DOMAIN -- n_tables x 2^planes), and docs
    being admitted whose probe routes are measurably blind -- >=
    `semantic_blind_bp` basis points of their buckets on that list
    (delta_embedding_exposure) -- are logged to
    `{output_dir}_semantic_blind` before the corpus commit. In routed
    mode (semantic_dedup) the log records only docs the fallback
    verified clean. A missing or empty excluded list (an index build
    writes it even when empty) means nothing has ever over-capped."""
    if opts.semantic_index is None:
        return
    excluded = read_or_none(spark, f"{opts.semantic_index}/excluded")
    if excluded is None or not excluded.limit(1).count():
        return
    blind_dir = f"{output_dir}_semantic_blind"
    blind = D.delta_embedding_exposure(spark, opts.semantic_index, X.hash_embed(kept)).filter(
        F.col("exposure_bp") >= opts.semantic_blind_bp
    )
    _unlogged(spark, blind, blind_dir, "delta_id").write.mode("append").parquet(blind_dir)


def log_drift(spark: SparkSession, kept: DataFrame, batch_id: int, opts: StreamOptions,
              output_dir: str, seen: DataFrame | None) -> None:
    """`drift_report=True` turns on the ingest-time VOCABULARY-DRIFT
    sidecar -- the streaming twin of corpus_drift (operators/text.py):
    per batch, the DRIFT_TOP_K tokens whose basis-point share of the
    token mass moved most between the corpus-so-far (`seen`, snapshot
    0) and this batch's ADMITTED docs (snapshot 1) append to
    `{output_dir}_drift` (token, counts, shares, drift_bp, epoch) --
    the monitor that flags a topical shift or an upstream extraction
    regression while the batch that introduced it is still
    identifiable. Write-once per epoch and before the corpus commit,
    so a replayed (anti-join-emptied) batch can never rewrite the true
    report. The first batch has no baseline corpus and logs nothing;
    a batch that admits nothing has no snapshot-1 mass and logs
    nothing either (otherwise every corpus token would log drift_bp =
    -share_old_bp, reading as the whole vocabulary vanishing)."""
    if not opts.drift_report or seen is None:
        return
    drift_dir = f"{output_dir}_drift"
    if _epoch_logged(spark, drift_dir, batch_id) or not kept.limit(1).count():
        return
    both = seen.select(F.lit(0).alias("snapshot"), "text").unionByName(
        kept.select(F.lit(1).alias("snapshot"), "text")
    )
    report = X.corpus_drift(both, top_k=DRIFT_TOP_K).withColumn("epoch", F.lit(int(batch_id)))
    if report.limit(1).count():
        report.write.mode("append").parquet(drift_dir)


def commit(spark: SparkSession, kept: DataFrame, quarantine: DataFrame, output_dir: str,
           quarantine_dir: str) -> None:
    """Append the admitted docs to the language-partitioned corpus at
    `output_dir`, then the batch's quarantine rows to
    `quarantine_dir`. The corpus side's replay guard is exact_dedup's
    fingerprint anti-join; quarantine gets the same treatment on its
    deterministic sha256 error_id, so a batch that failed between the
    two appends and the checkpoint commit does not re-append the same
    error rows on retry."""
    kept.select(
        "doc_id", "text", "lang", "source", "ingest_time",
        "n_tokens", "alpha_ratio", "predicted_lang", "fingerprint", "has_pii",
    ).write.mode("append").partitionBy("predicted_lang").parquet(output_dir)
    quarantine = _unlogged(spark, quarantine, quarantine_dir, "error_id")
    if quarantine.limit(1).count():
        quarantine.write.mode("append").parquet(quarantine_dir)


def _append_overflow(spark: SparkSession, index: str, refused: DataFrame) -> None:
    """Append the rows the semantic index's cap refused to its
    overflow twin, which shares the capped index's `_meta`."""
    if not refused.limit(1).count():
        return
    over_path = f"{index}_overflow"
    if read_index_meta(spark, over_path) is None:
        write_index_meta(spark, over_path, read_index_meta(spark, index))
    _unlogged(spark, refused, f"{over_path}/buckets", ["vec_id", "table", "bucket"]).write.mode(
        "append"
    ).parquet(f"{over_path}/buckets")


def catch_up_semantic_index(spark: SparkSession, opts: StreamOptions, output_dir: str) -> None:
    """AFTER the corpus commit, catch the semantic index up to the
    corpus by its batch writer, materialize_embedding_lsh, at
    `semantic_max_bucket` (which docs are appended, the
    accumulated-width cap, `_meta` and `excluded` are its rule), over
    the hash-embedded vectors of only the corpus docs the index lacks:
    Spark does not push the writer's vec_id anti-join below
    hash_embed's projection. With `semantic_route_blind` the rows the
    cap refused are ALSO appended to the overflow twin that
    semantic_dedup's fallback probes. Self-healing like
    catch_up_near_dup_index."""
    index = opts.semantic_index
    if index is None:
        return
    todo = unindexed(
        spark.read.parquet(output_dir).select("doc_id", "text"),
        read_or_none(spark, f"{index}/buckets"),
        "doc_id",
        "vec_id",
    )
    vecs = X.hash_embed(todo)
    refused = D.materialize_embedding_lsh(vecs, index, max_bucket=opts.semantic_max_bucket)
    if opts.semantic_route_blind:
        _append_overflow(spark, index, refused)


def catch_up_near_dup_index(spark: SparkSession, opts: StreamOptions, output_dir: str) -> None:
    """AFTER the corpus commit (so near_dup_dedup never sees a batch's
    own docs in the index), materialize_minhash, called on the whole
    corpus, catches the index up to the docs it lacks at
    `near_dup_max_bucket` (its catch-up rule: per-sub-table anti-join,
    cap against the bucket's accumulated width). That form makes index
    maintenance SELF-HEALING: a crash between the corpus write and the
    index append leaves the index behind the corpus, and the next
    batch's catch-up repairs it; replays add nothing because the
    fingerprint anti-join empties the batch first. Without the cap one
    pathological band bucket (e.g. a boilerplate signature) would make
    every future batch probe quadratic, forever.

    Then the pair log is folded into CLUSTER ids (streaming/clusters.py
    catch_up_clusters; idempotent, marker-driven -- it repairs any
    previously crashed catch-up before advancing), so dropped docs
    keep attribution to their retained representative and components
    that later merge through a shared match get one id -- the labels
    agree with batch connected_components over the same pairs (read
    them back with streaming.clusters.streamed_clusters)."""
    if opts.near_dup_index is None:
        return
    D.materialize_minhash(
        spark.read.parquet(output_dir).select("doc_id", "text"),
        opts.near_dup_index,
        max_bucket=opts.near_dup_max_bucket,
    )
    catch_up_clusters(spark, opts.near_dup_index)


def run_document_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    opts: StreamOptions = StreamOptions(),
):
    """Drain the landing zone at `input_dir` (availableNow) into the
    language-partitioned corpus parquet at `output_dir`, running the
    stage functions of this module over each micro-batch in order.

    Exactly-once effect: the stream checkpoint prevents re-reading
    drained files, and exact_dedup's cross-batch fingerprint anti-join
    makes replayed or re-crawled content a no-op -- the same two-layer
    contract as run_stream_to_warehouse. Every sidecar log is guarded
    on its own key (epoch or doc_id), so a batch replayed after a
    mid-batch crash appends nothing twice."""
    build_decon_indexes(spark, opts, output_dir)

    def _sink(batch_df, batch_id):
        batch_df.persist()
        try:
            good, quarantine, probed = split_batch(spark, batch_df, batch_id, opts, output_dir)
            kept = document_features_batch(good, gates=opts.gates)
            kept = media_gate(spark, kept, batch_id, opts, output_dir, probed)
            kept = decontaminate(spark, kept, opts, output_dir)
            seen = read_or_none(spark, output_dir)  # None: first batch
            kept = exact_dedup(kept, seen)
            kept = near_dup_dedup(spark, kept, batch_id, opts)
            kept = semantic_dedup(spark, kept, opts)
            kept = temperature_policy(spark, kept, batch_id, opts, seen)
            kept = waterfill_policy(kept, opts, seen)
            kept = token_budget_policy(kept, opts, seen)
            log_decon_blind(spark, kept, opts, output_dir)
            log_semantic_blind(spark, kept, opts, output_dir)
            log_drift(spark, kept, batch_id, opts, output_dir, seen)
            commit(spark, kept, quarantine, output_dir, quarantine_dir)
            catch_up_semantic_index(spark, opts, output_dir)
            catch_up_near_dup_index(spark, opts, output_dir)
        finally:
            batch_df.unpersist()

    q = (
        read_landing(spark.readStream, input_dir, opts)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
