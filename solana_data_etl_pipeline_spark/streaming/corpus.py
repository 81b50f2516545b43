"""Streaming training-corpus assembly: the documents landing zone
ingested as a Structured Streaming job with the same gates the batch
corpus pipeline applies -- corrupt-line quarantine, fused per-doc
feature scoring, quality gates, PII flagging, and EXACT content dedup
with exactly-once effect across micro-batches and restarts.

This is the streaming twin of plans/corpus.py: a crawler drops JSONL
shards into the landing zone continuously; the corpus table only ever
receives gated, deduplicated, feature-annotated documents.

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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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

#: JSONL landing-zone shape for documents (ingest_time is the event
#: time stamped by the crawler/uploader). Explicitly TIMESTAMP_NTZ so
#: the parse behaves identically under any session timestampType --
#: under NTZ a zoned literal fails to parse, which in PERMISSIVE mode
#: silently corrupts the WHOLE row into quarantine.
DOC_LANDING_SCHEMA = (
    "doc_id long, text string, lang string, source string, ingest_time timestamp_ntz"
)


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


def temperature_rates(counts: DataFrame, tau: float, target_frac: float) -> DataFrame:
    """Per-source keep rates (basis points) under the mT5 p^tau recipe
    from a (source, n) count frame -- the same formula as
    operators/text.py temperature_mix, factored out so the STREAMING
    pipeline can compute rates over corpus-so-far + batch counts
    while the batch operator keeps computing them over its input."""
    tot = counts.agg(F.sum("n").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("_w", F.pow(F.col("n") / F.col("_tot"), F.lit(float(tau))))
        .withColumn("_wsum", F.sum("_w").over(Window.partitionBy()))
        .select(
            "source",
            F.least(
                F.lit(10_000),
                F.round(
                    F.lit(float(target_frac))
                    * F.col("_tot")
                    * (F.col("_w") / F.col("_wsum"))
                    / F.col("n")
                    * 10_000
                ).cast("long"),
            ).alias("rate_bp"),
        )
    )


def run_document_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    near_dup_index: str | None = None,
    near_dup_threshold: float = 0.5,
    near_dup_max_bucket: int | None = 64,
    temperature_tau: float | None = None,
    target_frac: float = 0.5,
    token_budget: int | None = None,
    waterfill_budget: int | None = None,
    policy_log_dir: str | None = None,
    gates: str = "simple",
    decontaminate_bench: str | None = None,
    decon_threshold: float = 0.5,
    decon_blind_bp: int = 5000,
    decon_route_blind: bool = False,
    semantic_index: str | None = None,
    semantic_threshold: float = 0.95,
    semantic_max_bucket: int | None = 64,
    semantic_blind_bp: int = 5000,
    semantic_route_blind: bool = False,
    media_health: bool = False,
    media_gate: bool = False,
    drift_report: bool = False,
    drift_top_k: int = 20,
):
    """Landing zone -> quarantine split -> gates + features ->
    (optional) benchmark DECONTAMINATION -> exact dedup -> (optional)
    NEAR-dup dedup -> (optional) SEMANTIC dedup -> language-
    partitioned corpus parquet.

    `semantic_index` enables embed-at-ingest semantic dedup: each
    batch is hash-embedded (operators/text.py hash_embed -- a
    deployment with a learned encoder swaps the vector source,
    nothing else changes) and probed against a continuously-grown
    embedding-LSH index via delta_embedding_dedup's drop rule, at
    delta cost; after each corpus write the index is caught up by its
    batch writer, materialize_embedding_lsh, at `semantic_max_bucket`
    (which docs are appended, the accumulated-width cap, `_meta` and
    `excluded` are its rule), over the hash-embedded vectors of only
    the corpus docs the index lacks. Runs AFTER exact and near-dup
    dedup so only novel content pays embedding cost; it catches what
    they miss (bag-of-words twins: permuted or re-ordered content).

    The semantic cap's blind spot is OBSERVED and optionally ACTED on,
    mirroring the decontamination family: the writer records every
    (table, bucket) the cap refused as `{semantic_index}/excluded`
    (bounded by the bucket DOMAIN -- n_tables x 2^planes), and docs
    whose probe routes are measurably blind -- >=
    `semantic_blind_bp` basis points of their buckets on that list
    (delta_embedding_exposure) -- are logged to
    `{output_dir}_semantic_blind` before the corpus commit. With
    `semantic_route_blind=True` the routing ACTS in-stream: the
    rows the writer refused are ALSO appended to an
    OVERFLOW twin (`{semantic_index}_overflow`, exactly the
    hot-bucket tail the capped index refuses), and measurably-blind
    docs take a second probe against it -- fallback hits drop before
    the corpus commit, the capped index keeps every batch probe
    cheap, and the overflow's full-width buckets are paid only by the
    measured-blind fraction; the blind log then records only docs the
    fallback VERIFIED clean. Unlike the decontamination fallback
    (whose uncapped twin is bounded by the static bench set), the
    overflow twin grows with the corpus's degenerate mass -- which is
    the honest cost of acting on embedding blindness, and still
    strictly cheaper than an uncapped index (it holds ONLY the
    over-cap tail).

    `decontaminate_bench` (a parquet docs table) blocks benchmark
    contamination AT INGEST: the bench set's winnowing index is built
    once before the stream starts, and each batch is probed against
    it with exact-containment verification at `decon_threshold`
    (delta cost per batch; the static index is the decontamination
    twin of the continuously-grown near-dup index). Docs the index is
    (partially) BLIND to -- >= `decon_blind_bp` basis points of their
    winnow fingerprints on the index's over-cap excluded list
    (delta_containment_exposure) -- are still admitted but logged to
    `{output_dir}_decon_blind` before the corpus commit (the pair-log
    replay stance), so an operator can route them to the uncapped
    batch check instead of trusting a verdict the cap hollowed out.
    With `decon_route_blind=True` that routing ACTS in-stream: blind
    docs take a second containment probe against an UNCAPPED twin of
    the bench index (built once beside the capped one), and fallback
    hits are dropped before the corpus commit -- the cap keeps batch
    probes cheap, the fallback pays full-bucket cost only for the
    measured-blind fraction, and the blind log then records only
    docs the fallback VERIFIED clean. The uncapped probe's candidate
    width is bounded by the bench-set contract (a fixed benchmark
    suite), not by the growing corpus, so the routed path stays
    delta-cost.

    Exactly-once effect: the stream checkpoint prevents re-reading
    drained files, and the cross-batch fingerprint anti-join makes
    replayed or re-crawled content a no-op -- the same two-layer
    contract as run_stream_to_warehouse. Malformed lines and rows
    missing doc_id land as etl_errors-shaped quarantine rows instead
    of vanishing; the quarantine append is guarded by the same
    anti-join pattern on the deterministic sha256 error_id, so a batch
    replayed after a mid-batch crash does not duplicate error rows
    either.

    With `near_dup_index`, each batch is ALSO near-dup-deduplicated
    (MinHash-LSH + exact Jaccard verify) against the corpus ingested
    so far, via the materialized index operators
    (operators/dedup.py materialize_minhash /
    delta_dedup_materialized): the batch probes the index -- O(batch)
    work, the corpus is never rescanned -- and after the corpus write
    materialize_minhash, called on the whole corpus, catches the index
    up to the docs it lacks at `near_dup_max_bucket` (its catch-up
    rule: per-sub-table anti-join, cap against the bucket's
    accumulated width). That form makes index maintenance
    SELF-HEALING: a crash between the corpus write and the index
    append leaves the index behind the corpus, and the next batch's
    catch-up repairs it; replays add nothing because the fingerprint
    anti-join empties the batch first. Near-dup runs after exact
    dedup, so only novel content pays signature cost. Without the cap
    one pathological band bucket (e.g. a boilerplate signature) would
    make every future batch probe quadratic, forever.

    Streaming CURATION POLICIES (the streaming half of the composed
    corpus_curation plan) are applied per batch, after dedup:

    - `temperature_tau`: mT5 temperature-scaled source rebalancing.
      Rates are recomputed each batch from corpus-so-far + batch
      source counts (streaming curation's honest form: the policy
      tracks the corpus as it grows, exactly how production pipelines
      periodically refresh mix rates), applied to the batch with the
      deterministic hash-mod gate, and -- when `policy_log_dir` is set
      -- logged per epoch as (epoch, source, rate_bp) so every
      admission decision is auditable after the fact.
    - `waterfill_budget`: the ALLOCATION-CONSTRAINED form of the token
      budget (corpus_curation_v3's mix stage made incremental): each
      batch recomputes per-source capacities over corpus-so-far +
      batch, waterfills the budget across sources at tau=0.5 weights
      (w = floor(sqrt(capacity))), and each source spends only its
      remaining allocation (allocation minus tokens it already
      committed), selecting its best batch docs greedily by
      alpha_ratio. Short sources saturate and their unmet share
      redistributes -- the source balance the plain budget gate
      cannot express. Deterministic given the ingest history.
    - `token_budget`: a hard cap on total corpus tokens. Each batch
      computes the remaining budget (budget - corpus tokens so far)
      and admits its best-scored docs within it via the batch
      token_budget_select machinery (highest alpha_ratio buckets
      first, whole-bucket granularity); once the corpus reaches the
      budget, later batches admit nothing.

    Both compose with exactly-once: a replayed batch is emptied by the
    fingerprint anti-join BEFORE the policy stages, so counts are
    never double-applied, and the policy log append is keyed by epoch.

    Near-dup runs also maintain CLUSTER ids continuously
    (streaming/clusters.py): every verified pair is logged per epoch
    and folded into an incrementally-maintained component-id table, so
    dropped docs keep attribution to their retained representative and
    components that later merge through a shared match get one id --
    the labels agree with batch connected_components over the same
    pairs (read them back with streaming.clusters.streamed_clusters).

    `media_health=True` turns on BINARY SIDECAR ingestion: the landing
    schema grows optional `media_b64`/`modality` columns, and each
    batch's media payloads are base64-decoded and probed through the
    REAL codec registry (operators/multimodal.py DECODERS -- wave for
    audio, struct-parsed BMP/AVI for image/video) map-side. Per-batch
    per-modality counts (n_ok, n_bad, total_bytes) append to
    `{output_dir}_media_health` write-once per epoch, and docs whose
    payload FAILS its codec land in `{output_dir}_media_quarantine`
    (doc_id, modality, error, epoch) under a doc_id anti-join --
    media corruption quarantines the MEDIA, not the document: the
    text pipeline admits the doc regardless, and an operator reads
    the quarantine to re-fetch or drop the payloads. The sidecar runs
    on arriving docs BEFORE dedup/policies (corruption is a property
    of the upload, not of curation), so its idempotency comes from
    its own guards (epoch key + doc_id anti-join), not from the
    fingerprint anti-join.

    `media_gate=True` (requires `media_health`) is the STREAMING twin
    of corpus_curation_v4's media gate: docs whose audio payload
    DECODES cleanly but whose decoded features violate the v4 bounds
    (duration outside [V4_MEDIA_MIN_FRAMES, V4_MEDIA_MAX_FRAMES]
    frames, or RMS below V4_MEDIA_MIN_RMS -- the near-silence floor)
    are DROPPED before the corpus commit and logged to
    `{output_dir}_media_gated` (doc_id, n_frames, rms, epoch; doc_id
    anti-join idempotency). Unlike corruption -- a property of the
    upload, quarantined without touching the doc -- a feature-bound
    violation is a CURATION verdict on real decoded content, so it
    gates the document exactly as the batch pipeline does. Docs with
    no media, non-audio media, or failed decodes (already
    quarantined) pass through ungated.

    `drift_report=True` turns on the ingest-time VOCABULARY-DRIFT
    sidecar -- the streaming twin of corpus_drift: per batch, the
    `drift_top_k` tokens whose basis-point share of the token mass
    moved most between the corpus-so-far and this batch's admitted
    docs append to `{output_dir}_drift` (token, counts, shares,
    drift_bp, epoch), write-once per epoch and BEFORE the corpus
    commit so a replayed (anti-join-emptied) batch can never rewrite
    the true report. The first batch has no baseline and logs
    nothing."""
    from solana_data_etl_pipeline_spark.sinks.quarantine import (
        CORRUPT_COL,
        split_corrupt,
        with_corrupt_column,
    )
    from pyspark.sql.types import StructType

    landing_ddl = DOC_LANDING_SCHEMA + (
        ", media_b64 string, modality string" if media_health else ""
    )
    schema = with_corrupt_column(StructType.fromDDL(landing_ddl))
    raw = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(input_dir)
    )

    from solana_data_etl_pipeline_spark.operators import dedup as D
    from solana_data_etl_pipeline_spark.streaming.clusters import (
        append_pairs,
        catch_up_clusters,
    )

    def _epoch_logged(path: str, epoch: int) -> bool:
        """Whether the write-once-per-epoch log at `path` already holds
        `epoch` (False before the log's first write)."""
        log = read_or_none(spark, path)
        return log is not None and bool(log.filter(F.col("epoch") == epoch).limit(1).count())

    def _unlogged(rows: DataFrame, path: str, key: str | list[str]) -> DataFrame:
        """`rows` whose `key` the append-only log at `path` does not
        hold yet: the replay guard of every idempotent append here."""
        return unindexed(rows, read_or_none(spark, path), key)

    def _near_dup_matches(kept):
        """(corpus_hits, delta_pairs) of `kept` against the index --
        both eagerly checkpointed so the one probe execution feeds the
        keep/drop decision AND the cluster pair log. Falls back to
        batch-internal pairs only before the index exists (narrow
        probe: only the path-probing read may mean "first batch")."""
        if read_or_none(spark, f"{near_dup_index}/bands") is None:
            pairs = D.minhash_lsh_pairs(kept, threshold=near_dup_threshold)
            return None, pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
        hits, dpairs = D.delta_match_pairs(
            spark, near_dup_index, kept, threshold=near_dup_threshold
        )
        return (
            hits.localCheckpoint(eager=True),
            dpairs.localCheckpoint(eager=True),
        )

    def _near_dup_keep_ids(kept, hits, dpairs):
        """doc_ids of `kept` that survive near-dup dedup: drop docs
        that verified against the corpus index, or against a
        smaller-id doc within the batch (delta_dedup_materialized's
        drop rule, derived from the already-checkpointed pairs)."""
        dropped = dpairs.select(F.col("doc_b").alias("doc_id"))
        if hits is not None:
            dropped = dropped.unionByName(hits.select(F.col("delta_id").alias("doc_id")))
        return kept.select("doc_id").join(
            F.broadcast(dropped.distinct()), "doc_id", "left_anti"
        )

    def _semantic_keep_ids(kept: DataFrame) -> DataFrame:
        """doc_ids of `kept` that survive SEMANTIC dedup: the batch is
        hash-embedded (the model-free encoder; a deployment with a
        learned encoder swaps the vector source, nothing else) and
        probed against the materialized embedding-LSH index at delta
        cost -- delta_embedding_dedup's drop rule (cosine-verified
        against any index vector sharing a bucket, or a smaller-id
        batch vector). Before the index exists, batch-internal pairs
        only (the same narrow fallback as _near_dup_matches)."""
        from solana_data_etl_pipeline_spark.operators.text import hash_embed

        vecs = hash_embed(kept)
        if read_or_none(spark, f"{semantic_index}/buckets") is None:
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
                threshold=semantic_threshold,
                max_bucket=semantic_max_bucket,
                n_tables=D.EMBED_INDEX_TABLES,
                coverage_floor=None,
            )
            dropped = pairs.select(F.col("vec_b").alias("doc_id")).distinct()
            return kept.select("doc_id").join(
                F.broadcast(dropped), "doc_id", "left_anti"
            )
        survivors = D.delta_embedding_dedup(
            spark, semantic_index, vecs, threshold=semantic_threshold
        )
        if semantic_route_blind:
            # exposure-routed fallback (the embedding mirror of
            # decon_route_blind): survivors whose probe routes are
            # measurably blind take a second probe against the
            # OVERFLOW twin -- exactly the rows the cap rejected --
            # and fallback hits drop here, before the corpus commit.
            # Both reads are narrow path probes: no excluded list /
            # no overflow means nothing has ever over-capped.
            if (
                read_or_none(spark, f"{semantic_index}/excluded") is None
                or read_or_none(spark, f"{semantic_index}_overflow/buckets") is None
            ):
                return survivors.select(F.col("vec_id").alias("doc_id"))
            blind = (
                D.delta_embedding_exposure(spark, semantic_index, vecs)
                .filter(F.col("exposure_bp") >= semantic_blind_bp)
                .select(F.col("delta_id").alias("vec_id"))
            )
            blind_vecs = vecs.join(
                F.broadcast(survivors.select("vec_id").join(blind, "vec_id", "left_semi")),
                "vec_id",
                "left_semi",
            )
            fallback_ok = D.delta_embedding_dedup(
                spark,
                f"{semantic_index}_overflow",
                blind_vecs,
                threshold=semantic_threshold,
            )
            caught = blind_vecs.select("vec_id").join(
                F.broadcast(fallback_ok.select("vec_id")), "vec_id", "left_anti"
            )
            survivors = survivors.select("vec_id").join(
                F.broadcast(caught), "vec_id", "left_anti"
            )
        return survivors.select(F.col("vec_id").alias("doc_id"))

    def _append_overflow(refused: DataFrame) -> None:
        """Append the rows the semantic index's cap refused to its
        overflow twin, which shares the capped index's `_meta`."""
        if not refused.limit(1).count():
            return
        over_path = f"{semantic_index}_overflow"
        if read_index_meta(spark, over_path) is None:
            write_index_meta(spark, over_path, read_index_meta(spark, semantic_index))
        _unlogged(refused, f"{over_path}/buckets", ["vec_id", "table", "bucket"]).write.mode(
            "append"
        ).parquet(f"{over_path}/buckets")

    def _apply_policies(kept: DataFrame, seen: DataFrame | None, batch_id: int) -> DataFrame:
        """Streaming curation policies over one batch (see docstring):
        temperature rates from corpus-so-far + batch counts, then the
        remaining-token-budget selection. Both deterministic given the
        ingest history; both no-ops on replay-emptied batches."""
        if temperature_tau is not None:
            # Eagerly checkpoint the tiny per-source count frame: it is
            # the ONLY evaluation of the batch's feature/dedup pipeline
            # this policy stage triggers, and both the non-empty log
            # guard below and the corpus-so-far union reuse it instead
            # of re-running the batch plan.
            batch_counts = (
                kept.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            batch_nonempty = bool(batch_counts.limit(1).count())
            counts = batch_counts
            if seen is not None:
                counts = (
                    batch_counts.unionByName(
                        seen.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                    )
                    .groupBy("source")
                    .agg(F.sum("n").alias("n"))
                )
            rates = temperature_rates(counts, temperature_tau, target_frac).localCheckpoint(
                eager=True
            )
            if (
                policy_log_dir is not None
                and batch_nonempty
                and not _epoch_logged(policy_log_dir, batch_id)
            ):
                rates.withColumn("epoch", F.lit(int(batch_id))).write.mode(
                    "append"
                ).parquet(policy_log_dir)
            bucket = (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
                ).cast("long")
                % 10_000
            )
            kept = (
                kept.join(F.broadcast(rates), "source")
                .filter(bucket < F.col("rate_bp"))
                .drop("rate_bp")
            )
        if waterfill_budget is not None:
            # per-source capacities over corpus-so-far + batch; all
            # frames here are SOURCES-sized (the planner's contract)
            batch_tok = kept.groupBy("source").agg(
                F.sum("n_tokens").alias("capacity")
            ).localCheckpoint(eager=True)
            caps = batch_tok
            committed = None
            if seen is not None:
                committed = (
                    seen.groupBy("source")
                    .agg(F.sum("n_tokens").alias("done"))
                    .localCheckpoint(eager=True)
                )
                caps = (
                    batch_tok.unionByName(
                        committed.select("source", F.col("done").alias("capacity"))
                    )
                    .groupBy("source")
                    .agg(F.sum("capacity").alias("capacity"))
                )
            caps = caps.withColumn(
                "weight",
                F.greatest(
                    F.floor(F.sqrt(F.col("capacity").cast("double"))), F.lit(1)
                ).cast("long"),
            )
            alloc = X.mixture_waterfill(caps, budget=int(waterfill_budget)).select(
                "source", "alloc"
            )
            if committed is not None:
                alloc = (
                    alloc.join(committed, "source", "left")
                    .select(
                        "source",
                        F.greatest(
                            F.col("alloc") - F.coalesce(F.col("done"), F.lit(0)),
                            F.lit(0),
                        ).alias("alloc"),
                    )
                )
            wsel = (
                Window.partitionBy("source")
                .orderBy(F.col("alpha_ratio").desc(), F.col("doc_id").asc())
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            kept = (
                kept.join(F.broadcast(alloc), "source")
                .withColumn("_cum", F.sum("n_tokens").over(wsel))
                .filter(F.col("_cum") <= F.col("alloc"))
                .drop("_cum", "alloc")
            )
        if token_budget is not None:
            used = 0
            if seen is not None:
                used = seen.agg(F.sum("n_tokens")).collect()[0][0] or 0
            remaining = int(token_budget) - int(used)
            if remaining <= 0:
                kept = kept.filter(F.lit(False))
            else:
                kept = X.token_budget_select(
                    kept, remaining, score_col="alpha_ratio", weight_col="n_tokens"
                )
        return kept

    # benchmark decontamination at INGEST: the bench set is static, so
    # its winnowing index (fingerprints + shingle sets, bucket-capped)
    # is built ONCE before the stream starts and every batch probes it
    # at delta cost (operators/dedup.py delta_containment) -- the
    # containment evidence catches a bench doc quoted whole inside a
    # crawled page, which Jaccard-based near-dup under-scores.
    decon_index = None
    decon_uncapped = None
    if decontaminate_bench is not None:
        decon_index = f"{output_dir}_decon_index"
        if read_or_none(spark, f"{decon_index}/fingerprints") is None:
            D.materialize_winnow(
                spark.read.parquet(decontaminate_bench).select("doc_id", "text"),
                decon_index,
                max_bucket=near_dup_max_bucket,
            )
        if decon_route_blind:
            # the uncapped TWIN: probed only by measured-blind docs,
            # so its hot buckets cost full width exactly where the
            # capped verdict is hollow and nowhere else
            decon_uncapped = f"{decon_index}_full"
            if read_or_none(spark, f"{decon_uncapped}/fingerprints") is None:
                D.materialize_winnow(
                    spark.read.parquet(decontaminate_bench).select("doc_id", "text"),
                    decon_uncapped,
                    max_bucket=None,
                )

    def _media_sidecar(good: DataFrame, batch_id: int) -> None:
        """Probe the batch's binary payloads through the real codec
        registry and persist the health/quarantine sidecars (see the
        run_document_stream docstring). Decode is Arrow-batched
        map-side (the payload never shuffles); both appends are
        replay-idempotent on their own keys."""
        import pandas as _pd
        from pyspark.sql import types as T

        probe_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("modality", T.StringType()),
                T.StructField("byte_len", T.LongType()),
                T.StructField("ok", T.IntegerType()),
                T.StructField("error", T.StringType()),
                # decoded FEATURES (audio only; null otherwise) -- the
                # media_gate reads these, the v4 bounds applied
                # in-stream
                T.StructField("n_frames", T.LongType()),
                T.StructField("rms", T.DoubleType()),
            ]
        )

        def probe(batches):
            import numpy as _np

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
                                (
                                    int(((s.astype(_np.int64) - 128) ** 2).sum())
                                    / s.size
                                )
                                ** 0.5
                                if s.size
                                else None
                            )
                    except Exception as e:  # a real codec rejecting real bytes
                        ok, err = 0, f"{type(e).__name__}: {e}"[:200]
                    rows.append(
                        {
                            "doc_id": mid,
                            "modality": mod,
                            "byte_len": len(b),
                            "ok": ok,
                            "error": err,
                            "n_frames": nf,
                            "rms": rms,
                        }
                    )
                yield _pd.DataFrame(
                    rows, columns=[f.name for f in probe_schema.fields]
                )

        mm = good.filter(F.col("media_b64").isNotNull()).select(
            "doc_id",
            F.coalesce(F.col("modality"), F.lit("unknown")).alias("modality"),
            F.unbase64(F.col("media_b64")).alias("payload"),
        )
        probed = mm.mapInPandas(probe, schema=probe_schema).localCheckpoint(eager=True)
        if not probed.limit(1).count():
            return None
        health_dir = f"{output_dir}_media_health"
        if not _epoch_logged(health_dir, batch_id):
            probed.groupBy("modality").agg(
                F.sum("ok").cast("long").alias("n_ok"),
                F.sum(1 - F.col("ok")).cast("long").alias("n_bad"),
                F.sum("byte_len").cast("long").alias("total_bytes"),
            ).withColumn("epoch", F.lit(int(batch_id))).write.mode("append").parquet(
                health_dir
            )
        bad = probed.filter(F.col("ok") == 0).select(
            "doc_id", "modality", "error", F.lit(int(batch_id)).alias("epoch")
        )
        mq_dir = f"{output_dir}_media_quarantine"
        bad = _unlogged(bad, mq_dir, "doc_id")
        if bad.limit(1).count():
            bad.write.mode("append").parquet(mq_dir)
        return probed

    def _sink(batch_df, batch_id):
        batch_df.persist()
        try:
            good, quarantine = split_corrupt(batch_df, required_col="doc_id")
            media_probed = None
            if media_health:
                media_probed = _media_sidecar(good, batch_id)
                good = good.drop("media_b64")
            kept = document_features_batch(good, gates=gates)
            if media_gate and media_probed is not None:
                # the streaming twin of corpus_curation_v4's media
                # gate (docstring): cleanly-decoded audio whose
                # features violate the v4 bounds gates the DOCUMENT,
                # logged pre-commit with doc_id anti-join idempotency
                gated = media_probed.filter(
                    (F.col("modality") == "audio")
                    & (F.col("ok") == 1)
                    & (
                        ~F.col("n_frames").between(
                            V4_MEDIA_MIN_FRAMES, V4_MEDIA_MAX_FRAMES
                        )
                        | (F.round("rms", 4) < V4_MEDIA_MIN_RMS)
                    )
                ).select("doc_id", "n_frames", F.round("rms", 4).alias("rms"))
                gated = gated.localCheckpoint(eager=True)
                gate_dir = f"{output_dir}_media_gated"
                log_rows = _unlogged(
                    gated.withColumn("epoch", F.lit(int(batch_id))), gate_dir, "doc_id"
                )
                if log_rows.limit(1).count():
                    log_rows.write.mode("append").parquet(gate_dir)
                kept = kept.join(
                    F.broadcast(gated.select("doc_id")), "doc_id", "left_anti"
                )
            if decon_index is not None:
                contaminated = (
                    D.delta_containment(
                        spark, decon_index, kept, threshold=decon_threshold
                    )
                    .select(F.col("delta_id").alias("doc_id"))
                    .distinct()
                )
                kept = kept.join(F.broadcast(contaminated), "doc_id", "left_anti")
                if decon_uncapped is not None:
                    # exposure-routed fallback: docs the capped index
                    # is measurably blind to take the UNCAPPED check;
                    # fallback hits drop here, before dedup/policies
                    exposed = (
                        D.delta_containment_exposure(spark, decon_index, kept)
                        .filter(F.col("exposure_bp") >= decon_blind_bp)
                        .select(F.col("delta_id").alias("doc_id"))
                    )
                    blind_docs = kept.join(
                        F.broadcast(exposed), "doc_id", "left_semi"
                    )
                    caught = (
                        D.delta_containment(
                            spark,
                            decon_uncapped,
                            blind_docs,
                            threshold=decon_threshold,
                        )
                        .select(F.col("delta_id").alias("doc_id"))
                        .distinct()
                    )
                    kept = kept.join(F.broadcast(caught), "doc_id", "left_anti")
            # cross-batch dedup: drop content already in the corpus
            # (narrow try: only the path-probing read may mean "first
            # batch" -- a failure in the join itself must propagate)
            seen = read_or_none(spark, output_dir)  # None: first batch
            if seen is not None:
                kept = kept.join(
                    seen.select("fingerprint").distinct(), "fingerprint", "left_anti"
                )
            if near_dup_index:
                hits, dpairs = _near_dup_matches(kept)
                # pair log BEFORE the corpus write: once the corpus
                # commits, a replayed batch is emptied by the
                # fingerprint anti-join and the pairs would be
                # unrecoverable (append_pairs is write-once per epoch,
                # so the replay's empty recompute cannot erase them)
                all_pairs = dpairs
                if hits is not None:
                    all_pairs = all_pairs.unionByName(
                        hits.select(
                            F.col("delta_id").alias("doc_a"),
                            F.col("corpus_id").alias("doc_b"),
                        )
                    )
                append_pairs(spark, near_dup_index, all_pairs, epoch=batch_id)
                kept = kept.join(
                    F.broadcast(_near_dup_keep_ids(kept, hits, dpairs)),
                    "doc_id",
                    "left_semi",
                )
            if semantic_index:
                kept = kept.join(
                    F.broadcast(_semantic_keep_ids(kept)), "doc_id", "left_semi"
                )
            if (
                temperature_tau is not None
                or token_budget is not None
                or waterfill_budget is not None
            ):
                kept = _apply_policies(kept, seen, batch_id)
            if decon_index is not None:
                # blind-spot log BEFORE the corpus write (the pair-log
                # stance: once the corpus commits, a replayed batch is
                # emptied by the fingerprint anti-join and the rows
                # would be unrecoverable); doc_id anti-join guards the
                # retry-after-log-commit case
                blind_dir = f"{output_dir}_decon_blind"
                blind = D.delta_containment_exposure(
                    spark, decon_index, kept
                ).filter(F.col("exposure_bp") >= decon_blind_bp)
                _unlogged(blind, blind_dir, "delta_id").write.mode("append").parquet(
                    blind_dir
                )
            if semantic_index:
                # the embedding family's blind-spot log, same stance
                # as the decon one above: docs being ADMITTED whose
                # semantic-dedup verdict the cap hollowed out, written
                # before the corpus commit. In routed mode fallback
                # catches were already dropped from `kept`, so the log
                # records only docs the fallback verified clean. A
                # missing or empty excluded list (an index build writes
                # it even when empty) means nothing has ever over-capped.
                from solana_data_etl_pipeline_spark.operators.text import hash_embed

                excluded = read_or_none(spark, f"{semantic_index}/excluded")
                if excluded is not None and excluded.limit(1).count():
                    sem_blind_dir = f"{output_dir}_semantic_blind"
                    sem_blind = D.delta_embedding_exposure(
                        spark, semantic_index, hash_embed(kept)
                    ).filter(F.col("exposure_bp") >= semantic_blind_bp)
                    _unlogged(sem_blind, sem_blind_dir, "delta_id").write.mode(
                        "append"
                    ).parquet(sem_blind_dir)
            if drift_report and seen is not None:
                # the streaming twin of corpus_drift (operators/
                # text.py): per batch, the top-k tokens whose share of
                # the token mass moved most between the corpus-so-far
                # (snapshot 0) and this batch's ADMITTED docs
                # (snapshot 1) -- the ingest-time monitor that flags a
                # topical shift or an upstream extraction regression
                # while the batch that introduced it is still
                # identifiable. Written BEFORE the corpus commit
                # (the pair-log stance) and write-once per epoch, so
                # a replayed batch -- whose kept set the fingerprint
                # anti-join empties -- can never overwrite the true
                # report. No report for the first batch: there is no
                # baseline corpus to drift from.
                from solana_data_etl_pipeline_spark.operators.text import (
                    corpus_drift,
                )

                drift_dir = f"{output_dir}_drift"
                # Empty admitted set => no snapshot-1 mass, so there is
                # nothing to drift FROM: without this gate count_new
                # floors _tot_new to 1 and every corpus token logs
                # drift_bp = -share_old_bp, reading as "the entire
                # vocabulary vanished" (ADVICE r10). Mirrors the
                # first-batch no-baseline rule on the other side.
                if not _epoch_logged(drift_dir, batch_id) and kept.limit(1).count():
                    both = seen.select(
                        F.lit(0).alias("snapshot"), "text"
                    ).unionByName(kept.select(F.lit(1).alias("snapshot"), "text"))
                    report = corpus_drift(both, top_k=drift_top_k).withColumn(
                        "epoch", F.lit(int(batch_id))
                    )
                    if report.limit(1).count():
                        report.write.mode("append").parquet(drift_dir)
            kept.select(
                "doc_id",
                "text",
                "lang",
                "source",
                "ingest_time",
                "n_tokens",
                "alpha_ratio",
                "predicted_lang",
                "fingerprint",
                "has_pii",
            ).write.mode("append").partitionBy("predicted_lang").parquet(output_dir)
            # replay guard: the corpus side is protected by the
            # fingerprint anti-join above; give quarantine the same
            # treatment on its deterministic error_id so a batch that
            # failed between this append and the checkpoint commit
            # doesn't re-append the same error rows on retry
            quarantine = _unlogged(quarantine, quarantine_dir, "error_id")
            if quarantine.limit(1).count():
                quarantine.write.mode("append").parquet(quarantine_dir)
            if semantic_index:
                # AFTER the corpus write (same reasoning as the
                # near-dup catch-up below). Only the docs the index
                # lacks are embedded: Spark does not push the writer's
                # vec_id anti-join below hash_embed's projection.
                from solana_data_etl_pipeline_spark.operators.text import hash_embed

                todo = unindexed(
                    spark.read.parquet(output_dir).select("doc_id", "text"),
                    read_or_none(spark, f"{semantic_index}/buckets"),
                    "doc_id",
                    "vec_id",
                )
                refused = D.materialize_embedding_lsh(
                    hash_embed(todo), semantic_index, max_bucket=semantic_max_bucket
                )
                if semantic_route_blind:
                    _append_overflow(refused)
            if near_dup_index:
                # AFTER the corpus write, so the dedup above never sees
                # this batch's own docs in the index; the writer appends
                # only the corpus docs the index lacks
                D.materialize_minhash(
                    spark.read.parquet(output_dir).select("doc_id", "text"),
                    near_dup_index,
                    max_bucket=near_dup_max_bucket,
                )
                # fold the pair log into cluster ids (idempotent,
                # marker-driven -- repairs any previously crashed
                # catch-up before advancing)
                catch_up_clusters(spark, near_dup_index)
        finally:
            batch_df.unpersist()

    writer = (
        raw.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
