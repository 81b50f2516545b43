"""CLI entry points (reference O8, src/main.rs:13-66).

Subcommands mirror the reference: backfill / incremental / health /
analytics. `--fixtures` swaps the network RPC client for the offline
deterministic fixture chain so every command is runnable without
credentials or connectivity.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

from solana_data_etl_pipeline_spark.config import Config


def _client(args):
    if args.fixtures:
        from solana_data_etl_pipeline_spark.sources.fixtures import FixtureRpcClient

        return FixtureRpcClient(tip=args.fixture_tip)
    from solana_data_etl_pipeline_spark.sources.rpc import RpcClient

    return RpcClient()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="solana-etl-spark")
    parser.add_argument("--warehouse-path", default=None, help="override WAREHOUSE_PATH")
    parser.add_argument("--fixtures", action="store_true", help="use the offline fixture chain")
    parser.add_argument("--fixture-tip", type=int, default=100)
    sub = parser.add_subparsers(dest="command", required=True)

    p_back = sub.add_parser("backfill", help="bulk ingest a slot range")
    p_back.add_argument("--start-slot", type=int, required=True)
    p_back.add_argument("--end-slot", type=int, required=True)
    p_back.add_argument("--workers", type=int, default=4)

    p_inc = sub.add_parser("incremental", help="continuous delta ingest")
    p_inc.add_argument("--interval", type=int, default=30)
    p_inc.add_argument("--max-iterations", type=int, default=None)

    sub.add_parser("health", help="source connectivity check")

    p_sql = sub.add_parser(
        "sql",
        help="ad-hoc SQL over the warehouse (every parquet table under "
        "the warehouse path is registered as a view by directory name)",
    )
    p_sql.add_argument("--query", "-q", required=True, help="SQL to run")
    p_sql.add_argument(
        "--format",
        choices=["show", "jsonl"],
        default="show",
        help="show = pretty table (first 50 rows); jsonl = one JSON object per row",
    )

    p_ana = sub.add_parser("analytics", help="recompute analytics tables")
    p_ana.add_argument("--as-of", default=None, help="ISO timestamp; default = max block_time")

    # Every stream option's dest is its StreamOptions field name and an
    # option left out is absent from the namespace, so the dataclass
    # holds the only defaults; the other flags set theirs explicitly.
    p_scorp = sub.add_parser(
        "stream-corpus",
        help="continuously assemble the corpus from a JSONL document landing zone",
        argument_default=argparse.SUPPRESS,
    )
    p_scorp.add_argument("--input", required=True, help="landing-zone directory (JSONL shards)")
    p_scorp.add_argument("--output", default=None, help="corpus dir (default <warehouse>/corpus_stream)")
    p_scorp.add_argument(
        "--near-dup",
        action="store_true",
        default=False,
        help="also near-dup dedup each batch against a maintained minhash index",
    )
    p_scorp.add_argument(
        "--semantic-dedup",
        action="store_true",
        default=False,
        help="also SEMANTIC-dedup each batch: hash-embed the docs and "
        "probe a maintained embedding-LSH index (drops bag-of-words "
        "twins exact/minhash dedup misses)",
    )
    p_scorp.add_argument(
        "--semantic-threshold",
        type=float,
        help="cosine threshold for --semantic-dedup (default 0.95)",
    )
    p_scorp.add_argument(
        "--semantic-blind-bp",
        type=int,
        help="log admitted docs whose embedding-LSH buckets are at "
        "least this many basis points on the semantic index's "
        "over-cap excluded list (the probe is blind to them) to "
        "<out>/documents_semantic_blind",
    )
    p_scorp.add_argument(
        "--semantic-route-blind",
        action="store_true",
        help="act on the semantic blind-spot signal: docs at or over "
        "--semantic-blind-bp exposure take a second probe against the "
        "OVERFLOW twin (exactly the rows the bucket cap rejected), "
        "and fallback hits are dropped before the corpus commit (the "
        "blind log then holds only fallback-verified docs)",
    )
    p_scorp.add_argument(
        "--compact-clusters",
        action="store_true",
        default=False,
        help="after the drain, fold the near-dup cluster remap log into the per-doc table",
    )
    p_scorp.add_argument(
        "--compact-indexes",
        action="store_true",
        default=False,
        help="after the drain, compact the maintained LSH indexes' "
        "per-batch append files into ~target-sized files clustered on "
        "their probe-join keys (crash-safe swap; probe verdicts "
        "unchanged)",
    )
    p_scorp.add_argument(
        "--temperature-tau",
        type=float,
        help="mT5 temperature-scaled source rebalancing per batch (rates "
        "from corpus-so-far + batch counts, logged per epoch under "
        "<out>/policy_rates)",
    )
    p_scorp.add_argument(
        "--target-frac",
        type=float,
        help="overall take fraction for --temperature-tau (default 0.5)",
    )
    p_scorp.add_argument(
        "--token-budget",
        type=int,
        help="hard cap on total corpus tokens; each batch admits its "
        "best-scored docs within the remaining budget",
    )
    p_scorp.add_argument(
        "--waterfill-budget",
        type=int,
        help="allocation-constrained token budget: waterfilled across "
        "sources at tau=0.5 weights over corpus-so-far capacities; "
        "each source spends only its remaining allocation (the "
        "corpus_curation_v3 mix stage, incremental)",
    )
    p_scorp.add_argument(
        "--decontaminate",
        dest="decontaminate_bench",
        metavar="BENCH_PARQUET",
        help="block benchmark contamination at ingest: batches are "
        "probed against the bench set's winnowing index with exact "
        "containment verification",
    )
    p_scorp.add_argument(
        "--decon-threshold",
        type=float,
        help="containment verify threshold for --decontaminate (default 0.5)",
    )
    p_scorp.add_argument(
        "--decon-blind-bp",
        type=int,
        help="log admitted docs whose winnow-fingerprint mass is at "
        "least this many basis points on the bench index's over-cap "
        "excluded list (the probe is blind to them) to "
        "<out>/documents_decon_blind",
    )
    p_scorp.add_argument(
        "--decon-route-blind",
        action="store_true",
        help="act on the blind-spot signal: docs at or over "
        "--decon-blind-bp exposure take a second containment probe "
        "against an UNCAPPED twin of the bench index, and fallback "
        "hits are dropped before the corpus commit (the blind log "
        "then holds only fallback-verified docs)",
    )
    p_scorp.add_argument(
        "--media-health",
        action="store_true",
        help="binary sidecar ingestion: base64 media payloads "
        "(media_b64/modality landing columns) are probed through the "
        "real codec registry per batch; per-modality health appends "
        "to <out>/documents_media_health and failing payloads to "
        "<out>/documents_media_quarantine (the doc itself is still "
        "admitted by the text pipeline)",
    )
    p_scorp.add_argument(
        "--media-gate",
        action="store_true",
        help="with --media-health: the streaming twin of the v4 media "
        "gate -- docs whose audio payload decodes cleanly but whose "
        "DECODED duration/RMS violate the v4 bounds are dropped "
        "before the corpus commit and logged to "
        "<out>/documents_media_gated",
    )
    p_scorp.add_argument(
        "--drift-report",
        action="store_true",
        help="ingest-time vocabulary-drift sidecar (the streaming "
        "twin of corpus_drift): per batch, the top tokens whose "
        "basis-point share moved most between the corpus-so-far and "
        "the batch's admitted docs append to <out>/documents_drift "
        "(write-once per epoch; first batch has no baseline)",
    )
    p_scorp.add_argument(
        "--gates",
        help="quality-gate generation (default simple): 'simple' = MIN_TOKENS/alpha "
        "constants, 'published' = C4 page cleaning + the full Gopher "
        "rule conjunction (the corpus_curation_v2 gates)",
    )

    p_corp = sub.add_parser("corpus", help="run the training-corpus pipeline over a documents table")
    p_corp.add_argument("--documents", required=True, help="path to a documents parquet table")
    p_corp.add_argument("--output", default=None, help="output dir (default <warehouse>/corpus)")
    p_corp.add_argument(
        "--zorder",
        action="store_true",
        help="rewrite the deduped corpus Z-ordered on (predicted_lang, n_tokens)",
    )
    p_corp.add_argument(
        "--compact",
        action="store_true",
        help="compact the doc_features table into size-targeted files",
    )
    p_corp.add_argument(
        "--target-file-mb",
        type=int,
        default=128,
        help="target parquet file size for --zorder/--compact rewrites",
    )
    p_corp.add_argument(
        "--chunk-window",
        type=int,
        default=None,
        help="also write sliding-window chunks of the deduped corpus (token window size)",
    )
    p_corp.add_argument(
        "--chunk-stride",
        type=int,
        default=None,
        help="chunk stride (default: 3/4 of the window)",
    )
    p_corp.add_argument(
        "--export-shards",
        type=int,
        default=None,
        help="also export the deduped corpus as N deterministic "
        "shuffled training shards under <out>/shards",
    )
    p_corp.add_argument(
        "--shard-seed",
        type=int,
        default=0,
        help="permutation seed for --export-shards/--token-shards "
        "(same seed replays byte-order identical shards)",
    )
    p_corp.add_argument(
        "--decontaminate",
        default=None,
        metavar="BENCH_PARQUET",
        help="drop corpus docs that near-dup match (MinHash-LSH at the "
        "paraphrase-tuned 16x2 scheme + exact Jaccard verify) any doc "
        "in this benchmark/eval parquet table (doc_id, text)",
    )
    p_corp.add_argument(
        "--decon-threshold",
        type=float,
        default=0.5,
        help="exact-Jaccard verify threshold for --decontaminate",
    )
    p_corp.add_argument(
        "--token-shards",
        type=int,
        default=None,
        help="also export MODEL-READY token-id shards under "
        "<out>/token_shards: tokenize (frequency-ranked vocab ids) -> "
        "pack the shuffled per-shard streams into fixed-budget "
        "sequences -> N deterministic shard files",
    )
    p_corp.add_argument(
        "--vocab-size",
        type=int,
        default=1000,
        help="vocabulary size for --token-shards numericalization",
    )
    p_corp.add_argument(
        "--seq-budget",
        type=int,
        default=2048,
        help="packed sequence length (tokens) for --token-shards",
    )
    p_corp.add_argument(
        "--fim-rate",
        type=float,
        default=None,
        metavar="RATE",
        help="also write the deterministic fill-in-the-middle plan "
        "(Bavarian et al. 2022) for the deduped corpus to "
        "<out>/fim_plan: per doc, md5-selected at RATE with two "
        "uniform md5 cut points (prefix/middle/suffix lengths)",
    )
    p_corp.add_argument(
        "--epoch-budget",
        type=int,
        default=None,
        help="data-constrained token budget (Muennighoff et al. 2023): "
        "epoch_plan allocates it over the deduped corpus's per-source "
        "capacities, epoch_expand materializes the planned repetitions "
        "as <out>/documents_epochs; --token-shards (if also set) packs "
        "the EXPANDED stream instead of the single-pass corpus",
    )

    args = parser.parse_args(argv)
    config = Config.load()
    if args.warehouse_path:
        config.warehouse.path = args.warehouse_path
    if getattr(args, "interval", None) is not None and args.command == "incremental":
        config.etl.interval_seconds = args.interval

    from solana_data_etl_pipeline_spark.session import get_spark
    from solana_data_etl_pipeline_spark.sinks.warehouse import create_warehouse

    spark = get_spark("solana-etl-cli")
    warehouse = create_warehouse(spark, config.warehouse)

    if args.command == "sql":
        # The reference warehouse was a Postgres database its users
        # queried ad hoc (docs/SCHEMA.md); this is that surface on
        # Spark SQL. Every parquet table directory under the warehouse
        # path registers as a TEMP VIEW named after the directory, so
        # `SELECT ... FROM events JOIN analytics_top_tokens ...` just
        # works. Views are lazy scans -- registration costs one
        # directory listing, and Catalyst prunes/pushes into each scan
        # as usual.
        import os

        registered = []
        root = config.warehouse.path
        if os.path.isdir(root):
            for name in sorted(os.listdir(root)):
                sub_path = os.path.join(root, name)
                if not os.path.isdir(sub_path) or name.startswith("_"):
                    continue
                try:
                    spark.read.parquet(sub_path).createOrReplaceTempView(name)
                    registered.append(name)
                except Exception:
                    continue  # non-table dir (checkpoints, indexes)
        if "fact_events" in registered:
            # canonical alias: the reference SQL calls it `events`
            spark.table("fact_events").createOrReplaceTempView("events")
        result = spark.sql(args.query)
        if args.format == "jsonl":
            for line in result.toJSON().toLocalIterator():
                print(line)
        else:
            result.show(50, truncate=False)
        return 0

    if args.command == "health":
        from solana_data_etl_pipeline_spark.streaming.incremental import run_health_check

        ok = run_health_check(_client(args))
        print("healthy" if ok else "unhealthy")
        return 0 if ok else 1

    if args.command == "backfill":
        from solana_data_etl_pipeline_spark.streaming.incremental import run_backfill

        client = _client(args)
        n = run_backfill(spark, warehouse, lambda: client, args.start_slot, args.end_slot, config)
        print(f"backfill wrote {n} events")
        return 0

    if args.command == "incremental":
        from solana_data_etl_pipeline_spark.streaming.incremental import run_incremental

        run_incremental(spark, warehouse, _client(args), config, max_iterations=args.max_iterations)
        return 0

    if args.command == "analytics":
        from solana_data_etl_pipeline_spark.plans.canonical import run_analytics

        events = warehouse.read_events()
        if args.as_of:
            as_of = dt.datetime.fromisoformat(args.as_of)
        else:
            row = events.agg({"block_time": "max"}).first()
            as_of = row[0] or dt.datetime(1970, 1, 1)
        results = run_analytics(events, as_of, output_path=warehouse.path)
        for name in results:
            prefix = "" if name.startswith("dim_") else "analytics_"
            print(f"{prefix}{name}: written")
        return 0

    if args.command == "stream-corpus":
        from dataclasses import fields

        from solana_data_etl_pipeline_spark.operators.util import read_or_none
        from solana_data_etl_pipeline_spark.streaming.corpus import (
            StreamOptions,
            index_health,
            run_document_stream,
        )

        out = args.output or f"{config.warehouse.path}/corpus_stream"
        given = {f.name: getattr(args, f.name) for f in fields(StreamOptions) if f.name in args}
        opts = StreamOptions(
            near_dup_index=f"{out}/near_dup_index" if args.near_dup else None,
            semantic_index=f"{out}/semantic_index" if args.semantic_dedup else None,
            policy_log_dir=f"{out}/policy_rates" if "temperature_tau" in given else None,
            **given,
        )
        run_document_stream(
            spark, args.input, f"{out}/documents", f"{out}/quarantine", f"{out}/checkpoint", opts
        )
        docs = read_or_none(spark, f"{out}/documents")
        n = 0 if docs is None else docs.count()
        print(f"corpus_stream: drained ({n} documents total)")
        if args.compact_indexes:
            from solana_data_etl_pipeline_spark.sinks.compaction import (
                compact_lsh_index,
            )

            for idx_name, enabled in (
                ("near_dup_index", args.near_dup),
                ("semantic_index", args.semantic_dedup),
            ):
                if not enabled:
                    continue
                summary = compact_lsh_index(spark, f"{out}/{idx_name}")
                for sub, st in summary.items():
                    print(
                        f"compacted {idx_name}/{sub}: "
                        f"{st['before_files']} -> {st['after_files']} files"
                    )
        if opts.media_health:
            mh = read_or_none(spark, f"{out}/documents_media_health")
            if mh is None:
                print("media_health: no media payloads seen")
            else:
                from pyspark.sql import functions as _F

                agg = mh.agg(_F.sum("n_ok").alias("ok"), _F.sum("n_bad").alias("bad")).first()
                print(
                    f"media_health: {agg['ok'] or 0} payloads decoded, "
                    f"{agg['bad'] or 0} quarantined"
                )
        if opts.semantic_index:
            h = index_health(
                spark, opts.semantic_index, ("table", "bucket"),
                max_bucket=opts.semantic_max_bucket, sub="buckets",
            )
            print(
                "semantic_index: "
                f"{h['rows']} rows in {h['buckets']} buckets, "
                f"max width {h['max_width']}, p99 {h['p99_width']}, "
                f"{h['at_cap']} at cap"
            )
            # the blind-spot surfaces: excluded list (always maintained
            # once something over-caps) and the overflow twin (routing
            # mode, written once a cap refuses rows) -- the operator
            # reads these to size the cap
            excluded = read_or_none(spark, f"{opts.semantic_index}/excluded")
            if excluded is None:
                print("semantic_blind_spot: nothing has over-capped")
            else:
                line = f"semantic_blind_spot: {excluded.count()} excluded buckets"
                overflow = f"{opts.semantic_index}_overflow"
                if (
                    opts.semantic_route_blind
                    and read_or_none(spark, f"{overflow}/buckets") is not None
                ):
                    ho = index_health(spark, overflow, ("table", "bucket"), sub="buckets")
                    line += (
                        f"; overflow twin {ho['rows']} rows in "
                        f"{ho['buckets']} buckets (max width {ho['max_width']})"
                    )
                print(line)
        if opts.near_dup_index:
            from solana_data_etl_pipeline_spark.streaming.clusters import (
                compact_clusters,
                streamed_clusters,
            )

            idx = opts.near_dup_index
            if args.compact_clusters:
                compact_clusters(spark, idx)
            labels = streamed_clusters(spark, idx)
            print(
                "near_dup_clusters: "
                f"{labels.count()} docs in "
                f"{labels.select('cluster_id').distinct().count()} clusters"
            )
            h = index_health(
                spark, idx, ("band", "band_sig"), max_bucket=opts.near_dup_max_bucket
            )
            print(
                "near_dup_index: "
                f"{h['rows']} rows in {h['buckets']} buckets, "
                f"max width {h['max_width']}, p99 {h['p99_width']}, "
                f"{h['at_cap']} at cap"
            )
        return 0

    if args.command == "corpus":
        from pyspark.sql import functions as F

        from solana_data_etl_pipeline_spark.operators import dedup as D
        from solana_data_etl_pipeline_spark.operators import text as X
        from solana_data_etl_pipeline_spark.plans.suite import DEDUP_MAX_BUCKET

        docs = spark.read.parquet(args.documents)
        out = args.output or f"{config.warehouse.path}/corpus"
        feats = X.doc_features(docs).join(
            X.pii_scan(docs).select("doc_id", "pii_hits", "has_pii"), "doc_id"
        )
        feats.write.mode("overwrite").parquet(f"{out}/doc_features")
        pairs = D.minhash_lsh_pairs(docs, threshold=0.2, max_bucket=DEDUP_MAX_BUCKET)
        kept = D.keep_representatives(docs, pairs)
        deduped = docs.join(kept, "doc_id", "left_semi")
        if args.decontaminate:
            # benchmark sets are bounded by construction, so the
            # cross-corpus join broadcasts the bench side and the
            # corpus never shuffles (operators/dedup.py
            # cross_corpus_near_dup); contaminated doc_ids are a
            # pairs-sized frame -- broadcast anti-join
            bench = spark.read.parquet(args.decontaminate).select("doc_id", "text")
            hits = (
                D.cross_corpus_near_dup(
                    deduped, bench, threshold=args.decon_threshold
                )
                .select("doc_id")
                .distinct()
            )
            from pyspark.sql import functions as F

            deduped = deduped.join(F.broadcast(hits), "doc_id", "left_anti")
        if args.zorder:
            # carry n_tokens/predicted_lang onto the corpus rows (from
            # the ALREADY-WRITTEN features, not the unmaterialized
            # plan) so the clustering columns exist to cluster on
            ntok = spark.read.parquet(f"{out}/doc_features").select(
                "doc_id", "n_tokens", "predicted_lang"
            )
            deduped = deduped.join(ntok, "doc_id")
        deduped.write.mode("overwrite").parquet(f"{out}/documents_dedup")
        # count the WRITTEN table: counting `deduped` would re-execute
        # the whole LSH + iterative connected-components pipeline
        n_in = docs.count()
        n_out = spark.read.parquet(f"{out}/documents_dedup").count()
        print(f"doc_features: written ({n_in} docs)")
        print(f"documents_dedup: written ({n_out} kept of {n_in})")
        if args.decontaminate:
            print(
                f"decontaminated: against {args.decontaminate} "
                f"(threshold={args.decon_threshold})"
            )
        if args.chunk_window:
            stride = args.chunk_stride or max(1, args.chunk_window * 3 // 4)
            chunks = X.chunk_documents(
                spark.read.parquet(f"{out}/documents_dedup"),
                window=args.chunk_window,
                stride=stride,
            )
            chunks.write.mode("overwrite").parquet(f"{out}/corpus_chunks")
            n_chunks = spark.read.parquet(f"{out}/corpus_chunks").count()
            print(f"corpus_chunks: written ({n_chunks} chunks, window={args.chunk_window}, stride={stride})")
        if args.export_shards:
            from solana_data_etl_pipeline_spark.sinks.shards import export_shards

            export_shards(
                spark.read.parquet(f"{out}/documents_dedup"),
                f"{out}/shards",
                n_shards=args.export_shards,
                seed=args.shard_seed,
            )
            print(
                f"shards: written ({args.export_shards} shuffled shards, "
                f"seed={args.shard_seed})"
            )
        if args.fim_rate is not None:
            fim = X.fim_split(
                spark.read.parquet(f"{out}/documents_dedup"), fim_rate=args.fim_rate
            )
            fim.write.mode("overwrite").parquet(f"{out}/fim_plan")
            n_fim = (
                spark.read.parquet(f"{out}/fim_plan")
                .filter("fim_applied = 1")
                .count()
            )
            print(f"fim_plan: written ({n_fim} docs selected at rate={args.fim_rate})")
        if args.epoch_budget:
            dd = spark.read.parquet(f"{out}/documents_dedup")
            counts = (
                dd.groupBy("source")
                .agg(
                    F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+")))
                    .cast("long")
                    .alias("capacity")
                )
                .withColumn("weight", F.lit(1).cast("long"))
            )
            plan = X.epoch_plan(counts, budget=args.epoch_budget)
            # rep ids: doc_id * 100 + copy keeps copies distinct docs
            # for the shuffle/pack stages (repeated epochs interleave
            # under the seeded permutation, the way a data-constrained
            # run actually reads them); copy <= max_epochs + 1 << 100
            expanded = (
                X.epoch_expand(dd, plan)
                .withColumnRenamed("doc_id", "orig_doc_id")
                .join(
                    dd.select(F.col("doc_id").alias("orig_doc_id"), "text"),
                    "orig_doc_id",
                )
                .select(
                    (F.col("orig_doc_id") * 100 + F.col("copy")).alias("doc_id"),
                    "orig_doc_id",
                    "source",
                    "copy",
                    "text",
                )
            )
            expanded.write.mode("overwrite").parquet(f"{out}/documents_epochs")
            served = plan.agg(F.sum("tokens_served")).first()[0] or 0
            n_rep = spark.read.parquet(f"{out}/documents_epochs").count()
            print(
                f"documents_epochs: written ({n_rep} doc-copies realizing "
                f"{served} of {args.epoch_budget} budgeted tokens)"
            )
        if args.token_shards:
            from solana_data_etl_pipeline_spark.sinks.shards import export_token_shards

            _shard_src = (
                f"{out}/documents_epochs" if args.epoch_budget else f"{out}/documents_dedup"
            )
            export_token_shards(
                spark.read.parquet(_shard_src),
                f"{out}/token_shards",
                n_shards=args.token_shards,
                vocab_size=args.vocab_size,
                budget=args.seq_budget,
                seed=args.shard_seed,
            )
            print(
                f"token_shards: written ({args.token_shards} model-ready "
                f"token-id shards, vocab={args.vocab_size}, "
                f"budget={args.seq_budget}, seed={args.shard_seed})"
            )
            # packing health over the WRITTEN shards (reads the shard
            # layout back -- no recompute of the tokenize pipeline)
            import pyspark.sql.functions as _F

            per_shard = (
                spark.read.parquet(f"{out}/token_shards")
                .groupBy("shard")
                .agg((_F.max("last_seq") + 1).alias("n_seq"), _F.sum("n_tokens").alias("tok"))
                .agg(_F.sum("n_seq").alias("n_seq"), _F.sum("tok").alias("tok"))
                .first()
            )
            if per_shard["n_seq"]:
                fill = per_shard["tok"] / (per_shard["n_seq"] * args.seq_budget)
                print(
                    f"packing: {per_shard['n_seq']} sequences of {args.seq_budget} "
                    f"tokens, fill_ratio={fill:.4f}"
                )
            else:
                # aggregates over zero rows are NULL -- an empty deduped
                # corpus must not crash after the shards were written
                print("packing: 0 sequences (empty deduped corpus)")
        if args.compact:
            from solana_data_etl_pipeline_spark.sinks.compaction import compact_parquet

            s = compact_parquet(
                spark,
                f"{out}/doc_features",
                target_file_bytes=args.target_file_mb * 1024 * 1024,
                sort_by=["predicted_lang"],
            )
            print(f"doc_features: compacted {s['before_files']} -> {s['after_files']} files")
        if args.zorder:
            from solana_data_etl_pipeline_spark.sinks.zorder import zorder_rewrite

            s = zorder_rewrite(
                spark,
                f"{out}/documents_dedup",
                ["predicted_lang", "n_tokens"],
                target_file_bytes=args.target_file_mb * 1024 * 1024,
            )
            print(
                f"documents_dedup: z-ordered on (predicted_lang, n_tokens), "
                f"{s['before_files']} -> {s['after_files']} files"
            )
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
