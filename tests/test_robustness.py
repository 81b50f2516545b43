"""Malformed-input tolerance (the reference's warn-and-continue,
src/parsers.rs:22-26) and config default parity with the reference's
documented values."""

import json
import os

from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.config import Config
from solana_data_etl_pipeline_spark.operators.parse import parse_blocks
from solana_data_etl_pipeline_spark.sources.blocks import read_block_json
from solana_data_etl_pipeline_spark.sources.fixtures import make_block


def test_malformed_landing_lines_are_dropped_not_fatal(spark, tmp_path):
    path = str(tmp_path / "landing")
    os.makedirs(path)
    good = [make_block(s) for s in (1, 2)]
    with open(os.path.join(path, "mixed.jsonl"), "w") as f:
        f.write(json.dumps(good[0]) + "\n")
        f.write("{this is not json at all\n")
        f.write('{"unexpected": "shape"}\n')
        f.write(json.dumps(good[1]) + "\n")
    blocks = read_block_json(spark, path)
    assert blocks.count() == 2  # malformed + shape-mismatch rows dropped
    events = parse_blocks(blocks)
    expected_slots = {1, 2}
    assert {r.slot for r in events.select("slot").distinct().collect()} == expected_slots


def test_parse_tolerates_partially_missing_fields(spark):
    # a block whose tx lacks meta/token balances entirely: the tx and
    # instruction branches still produce events, the transfer branch 0
    block = {
        "slot": 7,
        "blockTime": 1_700_000_014,
        "transactions": [
            {
                "transaction": {
                    "signatures": ["s" * 88],
                    "message": {
                        "accountKeys": [{"pubkey": "w1", "signer": True, "writable": True}],
                        "instructions": [{"programId": "p1", "data": "00", "accounts": ["w1"]}],
                    },
                },
                "meta": None,
            }
        ],
    }
    from solana_data_etl_pipeline_spark.sources.blocks import blocks_to_df

    events = parse_blocks(blocks_to_df(spark, [block])).collect()
    types = sorted(r.event_type for r in events)
    assert types == ["program_instruction", "transaction"]
    tx = next(r for r in events if r.event_type == "transaction")
    assert tx.success is None or tx.success is True  # absent meta.err is not a failure


def test_config_defaults_match_reference():
    """Reference defaults: rate 50/s, retries 5, timeout 30 s
    (src/config.rs:41-52), chunk 1000 (:72-75), interval 30 s
    (:76-79)."""
    cfg = Config.load()
    assert cfg.rpc.rate_limit_per_second == 50
    assert cfg.rpc.max_retries == 5
    assert cfg.rpc.timeout_seconds == 30
    assert cfg.etl.backfill_chunk_size == 1000
    assert cfg.etl.interval_seconds == 30


def test_config_env_overrides(monkeypatch):
    monkeypatch.setenv("ETL_BACKFILL_CHUNK_SIZE", "250")
    monkeypatch.setenv("ALCHEMY_RATE_LIMIT", "7")
    cfg = Config.load()
    assert cfg.etl.backfill_chunk_size == 250
    assert cfg.rpc.rate_limit_per_second == 7


def test_configure_applies_exactly_the_runtime_conf():
    """A session created elsewhere gets every runtime SQL conf get_spark
    sets, and nothing else: _configure applies session.RUNTIME_CONF."""
    import __spark_entry__
    from solana_data_etl_pipeline_spark.session import RUNTIME_CONF

    class _Conf:
        def __init__(self):
            self.set_calls = {}

        def set(self, key, value):
            self.set_calls[key] = value

    class _Session:
        conf = _Conf()

    session = _Session()
    assert __spark_entry__._configure(session) is session
    assert session.conf.set_calls == RUNTIME_CONF


def test_round8_operators_on_empty_and_degenerate_input(spark):
    """Empty corpora and token-free docs flow through the round-8
    operators without errors or NULL-poisoned outputs."""
    from solana_data_etl_pipeline_spark.operators.text import (
        curation_gates,
        packing_efficiency,
        pii_redact,
        source_quota_sample_hot,
        tokenize_pack,
    )

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert curation_gates(empty).count() == 0
    assert pii_redact(empty).count() == 0
    assert tokenize_pack(empty).count() == 0
    assert packing_efficiency(empty).count() == 0
    assert source_quota_sample_hot(empty, max_per_source=5).count() == 0

    degenerate = spark.createDataFrame(
        [(1, "", "s"), (2, "   ", "s"), (3, "one real doc with several proper words", "s")],
        "doc_id long, text string, source string",
    )
    # token-free docs: gates compute (not crash), packing skips them
    gates = {r.doc_id: r for r in curation_gates(degenerate).collect()}
    assert gates[1].n_words == 0 and gates[1].gopher_pass is False
    packed = {r.doc_id: r for r in tokenize_pack(degenerate).collect()}
    assert 3 in packed and packed[3].n_tokens == 7
    quota = source_quota_sample_hot(degenerate, max_per_source=2).count()
    assert quota == 2


def test_recommended_simhash_bits_rule(spark):
    """The width rule: small corpora fit 32-bit; 1e5+ distinct
    fingerprints at the default cap need wider; the 60-bit ceiling
    holds (64 overflows a signed long and is never returned)."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        recommended_simhash_bits,
    )

    assert recommended_simhash_bits(3_000) == 32        # 2^8=256 buckets x 64 cap
    assert recommended_simhash_bits(280_000) > 32       # the measured 100x regime
    assert recommended_simhash_bits(280_000) <= 60
    assert recommended_simhash_bits(10**12) == 60       # ceiling, never 64


def test_late_round8_operators_on_empty_and_degenerate_input(spark):
    """The late-r8 operators hold their contracts on empty and
    degenerate corpora: empty in, empty (or zero-stat) out -- no
    NULL-poisoned aggregates, no divide-by-zero, no crash."""
    from solana_data_etl_pipeline_spark.operators.dedup import semdedup_keepers
    from solana_data_etl_pipeline_spark.operators.text import (
        dsir_scores,
        grouped_quantile_buckets,
        hash_embed,
        inject_canaries,
        interp_logprob,
        line_dedup,
        novelty_scores,
        sequence_boundaries,
    )

    empty = spark.createDataFrame([], "doc_id long, text string, source string, lang string")
    one = spark.createDataFrame(
        [(1, "solo document with a handful of tokens", "s1", "en")],
        "doc_id long, text string, source string, lang string",
    )
    assert interp_logprob(empty).count() == 0
    assert line_dedup(empty).count() == 0
    assert hash_embed(empty).count() == 0
    assert inject_canaries(empty).count() == 0
    assert sequence_boundaries(empty).count() == 0
    assert novelty_scores(empty, one, n=3).count() == 0
    # empty REFERENCE: every corpus gram is novel
    nv = novelty_scores(one, empty, n=3).collect()
    assert len(nv) == 1 and nv[0].novelty == 1.0
    # empty TARGET: DSIR degrades to the smoothed floor, not a crash
    assert dsir_scores(one, empty).count() == 1
    assert dsir_scores(empty, one).count() == 0
    # bucketing an empty scored frame and a single-row group
    assert grouped_quantile_buckets(
        empty.select("doc_id", F.col("lang"), F.lit(None).cast("double").alias("s")),
        "lang",
        "s",
    ).count() == 0
    single = grouped_quantile_buckets(
        one.select("doc_id", "lang", F.lit(1.5).alias("s")), "lang", "s"
    ).collect()
    assert single[0].bucket == "tail"  # the lone value is its own 1/3 threshold
    # semdedup on an empty embedding table
    eemb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assert semdedup_keepers(eemb).count() == 0


def test_grouped_quantile_buckets_null_group_is_its_own_group(spark):
    """Rows whose group key is NULL form a group like any other: they
    bucket within the NULL group's own distribution (null-safe join),
    never landing wholesale in the top bucket through a join-miss."""
    from solana_data_etl_pipeline_spark.operators.text import grouped_quantile_buckets

    rows = [(i, None, float(i)) for i in range(1, 10)] + [
        (100 + i, "en", float(i)) for i in range(1, 10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, s double")
    got = {r.doc_id: r.bucket for r in grouped_quantile_buckets(df, "lang", "s").collect()}
    # identical score distributions => identical bucket assignment
    for i in range(1, 10):
        assert got[i] == got[100 + i], (i, got[i], got[100 + i])
    assert got[1] == "tail" and got[9] == "head"
    assert {got[i] for i in range(1, 10)} == {"tail", "middle", "head"}


def test_round9_operators_on_empty_and_degenerate_input(spark):
    """The round-9 operators hold their contracts on empty corpora:
    empty in, empty out -- no NPEs from aggregates-over-nothing, no
    sequence(1, 0) surprises, no codec calls on zero rows."""
    from solana_data_etl_pipeline_spark.operators import multimodal as M
    from solana_data_etl_pipeline_spark.operators.dedup import (
        dedup_family_agreement,
    )
    from solana_data_etl_pipeline_spark.operators.text import (
        bm25_rank,
        denoise_render,
        epoch_expand,
        fim_render,
        fim_split,
        tokenizer_fertility,
    )

    empty = spark.createDataFrame([], "doc_id long, text string, source string, lang string")
    assert fim_split(empty).count() == 0
    assert fim_render(empty).count() == 0
    assert denoise_render(empty).count() == 0
    assert tokenizer_fertility(empty).count() == 0
    assert bm25_rank(empty, query_terms=["alpha", "beta"], top_k=5).count() == 0
    assert dedup_family_agreement(empty).count() == 0
    empty_plan = spark.createDataFrame(
        [], "source string, capacity long, weight long, tokens_served long, epochs_bp long"
    )
    assert epoch_expand(empty, empty_plan).count() == 0
    # media synth paths on zero rows: no mapInPandas batch ever fires
    assert M.synth_avi(empty).count() == 0
    assert M.avi_stats(M.synth_avi(empty)).count() == 0


def test_round10_operators_on_empty_and_degenerate_input(spark):
    """The round-10 operators hold their contracts on empty corpora:
    empty in, empty out -- the Lloyd quantizer converges on nothing
    (zero cells, zero assignments), the media dedup ladder emits no
    groups/pairs, and the IVF probe over an empty trained corpus
    returns no neighbors."""
    from solana_data_etl_pipeline_spark.operators import multimodal as M
    from solana_data_etl_pipeline_spark.operators import similarity as V

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assigned = V.lloyd_cells(empty_emb)
    assert assigned.count() == 0
    queries = spark.createDataFrame([], "query_id long, embedding array<float>")
    assert V.knn_ivf(assigned, queries, k=10, nprobe=2, cell_col="cell").count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    media = M.synth_wav(empty_docs)
    assert M.media_exact_dups(media).count() == 0
    assert M.media_near_dup_pairs(media).count() == 0


def test_media_near_dup_ignores_undecodable_feature_rows(spark):
    """A zero-frame payload decodes to null mean/rms; null features
    must never satisfy the tolerance predicates (no pair involving
    the empty item, in either engine's semantics)."""
    from solana_data_etl_pipeline_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "aaaaaaaaaaaaaaaaaaaa"), (4, "aaaaaaaaaaaaaaaaaaab")],
        "doc_id long, text string",
    )
    pairs = {(r.media_a, r.media_b) for r in M.media_near_dup_pairs(M.synth_wav(docs)).collect()}
    assert pairs == {(3, 4)}


def test_late_round10_operators_on_empty_and_degenerate_input(spark):
    """The late-r10 operators hold their contracts on empty corpora:
    corpus_drift returns an empty report (its totals floor at 1, so
    no division blows up), the topic map and the prune gate emit no
    clusters/keepers, and the PQ reconstruction of nothing is
    nothing."""
    from solana_data_etl_pipeline_spark.operators import similarity as V
    from solana_data_etl_pipeline_spark.operators import text as X
    from solana_data_etl_pipeline_spark.plans.corpus import (
        cluster_prune_keepers,
        corpus_topic_map,
    )

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert X.corpus_drift(empty_docs.withColumn("snapshot", F.lit(0))).count() == 0
    assert corpus_topic_map(empty_docs).count() == 0
    assert cluster_prune_keepers(empty_docs).count() == 0
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert V.reconstructed_pq(empty_emb).count() == 0
    # degenerate: a single one-token document still yields exactly one
    # cluster row per term rank and survives/dies deterministically
    one = spark.createDataFrame(
        [(1, "hello", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tm = corpus_topic_map(one).collect()
    assert len(tm) == 1 and tm[0].n_docs == 1 and tm[0].term == "hello"
    assert cluster_prune_keepers(one, min_mean_tokens=1).count() == 1
    assert cluster_prune_keepers(one, min_mean_tokens=2).count() == 0
