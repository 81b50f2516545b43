"""The document stream's stages (streaming/corpus.py) called one by one
on static batches: no readStream, no checkpoint. Each test holds the
expectation of its end-to-end twin in test_streaming.py, which stays
as the check that the stream composes the stages."""

import base64
import hashlib
import json
import os
import shutil

import pytest

from solana_data_etl_pipeline_spark.streaming import corpus as C
from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions

_OFF = StreamOptions()


def _doc(i, text, src="s1", media=None, modality="audio"):
    d = {"doc_id": i, "text": text, "lang": "en", "source": src,
         "ingest_time": "2024-01-01T00:00:00"}
    if media is not None:
        d["media_b64"] = base64.b64encode(media).decode()
        d["modality"] = modality
    return json.dumps(d)


def _words(i, n=12):
    return " ".join(f"doc{i}word{j}" for j in range(n))


def _batch(spark, path, lines, opts=_OFF):
    """One landing batch as the stream's foreachBatch receives it:
    the JSONL lines parsed by the stream's own reader, cached."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return C.read_landing(spark.read, str(path), opts).cache()


def _kept(spark, path, lines, opts=_OFF):
    """The gated, feature-annotated docs of one landing batch."""
    good, _, _ = C.split_batch(spark, _batch(spark, path, lines, opts), 0, opts, str(path))
    return C.document_features_batch(good, opts.gates)


def _ids(df, col="doc_id"):
    return {r[col] for r in df.collect()}


def test_stage_split_features_exact_dedup_and_commit(spark, tmp_path):
    """Twin of test_document_stream_gates_dedups_and_quarantines and
    test_document_stream_published_gates."""
    out, quar = str(tmp_path / "corpus"), str(tmp_path / "quar")
    good_text = "the quick brown fox jumps over the lazy dog again and again today"
    other_text = "a completely different sentence with plenty of ordinary words in it"

    b1 = _batch(spark, tmp_path / "b1", [
        _doc(1, good_text), _doc(2, good_text, src="s2"), _doc(3, "too short"),
        "{not valid json",
    ])
    good, quarantine, probed = C.split_batch(spark, b1, 0, _OFF, out)
    assert probed is None
    kept = C.document_features_batch(good)
    assert _ids(kept) == {1}  # dup content kept once, gated doc dropped
    C.commit(spark, C.exact_dedup(kept, None), quarantine, out, quar)
    row = spark.read.parquet(out).collect()[0]
    assert row.doc_id == 1 and row.predicted_lang == "en" and row.n_tokens >= 10
    q = spark.read.parquet(quar).collect()
    assert {r.error_type for r in q} == {"malformed_record"}
    assert any("not valid json" in (r.error_context or "") for r in q)

    b2 = _batch(spark, tmp_path / "b2", [
        _doc(4, good_text, src="s3"), _doc(5, other_text),
        json.dumps({"text": other_text, "lang": "en", "source": "s1",
                    "ingest_time": "2024-01-01T01:00:00"}),
    ])
    for _ in range(2):  # the second pass is a replay: both appends are no-ops
        good, quarantine, _ = C.split_batch(spark, b2, 1, _OFF, out)
        kept = C.exact_dedup(C.document_features_batch(good), spark.read.parquet(out))
        C.commit(spark, kept, quarantine, out, quar)
        assert _ids(spark.read.parquet(out)) == {1, 5}
        q2 = spark.read.parquet(quar).collect()
        assert {r.error_type for r in q2} == {"malformed_record", "missing_doc_id"}
        assert len(q2) == 2

    passing = " ".join("the quick brown fox jumps over that lazy dog with steady paces".split() * 5)
    published = StreamOptions(gates="published")
    kept = _kept(spark, tmp_path / "b3", [
        _doc(1, passing), _doc(2, passing + " { code block }"),
        _doc(3, " ".join(f"word{i}" for i in range(60))),
    ], published)
    assert _ids(kept) == {1}


def test_stage_media_sidecar_and_gate(spark, tmp_path):
    """Twin of test_document_stream_media_sidecar and
    test_document_stream_media_gate_applies_v4_bounds."""
    from solana_data_etl_pipeline_spark.operators.multimodal import _bmp_encode, _wav_encode

    out = str(tmp_path / "corpus")
    ok_wav = _wav_encode(b"\x20" * 100, 8000)      # 100 frames, rms 96
    short_wav = _wav_encode(b"\x20" * 20, 8000)    # 20 < V4_MEDIA_MIN_FRAMES
    silent_wav = _wav_encode(b"\x80" * 100, 8000)  # rms 0 < V4_MEDIA_MIN_RMS
    opts = StreamOptions(media_health=True, media_gate=True)
    batch = _batch(spark, tmp_path / "b1", [
        _doc(1, _words(1), media=ok_wav), _doc(2, _words(2), media=short_wav),
        _doc(3, _words(3), media=silent_wav),
        _doc(4, _words(4), media=_bmp_encode(b"\x10" * 16, 16), modality="image"),
        _doc(5, _words(5), media=b"not a real avi container", modality="video"),
        _doc(6, _words(6)),
    ], opts)
    for _ in range(2):  # the second pass replays epoch 0: nothing appends twice
        good, _, probed = C.split_batch(spark, batch, 0, opts, out)
        assert "media_b64" not in good.columns
        kept = C.document_features_batch(good)
        # the text pipeline admits every doc; only the gate drops any
        assert _ids(kept) == {1, 2, 3, 4, 5, 6}
        assert _ids(C.media_gate(spark, kept, 0, opts, out, probed)) == {1, 4, 5, 6}
        health = {r.modality: r for r in spark.read.parquet(f"{out}_media_health").collect()}
        assert len(health) == 3
        assert (health["audio"].n_ok, health["audio"].n_bad) == (3, 0)
        assert (health["image"].n_ok, health["image"].n_bad) == (1, 0)
        assert (health["video"].n_ok, health["video"].n_bad) == (0, 1)
        assert health["audio"].total_bytes == len(ok_wav) + len(short_wav) + len(silent_wav)
        mq = spark.read.parquet(f"{out}_media_quarantine").collect()
        assert [(r.doc_id, r.modality) for r in mq] == [(5, "video")]
        assert "AVI" in mq[0].error or "ValueError" in mq[0].error
        gated = {r.doc_id: r for r in spark.read.parquet(f"{out}_media_gated").collect()}
        assert set(gated) == {2, 3}
        assert gated[2].n_frames == 20 and gated[3].rms == 0.0
    # the sidecar alone gates nothing
    sidecar_only = StreamOptions(media_health=True)
    assert C.media_gate(spark, kept, 0, sidecar_only, out, probed) is kept


def test_stage_decontaminate_and_blind_routing(spark, tmp_path):
    """Twin of test_document_stream_ingest_decontamination,
    test_document_stream_decon_blind_log and
    test_document_stream_decon_blind_routing_catches_hollow_verdict:
    the bench set's boilerplate repeats past the index cap of 5, so
    the capped probe is blind to a doc made of it, while a quoted
    bench question stays visible."""
    quiz = "what is the capital of france and why does it matter to geography"
    boiler = ("standard benchmark license header text repeated verbatim across "
              "every single benchmark file in the distribution")
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(900, quiz)] + [(901 + i, boiler) for i in range(10)], "doc_id long, text string"
    ).write.parquet(bench)
    batch = [
        _doc(1, boiler),
        _doc(2, "a perfectly ordinary training document with plenty of words to keep around"),
        _doc(3, "intro words before the quiz " + quiz + " closing words after it"),
        _doc(4, "the " + quiz),
    ]
    for route, admitted, logged in ((False, {1, 2}, {1: 10000}), (True, {2}, {})):
        out = str(tmp_path / f"route{route}" / "corpus")
        opts = StreamOptions(decontaminate_bench=bench, decon_threshold=0.5,
                             near_dup_max_bucket=5, decon_route_blind=route)
        C.build_decon_indexes(spark, opts, out)
        assert os.path.exists(f"{out}_decon_index_full") == route
        kept = C.decontaminate(spark, _kept(spark, tmp_path / f"b{route}", batch), opts, out)
        # log-only: admitted with a hollow verdict but logged;
        # routed: the uncapped fallback catches it
        assert _ids(kept) == admitted
        C.log_decon_blind(spark, kept, opts, out)
        blind = spark.read.parquet(f"{out}_decon_blind").collect()
        assert {r.delta_id: r.exposure_bp for r in blind} == logged


def test_stage_near_dup_dedup_and_catch_up(spark, tmp_path):
    """Twin of test_document_stream_near_dup_index (and the pair log
    test_document_stream_maintains_clusters folds into cluster ids)."""
    from solana_data_etl_pipeline_spark.streaming.clusters import streamed_clusters

    out, quar, idx = str(tmp_path / "corpus"), str(tmp_path / "quar"), str(tmp_path / "nd_idx")
    opts = StreamOptions(near_dup_index=idx)
    empty = spark.createDataFrame([], "error_id string")
    text_a = "the quick brown fox jumps over the lazy dog again and again today ok"
    text_b = "completely different material about spark partitions and shuffle joins here"
    text_c = "yet another unrelated sentence mentioning parquet files and row groups now"

    kept = _kept(spark, tmp_path / "b1", [_doc(1, text_a), _doc(2, text_b)])
    kept = C.near_dup_dedup(spark, kept, 0, opts)
    assert _ids(kept) == {1, 2}
    C.commit(spark, kept, empty, out, quar)
    C.catch_up_near_dup_index(spark, opts, out)
    assert _ids(spark.read.parquet(f"{idx}/bands")) == {1, 2}

    # a NEAR-dup of doc 1 (new fingerprint) is dropped by the index
    # probe; fresh content is kept
    kept = _kept(spark, tmp_path / "b2", [_doc(10, text_a + " extra"), _doc(11, text_c)])
    kept = C.near_dup_dedup(spark, C.exact_dedup(kept, spark.read.parquet(out)), 1, opts)
    assert _ids(kept) == {11}
    pairs = spark.read.parquet(f"{idx}/pairs").collect()
    assert [(r.doc_a, r.doc_b, r.epoch) for r in pairs] == [(1, 10, 1)]
    C.commit(spark, kept, empty, out, quar)
    C.catch_up_near_dup_index(spark, opts, out)
    for sub in ("bands", "shingles"):
        assert _ids(spark.read.parquet(f"{idx}/{sub}")) == {1, 2, 11}
    got = {r.doc_id: r.cluster_id for r in streamed_clusters(spark, idx).collect()}
    assert got == {1: 1, 10: 1}

    # self-heal: a lost index is rebuilt from the whole corpus
    shutil.rmtree(idx)
    C.catch_up_near_dup_index(spark, opts, out)
    assert _ids(spark.read.parquet(f"{idx}/bands")) == {1, 2, 11}


_PERM = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()


def test_stage_semantic_dedup_and_catch_up(spark, tmp_path):
    """Twin of test_document_stream_semantic_dedup."""
    out, quar, sem = str(tmp_path / "corpus"), str(tmp_path / "quar"), str(tmp_path / "sem")
    opts = StreamOptions(semantic_index=sem)
    empty = spark.createDataFrame([], "error_id string")
    kept = _kept(spark, tmp_path / "b1", [
        _doc(1, " ".join(_PERM)), _doc(2, " ".join(reversed(_PERM))),
        _doc(3, "a completely different training document about spark physical plans and shuffles"),
    ])
    kept = C.semantic_dedup(spark, kept, opts)
    assert _ids(kept) == {1, 3}  # in-batch permuted twin dropped, min id wins
    C.commit(spark, kept, empty, out, quar)
    C.catch_up_semantic_index(spark, opts, out)
    assert _ids(spark.read.parquet(f"{sem}/buckets"), "vec_id") == {1, 3}

    # a permutation of batch 1's doc is dropped by the index probe
    kept = _kept(spark, tmp_path / "b2", [
        _doc(4, " ".join(_PERM[6:] + _PERM[:6])),
        _doc(5, "yet another unrelated document describing adaptive query execution in detail"),
    ])
    kept = C.semantic_dedup(spark, C.exact_dedup(kept, spark.read.parquet(out)), opts)
    assert _ids(kept) == {5}
    C.commit(spark, kept, empty, out, quar)
    C.catch_up_semantic_index(spark, opts, out)
    assert _ids(spark.read.parquet(f"{sem}/buckets"), "vec_id") == {1, 3, 5}


def test_stage_semantic_blind_log_and_routing(spark, tmp_path):
    """Twin of test_document_stream_semantic_blind_log and
    test_document_stream_semantic_blind_routing_catches_hollow_verdict:
    three identical-vector permutations over-cap a 2-wide index, so
    the capped probe is blind to a fourth."""
    empty = spark.createDataFrame([], "error_id string")
    clean = "a clean document about adaptive query execution internals and shuffles"
    b1 = [_doc(1, " ".join(_PERM)), _doc(2, " ".join(reversed(_PERM))),
          _doc(3, " ".join(_PERM[6:] + _PERM[:6])), _doc(4, clean)]
    b2 = [_doc(5, " ".join(_PERM[3:] + _PERM[:3])),
          _doc(6, "yet another unrelated document describing whole stage code generation "
                  "boundaries in detail")]
    for route, admitted, logged in ((False, {5, 6}, {5: 10000}), (True, {6}, {})):
        root = tmp_path / f"route{route}"
        out, sem = str(root / "corpus"), str(root / "sem")
        opts = StreamOptions(semantic_index=sem, semantic_max_bucket=2, semantic_route_blind=route)
        kept = C.semantic_dedup(spark, _kept(spark, root / "b1", b1), opts)
        assert _ids(kept) == {1, 2, 3, 4}  # the capped gate is blind to the family
        C.commit(spark, kept, empty, out, str(root / "quar"))
        C.catch_up_semantic_index(spark, opts, out)
        assert spark.read.parquet(f"{sem}/excluded").count() > 0
        assert _ids(spark.read.parquet(f"{sem}/buckets"), "vec_id") == {4}
        assert os.path.exists(f"{sem}_overflow") == route
        if route:
            assert _ids(spark.read.parquet(f"{sem}_overflow/buckets"), "vec_id") == {1, 2, 3}
        kept = _kept(spark, root / "b2", b2)
        kept = C.semantic_dedup(spark, C.exact_dedup(kept, spark.read.parquet(out)), opts)
        assert _ids(kept) == admitted
        C.log_semantic_blind(spark, kept, opts, out)
        blind = spark.read.parquet(f"{out}_semantic_blind").collect()
        assert {r.delta_id: r.exposure_bp for r in blind} == logged


def test_stage_temperature_policy(spark, tmp_path):
    """Twin of test_document_stream_temperature_policy."""
    plog = str(tmp_path / "rates")
    opts = StreamOptions(temperature_tau=0.5, target_frac=0.5, policy_log_dir=plog)

    def _bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10_000

    def _expected_rates(counts, tau=0.5, frac=0.5):
        n = sum(counts.values())
        ws = {s: (c / n) ** tau for s, c in counts.items()}
        wsum = sum(ws.values())
        return {s: min(10_000, round(frac * n * (ws[s] / wsum) / c * 10_000))
                for s, c in counts.items()}

    b1 = [_doc(i, _words(i), "big") for i in range(16)]
    b1 += [_doc(i, _words(i), "small") for i in range(100, 104)]
    kept = C.temperature_policy(spark, _kept(spark, tmp_path / "b1", b1), 0, opts, None)
    r0 = {r.source: r.rate_bp for r in spark.read.parquet(plog).filter("epoch = 0").collect()}
    assert r0 == _expected_rates({"big": 16, "small": 4})
    got1 = {r.doc_id: r.source for r in kept.collect()}
    for i in list(range(16)) + list(range(100, 104)):
        assert (i in got1) == (_bucket(i) < r0["big" if i < 100 else "small"]), i

    # batch 2: rates include the admitted corpus counts
    seen = kept.localCheckpoint()
    merged = {s: list(got1.values()).count(s) for s in set(got1.values())}
    merged["big"] = merged.get("big", 0) + 10
    b2 = _kept(spark, tmp_path / "b2", [_doc(i, _words(i), "big") for i in range(200, 210)])
    for _ in range(2):  # the replay of epoch 1 logs nothing twice
        got2 = _ids(C.temperature_policy(spark, b2, 1, opts, seen))
        assert spark.read.parquet(plog).count() == len(r0) + len(merged)
    r1 = {r.source: r.rate_bp for r in spark.read.parquet(plog).filter("epoch = 1").collect()}
    assert r1 == _expected_rates(merged)
    assert got2 == {i for i in range(200, 210) if _bucket(i) < r1["big"]}


def test_stage_token_budget_and_waterfill_policies(spark, tmp_path):
    """Twin of test_document_stream_token_budget and
    test_document_stream_waterfill_budget."""
    budget = StreamOptions(token_budget=60)  # 12-token docs: at most 5 ever
    kept = _kept(spark, tmp_path / "t1", [_doc(i, _words(i)) for i in range(4)])
    kept = C.token_budget_policy(kept, budget, None)
    tok1 = sum(r.n_tokens for r in kept.collect())
    assert 0 < tok1 <= 60
    seen = kept.localCheckpoint()
    more = _kept(spark, tmp_path / "t2", [_doc(i, _words(i)) for i in range(10, 20)])
    assert tok1 + sum(r.n_tokens for r in C.token_budget_policy(more, budget, seen).collect()) <= 60
    spent = _kept(spark, tmp_path / "t3", [_doc(i, _words(i)) for i in range(30, 35)])
    assert C.token_budget_policy(more, budget, spent).count() == 0

    # waterfill: a = 1 doc (12 tok, w=3), b = 10 docs (120 tok, w=10);
    # budget 60 -> a saturates, b alloc = 48 = 4 docs
    water = StreamOptions(waterfill_budget=60)
    b1 = [_doc(0, _words(0), "a")] + [_doc(i, _words(i), "b") for i in range(10, 20)]
    kept = C.waterfill_policy(_kept(spark, tmp_path / "w1", b1), water, None)
    srcs = sorted(r.source for r in kept.collect())
    assert srcs.count("a") == 1 and srcs.count("b") == 4
    assert sum(r.n_tokens for r in kept.collect()) == 60
    # batch 2: both sources' remaining allocations are exhausted
    b2 = [_doc(100 + i, _words(100 + i), "a") for i in (1, 2)]
    b2 += [_doc(i, _words(i), "b") for i in range(20, 25)]
    seen = kept.localCheckpoint()
    assert C.waterfill_policy(_kept(spark, tmp_path / "w2", b2), water, seen).count() == 0


def test_stage_drift_log(spark, tmp_path):
    """Twin of test_document_stream_drift_report_per_batch."""
    out = str(tmp_path / "corpus")
    opts = StreamOptions(drift_report=True)
    seen = _kept(spark, tmp_path / "b1", [_doc(1, " ".join(["base"] * 12))])
    C.log_drift(spark, seen, 0, opts, out, None)  # no baseline -> no log
    assert not os.path.exists(f"{out}_drift")

    kept = _kept(spark, tmp_path / "b2", [_doc(2, " ".join(["base"] * 6 + ["novel"] * 6))])
    for _ in range(2):  # the replay of epoch 1 rewrites nothing
        C.log_drift(spark, kept, 1, opts, out, seen)
        rows = spark.read.parquet(f"{out}_drift").collect()
        assert {r.epoch for r in rows} == {1}
        by_tok = {r.token: r for r in rows}
        assert len(by_tok) == len(rows) == 2
        assert (by_tok["base"].share_old_bp, by_tok["base"].share_new_bp) == (10000, 5000)
        assert by_tok["base"].drift_bp == -5000
        assert (by_tok["novel"].share_old_bp, by_tok["novel"].share_new_bp) == (0, 5000)
        assert by_tok["novel"].drift_bp == 5000
    # a batch that admits nothing has no mass to drift from
    C.log_drift(spark, kept.limit(0), 2, opts, out, seen)
    assert spark.read.parquet(f"{out}_drift").count() == 2


def test_stream_options_refuse_ignored_options():
    """An option that would do nothing is refused before any stream
    starts, as is an unknown gate policy; a set parent admits it."""
    for options, message in (
        ({"media_gate": True}, "media_gate does nothing without media_health"),
        ({"decon_route_blind": True}, "decon_route_blind does nothing without decontaminate_bench"),
        ({"semantic_route_blind": True},
         "semantic_route_blind does nothing without semantic_index"),
        ({"policy_log_dir": "rates"}, "policy_log_dir does nothing without temperature_tau"),
        ({"gates": "strict"}, "unknown gate policy"),
    ):
        with pytest.raises(ValueError, match=message):
            StreamOptions(**options)
    StreamOptions(temperature_tau=0.0, policy_log_dir="rates")  # tau 0 is uniform, not unset
    StreamOptions(media_health=True, media_gate=True)
    StreamOptions(decontaminate_bench="bench", decon_route_blind=True)
    StreamOptions(semantic_index="sem", semantic_route_blind=True)


def test_cli_stream_corpus_refuses_ignored_options(spark, tmp_path):
    """The CLI builds its StreamOptions from the parsed flags, so
    --media-gate without --media-health (and an unknown --gates over an
    empty landing zone) fails before the stream starts."""
    from solana_data_etl_pipeline_spark.cli import main

    land = str(tmp_path / "land")
    os.makedirs(land)
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, _words(1)) + "\n")
    wh = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="media_gate does nothing without media_health"):
        main(["--warehouse-path", wh, "stream-corpus", "--input", land, "--media-gate"])
    with pytest.raises(ValueError, match="unknown gate policy"):
        main(["--warehouse-path", wh, "stream-corpus", "--input", str(tmp_path / "empty"),
              "--gates", "strict"])
    assert not os.path.exists(f"{wh}/corpus_stream")
