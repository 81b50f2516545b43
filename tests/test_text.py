"""Text-operator semantics vs independent Python computation."""

import math

import pytest

from solana_data_etl_pipeline_spark.operators import text as X

DOCS = [
    (0, "alpha beta gamma alpha", "en", "s1", 22),
    (1, "beta beta delta", "en", "s1", 15),
    (2, "gamma gamma gamma epsilon", "de", "s2", 25),
    (3, "", "en", "s2", 0),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string, source string, n_chars long")


def test_consistent_sample_is_stable_and_proportional(docs):
    a = {r.doc_id for r in X.consistent_sample(docs, pct=50).collect()}
    b = {r.doc_id for r in X.consistent_sample(docs, pct=50).collect()}
    assert a == b  # deterministic
    full = {r.doc_id for r in X.consistent_sample(docs, pct=100).collect()}
    assert full == {0, 1, 2, 3}
    none = {r.doc_id for r in X.consistent_sample(docs, pct=0).collect()}
    assert none == set()
    # monotone: a smaller pct is a subset of a larger one
    small = {r.doc_id for r in X.consistent_sample(docs, pct=20).collect()}
    assert small <= a


def test_vocab_top_words_counts(docs):
    got = {r.token: r.freq for r in X.vocab_top_words(docs, top_n=3).collect()}
    # corpus frequencies: gamma 4, beta 3, alpha 2, delta 1, epsilon 1
    assert got == {"gamma": 4, "beta": 3, "alpha": 2}


def test_tfidf_ranks_distinctive_terms_first(docs):
    rows = X.tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.tfidf))
    # doc 1: 'beta' tf=2 but appears in 2 docs; 'delta' tf=1 unique.
    # idf(beta)=ln(5/3), idf(delta)=ln(5/2): 2*0.51 > 1*0.92 -> beta first
    terms1 = [t for _, t, _ in sorted(by_doc[1])]
    assert terms1 == ["beta", "delta"]
    expected_beta = round(2 * math.log((4 + 1) / (2 + 1)), 6)
    assert sorted(by_doc[1])[0][2] == pytest.approx(expected_beta, abs=1e-6)
    # empty doc contributes no rows
    assert 3 not in by_doc
    # ranks dense from 1 within every doc
    for doc, rs in by_doc.items():
        assert [r for r, _, _ in sorted(rs)] == list(range(1, len(rs) + 1))


def test_tokenizer_fertility_hand_model(docs):
    """Exact integer reconciliation on the module corpus: per lang,
    char/token masses and the floored basis-point fertility ratios."""
    rows = {r.lang: r for r in X.tokenizer_fertility(docs).collect()}
    # en docs: 0 "alpha beta gamma alpha" (22c/4w), 1 "beta beta
    # delta" (15c/3w), 3 "" (0c, split('')->[''] = 1 token)
    en = rows["en"]
    assert en.n_docs == 3 and en.n_chars == 37
    assert en.n_ws_tokens == 8 and en.n_bpe_tokens == 7
    assert en.ws_fertility_bp == 37 * 10_000 // 8
    assert en.bpe_fertility_bp == 37 * 10_000 // 7
    de = rows["de"]
    assert de.n_docs == 1 and de.n_chars == 25 and de.n_ws_tokens == 4
    assert de.ws_fertility_bp == 25 * 10_000 // 4


def test_bm25_rank_matches_hand_model(docs):
    """Exact integer-ppm BM25 against an independent Python replay of
    the same left-associated expression tree; docs with no query term
    are absent; ranks are dense in score order."""
    rows = X.bm25_rank(docs, ["beta", "delta"], top_k=10).collect()
    got = {r.doc_id: (r.dl, r.score_ppm, r.rank) for r in rows}
    # corpus: dl = 4,3,4,1 (empty text splits to ['']  -> dl 0? no:
    # tokens of '' -> [''] filtered -> dl 0); N=4, sl=11
    n, sl = 4, 11.0
    k1, b = 1.2, 0.75

    def score(tfs_dl):
        tfs, dl = tfs_dl
        total = 0
        for tf, df in tfs:
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tfpart = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / (sl / n)))
            total += int(round(1e6 * idf * tfpart))
        return total

    # beta: docs 0 (tf 1) and 1 (tf 2) -> df 2; delta: doc 1 -> df 1
    exp0 = score(([(1, 2)], 4))
    exp1 = score(([(2, 2), (1, 1)], 3))
    assert got[0][1] == exp0 and got[0][0] == 4
    assert got[1][1] == exp1 and got[1][0] == 3
    assert set(got) == {0, 1}  # docs 2, 3 match no query term
    assert got[1][2] == 1 and got[0][2] == 2  # doc 1 outscores doc 0
    with pytest.raises(ValueError):
        X.bm25_rank(docs, [])


def test_doc_features_matches_standalone_operators(spark):
    """The fused one-scan doc_features must stay column-identical to
    the five standalone per-doc operators it replaces in the driver
    registry (the fusion is a plan optimization, not a semantic
    change). Uses realistic multilingual docs so language scores and
    fingerprints are non-trivial."""
    rows = [
        (0, "the quick brown fox and the lazy dog", "en", "s1", 37),
        (1, "der schnelle braune fuchs und der faule hund!", "de", "s1", 45),
        (2, "el rapido zorro marron y el perro 42 perezoso", "es", "s2", 45),
        (3, "", "en", "s2", 0),
        (4, "zzz qqq xxx", "fr", "s2", 11),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    fused = {r.doc_id: r.asDict() for r in X.doc_features(df).collect()}
    tok = {r.doc_id: r for r in X.token_counts(df).collect()}
    bpe = {r.doc_id: r for r in X.bpe_ish_token_counts(df).collect()}
    q = {r.doc_id: r for r in X.quality_scores(df).collect()}
    lid = {r.doc_id: r for r in X.language_id(df).collect()}
    fp = {r.doc_id: r for r in X.fingerprints(df).collect()}
    for d in fused:
        assert fused[d]["n_tokens"] == tok[d].n_tokens
        assert fused[d]["n_bpe_tokens"] == bpe[d].n_bpe_tokens
        assert fused[d]["n_chars"] == q[d].n_chars
        assert fused[d]["avg_token_len"] == q[d].avg_token_len
        assert fused[d]["stopword_ratio"] == q[d].stopword_ratio
        assert fused[d]["alpha_ratio"] == q[d].alpha_ratio
        assert fused[d]["labeled_lang"] == lid[d].labeled_lang
        assert fused[d]["predicted_lang"] == lid[d].predicted_lang
        assert fused[d]["fingerprint"] == fp[d].fingerprint
        assert fused[d]["fingerprint64"] == fp[d].fingerprint64
    # and it is genuinely one scan
    plan = X.doc_features(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0


def test_pii_scan_flags_and_counts(spark):
    rows = [
        (0, "contact me at alice@example.com or bob@test.org", "en", "s1", 0),
        (1, "call +1 (555) 123-4567 today", "en", "s1", 0),
        (2, "server at 10.0.0.1 and 192.168.1.254", "en", "s2", 0),
        (3, "ssn 123-45-6789 card 4111 1111 1111 1111", "en", "s2", 0),
        (4, "perfectly clean text with no identifiers", "en", "s2", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.doc_id: r for r in X.pii_scan(df).collect()}
    assert got[0].n_email == 2 and got[0].has_pii
    assert got[1].n_phone >= 1
    assert got[2].n_ipv4 == 2
    assert got[3].n_ssn_like == 1 and got[3].n_credit_card_like >= 1
    assert not got[4].has_pii and got[4].pii_hits == 0
    stats = X.pii_stats(df).first()
    assert stats.n_docs == 5
    assert stats.docs_with_pii == 4
    assert stats.docs_email == 1 and stats.total_email == 2
    # zero shuffles in the scan
    plan = X.pii_scan(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_weighted_mix_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    rows = [(i, f"doc {i}", "en", ["wiki", "crawl", "junk"][i % 3], 0) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    mixed = X.weighted_mix(df, {"wiki": 100, "crawl": 10})
    again = X.weighted_mix(df, {"wiki": 100, "crawl": 10})
    a = sorted(r.doc_id for r in mixed.collect())
    assert a == sorted(r.doc_id for r in again.collect())  # deterministic
    by_src = {r.source: r.cnt for r in mixed.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert by_src.get("wiki") == 200          # 100% kept
    assert 5 <= by_src.get("crawl", 0) <= 45  # ~10% of 200
    assert "junk" not in by_src               # unlisted dropped
    # monotone: raising a rate only adds docs
    bigger = {r.doc_id for r in X.weighted_mix(df, {"wiki": 100, "crawl": 40}).collect()}
    assert set(a) <= bigger


def test_benchmark_contamination_counts_shared_ngrams(spark):
    from solana_data_etl_pipeline_spark.operators.text import benchmark_contamination, word_ngrams

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text with no overlap at all here"),
            (3, "quick brown fox again and the lazy dog sleeps"),
            (4, "ab"),  # shorter than n: contributes nothing
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox leap"), (101, "a very lazy dog indeed")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_overlap_grams for r in benchmark_contamination(corpus, bench, n=3).collect()}
    # doc1 shares 'the quick brown' + 'quick brown fox'; doc3 shares 'quick brown fox'
    assert got == {1: 2, 3: 1}
    # n-gram generation: doc shorter than n yields no grams, grams are distinct
    grams = word_ngrams(spark.createDataFrame([(9, "x y x y x y")], "doc_id long, text string"), 2)
    rows = {r.gram for r in grams.collect()}
    assert rows == {"x y", "y x"}


def test_repetition_stats_gopher_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # 4 words, 2 distinct; top word 'a' x3; bigrams: 'a a' x2, 'a b'
            (2, "u v w x"),          # no repetition at all
            (3, "solo"),             # single word: no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in X.repetition_stats(df).collect()}
    r1 = got[1]
    assert r1.n_words == 4
    assert r1.dup_word_frac == 0.5          # (4 - 2) / 4
    assert r1.top_word_frac == 0.75         # 3 / 4
    assert r1.top_bigram_frac == round(2 / 3, 4)
    r2 = got[2]
    assert (r2.dup_word_frac, r2.top_word_frac) == (0.0, 0.25)
    assert r2.top_bigram_frac == round(1 / 3, 4)  # every bigram unique
    r3 = got[3]
    assert (r3.n_words, r3.top_bigram_frac) == (1, 0.0)


def test_pack_sequences_concat_and_chunk(spark):
    df = spark.createDataFrame(
        [
            # shard s1: 6 + 5 + 3 tokens, budget 8
            (1, "a b c d e f", "s1"),
            (2, "g h i j k", "s1"),
            (3, "l m n", "s1"),
            # shard s2 packs independently from offset 0
            (10, "p q", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r.doc_id: r for r in X.pack_sequences(df, budget=8).collect()}
    assert (rows[1].start_offset, rows[1].first_seq, rows[1].last_seq) == (0, 0, 0)
    # doc 2 starts at 6, ends at token 10 -> straddles the seq boundary at 8
    assert (rows[2].start_offset, rows[2].first_seq, rows[2].last_seq) == (6, 0, 1)
    assert (rows[3].start_offset, rows[3].first_seq, rows[3].last_seq) == (11, 1, 1)
    # shards pack independently: s2 restarts at offset 0
    assert (rows[10].start_offset, rows[10].first_seq) == (0, 0)
    # offsets are consistent: each start is the previous start + n_tokens
    assert rows[2].start_offset == rows[1].start_offset + rows[1].n_tokens


def test_pack_sequences_hash_sharding(spark):
    df = spark.createDataFrame(
        [(i, "w " * (i % 5 + 1), "only_source") for i in range(40)],
        "doc_id long, text string, source string",
    )
    out = X.pack_sequences(df, budget=16, n_shards=4).collect()
    # every doc lands in exactly one of n shards; shards pack
    # independently so each has its own offset-0 document
    shards = {r.shard for r in out}
    assert shards <= {0, 1, 2, 3} and len(shards) > 1
    starts = {r.shard: min(x.start_offset for x in out if x.shard == r.shard) for r in out}
    assert all(v == 0 for v in starts.values())
    # deterministic across runs
    again = X.pack_sequences(df, budget=16, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_span_dup_stats_interval_union(spark):
    df = spark.createDataFrame(
        [
            # docs 1 and 2 share the 3-gram 'a b c' (and doc 1 repeats
            # it internally at overlapping positions 0 and 2: 'a b c a b c'
            # contains 'a b c' at 0 and 3, 'b c a' at 1, 'c a b' at 2)
            (1, "a b c a b c"),
            (2, "x a b c y z"),
            (3, "p q r s t"),  # nothing shared
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in X.span_dup_stats(df, n=3).collect()}
    # doc1: 'a b c' occurs at pos 0 and 3 (also in doc2) -> covers
    # [0,2] and [3,5]: all 6 tokens
    assert got[1].dup_span_tokens == 6
    assert got[1].dup_span_frac == 1.0
    # doc2: only 'a b c' at pos 1 is duplicated -> covers [1,3] = 3 tokens
    assert got[2].dup_span_tokens == 3
    assert got[2].dup_span_frac == 0.5
    # doc3: no shared grams
    assert got[3].dup_span_tokens == 0
    assert got[3].dup_span_frac == 0.0


def test_chunk_documents_sliding_window(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # 10 tokens
            (2, "x y"),                   # shorter than the window
        ],
        "doc_id long, text string",
    )
    got = sorted(
        map(tuple, X.chunk_documents(df, window=4, stride=3).collect())
    )
    # doc 1: starts 0,3,6 (last start = n - window = 6; start 9 would
    # leave a 1-token tail but 9 > 10-4, series stops at 7->6)
    assert [(r[1], r[2], r[3], r[4]) for r in got if r[0] == 1] == [
        (0, 0, 4, "a b c d"),
        (1, 3, 4, "d e f g"),
        (2, 6, 4, "g h i j"),
    ]
    # doc 2: one short chunk, full doc
    assert [(r[1], r[2], r[3], r[4]) for r in got if r[0] == 2] == [(0, 0, 2, "x y")]
    # coverage invariant on real data: with stride < window every token
    # index of every doc falls inside at least one chunk
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql import functions as F2

    ch = X.chunk_documents(docs, window=16, stride=8)
    cover = ch.groupBy("doc_id").agg(
        F2.max(F2.col("start_token") + F2.col("n_chunk_tokens")).alias("covered")
    )
    ntok = docs.select(
        "doc_id", F2.size(F2.split(F2.trim(F2.lower("text")), r"\s+")).alias("n")
    )
    bad = cover.join(ntok, "doc_id").filter(F2.col("covered") != F2.col("n")).count()
    assert bad == 0


def test_quantile_gate_histogram_thresholds(spark):
    # 100 rows with value = row index: p05/p95 thresholds land at 5
    # and 95 (smallest bucket whose cumulative fraction reaches q),
    # keeping 5..95 inclusive = 91 rows
    df = spark.createDataFrame([(i, float(i)) for i in range(1, 101)], "doc_id long, v double")
    kept = X.quantile_gate(df, "v").collect()
    vals = sorted(r.v for r in kept)
    assert vals[0] == 5.0 and vals[-1] == 95.0 and len(vals) == 91
    # gate keeps original columns untouched
    assert set(kept[0].asDict()) == {"doc_id", "v"}


def test_span_dup_stats_bloom_result_identity(spark):
    """The Bloom prefilter must be invisible in the result: false
    positives are erased by the equi-join, false negatives are
    impossible. Pinned on real corpus data, bloom on vs off, and at a
    deliberately TINY bitmap (high FP rate) to stress the FP path."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    off = sorted(map(tuple, X.span_dup_stats(docs, bloom_bits=0).collect()))
    on = sorted(map(tuple, X.span_dup_stats(docs, bloom_bits=1 << 20).collect()))
    tiny = sorted(map(tuple, X.span_dup_stats(docs, bloom_bits=1 << 8).collect()))
    assert on == off
    assert tiny == off


def test_bloom_prefilter_no_false_negatives(spark):
    from solana_data_etl_pipeline_spark.operators.text import _bloom_bitmap, bloom_prefilter

    members = spark.createDataFrame([(f"gram {i}",) for i in range(200)], "gram string")
    bitmap = _bloom_bitmap(members, "gram", 1 << 14, 4)
    probe = spark.createDataFrame(
        [(f"gram {i}",) for i in range(400)], "gram string"  # 200 members + 200 not
    )
    kept = {r.gram for r in bloom_prefilter(probe, "gram", bitmap, 1 << 14, 4).collect()}
    # every member survives (no false negatives)
    assert {f"gram {i}" for i in range(200)} <= kept
    # the filter actually filters: most non-members are dropped
    assert len(kept) < 400


def test_unigram_logprob_prefers_typical_text(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common rare common"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in X.unigram_logprob(df).collect()}
    # corpus: 'common' x7, 'rare' x1, total 8
    p_common, p_rare = 7 / 8, 1 / 8
    assert got[1].n_scored_tokens == 4
    assert got[1].avg_token_logprob == round(math.log(p_common), 4)
    expect2 = (3 * math.log(p_common) + math.log(p_rare)) / 4
    assert got[2].avg_token_logprob == round(expect2, 4)
    # the doc containing the rare token scores strictly lower
    assert got[2].avg_token_logprob < got[1].avg_token_logprob


def test_quantile_gate_null_semantics(spark):
    # null scores: excluded from the histogram (thresholds computed
    # over measured values only) and never pass the gate
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 10.0), (4, 7.0)], "doc_id long, v double"
    )
    kept = sorted(r.doc_id for r in X.quantile_gate(df, "v", lo_q=0.0, hi_q=1.0).collect())
    assert kept == [1, 3, 4]
    allnull = spark.createDataFrame([(1, None), (2, None)], "doc_id long, v double")
    assert X.quantile_gate(allnull, "v").count() == 0


def test_training_shuffle_is_deterministic_permutation(spark):
    rows = [(i, f"doc {i} text", "en", "s1", 10 + i) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = X.training_shuffle(df, n_shards=8, seed=7).collect()
    # a permutation: every doc exactly once, shards in range, positions
    # contiguous 1..|shard| within each shard
    assert sorted(r.doc_id for r in got) == list(range(200))
    assert {r.shard for r in got} <= set(range(8))
    by_shard = {}
    for r in got:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic replay, seed-sensitive reorder
    again = X.training_shuffle(df, n_shards=8, seed=7).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    other = X.training_shuffle(df, n_shards=8, seed=8).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in other} != {
        (r.doc_id, r.shard, r.pos) for r in got
    }
    # not ingest order: within some shard, doc_ids are not sorted by pos
    some = max(by_shard, key=lambda s: len(by_shard[s]))
    ordered = [r.doc_id for r in sorted(got, key=lambda r: (r.shard, r.pos)) if r.shard == some]
    assert ordered != sorted(ordered)


def test_token_budget_select_whole_bucket_semantics(spark):
    # score buckets: 0.9 (weights 40+50), 0.8 (weight 30), 0.5 (weight 100)
    rows = [
        (1, 0.9, 40),
        (2, 0.9, 50),
        (3, 0.8, 30),
        (4, 0.5, 100),
        (5, None, 10),  # null score never qualifies
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, w long")

    def kept(budget):
        return {
            r.doc_id
            for r in X.token_budget_select(
                df, budget=budget, score_col="score", weight_col="w"
            ).collect()
        }

    assert kept(300) == {1, 2, 3, 4}   # everything fits
    assert kept(150) == {1, 2, 3}      # 0.5 bucket would overflow (90+30+100)
    assert kept(120) == {1, 2, 3}      # boundary: exactly 90+30
    assert kept(119) == {1, 2}         # 0.8 bucket would overflow
    assert kept(89) == set()           # even the top bucket exceeds the budget


def test_winnow_fingerprints_matches_python_model_and_guarantee(spark):
    import hashlib

    texts = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "Quick brown fox jumps high over fences"),   # shares 'quickbrownfoxjumps'
        (3, "zz"),                                        # shorter than k -> no fingerprints
        (4, "completely unrelated material here"),
        (5, "!!! ... ???"),                               # normalizes to "" -> no fingerprints
        (6, "Дама сдавала в багаж диван чемодан саквояж"),  # non-Latin content fingerprints
        (7, "汉字文本也要有指纹不能归一化成空串"),              # CJK content fingerprints
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in X.winnow_fingerprints(df, k=5, window=4).collect():
        got.setdefault(r.doc_id, set()).add(r.fingerprint)

    def model(text, k=5, w=4):
        s = "".join(ch for ch in text.lower() if ch.isalnum())
        if len(s) < k:
            return set()
        h = [
            int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(s) - k + 1)
        ]
        n_w = max(len(h) - w + 1, 1)
        return {min(h[j : j + w]) for j in range(n_w)}

    for doc_id, text in texts:
        assert got.get(doc_id, set()) == model(text), doc_id
    # the winnowing guarantee: a shared substring of length >= k+w-1
    # (here 'quickbrownfoxjumps', 18 chars) yields a common fingerprint
    assert got[1] & got[2]
    # unrelated docs share nothing
    assert not (got[1] & got[4])
    # sub-k / empty-normalized docs emit NOTHING (no shared degenerate
    # md5("") bucket), while non-Latin docs DO fingerprint
    assert 3 not in got and 5 not in got
    assert got[6] and got[7] and not (got[6] & got[7])


def test_winnow_overlap_pairs_detects_shared_substrings(spark):
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b = "yesterday the quick brown fox jumps over the lazy dog once again happily"
    c = "entirely different content with no overlap whatsoever in any phrasing"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.shared
        for r in X.winnow_overlap_pairs(df, min_shared=2).collect()
    }
    assert set(got) == {(1, 2)}  # the long shared run is witnessed; c pairs with nobody
    assert got[(1, 2)] >= 2
    # bucket cap drops boilerplate fingerprints: with cap 1, every
    # fingerprint shared by both docs sits in a width-2 bucket -> gone
    assert (
        X.winnow_overlap_pairs(df, min_shared=1, max_bucket=1, coverage_floor=None).count() == 0
    )


def test_span_dedup_rewrite_first_occurrence_retained(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "x y a b c"),          # 'a b c' repeats doc1@0 -> removed here
            (3, "p q r p q r p q r"),  # within-doc period-3 repetition
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in X.span_dedup_rewrite(df, n=3).collect()}
    # corpus-wide first occurrence (doc 1) keeps its text whole
    assert got[1].clean_text == "a b c d e"
    assert got[1].removed_tokens == 0
    # the later occurrence in doc 2 loses exactly the covered span
    assert got[2].clean_text == "x y"
    assert got[2].removed_tokens == 3
    # within-doc: every gram's first occurrence sits in the first
    # period; the union of later covers is positions 3..8
    assert got[3].clean_text == "p q r"
    assert got[3].removed_tokens == 6
    assert all(r.n_tokens in (5, 9) for r in got.values())


def test_span_dedup_rewrite_matches_position_set_model(spark):
    """The interval-union rewrite must be position-identical to the
    definitional model (explode covered positions of every later
    occurrence, union, filter tokens) -- across overlapping, adjacent
    and disjoint spans, and at the long-gram configs (n=8) real
    substring dedup uses."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(1, 41)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3, 8):
        got = {r.doc_id: r for r in X.span_dedup_rewrite(df, n=n).collect()}

        # definitional model
        occs = []  # (gram, doc_id, pos)
        for doc_id, t in rows:
            tk = t.split()
            for p in range(len(tk) - n + 1):
                occs.append((tuple(tk[p : p + n]), doc_id, p))
        from collections import Counter

        cnt = Counter(g for g, _, _ in occs)
        later = sorted(
            (g, d, p) for g, d, p in occs if cnt[g] >= 2
        )
        seen: set = set()
        removed: dict = {d: set() for d, _ in rows}
        for g, d, p in later:
            if g in seen:
                removed[d].update(range(p, p + n))
            else:
                seen.add(g)
        for doc_id, t in rows:
            tk = t.split()
            rem = removed[doc_id]
            want = " ".join(w for i, w in enumerate(tk) if i not in rem)
            assert got[doc_id].clean_text == want, (n, doc_id)
            assert got[doc_id].removed_tokens == len(rem), (n, doc_id)
            assert got[doc_id].n_tokens == len(tk)


def test_bigram_logprob_matches_python_model(spark):
    import math

    texts = [(1, "a b a b a c"), (2, "a b"), (3, "c a b")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: r for r in X.bigram_logprob(df).collect()}

    bigrams = []
    for _i, t in texts:
        tk = t.split()
        bigrams.extend(list(zip(tk, tk[1:])))
    from collections import Counter

    cb = Counter(bigrams)
    cc = Counter(w1 for w1, _ in bigrams)
    for doc_id, t in texts:
        tk = t.split()
        lps = [math.log(cb[(a, b)] / cc[a]) for a, b in zip(tk, tk[1:])]
        assert got[doc_id].n_scored_bigrams == len(lps)
        assert abs(got[doc_id].avg_bigram_logprob - round(sum(lps) / len(lps), 4)) < 1e-9


def test_temperature_mix_upsamples_small_sources(spark):
    """tau<1 keeps small sources at (near-)full rate while damping the
    dominant source; rates follow the p^tau formula."""
    rows = [(i, "t", "big") for i in range(900)] + [(1000 + i, "t", "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = X.temperature_mix(df, tau=0.5, target_frac=0.5)
    rates = {r.source: r.rate_bp for r in out.select("source", "rate_bp").distinct().collect()}
    # analytic: w_big=sqrt(.9), w_small=sqrt(.1); q_small/q_big = 1/3;
    # keep_small = min(1, .5*1000*q_small/100) > keep_big = .5*1000*q_big/900
    import math

    wb, ws = math.sqrt(0.9), math.sqrt(0.1)
    qb, qs_ = wb / (wb + ws), ws / (wb + ws)
    exp_big = round(0.5 * 1000 * qb / 900 * 10000)
    exp_small = min(10000, round(0.5 * 1000 * qs_ / 100 * 10000))
    assert rates == {"big": exp_big, "small": exp_small}
    assert rates["small"] > rates["big"]
    # determinism
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in X.temperature_mix(df, tau=0.5, target_frac=0.5).collect()}
    assert a == b


def test_corpus_curation_composes_all_selection_stages(spark):
    """End-to-end curation pipeline contract: the output is train-only,
    leakage-decontaminated, quality-gated, exact-dedup-kept, inside
    the token budget, and every row carries its source's mix rate."""
    from solana_data_etl_pipeline_spark.operators import dedup as D
    from solana_data_etl_pipeline_spark.plans import corpus as C
    from solana_data_etl_pipeline_spark.plans.suite import DEDUP_MAX_BUCKET
    from solana_data_etl_pipeline_spark.plans.testdata_model import load_table

    sf = "/root/testdata/sf0.001"
    out = C.corpus_curation(spark, sf).collect()
    assert out  # non-degenerate at the smallest SF

    # token budget respected (whole-bucket granularity => never over)
    assert sum(r.n_tokens for r in out) <= C.TOKEN_BUDGET
    # quality gates
    assert all(r.n_tokens >= C.MIN_TOKENS for r in out)
    assert all(r.alpha_ratio >= C.MIN_ALPHA_RATIO for r in out)
    # mix rates are valid basis points
    assert all(0 <= r.rate_bp <= 10_000 for r in out)

    docs = load_table(spark, sf, "documents")
    # train-only and leakage-free: every output id survives the
    # cluster-level decontaminated split as 'train'
    split = {
        r.doc_id: r.split
        for r in D.leakage_free_split(
            docs,
            val_pct=C.VAL_PCT,
            threshold=C.NEAR_DUP_THRESHOLD,
            max_bucket=DEDUP_MAX_BUCKET,
        ).collect()
    }
    assert all(split.get(r.doc_id) == "train" for r in out)
    # exact-dedup keepers only
    keepers = {r.keep_doc_id for r in D.exact_duplicates(docs).collect()}
    assert all(r.doc_id in keepers for r in out)


def test_bpe_merge_stats_counts_adjacent_pairs(spark):
    """First-merge BPE statistic: occurrence-weighted adjacent
    character pair counts, ties broken (lhs, rhs) ascending."""
    df = spark.createDataFrame(
        [(1, "aab aab"), (2, "ba x")], "doc_id long, text string"
    )
    got = [(r.lhs, r.rhs, r.pair_count) for r in X.bpe_merge_stats(df, top_n=10).collect()]
    # pairs: 'aab' x2 -> (a,a) x2, (a,b) x2 ; 'ba' -> (b,a) ; 'x' single char -> nothing
    assert got == [("a", "a", 2), ("a", "b", 2), ("b", "a", 1)]


def test_bpe_train_hand_model(spark):
    """The iterative trainer on a hand-computable corpus: 'low low
    lower' (the Sennrich-paper flavor of example). Word counts:
    low=2, lower=1. Round 1 pairs: (l,o)=3, (o,w)=3, (w,e)=1,
    (e,r)=1 -> tie (l,o) wins by (lhs, rhs) ascending; merge 'lo'.
    Round 2: (lo,w)=3 wins; merge 'low'. Round 3: words are
    [low][low] / [low,e,r]: (low,e)=1, (e,r)=1 -> (e,r) loses the
    ascending tie to (low,e)? No: 'e' < 'low' lexicographically, so
    (e,r) wins. Merge 'er'."""
    df = spark.createDataFrame([(1, "low low lower")], "doc_id long, text string")
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in X.bpe_train(df, n_merges=3).orderBy("rank").collect()
    ]
    assert got == [
        (1, "l", "o", "lo", 3),
        (2, "lo", "w", "low", 3),
        (3, "e", "r", "er", 1),
    ]


def test_bpe_encode_piece_counts_and_fertility(spark):
    """Encoding applies the trained symbol table by vocabulary join:
    after 2 merges on 'low low lower' (lo then low), 'low' is 1 piece
    and 'lower' is 3 (low, e, r). Doc piece count = sum over words;
    fertility_bp = chars * 10000 div pieces (floor)."""
    df = spark.createDataFrame([(1, "low low lower")], "doc_id long, text string")
    r = X.bpe_encode(df, n_merges=2).collect()[0]
    assert (r.n_words, r.n_chars, r.n_bpe_learned) == (3, 11, 5)
    assert r.fertility_bp == 11 * 10000 // 5
    # a second doc reuses the SAME learned tokenizer (trained on the
    # whole corpus): 'low w' -> low=1 piece, w=1 piece
    df2 = spark.createDataFrame(
        [(1, "low low lower"), (2, "low w")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in X.bpe_encode(df2, n_merges=2).collect()}
    assert got[2].n_bpe_learned == 2 and got[2].n_chars == 4


def test_bpe_train_dry_corpus_stops_early(spark):
    """ADVICE r11: when adjacent pairs run dry before n_merges the
    loop must stop at the last valid state, not collapse `syms`
    through an empty argmax crossJoin. All-single-char words are dry
    from round 1: train returns an EMPTY merge table (contract
    schema) and encode still covers every document (each word is its
    own single symbol)."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c a")], "doc_id long, text string"
    )
    trained = X.bpe_train(df, n_merges=4)
    assert trained.columns == ["rank", "lhs", "rhs", "merged", "pair_count"]
    assert trained.count() == 0
    got = {r.doc_id: r for r in X.bpe_encode(df, n_merges=4).collect()}
    assert set(got) == {1, 2}
    for r in got.values():
        assert (r.n_words, r.n_chars, r.n_bpe_learned) == (3, 3, 3)


def test_bpe_dry_corpus_oracle_matches_operator(spark):
    """ADVICE r12: the Spark-side dry-round guard (stop at last valid
    symbol state) must be mirrored in the DuckDB oracle -- before the
    fix, a dry round t collapsed the oracle's s{t}..s{n} CTEs to
    empty, so the bpe_encode oracle returned 0 rows while the fixed
    operator returned the full corpus, failing parity loudly on any
    corpus that runs dry. Both the fully-dry (round 1) and
    partially-dry (round 2) regimes are checked on BOTH engines."""
    import duckdb

    from solana_data_etl_pipeline_spark.plans.suite import (
        _bpe_encode_sql,
        _bpe_train_sql,
    )

    for rows in (
        [(1, "a b c"), (2, "b c a")],  # dry from round 1
        [(1, "ab ab")],  # learns round 1, dry from round 2
    ):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        import pandas as pd

        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        got_enc = {
            (r.doc_id, r.n_words, r.n_chars, r.n_bpe_learned, r.fertility_bp)
            for r in X.bpe_encode(df, n_merges=4).collect()
        }
        ora_enc = {
            tuple(t) for t in con.execute(_bpe_encode_sql(4)).fetchall()
        }
        assert got_enc == ora_enc and got_enc, rows  # non-vacuous
        got_train = {
            (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
            for r in X.bpe_train(df, n_merges=4).collect()
        }
        ora_train = {
            tuple(t) for t in con.execute(_bpe_train_sql(4)).fetchall()
        }
        assert got_train == ora_train, rows
        con.close()


def test_bpe_train_partial_dry_keeps_learned_merges(spark):
    """A vocabulary that fully merges mid-run keeps the merges it
    learned: 'ab ab' learns (a,b) in round 1, runs dry in round 2
    (every word is the single symbol 'ab'), and encode applies the
    1-merge tokenizer (1 piece per word) instead of dropping the
    corpus."""
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in X.bpe_train(df, n_merges=5).orderBy("rank").collect()
    ]
    assert got == [(1, "a", "b", "ab", 2)]
    r = X.bpe_encode(df, n_merges=5).collect()[0]
    assert (r.n_words, r.n_chars, r.n_bpe_learned) == (2, 4, 2)
    assert r.fertility_bp == 4 * 10000 // 2


def test_bpe_train_left_greedy_self_overlap(spark):
    """A run of identical symbols merges left-greedily: 'aaaa' x2 and
    'aaa' -> round 1 merges (a,a) with count 2*3 + 2 = 8 (every
    adjacent occurrence counts in the STATISTIC), and the application
    keeps every other match: aaaa -> [aa][aa], aaa -> [aa][a]. Round
    2's top pair is then (aa,aa)=2 (from the two 'aaaa') vs
    (aa,a)=1 -- merging 'aaaa'."""
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaa")], "doc_id long, text string"
    )
    got = [
        (r.rank, r.lhs, r.rhs, r.pair_count)
        for r in X.bpe_train(df, n_merges=2).orderBy("rank").collect()
    ]
    assert got == [(1, "a", "a", 8), (2, "aa", "aa", 2)]


def test_tokenize_corpus_frequency_ranked_ids(spark):
    df = spark.createDataFrame(
        [(1, "b a a c"), (2, "a b zz")], "doc_id long, text string"
    )
    # freqs: a=3, b=2, c=1, zz=1 -> ids a=1, b=2, c=3 (tie c<zz), zz=4
    got = {r.doc_id: r for r in X.tokenize_corpus(df, vocab_size=3).collect()}
    assert got[1].token_ids == "2 1 1 3"
    assert got[1].n_tokens == 4 and got[1].oov_count == 0
    # zz falls outside the top-3 vocab -> unk id 0
    assert got[2].token_ids == "1 2 0"
    assert got[2].oov_count == 1


def test_source_quota_sample_caps_and_is_stable(spark):
    import hashlib

    rows = [(i, f"text {i}", "en", "big" if i < 40 else "small", 0) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    kept = {r.doc_id for r in X.source_quota_sample(df, max_per_source=5).collect()}
    again = {r.doc_id for r in X.source_quota_sample(df, max_per_source=5).collect()}
    assert kept == again  # deterministic
    by_src = {"big": [], "small": []}
    for i in kept:
        by_src["big" if i < 40 else "small"].append(i)
    assert len(by_src["big"]) == 5 and len(by_src["small"]) == 5
    # kept = the 5 smallest md5 keys per source, not the ingest head
    def key(i):
        return (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i)
    want_big = sorted(range(40), key=key)[:5]
    assert sorted(by_src["big"]) == sorted(want_big)


def test_stratified_holdout_exact_per_stratum_counts(spark):
    import hashlib

    # strata: (srcA,en)=40 docs, (srcA,es)=7, (srcB,en)=3
    rows = (
        [(i, f"t {i}", "en", "srcA", 0) for i in range(40)]
        + [(100 + i, f"t {i}", "es", "srcA", 0) for i in range(7)]
        + [(200 + i, f"t {i}", "en", "srcB", 0) for i in range(3)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = X.stratified_holdout(df, eval_frac=0.25).collect()
    assert len(out) == 50  # every doc labeled, none dropped
    ev = {}
    for r in out:
        if r.split == "eval":
            ev.setdefault((r.source, r.lang), []).append(r.doc_id)
    # floor(n * 2500 / 10000) exactly per stratum
    assert len(ev[("srcA", "en")]) == 10
    assert len(ev[("srcA", "es")]) == 1
    assert ("srcB", "en") not in ev  # floor(3*0.25) = 0
    # the eval picks are the smallest seeded-md5 keys of the stratum
    def key(i):
        return (int(hashlib.md5(f"0|{i}".encode()).hexdigest()[:15], 16), i)

    want = sorted(range(40), key=key)[:10]
    assert sorted(ev[("srcA", "en")]) == sorted(want)
    # deterministic across reruns; a different seed moves the picks
    again = X.stratified_holdout(df, eval_frac=0.25).collect()
    assert {(r.doc_id, r.split) for r in again} == {(r.doc_id, r.split) for r in out}
    other = {
        r.doc_id
        for r in X.stratified_holdout(df, eval_frac=0.25, seed=7).collect()
        if r.split == "eval" and r.source == "srcA" and r.lang == "en"
    }
    assert len(other) == 10 and other != set(want)


def test_c4_clean_line_rules_and_page_blocklist(spark):
    page = "\n".join([
        "This is a perfectly good sentence with enough words.",   # kept
        "Too short.",                                              # <5 words
        "this line has plenty of words but no terminal mark",      # no punct
        'He said "it ends with a quote after punctuation."',       # kept (quote after .)
        "Another fine sentence appears right here today!",         # kept
        "",                                                        # empty
    ])
    rows = [
        (1, page),
        (2, "Lorem Ipsum dolor sit amet and so on and on."),      # blocklist page
        (3, "function f() { return 1; } some words here too."),   # code brace page
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in X.c4_clean(df).collect()}
    assert got[1].n_lines == 6 and got[1].kept_lines == 3
    assert not got[1].page_filtered
    assert got[1].clean_text.split("\n") == [
        "This is a perfectly good sentence with enough words.",
        'He said "it ends with a quote after punctuation."',
        "Another fine sentence appears right here today!",
    ]
    for d in (2, 3):
        assert got[d].page_filtered and got[d].kept_lines == 0 and got[d].clean_text == ""


def test_gopher_quality_rules(spark):
    good = ("the " + "sensible words appear with that pattern and have " * 8).strip()
    bullets = "\n".join("- bullet item line" for _ in range(10))
    symbols = "the of and that have with " + "### ... ### ... " * 20
    short = "the of and that"
    rows = [(1, good), (2, bullets), (3, symbols), (4, short)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in X.gopher_quality(df).collect()}
    assert got[1].gopher_pass
    assert got[1].stopword_hits >= 2 and got[1].alpha_word_frac >= 0.8
    # all-bullet page fails the bullet-fraction rule (and word count)
    assert got[2].bullet_line_frac == 1.0 and not got[2].gopher_pass
    # symbol-heavy page fails the symbol ratio
    assert got[3].symbol_ratio > 0.1 and not got[3].gopher_pass
    # too short
    assert got[4].n_words < 50 and not got[4].gopher_pass


def test_source_quota_hot_matches_rank_form_with_planted_hot_source(spark):
    """The histogram-threshold fallback keeps the EXACT set the
    per-source rank window keeps, including on a pathologically hot
    source (one domain with 100x the rows of the others) -- the
    regime the fallback exists for."""
    from solana_data_etl_pipeline_spark.operators.text import (
        source_quota_sample,
        source_quota_sample_hot,
    )

    rows = [(i, "hot") for i in range(2000)]
    rows += [(10_000 + i, f"cold{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    for quota in (7, 25):
        rank = {
            (r.doc_id, r.source)
            for r in source_quota_sample(df, max_per_source=quota).collect()
        }
        hot = {
            (r.doc_id, r.source)
            for r in source_quota_sample_hot(df, max_per_source=quota).collect()
        }
        assert hot == rank
        per_src = {}
        for _, s in hot:
            per_src[s] = per_src.get(s, 0) + 1
        assert per_src["hot"] == quota
        assert all(v <= quota for v in per_src.values())


def test_curation_gates_column_identical_to_composition(spark):
    """The fused one-scan gate projection equals the three standalone
    operators joined on doc_id, column for column -- the doc_features
    standard for every fused scorer here."""
    from solana_data_etl_pipeline_spark.operators.text import (
        c4_clean,
        curation_gates,
        gopher_quality,
        quality_scores,
    )

    rows = [
        (1, " ".join("the quick brown fox and that lazy dog have words with".split() * 6)),
        (2, "Short line.\nAnother proper sentence with enough words here.\n- bullet"),
        (3, "lorem ipsum boilerplate page with the usual markers in it"),
        (4, "word " * 60 + "{ code }"),
        (5, ""),
        (6, "…trailing ellipsis line…\n# symbols ### everywhere ..."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fused = {r.doc_id: r.asDict() for r in curation_gates(df).collect()}
    composed = {
        r.doc_id: r.asDict()
        for r in (
            gopher_quality(df)
            .select("doc_id", "n_words", "gopher_pass")
            .join(c4_clean(df).select("doc_id", "kept_lines", "page_filtered"), "doc_id")
            .join(quality_scores(df).select("doc_id", "alpha_ratio"), "doc_id")
        ).collect()
    }
    assert set(fused) == set(composed)
    for i in fused:
        for k, v in composed[i].items():
            assert fused[i][k] == v, (i, k, fused[i][k], v)


def test_pii_redact_planted_patterns(spark):
    """Typed placeholders replace every match; clean documents pass
    through byte-identical; counts equal pii_scan totals."""
    from solana_data_etl_pipeline_spark.operators.text import pii_redact, pii_scan

    rows = [
        (1, "contact alice@example.com or bob@test.org today"),
        (2, "call 555-123-4567 from 10.0.0.1 about ssn 123-45-6789"),
        (3, "a perfectly clean sentence with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    assert "<EMAIL>" in got[1].clean_text and "alice@example.com" not in got[1].clean_text
    assert got[1].clean_text.count("<EMAIL>") == 2
    assert "<IPV4>" in got[2].clean_text and "10.0.0.1" not in got[2].clean_text
    assert "<SSN_LIKE>" in got[2].clean_text or "<PHONE>" in got[2].clean_text
    assert got[3].clean_text == rows[2][1]
    assert got[3].redacted_count == 0
    scan = {r.doc_id: r.pii_hits for r in pii_scan(df).collect()}
    for i in got:
        assert got[i].redacted_count == scan[i]


def test_pii_redact_count_is_placeholders_inserted(spark):
    """When a later pattern only matches INSIDE an earlier pattern's
    already-replaced span, it is neither replaced nor counted:
    redacted_count equals the placeholders actually inserted, while
    pii_scan keeps the (larger) original-text scan count."""
    from solana_data_etl_pipeline_spark.operators.text import (
        PII_PATTERNS,
        pii_redact,
        pii_scan,
    )

    # the phone substring lives inside the email match; the email
    # rewrite swallows it before the phone pattern runs
    df = spark.createDataFrame(
        [(1, "reach john555-123-4567@mail.com for details")],
        "doc_id long, text string",
    )
    row = pii_redact(df).collect()[0]
    placeholders = sum(
        row.clean_text.count(f"<{kind.upper()}>") for kind in PII_PATTERNS
    )
    assert row.clean_text == "reach <EMAIL> for details"
    assert row.redacted_count == placeholders == 1
    assert pii_scan(df).collect()[0].pii_hits == 2  # email + phone, original text


def test_packing_efficiency_hand_model(spark):
    """Two shards with known token streams: sequence counts and waste
    follow the budget arithmetic exactly."""
    from solana_data_etl_pipeline_spark.operators.text import packing_efficiency

    rows = [
        (1, "a b c d", "s1"),     # 4 tokens
        (2, "e f g", "s1"),       # 3 -> s1 total 7, budget 4 -> 2 seqs, 1 pad
        (3, "h i j k l", "s2"),   # 5 -> 2 seqs, 3 pad
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in packing_efficiency(df, budget=4).collect()}
    assert got["s1"].n_sequences == 2 and got["s1"].padding_tokens == 1
    assert got["s1"].fill_ratio == 0.875
    assert got["s2"].n_sequences == 2 and got["s2"].padding_tokens == 3
    assert got["s2"].total_tokens == 5 and got["s2"].n_docs == 1


def test_corpus_curation_v2_composes_published_gates(spark):
    """v2 pipeline contract: the output passes the PUBLISHED gates
    (Gopher conjunction, C4 page gate), stays train-only under the
    decontaminated split, respects the tighter token budget, and
    carries valid mix rates."""
    from solana_data_etl_pipeline_spark.operators import dedup as D
    from solana_data_etl_pipeline_spark.operators import text as X
    from solana_data_etl_pipeline_spark.plans import corpus as C
    from solana_data_etl_pipeline_spark.plans.suite import DEDUP_MAX_BUCKET
    from solana_data_etl_pipeline_spark.plans.testdata_model import load_table

    sf = "/root/testdata/sf0.001"
    out = C.corpus_curation_v2(spark, sf).collect()
    assert out  # non-degenerate

    assert sum(r.n_words for r in out) <= C.V2_TOKEN_BUDGET
    assert all(0 <= r.rate_bp <= 10_000 for r in out)

    docs = load_table(spark, sf, "documents")
    gq = {r.doc_id: r.gopher_pass for r in X.gopher_quality(docs).collect()}
    c4 = {r.doc_id: r.page_filtered for r in X.c4_clean(docs).collect()}
    assert all(gq[r.doc_id] for r in out)
    assert all(not c4[r.doc_id] for r in out)

    split = {
        r.doc_id: r.split
        for r in D.leakage_free_split(
            docs,
            val_pct=C.VAL_PCT,
            threshold=C.NEAR_DUP_THRESHOLD,
            max_bucket=DEDUP_MAX_BUCKET,
        ).collect()
    }
    assert all(split.get(r.doc_id) == "train" for r in out)
    keepers = {r.keep_doc_id for r in D.exact_duplicates(docs).collect()}
    assert all(r.doc_id in keepers for r in out)


def test_allocation_report_reconciles_with_v3(spark):
    """The manifest is an exact aggregation of the v3 selection:
    realized token mass and doc counts reconcile per source, and the
    greedy whole-document selection can only UNDERSHOOT its
    allocation (utilization_bp <= 10000, realized <= min(alloc,
    capacity-by-construction))."""
    from solana_data_etl_pipeline_spark.plans import corpus as C

    sf = "/root/testdata/sf0.001"
    sel = C.corpus_curation_v3(spark, sf).collect()
    rep = {r.source: r for r in C.allocation_report(spark, sf).collect()}
    by_src: dict = {}
    for r in sel:
        t, n = by_src.get(r.source, (0, 0))
        by_src[r.source] = (t + r.n_words, n + 1)
    assert set(rep) == set(by_src)
    for src, (tok, n) in by_src.items():
        assert rep[src].realized_tokens == tok and rep[src].n_docs == n
        assert rep[src].realized_tokens <= rep[src].src_alloc
        assert 0 < rep[src].utilization_bp <= 10_000
        assert rep[src].utilization_bp == tok * 10_000 // rep[src].src_alloc


def test_interp_logprob_backs_off_singleton_transitions(spark):
    """Interpolation separates what pure-bigram scoring cannot: two
    docs whose every transition is a SINGLETON (ln(1)=0 under the
    MLE bigram model) score differently when their continuations
    have different corpus frequency; exact values match the
    Jelinek-Mercer hand model."""
    import math

    from solana_data_etl_pipeline_spark.operators.text import (
        INTERP_LAMBDA,
        bigram_logprob,
        interp_logprob,
    )

    # bigrams: (a,b) (b,a) (a,c) -> all singleton transitions; corpus
    # continuations: b x1, a x1, c x1 ... craft shared continuations:
    rows = [
        (1, "x common y"),     # (x,common) (common,y)
        (2, "z common w"),     # (z,common) (common,w)
        (3, "p q"),            # (p,q) -- rare continuation q
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # doc 3's transition is a singleton in a singleton context: pure
    # bigram scores it ln(1)=0, indistinguishable from boilerplate
    pure = {r.doc_id: r.avg_bigram_logprob for r in bigram_logprob(df).collect()}
    assert pure[3] == 0.0

    got = {r.doc_id: r.avg_interp_logprob for r in interp_logprob(df).collect()}
    # hand model: N=5 bigrams; contexts x:1 common:2 z:1 p:1;
    # continuations common:2 y:1 w:1 q:1
    lam, N = INTERP_LAMBDA, 5.0

    def p(p_big, cw):
        return lam * p_big + (1 - lam) * (cw / N)

    exp1 = round((math.log(p(1.0, 2)) + math.log(p(0.5, 1))) / 2, 4)
    exp3 = round(math.log(p(1.0, 1)), 4)
    assert got[1] == exp1
    assert got[3] == exp3
    # interpolation now ranks doc 3 below a perfect-singleton score
    assert got[3] < 0.0


def test_novelty_scores_against_reference(spark):
    """Novelty fractions follow the hand model: a doc fully covered by
    the reference scores 0, a disjoint doc 1, a half-covered doc 0.5;
    sub-n docs contribute nothing."""
    from solana_data_etl_pipeline_spark.operators.text import novelty_scores

    ref = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # all grams in ref -> 0
            (2, "one two three four"),              # disjoint -> 1
            (3, "alpha beta gamma epsilon"),        # grams: (a b g) seen, (b g e) novel
            (4, "xy"),                              # sub-n -> absent
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in novelty_scores(corpus, ref, n=3).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].novelty == 0.0
    assert got[2].novelty == 1.0
    assert got[3].novelty == 0.5 and got[3].n_grams == 2 and got[3].novel_grams == 1


def test_grouped_quantile_buckets_hand_model(spark):
    """Per-group thirds follow the hand model; ties share a bucket
    (the whole tied histogram bin lands below the threshold it
    defines); groups bucket independently; null scores get null."""
    from solana_data_etl_pipeline_spark.operators.text import grouped_quantile_buckets

    rows = [(i, "a", float(i)) for i in range(1, 7)]          # 1..6
    rows += [(10, "b", 1.0), (11, "b", 1.0), (12, "b", 1.0), (13, "b", 2.0)]
    rows += [(20, "c", None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    got = {r.doc_id: r.bucket for r in grouped_quantile_buckets(df, "lang", "score").collect()}
    assert [got[i] for i in range(1, 7)] == ["tail", "tail", "middle", "middle", "head", "head"]
    # group b: v=1 holds 3/4 of the mass -> both thresholds are 1.0;
    # every tied doc is 'tail', the remaining doc is 'head'
    assert [got[i] for i in (10, 11, 12, 13)] == ["tail", "tail", "tail", "head"]
    assert got[20] is None


def test_perplexity_buckets_partition_is_per_lang_third(spark):
    """The registered composition produces a (roughly) 1/3 split per
    language on real data and scores agree with interp_logprob."""
    from solana_data_etl_pipeline_spark.operators.text import (
        grouped_quantile_buckets,
        interp_logprob,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = grouped_quantile_buckets(
        interp_logprob(docs, carry_cols=("lang",)), "lang", "avg_interp_logprob"
    )
    per = {(r.lang, r.bucket): r["count"] for r in out.groupBy("lang", "bucket").count().collect()}
    langs = {lang for lang, _ in per}
    for lang in langs:
        n = sum(v for (l, _), v in per.items() if l == lang)
        for b in ("tail", "middle", "head"):
            # ties can skew bins, but every bucket must be populated
            # and no bucket may swallow the language
            assert 0 < per.get((lang, b), 0) < n
    base = {r.doc_id: r.avg_interp_logprob for r in interp_logprob(docs).collect()}
    for r in out.limit(50).collect():
        assert r.avg_interp_logprob == base[r.doc_id]


def test_line_dedup_first_wins_and_structure_kept(spark):
    """Planted boilerplate: the corpus-first occurrence (lowest
    doc_id, then pos) survives, every later exact copy is dropped
    (across docs AND within a doc), whitespace-only lines are never
    deduped, and clean_text preserves original line order."""
    from solana_data_etl_pipeline_spark.operators.text import line_dedup

    rows = [
        (1, "unique alpha\ncookie banner\nunique beta"),
        (2, "cookie banner\n  \nunique gamma\ncookie banner"),
        (3, "  \nunique delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in line_dedup(df).collect()}
    assert got[1].clean_text == "unique alpha\ncookie banner\nunique beta"
    assert (got[1].n_lines, got[1].kept_lines, got[1].removed_lines) == (3, 3, 0)
    # doc 2: both copies of the banner lose to doc 1's; the
    # whitespace line is structural and stays
    assert got[2].clean_text == "  \nunique gamma"
    assert (got[2].n_lines, got[2].kept_lines, got[2].removed_lines) == (4, 2, 2)
    assert got[3].clean_text == "  \nunique delta"
    assert got[3].removed_lines == 0


def test_hash_embed_bag_of_words_properties(spark):
    """The hashed encoder is an L2-normalized signed bag of words:
    identical texts embed identically, token ORDER is irrelevant,
    different texts differ, empty docs are zero vectors, and every
    nonempty vector has unit norm."""
    import math

    from solana_data_etl_pipeline_spark.operators.text import hash_embed

    rows = [
        (1, "alpha beta gamma"),
        (2, "gamma alpha beta"),
        (3, "alpha beta gamma delta"),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.vec_id: list(r.embedding) for r in hash_embed(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert all(x == 0.0 for x in got[4])
    for vid in (1, 2, 3):
        assert math.isclose(sum(x * x for x in got[vid]), 1.0, rel_tol=1e-9)


def test_hash_embed_null_text_feeds_lsh_paths(spark, tmp_path):
    """A NULL-text document embeds as the zero vector, exactly like an
    empty one, so the embedding-LSH paths over hash_embed (which refuse
    NULL vectors) index and rank a corpus that holds one."""
    from solana_data_etl_pipeline_spark.operators.dedup import materialize_embedding_lsh
    from solana_data_etl_pipeline_spark.operators.similarity import EMB_DIM, knn_lsh_indexed

    rows = [(1, "a b c", "en", "s", 5), (2, None, "en", "s", 0), (3, "", "en", "s", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r.vec_id: list(r.embedding) for r in X.hash_embed(docs).collect()}
    assert got[2] == got[3] == [0.0] * EMB_DIM
    path = str(tmp_path / "lsh")
    materialize_embedding_lsh(X.hash_embed(docs), path)
    q = X.hash_embed(docs.filter("doc_id = 1")).selectExpr("-1L AS query_id", "embedding")
    assert 1 in {r.neighbor_id for r in knn_lsh_indexed(path, q, k=3).collect()}
    fused = X.hybrid_rank(docs, ["a"], k=3).collect()
    assert fused[0].doc_id == 1


def test_hash_embed_bridges_into_semdedup(spark):
    """End-to-end bridge: hash_embed output slots straight into
    semdedup_keepers -- exact-duplicate texts form a cosine-1 dup
    group and collapse to one keeper."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.dedup import semdedup_keepers
    from solana_data_etl_pipeline_spark.operators.text import hash_embed

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", 0),
        (2, "the quick brown fox jumps over the lazy dog", 0),
        (3, "a completely different document about spark plans", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp int")
    emb = hash_embed(df).join(df.select(F.col("doc_id").alias("vec_id"), "grp"), "vec_id")
    out = {r.vec_id: r for r in semdedup_keepers(emb, threshold=0.99, cluster_col="grp").collect()}
    assert set(out) == {1, 3} or set(out) == {2, 3}
    kept = 1 if 1 in out else 2
    assert out[kept].group_size == 2
    assert out[3].group_size == 1


def test_curation_funnel_monotone_and_pinned_to_v2(spark):
    """The funnel is monotone non-increasing stage to stage (each
    stage filters the previous), every stage is non-vacuous on the
    test corpus (strictly positive counts, and at least one stage
    strictly attrits), and the budget row equals the registered
    corpus_curation_v2's output exactly."""
    from solana_data_etl_pipeline_spark.plans.corpus import (
        corpus_curation_v2,
        curation_funnel,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(curation_funnel(spark, sf).collect(), key=lambda r: r.stage_id)
    assert [r.stage for r in rows] == [
        "raw", "gates", "dedup", "decontaminated", "mixed", "budget",
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.docs <= prev.docs
        assert cur.tokens <= prev.tokens
    assert rows[-1].docs > 0
    assert rows[0].docs > rows[-1].docs
    assert rows[-1].docs == corpus_curation_v2(spark, sf).count()


def test_contamination_report_pins_to_standalone_detectors(spark):
    """The report's rows equal the standalone registered detectors
    recomputed directly: exact_ngram row == benchmark_contamination's
    (row count, gram-overlap sum), near_dup row ==
    cross_corpus_near_dup's (distinct flagged docs, pair count), and
    both carry the same corpus size."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators import dedup as D
    from solana_data_etl_pipeline_spark.plans.corpus import contamination_report
    from solana_data_etl_pipeline_spark.plans.suite import _BENCH_SOURCE

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus = docs.filter(F.col("source") != _BENCH_SOURCE)
    bench = docs.filter(F.col("source") == _BENCH_SOURCE)
    rows = {r.method: r for r in contamination_report(spark, sf).collect()}
    assert set(rows) == {"exact_ngram", "near_dup"}
    exact = X.benchmark_contamination(corpus, bench, n=3).collect()
    assert rows["exact_ngram"].flagged_docs == len(exact)
    assert rows["exact_ngram"].hits == sum(r.n_overlap_grams for r in exact)
    near = D.cross_corpus_near_dup(corpus, bench, threshold=0.2).collect()
    assert rows["near_dup"].flagged_docs == len({r.doc_id for r in near})
    assert rows["near_dup"].hits == len(near)
    n_corpus = corpus.count()
    assert all(r.corpus_docs == n_corpus for r in rows.values())
    # non-vacuous on the test corpus
    assert rows["exact_ngram"].flagged_docs > 0


def test_dsir_scores_hand_model(spark):
    """DSIR exact hand model: scores equal the add-one-smoothed
    hashed-unigram log-likelihood ratio recomputed in pure Python,
    and the target-looking document outranks the off-domain one."""
    import hashlib
    import math
    from collections import Counter

    from solana_data_etl_pipeline_spark.operators.text import DSIR_BUCKETS, dsir_scores

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    target_toks = "spark shuffle spark plan shuffle spark".split()
    raw_docs = {
        1: "spark shuffle spark spark plan".split(),
        2: "llama otter badger weasel marmot".split(),
    }
    target = spark.createDataFrame(
        [(100, " ".join(target_toks))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in raw_docs.items()], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in dsir_scores(corpus, target).collect()}

    tc = Counter(bucket(t) for t in target_toks)
    rc = Counter(bucket(t) for d in raw_docs.values() for t in d)
    tn, rn = sum(tc.values()), sum(rc.values())
    for i, toks in raw_docs.items():
        lr = [
            math.log((tc.get(bucket(t), 0) + 1) / (tn + DSIR_BUCKETS))
            - math.log((rc[bucket(t)] + 1) / (rn + DSIR_BUCKETS))
            for t in toks
        ]
        assert got[i].avg_logratio == round(sum(lr) / len(lr), 4)
        assert got[i].n_tokens == len(toks)
    assert got[1].avg_logratio > got[2].avg_logratio


def test_sequence_boundaries_tile_sequences_exactly(spark):
    """Per-sequence segments are a perfect tiling: within every
    (shard, seq) the segments are disjoint, ordered, start at 0,
    chain begin==previous end, and sum to the budget (except each
    shard's final sequence); straddling docs appear in every sequence
    they cross; per-doc segment totals equal n_tokens."""
    from collections import defaultdict

    from solana_data_etl_pipeline_spark.operators.text import sequence_boundaries

    rows = [
        (1, "a " * 5, "s1"),     # 5 tokens
        (2, "b " * 9, "s1"),     # straddles the 8-token boundary
        (3, "c " * 3, "s1"),
        (4, "d " * 2, "s2"),
    ]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows], "doc_id long, text string, source string"
    )
    segs = sequence_boundaries(df, budget=8).collect()
    per_seq = defaultdict(list)
    per_doc = defaultdict(int)
    for r in segs:
        per_seq[(r.shard, r.seq)].append((r.begin, r.end, r.doc_id))
        per_doc[r.doc_id] += r.end - r.begin
    assert per_doc == {1: 5, 2: 9, 3: 3, 4: 2}
    # doc 2 (tokens 5..14 of shard s1) straddles seqs 0 and 1
    assert {r.seq for r in segs if r.doc_id == 2} == {0, 1}
    for (shard, seq), lst in per_seq.items():
        lst.sort()
        assert lst[0][0] == 0
        for (b1, e1, _), (b2, e2, _) in zip(lst, lst[1:]):
            assert b2 == e1
        total = lst[-1][1]
        full = {"s1": {0}, "s2": set()}[shard]
        assert total == 8 if seq in full else total <= 8


def test_text_knn_surfaces_permuted_twin_first(spark):
    """Text ANN end-to-end: a bag-of-words twin (permuted tokens) is
    the top-1 neighbor at cosine 1.0 through the hashed encoder +
    multi-table LSH path."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.similarity import knn_lsh
    from solana_data_etl_pipeline_spark.operators.text import hash_embed

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    rows = [
        (1, " ".join(words)),
        (2, " ".join(reversed(words))),
        (3, "a fully unrelated document about catalyst optimizer rules"),
        (4, "another unrelated page concerning parquet row groups"),
    ]
    e = hash_embed(spark.createDataFrame(rows, "doc_id long, text string"))
    q = e.filter(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    got = sorted(knn_lsh(e, q, k=3).collect(), key=lambda r: r.rank)
    assert got[0].neighbor_id == 2
    assert got[0].cosine == 1.0


def test_inject_canaries_roundtrip_detection(spark):
    """Canary injection is deterministic and detection inverts it
    exactly: regexp-extracting the canary token from the modified
    corpus reproduces the registry; unselected docs are byte-
    unchanged; replays mint identical canaries."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.text import inject_canaries

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = inject_canaries(docs, rate_bp=500)
    reg = {r.doc_id: r.canary for r in out.filter("is_canary").select("doc_id", "canary").collect()}
    assert 0 < len(reg) < docs.count()

    # detection: extract from the text itself
    found = {
        r.doc_id: r.hit
        for r in out.select(
            "doc_id", F.regexp_extract("text", r"canary-[0-9a-f]{12}", 0).alias("hit")
        ).collect()
    }
    assert {k: v for k, v in found.items() if v} == reg
    # unselected docs unchanged
    orig = {r.doc_id: r.text for r in docs.collect()}
    for r in out.collect():
        if not r.is_canary:
            assert r.text == orig[r.doc_id]
    # replay-stable
    reg2 = {r.doc_id: r.canary for r in inject_canaries(docs, rate_bp=500).filter("is_canary").select("doc_id", "canary").collect()}
    assert reg2 == reg


def test_corpus_card_reconciles_with_gate_operators(spark):
    """The card's per-(source, lang) masses and rates reconcile
    exactly with the standalone gate operators recomputed over the
    same slice, and totals cover the corpus."""
    from solana_data_etl_pipeline_spark.operators.text import (
        corpus_card,
        curation_gates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    card = {(r.source, r.lang): r for r in corpus_card(docs).collect()}
    assert sum(r.docs for r in card.values()) == docs.count()

    g = curation_gates(docs, carry_cols=("source", "lang")).collect()
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, 0, 0, 0])  # docs, words, alpha_bp, gpass, c4pass
    for r in g:
        a = agg[(r.source, r.lang)]
        a[0] += 1
        a[1] += r.n_words
        a[2] += round(r.alpha_ratio * 10_000)
        a[3] += int(r.gopher_pass)
        a[4] += int(not r.page_filtered)
    from decimal import ROUND_HALF_UP, Decimal

    def r4(x):  # Spark/DuckDB round half AWAY from zero; Python's is banker's
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    for k, (d, w, abp, gp, cp) in agg.items():
        r = card[k]
        assert (r.docs, r.tokens) == (d, w)
        assert r.mean_alpha_ratio == r4(abp / (d * 10_000.0))
        assert r.gopher_pass_rate == r4(gp / d)
        assert r.c4_page_pass_rate == r4(cp / d)


def test_denoising_spans_rate_and_structure(spark):
    """Selected spans are disjoint 3-token-aligned blocks, truncated
    at doc end, span_ids are dense per doc, replays are identical,
    and the corpus-level corrupted-token fraction sits near the 15%
    target."""
    from solana_data_etl_pipeline_spark.operators.text import denoising_spans

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = denoising_spans(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.span_id)
        assert [r.span_id for r in rows] == list(range(len(rows)))
        for r in rows:
            assert r.start % 3 == 0
            assert 1 <= r.length <= 3
            assert r.start + r.length <= r.n_tokens
        starts = [r.start for r in rows]
        assert len(set(starts)) == len(starts)
    corrupted = sum(r.length for r in out)
    # rate over docs WITH spans understates slightly; compute over
    # the full corpus token mass
    from pyspark.sql import functions as F

    full = docs.select(
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert 0.10 < corrupted / full < 0.20
    again = denoising_spans(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mixture_waterfill_hand_model(spark):
    """Waterfilling hand model: the short source saturates, its unmet
    share redistributes by weight, allocations spend the budget
    exactly; an over-generous budget saturates everything at
    capacity."""
    from solana_data_etl_pipeline_spark.operators.text import mixture_waterfill

    df = spark.createDataFrame(
        [("a", 10, 1), ("b", 50, 1), ("c", 1000, 2)],
        "source string, capacity long, weight long",
    )
    got = {r.source: r for r in mixture_waterfill(df, budget=100).collect()}
    # lambda_0 = 100/4 = 25 > a's ratio 10 -> a saturates; final
    # lambda = (100-10)/3 = 30
    assert (got["a"].alloc, got["a"].saturated) == (10, True)
    assert (got["b"].alloc, got["b"].saturated) == (30, False)
    assert (got["c"].alloc, got["c"].saturated) == (60, False)
    assert sum(r.alloc for r in got.values()) == 100

    rich = {r.source: r for r in mixture_waterfill(df, budget=5000).collect()}
    assert all(r.saturated and r.alloc == r.capacity for r in rich.values())


def test_epoch_plan_hand_model(spark):
    """Greedy epoch filling matches the hand computation: equal
    weights fill first epochs of everything before second epochs of
    anything; the boundary epoch fills partially in (utility, source)
    order; a budget beyond max_epochs passes leaves the tail unserved
    (the paper's point -- repetition stops buying anything)."""
    from solana_data_etl_pipeline_spark.operators.text import epoch_plan

    df = spark.createDataFrame(
        [("a", 100, 1), ("b", 300, 1)],
        "source string, capacity long, weight long",
    )
    # budget 550: epoch-1 units (a:100, b:300) fill; epoch-2 tier has
    # 150 left, a (alphabetically first at equal utility) takes 100,
    # b takes the remaining 50
    got = {r.source: r for r in epoch_plan(df, budget=550).collect()}
    assert (got["a"].tokens_served, got["a"].epochs_bp) == (200, 20000)
    assert (got["b"].tokens_served, got["b"].epochs_bp) == (350, 11666)
    assert sum(r.tokens_served for r in got.values()) == 550

    # weights change the within-tier order: with w_b >> w_a, b's
    # SECOND epoch (utility 5*0.5=2.5) outranks a's FIRST (1), so at
    # budget 550 b serves two full epochs before a's first fills
    wdf = spark.createDataFrame(
        [("a", 100, 1), ("b", 300, 5)],
        "source string, capacity long, weight long",
    )
    got_w = {r.source: r for r in epoch_plan(wdf, budget=550).collect()}
    # b epoch1 (key 5*10000^3) fills 300; b epoch2 (5*5000*10000^2 =
    # 2.5e12) outranks a epoch1 (1e12) and takes the remaining 250
    assert (got_w["b"].tokens_served, got_w["a"].tokens_served) == (550, 0)

    # budget beyond max_epochs * capacity: every unit fills, epochs
    # cap at max_epochs
    rich = {r.source: r for r in epoch_plan(df, budget=10_000).collect()}
    assert all(r.epochs_bp == 40000 for r in rich.values())
    assert sum(r.tokens_served for r in rich.values()) == 4 * 400


def test_corpus_diversity_hand_model(spark):
    """Distinct-n ratios match hand counts; a pure-repetition corpus
    shows collapsed diversity; the Zipf fit over a two-token corpus
    reproduces the closed-form slope."""
    import math

    from solana_data_etl_pipeline_spark.operators.text import corpus_diversity

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    r = corpus_diversity(df).collect()[0]
    # unigrams: 7 total, {a,b,c} distinct; bigrams: 5 total,
    # {'a b','b a','b c'} distinct; trigrams: 3 total, distinct
    # {'a b a','b a b','a b c'}
    assert (r.total_tokens, r.vocab_size) == (7, 3)
    assert r.distinct_1 == round(3 / 7, 4)
    assert r.distinct_2 == round(3 / 5, 4)
    assert r.distinct_3 == 1.0
    # zipf over ranked freqs a:3 b:3 c:1 -> ties broken by token;
    # slope = least squares over (ln r, ln c)
    xs = [math.log(i) for i in (1, 2, 3)]
    ys = [math.log(c) for c in (3, 3, 1)]
    n = 3
    mx, my = sum(xs) / n, sum(ys) / n
    slope = (sum(x * y for x, y in zip(xs, ys)) / n - mx * my) / (
        sum(x * x for x in xs) / n - mx * mx
    )
    assert r.zipf_slope == round(slope, 4)
    assert r.fit_vocab == 3

    boiler = spark.createDataFrame([(i, "spam spam spam spam") for i in range(5)], "doc_id long, text string")
    rb = corpus_diversity(boiler).collect()[0]
    assert rb.distinct_1 == round(1 / 20, 4)
    assert rb.distinct_2 == round(1 / 15, 4)


def test_length_buckets_hand_model(spark):
    """Bucket membership, ceilings, and padding waste match hand
    counts; bucket boundaries are inclusive of exact multiples."""
    from solana_data_etl_pipeline_spark.operators.text import length_buckets

    rows = [
        (1, "a " * 3),    # 3 tokens  -> bucket 0 (ceil 4)
        (2, "b " * 4),    # 4 tokens  -> bucket 0 (boundary inclusive)
        (3, "c " * 5),    # 5 tokens  -> bucket 1 (ceil 8)
        (4, "d " * 9),    # 9 tokens  -> bucket 2 (ceil 12)
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")
    got = {r.bucket: r for r in length_buckets(df, bucket_width=4).collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0].docs, got[0].tokens, got[0].ceiling) == (2, 7, 4)
    assert got[0].pad_tokens == 2 * 4 - 7
    assert got[1].pad_tokens == 8 - 5 and got[1].pad_frac == round(3 / 8, 4)
    assert got[2].pad_tokens == 12 - 9


def test_epoch_expand_realizes_plan(spark):
    """epoch_expand conservation: every doc of a source with
    epochs_bp = 25000 appears 2 or 3 times, ~half the docs (by the
    consistent hash) get the 3rd copy, and the realized copy mass
    equals full*n_docs + |selected extras| exactly; a source planned
    at 0 bp vanishes."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.text import epoch_expand

    docs = spark.createDataFrame(
        [(i, "a" if i < 40 else "b", "w " * 5) for i in range(60)],
        "doc_id long, source string, text string",
    )
    plan = spark.createDataFrame(
        [("a", 200, 1, 500, 25000), ("b", 100, 1, 0, 0)],
        "source string, capacity long, weight long, tokens_served long, epochs_bp long",
    )
    out = epoch_expand(docs, plan)
    per_doc = {
        r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    # source b (0 bp) contributes nothing
    assert all(d < 40 for d in per_doc)
    # every a-doc gets 2 full copies, some a third
    assert set(per_doc.values()) <= {2, 3}
    extras = [d for d, n in per_doc.items() if n == 3]
    # the extra set is the consistent md5 bucket < 5000 -- replay it
    import hashlib

    want = {
        d
        for d in range(40)
        if int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16) % 10000 < 5000
    }
    assert set(extras) == want
    assert len(per_doc) == 40 and sum(per_doc.values()) == 80 + len(want)
    # copy indices are 1..n per doc
    rows = out.filter(F.col("doc_id") == extras[0]).orderBy("copy").collect()
    assert [r.copy for r in rows] == [1, 2, 3]


def test_fim_split_invariants(spark):
    """FIM plan invariants: segment lengths partition n_tokens on
    every row; unselected docs stay autoregressive (prefix = whole
    doc); the selected fraction tracks the rate; the cut points
    replay from the md5 draws by hand."""
    import hashlib

    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.text import fim_split

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(1 + i % 17))) for i in range(200)],
        "doc_id long, text string",
    )
    out = fim_split(docs, fim_rate=0.5).collect()
    assert len(out) == 200
    for r in out:
        assert r.prefix_len + r.middle_len + r.suffix_len == r.n_tokens
        assert min(r.prefix_len, r.middle_len, r.suffix_len) >= 0
        if not r.fim_applied:
            assert (r.prefix_len, r.middle_len, r.suffix_len) == (r.n_tokens, 0, 0)
    applied = [r for r in out if r.fim_applied]
    assert 60 <= len(applied) <= 140  # ~50% of 200

    def h(tag, d):
        return int(hashlib.md5(f"{tag}|{d}".encode()).hexdigest()[:15], 16)

    r = applied[0]
    n = r.n_tokens
    c1, c2 = h("fimc1", r.doc_id) % (n + 1), h("fimc2", r.doc_id) % (n + 1)
    assert (r.prefix_len, r.middle_len) == (min(c1, c2), max(c1, c2) - min(c1, c2))
    assert h("fim", r.doc_id) % 10000 < 5000


def test_fim_render_matches_split_plan(spark):
    """fim_render's output replays from fim_split's own plan: selected
    docs carry the sentinel-joined PSM rearrangement at the planned
    cut points, unselected docs pass through token-joined."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.text import fim_render, fim_split

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(3 + i % 9))) for i in range(80)],
        "doc_id long, text string",
    )
    plan = {r.doc_id: r for r in fim_split(docs, fim_rate=0.5).collect()}
    text = {r.doc_id: r.text for r in docs.collect()}
    out = fim_render(docs, fim_rate=0.5).collect()
    assert len(out) == 80
    for r in out:
        p = plan[r.doc_id]
        toks = text[r.doc_id].split()
        assert r.fim_applied == p.fim_applied
        if not p.fim_applied:
            assert r.rendered == " ".join(toks)
        else:
            pre = toks[: p.prefix_len]
            mid = toks[p.prefix_len : p.prefix_len + p.middle_len]
            suf = toks[p.prefix_len + p.middle_len :]
            want = " ".join(["<PRE>"] + pre + ["<SUF>"] + suf + ["<MID>"] + mid)
            assert r.rendered == want


def test_denoise_render_matches_span_plan(spark):
    """denoise_render replays from denoising_spans' own plan: each
    selected span's tokens appear in the target after its sentinel
    and are replaced by that sentinel in the input; docs with no
    selected spans pass through with an empty target."""
    from solana_data_etl_pipeline_spark.operators.text import (
        denoise_render,
        denoising_spans,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(5 + i % 13))) for i in range(60)],
        "doc_id long, text string",
    )
    plan = {}
    for r in denoising_spans(docs, corruption_rate=0.4).collect():
        plan.setdefault(r.doc_id, []).append(r)
    text = {r.doc_id: r.text.split() for r in docs.collect()}
    out = {r.doc_id: r for r in denoise_render(docs, corruption_rate=0.4).collect()}
    assert len(out) == 60
    for d, toks in text.items():
        spans = sorted(plan.get(d, []), key=lambda r: r.span_id)
        r = out[d]
        assert r.n_spans == len(spans)
        want_inp, pos = [], 0
        want_tgt = []
        for sp in spans:
            want_inp += toks[pos : sp.start] + [f"<extra_id_{sp.span_id}>"]
            want_tgt += [f"<extra_id_{sp.span_id}>"] + toks[sp.start : sp.start + sp.length]
            pos = sp.start + sp.length
        want_inp += toks[pos:]
        assert r.input_text == " ".join(want_inp)
        assert r.target_text == " ".join(want_tgt)


def test_epoch_plan_rejects_key_overflow_weights(spark):
    """The exact-BIGINT ordering key is ENFORCED, not just documented:
    a weight above 2^63/max_factor raises in-plan instead of silently
    wrapping and reordering the greedy fill (plausible at 100 TB where
    weight = floor(sqrt(capacity)))."""
    import pytest as _pytest

    from solana_data_etl_pipeline_spark.operators.text import epoch_plan

    counts = spark.createDataFrame(
        [("big", 100, 10_000_000), ("ok", 100, 1)],
        "source string, capacity long, weight long",
    )
    with _pytest.raises(Exception, match="ordering-key"):
        epoch_plan(counts, budget=500).collect()
    # in-bound weights unchanged by the folded guard
    ok = spark.createDataFrame(
        [("a", 100, 9_000_000)], "source string, capacity long, weight long"
    )
    rows = epoch_plan(ok, budget=250).collect()
    assert rows[0].tokens_served == 250


def test_corpus_drift_hand_model(spark):
    """Planted drift: 'cats' dominates the old snapshot, 'dogs' the
    new one; shared filler keeps both totals equal so the basis-point
    shares are hand-computable."""
    rows = [
        # old snapshot (snapshot=0): 4 tokens -- cats cats fill fill
        (0, 0, "cats cats fill fill"),
        # new snapshot (snapshot=1): 4 tokens -- dogs dogs fill fill
        (1, 1, "dogs dogs fill fill"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, snapshot long, text string")
    got = {r.token: r for r in X.corpus_drift(df, top_k=10).collect()}
    assert set(got) == {"cats", "dogs", "fill"}
    # cats: 2/4 old (5000 bp), 0/4 new -> drift -5000
    assert (got["cats"].share_old_bp, got["cats"].share_new_bp, got["cats"].drift_bp) == (5000, 0, -5000)
    assert (got["dogs"].share_old_bp, got["dogs"].share_new_bp, got["dogs"].drift_bp) == (0, 5000, 5000)
    assert got["fill"].drift_bp == 0
    # report orders by |drift| desc then token asc: cats before dogs before fill
    ordered = [r.token for r in X.corpus_drift(df, top_k=10).collect()]
    assert ordered == ["cats", "dogs", "fill"]
    # top_k truncates deterministically
    assert [r.token for r in X.corpus_drift(df, top_k=2).collect()] == ["cats", "dogs"]


def test_corpus_drift_empty_and_one_sided(spark):
    """An empty snapshot divides by the greatest(total, 1) floor
    instead of erroring; an empty corpus returns an empty report."""
    one_sided = spark.createDataFrame(
        [(0, 0, "only old tokens")], "doc_id long, snapshot long, text string"
    )
    rows = X.corpus_drift(one_sided).collect()
    assert {r.token for r in rows} == {"only", "old", "tokens"}
    assert all(r.share_new_bp == 0 and r.count_new == 0 for r in rows)
    empty = spark.createDataFrame([], "doc_id long, snapshot long, text string")
    assert X.corpus_drift(empty).collect() == []


def test_corpus_drift_excludes_out_of_contract_snapshots(spark):
    """Rows whose snapshot is outside {0, 1} are excluded, not
    silently zero-counted: previously a snapshot=2 doc's tokens
    appeared as count_old=count_new=0, drift_bp=0 rows that could
    occupy top_k slots (ADVICE r10)."""
    rows = [
        (0, 0, "cats cats fill fill"),
        (1, 1, "dogs dogs fill fill"),
        (2, 2, "ghost ghost ghost ghost"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, snapshot long, text string")
    got = X.corpus_drift(df, top_k=10).collect()
    assert {r.token for r in got} == {"cats", "dogs", "fill"}
    # the contracted snapshots' shares are unchanged by the stray rows
    by_tok = {r.token: r for r in got}
    assert by_tok["cats"].drift_bp == -5000 and by_tok["dogs"].drift_bp == 5000


def test_hybrid_rank_reconciles_with_members(spark):
    """The fusion reconciles against its OWN member operators run at
    the same k: every fused row's lex_rank/sem_rank matches bm25_rank
    / the knn_lsh semantic route exactly, the rrf arithmetic is
    1/(60+r) summed over present lists, and ordering is (score desc,
    doc_id asc)."""
    from solana_data_etl_pipeline_spark.operators.similarity import knn_lsh

    rows = []
    for i in range(40):
        # half the docs carry the lexical query terms; vocabulary
        # varies so the semantic route ranks differently
        terms = "alpha beta" if i % 2 == 0 else "gamma delta"
        filler = " ".join(f"w{i}x{j}" for j in range(8))
        rows.append((i, f"{terms} {filler}", "en", "s", 50))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    q = ["alpha", "beta"]
    fused = X.hybrid_rank(docs, q, k=10).collect()
    assert 0 < len(fused) <= 10
    lex = {r.doc_id: r.rank for r in X.bm25_rank(docs, q, top_k=10).collect()}
    enc = X.hash_embed(docs)
    qdf = spark.createDataFrame([(-1, "alpha beta")], "doc_id long, text string")
    qv = X.hash_embed(qdf).selectExpr("vec_id as query_id", "embedding")
    sem = {r.neighbor_id: r.rank for r in knn_lsh(enc, qv, k=10).collect()}
    for r in fused:
        assert r.lex_rank == lex.get(r.doc_id)
        assert r.sem_rank == sem.get(r.doc_id)
        want = (1.0 / (60 + r.lex_rank) if r.doc_id in lex else 0.0) + (
            1.0 / (60 + r.sem_rank) if r.doc_id in sem else 0.0
        )
        assert abs(r.rrf_score - round(want, 6)) < 1e-9
    scores = [(r.rrf_score, -r.doc_id) for r in fused]
    assert scores == sorted(scores, reverse=True)
    # the fusion's point: at least one surfaced doc came from only one
    # member list (NULL in the other's rank column)
    assert any(r.lex_rank is None or r.sem_rank is None for r in fused)


def test_unimax_allocation_hand_model(spark):
    """UniMax invariants on a hand corpus: budget conserved, every
    source capped at max_epochs passes, the capped source's surplus
    redistributes UNIFORMLY over the rest, and any weight column on
    the input is ignored (uniformity is the paper's point)."""
    from pyspark.sql import functions as F

    counts = spark.createDataFrame(
        [("tiny", 10), ("mid", 100), ("big", 100)],
        "source string, capacity long",
    )
    # budget 160 > uniform share 3x53.3: tiny caps at 4 epochs = 40,
    # leftover 120 splits evenly -> mid/big get 60 each (0.6 epochs)
    rows = {r.source: r for r in X.unimax_allocation(counts, budget=160, max_epochs=4).collect()}
    assert rows["tiny"].alloc == 40 and rows["tiny"].saturated
    assert rows["tiny"].epochs_bp == 40000
    assert rows["mid"].alloc == 60 and rows["big"].alloc == 60
    assert rows["mid"].epochs_bp == 6000 and not rows["mid"].saturated
    assert sum(r.alloc for r in rows.values()) == 160
    # a weight column must not change the uniform split
    weighted = counts.withColumn("weight", F.lit(99))
    rows_w = {r.source: r.alloc for r in X.unimax_allocation(weighted, budget=160).collect()}
    assert rows_w == {s: r.alloc for s, r in rows.items()}
    with pytest.raises(ValueError, match="max_epochs"):
        X.unimax_allocation(counts, budget=10, max_epochs=0)


def test_bm25_indexed_identical_to_scan_form(spark, tmp_path):
    """The inverted-index form returns EXACTLY the scan form's rows
    (same quantization contract: per-term BIGINT ppm, order-free
    integer sum), and its postings read prunes to the query terms'
    md5-prefix partitions."""
    rows = []
    for i in range(50):
        base = ["spark", "window"] if i % 3 == 0 else ["merge"] if i % 3 == 1 else ["plain"]
        text = " ".join(base * (i % 4 + 1) + [f"filler{i}x{j}" for j in range(6)])
        rows.append((i, text, "en", "s", 40))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "inv")
    X.materialize_inverted_index(docs, path)
    terms = ["spark", "merge", "query"]
    scan = [(r.doc_id, r.dl, r.score_ppm, r.rank) for r in X.bm25_rank(docs, terms).collect()]
    idx = [(r.doc_id, r.dl, r.score_ppm, r.rank) for r in X.bm25_rank_indexed(spark, path, terms).collect()]
    assert scan == idx and scan  # identical, non-vacuous
    # partition pruning: the postings scan carries the pfx filter
    plan = X.bm25_rank_indexed(spark, path, terms)._jdf.queryExecution().executedPlan().toString()
    assert "pfx" in plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        X.bm25_rank_indexed(spark, path, [])


def test_hybrid_rank_indexed_identical_to_scan_form(spark, tmp_path):
    """The stored-artifact fusion (pruned bm25 postings + the embedding
    LSH index over the hash_embed vectors) returns EXACTLY the
    scan-form hybrid_rank rows: parquet stores the encoder's doubles
    and norms exactly, the query buckets with the same fixed plane
    matrices, and BM25's integer-ppm scores are order-free, so
    amortizing the corpus-side work changes no values (VERDICT r11
    #4)."""
    from solana_data_etl_pipeline_spark.operators.dedup import materialize_embedding_lsh
    from solana_data_etl_pipeline_spark.operators.similarity import LSH_TABLES

    rows = []
    for i in range(40):
        terms = "alpha beta" if i % 2 == 0 else "gamma delta"
        filler = " ".join(f"w{i}x{j}" for j in range(8))
        rows.append((i, f"{terms} {filler}", "en", "s", 50))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    q = ["alpha", "beta"]
    idx = str(tmp_path / "inv")
    X.materialize_inverted_index(docs, idx)
    lsh_path = str(tmp_path / "lsh")
    materialize_embedding_lsh(X.hash_embed(docs), lsh_path, n_tables=LSH_TABLES)
    scan = [
        (r.doc_id, r.lex_rank, r.sem_rank, r.rrf_score)
        for r in X.hybrid_rank(docs, q, k=10).collect()
    ]
    stored = [
        (r.doc_id, r.lex_rank, r.sem_rank, r.rrf_score)
        for r in X.hybrid_rank_indexed(spark, idx, lsh_path, q, k=10).collect()
    ]
    assert scan == stored and scan  # identical, non-vacuous


def test_oov_rate_hand_model(spark):
    """Coverage against a planted vocabulary: with vocab_size=2 the
    top-2 tokens by (freq desc, token asc) are in-vocab and everything
    else counts as OOV per language, rates as integer-bp floors."""
    rows = [
        (0, "aa aa aa bb bb cc", "en"),   # en: 6 tokens, cc OOV
        (1, "aa bb zz zz", "de"),          # de: 4 tokens, zz zz OOV
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.lang: r for r in X.oov_rate(df, vocab_size=2).collect()}
    # corpus freqs: aa 4, bb 3, zz 2, cc 1 -> vocab {aa, bb}
    assert (got["en"].total_tokens, got["en"].oov_tokens) == (6, 1)
    assert got["en"].oov_bp == 1 * 10000 // 6
    assert (got["de"].total_tokens, got["de"].oov_tokens) == (4, 2)
    assert got["de"].oov_bp == 5000
    # full coverage at a big-enough vocab; empty corpus is empty
    assert all(r.oov_tokens == 0 for r in X.oov_rate(df, vocab_size=10).collect())
    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert X.oov_rate(empty).collect() == []
