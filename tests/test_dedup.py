"""Dedup operator properties: exact, MinHash-LSH, SimHash, n-gram
Jaccard. Expectations are computed independently in Python over the
same fixture texts, so the Spark plans are checked against a second
implementation of the semantics."""

import hashlib

import pytest

from solana_data_etl_pipeline_spark.operators import dedup as D

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
    (2, "completely different content about distributed query engines and shuffles"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (4, "  The   QUICK brown fox jumps over the lazy dog near the river bank today "),  # normalizes to 0
    (5, "short text"),
    (6, ""),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _norm(t):
    return " ".join(t.lower().split())


def _shingles(t, n=3):
    toks = _norm(t).split(" ")
    grams = [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)]
    # matches shingles_from_tokens: short docs yield one (possibly
    # partial) gram; dedup preserves first-seen order
    out = []
    for g in grams:
        if g not in out:
            out.append(g)
    return out


def _jac(a, b):
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_duplicates_groups_normalized_text(docs_df):
    rows = {r.keep_doc_id: r.dup_count for r in D.exact_duplicates(docs_df).collect()}
    # docs 0, 3, 4 normalize identically -> kept id 0, count 3
    assert rows[0] == 3
    assert rows[1] == 1
    assert rows[2] == 1


def test_dedup_exact_keeps_min_doc_id(docs_df):
    kept = {r.doc_id for r in D.dedup_exact(docs_df).collect()}
    assert kept == {0, 1, 2, 5, 6}


def test_minhash_identical_docs_identical_signatures(docs_df):
    sigs = {r.doc_id: r.minhash for r in D.minhash_signatures(docs_df).collect()}
    assert sigs[0] == sigs[3] == sigs[4]
    assert sigs[0] != sigs[2]
    assert all(len(s) == D.MINHASH_HASHES for s in sigs.values())
    assert all(0 <= v < D.MINHASH_MOD for s in sigs.values() for v in s)


def test_minhash_signature_matches_python_reimplementation(docs_df):
    sigs = {r.doc_id: r.minhash for r in D.minhash_signatures(docs_df).collect()}
    a, b = D.minhash_coeffs()
    for doc_id, text in DOCS[:3]:
        bases = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % D._BASE_MOD
            for g in _shingles(text)
        ]
        expected = [min((a[s] * x + b[s]) % D.MINHASH_MOD for x in bases) for s in range(D.MINHASH_HASHES)]
        assert list(sigs[doc_id]) == expected


def test_lsh_pairs_find_near_and_exact_dups(docs_df):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in D.minhash_lsh_pairs(docs_df, threshold=0.2).collect()}
    # exact/normalized dups collide in every band and verify at 1.0
    assert pairs[(0, 3)] == 1.0
    assert pairs[(0, 4)] == 1.0
    assert pairs[(3, 4)] == 1.0
    # unrelated docs never verified
    assert not any(2 in p or 5 in p or 6 in p for p in pairs)
    # verified jaccard is the exact value
    if (0, 1) in pairs:
        assert pairs[(0, 1)] == round(_jac(_shingles(DOCS[0][1]), _shingles(DOCS[1][1])), 4)


def test_ngram_jaccard_is_exact_and_superset_of_lsh(docs_df):
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(docs_df, threshold=0.2).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in D.minhash_lsh_pairs(docs_df, threshold=0.2).collect()}
    # every LSH-verified pair appears in the exact join with the same score
    for p, j in lsh.items():
        assert exact[p] == j
    # the near-dup pair is guaranteed in the exact join
    expected = round(_jac(_shingles(DOCS[0][1]), _shingles(DOCS[1][1])), 4)
    assert exact[(0, 1)] == expected


def test_lsh_max_bucket_caps_hot_buckets(docs_df):
    # docs 0/3/4 share every band bucket (identical signatures) ->
    # width-3 buckets; cap at 2 removes exactly those buckets' pairs
    capped = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(docs_df, threshold=0.2, max_bucket=2, coverage_floor=None).collect()
    }
    assert not {(0, 3), (0, 4), (3, 4)} & capped
    # uncapped behavior unchanged when the cap is above every width
    wide = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(docs_df, threshold=0.2, max_bucket=100).collect()
    }
    full = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs_df, threshold=0.2).collect()}
    assert wide == full


def test_simhash_identical_for_identical_distinct_tokens(docs_df):
    fp = {r.doc_id: r.simhash for r in D.simhash(docs_df).collect()}
    assert fp[0] == fp[3] == fp[4]
    assert fp[0] != fp[2]
    assert all(0 <= v < 2**D.SIMHASH_BITS for v in fp.values())


def test_simhash_near_dups_have_small_hamming_distance(docs_df):
    fp = {r.doc_id: r.simhash for r in D.simhash(docs_df).collect()}
    near = bin(fp[0] ^ fp[1]).count("1")
    far = bin(fp[0] ^ fp[2]).count("1")
    assert near < far


def test_connected_components_chains_and_islands(spark):
    # components: {1,2,3,4} (chain), {10,11} (pair); 20/21 edgeless but
    # appear as a pair -> their own component
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    got = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # a 60-node path graph: pointer jumping must converge well inside
    # the iteration cap (plain propagation would need ~60 rounds)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(60)], "doc_a long, doc_b long")
    got = {r.id: r.cluster_id for r in D.connected_components(pairs, max_iterations=12).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 61


def test_connected_components_on_lsh_pairs_groups_exact_dups(docs_df):
    pairs = D.minhash_lsh_pairs(docs_df, threshold=0.2)
    comp = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    # exact dups 0/3/4 (and near-dup 1 if its pair survived LSH) share
    # the min id 0
    assert comp[3] == 0 and comp[4] == 0
    assert comp[0] == 0


def test_embedding_near_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),  # ~cos 0.995 with 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in D.embedding_near_dup_pairs(emb, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs


def test_embedding_near_dup_lsh_subset_of_bruteforce(spark):
    """The registered LSH-bucketed plan may only PRUNE candidates,
    never add or rescore: its pairs must be a subset of the recall-1
    brute-force twin with identical cosines."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh = {(r.vec_a, r.vec_b): r.cosine for r in D.embedding_near_dup_lsh(emb, threshold=0.3).collect()}
    bf = {(r.vec_a, r.vec_b): r.cosine for r in D.embedding_near_dup_pairs(emb, threshold=0.3).collect()}
    assert lsh  # non-trivial at this threshold
    assert set(lsh) <= set(bf)
    assert all(bf[k] == v for k, v in lsh.items())


def test_embedding_near_dup_lsh_max_bucket_drops_hot_bucket(spark):
    # 30 identical vectors collapse into one LSH bucket: with the cap
    # their quadratic pair set is dropped; an unrelated near-dup pair
    # in a different bucket must survive
    rows = [(i, _vec64(1.0)) for i in range(30)]
    rows += [(100, _vec64(0.0, 0.0, -1.0, -0.05)), (101, _vec64(0.0, 0.0, -1.0, 0.05))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = D.embedding_near_dup_lsh(emb, threshold=0.9, max_bucket=10, coverage_floor=None)
    got = {(r.vec_a, r.vec_b) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)
    uncapped = D.embedding_near_dup_lsh(emb, threshold=0.9).count()
    assert uncapped >= 435  # the clone class alone is 30*29/2


def test_minhash_calibration_quantization_and_hand_model(spark):
    """Exact twin pair (J=1) + two identical near pairs: the decile
    row's integer-ppm means reconcile exactly against the Python
    recomputation, est values are multiples of 1e6/num_hashes, and
    the J=1 pair estimates perfectly (identical signatures)."""
    import math

    t1 = " ".join(f"tok{i}" for i in range(60))
    t3 = " ".join("zzz" if i == 5 else f"tok{i}" for i in range(60))
    df = spark.createDataFrame([(1, t1), (2, t1), (3, t3)], "doc_id long, text string")
    rows = D.minhash_calibration(df).collect()
    assert len(rows) == 1 and rows[0].decile == 9 and rows[0].n_pairs == 3
    n = D.SHINGLE_N

    def sh(t):
        tk = t.split()
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    exact_near = math.floor(
        len(sh(t1) & sh(t3)) / len(sh(t1) | sh(t3)) * 1_000_000
    )
    r = rows[0]
    # exact side: (J=1 pair) + 2 * near pair, floored to ppm
    assert r.mean_exact_ppm == round((1_000_000 + 2 * exact_near) / 3, 1)
    # estimate side: the twin pair's signatures are identical (est =
    # 1e6) and each near-pair estimate is k/num_hashes scaled -- a
    # multiple of 1e6/num_hashes
    # (mean_est_ppm is rounded to 1 dp, so undo the /3 within +-0.5)
    est_raw = (3 * r.mean_est_ppm - 1_000_000) / 2
    est_near = round(est_raw)
    step = 1_000_000 // D.MINHASH_HASHES
    assert abs(est_raw - est_near) < 0.5 and est_near % step == 0
    # error reconciles: twin contributes 0, near pairs |est - exact|
    assert r.mean_abs_err_ppm == round(2 * abs(est_near - exact_near) / 3, 1)


def test_minhash_lsh_max_bucket_caps_degenerate_class(spark):
    """One degenerate duplicate class (30 clones) would emit 435
    quadratic pairs; with the cap its band buckets are dropped while a
    small near-dup pair in ordinary buckets is still found, and the
    clones remain caught by the cheap exact pass."""
    clones = [(i, " ".join(f"w{j}" for j in range(20))) for i in range(30)]
    others = [
        (100, " ".join([f"s{j}" for j in range(19)] + ["theta"])),
        (101, " ".join([f"s{j}" for j in range(19)] + ["iota"])),
    ]
    df = spark.createDataFrame(clones + others, "doc_id long, text string")
    capped = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(df, threshold=0.2, max_bucket=10, coverage_floor=None).collect()}
    assert capped == {(100, 101)}
    assert D.minhash_lsh_pairs(df, threshold=0.2).count() == 436
    ex = {r.dup_count for r in D.exact_duplicates(df).collect()}
    assert 30 in ex  # exact dedup still accounts for the whole class


def test_connected_components_over_embedding_near_dups(spark):
    """Composition: embedding near-dup pairs -> clusters. Three planted
    clone groups must each collapse into one component labeled by its
    minimum vec_id."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    for g in range(3):
        base = rng.normal(size=64) * 3
        for i in range(4):
            v = base + rng.normal(size=64) * 0.01
            rows.append((g * 10 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = D.embedding_near_dup_lsh(emb, threshold=0.95, n_tables=4)
    comp = {r.id: r.cluster_id for r in D.connected_components(pairs, "vec_a", "vec_b").collect()}
    for g in range(3):
        members = {comp.get(g * 10 + i) for i in range(4) if g * 10 + i in comp}
        assert members == {g * 10}, f"group {g} not one component: {members}"


def test_keep_representatives_partitions_corpus(spark):
    from solana_data_etl_pipeline_spark.operators.dedup import keep_representatives

    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(10)], "doc_id long, text string")
    # two components: {1,2,3} (chain) and {7,8}; everything else untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    kept = sorted(r.doc_id for r in keep_representatives(docs, pairs).collect())
    # representatives are the component minima (1 and 7); 2,3,8 dropped
    assert kept == [0, 1, 4, 5, 6, 7, 9]
    # empty pair set: corpus passes through whole
    empty = pairs.filter("doc_a < 0")
    assert sorted(r.doc_id for r in keep_representatives(docs, empty).collect()) == list(range(10))


def test_delta_dedup_materialized_incremental_path(spark, tmp_path):
    """Continuous-ingest dedup: a delta batch probed against the
    materialized corpus LSH index. Corpus near-dups are dropped,
    batch-internal near-dups resolve min-id-wins, fresh docs pass."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        delta_dedup_materialized,
        materialize_minhash,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today ok"
    other = "completely different material about spark partitions and shuffle joins"
    third = "yet another unrelated sentence mentioning parquet files and row groups"
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    materialize_minhash(corpus, path)

    delta = spark.createDataFrame(
        [
            (10, base),              # near-dup of corpus doc 1 -> dropped
            (11, third),             # fresh -> kept
            (12, third + " x"),      # near-dup of delta doc 11 -> dropped (min-id-wins)
            (13, "short new text completely unlike anything else written before now"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in delta_dedup_materialized(spark, path, delta, threshold=0.2).collect()
    )
    assert kept == [11, 13]

    # replay invariance: the same batch against the same index gives
    # the same answer (the index was not mutated by probing)
    again = sorted(
        r.doc_id
        for r in delta_dedup_materialized(spark, path, delta, threshold=0.2).collect()
    )
    assert again == kept


def test_materialize_minhash_max_bucket_caps_degenerate_bucket(spark, tmp_path):
    """A pathological band bucket (many identical docs) is dropped at
    index BUILD time, so every future delta probe is bounded; distinct
    content keeps its band rows."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        delta_dedup_materialized,
        materialize_minhash,
    )

    same = "identical degenerate content repeated across many corpus documents here"
    other = (
        "completely different material about spark partitions and shuffle joins "
        "plus broadcast hints window functions catalyst rules and adaptive execution"
    )
    corpus = spark.createDataFrame(
        [(i, same) for i in range(10)] + [(100, other)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    materialize_minhash(corpus, path, max_bucket=5)
    bands = spark.read.parquet(f"{path}/bands")
    # the 10-doc identical bucket is gone; doc 100's rows remain
    assert bands.filter("doc_id < 100").count() == 0
    assert bands.filter("doc_id = 100").count() > 0
    # consequence (the documented recall trade): a delta near-dup of the
    # CAPPED content sails through near-dup (exact-fingerprint dedup is
    # the stage that catches identical text), while a near-dup of the
    # kept content is still dropped
    delta = spark.createDataFrame(
        [(200, same), (201, other + " extra")], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id for r in delta_dedup_materialized(spark, path, delta, threshold=0.2).collect()
    )
    assert kept == [200]


def test_simhash_near_dup_pigeonhole_complete(spark):
    """Pigeonhole candidates are COMPLETE w.r.t. the fingerprint:
    uncapped simhash_near_dup_pairs equals the brute-force
    all-pairs hamming filter exactly."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        simhash_bruteforce_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    got = sorted(
        map(tuple, simhash_near_dup_pairs(docs, max_hamming=3).collect())
    )
    brute = sorted(map(tuple, simhash_bruteforce_pairs(docs, max_hamming=3).collect()))
    assert got == brute
    assert all(h <= 3 for _, _, h in got)


@pytest.mark.parametrize(
    "n_nodes,n_edges",
    [pytest.param(40, 30, id="40nodes"), pytest.param(400, 300, id="300edges")],
)
def test_connected_components_three_tiers_identical_labels(spark, n_nodes, n_edges):
    """The three execution tiers (driver union-find / broadcast rounds
    / shuffle rounds) must produce IDENTICAL (id, cluster_id) maps on
    the same graph -- a seeded random graph with chains, merges, and
    singleton pairs exercises non-trivial component structure. The
    40-node graph keeps all four forms in the fast default run; the
    300-edge graph is in the slow set."""
    import random

    rng = random.Random(13)
    edges = {(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    tiers = {
        "driver": D.connected_components(pairs),
        "broadcast": D.connected_components(pairs, _driver_threshold=0),
        "shuffle": D.connected_components(
            pairs, _driver_threshold=0, _broadcast_threshold=0
        ),
    }
    maps = {k: {r.id: r.cluster_id for r in v.collect()} for k, v in tiers.items()}
    assert maps["driver"] == maps["broadcast"] == maps["shuffle"]
    # min-label contract: every label is its component's minimum member
    labels = maps["driver"]
    comp_members: dict = {}
    for node, lab in labels.items():
        comp_members.setdefault(lab, []).append(node)
    for lab, members in comp_members.items():
        assert lab == min(members)
    # FOURTH form (r14): a repeat construction of the SAME pair plan
    # hits the cached tier decision and returns the LAZY in-task
    # union-find kernel -- no eager job at construction, identical
    # labels. (The 'driver' call above populated _CC_TIER_CACHE.)
    assert any(k[1:3] == ("doc_a", "doc_b") for k in D._CC_TIER_CACHE)
    lazy = D.connected_components(pairs)
    assert {r.id: r.cluster_id for r in lazy.collect()} == maps["driver"]


def test_keep_representatives_by_score(spark):
    """Quality-aware keepers: the highest-scored member wins its
    component (ties: smallest id); unclustered docs always survive."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5), (8, 5), (9, 42)],
        "doc_id long, n_chars long",
    )
    # components: {1,2,3} and {7,8}; 9 unclustered
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    kept = {
        r.doc_id
        for r in D.keep_representatives_by(docs, pairs, score_col="n_chars").collect()
    }
    # 2 wins {1,2,3} on score; 7 wins {7,8} on the min-id tiebreak
    assert kept == {2, 7, 9}
    # contrast with min-id keepers
    kept_min = {r.doc_id for r in D.keep_representatives(docs, pairs).collect()}
    assert kept_min == {1, 7, 9}


def test_leakage_free_split_drops_train_twins_of_val_docs(spark):
    """Cross-split near-dups: the TRAIN side of any train/val pair is
    dropped; val docs always survive; same-split near-dups are
    untouched (within-split dedup is a separate concern)."""
    base = "the quick brown fox jumps over the lazy dog again and again today ok"
    other = "completely different material about spark partitions and shuffle joins here"
    rows = [(i, base) for i in range(40)] + [(100 + i, other) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.split for r in D.leakage_free_split(df, val_pct=20, threshold=0.2).collect()}

    # recompute the hash split independently
    import hashlib

    def split_of(i):
        return "val" if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 100 < 20 else "train"

    fam_a = list(range(40))
    fam_b = [100 + i for i in range(10)]
    for fam in (fam_a, fam_b):
        vals = [i for i in fam if split_of(i) == "val"]
        trains = [i for i in fam if split_of(i) == "train"]
        if vals:
            # every val doc kept, every train twin dropped
            assert all(got.get(i) == "val" for i in vals)
            assert all(i not in got for i in trains)
        else:
            # no val member -> the whole train family survives
            assert all(got.get(i) == "train" for i in trains)


def test_cap_stats_fire_on_dense_corpus(spark):
    """Density-degenerate corpus (every doc a near-twin): the bucket
    cap silently refuses nearly all pair emission -- the diagnostic
    must make that observable (dropped buckets > 0, est coverage
    collapsing), and must read 1.0 when the cap doesn't bite."""
    rows = [(i, f"the quick brown fox jumps over the lazy dog number {i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    tight = D.simhash_cap_stats(df, max_bucket=10).collect()[0]
    assert tight.dropped_buckets > 0
    assert tight.est_pair_coverage < 0.5
    assert tight.candidate_pairs_kept < tight.candidate_pairs_uncapped
    # the coverage-floor guard (VERDICT r11 #5): running the capped
    # pair op blind on this corpus RAISES by default...
    with pytest.raises(D.SimhashCoverageError, match="routing rule"):
        D.simhash_near_dup_pairs(df, max_bucket=10).count()
    # ...warns loudly when the caller registers the capped form as a
    # priced demonstration...
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        n_capped = D.simhash_near_dup_pairs(
            df, max_bucket=10, on_low_coverage="warn"
        ).count()
    assert any("nearly blind" in str(w.message) for w in caught)
    # ...and the capped pair op really does emit fewer pairs than exist
    n_true = D.simhash_bruteforce_pairs(df).count()
    assert n_capped < n_true
    # a non-degenerate cap passes the guard silently
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        D.simhash_near_dup_pairs(df, max_bucket=100_000).count()
    assert not [w for w in caught2 if issubclass(w.category, RuntimeWarning)]

    loose = D.simhash_cap_stats(df, max_bucket=100_000).collect()[0]
    assert loose.dropped_buckets == 0
    assert loose.est_pair_coverage == 1.0

    # same contract on the minhash band buckets
    mh = D.minhash_cap_stats(df, max_bucket=5).collect()[0]
    assert mh.dropped_buckets > 0 and mh.est_pair_coverage < 1.0


def test_coverage_floor_guard_generalizes_to_every_capped_family(spark):
    """VERDICT r12 #3: the r12 simhash-only coverage-floor guard must
    cover every capped pair-emitting family -- a registry caller
    cannot silently run a near-blind capped plan on ANY of minhash /
    embedding / winnow / containment. Each family here gets a
    degenerate corpus (one clone class wider than the cap, so nearly
    all candidate pairs are refused), then: default raises
    CapCoverageError, "warn" runs with a loud RuntimeWarning, and
    coverage_floor=None opts out silently."""
    import warnings as _warnings

    clones = [(i, " ".join(f"w{j}" for j in range(20))) for i in range(30)]
    docs = spark.createDataFrame(clones, "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, _vec64(1.0)) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    cases = [
        ("minhash", lambda **kw: D.minhash_lsh_pairs(docs, threshold=0.2, max_bucket=5, **kw)),
        ("embedding", lambda **kw: D.embedding_near_dup_lsh(emb, threshold=0.9, max_bucket=5, **kw)),
        ("containment", lambda **kw: D.containment_pairs(docs, threshold=0.5, max_bucket=5, **kw)),
    ]
    from solana_data_etl_pipeline_spark.operators import text as X

    cases.append(
        ("winnow", lambda **kw: X.winnow_overlap_pairs(docs, min_shared=1, max_bucket=5, **kw))
    )
    for family, build in cases:
        with pytest.raises(D.CapCoverageError, match="routing rule"):
            build().count()
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            build(on_low_coverage="warn").count()
        assert any("nearly blind" in str(w.message) for w in caught), family
        with _warnings.catch_warnings(record=True) as caught2:
            _warnings.simplefilter("always")
            build(coverage_floor=None).count()
        assert not [w for w in caught2 if issubclass(w.category, RuntimeWarning)], family
    # SimhashCoverageError stays catchable as the family subclass
    assert issubclass(D.SimhashCoverageError, D.CapCoverageError)


def test_cap_guard_estimate_is_cached_per_plan_and_params(spark, tmp_path):
    """ADVICE r12: the guard's corpus-scale cap-stats job must run
    once per (bucket rows, cap), not on every plan construction --
    bench re-invokes a registered query callable per timed sample,
    and the eager per-call collect doubled each sample. The cache key
    is the SEMANTIC hash of the bucket rows' analyzed plan, stable for
    file-scan-backed frames (every registered query): for each guarded
    family, a second construction over a REBUILT parquet read runs no
    Spark job, and changing one bucket parameter (bands / bits / k /
    n_tables) changes the rows plan and so adds a cache entry.
    (Rebuilt createDataFrame LocalRelations hash fresh each call and
    simply re-pay the job -- correct either way.)"""
    import itertools
    import warnings as _warnings

    from solana_data_etl_pipeline_spark.operators import text as X
    from solana_data_etl_pipeline_spark.plans.suite import load_table

    def docs():
        return load_table(spark, "/root/testdata/sf0.001", "documents")

    emb_path, emb_schema = str(tmp_path / "emb"), "vec_id long, embedding array<float>"
    spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13 - 6) for j in range(64)]) for i in range(60)],
        emb_schema,
    ).write.parquet(emb_path)

    def emb():
        # a given schema: inferring it from the part files is a job
        return spark.read.schema(emb_schema).parquet(emb_path)

    # an uncommon cap, so no earlier construction in this process
    # shares the key; "warn" keeps a below-floor family constructible
    cap = {"max_bucket": 47, "on_low_coverage": "warn"}
    families = [
        (lambda **kw: D.minhash_lsh_pairs(docs(), threshold=0.2, **cap, **kw), {"bands": 8}),
        (lambda **kw: D.simhash_near_dup_pairs(docs(), **cap, **kw), {"bits": 60}),
        (lambda **kw: X.winnow_overlap_pairs(docs(), **cap, **kw), {"k": 6}),
        (
            lambda **kw: D.embedding_near_dup_lsh(emb(), threshold=0.9, **cap, **kw),
            {"n_tables": 3},
        ),
    ]
    sc = spark.sparkContext
    groups = itertools.count()

    def construction_jobs(build) -> list:
        group = f"cap_guard_cache_{next(groups)}"
        sc.setJobGroup(group, "guarded plan construction")
        try:
            build()
            return list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore")
        for build, changed in families:
            before = len(D._CAP_GUARD_CACHE)
            assert construction_jobs(build)  # first construction pays the job
            assert len(D._CAP_GUARD_CACHE) == before + 1
            assert construction_jobs(build) == [], changed
            assert len(D._CAP_GUARD_CACHE) == before + 1
            build(**changed)
            assert len(D._CAP_GUARD_CACHE) == before + 2, changed


def test_decontaminate_split_is_cluster_level_not_direct_pair(spark):
    """A train doc linked to val only TRANSITIVELY (train-train-val
    chain) must also be dropped: the whole val-touching component
    leaves training, not just direct partners."""
    labeled = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "val"), (4, "train"), (5, "train"), (6, "val")],
        "doc_id long, split string",
    )
    # component {1,2,3}: 1 touches val 3 only through 2
    # component {4,5}: all-train family, untouched
    # 6: unclustered val
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long")
    got = {r.doc_id: r.split for r in D.decontaminate_split(labeled, pairs).collect()}
    assert got == {3: "val", 4: "train", 5: "train", 6: "val"}


def test_containment_pairs_catches_near_subset_jaccard_misses(spark):
    """A short doc quoted whole inside a long one: containment ~1 but
    Jaccard low -- containment_pairs finds it, the Jaccard-based plan
    does not at the same threshold."""
    short = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = ("unrelated filler sentence number %d with plenty of distinct words " * 1)
    long_doc = " ".join(filler % i for i in range(8)) + " " + short
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "entirely different text about nothing shared here")],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.containment for r in D.containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert not any(3 in p for p in got)
    # the same pair under symmetric Jaccard scores far below 0.9
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(df, threshold=0.0).collect()}
    assert jac[(1, 2)] < 0.3


def test_cross_corpus_near_dup_catches_paraphrase(spark):
    """A benchmark doc that exact n-gram decontamination would need
    long shared grams for is still caught by the Jaccard-verified
    near-dup join; unrelated corpus docs are not."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog near the river today")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # same doc with only trailing words changed: high jaccard
            (1, "the quick brown fox jumps over the lazy dog near the river now ok"),
            (2, "entirely unrelated material about spark shuffle partitions and joins"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.bench_id): r.jaccard for r in D.cross_corpus_near_dup(corpus, bench, threshold=0.2).collect()}
    assert (1, 100) in got and got[(1, 100)] >= 0.2
    assert not any(d == 2 for d, _ in got)


def test_simhash_dedup_keepers_equals_naive_full_pair_form(spark):
    """The fingerprint-collapsed keeper plan must keep exactly the
    doc_ids the naive form (keep_representatives over the full
    uncapped pigeonhole pair list) keeps -- including hamming-0 twins
    dropped by the linear collapse and transitive hamming chains."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = (
        [(i, base) for i in range(6)]                      # identical: hamming 0 family
        + [(10, base + " extra"), (11, base + " extra")]   # second family
        + [(20, "completely different text about spark shuffles and joins here now")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {r.doc_id for r in D.simhash_dedup_keepers(df).collect()}
    naive = {
        r.doc_id
        for r in D.keep_representatives(
            df, D.simhash_near_dup_pairs(df, max_hamming=3)
        ).collect()
    }
    assert fast == naive
    # and on the real corpus slice
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast2 = {r.doc_id for r in D.simhash_dedup_keepers(docs).collect()}
    naive2 = {
        r.doc_id
        for r in D.keep_representatives(
            docs, D.simhash_near_dup_pairs(docs, max_hamming=3)
        ).collect()
    }
    assert fast2 == naive2


def test_delta_containment_materialized_index(spark, tmp_path):
    """Incremental decontamination: an ingest batch probed against the
    materialized winnowing index. A batch doc quoted whole inside a
    corpus doc verifies at containment ~1 (the asymmetric case
    symmetric Jaccard misses); clean docs produce no hits."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        delta_containment,
        materialize_winnow,
    )

    quoted = "the quick brown fox jumps over the lazy dog near the river bank"
    long_host = (
        "introductory framing sentence with extra words here "
        + quoted
        + " closing remarks trailing the quotation with more words after it"
    )
    other = "completely different material about spark partitions and shuffle joins"
    corpus = spark.createDataFrame(
        [(1, long_host), (2, other)], "doc_id long, text string"
    )
    path = str(tmp_path / "widx")
    materialize_winnow(corpus, path)

    delta = spark.createDataFrame(
        [
            (10, quoted),  # contained in corpus doc 1 -> hit, containment ~1
            (11, "fresh unrelated text mentioning parquet row groups and columnar io"),
        ],
        "doc_id long, text string",
    )
    hits = delta_containment(spark, path, delta, threshold=0.5).collect()
    assert [(h.delta_id, h.corpus_id) for h in hits] == [(10, 1)]
    assert hits[0].containment >= 0.9

    # replay invariance: probing does not mutate the index
    again = delta_containment(spark, path, delta, threshold=0.5).collect()
    assert [(h.delta_id, h.corpus_id, h.containment) for h in again] == [
        (h.delta_id, h.corpus_id, h.containment) for h in hits
    ]


def test_materialize_winnow_build_time_cap(spark, tmp_path):
    """A boilerplate fingerprint shared by more than max_bucket corpus
    docs is dropped at BUILD time, so probes never join through it."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        delta_containment,
        materialize_winnow,
    )

    boiler = "standard license header text repeated on every file in the tree"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(10)], "doc_id long, text string"
    )
    path = str(tmp_path / "widx")
    materialize_winnow(corpus, path, max_bucket=5)
    assert spark.read.parquet(f"{path}/fingerprints").count() == 0

    delta = spark.createDataFrame([(100, boiler)], "doc_id long, text string")
    assert delta_containment(spark, path, delta, threshold=0.5).count() == 0


def test_delta_containment_exposure_flags_blind_docs(spark, tmp_path):
    """The build-time cap's blind spot is observable PER BATCH DOC:
    a doc made of over-cap boilerplate reads exposure_bp 10000 (the
    probe above returned 0 hits for it -- silently clean without this
    signal), a doc of fresh content reads 0, and the excluded table
    itself records the boilerplate fingerprints with their widths."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        delta_containment_exposure,
        materialize_winnow,
    )

    boiler = "standard license header text repeated on every file in the tree"
    fresh = "completely novel discussion of adaptive query execution internals"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(10)], "doc_id long, text string"
    )
    path = str(tmp_path / "widx")
    materialize_winnow(corpus, path, max_bucket=5)

    excluded = spark.read.parquet(f"{path}/excluded")
    assert excluded.count() > 0
    assert all(r.bucket_width == 10 for r in excluded.collect())

    delta = spark.createDataFrame(
        [(100, boiler), (101, fresh)], "doc_id long, text string"
    )
    out = {
        r.delta_id: r
        for r in delta_containment_exposure(spark, path, delta).collect()
    }
    assert out[100].exposure_bp == 10000
    assert out[100].n_excluded == out[100].n_fps > 0
    assert out[101].exposure_bp == 0 and out[101].n_excluded == 0

    # an uncapped build writes an EMPTY excluded table (probes read it
    # unconditionally), so every doc reads exposure 0
    path2 = str(tmp_path / "widx_uncapped")
    materialize_winnow(corpus, path2)
    assert spark.read.parquet(f"{path2}/excluded").count() == 0
    out2 = delta_containment_exposure(spark, path2, delta).collect()
    assert all(r.exposure_bp == 0 for r in out2)


def test_delta_embedding_dedup_materialized_index(spark, tmp_path):
    """Incremental embedding dedup: a batch vector nearly parallel to
    an indexed corpus vector is dropped, an orthogonal one survives,
    and batch-internal twins resolve min-id-wins."""
    import math

    from solana_data_etl_pipeline_spark.operators.dedup import (
        delta_embedding_dedup,
        materialize_embedding_lsh,
    )

    dim = 64
    base = [1.0] * dim
    ortho = [1.0, -1.0] * (dim // 2)
    corpus = spark.createDataFrame(
        [(1, base), (2, ortho)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "eidx")
    materialize_embedding_lsh(corpus, path)

    near_base = [1.0] * (dim - 1) + [0.9]          # cos ~ 0.999 with base
    fresh = [0.0] * (dim - 1) + [1.0]
    delta = spark.createDataFrame(
        [
            (10, near_base),       # corpus hit -> dropped
            (11, fresh),           # survives
            (12, [x * 1.01 for x in fresh]),  # twin of 11 -> dropped (min-id)
        ],
        "vec_id long, embedding array<double>",
    )
    kept = sorted(
        r.vec_id
        for r in delta_embedding_dedup(spark, path, delta, threshold=0.95).collect()
    )
    assert kept == [11]

    # replay invariance
    again = sorted(
        r.vec_id
        for r in delta_embedding_dedup(spark, path, delta, threshold=0.95).collect()
    )
    assert again == kept


def _vec64(*head):
    v = list(head) + [0.0] * (64 - len(head))
    return [float(x) for x in v]


def test_semdedup_keeps_farthest_from_centroid(spark):
    """Planted SemDeDup hand model: a 3-chain of near-identical
    vectors collapses to ONE keeper -- the member with the LOWEST
    cosine to the cluster centroid (the paper's rule); orthogonal
    members survive as singletons; an identical vector in ANOTHER
    cluster is untouched (cross-cluster loss is by design)."""
    from solana_data_etl_pipeline_spark.operators.dedup import semdedup_keepers

    rows = [
        # label 1: three near-dups (pairwise cos ~0.999) + one orthogonal
        (1, _vec64(1.0, 0.00), 1),
        (2, _vec64(1.0, 0.02), 1),
        (3, _vec64(1.0, 0.04), 1),
        (4, _vec64(0.0, 0.0, 1.0), 1),
        # label 2: a copy of vec 1 -- different cluster, never paired
        (5, _vec64(1.0, 0.00), 2),
        (6, _vec64(0.0, 1.0), 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in semdedup_keepers(df, threshold=0.95).collect()}
    # the dup group {1,2,3} keeps exactly one member
    kept_group = [i for i in (1, 2, 3) if i in out]
    assert len(kept_group) == 1
    assert out[kept_group[0]].group_size == 3
    # centroid of label 1 leans toward the dup mass; vec 1 (y=0.00)
    # and vec 3 (y=0.04) flank it -- the keeper must be the group
    # member with the minimal centroid cosine, never the medoid
    assert kept_group[0] in (1, 3)
    # orthogonal + cross-cluster members all survive as singletons
    for vid in (4, 5, 6):
        assert out[vid].group_size == 1
    assert len(out) == 4


def test_semdedup_multiprobe_catches_cross_cluster_twin(spark):
    """The planted cross-cluster duplicate the paper's design loses
    (vec 5 = a copy of vec 1 filed under another label) IS caught by
    the multi-probe pairing -- both twins probe the same nearest
    centroids -- while keeper semantics elsewhere are unchanged."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        semdedup_keepers,
        semdedup_keepers_multiprobe,
    )

    rows = [
        (1, _vec64(1.0, 0.00), 1),
        (2, _vec64(1.0, 0.02), 1),
        (3, _vec64(1.0, 0.04), 1),
        (4, _vec64(0.0, 0.0, 1.0), 1),
        (5, _vec64(1.0, 0.00), 2),  # cross-cluster twin of vec 1
        (6, _vec64(0.0, 1.0), 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # own-label pairing: 5 survives as a singleton (the accepted loss)
    base = {r.vec_id: r for r in semdedup_keepers(df, threshold=0.95).collect()}
    assert base[5].group_size == 1
    # multi-probe (k=2 cells, nprobe=2 -> full visibility): the twin
    # joins the {1,2,3} chain, one keeper for the 4-group
    out = {r.vec_id: r for r in
           semdedup_keepers_multiprobe(df, threshold=0.95, nprobe=2).collect()}
    kept_group = [i for i in (1, 2, 3, 5) if i in out]
    assert len(kept_group) == 1
    assert out[kept_group[0]].group_size == 4
    # the orthogonal vectors still survive as singletons
    for vid in (4, 6):
        assert out[vid].group_size == 1
    assert len(out) == 3


def test_semdedup_multiprobe_refine_keeps_identical_twins_colocated(spark):
    """The pairing-cell dial: at refine_bits=4 the planted IDENTICAL
    cross-cluster twin is still caught (identical vectors share their
    sign-LSH sub-bits, so refinement never separates them), and on
    the real corpus refinement can only shrink the pair graph (keeper
    count non-decreasing vs the unrefined multiprobe run)."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        semdedup_keepers_multiprobe,
    )

    rows = [
        (1, _vec64(1.0, 0.00), 1),
        (2, _vec64(1.0, 0.00), 1),
        (5, _vec64(1.0, 0.00), 2),  # cross-cluster identical twin
        (6, _vec64(0.0, 1.0), 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in
           semdedup_keepers_multiprobe(df, threshold=0.95, nprobe=2,
                                       refine_bits=4).collect()}
    kept = [i for i in (1, 2, 5) if i in out]
    assert len(kept) == 1 and out[kept[0]].group_size == 3
    assert out[6].group_size == 1

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n0 = semdedup_keepers_multiprobe(emb, threshold=0.30, nprobe=2).count()
    n4 = semdedup_keepers_multiprobe(
        emb, threshold=0.30, nprobe=2, refine_bits=4
    ).count()
    assert n4 >= n0


def test_semdedup_near_dup_operating_point(spark):
    """The registered tau-routed point (tau=0.5, nprobe=3, bits=0;
    suite `semdedup_near_dup`): a planted cross-cluster NEAR-dup pair
    (cos ~0.999, different labels) is caught with no refine bits,
    non-duplicates survive untouched, and removal stays a per-pair
    rate (exactly one of the planted twins is removed) -- the
    coverage-1.0 / bounded-removal regime the grid selects once tau
    stops percolating (SCALE.md r11)."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        semdedup_keepers_multiprobe,
    )

    rows = [
        (1, _vec64(1.0, 0.01), 1),
        (2, _vec64(0.3, 0.0, 0.0, 0.954), 1),  # cos ~0.3 to vec 1: below tau=0.5, orthogonal to 6/7
        (5, _vec64(1.0, 0.00), 2),    # cross-cluster near-dup of vec 1
        (6, _vec64(0.0, 1.0), 2),
        (7, _vec64(0.0, 0.0, 1.0), 3),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in
           semdedup_keepers_multiprobe(df, threshold=0.5, nprobe=3).collect()}
    kept_pair = [i for i in (1, 5) if i in out]
    assert len(kept_pair) == 1 and out[kept_pair[0]].group_size == 2
    # vec 2 (cos ~0.31 to vec 1 -- a tau=0.30 "duplicate" but NOT a
    # tau=0.5 one) and the orthogonal vectors all survive alone
    for vid in (2, 6, 7):
        assert vid in out and out[vid].group_size == 1


def test_semdedup_exact_first_absorbs_replicas(spark):
    """The registered ladder composition (suite semdedup_exact_first):
    byte-identical copies are absorbed by the LINEAR exact stage
    before the semantic pair scan ever sees them -- the quadratic
    replica pair set never forms -- and the semantic stage on the
    residue behaves exactly like semdedup_near_dup. Planted: vec 1
    replicated 4x byte-identically (ids 1,10,11,12), plus the
    operating-point scenario's cross-cluster near-dup (5) and
    non-dups (2,6,7)."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        semdedup_exact_first,
        semdedup_keepers_multiprobe,
    )

    base = [
        (1, _vec64(1.0, 0.01), 1),
        (2, _vec64(0.3, 0.0, 0.0, 0.954), 1),
        (5, _vec64(1.0, 0.00), 2),
        (6, _vec64(0.0, 1.0), 2),
        (7, _vec64(0.0, 0.0, 1.0), 3),
    ]
    replicas = [(rid, base[0][1], lab) for rid, lab in ((10, 1), (11, 2), (12, 3))]
    df = spark.createDataFrame(
        base + replicas, "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in
           semdedup_exact_first(df, threshold=0.5, nprobe=3).collect()}
    # no replica id survives OR appears in any group: the exact stage
    # collapsed 10/11/12 onto vec 1 before the semantic stage
    assert not {10, 11, 12} & set(out)
    # the residue behaves like the operating-point test: exactly one
    # of the near-dup pair (1, 5) survives, counting 2 semantic members
    kept_pair = [i for i in (1, 5) if i in out]
    assert len(kept_pair) == 1 and out[kept_pair[0]].group_size == 2
    for vid in (2, 6, 7):
        assert vid in out and out[vid].group_size == 1
    # on a frame with NO byte-identical copies the composition is
    # row-identical to the plain multiprobe form
    nodup = spark.createDataFrame(base, "vec_id long, embedding array<float>, label int")
    a = {(r.vec_id, r.cluster, r.group_size) for r in
         semdedup_exact_first(nodup, threshold=0.5, nprobe=3).collect()}
    b = {(r.vec_id, r.cluster, r.group_size) for r in
         semdedup_keepers_multiprobe(nodup, threshold=0.5, nprobe=3).collect()}
    assert a == b


def test_semdedup_refine_bits_only_splits_groups(spark):
    """Finer clusters (refine_bits) can only SHRINK the pair graph:
    the keeper count is monotonically non-decreasing in refine_bits,
    and at bits=0 it matches the label-cluster run exactly."""
    from solana_data_etl_pipeline_spark.operators.dedup import semdedup_keepers

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n0 = semdedup_keepers(emb, threshold=0.30).count()
    n4 = semdedup_keepers(emb, threshold=0.30, refine_bits=4).count()
    assert emb.count() >= n4 >= n0


def test_delta_embedding_exposure_flags_blind_vectors(spark, tmp_path):
    """The embedding index's build-time cap is observable PER BATCH
    VECTOR: when a bucket over-caps (here: many copies of one
    direction), a batch vector landing in those buckets reads
    exposure_bp 10000 -- its dedup probe returned no drop even though
    the corpus is full of its twins -- while a vector in un-capped
    buckets reads 0."""
    from solana_data_etl_pipeline_spark.operators.dedup import (
        delta_embedding_dedup,
        delta_embedding_exposure,
        materialize_embedding_lsh,
    )

    dim = 64  # EMB_DIM: the hyperplanes are 64-dim, other widths are refused
    base = [1.0] * dim
    neg = [-1.0] * dim  # sign-LSH bucket is the exact complement of base's
    corpus = spark.createDataFrame(
        [(i, base) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "eidx")
    materialize_embedding_lsh(corpus, path, max_bucket=5)

    excluded = spark.read.parquet(f"{path}/excluded")
    assert excluded.count() > 0
    assert all(r.bucket_width == 10 for r in excluded.collect())

    delta = spark.createDataFrame(
        [(100, base), (101, neg)], "vec_id long, embedding array<double>"
    )
    # the capped index is blind to the base direction: nothing drops...
    assert {
        r.vec_id for r in delta_embedding_dedup(spark, path, delta).collect()
    } == {100, 101}
    # ...and the exposure probe says exactly which vector that blinds
    out = {
        r.delta_id: r
        for r in delta_embedding_exposure(spark, path, delta).collect()
    }
    assert out[100].exposure_bp == 10000
    assert out[100].n_excluded == out[100].n_buckets > 0
    assert out[101].exposure_bp == 0 and out[101].n_excluded == 0


def test_dedup_family_agreement_planted(spark):
    """Planted family-agreement cells: an exact duplicate pair lands
    in the all-three cell (jaccard 1, hamming 0, containment 1); a
    subset-quote pair (short doc embedded whole in a long one) lands
    in a containment-flagged cell with minhash 0 -- the duplication
    mode Jaccard under-scores, which is the report's reason to
    exist."""
    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"unique{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, quote + " " + filler),          # long doc quoting 2 whole
            (2, quote),                          # the short quoted doc
            (3, "the exact same document text repeated verbatim here"),
            (4, "the exact same document text repeated verbatim here"),
            (5, "completely unrelated content about something else entirely"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.minhash, r.simhash, r.containment): r.n_pairs
        for r in D.dedup_family_agreement(
            docs, minhash_threshold=0.5, containment_threshold=0.5
        ).collect()
    }
    # exact dup pair (3,4): every family flags it
    assert rows.get((1, 1, 1)) == 1
    # subset pair (1,2): containment yes, minhash no (jaccard ~0.14)
    quote_cells = {k: v for k, v in rows.items() if k[0] == 0 and k[2] == 1}
    assert sum(quote_cells.values()) == 1
    # nothing else pairs
    assert sum(rows.values()) == 2


def test_dedup_family_agreement_embedding_family(spark):
    """The fourth (vector) family catches the bag-of-words twin the
    Jaccard family under-scores: a word-permuted doc pair has a near-1
    hashed-vector cosine (embedding=1) but shares almost no ordered
    4-gram shingles (minhash=0); exact dups are flagged by all
    enabled families."""
    words = [f"word{i}" for i in range(30)]
    doc = " ".join(words)
    permuted = " ".join(reversed(words))
    docs = spark.createDataFrame(
        [
            (1, doc),
            (2, permuted),                 # bag-of-words twin of 1
            (3, "some other fixed text that stands completely apart here"),
            (4, "some other fixed text that stands completely apart here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.minhash, r.simhash, r.containment, r.embedding): r.n_pairs
        for r in D.dedup_family_agreement(
            docs,
            minhash_threshold=0.5,
            containment_threshold=0.5,
            include_embedding=True,
            embedding_threshold=0.9,
        ).collect()
    }
    # exact dup pair (3,4): all four families
    assert rows.get((1, 1, 1, 1)) == 1
    # permuted pair (1,2): embedding yes, minhash/containment no
    twin_cells = {
        k: v for k, v in rows.items() if k[3] == 1 and k[0] == 0 and k[2] == 0
    }
    assert sum(twin_cells.values()) == 1


def test_embedding_index_geometry_is_self_describing(spark, tmp_path):
    """The materialized embedding index defines its own probe
    geometry: an index built at 2 tables records it in `_meta`, and
    both probes run at 2 tables with no geometry argument -- the
    exposure probe counts 2 buckets per vector, and the dedup probe
    drops exactly the batch vectors inline knn_lsh at 2 tables finds
    a corpus neighbour for. Without `_meta` both probes raise."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators import similarity as V
    from solana_data_etl_pipeline_spark.operators.util import read_index_meta

    rng = np.random.RandomState(5)
    base = rng.normal(size=(20, 64))
    noisy = base[:10] + rng.normal(size=(10, 64)) * 0.6
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in enumerate(base)], schema)
    batch = spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(noisy)], schema
    )
    path = str(tmp_path / "eidx")
    D.materialize_embedding_lsh(corpus, path, n_tables=2)
    assert read_index_meta(spark, path) == {"n_tables": 2}
    exposure = D.delta_embedding_exposure(spark, path, batch).collect()
    assert len(exposure) == 10 and {r.n_buckets for r in exposure} == {2}
    q = batch.select(F.col("vec_id").alias("query_id"), "embedding")
    hit = V.knn_lsh(corpus, q, k=50, n_tables=2).filter(F.col("cosine") >= 0.7)
    expected = set(range(100, 110)) - {r.query_id for r in hit.collect()}
    kept = {r.vec_id for r in D.delta_embedding_dedup(spark, path, batch, threshold=0.7).collect()}
    assert kept == expected and kept != set(range(100, 110))  # non-vacuous
    os.remove(f"{path}/_meta")
    for probe in (D.delta_embedding_dedup, D.delta_embedding_exposure):
        with pytest.raises(ValueError, match="no `_meta`"):
            probe(spark, path, batch)


def test_minhash_and_winnow_indexes_are_self_describing(spark, tmp_path):
    """Every materialized index family defines its own probe geometry:
    a minhash index built at a non-default banding scheme (8 bands x
    2 rows) records it in `_meta`, and the probe -- which takes no
    geometry -- finds exactly the pairs the inline cross-corpus join
    finds at that scheme (the default 4x4 scheme finds fewer on this
    data); the winnow index does the same for its (k, window). An
    index without `_meta` raises instead of guessing."""
    import os
    import random

    from solana_data_etl_pipeline_spark.operators.text import winnow_overlap_pairs
    from solana_data_etl_pipeline_spark.operators.util import read_index_meta

    rnd = random.Random(3)
    vocab = [f"w{i}" for i in range(60)]
    base = [" ".join(rnd.choice(vocab) for _ in range(14)) for _ in range(6)]

    def _edit(text, i):
        w = text.split()
        w[i % len(w)], w[(i * 5 + 3) % len(w)] = "zz", "yy"
        return " ".join(w)

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(list(enumerate(base)), schema)
    delta = spark.createDataFrame([(100 + i, _edit(t, i)) for i, t in enumerate(base)], schema)

    mpath = str(tmp_path / "midx")
    D.materialize_minhash(docs, mpath, num_hashes=16, bands=8)
    assert read_index_meta(spark, mpath) == {"num_hashes": 16, "bands": 8}
    hits, _pairs = D.delta_match_pairs(spark, mpath, delta, threshold=0.3)
    got = {(r.delta_id, r.corpus_id) for r in hits.collect()}

    def _inline(bands):
        rows = D.cross_corpus_near_dup(docs, delta, threshold=0.3, num_hashes=16, bands=bands)
        return {(r.bench_id, r.doc_id) for r in rows.collect()}

    assert got == _inline(8) and len(got) > len(_inline(D.MINHASH_BANDS))

    wpath = str(tmp_path / "widx")
    D.materialize_winnow(docs, wpath, k=4, window=3)
    assert read_index_meta(spark, wpath) == {"k": 4, "window": 3}
    # threshold 0: every shared-fingerprint candidate survives verify
    got = {
        (r.delta_id, r.corpus_id)
        for r in D.delta_containment(spark, wpath, delta, threshold=0.0).collect()
    }

    def _overlap(k, window):
        rows = winnow_overlap_pairs(
            docs.unionByName(delta), min_shared=1, k=k, window=window, max_bucket=None
        )
        return {(r.doc_b, r.doc_a) for r in rows.collect() if r.doc_a < 100 <= r.doc_b}

    assert got == _overlap(4, 3) and got != _overlap(5, 4)

    os.remove(f"{mpath}/_meta")
    os.remove(f"{wpath}/_meta")
    for probe, path in (
        (D.delta_match_pairs, mpath),
        (D.delta_dedup_materialized, mpath),
        (D.delta_containment, wpath),
        (D.delta_containment_exposure, wpath),
    ):
        with pytest.raises(ValueError, match="no `_meta`"):
            probe(spark, path, delta)


def test_read_index_meta_runs_no_spark_job(spark, tmp_path):
    """The geometry sidecar is read through the filesystem, not a
    Spark read: resolving an index's geometry runs no job."""
    from solana_data_etl_pipeline_spark.operators.util import read_index_meta

    docs = spark.createDataFrame([(0, "one two three four five six")], "doc_id long, text string")
    path = str(tmp_path / "midx")
    D.materialize_minhash(docs, path)
    sc = spark.sparkContext
    sc.setJobGroup("read_index_meta", "geometry reads")
    try:
        for _ in range(5):
            assert read_index_meta(spark, path) == {
                "num_hashes": D.MINHASH_HASHES,
                "bands": D.MINHASH_BANDS,
            }
        jobs = sc.statusTracker().getJobIdsForGroup("read_index_meta")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []


# -- one index writer: build and catch-up are the same rule ----------

#: family -> (writer, id column, capped table, cap keys, geometry that
#: disagrees with the writer's default)
_WRITERS = {
    "minhash": (D.materialize_minhash, "doc_id", "bands", ["band", "band_sig"], {"bands": 8}),
    "winnow": (D.materialize_winnow, "doc_id", "fingerprints", ["fingerprint"], {"k": 4}),
    "embedding": (D.materialize_embedding_lsh, "vec_id", "buckets", ["table", "bucket"], {"n_tables": 2}),
}


def _writer_input(spark, family):
    """12 rows, ids 0..11; rows 0-3 are identical (one hot bucket in
    every LSH table), the rest are distinct."""
    import random

    rnd = random.Random(11)
    if family == "embedding":
        vecs = [[rnd.uniform(-1, 1) for _ in range(64)] for _ in range(9)]
        vecs = vecs[:1] * 3 + vecs
        return spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    vocab = ["".join(rnd.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7)) for _ in range(200)]
    hot = " ".join(rnd.choice(vocab) for _ in range(16))
    texts = [hot] * 4 + [" ".join(rnd.choice(vocab) for _ in range(16)) for _ in range(8)]
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _index_snapshot(spark, path):
    """{sub-table: (schema, sorted rows)} of the index at `path`, plus its `_meta`."""
    import os

    from solana_data_etl_pipeline_spark.operators.util import read_index_meta

    snap = {"_meta": read_index_meta(spark, path)}
    for sub in sorted(os.listdir(path)):
        if os.path.isdir(os.path.join(path, sub)):
            df = spark.read.parquet(os.path.join(path, sub))
            snap[sub] = (df.schema.simpleString(), sorted(tuple(r) for r in df.collect()))
    return snap


@pytest.mark.parametrize("family", sorted(_WRITERS))
def test_index_writer_catch_up_equals_build(spark, tmp_path, family):
    """Uncapped, an index built from half the rows and then caught up
    by a second writer call on all of them equals the index built in
    one call: every sub-table's sorted rows and schema, and `_meta`."""
    from pyspark.sql import functions as F

    write, id_col = _WRITERS[family][:2]
    rows = _writer_input(spark, family)
    whole, grown = str(tmp_path / "whole"), str(tmp_path / "grown")
    write(rows, whole)
    write(rows.filter(F.col(id_col) % 2 == 0), grown)
    assert write(rows, grown).count() == 0
    assert _index_snapshot(spark, grown) == _index_snapshot(spark, whole)


@pytest.mark.parametrize("family", sorted(_WRITERS))
def test_index_writer_catch_up_caps_accumulated_width(spark, tmp_path, family):
    """Capped, a catch-up appends exactly cap_buckets(new rows, keys,
    cap, existing rows)[0]: the hot bucket holds 2 rows after the first
    call (at the cap) and the second call's 2 more push it past, so
    they are refused. `excluded` records each refused bucket once, and
    the returned overflow is exactly the refused rows -- materialized
    before the append, so it survives the index's files being replaced
    after the call (as compaction does)."""
    import shutil

    from pyspark.sql import functions as F

    write, id_col, table, keys, _ = _WRITERS[family]
    rows = _writer_input(spark, family)
    path, full = str(tmp_path / "idx"), str(tmp_path / "full")
    write(rows.filter(F.col(id_col) % 2 == 0), path, max_bucket=2)
    before = _index_snapshot(spark, path)
    write(rows, full)  # uncapped: every row the catch-up could append
    new = spark.read.parquet(f"{full}/{table}").filter(F.col(id_col) % 2 == 1)
    existing = spark.createDataFrame(before[table][1], new.schema)
    kept, refused = (
        sorted(tuple(r) for r in df.collect())
        for df in D.cap_buckets(new, keys, 2, existing)
    )
    # a real split: the hot bucket's new rows are refused, others kept
    assert kept and {r[0] for r in refused} >= {1, 3}

    overflow = write(rows, path, max_bucket=2)
    after = _index_snapshot(spark, path)
    assert after[table][1] == sorted(before[table][1] + kept)
    if "excluded" in after:
        exc_keys = [r[: len(keys)] for r in after["excluded"][1]]
        assert len(exc_keys) == len(set(exc_keys))
        assert set(exc_keys) == {r[: len(keys)] for r in before["excluded"][1]} | {
            tuple(r[overflow.columns.index(k)] for k in keys) for r in refused
        }
    shutil.rmtree(path)
    assert sorted(tuple(r) for r in overflow.collect()) == refused


@pytest.mark.parametrize("family", sorted(_WRITERS))
def test_index_writer_refuses_disagreeing_geometry(spark, tmp_path, family):
    """A catch-up takes its geometry from `_meta`; an explicit value
    that disagrees raises ValueError before anything is written."""
    write, _, _, _, other = _WRITERS[family]
    rows = _writer_input(spark, family)
    path = str(tmp_path / "idx")
    write(rows.limit(4), path)
    before = _index_snapshot(spark, path)
    with pytest.raises(ValueError, match="disagrees with the index's `_meta`"):
        write(rows, path, **other)
    assert _index_snapshot(spark, path) == before
