"""Text-analysis operators for LLM training-data pipelines.

All hot-path expressions are built-in `pyspark.sql.functions` (JVM-side,
whole-stage-codegen) -- no Python UDFs. Each operator is a pure
``DataFrame -> DataFrame`` plan over a documents table with at least
(doc_id, text); designed to run as a single narrow projection or one
partial+final aggregation, so they scale linearly to 100 TB with zero
shuffle (per-doc ops) or one shuffle (grouped stats).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators.dedup import (
    CAP_COVERAGE_FLOOR,
    cap_buckets,
    check_cap_coverage,
    lsh_cap_stats,
)

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic so the oracle SQL can
# mirror them verbatim.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_counts(df: DataFrame) -> DataFrame:
    """Per-document token count (whitespace tokenizer)."""
    return df.select(
        "doc_id",
        F.size(tokens_col()).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


def bpe_ish_token_counts(df: DataFrame) -> DataFrame:
    """Subword-ish token count: BPE-like segmentation approximated with
    a regex that splits words, digits runs, and punctuation -- the
    standard cheap proxy when no tokenizer model is shippable."""
    pieces = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    return df.select("doc_id", F.size(pieces).cast("long").alias("n_bpe_tokens"))


def tokenizer_fertility(df: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Per-language tokenizer-fertility report: how many characters
    each tokenization spends per token -- the table a training team
    reads before choosing a tokenizer (fertility varies by language,
    and a high chars/token ratio inflates sequence lengths and
    compute; cf. the per-language fertility tables in the mT5/BLOOM
    tokenizer analyses). For both shipped tokenizations (whitespace
    `tokens_col` and the BPE-ish regex) per language: document count,
    character mass, token mass, and chars-per-token in basis points
    (floor over a double division -- both engines evaluate the
    IDENTICAL IEEE-754 expression n_chars*10000/tokens, so parity is
    bit-exact; the result is only integer-exact while the numerator
    stays under 2^53, far beyond any per-language character mass the
    report aggregates; readers divide by 10000).

    Scale shape: two zero-shuffle per-doc counting projections fused
    into the scan, then ONE bounded (languages-sized) aggregation --
    map-side combined, no joins."""
    pieces = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    per_doc = df.select(
        F.col(lang_col).alias("lang"),
        F.length("text").cast("long").alias("_chars"),
        F.size(tokens_col()).cast("long").alias("_wtok"),
        F.size(pieces).cast("long").alias("_btok"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_chars").cast("long").alias("n_chars"),
        F.sum("_wtok").cast("long").alias("n_ws_tokens"),
        F.sum("_btok").cast("long").alias("n_bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_chars",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.floor(F.col("n_chars") * 10000 / F.greatest(F.col("n_ws_tokens"), F.lit(1)))
        .cast("long")
        .alias("ws_fertility_bp"),
        F.floor(F.col("n_chars") * 10000 / F.greatest(F.col("n_bpe_tokens"), F.lit(1)))
        .cast("long")
        .alias("bpe_fertility_bp"),
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Heuristic document quality signals: length, mean token length,
    stopword ratio, alpha ratio. All codegen'd expressions."""
    toks = tokens_col()
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    alpha_chars = F.length(F.regexp_replace(F.lower(F.col("text")), r"[^a-z]", ""))
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(F.length(F.trim("text")) / F.greatest(n_tokens, F.lit(1)), 4).alias("avg_token_len"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(alpha_chars / F.greatest(F.length("text"), F.lit(1)), 4).alias("alpha_ratio"),
    )


def language_id(df: DataFrame) -> DataFrame:
    """Marker-word language ID: argmax over per-language marker hit
    counts, ties broken by fixed language order, 'und' when no marker
    hits. Deterministic and SQL-mirrorable."""
    toks = tokens_col()

    def marker_hits(markers: list[str]):
        # nb: a plain 1-arg lambda (default-arg tricks change the arity
        # PySpark infers for higher-order functions)
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    scores = [marker_hits(markers).alias(f"score_{lang}") for lang, markers in LANG_MARKERS.items()]
    scored = df.select("doc_id", "lang", *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:  # first language reaching the max wins (fixed order)
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.select("doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang"))


def consistent_sample(df: DataFrame, pct: int, id_col: str = "doc_id") -> DataFrame:
    """Deterministic hash-mod sampling: keep rows whose md5-derived
    bucket (0-99) is < pct. Unlike rand()-based sampling this is
    stable across reruns/retries and engines, composes with joins (the
    same id always lands in the same split), and needs no shuffle --
    it is a pure filter, pushed into the scan's row-group pruning when
    the id correlates with layout."""
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long") % 100
    return df.filter(bucket < pct)


def quantile_gate(
    df: DataFrame,
    col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    precision: int = 4,
) -> DataFrame:
    """Corpus quality gating by exact quantile thresholds, computed the
    way a 100 TB job must: NOT `percentile()` (whose aggregation
    buffers every value) and NOT a global sort/ntile (a single total
    order), but a fixed-precision HISTOGRAM -- groupBy the value
    rounded to `precision` decimals (bounded cardinality regardless of
    corpus size, map-side combined), one cumulative-count window over
    that bounded histogram, thresholds = the smallest bucket whose
    cumulative fraction reaches q. Rows whose rounded value lies in
    [lo, hi] are kept. Exact w.r.t. the rounded values, deterministic,
    engine-portable -- and the rounding is the only approximation,
    controlled by `precision`.

    Scale shape: one narrow-row shuffle of <= |distinct rounded
    values| per partition (partial agg), a window over a histogram
    small enough for one task, a broadcast of two scalars back onto
    an unshuffled corpus scan."""
    v = F.round(F.col(col).cast("double"), precision)
    # nulls are EXCLUDED from the histogram (they would otherwise
    # shift the cumulative fractions, and engines disagree on null
    # sort order) and rows with a null value never pass the gate --
    # a doc with no measurable score fails a quality gate by
    # definition
    hist = (
        df.select(v.alias("_v"))
        .filter(F.col("_v").isNotNull())
        .groupBy("_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_total", F.sum("_c").over(Window.partitionBy()))
        .withColumn("_frac", F.col("_cum") / F.col("_total"))
    )
    bounds = cum.agg(
        F.min(F.when(F.col("_frac") >= lo_q, F.col("_v"))).alias("_lo"),
        F.min(F.when(F.col("_frac") >= hi_q, F.col("_v"))).alias("_hi"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .filter(v.between(F.col("_lo"), F.col("_hi")))
        .drop("_lo", "_hi")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str,
    weight_col: str,
    precision: int = 4,
) -> DataFrame:
    """Best-docs-under-a-token-budget selection: keep rows from the
    highest `score_col` buckets downward while the running sum of
    `weight_col` (e.g. n_tokens) stays within `budget` -- the
    curation step that turns 'we can afford N training tokens' into a
    concrete quality threshold.

    Computed the way a 100 TB job must (same machinery as
    quantile_gate): NOT a global sort + running-sum window over the
    corpus, but a fixed-precision HISTOGRAM of the score with per-
    bucket weight sums (bounded cardinality, map-side combined), one
    cumulative window over that bounded histogram in score-descending
    order, threshold = the lowest score bucket still fully within
    budget. Whole-bucket granularity: a boundary bucket that would
    overflow the budget is excluded entirely (deterministic; the
    rounding `precision` bounds how much budget is left unused). If
    even the top bucket exceeds the budget, nothing is kept. Null
    scores never qualify.

    Scale shape: one narrow histogram shuffle + a broadcast scalar
    back onto an unshuffled corpus scan -- the corpus is never
    sorted."""
    v = F.round(F.col(score_col).cast("double"), precision)
    hist = (
        df.select(v.alias("_v"), F.col(weight_col).alias("_w"))
        .filter(F.col("_v").isNotNull())
        .groupBy("_v")
        .agg(F.sum("_w").alias("_c"))
    )
    w = Window.orderBy(F.col("_v").desc()).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    thr = cum.agg(
        F.min(F.when(F.col("_cum") <= F.lit(int(budget)), F.col("_v"))).alias("_thr")
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .filter(v >= F.col("_thr"))
        .drop("_thr")
    )


DEFAULT_LANG_RATES = {"en": 10, "fr": 40, "es": 40, "zh": 100, "de": 100}


def stratified_sample_stats(
    df: DataFrame,
    rates: dict[str, int] | None = None,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic downsampling (the language-rebalancing
    step of a training-data mix): each stratum keeps rows whose hash
    bucket is below that stratum's own pct. Same md5-bucket filter as
    ``consistent_sample`` so kept sets compose across the two; the
    rate map compiles to a CASE expression, so selection stays a pure
    per-row filter with zero shuffle. Returns the per-stratum audit
    (total vs kept vs configured rate) -- one partial+final agg."""
    rates = rates or DEFAULT_LANG_RATES
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long") % 100
    rate = F.lit(None).cast("int")
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    rate = F.coalesce(rate, F.lit(0))
    return (
        df.select(F.col(stratum_col).alias("stratum"), rate.alias("rate_pct"), (bucket < rate).cast("int").alias("kept"))
        .groupBy("stratum", "rate_pct")
        .agg(F.count("*").alias("total"), F.sum("kept").alias("sampled"))
    )


def vocab_top_words(df: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus vocabulary: top-N tokens by frequency (tokenizer-building
    first pass). explode -> partial+final count -> TakeOrderedAndProject
    top-k; the shuffle carries one row per (partition, token)."""
    inv = df.select(F.explode(tokens_col()).alias("token")).filter(F.col("token") != "")
    return (
        inv.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_n)
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents for a term query under BM25 (Robertson &
    Zaragoza 2009, the Okapi weighting every lexical retrieval stack
    ships) -- the ranked-retrieval sibling of tfidf_top_terms, and the
    corpus-side tool a curation run uses to pull the documents most
    similar to a reference query (lexical quality-matching next to
    DSIR's hashed-unigram importance and text_knn's embedding route).
    score(q,d) = sum over query terms of
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), with the
    Robertson/Sparck-Jones idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    Returns (doc_id, dl, score_ppm, rank) for the top_k matching docs.

    Engine-exactness: per-term scores quantize to INTEGER ppm
    (round(1e6 * score_t) as BIGINT) before the across-terms sum --
    BIGINT sums are order-independent, where a double sum's rounding
    depends on engine partial-aggregation order (the corpus_card
    lesson); both engines evaluate the identical left-associated
    expression tree, so the doubles agree to the ulp before the one
    quantizing round.

    Scale shape: the query terms are LITERALS, so per-doc tf_i are
    zero-shuffle projections over the bound token array (no explode,
    no (doc, term) shuffle -- the tfidf plan's two exchanges exist to
    weigh EVERY term; a fixed query needs none of that); corpus stats
    (N, sum dl, per-term docfreqs) are ONE map-side-combined scalar
    aggregate broadcast back; the global top-k is orderBy+limit
    (TakeOrderedAndProject), never a single-partition rank window.
    The token array binds to a column once so the interpreted HOF
    filters share the split (see shingles_from_tokens)."""
    if not query_terms:
        raise ValueError("bm25_rank: query_terms must be non-empty")
    terms = list(dict.fromkeys(query_terms))

    def _eq(term: str):
        # factory, not a comprehension lambda: comprehension closures
        # all capture the LAST loop value, and default-arg closures
        # change the arity PySpark infers for HOF lambdas
        def _inner(t):
            return t == F.lit(term)

        return _inner

    def _ne_empty(t):
        return t != F.lit("")

    proj = df.select("doc_id", tokens_col().alias("_tk")).select(
        "doc_id",
        F.size(F.filter(F.col("_tk"), _ne_empty)).cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("_tk"), _eq(t))).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = proj.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("dl").cast("double").alias("_sl"),
        *[
            F.coalesce(F.sum((F.col(f"_tf{i}") > 0).cast("long")), F.lit(0))
            .cast("long")
            .alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    avgdl = F.col("_sl") / F.col("_n")
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5)) / (F.col(f"_df{i}") + F.lit(0.5))
        )
        tfpart = (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
        )
        parts.append(F.round(F.lit(1e6) * idf * tfpart).cast("long"))
    score = sum(parts[1:], parts[0])
    top = (
        proj.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", score.alias("score_ppm"))
        .filter(F.col("score_ppm") > 0)
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    # rank window runs AFTER the limit: a <=top_k-row frame, not a
    # single-partition sort of the corpus
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def materialize_inverted_index(df: DataFrame, path: str, text_col: str = "text") -> str:
    """Build the classic SEARCH-AT-SCALE structure once at ingest: an
    inverted index -- postings (token, doc_id, tf) PARTITIONED by a
    256-way md5 prefix of the token, plus a doc-length sidecar and a
    one-row corpus-stats table. bm25_rank_indexed then answers a
    query by reading ONLY the query terms' prefix partitions (Spark
    prunes the other ~254 at the scan) with the token equality pushed
    into parquet -- query cost proportional to the query terms'
    posting lists, not the corpus, which is how every production
    search stack prices a query. The scan-form bm25_rank stays the
    correctness anchor (identical output, pinned by test + the shared
    oracle).

    Scale shape: ONE explode + ONE (token, doc) aggregation builds the
    postings (map-side combined); the prefix partitioning bounds
    directory fan-out at 256 regardless of vocabulary size (a raw
    partitionBy(token) would create vocab-many directories). Doc
    lengths and stats are zero-shuffle projections/one aggregate."""

    def _ne(t):
        return t != F.lit("")

    tok = df.select(
        "doc_id", F.explode(F.filter(tokens_col(text_col), _ne)).alias("token")
    )
    postings = (
        tok.groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("pfx", F.substring(F.md5("token"), 1, 2))
    )
    postings.write.mode("overwrite").partitionBy("pfx").parquet(f"{path}/postings")
    dl = df.select(
        "doc_id",
        F.size(F.filter(tokens_col(text_col), _ne)).cast("long").alias("dl"),
    )
    dl.write.mode("overwrite").parquet(f"{path}/doclen")
    dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")
    return path


def bm25_rank_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 over the materialized inverted index: reads only the query
    terms' md5-prefix partitions (partition pruning) with the token
    filter pushed to parquet, joins the bounded postings onto the
    doc-length sidecar, and sums the per-term INTEGER-ppm scores per
    document -- BIGINT sums are aggregation-order-independent, so the
    result is IDENTICAL to the scan-form bm25_rank (same oracle, same
    quantization contract) while touching postings-of-query-terms
    instead of the corpus.

    Scale shape: the postings read is pruned+pushed (|terms| prefix
    partitions of 256); per-term docfreqs aggregate the bounded
    postings; the doc-length join keys on doc_id with the postings
    side bounded by the terms' document frequencies; top-k is
    orderBy+limit."""
    import hashlib

    if not query_terms:
        raise ValueError("bm25_rank_indexed: query_terms must be non-empty")
    terms = list(dict.fromkeys(query_terms))
    pfxs = sorted({hashlib.md5(t.encode()).hexdigest()[:2] for t in terms})
    # explicit schemas: the index layout is fixed by
    # materialize_inverted_index, so per-call parquet footer
    # inference is pure construction overhead (guide §7.3)
    post = (
        spark.read.schema("token string, doc_id long, tf long, pfx string")
        .parquet(f"{path}/postings")
        .filter(F.col("pfx").isin(pfxs) & F.col("token").isin(terms))
        .select("token", "doc_id", "tf")
    )
    stats = spark.read.schema("n_docs long, total_dl long").parquet(f"{path}/stats")
    dfreq = post.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("dft"))
    dl = spark.read.schema("doc_id long, dl long").parquet(f"{path}/doclen")
    scored = (
        post.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dft") + F.lit(0.5)) / (F.col("dft") + F.lit(0.5))
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    tfpart = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    per_term = scored.select(
        "doc_id", "dl", F.round(F.lit(1e6) * idf * tfpart).cast("long").alias("_ppm")
    )
    return (
        per_term.groupBy("doc_id", "dl")
        .agg(F.sum("_ppm").cast("long").alias("score_ppm"))
        .filter(F.col("score_ppm") > 0)
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(top_k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score_ppm"), F.asc("doc_id")))
            .cast("int"),
        )
    )


def hybrid_rank(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    rrf_k: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009; the standard fusion every lexical+vector search
    stack ships) of the two registered retrieval routes -- bm25_rank's
    lexical top-k and the hash_embed -> knn_lsh semantic top-k for
    the SAME query. rrf(d) = sum over lists of 1/(rrf_k + rank_d),
    absent-from-a-list contributing 0; the query's embedding is the
    registered encoder run on the query text itself (query_id -1, so
    no corpus doc is self-excluded). Returns (doc_id, lex_rank,
    sem_rank, rrf_score) for the fused top-k -- a doc ranked by only
    one route carries a NULL in the other's column, which is the
    fusion's whole point (lexical-only exact-term hits meet
    semantic-only paraphrase hits in one list).

    Engine-exactness: both member ranks are INTEGERS from the member
    operators' own contracted orderings; the fusion score is one
    fixed two-term double expression per row (no aggregation-order
    sensitivity), rounded 6 dp.

    Scale shape: exactly the two members' shapes (bm25's zero-shuffle
    projections + one scalar broadcast + TakeOrderedAndProject;
    knn_lsh's bucketed probe with the single query row broadcast) --
    the fusion itself joins two <=k-row frames and sorts <=2k rows."""
    from solana_data_etl_pipeline_spark.operators.similarity import knn_lsh

    lex = bm25_rank(df, query_terms, top_k=k).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    enc = hash_embed(df, text_col=text_col).localCheckpoint(eager=False)
    sem = _semantic_rank(df.sparkSession, query_terms, lambda q: knn_lsh(enc, q, k=k))
    return _rrf_fuse(lex, sem, k, rrf_k)


def _semantic_rank(spark, query_terms: list[str], knn) -> DataFrame:
    """The semantic member route shared by hybrid_rank and its indexed
    form: encode the query text with the registered hash_embed
    encoder (query_id -1, so no corpus doc is self-excluded) and
    probe it with `knn` (query vectors -> knn_lsh-shaped top-k).
    Returns (doc_id, sem_rank)."""
    qdf = spark.createDataFrame([(-1, " ".join(query_terms))], "doc_id long, text string")
    qvec = hash_embed(qdf).select(F.col("vec_id").alias("query_id"), "embedding")
    return knn(qvec).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )


def _rrf_fuse(lex: DataFrame, sem: DataFrame, k: int, rrf_k: int) -> DataFrame:
    """Reciprocal-rank fusion of the two member top-k frames (both
    <=k rows): full outer join on doc_id, absent-from-a-list
    contributes 0, fused score rounded 6 dp, top-k by (score DESC,
    doc_id)."""
    fused = lex.join(sem, "doc_id", "full")
    score = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", score.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_rank_indexed(
    spark,
    index_path: str,
    lsh_index: str,
    query_terms: list[str],
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """hybrid_rank answered from STORED ingest-time artifacts -- the
    production shape of the fusion (VERDICT r11 #4): the lexical
    member reads only the query terms' pruned posting partitions of
    the materialized inverted index (bm25_rank_indexed -- result
    pinned identical to the scan form through the shared oracle) and
    the semantic member probes a stored LSH bucket index over the
    hash_embed corpus vectors (`lsh_index`: the PATH
    dedup.materialize_embedding_lsh writes at ingest cadence, uncapped
    at knn_lsh's table count; its `_meta` holds the table count)
    instead of re-encoding and re-bucketing the corpus per query.
    Result-identical to hybrid_rank on the same corpus: parquet
    stores the encoder's doubles and norms exactly, the query side
    buckets with the same fixed plane matrices, BM25's integer-ppm
    scores are aggregation-order-free, and the fusion is the same
    shared _rrf_fuse tail (pinned by test + the shared oracle).

    Scale shape: query cost is the terms' posting lists (pruned scan)
    plus the index rows in the probed buckets -- neither member
    rescans, re-encodes, or re-buckets the corpus; the fusion joins
    two <=k-row frames."""
    from solana_data_etl_pipeline_spark.operators.similarity import knn_lsh_indexed

    lex = bm25_rank_indexed(spark, index_path, query_terms, top_k=k).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = _semantic_rank(spark, query_terms, lambda q: knn_lsh_indexed(lsh_index, q, k=k))
    return _rrf_fuse(lex, sem, k, rrf_k)


def tfidf_top_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1))).

    Plan: one explode -> (doc, term) count [shuffle 1] -> document
    frequency derived FROM the tf table (count per term, shuffle 2,
    already-reduced rows) -> tf JOIN dfreq on `term` with NO broadcast
    hint: both sides are already hash-partitioned on `term` by their
    groupBys, so the sort-merge join reuses that partitioning
    shuffle-free, and a corpus-scale vocabulary (tens of millions of
    terms) never has to fit in a broadcast. AQE may still elect a
    broadcast when dfreq is measured small at runtime -- the safe
    direction. Only the scalar N is broadcast. Stopword-heavy terms
    skew the df aggregation at corpus scale; operators/skew.py's
    salted_count is the drop-in mitigation."""
    tok = df.select("doc_id", F.explode(tokens_col()).alias("term")).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("docfreq"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("docfreq") + F.lit(1.0))),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


def doc_features(df: DataFrame) -> DataFrame:
    """ALL per-document projections fused into one scan: token counts
    (whitespace + BPE-ish), quality signals, language ID, and content
    fingerprints. Column-identical to running token_counts /
    bpe_ish_token_counts / quality_scores / language_id / fingerprints
    separately -- but ONE pass over the corpus instead of five, which
    is the difference that matters at 100 TB (each of those is
    scan-bound; the fusion is free because every feature is a
    projection).

    Tokens and normalized text are projected to bound columns first so
    the tokenizer/normalizer run once per row, not once per consuming
    expression (see shingles_from_tokens on interpreted HOF
    evaluation)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    bound = df.select("doc_id", "lang", "text", tokens_col().alias("_tk"), norm.alias("_nrm"))
    tk = F.col("_tk")
    n_tokens = F.size(tk)
    stop_hits = F.size(F.filter(tk, lambda t: t.isin(STOPWORDS)))
    alpha_chars = F.length(F.regexp_replace(F.lower(F.col("text")), r"[^a-z]", ""))
    pieces = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    def _marker_hits(markers: list[str]):
        # plain 1-arg lambda via function scope: default-arg closures
        # change the arity PySpark infers for HOF lambdas
        return F.size(F.filter(tk, lambda t: t.isin(markers)))

    scores = [_marker_hits(markers).alias(f"score_{lang}") for lang, markers in LANG_MARKERS.items()]
    scored = bound.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.size(pieces).cast("long").alias("n_bpe_tokens"),
        F.round(F.length(F.trim("text")) / F.greatest(n_tokens, F.lit(1)), 4).alias("avg_token_len"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(alpha_chars / F.greatest(F.length("text"), F.lit(1)), 4).alias("alpha_ratio"),
        F.col("lang").alias("labeled_lang"),
        F.md5(F.col("_nrm")).alias("fingerprint"),
        *scores,
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        "avg_token_len",
        "stopword_ratio",
        "alpha_ratio",
        "labeled_lang",
        pred.alias("predicted_lang"),
        "fingerprint",
        F.conv(F.substring("fingerprint", 1, 15), 16, 10).cast("long").alias("fingerprint64"),
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """Content fingerprints: md5 of normalized text (exact-dup key) and
    a 64-bit prefix convenient for range-partitioned joins."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = F.md5(norm)
    return df.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint64"),
    )


# -- PII / contamination scanning ------------------------------------

# Conservative, precision-leaning patterns: a training-data pipeline
# flags candidates for removal/redaction; recall tuning happens per
# deployment. All run in one scan as codegen'd regexp_count calls.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{0,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn_like": r"\b\d{3}-\d{2}-\d{4}\b",
    "credit_card_like": r"\b(?:\d[ -]?){13,16}\b",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII candidate counts and an any-hit flag -- the
    filter/redaction gate of a training-corpus pipeline. One scan,
    pure projection (regexp_count per pattern), zero shuffles; at
    100 TB this pipelines with the read like every other per-doc
    feature. Returns (doc_id, n_<kind>..., pii_hits, has_pii)."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]
    out = df.select("doc_id", *counts)
    total = sum((F.col(f"n_{kind}") for kind in PII_PATTERNS), F.lit(0).cast("long"))
    return out.withColumn("pii_hits", total).withColumn("has_pii", F.col("pii_hits") > 0)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII REDACTION -- the acting sibling of pii_scan: every match of
    each pattern is replaced in the text with its typed placeholder
    (`<EMAIL>`, `<PHONE>`, ...), the standard pre-training rewrite
    when dropping whole documents would waste the surrounding text.
    Patterns apply in the fixed PII_PATTERNS order (longest-structure
    kinds like emails first), each over the OUTPUT of the previous
    rewrite, so both engines compose identically. Returns
    (doc_id, redacted_count, clean_text).

    Scale shape: a chain of regexp_replace projections fused into the
    scan -- ZERO shuffles, like every per-doc rewrite here;
    redacted_count counts each pattern against the PREVIOUS rewrite
    (mirroring the replacement chain), so it equals the number of
    placeholders actually inserted into clean_text -- a later pattern
    matching only inside an earlier pattern's already-replaced span is
    neither replaced nor counted (pii_scan keeps the original-text
    scan counts)."""
    prev = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(F.regexp_count(prev, F.lit(pat)).cast("long"))
        prev = F.regexp_replace(prev, pat, f"<{kind.upper()}>")
    clean = prev
    total = sum(counts, F.lit(0).cast("long"))
    return df.select(
        "doc_id",
        total.alias("redacted_count"),
        clean.alias("clean_text"),
    )


def pii_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level contamination rates: per-kind document frequency
    and hit totals in one partial+final aggregation over the scan."""
    scan = pii_scan(df, text_col)
    aggs = []
    for kind in PII_PATTERNS:
        aggs.append(F.sum(f"n_{kind}").cast("long").alias(f"total_{kind}"))
        aggs.append(
            F.sum(F.when(F.col(f"n_{kind}") > 0, 1).otherwise(0)).cast("long").alias(f"docs_{kind}")
        )
    return scan.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("has_pii"), 1).otherwise(0)).cast("long").alias("docs_with_pii"),
        *aggs,
    )


# -- deterministic weighted dataset mixing ---------------------------


def weighted_mix(df: DataFrame, weights: dict[str, int], source_col: str = "source",
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-source sampling rates (percent, 0-100) -- the
    dataset-mixing step of corpus assembly ('keep 100% of wiki, 10% of
    crawl'). Same hash-mod machinery as consistent_sample, so mixes
    are stable across runs and monotone in the rate; unlisted sources
    are dropped. Pure per-row filter, zero shuffles."""
    if not weights:
        return df.filter(F.lit(False))
    expr = None
    for src, pct in weights.items():
        cond = F.col(source_col) == src
        expr = F.when(cond, F.lit(int(pct))) if expr is None else expr.when(cond, F.lit(int(pct)))
    rate = expr.otherwise(F.lit(0))
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long") % 100
    return df.filter(bucket < rate)


# -- winnowing document fingerprints ---------------------------------


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS scheme): hash every character k-gram of the normalized
    text (lowercased, non-alphanumerics stripped -- UNICODE
    alphanumerics kept, so non-Latin content fingerprints instead of
    normalizing to ""), slide a window of `window` consecutive gram
    hashes, keep each window's MINIMUM -- the classic rolling-hash
    fingerprint selection, guaranteeing any shared substring of
    length >= k + window - 1 contributes at least one common
    fingerprint between two documents. Returns exploded (doc_id,
    fingerprint) rows, distinct per doc.

    The textbook rolling hash is an O(1)-update trick for SEQUENTIAL
    scanners; in a vectorized engine each gram hashes independently
    inside one projection, which is the same work batched. Selection
    is by hash VALUE per window (with 60-bit hashes, value ties are
    vanishingly rare), so both engines agree without a positional tie
    rule. Documents whose normalized text is shorter than k (e.g.
    punctuation-only docs, which normalize to "") contribute NOTHING:
    a sub-k doc has no k-gram to witness a shared substring, and
    hashing the remnant would funnel every such doc into one
    degenerate md5("")-style bucket -- a quadratic blowup for any
    downstream candidate join. Fewer grams than `window` means one
    window over what exists.

    Scale shape: ZERO shuffles -- normalization, gram hashing, window
    minima, and per-doc dedup (array_distinct) are all per-row
    higher-order expressions; explode emits one row per retained
    fingerprint. The normalized string is bound to a column first
    (HOF lambdas get no common-subexpression elimination)."""
    from solana_data_etl_pipeline_spark.operators.util import ensure_parallelism

    s = F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]", "")
    bound = (
        ensure_parallelism(df.select("doc_id", F.col(text_col)))
        .select("doc_id", s.alias("_s"))
        .filter(F.length("_s") >= k)
    )
    n = F.length("_s")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.col("_s").substr(i.cast("int"), F.lit(k))), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    hashed = bound.select("doc_id", grams.alias("_h"))
    ng = F.size("_h")
    maxlong = F.lit((1 << 62)).cast("long")
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(ng - F.lit(window - 1), F.lit(1))),
        lambda j: F.aggregate(
            F.slice(F.col("_h"), j.cast("int"), window),
            maxlong,
            lambda acc, x: F.least(acc, x),
        ),
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    min_shared: int = 2,
    k: int = 5,
    window: int = 4,
    max_bucket: int | None = None,
    text_col: str = "text",
    coverage_floor: float | None = CAP_COVERAGE_FLOOR,
    on_low_coverage: str = "raise",
) -> DataFrame:
    """Document pairs sharing >= `min_shared` winnowing fingerprints --
    the MOSS overlap detector: near-dup / plagiarism candidates from
    substring-level evidence (each shared fingerprint witnesses a
    shared substring of length >= k, and any shared run >= k+window-1
    is guaranteed to be seen). Returns (doc_a, doc_b, shared) with
    doc_a < doc_b.

    Scale shape: this is the inverted-index self-join, but over the
    winnowed ~2/(window+1) SAMPLE of gram positions instead of every
    gram -- the index is a fraction of the full n-gram join's
    (ngram_jaccard_pairs' PPJoin degenerate) and the fingerprint
    pipeline itself is zero-shuffle. `max_bucket` caps degenerate
    fingerprint buckets (boilerplate strings) through cap_buckets --
    the same cap as every LSH plan here.

    COVERAGE-FLOOR GUARD (VERDICT r12 #3 -- this family is the one
    the generalization exists for: measured cap coverage on the
    synthetic corpus is 0.0021 at the registry cap, i.e. a capped
    default-parameter run is near-BLIND): a capped call checks the
    winnow_cap_stats estimate against `coverage_floor` through the
    shared check_cap_coverage (cached per plan+params) and raises
    CapCoverageError by default. `on_low_coverage="warn"` is for the
    registered capped demos (priced next to the uncapped twin and
    the materialized-index delta probe, which is the steady-state
    scale path for local content keys); `coverage_floor=None` opts
    out where measuring the refusal is the point."""
    fp = winnow_fingerprints(df, k=k, window=window, text_col=text_col)
    if max_bucket is not None and coverage_floor is not None:
        check_cap_coverage(
            fp,
            ["fingerprint"],
            max_bucket,
            family="winnow_overlap_pairs",
            coverage_floor=coverage_floor,
            on_low_coverage=on_low_coverage,
            route_hint=(
                "probe a materialized winnowing index at delta cost "
                "(delta_containment) or raise the cap for a bounded batch"
            ),
        )
    fp = cap_buckets(fp, ["fingerprint"], max_bucket)[0]
    l, r = fp.alias("l"), fp.alias("r")
    return (
        l.join(
            r,
            (F.col("l.fingerprint") == F.col("r.fingerprint"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_cap_stats(
    df: DataFrame,
    max_bucket: int,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Cap-coverage diagnostic over the winnowing fingerprint buckets
    winnow_overlap_pairs / containment_pairs join on (see
    dedup.lsh_cap_stats): measured at sf0.1 the containment plan's
    only misses are CAP loss (capped recall 0.926, uncapped 1.000,
    SCALE.md), so this frame is how a caller knows whether a capped
    run lost candidate mass to boilerplate buckets."""
    fp = winnow_fingerprints(df, k=k, window=window, text_col=text_col)
    return lsh_cap_stats(fp, ["fingerprint"], max_bucket)


# -- deterministic training-shuffle sharding -------------------------


def training_shuffle(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training-data export: every doc
    gets a (shard, pos) under a seeded pseudo-random permutation --
    the step that turns a curated corpus into shuffled training shards
    (epoch order must not follow crawl/ingest order, and a retried job
    must produce byte-identical shards, which rand() cannot).

    key = md5(seed:id) as a uniform 60-bit int; shard = key mod
    n_shards; pos = rank of the key within its shard (id tiebreak).
    Changing the seed is a fresh permutation; same seed replays
    exactly, on any engine.

    Scale shape: the key/shard columns are pure projections; positions
    need ONE hash exchange on shard + a per-shard sort -- never a
    global total order. With n_shards sized so a shard fits a task
    (e.g. 100k shards at 100 TB), each sort is small and independent;
    writers then partitionBy(shard) with pos as the in-file order."""
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(int(seed))), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("_key", id_col)
    return (
        df.select(
            F.col(id_col),
            key.alias("_key"),
            (key % F.lit(int(n_shards))).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def temperature_mix(
    df: DataFrame,
    tau: float = 0.5,
    target_frac: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled source sampling (the mT5/XLM-R multilingual
    recipe): source s with corpus share p_s is sampled in proportion
    to p_s^tau -- tau<1 UP-samples small sources and damps dominant
    ones, tau=1 is proportional, tau=0 is uniform-over-sources. The
    overall take is target_frac of the corpus; per-source keep
    probability min(1, target_frac * N * q_s / n_s) is applied with
    the deterministic hash-mod rule (stable across engines and
    reruns, composes with the other samplers). Returns the kept rows
    with their source rate attached (rate_bp, basis points).

    Scale shape: one tiny per-source count agg; the rate table is
    sources-sized and BROADCAST onto the un-shuffled corpus scan; the
    filter itself is a pure projection. Rates are rounded to basis
    points on both engines so the hash-mod comparison is integral."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    tot = counts.agg(F.sum("_n").alias("_tot"))
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("_w", F.pow(F.col("_n") / F.col("_tot"), F.lit(float(tau))))
        .withColumn("_wsum", F.sum("_w").over(Window.partitionBy()))
        .select(
            source_col,
            F.least(
                F.lit(10_000),
                F.round(
                    F.lit(float(target_frac))
                    * F.col("_tot")
                    * (F.col("_w") / F.col("_wsum"))
                    / F.col("_n")
                    * 10_000
                ).cast("long"),
            ).alias("rate_bp"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % 10_000
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(bucket < F.col("rate_bp"))
    )


#: C4-style line-cleaning knobs (Raffel et al. 2020, §2.2 "Colossal
#: Clean Crawled Corpus": keep lines ending in terminal punctuation
#: with at least N words; drop pages containing boilerplate markers
#: or code braces). Deliberately small and literal so the oracle SQL
#: mirrors them verbatim.
C4_MIN_LINE_WORDS = 5
C4_PAGE_BLOCKLIST = ["lorem ipsum", "{"]


def c4_clean(df: DataFrame, min_line_words: int = C4_MIN_LINE_WORDS, text_col: str = "text") -> DataFrame:
    """C4-style line-level page cleaning: split the document into
    lines, keep only lines that END IN TERMINAL PUNCTUATION
    ('.', '!', '?', optionally followed by a closing quote) and carry
    at least `min_line_words` words; drop the PAGE entirely when it
    contains a blocklist marker ('lorem ipsum' boilerplate, a '{'
    code brace). Returns (doc_id, n_lines, kept_lines, page_filtered,
    clean_text) with clean_text the newline-joined kept lines ('' for
    filtered pages). The standard first-pass web-text gate, upstream
    of the quality/dedup stages here.

    Scale shape: a pure per-row projection -- line split, per-line
    regexp + word-count checks, and the page test are higher-order /
    string expressions fused into the scan; ZERO shuffles."""
    ln = F.split(F.col(text_col), "\n")
    trimmed = lambda l: F.trim(l)  # noqa: E731
    keep_line = lambda l: (  # noqa: E731
        trimmed(l).rlike("[.!?][\"']?$")
        & (F.size(F.split(trimmed(l), r"\s+")) >= min_line_words)
    )
    kept = F.filter(ln, keep_line)
    bad = None
    for marker in C4_PAGE_BLOCKLIST:
        cond = F.contains(F.lower(F.col(text_col)), F.lit(marker))
        bad = cond if bad is None else (bad | cond)
    return df.select(
        "doc_id",
        F.size(ln).cast("long").alias("n_lines"),
        F.when(bad, F.lit(0)).otherwise(F.size(kept)).cast("long").alias("kept_lines"),
        bad.alias("page_filtered"),
        F.when(bad, F.lit("")).otherwise(F.array_join(kept, "\n")).alias("clean_text"),
    )


def tokenize_corpus(df: DataFrame, vocab_size: int = 1000, text_col: str = "text") -> DataFrame:
    """Vocab-based NUMERICALIZATION -- the materialization step between
    a curated text corpus and model-ready training shards: token ids
    1..V are assigned by corpus frequency rank (ties: token
    ascending), anything outside the top-V maps to 0 (the unk id).
    Returns (doc_id, n_tokens, oov_count, token_ids) with token_ids
    as the space-joined id sequence in document order (a portable
    string; exporters cast to int arrays at write time).

    Scale shape: the vocabulary is built from one token count agg
    (map-side combined), the top-V selected with a distributed
    TakeOrderedAndProject (orderBy + limit -- per-partition top-V
    heaps merged on one task, never a global sort of the full
    CORPUS-scale vocabulary; ranking by window alone would funnel
    every distinct token through a single partition), then ranked
    with one window over the now vocab_size-BOUNDED frame and
    BROADCAST onto the exploded token stream (vocabularies are
    bounded; a corpus's token stream is not); one groupBy(doc_id)
    reassembles documents. Empty tokens are excluded from both the
    vocabulary and the id sequences."""
    toks = df.select(
        "doc_id", F.posexplode(tokens_col(text_col)).alias("pos", "token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_f"))
    top = counts.orderBy(F.desc("_f"), F.asc("token")).limit(vocab_size)
    w = Window.orderBy(F.desc("_f"), F.asc("token"))
    vocab = top.withColumn("id", F.row_number().over(w).cast("int")).select(
        "token", "id"
    )
    j = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    ids = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "id"))), lambda x: x["id"].cast("string")
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("id") == 0).cast("int")).cast("long").alias("oov_count"),
        F.array_join(ids, " ").alias("token_ids"),
    )


def source_quota_sample(
    df: DataFrame,
    max_per_source: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source document QUOTAS (domain caps): keep at most
    `max_per_source` docs per source, chosen deterministically by the
    consistent md5-of-id order -- so the kept set is a stable random
    sample of each source, not its crawl-order head, and reruns /
    engines agree exactly. The standard guard against one domain
    dominating a mixed corpus when proportional rates are not wanted.

    Scale shape: ONE hash exchange on the source key + a per-source
    rank window. A pathologically hot source concentrates its
    partition (the window must order that source's rows); if a
    deployment's largest domain exceeds a task's comfort, the
    histogram-threshold machinery (token_budget_select's shape, keyed
    per source) is the drop-in replacement -- for ordinary domain
    distributions the single window is the cheaper plan."""
    key = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    w = Window.partitionBy(source_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_source)
        .drop("_rn")
    )


def source_quota_sample_hot(
    df: DataFrame,
    max_per_source: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """source_quota_sample's HOT-SOURCE fallback: the identical kept
    set (same key order, same quota), computed without ever sorting a
    whole source in one task. The md5 key's HIGH bits define
    `n_buckets` ordered histogram buckets; per-(source, bucket)
    counts roll up to a per-source cumulative (a window over the
    BUCKET-AGGREGATED frame -- at most n_buckets rows per source, so
    the per-source partition is bounded regardless of how hot the
    source is), and each row keeps iff its bucket's preceding
    cumulative plus its rank WITHIN the bucket fits the quota.
    Within-bucket ranks partition by (source, bucket), spreading a
    pathologically hot source over n_buckets tasks.

    Result-identical to source_quota_sample wherever both apply
    (bucket-major order IS key order: buckets are the key's leading
    bits), pinned by the shared oracle; use this form when one
    domain's row count exceeds a task's comfort, the single-window
    form for ordinary distributions (one exchange vs two)."""
    step = (1 << 60) // int(n_buckets)  # md5-15-hex keys are < 2^60
    key = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    # Integer `div`, NOT float division: a double rounds 60-bit keys
    # (>2^53), so keys within ~128 of a bucket boundary could land in
    # the wrong bucket and break the documented result-identity with
    # source_quota_sample (same >2^53 hazard hash_embed documents).
    with_key = df.withColumn("_key", key).withColumn(
        "_bkt", F.expr(f"_key div {step}")
    )
    stats = (
        with_key.groupBy(source_col, "_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_prev_cum",
            F.coalesce(
                F.sum("_n").over(
                    Window.partitionBy(source_col)
                    .orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("_prev_cum") < max_per_source)  # prune full-past buckets
        .select(source_col, "_bkt", "_prev_cum")
    )
    wb = Window.partitionBy(source_col, "_bkt").orderBy(
        F.col("_key").asc(), F.col(id_col).asc()
    )
    return (
        with_key.join(stats, [source_col, "_bkt"])
        .withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_prev_cum") + F.col("_rn") <= max_per_source)
        .drop("_key", "_bkt", "_prev_cum", "_rn")
    )


# -- stratified evaluation holdout -----------------------------------


def stratified_holdout(
    df: DataFrame,
    eval_frac: float,
    strata_cols: tuple[str, ...] = ("source", "lang"),
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """EXACT stratified eval/train split: every (source, lang) stratum
    contributes floor(eval_frac * n_stratum) documents to the eval
    set, chosen deterministically by the seeded md5-of-id order. The
    held-out set a training run evaluates on must mirror the corpus
    mixture -- a global hash-gate only hits the target fraction in
    expectation and drifts per stratum on small strata; this form is
    exact per stratum by construction, and replays / engines agree
    bit-for-bit. Complements `leakage_free_split` (which
    DECONTAMINATES a given split against near-dup leakage); compose
    as stratified_holdout -> leakage_free_split for a production
    eval set.

    `eval_frac` is quantized to basis points (1/10000): the per-
    stratum eval count is floor(n * bp / 10000) computed in pure
    INTEGER arithmetic, so engines and replays agree exactly (a
    double `frac * n` rounds differently between binary doubles and
    decimal engines near integer boundaries -- the repo-wide
    integer-sums rule).

    Scale shape: ONE hash exchange on the strata key serves both
    window functions (the md5-order rank and the stratum size --
    same partitioning, so the second window adds no exchange). A
    pathologically hot stratum concentrates its rank partition; the
    histogram-threshold machinery (`source_quota_sample_hot`'s
    shape, thresholding at floor(frac*n) instead of a constant) is
    the drop-in for that regime -- for ordinary corpus mixtures the
    single window is the cheaper plan.

    Returns the input columns plus `split` ('eval' | 'train')."""
    bp = int(round(float(eval_frac) * 10000))
    if not (0 <= bp <= 10000):
        raise ValueError(f"eval_frac must be in [0, 1], got {eval_frac}")
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    part = [F.col(c) for c in strata_cols]
    w_rank = Window.partitionBy(*part).orderBy(key.asc(), F.col(id_col).asc())
    w_all = Window.partitionBy(*part)
    return (
        df.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "split",
            F.when(
                F.col("_rn") <= F.expr(f"(_n * {bp}) div 10000"), F.lit("eval")
            ).otherwise(F.lit("train")),
        )
        .drop("_rn", "_n")
    )


# -- tokenizer-training support: BPE merge statistics ----------------


def bpe_merge_stats(df: DataFrame, top_n: int = 50, text_col: str = "text") -> DataFrame:
    """Adjacent-symbol pair frequencies over the character-level word
    corpus -- the statistic the FIRST merge step of BPE tokenizer
    training maximizes (Sennrich et al. 2016: repeatedly merge the
    most frequent adjacent pair). A tokenizer-training pipeline at
    corpus scale runs exactly this aggregation per merge round; the
    top-1 row IS the first merge, and the top-N table seeds the merge
    queue. Counts weight by occurrence (every word occurrence
    contributes its pairs), ties broken (lhs, rhs) ascending.
    Returns (lhs, rhs, pair_count).

    Scale shape: word explode and per-word pair generation are
    per-row projections; the only shuffle is the (lhs, rhs) count's
    partial+final agg -- bounded by symbol-pair cardinality (~|charset|^2),
    tiny regardless of corpus size -- followed by a
    TakeOrderedAndProject top-N. Single-character words contribute
    nothing."""
    tok = df.select(F.explode(tokens_col(text_col)).alias("w")).filter(
        (F.col("w") != "") & (F.length("w") >= 2)
    )
    idx = F.sequence(F.lit(1), F.length("w") - 1)
    prs = F.transform(
        idx,
        lambda i: F.struct(
            F.col("w").substr(i.cast("int"), F.lit(1)).alias("l"),
            F.col("w").substr((i + 1).cast("int"), F.lit(1)).alias("r"),
        ),
    )
    return (
        tok.select(F.explode(prs).alias("p"))
        .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
        .limit(top_n)
    )


def bpe_train(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """The learned merge TABLE (rank, lhs, rhs, merged, pair_count)
    from `n_merges` rounds of iterative BPE training -- see _bpe_loop
    for the algorithm and its scale shape; bpe_encode applies the
    result to the corpus."""
    return _bpe_loop(df, n_merges, text_col)[0]


def bpe_encode(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """ENCODE the corpus with the learned BPE -- the downstream half
    of bpe_train (training learns merges.txt; encoding applies it to
    every document): per document, the word count, character mass,
    token count under the n_merges-merge learned tokenizer, and the
    chars-per-token fertility in integer basis points (floor; the
    bpe_fertility_bp convention -- higher = better compression).
    The table a tokenizer evaluation reads: fertility under the
    LEARNED tokenizer vs the fixed regex proxy (bpe_ish_token_counts)
    is the measured value of training merges on one's own corpus.

    Scale shape: encoding is a VOCABULARY join, not a per-document
    re-segmentation -- a word's encoding depends only on the word, so
    the trained symbol table (vocabulary-sized) joins onto the
    exploded corpus tokens by word and a per-doc aggregation sums
    piece counts; the training loop itself never touches the corpus
    after the one word-count pass (see bpe_train)."""
    _, syms = _bpe_loop(df, n_merges, text_col)
    vocab = syms.select("w", F.size("s").cast("long").alias("n_pieces"))
    return bpe_encode_with_vocab(df, vocab, text_col)


def bpe_encode_with_vocab(
    df: DataFrame, vocab: DataFrame, text_col: str = "text"
) -> DataFrame:
    """bpe_encode's corpus half against an ALREADY-TRAINED symbol
    table: `vocab` is (w, n_pieces) -- the per-word piece count the
    trained tokenizer produces, i.e. exactly what a stored merges.txt
    artifact determines for each vocabulary word. This is the
    production split (train once at ingest cadence, encode per run):
    the suite's bpe_train/bpe_encode entries probe a per-sf stored
    vocab parquet instead of re-running the 8-round training DAG
    twice per pass (ADVICE r11), with the cold train cost benched
    separately as `bpe_train_build`. Parquet stores (string, long)
    exactly, so the stored-vocab path is value-identical to the
    inline training (oracles replay the training either way).

    Scale shape: one corpus token explode joined to the
    vocabulary-sized table on `w` (no hint -- vocabulary can outgrow
    a broadcast at corpus scale; AQE still elects broadcast when the
    vocab measures small), then one per-doc aggregation."""
    tok = df.select(
        "doc_id", F.explode(tokens_col(text_col)).alias("w")
    ).filter(F.col("w") != "")
    return (
        tok.join(vocab.select("w", F.col("n_pieces").alias("_wp")), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("_wp").cast("long").alias("n_bpe_learned"),
        )
        .withColumn(
            "fertility_bp",
            F.expr("n_chars * 10000 div n_bpe_learned").cast("long"),
        )
    )


def _bpe_loop(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016) -- the
    full algorithm bpe_merge_stats is one round of: start from the
    character-level word corpus, and n_merges times (1) count
    adjacent-symbol pairs weighted by word frequency, (2) take the
    most frequent pair (ties (left, right) ascending), (3) apply the
    merge LEFT-GREEDILY to every word. Returns the learned merge
    table (rank, left, right, merged, pair_count) -- the artifact a
    tokenizer ships (HF tokenizers' merges.txt).

    Scale shape -- the real trainers' shape (HF/SentencePiece count
    words first): ONE corpus-scale pass builds the (word, count)
    table; every iteration after that runs on the VOCABULARY-sized
    symbol frame (pairs agg is symbol-pair bounded; the argmax is a
    1-row TakeOrderedAndProject broadcast back -- no driver loop, no
    collect; the merge application is one explode + windows per
    word). At 100 TB the word count is the only pass that sees every
    row, and in practice trains on a sample anyway.

    Left-greedy overlap semantics, engine-exact: a merge (a, b) can
    self-overlap only when a == b (runs of the same symbol), where
    greedy keeps every OTHER match from each run's start -- computed
    set-wise via gaps-and-islands (consecutive matched positions form
    a run; select even offsets), identical windows on both engines.
    Every iteration's symbol frame is lazily checkpointed: the plan
    would otherwise deepen by ~6 windowed stages per merge."""
    words = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    syms = words.select(
        "w", "wc", F.filter(F.split(F.col("w"), ""), lambda c: c != "").alias("s")
    ).localCheckpoint(eager=False)
    wpos = Window.partitionBy("w").orderBy("pos")
    merge_rows: DataFrame | None = None
    for rank in range(1, n_merges + 1):
        pairs = syms.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("s"), 1, F.greatest(F.size("s") - 1, F.lit(0))),
                    F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "wc",
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("wc").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .select(
                F.lit(rank).cast("int").alias("rank"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                "pair_count",
            )
            .localCheckpoint(eager=False)
        )
        if top.isEmpty():
            # Adjacent pairs can run dry before n_merges (all
            # single-symbol words, or a tiny vocabulary fully merged).
            # Without this guard the empty argmax crossJoin collapses
            # `syms` to an empty frame, so bpe_encode's vocabulary
            # join silently drops the whole corpus -- and the unrolled
            # SQL replay collapses identically, so oracle parity
            # cannot catch it. Stop at the last valid state instead:
            # the merge table simply carries < n_merges rows (an empty
            # frame with the contract schema if round 1 is already
            # dry). isEmpty() materializes the lazy checkpoint that
            # the downstream stages would have materialized anyway.
            if merge_rows is None:
                merge_rows = top
            break
        merge_rows = top if merge_rows is None else merge_rows.unionByName(top)
        # apply the merge: position rows + match flags, islands of
        # consecutive matches (only possible when lhs == rhs),
        # greedy = even offsets within each island
        e = (
            syms.crossJoin(F.broadcast(top.select("lhs", "rhs", "merged")))
            .select("w", "wc", "lhs", "rhs", "merged", F.posexplode("s").alias("pos", "sym"))
        )
        e = e.withColumn(
            "m",
            F.coalesce(
                (F.col("sym") == F.col("lhs"))
                & (F.lead("sym", 1).over(wpos) == F.col("rhs")),
                F.lit(False),
            ),
        )
        wrun = Window.partitionBy("w", "m").orderBy("pos")
        e = e.withColumn(
            "run", F.when(F.col("m"), F.col("pos") - F.row_number().over(wrun))
        )
        wisl = Window.partitionBy("w", "run")
        e = e.withColumn(
            "sel",
            F.when(
                F.col("m"),
                ((F.col("pos") - F.min("pos").over(wisl)) % 2) == 0,
            ).otherwise(F.lit(False)),
        )
        e = e.withColumn(
            "osym",
            F.when(F.col("sel"), F.col("merged")).otherwise(F.col("sym")),
        ).withColumn("skip", F.coalesce(F.lag("sel", 1).over(wpos), F.lit(False)))
        syms = (
            e.filter(~F.col("skip"))
            .groupBy("w", "wc")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "osym"))),
                    lambda st: st["osym"],
                ).alias("s")
            )
            .localCheckpoint(eager=False)
        )
    return merge_rows, syms


# -- unigram language-model scoring ----------------------------------


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-unigram log-probability per document -- the cheap stand-in
    for the LM-perplexity quality filter (CCNet-style: documents whose
    token distribution diverges from the corpus score low and get
    filtered or bucketed). Score = mean over tokens of
    ln(corpus_count(token) / corpus_total); higher (less negative) =
    more typical text.

    Scale shape: one token explode + groupBy(token) builds the unigram
    table (partial+final agg over the corpus -- the same exchange
    vocab_top_words pays); the per-doc pass re-explodes tokens and
    joins the frequency table ON TOKEN, reusing the count's hash
    partitioning, then one groupBy(doc_id) averages. Three exchanges
    total, all linear; no N^2 anywhere. The unigram table itself is
    vocabulary-sized -- if a deployment's vocab measures broadcast-small
    at runtime, AQE takes the broadcast automatically (the safe
    direction, exactly the TF-IDF policy)."""
    toks = df.select("doc_id", F.explode(tokens_col(text_col)).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_t"))
    scored = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (F.log(F.col("cnt") / F.col("_t"))).alias("_lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored_tokens"),
        F.round(F.avg("_lp"), 4).alias("avg_token_logprob"),
    )


def bigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-bigram CONDITIONAL log-probability per document -- one
    order up from unigram_logprob and one step closer to the CCNet
    LM-perplexity filter: score = mean over bigram positions of
    ln(count(w1,w2) / count(w1 as context)), i.e. mean ln P(w2|w1)
    under the corpus MLE bigram model. Repetitive/boilerplate text
    scores HIGH (its transitions are corpus-typical); incoherent
    token salad scores low -- used together with unigram_logprob the
    pair separates 'unusual vocabulary' from 'unusual transitions'.

    Scale shape: the per-row bigram explode is scanned ONCE and both
    counts attach as COUNT windows over it -- count(*) over (w1, w2)
    then count(*) over (w1) -- so the plan is three hash exchanges of
    the gram stream (two window partitionings + the doc_id average)
    with no joins and no second scan. The former formulation derived
    (w1,w2)/w1 count TABLES from the stream and joined them back:
    three scans of the gram source plus two joins whose broadcast
    flipped to shuffle once the replica-grown vocabulary crossed the
    AQE threshold -- the r6 10x-table worst (3.61x for 10x data);
    the window form measured 3.18 s -> 0.94 s at 10x sf0.1 (ratio
    1.3, SCALE.md). Both windows are unordered partition aggregates;
    a skewed context word (stopwords) concentrates its partition the
    same way the former groupBy did -- operators/skew.py salting
    applies if a deployment's token distribution needs it."""
    tk = tokens_col(text_col)
    base = df.select("doc_id", tk.alias("_tk")).filter(F.size("_tk") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_tk") - 1),
        lambda i: F.struct(
            F.element_at("_tk", i).alias("w1"),
            F.element_at("_tk", i + 1).alias("w2"),
        ),
    )
    b = (
        base.select("doc_id", F.explode(pairs).alias("_p"))
        .select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    scored = b.withColumn(
        "_cb", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
    ).withColumn("_cc", F.count(F.lit(1)).over(Window.partitionBy("w1")))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored_bigrams"),
        F.round(F.avg(F.log(F.col("_cb") / F.col("_cc"))), 4).alias(
            "avg_bigram_logprob"
        ),
    )


#: Interpolation weight on the bigram term of interp_logprob -- a
#: literal so the oracle mirrors it; 0.7/0.3 is the classic Jelinek-
#: Mercer two-gram setting.
INTERP_LAMBDA = 0.7


def interp_logprob(
    df: DataFrame, text_col: str = "text", carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Jelinek-Mercer INTERPOLATED bigram log-probability per document
    -- the deployable form of the CCNet-style LM quality filter:
    score = mean over bigram positions of
    ln(lambda * P(w2|w1) + (1-lambda) * P(w2)), with both terms MLE
    over the corpus bigram stream (P(w2) = count of w2 as a
    continuation / total bigrams). Pure-bigram scoring
    (bigram_logprob) assigns ln(1) to every SINGLETON transition --
    a doc of entirely novel-but-plausible text scores artificially
    high and an unseen transition would be -inf under a held-out
    model; interpolation backs every position off to the
    continuation unigram, which is how production perplexity filters
    actually smooth. Returns (doc_id, n_scored_bigrams,
    avg_interp_logprob).

    Scale shape: the bigram stream is exploded once and scored with
    THREE count windows over it -- (w1,w2), (w1), (w2) -- plus ONE
    scalar total attached as a broadcast crossJoin (a global count
    window would funnel the stream through a single partition; the
    scalar agg is map-side combined). No joins against derived count
    tables, no second shuffle of the stream beyond the window
    partitionings -- the same count-window shape whose rewrite took
    bigram_logprob from 3.61x to 1.3x at 10x (SCALE.md).

    `carry_cols` rides extra per-document columns (e.g. lang) through
    the bigram stream into the output -- one narrow string per bigram
    row, cheaper than the doc_id-keyed join-back a downstream
    consumer would otherwise pay to recover them."""
    tk = tokens_col(text_col)
    base = df.select("doc_id", *carry_cols, tk.alias("_tk")).filter(
        F.size("_tk") >= 2
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_tk") - 1),
        lambda i: F.struct(
            F.element_at("_tk", i).alias("w1"),
            F.element_at("_tk", i + 1).alias("w2"),
        ),
    )
    b = (
        base.select("doc_id", *carry_cols, F.explode(pairs).alias("_p"))
        .select(
            "doc_id",
            *carry_cols,
            F.col("_p.w1").alias("w1"),
            F.col("_p.w2").alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    tot = b.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    lam = F.lit(float(INTERP_LAMBDA))
    scored = (
        b.crossJoin(F.broadcast(tot))
        .withColumn("_cb", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2")))
        .withColumn("_cc", F.count(F.lit(1)).over(Window.partitionBy("w1")))
        .withColumn("_cw", F.count(F.lit(1)).over(Window.partitionBy("w2")))
    )
    p = lam * (F.col("_cb") / F.col("_cc")) + (F.lit(1.0) - lam) * (
        F.col("_cw") / F.col("_n")
    )
    return scored.groupBy("doc_id", *carry_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_scored_bigrams"),
        F.round(F.avg(F.log(p)), 4).alias("avg_interp_logprob"),
    )


def length_buckets(
    df: DataFrame, bucket_width: int = 64, text_col: str = "text"
) -> DataFrame:
    """Length-bucketed batching plan -- the PADDED-batching
    alternative to sequence packing (dynamic batching by length
    bucket, the standard fine-tuning/inference layout): documents
    group into fixed-width token-length buckets, and each bucket
    reports its document count, token mass, and the padding waste a
    batch padded to the bucket ceiling would pay. Next to
    packing_efficiency this quantifies the packed-vs-padded tradeoff
    per corpus -- the number a training job compares before choosing
    a layout. Returns (bucket, ceiling, docs, tokens, pad_tokens,
    pad_frac), empty docs landing in bucket 0.

    Scale shape: a per-row bucket projection + ONE bounded
    aggregation (buckets = max_len / width); pad_frac is an
    integer-sum division (engine-exact)."""
    n = F.size(tokens_col(text_col))
    b = F.floor((n - 1) / bucket_width).cast("long")
    bucket = F.greatest(b, F.lit(0))
    per = (
        df.select(n.alias("_n"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("_n").cast("long").alias("tokens"),
        )
        .withColumn("ceiling", (F.col("bucket") + 1) * bucket_width)
        .withColumn(
            "pad_tokens", (F.col("docs") * F.col("ceiling") - F.col("tokens")).cast("long")
        )
        .withColumn(
            "pad_frac",
            F.round(F.col("pad_tokens") / (F.col("docs") * F.col("ceiling") * 1.0), 4),
        )
    )
    return per.select("bucket", "ceiling", "docs", "tokens", "pad_tokens", "pad_frac")


def corpus_diversity(df: DataFrame, top_v: int = 1000, text_col: str = "text") -> DataFrame:
    """One-row corpus-diversity diagnostic: distinct-n ratios
    (|distinct n-grams| / |n-grams|, n = 1,2,3 -- the distinct-n
    metric of Li et al. 2016, low values flag template/boilerplate
    corpora) and the Zipf rank-frequency slope fit over the top-V
    vocabulary (natural text sits near -1; a flat or cliff-shaped
    slope flags synthetic or truncated token distributions). The
    statistical sibling of corpus_card: card reports mass and gate
    rates, this reports distributional health.

    Scale shape: per-n gram counts are two-level aggregations over
    per-row gram streams (map-side combined; nothing corpus-keyed
    beyond the gram groupBys); the Zipf fit is a top-V
    orderBy+limit (TakeOrderedAndProject, never a global sort of the
    vocab) followed by a window + regression aggregate over the
    BOUNDED top-V frame. Distinct ratios are integer-sum divisions
    (engine-exact); the slope is a closed-form least squares over
    <= top_v log pairs."""
    tk = tokens_col(text_col)
    base = df.select(tk.alias("_tk"))
    stats = []
    for n in (1, 2, 3):
        if n == 1:
            grams = F.explode(F.filter(F.col("_tk"), lambda t: t != "")).alias("g")
        else:
            grams = F.explode(
                F.when(
                    F.size("_tk") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_tk") - (n - 1)),
                        lambda i: F.array_join(F.slice(F.col("_tk"), i, n), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g")
        per = (
            base.select(grams)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.sum("_c").cast("long").alias(f"total_{n}"),
                F.count(F.lit(1)).cast("long").alias(f"distinct_{n}"),
            )
        )
        stats.append(per)
    uni = (
        base.select(F.explode(F.filter(F.col("_tk"), lambda t: t != "")).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("g"))
        .limit(top_v)
    )
    ranked = uni.withColumn(
        "_r",
        F.row_number().over(Window.orderBy(F.col("_c").desc(), F.col("g"))),
    ).select(F.log("_r").alias("_x"), F.log("_c").alias("_y"))
    # a single-rank vocabulary has zero variance in log-rank: the
    # slope is undefined (NULL), not an error
    slope = ranked.agg(
        F.try_divide(
            F.avg(F.col("_x") * F.col("_y")) - F.avg("_x") * F.avg("_y"),
            F.nullif(
                F.avg(F.col("_x") * F.col("_x")) - F.avg("_x") * F.avg("_x"),
                F.lit(0.0),
            ),
        ).alias("_s"),
        F.count(F.lit(1)).cast("long").alias("fit_vocab"),
    )
    out = stats[0].crossJoin(F.broadcast(stats[1])).crossJoin(F.broadcast(stats[2])).crossJoin(
        F.broadcast(slope)
    )
    return out.select(
        F.col("total_1").alias("total_tokens"),
        F.col("distinct_1").alias("vocab_size"),
        F.round(F.col("distinct_1") / F.col("total_1"), 4).alias("distinct_1"),
        F.round(F.col("distinct_2") / F.col("total_2"), 4).alias("distinct_2"),
        F.round(F.col("distinct_3") / F.col("total_3"), 4).alias("distinct_3"),
        F.round("_s", 4).alias("zipf_slope"),
        "fit_vocab",
    )


def corpus_drift(
    df: DataFrame,
    snapshot_col: str = "snapshot",
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Inter-snapshot vocabulary DRIFT report: for two corpus
    snapshots (``snapshot_col`` = 0 for the old cut, 1 for the new),
    the top_k tokens whose share of the total token mass moved the
    most, with both shares in integer basis points. The monitoring
    table a data team reads before re-training on a refreshed corpus:
    a large drift on content words flags a topical shift in the
    crawl, drift on markup/punctuation tokens flags an extraction
    regression upstream (the "distribution shift between dataset
    versions" check of continual-pretraining analyses, e.g.
    Gururangan et al. 2020's domain-relevance diagnostics). The
    reference has no corpus-versioning surface; this extends the
    observability family (corpus_card / corpus_diversity) to the
    TIME axis.

    Shares are floor(count * 10000 / snapshot_total) computed with
    integer `div` -- the whole report stays in the engine-exact
    integer domain; readers divide by 10000. drift_bp =
    share_new_bp - share_old_bp (positive = token gained mass).

    Scale shape: ONE explode + ONE token-keyed aggregation computes
    both snapshots' counts (map-side combined -- the two snapshots
    share the pass, not two corpus scans); snapshot totals are a
    two-row aggregate of the token-count frame broadcast back; the
    report is an orderBy+limit over the vocab-sized frame
    (TakeOrderedAndProject, never a global sort of the corpus)."""
    snap = F.col(snapshot_col).cast("long")
    # Contract: exactly two snapshots, 0 and 1. Rows outside that
    # domain are EXCLUDED before the explode -- previously their
    # tokens still flowed through with both counts 0, padding top_k
    # slots with drift_bp=0 rows (ADVICE r10).
    tok = df.filter(snap.isin(0, 1)).select(
        snap.alias("_s"),
        F.explode(F.filter(tokens_col(text_col), lambda t: t != "")).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("_s") == 0, 1).otherwise(0)).cast("long").alias("count_old"),
        F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).cast("long").alias("count_new"),
    )
    totals = counts.agg(
        F.greatest(F.sum("count_old"), F.lit(1).cast("long")).alias("_tot_old"),
        F.greatest(F.sum("count_new"), F.lit(1).cast("long")).alias("_tot_new"),
    )
    shared = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        "count_old",
        "count_new",
        F.expr("count_old * 10000 div _tot_old").cast("long").alias("share_old_bp"),
        F.expr("count_new * 10000 div _tot_new").cast("long").alias("share_new_bp"),
    )
    return (
        shared.withColumn(
            "drift_bp", (F.col("share_new_bp") - F.col("share_old_bp")).cast("long")
        )
        .orderBy(F.abs(F.col("drift_bp")).desc(), F.col("token"))
        .limit(top_k)
    )


def mixture_waterfill(
    counts: DataFrame,
    budget: int,
    cap_col: str = "capacity",
    weight_col: str = "weight",
    source_col: str = "source",
) -> DataFrame:
    """Token-budget allocation across sources under AVAILABILITY
    constraints -- the waterfilling step of corpus mixing: target
    weights say how a budget SHOULD split, capacities say how much
    each source HAS; a source that cannot fill its share saturates
    and its unmet share redistributes over the rest in weight
    proportion (allocation a_s = min(cap_s, lambda * w_s) with one
    global lambda such that the budget is spent). temperature_mix
    computes target rates and clips at 100% -- this operator is the
    missing redistribution: what mixture is actually ACHIEVABLE
    (epochs-per-source planning, the Llama-style data-recipe table).
    Returns (source, capacity, weight, alloc, saturated); if total
    capacity <= budget, every source saturates and alloc = capacity.

    Closed form, no iteration: sort sources by cap/w ascending --
    saturation is prefix-closed in that order -- flag each prefix row
    whose ratio undercuts the lambda implied by saturating everything
    before it (a running-AND window enforces prefix closure), then
    one conditional aggregate yields the final lambda and unflagged
    sources allocate round(lambda * w). Integer inputs + single
    divisions keep both engines bit-identical.

    Scale shape: the frame is SOURCES-sized (bounded by the catalog),
    so the sort window and the broadcast scalar are trivially cheap
    at any corpus scale; capacities come from one map-side-combined
    corpus aggregation upstream."""
    w = Window.orderBy((F.col(cap_col) / F.col(weight_col)).asc(), F.col(source_col))
    cum = counts.select(
        source_col,
        cap_col,
        weight_col,
        F.sum(cap_col).over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("_pc"),
        F.sum(weight_col).over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("_pw"),
    )
    tot = counts.agg(
        F.sum(cap_col).cast("double").alias("_tc"),
        F.sum(weight_col).cast("double").alias("_tw"),
    )
    lam_before = (F.lit(float(budget)) - F.coalesce(F.col("_pc"), F.lit(0))) / (
        F.col("_tw") - F.coalesce(F.col("_pw"), F.lit(0))
    )
    flagged = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("_flag", (F.col(cap_col) / F.col(weight_col)) < lam_before)
        .withColumn(
            "saturated",
            F.min(F.col("_flag").cast("int"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("boolean"),
        )
    )
    sat = flagged.agg(
        F.coalesce(F.sum(F.when(F.col("saturated"), F.col(cap_col))), F.lit(0))
        .cast("double")
        .alias("_sc"),
        F.coalesce(F.sum(F.when(F.col("saturated"), F.col(weight_col))), F.lit(0))
        .cast("double")
        .alias("_sw"),
    )
    lam = (F.lit(float(budget)) - F.col("_sc")) / F.greatest(
        F.col("_tw") - F.col("_sw"), F.lit(1e-12)
    )
    return (
        flagged.crossJoin(F.broadcast(sat))
        .select(
            source_col,
            F.col(cap_col).cast("long").alias("capacity"),
            F.col(weight_col).cast("long").alias("weight"),
            F.when(F.col("saturated"), F.col(cap_col))
            .otherwise(F.least(F.col(cap_col), F.round(lam * F.col(weight_col))))
            .cast("long")
            .alias("alloc"),
            "saturated",
        )
    )


def unimax_allocation(
    counts: DataFrame,
    budget: int,
    max_epochs: int = 4,
    cap_col: str = "capacity",
    source_col: str = "source",
) -> DataFrame:
    """UniMax sampling (Chung et al. 2023, "UniMax: Fairer and More
    Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): split the budget as UNIFORMLY as possible across
    sources/languages, cap every source at ``max_epochs`` passes over
    its corpus, and redistribute the capped surplus over the rest.
    That is EXACTLY the verified waterfilling run on epoch-capped
    capacities (capacity' = max_epochs * capacity) with uniform
    weights -- so this composes mixture_waterfill (one projection in,
    one join out) instead of reimplementing the fill; any weight
    column on the input is deliberately ignored (uniformity is the
    paper's point). Returns (source, capacity, alloc, epochs_bp,
    saturated): epochs_bp = floor(alloc * 10000 / capacity) is the
    per-source repetition factor epoch_expand materializes; a
    saturated source sits exactly at max_epochs * 10000 bp.

    Scale shape: sources-sized frames end to end (waterfill's shape);
    the raw-capacity join broadcasts."""
    if max_epochs < 1:
        raise ValueError("unimax_allocation: max_epochs must be >= 1")
    raw = counts.select(
        source_col, F.col(cap_col).cast("long").alias("_raw")
    )
    capped = raw.select(
        source_col,
        (F.col("_raw") * max_epochs).alias(cap_col),
        F.lit(1).cast("long").alias("weight"),
    )
    filled = mixture_waterfill(capped, budget, cap_col=cap_col, source_col=source_col)
    return filled.join(F.broadcast(raw), source_col).select(
        source_col,
        F.col("_raw").alias("capacity"),
        "alloc",
        F.expr("alloc * 10000 div greatest(_raw, 1)").cast("long").alias("epochs_bp"),
        "saturated",
    )


def epoch_plan(
    counts: DataFrame,
    budget: int,
    max_epochs: int = 4,
    decay_bp: int = 5000,
    cap_col: str = "capacity",
    weight_col: str = "weight",
    source_col: str = "source",
) -> DataFrame:
    """Data-constrained epoch planning ("Scaling Data-Constrained
    Language Models", Muennighoff et al. 2023, arXiv:2305.16264):
    when the token budget exceeds what one pass over the corpus
    supplies, sources are REPEATED -- but repeated epochs are worth
    less than fresh ones (the paper measures returns decaying toward
    zero around 4 epochs, hence the max_epochs default). The plan:
    treat each (source, epoch<=max_epochs) as a unit of cap_s tokens
    with marginal utility w_s * (decay_bp/10000)^(epoch-1) and fill
    the budget greedily by utility -- first epochs of everything
    before second epochs of anything, weighted. Returns per source
    (capacity, weight, tokens_served, epochs_bp) with epochs in basis
    points of a full pass (25000 = 2.5 epochs). mixture_waterfill is
    the single-pass (epoch<=1) allocator; this is its repetition
    extension.

    Engine-exact by integer ordering keys: utility fractions
    w*decay^(e-1)/10000^(e-1) are compared at the common denominator
    10000^(max_epochs-1), i.e. key = w * decay_bp^(e-1) *
    10000^(max_epochs-e) -- products of exact small-integer powers,
    identical BIGINTs in both engines (no float comparisons); ties
    break on (source, epoch). Allocation is pure integer arithmetic
    (min/max against the cumulative fill); epochs_bp floors one exact
    division.

    Scale shape: the frame is sources x max_epochs rows (bounded by
    the catalog), so the single-partition utility sort is trivially
    cheap at any corpus scale; capacities come from one
    map-side-combined corpus aggregation upstream."""
    # Per-epoch utility factors decay_bp^(e-1) * 10000^(max_epochs-e)
    # as exact Python integers baked into the plan as BIGINT literals
    # -- NOT F.pow, whose double intermediate rounds above 2^53
    # (weight >~ 9000 at the defaults) and whose truncating long cast
    # diverges from DuckDB's rounding cast once inexact, silently
    # reordering the greedy fill.
    factors = {
        e: int(decay_bp) ** (e - 1) * 10000 ** (int(max_epochs) - e)
        for e in range(1, int(max_epochs) + 1)
    }
    if max(factors.values()) >= 1 << 62:
        raise ValueError(
            "epoch_plan: decay_bp/max_epochs produce a >62-bit utility "
            "factor; the BIGINT ordering key would overflow"
        )
    # Keys are weight * factor: exact while weight <= 2^63 / max factor
    # (~9.2e6 at the defaults' 1e12 factor). ENFORCED in-plan below,
    # not just documented: a larger weight would silently wrap the
    # BIGINT key and reorder the greedy fill -- the same bug class the
    # exact-literal factors exist to prevent.
    max_weight = ((1 << 63) - 1) // max(factors.values())
    units = counts.select(
        source_col,
        F.col(cap_col).cast("long").alias(cap_col),
        F.col(weight_col).cast("long").alias(weight_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(e).cast("long").alias("epoch"),
                        F.lit(factors[e]).cast("long").alias("_factor"),
                    )
                    for e in sorted(factors)
                ]
            )
        ).alias("_u"),
    ).select(source_col, cap_col, weight_col, "_u.epoch", "_u._factor")
    # The guard gates the multiplication itself (the when-condition
    # evaluates first, so the product never executes on an over-bound
    # weight): under Spark's ANSI default the raw overflow would raise
    # an opaque arithmeticOverflowError; this surfaces the actual
    # contract and the offending value instead
    key = F.when(
        F.col(weight_col) <= F.lit(max_weight),
        F.col(weight_col) * F.col("_factor"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "epoch_plan: weight exceeds the exact-BIGINT ordering-key "
                    f"bound {max_weight} for these decay_bp/max_epochs; got "
                ),
                F.col(weight_col).cast("string"),
            )
        ).cast("long")
    )
    w = Window.orderBy(F.col("_key").desc(), F.col(source_col), F.col("epoch"))
    filled = units.withColumn("_key", key).withColumn(
        "_pc",
        F.coalesce(
            F.sum(cap_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ),
    )
    alloc = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col(cap_col), F.lit(int(budget)) - F.col("_pc")),
    )
    return (
        filled.select(source_col, cap_col, weight_col, alloc.alias("_alloc"))
        .groupBy(source_col, cap_col, weight_col)
        .agg(F.sum("_alloc").cast("long").alias("tokens_served"))
        .select(
            source_col,
            cap_col,
            weight_col,
            "tokens_served",
            F.when(
                F.col(cap_col) > 0,
                F.floor(F.col("tokens_served") * 10000 / F.col(cap_col)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("epochs_bp"),
        )
    )


def epoch_expand(
    df: DataFrame,
    plan: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Materialize an ``epoch_plan`` into the physical repeated doc
    stream the pack/export stage consumes -- the ACTING sibling of the
    planner (epoch_plan computes per-source epochs_bp; this emits one
    row per (doc, copy) realizing them). Doc-level realization rule:
    every doc of a source gets ``epochs_bp // 10000`` full copies, and
    the fractional remainder selects ``epochs_bp % 10000`` basis
    points of the source's docs for one extra copy by the repo's
    consistent md5 hash (the consistent_sample idiom) -- deterministic
    across reruns and engines, and a source allocated less than one
    full pass degrades to exactly the consistent-hash budget gate.
    Doc-quantized like the greedy selection in corpus_curation_v3
    (token mass realizes the plan in expectation over docs;
    allocation_report measures the same quantization for the
    waterfill path).

    Scale shape: the plan is sources-sized and broadcast; copies
    derive map-side from the hash (no shuffle of the corpus); the
    explode multiplies rows by at most max_epochs. Output is
    (id, source, copy) -- downstream joins fetch payloads, so the
    repeated stream never carries text through the explode."""
    per_src = plan.select(
        source_col,
        F.floor(F.col("epochs_bp") / F.lit(10000)).cast("long").alias("_full"),
        (F.col("epochs_bp") % 10000).cast("long").alias("_frac_bp"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % 10000
    )
    copies = F.col("_full") + F.when(bucket < F.col("_frac_bp"), 1).otherwise(0)
    return (
        df.select(id_col, source_col)
        .join(F.broadcast(per_src), source_col)
        .withColumn("_copies", copies.cast("long"))
        # guard BEFORE sequence(): Spark's sequence(1, 0) infers a
        # NEGATIVE step and yields [1, 0] instead of an empty array
        .filter(F.col("_copies") >= 1)
        .select(
            id_col,
            source_col,
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("_copies"))).alias(
                "copy"
            ),
        )
    )


def denoising_spans(
    df: DataFrame,
    corruption_rate: float = 0.15,
    span_len: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """T5-style span-corruption PLAN (Raffel et al. 2020 §3.1.4: mask
    ~15% of tokens in ~3-token spans) in its deterministic fixed-span
    form: token positions tile into `span_len` blocks, and a block is
    selected for masking iff a hash of (doc_id, block) clears the
    corruption rate -- so the expected corrupted-token fraction is
    `corruption_rate`, replays and both engines select identical
    spans, and the artifact (doc_id, span_id, start, length) is what
    a denoising data loader consumes to build inputs/targets.
    (Production T5 samples span lengths; the fixed-length variant
    keeps the plan a pure projection and the oracle exact --
    documented, not hidden.) Final partial blocks are eligible and
    truncated. span_id numbers a doc's selected spans in order.

    Scale shape: one bound token array, one transform over the block
    index range, one explode -- per-row work only, ZERO shuffles."""
    rate_bp = int(round(corruption_rate * 10_000))
    tk = tokens_col(text_col)
    base = df.select("doc_id", tk.alias("_tk")).select(
        "doc_id", F.size("_tk").alias("_n")
    )
    n_blocks = F.ceil(F.col("_n") / span_len).cast("int")
    sel = _selected_span_blocks(n_blocks, rate_bp)
    spans = F.transform(
        sel,
        lambda b, i: F.struct(
            i.alias("span_id"),
            (b * span_len).cast("long").alias("start"),
            F.least(F.lit(span_len), F.col("_n") - b * span_len)
            .cast("long")
            .alias("length"),
        ),
    )
    return (
        base.filter(F.col("_n") > 0)
        .select("doc_id", F.col("_n").cast("long").alias("n_tokens"), F.explode(spans).alias("_s"))
        .select("doc_id", "n_tokens", "_s.span_id", "_s.start", "_s.length")
    )


def _doc_hash(tag: str) -> Column:
    """The repo's consistent md5 draw keyed by (tag, doc_id) -- one
    expression shared by every selection/cut-point consumer so sibling
    operators (fim_split / fim_render) stay consistent by construction,
    not by copy-paste."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(tag), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def _fim_cuts(n: Column, rate_bp: int) -> tuple[Column, Column, Column]:
    """(applied, lo, hi) for the FIM transformation over an n-token
    doc: md5 selection at rate_bp, two independent uniform md5 draws
    over [0, n] ordered lo <= hi. The ONE definition both the plan
    (fim_split) and the render (fim_render) build from."""
    applied = F.pmod(_doc_hash("fim"), F.lit(10_000)) < rate_bp
    c1 = F.pmod(_doc_hash("fimc1"), n + 1)
    c2 = F.pmod(_doc_hash("fimc2"), n + 1)
    return applied, F.least(c1, c2), F.greatest(c1, c2)


def fim_split(
    df: DataFrame,
    fim_rate: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Fill-in-the-middle transformation PLAN ("Efficient Training of
    Language Models to Fill in the Middle", Bavarian et al. 2022):
    with probability ``fim_rate`` a document is rearranged
    prefix/suffix/middle so the model learns infilling; the paper
    samples the two cut points uniformly over token positions. The
    deterministic form: a doc is selected iff its md5 bucket clears
    ``fim_rate`` (the denoising_spans selection idiom), and the two
    cut points are independent md5 draws over [0, n] with
    lo/hi ordering -- replays and both engines produce identical
    splits, zero-length prefix/middle/suffix segments are legitimate
    outcomes exactly as in the paper's uniform sampling. Unselected
    docs keep autoregressive order (prefix = the whole doc), so the
    output is one row per doc: the artifact a FIM data loader joins
    against the token stream to build PSM examples.

    Scale shape: pure per-row projections over one bound token count
    -- ZERO shuffles; the plan fuses into the corpus scan."""
    rate_bp = int(round(fim_rate * 10_000))
    tk = tokens_col(text_col)
    base = (
        df.select("doc_id", tk.alias("_tk"))
        .select("doc_id", F.size("_tk").cast("long").alias("_n"))
        .filter(F.col("_n") > 0)
    )
    applied, lo, hi = _fim_cuts(F.col("_n"), rate_bp)
    return base.select(
        "doc_id",
        F.col("_n").alias("n_tokens"),
        F.when(applied, 1).otherwise(0).cast("long").alias("fim_applied"),
        F.when(applied, lo).otherwise(F.col("_n")).cast("long").alias("prefix_len"),
        F.when(applied, hi - lo).otherwise(0).cast("long").alias("middle_len"),
        F.when(applied, F.col("_n") - hi).otherwise(0).cast("long").alias("suffix_len"),
    )


def _selected_span_blocks(n_blocks: Column, rate_bp: int) -> Column:
    """Ascending list of span-corruption block indices selected by the
    (doc_id, block) md5 draw at rate_bp -- the ONE selection both the
    plan (denoising_spans) and the render (denoise_render) build from,
    consistent by construction."""
    return F.filter(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda b: F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit("span"),
                            F.col("doc_id").cast("string"),
                            b.cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(10_000),
        )
        < rate_bp,
    )


def denoise_render(
    df: DataFrame,
    corruption_rate: float = 0.15,
    span_len: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The ACTING sibling of ``denoising_spans``: materialize the span
    plan into the T5 input/target pair (Raffel et al. 2020 §3.1.4) --
    the input keeps unselected tokens and replaces each selected span
    with its ``<extra_id_K>`` sentinel; the target is the
    concatenation of each sentinel followed by the tokens it masked.
    Same md5 block selection as the plan (identical hash expressions,
    so plan and render stay consistent by construction); K numbers a
    doc's selected spans in block order, matching the plan's span_id.

    Scale shape: pure higher-order-function projections over one
    bound token array (the selected-block list is projected ONCE and
    reused by both the input and target builds -- the HOF
    re-evaluation lesson from the verify notes applies to the
    expensive md5 filter, not the cheap slices) -- ZERO shuffles."""
    rate_bp = int(round(corruption_rate * 10_000))
    base = df.select("doc_id", tokens_col(text_col).alias("_tk")).filter(
        F.size("_tk") > 0
    )
    n = F.size("_tk")
    n_blocks = F.ceil(n / span_len).cast("int")
    sel = _selected_span_blocks(n_blocks, rate_bp)
    # bind the (cheap) selected-block list to a column so the md5
    # filter evaluates once per row, not once per downstream reference
    withsel = base.withColumn("_sel", sel)
    span_slice = lambda b: F.slice(  # noqa: E731 -- local plan builder
        F.col("_tk"),
        (b * span_len + 1).cast("int"),
        F.least(F.lit(span_len), F.size("_tk") - b * span_len).cast("int"),
    )
    sentinel = lambda k: F.concat(  # noqa: E731
        F.lit("<extra_id_"), k.cast("string"), F.lit(">")
    )
    input_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda b: F.when(
                F.array_contains(F.col("_sel"), b),
                F.array(sentinel(F.size(F.filter(F.col("_sel"), lambda x: x < b)))),
            ).otherwise(span_slice(b)),
        )
    )
    target_arr = F.flatten(
        F.transform(
            F.col("_sel"),
            lambda b, k: F.concat(F.array(sentinel(k)), span_slice(b)),
        )
    )
    return withsel.select(
        "doc_id",
        F.size("_sel").cast("long").alias("n_spans"),
        F.array_join(input_arr, " ").alias("input_text"),
        F.array_join(target_arr, " ").alias("target_text"),
    )


def fim_render(
    df: DataFrame,
    fim_rate: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """The ACTING sibling of ``fim_split``: materialize the planned
    PSM rearrangement (Bavarian et al. 2022 §2: prefix-suffix-middle
    with sentinel tokens) into the training-ready text each selected
    doc becomes -- ``<PRE> prefix <SUF> suffix <MID> middle`` over the
    plan's cut points, unselected docs passing through in
    autoregressive token order. Same md5 selection and cut draws as
    fim_split (the two stay consistent by construction: both derive
    from the identical hash expressions), assembled as one token-array
    concatenation + join, so the render is a pure per-row projection
    -- ZERO shuffles, fused into the corpus scan like the plan."""
    rate_bp = int(round(fim_rate * 10_000))
    base = df.select("doc_id", tokens_col(text_col).alias("_tk")).filter(
        F.size("_tk") > 0
    )
    n = F.size("_tk").cast("long")
    applied, lo, hi = _fim_cuts(n, rate_bp)
    # slice(arr, start, length) is 1-based; zero-length slices are
    # legitimate (empty segments, exactly as the paper's uniform cuts)
    prefix = F.slice(F.col("_tk"), F.lit(1), lo.cast("int"))
    middle = F.slice(F.col("_tk"), (lo + 1).cast("int"), (hi - lo).cast("int"))
    suffix = F.slice(F.col("_tk"), (hi + 1).cast("int"), (n - hi).cast("int"))
    psm = F.concat(
        F.array(F.lit("<PRE>")),
        prefix,
        F.array(F.lit("<SUF>")),
        suffix,
        F.array(F.lit("<MID>")),
        middle,
    )
    return base.select(
        "doc_id",
        F.when(applied, 1).otherwise(0).cast("long").alias("fim_applied"),
        F.array_join(F.when(applied, psm).otherwise(F.col("_tk")), " ").alias(
            "rendered"
        ),
    )


def corpus_card(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The dataset-card summary table ("Datasheets for Datasets",
    Gebru et al. 2021; every published corpus ships one): per
    (source, lang) -- document and token mass, mean quality signals,
    and the published-gate pass rates (C4 page gate, Gopher rule
    conjunction). The one-table overview a data lead reads before
    anything else; the curation funnel is its pipeline-stage
    counterpart.

    Scale shape: the fused curation_gates projection (one scan, zero
    shuffles) followed by ONE narrow (source, lang) aggregation with
    map-side combine -- group cardinality is sources x languages,
    bounded by the catalog, so the result is always a small frame.
    Every statistic is an INTEGER sum followed by one division --
    never avg() over doubles, whose partial-aggregation summation
    order differs between engines and flips the last rounded digit
    on half-way values (observed: quantized per-doc ratios make
    exact .xxxx5 means common)."""
    joined = curation_gates(df, carry_cols=("source", "lang"))
    docs = F.count(F.lit(1))
    alpha_bp = F.sum(F.round(F.col("alpha_ratio") * 10_000).cast("long"))
    return joined.groupBy("source", "lang").agg(
        docs.cast("long").alias("docs"),
        F.sum("n_words").cast("long").alias("tokens"),
        F.round(alpha_bp / (docs * 10_000.0), 4).alias("mean_alpha_ratio"),
        F.round(
            F.sum(F.col("gopher_pass").cast("long")) / docs.cast("double"), 4
        ).alias("gopher_pass_rate"),
        F.round(
            F.sum((~F.col("page_filtered")).cast("long")) / docs.cast("double"), 4
        ).alias("c4_page_pass_rate"),
    )


def inject_canaries(
    df: DataFrame, rate_bp: int = 100, text_col: str = "text"
) -> DataFrame:
    """Memorization-audit canary injection (the Secret Sharer
    protocol, Carlini et al. 2019, arXiv:1802.08232, as deployed in
    training-data pipelines): a deterministic hash-mod selection of
    `rate_bp` basis points of documents each get a unique synthetic
    canary token appended -- after training, prompting for the
    canaries measures verbatim memorization, and the registry of
    injected canaries is the ground truth the eval joins against.
    Returns the corpus with (text possibly extended, is_canary,
    canary), canary NULL on unselected docs. Deterministic: replays
    and both engines select identical docs and mint identical
    canaries (md5 of the doc_id).

    Scale shape: a pure per-row projection -- the selection is the
    consistent_sample hash-mod rule, the canary is one md5; ZERO
    shuffles. Detection's inverse is a regexp extract joined against
    the registry (see the canary_registry test round-trip)."""
    sel = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("canary"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10_000),
    ) < rate_bp
    canary = F.concat(F.lit("canary-"), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12))
    return df.withColumn("is_canary", sel).withColumn(
        "canary", F.when(sel, canary)
    ).withColumn(
        text_col,
        F.when(sel, F.concat(F.col(text_col), F.lit(" "), canary)).otherwise(
            F.col(text_col)
        ),
    )


#: DSIR's hashed-feature bucket count -- a power of two so the
#: bucket comes off the 60-bit hash with integer mask ops (the same
#: double-rounding hazard as hash_embed's sign bit).
DSIR_BUCKETS = 8192


def dsir_scores(
    corpus: DataFrame,
    target: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """DSIR -- Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw-corpus document by the
    log-likelihood ratio of a TARGET-domain hashed-unigram LM to the
    raw-corpus LM,

        score(d) = (1/|d|) * sum_t ln(p_target(b(t)) / p_raw(b(t))),

    b(t) the token's hash bucket and both LMs add-one smoothed over
    the bucket domain. High scores mark documents that look like the
    target domain -- the published cheap alternative to a trained
    domain classifier; downstream selection composes with the
    existing machinery (quantile_gate / token_budget_select /
    grouped_quantile_buckets over the score). Returns (doc_id,
    n_tokens, avg_logratio), docs with no tokens omitted.

    Scale shape: both LM count frames aggregate to at most
    `n_buckets` rows (map-side combined; the domain is fixed by
    construction), join into one ratio table and BROADCAST; the
    corpus explodes its token buckets once (per-row hash, never
    reshuffled) onto that broadcast and reduces with one doc_id
    aggregation -- the target corpus is scanned once, the raw corpus
    twice (its own LM + the scoring pass), nothing corpus-sized ever
    shuffles except the final per-doc combine."""
    from solana_data_etl_pipeline_spark.operators.dedup import _hash64

    if n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of two")

    def buckets(df: DataFrame) -> DataFrame:
        tk = tokens_col(text_col)
        b = df.select("doc_id", tk.alias("_tk")).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.filter(F.col("_tk"), lambda t: t != ""),
                    lambda t: F.pmod(_hash64(t), F.lit(n_buckets)).cast("int"),
                )
            ).alias("b"),
        )
        return b

    def lm(b: DataFrame, name: str) -> DataFrame:
        counts = b.groupBy("b").agg(F.count(F.lit(1)).alias("_c"))
        tot = counts.agg(F.sum("_c").alias("_n"))
        return counts.crossJoin(F.broadcast(tot)).select(
            "b",
            F.log(
                (F.col("_c") + 1) / (F.col("_n") + F.lit(float(n_buckets)))
            ).alias(name),
        )

    # the corpus bucket stream feeds TWO consumers (its own LM counts
    # and the scoring join) whose aggregations are keyed differently
    # (b vs doc_id), so no exchange is shared -- lazily checkpoint the
    # exploded (doc_id, b) rows so the tokenize+hash pass runs once
    # (r13, guide §2.4)
    cb = buckets(corpus).localCheckpoint(eager=False)
    # only corpus buckets ever score, so the raw side is never
    # missing; a bucket unseen in the TARGET carries its smoothed
    # floor ln(1 / (N_target + B)) via a broadcast scalar
    tt = buckets(target).agg(F.count(F.lit(1)).cast("double").alias("_tn"))
    ratio = (
        lm(cb, "_lr")
        .join(lm(buckets(target), "_lt"), "b", "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "b",
            (
                F.coalesce(
                    F.col("_lt"), F.log(1.0 / (F.col("_tn") + n_buckets))
                )
                - F.col("_lr")
            ).alias("_lr8"),
        )
    )
    return (
        cb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("_lr8"), 4).alias("avg_logratio"),
        )
    )


#: hash_embed's output dimensionality -- matches the embeddings
#: table's EMB_DIM so the encoder's output slots into every
#: embedding-side operator unchanged.
HASH_EMBED_DIM = 64


def hash_embed(df: DataFrame, dim: int = HASH_EMBED_DIM, text_col: str = "text") -> DataFrame:
    """Feature-hashing document encoder (signed hashing trick,
    Weinberger et al. 2009 -- HashingTF's signed form): every token
    hashes to a dimension and a sign, the document vector is the
    L2-normalized signed count histogram. A deterministic,
    model-free, engine-portable embedding -- the bridge that feeds
    the embedding-side operators (semdedup_keepers, knn_*, embedding
    near-dup, quantize) straight from the documents table when no
    learned encoder is deployed; output contract matches the
    embeddings table: (vec_id, embedding array<double>), vec_id =
    doc_id. Zero-norm documents (no tokens) come out as zero
    vectors.

    Scale shape: a pure per-row projection, ZERO shuffles and zero
    joins. Each token is md5-hashed ONCE into a bound (dim, sign)
    struct array (the HOF re-eval pitfall: hashing inside the
    accumulator lambda would re-run md5 `dim` times per token); the
    histogram accumulates via one aggregate whose step is a dim-wide
    zip_with -- O(tokens x dim) fused arithmetic in the scan, no
    exchange anywhere. `dim` must be a power of two: dimension and
    sign come off the 60-bit hash with mask/shift INTEGER ops -- a
    division path would round through doubles above 2^53 and break
    bit-parity with the integer-exact oracle."""
    if dim & (dim - 1):
        raise ValueError("dim must be a power of two")
    shift = dim.bit_length() - 1
    tk = tokens_col(text_col)
    base = df.select(F.col("doc_id").alias("vec_id"), tk.alias("_tk"))
    # each stage is ONE parsed SQL expression over the bound column
    # from the previous projection (the r13 plan-construction lesson,
    # guide §7.3: the DSL lambda form cost ~0.3 s of py4j round-trips
    # per call); trees are semantically identical to the DSL form.
    # md5 once per token; the (dim, sign) split re-reads the cheap
    # long, not the hash expression
    hashes = F.expr(
        "transform(filter(_tk, t -> t != ''), "
        "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
    )
    base = base.select("vec_id", hashes.alias("_hs"))
    feats = F.expr(
        f"transform(_hs, h -> named_struct("
        f"'d', cast(pmod(h, {dim}) as int), "
        f"'sgn', case when pmod(shiftright(h, {shift}), 2) = 0 "
        f"then 1.0D else -1.0D end))"
    )
    base = base.select("vec_id", feats.alias("_fs"))
    idxs = "array(" + ",".join(str(i) for i in range(dim)) + ")"
    raw = F.expr(
        f"aggregate(_fs, array_repeat(0.0D, {dim}), "
        f"(acc, s) -> zip_with(acc, {idxs}, "
        f"(v, i) -> v + case when i = s.d then s.sgn else 0.0D end))"
    )
    base = base.select("vec_id", raw.alias("_raw"))
    norm = F.expr("sqrt(aggregate(_raw, 0.0D, (acc, x) -> acc + x * x))")
    base = base.select("vec_id", "_raw", F.greatest(norm, F.lit(1e-12)).alias("_n"))
    return base.select(
        "vec_id",
        F.expr("transform(_raw, x -> x / _n)").alias("embedding"),
    )


def grouped_quantile_buckets(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    bounds: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple[str, ...] = ("tail", "middle", "head"),
    precision: int = 4,
) -> DataFrame:
    """CCNet-style per-group quantile bucketing: within each group
    (e.g. language), split documents into `labels` buckets by their
    score's position in the group's distribution -- the head/middle/
    tail perplexity partition CCNet feeds to its sampling stage
    (ascending score, so with score = log-probability the top bucket
    is the LOW-perplexity head). Ties share a rounded score and
    therefore a bucket -- deterministic, no row_number lottery.
    Returns the scored frame plus a `bucket` column; null scores get
    a null bucket (no measurable score, no quantile position), and a
    NULL group key is bucketed within its own group's distribution
    (null-safe join -- never the top bucket by join-miss).

    Scale shape: quantile_gate's histogram scheme made per-group --
    NOT a per-group percent_rank over raw rows (the whole group
    through one window task: the hot-source killer) and NOT
    percentile() (buffers every value in the agg). One narrow
    (group, rounded-score) histogram shuffle with map-side combine,
    cumulative windows over the BOUNDED histogram, a per-group
    threshold row, and a broadcast join back onto the un-reshuffled
    scored frame. The scored frame feeds BOTH the histogram and the
    output join, so it is lazily localCheckpoint'd -- without it the
    DAG re-derives the (potentially expensive) upstream scoring
    pipeline once per branch; the checkpoint is one narrow row per
    document, computed once at action time."""
    if len(labels) != len(bounds) + 1:
        raise ValueError("need exactly one more label than bounds")
    scored = scored.localCheckpoint(eager=False)
    v = F.round(F.col(score_col).cast("double"), precision)
    hist = (
        scored.select(F.col(group_col).alias("_g"), v.alias("_v"))
        .filter(F.col("_v").isNotNull())
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_total", F.sum("_c").over(Window.partitionBy("_g")))
        .withColumn("_frac", F.col("_cum") / F.col("_total"))
    )
    thresholds = cum.groupBy("_g").agg(
        *[
            F.min(F.when(F.col("_frac") >= q, F.col("_v"))).alias(f"_t{i}")
            for i, q in enumerate(bounds)
        ]
    )
    bucket = F.lit(labels[-1])
    for i in range(len(bounds) - 1, -1, -1):
        bucket = F.when(v <= F.col(f"_t{i}"), F.lit(labels[i])).otherwise(bucket)
    # eqNullSafe: a NULL group key is a group like any other (groupBy
    # keeps it as one), so its rows must reach their own thresholds
    # row -- a null-rejecting equi-join would miss, every `v <= _t`
    # would evaluate NULL->false, and non-null-score rows of the NULL
    # group would silently land in the top bucket. Every non-null
    # score's group has a thresholds row by construction (the score
    # itself entered the histogram), so the left join only misses on
    # rows whose bucket is already NULL via the score guard.
    return (
        scored.join(
            F.broadcast(thresholds), scored[group_col].eqNullSafe(F.col("_g")), "left"
        )
        .withColumn("bucket", F.when(v.isNotNull(), bucket))
        .drop("_g", *[f"_t{i}" for i in range(len(bounds))])
    )


# -- repetition-based quality signals --------------------------------


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array == the
    count of the most frequent element. One aggregate() pass with a
    (prev, run, best) struct accumulator -- O(n log n) per row for the
    sort, zero shuffles, vs the explode + groupBy(doc, term) + max
    formulation which would shuffle every token twice."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    high duplicate-word / top-n-gram fractions mark boilerplate and
    spam): per document, the fraction of word occurrences that are
    repeats, the most-frequent word's share, and the most-frequent
    bigram's share.

    Everything is computed per-row with higher-order functions over
    the token array (sort + longest-equal-run instead of a token
    explode), so the operator is a pure zero-shuffle projection that
    pipelines with the corpus scan at 100 TB."""
    tk = tokens_col(text_col)
    base = df.select("doc_id", tk.alias("_tk"))
    n = F.size("_tk")
    n_distinct = F.size(F.array_distinct("_tk"))
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.array_join(F.slice(F.col("_tk"), i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_word = _max_run(F.array_sort("_tk"))
    top_bigram = _max_run(F.array_sort(bigrams))
    n_bigrams = F.greatest(n - 1, F.lit(1))
    return base.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round((n - n_distinct) / F.greatest(n, F.lit(1)), 4).alias("dup_word_frac"),
        F.round(top_word / F.greatest(n, F.lit(1)), 4).alias("top_word_frac"),
        F.round(top_bigram / n_bigrams, 4).alias("top_bigram_frac"),
    )


#: Gopher document-quality rule thresholds (Rae et al. 2021 §A1.1) --
#: literal so the oracle mirrors them.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WORD_LEN = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The full Gopher document-quality rule set (Rae et al. 2021
    §A1.1 -- the published heuristics repetition_stats' signals come
    from): word-count bounds, mean word length in [3, 10], symbol
    (#/ellipsis) to word ratio, bullet-started and ellipsis-ended
    line fractions, fraction of words with at least one alphabetic
    character, and the required-stopword presence check. Returns the
    per-rule signals plus the conjunction (`gopher_pass`), so
    pipelines can gate on the standard or on any subset.

    Scale shape: every signal is a per-row higher-order/regex
    expression over the bound token and line arrays -- the whole
    operator is a ZERO-shuffle projection fused into the corpus
    scan. Tokens are bound once (HOF re-evaluation pitfall)."""
    bound = df.select(
        "doc_id",
        F.col(text_col),
        F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: w != "").alias("_w"),
        F.split(F.col(text_col), "\n").alias("_ln"),
    )
    n_words = F.size("_w")
    mean_wl = F.aggregate(
        F.col("_w"), F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    ) / F.greatest(n_words, F.lit(1))
    symbols = (
        F.regexp_count(F.col(text_col), F.lit("#"))
        + F.regexp_count(F.col(text_col), F.lit(r"\.\.\."))
        + F.regexp_count(F.col(text_col), F.lit("…"))
    )
    n_lines = F.size("_ln")
    bullet_frac = F.size(
        F.filter(F.col("_ln"), lambda l: F.trim(l).rlike(r"^[-*•]"))
    ) / F.greatest(n_lines, F.lit(1))
    ellipsis_frac = F.size(
        F.filter(F.col("_ln"), lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    ) / F.greatest(n_lines, F.lit(1))
    alpha_frac = F.size(
        F.filter(F.col("_w"), lambda w: w.rlike(r"\p{L}"))
    ) / F.greatest(n_words, F.lit(1))
    stop_hits = F.size(F.filter(F.col("_w"), lambda w: w.isin(GOPHER_STOPWORDS)))
    out = bound.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbols / F.greatest(n_words, F.lit(1)), 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
    )
    lo, hi = GOPHER_MEAN_WORD_LEN
    gpass = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(lo, hi)
        & (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS)
    )
    return out.withColumn("gopher_pass", gpass)


# -- sequence packing (concat-and-chunk) -----------------------------


def chunk_documents(
    df: DataFrame,
    window: int = 256,
    stride: int = 192,
    text_col: str = "text",
    min_tokens: int = 1,
) -> DataFrame:
    """Sliding-window document chunking -- the upstream sibling of
    pack_sequences: each document is cut into token windows of
    `window` tokens every `stride` tokens (overlap = window - stride),
    the standard context-window prep for embedding/RAG indexing and
    long-document training. Output: (doc_id, chunk_id, start_token,
    n_chunk_tokens, chunk_text); chunk_id is 0-based per document;
    the final window is a short tail when (n - window) is not a
    multiple of stride, so every token of every doc is covered by at
    least one chunk (pinned by test). Docs shorter than min_tokens
    contribute nothing.

    Scale shape: a pure per-row projection -- tokens bound ONCE to a
    column (HOFs evaluate interpreted with no common-subexpression
    elimination; re-deriving split() per chunk start measured 7x
    slower on the shingle path), chunk starts via sequence() with a
    stride step, posexplode of an array_join over slice. ZERO
    shuffles; parallelism is row-granular, which is exactly what a
    100 TB corpus wants from its chunker."""
    base = df.select("doc_id", tokens_col(text_col).alias("_tk")).withColumn(
        "_n", F.size("_tk")
    )
    # last start: n - window + stride, so the series always reaches a
    # window that touches the final token (clamped to [1, n])
    last_start = F.greatest(
        F.least(F.col("_n") - (window - stride), F.col("_n")), F.lit(1)
    ).cast("int")
    starts = F.when(
        F.col("_n") >= min_tokens,
        F.sequence(F.lit(1), last_start, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        base.withColumn("_starts", starts)
        .select(
            "doc_id",
            F.col("_n"),
            F.posexplode("_starts").alias("chunk_id", "start_token"),
            F.col("_tk"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("start_token") - 1).cast("long").alias("start_token"),
            F.least(F.lit(window), F.col("_n") - (F.col("start_token") - 1))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.array_join(F.slice(F.col("_tk"), F.col("start_token"), window), " ").alias(
                "chunk_text"
            ),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    shard_col: str = "source",
    id_col: str = "doc_id",
    n_shards: int | None = None,
) -> DataFrame:
    """Training-sequence packing, concat-and-chunk form: within each
    shard, documents are concatenated in a deterministic order
    (id_col) and the token stream is cut every `budget` tokens; each
    document reports its start offset and the first/last sequence it
    lands in. This is the standard LLM pretraining layout (documents
    packed back-to-back into fixed-length sequences, long documents
    straddling sequence boundaries).

    Scale shape: ONE cumulative-sum window partitioned by shard --
    shards process in parallel, and within a shard the scan is a
    single ordered pass (the same shape any packer needs: offsets are
    inherently sequential). Parallelism is therefore shard-grained;
    a production corpus uses file- or partition-sized shards, exactly
    what the source column models here. No other shuffle exists.

    When the natural shard column is too coarse for the cluster (20
    sources on 1000 executors), pass `n_shards` to shard by
    hash(id) % n instead: every shard still packs a deterministic,
    independent document stream, and parallelism becomes a knob
    instead of a data property."""
    shard = (
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(n_shards))).alias("shard")
        if n_shards is not None
        else F.col(shard_col).alias(shard_col)
    )
    shard_name = "shard" if n_shards is not None else shard_col
    toks = F.size(tokens_col()).cast("long")
    w = (
        Window.partitionBy(shard_name)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        df.select(id_col, shard, toks.alias("n_tokens"))
        .withColumn("start_offset", (cum - F.col("n_tokens")).cast("long"))
        .withColumn("first_seq", F.floor(F.col("start_offset") / budget).cast("long"))
        .withColumn(
            "last_seq",
            F.floor((F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / budget)
            .cast("long"),
        )
    )


def curation_gates(
    df: DataFrame, text_col: str = "text", carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """ONE-SCAN fusion of the corpus_curation_v2 gate signals:
    c4_clean's page verdict + kept-line count, gopher_quality's
    signals + rule conjunction, and quality_scores' char-level
    alpha_ratio, computed in a single zero-shuffle projection over
    one bound (token-array, line-array) pair. Exists because the
    composed pipeline joining the three standalone operators pays
    three corpus-keyed joins for signals that are all per-row
    expressions of the same scan; the fusion is pinned
    COLUMN-IDENTICAL to that composition by test
    (tests/test_text.py), same standard as doc_features vs its
    standalone operators. Measured honestly (SCALE.md): at sf0.1 the
    two forms are a WASH (the gate frames are small enough that the
    composition's joins all broadcast; interpreted-HOF re-evaluation
    costs the fusion about what the joins cost the composition), and
    at 100x fused is slightly ahead (21.0 vs 22.6 s) -- the fusion's
    claim is the ASYMPTOTE: it has zero corpus-keyed exchanges where
    the composition grows three once the gate frames outgrow the
    broadcast threshold. Returns (doc_id, n_words, alpha_ratio,
    kept_lines, page_filtered, gopher_pass). `carry_cols` rides extra
    per-document columns through the projection (zero extra cost --
    consumers like corpus_card avoid a corpus-keyed join-back)."""
    bound = df.select(
        "doc_id",
        *carry_cols,
        F.col(text_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: w != ""
        ).alias("_w"),
        F.split(F.col(text_col), "\n").alias("_ln"),
    )
    n_words = F.size("_w")
    mean_wl = F.aggregate(
        F.col("_w"), F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    ) / F.greatest(n_words, F.lit(1))
    symbols = (
        F.regexp_count(F.col(text_col), F.lit("#"))
        + F.regexp_count(F.col(text_col), F.lit(r"\.\.\."))
        + F.regexp_count(F.col(text_col), F.lit("…"))
    )
    n_lines = F.size("_ln")
    bullet_frac = F.size(
        F.filter(F.col("_ln"), lambda l: F.trim(l).rlike(r"^[-*•]"))
    ) / F.greatest(n_lines, F.lit(1))
    ellipsis_frac = F.size(
        F.filter(F.col("_ln"), lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    ) / F.greatest(n_lines, F.lit(1))
    alpha_frac = F.size(
        F.filter(F.col("_w"), lambda w: w.rlike(r"\p{L}"))
    ) / F.greatest(n_words, F.lit(1))
    stop_hits = F.size(F.filter(F.col("_w"), lambda w: w.isin(GOPHER_STOPWORDS)))
    lo, hi = GOPHER_MEAN_WORD_LEN
    gpass = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.round(mean_wl, 4).between(lo, hi)
        & (F.round(symbols / F.greatest(n_words, F.lit(1)), 4) <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.round(bullet_frac, 4) <= GOPHER_MAX_BULLET_FRAC)
        & (F.round(ellipsis_frac, 4) <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.round(alpha_frac, 4) >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    )
    keep_line = lambda l: (  # noqa: E731
        F.trim(l).rlike("[.!?][\"']?$")
        & (F.size(F.split(F.trim(l), r"\s+")) >= C4_MIN_LINE_WORDS)
    )
    bad = None
    for marker in C4_PAGE_BLOCKLIST:
        cond = F.contains(F.lower(F.col(text_col)), F.lit(marker))
        bad = cond if bad is None else (bad | cond)
    alpha_chars = F.length(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z]", ""))
    return bound.select(
        "doc_id",
        *carry_cols,
        n_words.cast("long").alias("n_words"),
        F.round(
            alpha_chars / F.greatest(F.length(F.col(text_col)), F.lit(1)), 4
        ).alias("alpha_ratio"),
        F.when(bad, F.lit(0))
        .otherwise(F.size(F.filter(F.col("_ln"), keep_line)))
        .cast("long")
        .alias("kept_lines"),
        bad.alias("page_filtered"),
        gpass.alias("gopher_pass"),
    )


def sequence_boundaries(
    df: DataFrame,
    budget: int = 2048,
    shard_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """The per-SEQUENCE inverse of pack_sequences: for every training
    sequence, the document segments inside it -- (shard, seq, doc_id,
    begin, end) with [begin, end) token positions within the
    sequence. This is the attention-reset artifact a training job
    consumes alongside the packed tokens (segment ids / document
    masks: cross-document attention is cut at these boundaries);
    pack_sequences tells each DOC where it landed, this tells each
    SEQUENCE what it contains.

    Scale shape: pack_sequences' single shard-partitioned cumulative
    window, then a pure per-row expansion -- each document explodes
    into the (last_seq - first_seq + 1) sequences it straddles via a
    transform over a bounded index sequence; no join, no second
    shuffle. Every sequence's segments sum to exactly `budget` tokens
    (except each shard's tail), which the packing_efficiency oracle
    checks from the same CTEs."""
    packed = pack_sequences(df, budget=budget, shard_col=shard_col, id_col=id_col)
    b = F.lit(int(budget))
    segs = F.transform(
        F.sequence(F.col("first_seq"), F.col("last_seq")),
        lambda s: F.struct(
            s.alias("seq"),
            F.greatest(F.col("start_offset") - s * b, F.lit(0)).alias("begin"),
            F.least(
                F.col("start_offset") + F.col("n_tokens") - s * b, b
            ).alias("end"),
        ),
    )
    return (
        packed.filter(F.col("n_tokens") > 0)
        .select(shard_col, id_col, F.explode(segs).alias("_s"))
        .select(
            F.col(shard_col).alias("shard"),
            F.col("_s.seq").alias("seq"),
            F.col(id_col),
            F.col("_s.begin").cast("long").alias("begin"),
            F.col("_s.end").cast("long").alias("end"),
        )
    )


def tokenize_pack(
    df: DataFrame,
    vocab_size: int = 1000,
    budget: int = 2048,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Numericalization composed with sequence packing -- the bridge
    between a curated TEXT corpus and model-ready training sequences:
    tokenize_corpus assigns frequency-ranked token ids, then each
    shard's id streams are packed back-to-back into fixed-`budget`
    sequences (pack_sequences' concat-and-chunk layout, offsets over
    the TOKENIZED counts). Returns (doc_id, <shard_col>, n_tokens,
    oov_count, start_offset, first_seq, last_seq, token_ids) -- what a
    shard exporter materializes per document.

    Scale shape: tokenize_corpus's one vocab agg + broadcast rank
    join + per-doc reassembly, then ONE join back to the (id, shard)
    projection (both sides doc_id-keyed) and ONE cumulative window
    partitioned by shard. For export, sinks/shards.py
    export_token_shards replaces the column shard with the seeded
    training_shuffle permutation so packing order equals the shuffled
    read order."""
    t = tokenize_corpus(df, vocab_size=vocab_size, text_col=text_col)
    base = df.select(id_col, shard_col).join(t, id_col)
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        base.withColumn("start_offset", (cum - F.col("n_tokens")).cast("long"))
        .withColumn("first_seq", F.floor(F.col("start_offset") / budget).cast("long"))
        .withColumn(
            "last_seq",
            F.floor(
                (F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                / budget
            ).cast("long"),
        )
        .select(
            id_col,
            shard_col,
            "n_tokens",
            "oov_count",
            "start_offset",
            "first_seq",
            "last_seq",
            "token_ids",
        )
    )


def packing_efficiency(
    df: DataFrame,
    budget: int = 2048,
    shard_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-shard packing HEALTH for the pack_sequences layout: how
    many fixed-`budget` sequences each shard yields and how much of
    the final sequence is padding waste -- the number a training job
    actually budgets GPUs by (sequences, not documents). Returns
    (<shard_col>, n_docs, total_tokens, n_sequences, padding_tokens,
    fill_ratio); fill_ratio = total/(n_sequences*budget), 1.0 = no
    waste.

    Scale shape: pack_sequences' one shard-partitioned window, then a
    groupBy on the SAME shard key -- the aggregation reuses the
    window's partitioning, so no additional exchange appears (pinned
    in tests/test_plans.py)."""
    packed = pack_sequences(df, budget=budget, shard_col=shard_col, id_col=id_col)
    agg = packed.groupBy(shard_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.max("last_seq") + 1).cast("long").alias("n_sequences"),
    )
    cap = F.col("n_sequences") * budget
    return agg.select(
        shard_col,
        "n_docs",
        "total_tokens",
        "n_sequences",
        (cap - F.col("total_tokens")).cast("long").alias("padding_tokens"),
        F.round(F.col("total_tokens") / cap, 4).alias("fill_ratio"),
    )


# -- duplicated-span statistics --------------------------------------


def word_ngrams_pos(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, pos, gram) word n-grams WITH their start
    positions (0-based), generated per-row with zero shuffles (tokens
    bound once; posexplode of a transform over start indices). Docs
    shorter than n contribute nothing."""
    tk = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select("doc_id", tk.alias("_tk"))
    grams = F.when(
        F.size("_tk") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_tk") - (n - 1)),
            lambda i: F.array_join(F.slice(F.col("_tk"), i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        "doc_id",
        F.size("_tk").cast("long").alias("n_tokens"),
        F.posexplode(grams).alias("pos", "gram"),
    )


def _bloom_bitmap(grams_df: DataFrame, col: str, m_bits: int, k: int) -> list[int]:
    """Dense Bloom bitmap (list of m_bits/64 longs) over a string
    column, built with pure DataFrame ops: k seeded xxhash64 positions
    per value, one (word-index -> bit_or) aggregation with map-side
    partial combine (shuffle <= m_bits/64 rows per partition), one
    BOUNDED driver collect (<= m_bits/64 rows regardless of input
    size). No UDFs, no per-row Python."""
    positions = grams_df.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(col), F.lit(j)), F.lit(m_bits)).alias(f"_p{j}")
                    for j in range(k)
                ]
            )
        ).alias("_p")
    )
    rows = (
        positions.groupBy((F.col("_p") / 64).cast("long").alias("_w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, cast(pmod(_p, 64) as int))")).alias("_bits"))
        .collect()
    )
    bitmap = [0] * (m_bits // 64)
    for r in rows:
        bitmap[r["_w"]] = r["_bits"]
    return bitmap


def bloom_prefilter(
    df: DataFrame, probe_col: str, bitmap: list[int], m_bits: int, k: int
) -> DataFrame:
    """Keep only rows whose probe_col MIGHT be in the Bloom bitmap:
    broadcast the bitmap as a one-row array<long> frame (a crossJoin
    with a broadcast single row is a map-side operation -- no shuffle
    of `df`), bind the k hash positions as columns, test the k bits,
    drop the scaffolding. False positives pass, false negatives are
    impossible -- callers use this to shrink a join's probe side, and
    the join itself restores exactness."""
    import functools

    spark = df.sparkSession
    bm_df = spark.createDataFrame([(bitmap,)], "_bm array<long>")
    out = df.crossJoin(F.broadcast(bm_df))
    for j in range(k):
        out = out.withColumn(
            f"_bp{j}", F.pmod(F.xxhash64(F.col(probe_col), F.lit(j)), F.lit(m_bits))
        )
    terms = [
        F.element_at(
            F.col("_bm"), ((F.col(f"_bp{j}") / 64).cast("long") + 1).cast("int")
        ).bitwiseAND(F.expr(f"shiftleft(1L, cast(pmod(_bp{j}, 64) as int))"))
        != 0
        for j in range(k)
    ]
    keep = functools.reduce(lambda a, b: a & b, terms)
    return out.filter(keep).drop("_bm", *[f"_bp{j}" for j in range(k)])


def span_dup_stats(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    bloom_bits: int = 0,
    bloom_hashes: int = 4,
) -> DataFrame:
    """Duplicated-span signal (the word-gram approximation of
    substring-level dedup, Lee et al. 2022 'Deduplicating Training
    Data Makes Language Models Better'): per document, how many token
    positions fall inside a word n-gram that occurs MORE THAN ONCE in
    the corpus (another doc, or repeated within the same doc), and
    that count as a fraction of the doc's tokens. Pipelines strip or
    down-weight such spans instead of dropping whole documents.

    Covered-token counting is an interval-union: each duplicated gram
    covers [pos, pos+n-1]; a lag window per doc turns overlapping
    intervals into least(n, pos - prev_pos) contributions.

    Scale shape: gram generation is per-row (zero shuffle); the gram
    frequency count shuffles NARROW rows with map-side partial combine;
    the gram->doc join's probe side (every gram occurrence WITH its
    position) can be thinned by a Bloom filter built over the
    duplicated grams (bloom_bits > 0 enables; result is bit-identical
    either way -- false positives are erased by the recount, false
    negatives are impossible). With the filter on, the duplicated-gram
    build side is RE-derived from the thinned probe rather than
    persisted across the bitmap build and the join: every occurrence
    of a truly-duplicated gram passes the filter, so recounting the
    thinned rows yields exact counts for dup grams, and a
    false-positive gram keeps its true count of 1 and is dropped --
    no cached partitions pinned in executor storage for the session
    lifetime. The interval-union window and final agg share one
    doc_id exchange. Everything is linear in corpus tokens.

    MEASURED (sf0.1, 1<<20 bits, 4 hashes): at the long-span configs
    real substring dedup uses (n>=8), the filter eliminates 90.9% of
    probe rows (235k -> 21.5k at n=8), but its fixed cost (one extra
    pass over the persisted gram agg + a bounded collect + broadcast,
    ~0.9 s locally) exceeds what a local[32] shuffle of 235k tiny rows
    costs -- bloom-on 2.31 s vs bloom-off 1.38 s. Default OFF for
    local/bench scale; enable on clusters where the probe shuffle is
    GB+ per executor (the 90% byte reduction then dwarfs the fixed
    cost). At n=3 on this synthetic corpus the filter cannot help at
    any scale: 99.9% of 3-gram occurrences are duplicated (tiny
    generator vocabulary), so there is nothing to eliminate."""
    g = word_ngrams_pos(df, n, text_col)
    if bloom_bits:
        dup_grams = (
            g.groupBy("gram").agg(F.count(F.lit(1)).alias("_c")).filter(F.col("_c") >= 2)
        )
        bitmap = _bloom_bitmap(dup_grams, "gram", bloom_bits, bloom_hashes)
        probe = bloom_prefilter(g, "gram", bitmap, bloom_bits, bloom_hashes)
        # exact recount over the thinned occurrences (see docstring);
        # avoids persisting the full-corpus gram agg across two consumers
        dup_grams = (
            probe.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") >= 2)
        )
        d = probe.join(dup_grams.select("gram"), "gram")
    else:
        # duplicated-occurrence selection via a count window over the
        # gram partitioning -- ONE full-stream exchange, vs the
        # count-agg + join formulation that shuffles the identical
        # gram stream twice (kept above for the Bloom path, whose
        # bitmap build needs the distinct dup-gram frame)
        wg = Window.partitionBy("gram")
        d = (
            g.withColumn("_c", F.count(F.lit(1)).over(wg))
            .filter(F.col("_c") >= 2)
            .drop("_c")
        )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    contrib = F.when(prev.isNull(), F.lit(n)).otherwise(
        F.least(F.lit(n), F.col("pos") - prev)
    )
    covered = (
        d.select("doc_id", contrib.alias("_cov"))
        .groupBy("doc_id")
        .agg(F.sum("_cov").cast("long").alias("dup_span_tokens"))
    )
    toks = F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).cast("long")
    return (
        df.select("doc_id", toks.alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_span_tokens", F.lit(0)).cast("long").alias("dup_span_tokens"),
            F.round(
                F.coalesce("dup_span_tokens", F.lit(0)) / F.greatest("n_tokens", F.lit(1)), 4
            ).alias("dup_span_frac"),
        )
    )


def line_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide duplicate-LINE removal, first occurrence wins --
    the C4 page-dedup rule ("discard all but one of any span occurring
    more than once") applied at line granularity, the form web-corpus
    pipelines deploy against boilerplate (nav bars, cookie banners,
    footers repeated across millions of pages). A line's first
    occurrence is the corpus-ordered minimum (doc_id, pos); every
    later exact copy is dropped; whitespace-only lines are structure,
    not content -- never deduped, always kept. Returns (doc_id,
    n_lines, kept_lines, removed_lines, clean_text) with clean_text
    the newline-join of surviving lines in original order.

    Scale shape: the keeper table is a map-side-combined
    groupBy(line) -- NOT a per-line sort window, whose hot keys (a
    boilerplate line repeated across half the web) would funnel every
    copy through one task; the partial agg reduces each hot key
    per-partition first. Unique lines (the overwhelming mass) never
    join at all: the join's right side is filtered to DUPLICATED
    distinct lines only, so the verify join is corpus x
    duplicate-mass, AQE skew-splittable, and a left-miss means
    kept-by-uniqueness. Reconstruction is one doc_id-keyed
    aggregation (array_sort over collected (pos, line) structs)."""
    ls = F.split(F.col(text_col), "\n")
    lines = df.select("doc_id", F.posexplode(ls).alias("pos", "line"))
    content = lines.filter(F.trim("line") != "")
    dup_keepers = (
        content.groupBy("line")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("_first"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") > 1)
        .select("line", "_first")
    )
    kept = (
        (F.trim("line") == "")
        | F.col("_first").isNull()
        | (
            (F.col("_first.doc_id") == F.col("doc_id"))
            & (F.col("_first.pos") == F.col("pos"))
        )
    )
    marked = lines.join(dup_keepers, "line", "left").withColumn("_kept", kept)
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("_kept").cast("int")).cast("long").alias("kept_lines"),
        F.sum((~F.col("_kept")).cast("int")).cast("long").alias("removed_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_kept"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )


def span_dedup_rewrite(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Duplicated-span REMOVAL (the acting sibling of span_dup_stats,
    per Lee et al. 2022: remove all but one occurrence of repeated
    substrings instead of dropping whole documents): the corpus-wide
    FIRST occurrence of every duplicated word n-gram -- ordered by
    (doc_id, pos) -- is retained; tokens covered by every LATER
    occurrence are deleted from their document. Returns (doc_id,
    n_tokens, removed_tokens, clean_text). Deterministic: the
    first-occurrence rule is a row_number over a total order.

    Scale shape: gram generation is per-row; later occurrences come
    from ONE rank window over the (gram)-partitioned occurrence
    stream -- rn >= 2 both selects duplicated grams and drops each
    gram's first occurrence, so no separate duplicated-gram count or
    semi-join exists (the former count-agg + join pipeline shuffled
    the identical full gram stream TWICE and sorted it twice; one
    window halves that and removes the 10x AQE-broadcast-demotion
    bend -- ratio 2.66 -> 1.43, SCALE.md). Removal coverage is then
    merged into disjoint ISLANDS distributedly (codegen'd window
    machinery: a per-doc cumulative-max lag marks island starts, a
    cumulative sum numbers them, one groupBy fuses each island's
    span), and only the islands -- a handful per document even when
    nearly every token is duplicated span -- are collected per doc.
    The per-row rewrite is then O(tokens + islands): one aggregate()
    cursor pass slices the kept gaps between islands. (The 100x
    measurement is why islands merge DISTRIBUTED rather than inside
    the per-row pass: interpreted HOF steps cost ~10 us each, so a
    24M-step per-row union at the degenerate n=3 config dominated
    wall time; window operators do the same union in codegen --
    19.1 s -> 13.0 s at 100x sf0.1, SCALE.md.) This replaces the
    O(tokens x removed) per-token array_contains probe (quadratic
    per doc when most of a document is duplicated span, the r6
    10x-table worst case). Production substring dedup runs n>=50
    (Lee et al.), where duplicated occurrences are sparse and every
    stage past the gram window is near-empty."""
    base = df.select("doc_id", tokens_col(text_col).alias("_tk"))
    g = word_ngrams_pos(df, n, text_col).select("doc_id", "pos", "gram")
    win = Window.partitionBy("gram").orderBy("doc_id", "pos")
    extra = g.withColumn("_rn", F.row_number().over(win)).filter(F.col("_rn") >= 2)
    # interval union, distributed: spans [s, s+n-1] sorted per doc; a
    # span starts a new island iff it begins past (running max end)+1
    ivals = extra.select(
        "doc_id",
        F.col("pos").cast("int").alias("s"),
        (F.col("pos") + F.lit(n - 1)).cast("int").alias("e"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(wdoc.rowsBetween(Window.unboundedPreceding, -1))
    marked = ivals.withColumn(
        "_new",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1).otherwise(0),
    )
    isl = marked.withColumn(
        "_isl", F.sum("_new").over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
    )
    merged = isl.groupBy("doc_id", "_isl").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("s").alias("s"), F.col("e").alias("e")))
        ).alias("_iv")
    )
    out = base.join(per_doc, "doc_id", "left")
    tk = F.col("_tk")
    iv = F.coalesce(F.col("_iv"), F.array().cast("array<struct<s:int,e:int>>"))
    removed = F.aggregate(
        iv,
        F.lit(0).cast("long"),
        lambda acc, x: acc + (x["e"] - x["s"] + 1).cast("long"),
    )
    # gap stitching: cur = first 0-based index not yet consumed;
    # islands are sorted and disjoint, so tokens [cur, s-1] before
    # each island and the tail after the last are exactly the kept set
    kzero = F.struct(
        F.lit(0).cast("int").alias("cur"),
        F.array().cast("array<string>").alias("parts"),
    )

    def _step(acc: Column, x: Column) -> Column:
        gap = F.slice(tk, acc["cur"] + 1, F.greatest(x["s"] - acc["cur"], F.lit(0)))
        return F.struct(
            (x["e"] + 1).cast("int").alias("cur"),
            F.when(x["s"] > acc["cur"], F.concat(acc["parts"], gap))
            .otherwise(acc["parts"])
            .alias("parts"),
        )

    clean = F.aggregate(
        iv,
        kzero,
        _step,
        lambda acc: F.array_join(
            F.concat(
                acc["parts"],
                F.slice(tk, acc["cur"] + 1, F.greatest(F.size(tk) - acc["cur"], F.lit(0))),
            ),
            " ",
        ),
    )
    return out.select(
        "doc_id",
        F.size("_tk").cast("long").alias("n_tokens"),
        removed.alias("removed_tokens"),
        clean.alias("clean_text"),
    )


# -- benchmark decontamination ---------------------------------------


def word_ngrams(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """Distinct (doc_id, gram) word n-grams, generated per-row with
    zero shuffles: tokens are projected ONCE to a bound column (the
    HOF-lambda re-evaluation pitfall), then a transform over a
    position sequence slices each n-gram. Per-doc distinctness is
    array_distinct BEFORE the explode -- within-row work, not the
    (doc_id, gram)-keyed Exchange a post-explode .distinct() would
    cost over every corpus gram. Docs shorter than n contribute
    nothing."""
    tk = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select("doc_id", tk.alias("_tk"))
    grams = F.when(
        F.size("_tk") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("_tk") - (n - 1)),
                lambda i: F.array_join(F.slice(F.col("_tk"), i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select("doc_id", F.explode(grams).alias("gram"))


def benchmark_contamination(corpus: DataFrame, bench: DataFrame, n: int = 13) -> DataFrame:
    """Train/benchmark decontamination: per-corpus-doc count of word
    n-grams shared with a benchmark set -- the contamination gate of a
    training-data pipeline (13-gram collision is the GPT-3/Llama-style
    published heuristic; the registered synthetic query uses n=3
    because the generator's short documents share no longer grams).

    Scale shape: the corpus side never shuffles -- its n-grams are
    generated per-row and probed against the BROADCAST benchmark gram
    set (benchmark suites are bounded by construction: a few hundred MB
    of grams at most, vs the corpus's TBs; if a deployment's bench side
    outgrows broadcast, drop the hint and AQE plans the shuffle). The
    per-doc count then aggregates on doc_id, already co-partitioned
    with nothing -- one narrow shuffle of (doc_id, count) partials.
    """
    corpus_grams = word_ngrams(corpus, n)
    bench_grams = word_ngrams(bench, n).select("gram").distinct()
    hits = corpus_grams.join(F.broadcast(bench_grams), "gram")
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_overlap_grams"))


def novelty_scores(
    corpus: DataFrame, ref: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document NOVELTY against a reference corpus -- the
    data-SELECTION inverse of benchmark_contamination: the fraction of
    a doc's distinct word n-grams NOT present in the reference set.
    Selecting high-novelty documents is the standard move when growing
    a corpus without re-buying content the model has already seen
    (dedup catches copies; novelty quantifies partial redundancy).
    Returns (doc_id, n_grams, novel_grams, novelty) with novelty in
    [0, 1]; docs shorter than n grams contribute nothing (no grams to
    judge novelty on).

    Scale shape: identical to benchmark_contamination -- corpus grams
    generated per-row (never shuffled), reference gram set broadcast
    (reference slices are bounded by the deployment contract; drop
    the hint if a deployment's reference outgrows broadcast and AQE
    plans the shuffle), LEFT join marks membership, one narrow
    (doc_id, partials) aggregation."""
    corpus_grams = word_ngrams(corpus, n, text_col)
    ref_grams = (
        word_ngrams(ref, n, text_col)
        .select("gram")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    marked = corpus_grams.join(F.broadcast(ref_grams), "gram", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("novel_grams"),
        F.round(
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("novelty"),
    )


def oov_rate(
    df: DataFrame,
    vocab_size: int = 1000,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language OUT-OF-VOCABULARY rate against the corpus's own
    top-``vocab_size`` vocabulary -- the tokenizer-coverage table read
    next to tokenizer_fertility when sizing a vocabulary (the
    mT5/BLOOM per-language coverage analyses: a language whose token
    mass falls heavily outside the shared vocab pays fertility and
    UNK costs first). Returns (lang, total_tokens, oov_tokens,
    oov_bp) with the rate as an integer-basis-point floor.

    Scale shape: the vocabulary is ONE token-keyed count aggregation
    truncated by orderBy+limit (TakeOrderedAndProject, vocab-sized,
    bounded by construction at vocab_size rows -- broadcastable by
    CONTRACT); the coverage pass is one explode + a left anti-ish
    broadcast membership join folded into a languages-sized
    aggregation. Two scans total, nothing corpus-keyed shuffles."""
    vocab = vocab_top_words(df, top_n=vocab_size).select("token")
    tok = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(F.filter(tokens_col(text_col), lambda t: t != "")).alias("token"),
    )
    tagged = tok.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "token", "left"
    )
    agg = tagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
    )
    return agg.select(
        "lang",
        "total_tokens",
        "oov_tokens",
        F.expr("oov_tokens * 10000 div greatest(total_tokens, 1)")
        .cast("long")
        .alias("oov_bp"),
    ).orderBy("lang")
