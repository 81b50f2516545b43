"""Driver-facing query suite: every implemented operator as a
``(spark, sf_dir) -> DataFrame`` callable plus its DuckDB oracle SQL.

This is the engine's coverage manifest (SURVEY.md section 2): the
reference analytics surface (A1-A13) over the normalized event model,
the relational operator surface (joins/windows/grouping sets/top-k), and
the LLM-data-pipeline extensions (dedup, similarity, text analysis,
multimodal). Spark plans and SQL strings are written against the same
deterministic semantics -- fixed ``as_of`` scalar, explicit tie-breaks,
portable md5-based hashes, rounded floats -- so results hash-match
across engines.
"""

from __future__ import annotations

import atexit
import functools
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators import dedup as D
from solana_data_etl_pipeline_spark.operators import multimodal as M
from solana_data_etl_pipeline_spark.operators import sketches as K
from solana_data_etl_pipeline_spark.operators import similarity as V
from solana_data_etl_pipeline_spark.operators import text as X
from solana_data_etl_pipeline_spark.plans import analytics as A
from solana_data_etl_pipeline_spark.plans import behavioral as B
from solana_data_etl_pipeline_spark.plans import corpus as C
from solana_data_etl_pipeline_spark.plans import dimensions as DIM
from solana_data_etl_pipeline_spark.plans import relational as R
from solana_data_etl_pipeline_spark.sinks import shards as SH
from solana_data_etl_pipeline_spark.plans import temporal as T
from solana_data_etl_pipeline_spark.plans.testdata_model import NORM_SQL, as_of, load_table, normalized_events

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# per-sf ingest artifacts

#: name -> build(spark, sf_dir, path): the derived tables and indexes
#: the suite builds once at ingest cadence and then probes, like the
#: reference's derived tables. Filled by @artifact next to each build.
#: bench.py prices every entry as a cold `<name>_build` twin and lists
#: them all as the protocol's amortized layouts.
ARTIFACTS: dict[str, Callable[[SparkSession, str, str], None]] = {}
_BUILT: dict[tuple[str, str], str] = {}
_SEQ = itertools.count()


def artifact(name: str):
    """Register the decorated ``build(spark, sf_dir, path)`` as ARTIFACTS[name]."""

    def register(build):
        ARTIFACTS[name] = build
        return build

    return register


@functools.cache
def _artifact_root() -> str:
    root = tempfile.mkdtemp(prefix="suite_artifacts_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def artifact_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Directory holding artifact `name` built over `sf_dir`. Each
    (name, sf_dir) is built at most once per process, so repeated
    invocations of a probe (bench RUNS samples, driver retries) read
    ONE artifact instead of building and leaking a fresh one per call.
    Every artifact lives under one temp root, removed at exit."""
    key = (name, sf_dir)
    if key not in _BUILT:
        path = os.path.join(_artifact_root(), f"{name}-{next(_SEQ)}")
        os.mkdir(path)
        ARTIFACTS[name](spark, sf_dir, path)
        _BUILT[key] = path
    return _BUILT[key]


# ---------------------------------------------------------------------------
# shared SQL fragments (oracle side)

# shingle CTE: word 3-grams over normalized text, distinct per doc.
SHINGLES_SQL = """
toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([concat_ws(' ', tk[i+1], tk[i+2], tk[i+3])
                        for i in range(0, greatest(len(tk) - 3, 0) + 1)]) AS sh
  FROM toks
)
"""

H64_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

COSINE_SQL = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _planes_sql(table: int = 0) -> str:
    planes = V.lsh_planes(table=table)
    rows = ", ".join("[" + ", ".join(repr(v) for v in row) + "]" for row in planes)
    return f"[{rows}]"


# per-table bucket: {m} names the plane-matrix column, {v} the vector
BUCKET_SQL = (
    "CAST(list_sum([CASE WHEN list_dot_product({m}[p+1], {v}) >= 0 "
    "THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END for p in range(0, 8)]) AS BIGINT)"
)


def _table_buckets_sql(n_tables: int, src: str = "e") -> str:
    """CTE fragment: (vec_id, v, tbl, bkt) rows -- one per hash table --
    mirroring similarity.table_bucket_col + posexplode."""
    mats = ", ".join(f"{_planes_sql(t)} AS m{t}" for t in range(n_tables))
    bcols = ",\n           ".join(
        BUCKET_SQL.format(m=f"m{t}", v="v") + f" AS b{t}" for t in range(n_tables)
    )
    structs = ", ".join(f"{{'tbl': {t}, 'bkt': b{t}}}" for t in range(n_tables))
    return f"""P AS (SELECT {mats}),
b AS (
  SELECT vec_id, v, u.s.tbl AS tbl, u.s.bkt AS bkt
  FROM (
    SELECT vec_id, v,
           {bcols}
    FROM {src}, P
  ), UNNEST([{structs}]) AS u(s)
)"""


# ---------------------------------------------------------------------------
# analytics suite (normalized events)


def _analytic(plan) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan(normalized_events(spark, sf_dir), as_of(spark, sf_dir))

    return run


ANALYTICS_QUERIES: dict[str, QueryFn] = {name: _analytic(plan) for name, plan in A.ALL_PLANS.items()}

ANALYTICS_SQL: dict[str, str] = {
    "transaction_volume": f"""
WITH {NORM_SQL},
base AS (SELECT n.*, a.t FROM norm n, tmax a)
SELECT period_type, tx_count FROM (
  SELECT 'total' AS period_type, count(*) AS tx_count FROM base WHERE event_type = 'transaction'
  UNION ALL
  SELECT 'today', count(*) FROM base
   WHERE event_type = 'transaction' AND CAST(block_time AS DATE) = CAST(t AS DATE)
  UNION ALL
  SELECT 'week', count(*) FROM base
   WHERE event_type = 'transaction' AND block_time >= CAST(CAST(t AS DATE) - INTERVAL 7 DAY AS TIMESTAMP)
  UNION ALL
  SELECT 'month', count(*) FROM base
   WHERE event_type = 'transaction' AND block_time >= CAST(CAST(t AS DATE) - INTERVAL 30 DAY AS TIMESTAMP)
)
""",
    "hourly_volume": f"""
WITH {NORM_SQL}
SELECT CAST(block_time AS DATE) AS event_date,
       CAST(EXTRACT(hour FROM block_time) AS INTEGER) AS hour_of_day,
       count(*) AS tx_count
FROM norm, tmax
WHERE event_type = 'transaction' AND block_time >= t - INTERVAL 24 HOUR AND block_time <= t
GROUP BY 1, 2
""",
    "active_programs": f"""
WITH {NORM_SQL}
SELECT program_id, count(*) AS tx_count,
       count(DISTINCT wallet) AS unique_wallets,
       max(block_time) AS last_seen
FROM norm
WHERE event_type = 'program_instruction' AND program_id IS NOT NULL
GROUP BY program_id
ORDER BY tx_count DESC, program_id
LIMIT 50
""",
    "token_transfer_stats": f"""
WITH {NORM_SQL}
SELECT count(*) AS total_transfers,
       count(DISTINCT token_mint) AS unique_mints,
       count(DISTINCT from_wallet) AS unique_senders,
       count(DISTINCT to_wallet) AS unique_receivers
FROM norm WHERE event_type = 'token_transfer'
""",
    "top_tokens": f"""
WITH {NORM_SQL}
SELECT token_mint, count(*) AS transfer_count,
       count(DISTINCT from_wallet) AS unique_senders
FROM norm
WHERE event_type = 'token_transfer' AND token_mint IS NOT NULL
GROUP BY token_mint
ORDER BY transfer_count DESC, token_mint
LIMIT 20
""",
    "failed_transactions": f"""
WITH {NORM_SQL}
SELECT total_transactions, failed_transactions,
       round(failed_transactions * 100.0 / greatest(total_transactions, 1), 2) AS failure_rate
FROM (
  SELECT count(*) AS total_transactions,
         CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS failed_transactions
  FROM norm WHERE event_type = 'transaction'
)
""",
    "top_errors": f"""
WITH {NORM_SQL}
SELECT coalesce(err_type, 'unknown') AS error_type, count(*) AS error_count
FROM norm WHERE failed
GROUP BY 1
ORDER BY error_count DESC, error_type
LIMIT 10
""",
    "wallet_activity": f"""
WITH {NORM_SQL}
SELECT count(DISTINCT wallet) AS active_wallets_total,
       count(DISTINCT CASE WHEN CAST(block_time AS DATE) = CAST(t AS DATE) THEN wallet END) AS active_wallets_today,
       count(DISTINCT CASE WHEN block_time >= CAST(CAST(t AS DATE) - INTERVAL 7 DAY AS TIMESTAMP) THEN wallet END) AS active_wallets_week
FROM norm, tmax
WHERE event_type = 'transaction' AND wallet IS NOT NULL
""",
    "top_wallets": f"""
WITH {NORM_SQL}
SELECT wallet, count(*) AS tx_count, min(block_time) AS first_seen, max(block_time) AS last_seen
FROM norm
WHERE event_type = 'transaction' AND wallet IS NOT NULL
GROUP BY wallet
ORDER BY tx_count DESC, wallet
LIMIT 20
""",
    "program_trends": f"""
WITH {NORM_SQL},
daily AS (
  SELECT program_id, CAST(block_time AS DATE) AS event_date, count(*) AS tx_count
  FROM norm, tmax
  WHERE event_type = 'program_instruction' AND program_id IS NOT NULL
    AND block_time >= CAST(CAST(t AS DATE) - INTERVAL 30 DAY AS TIMESTAMP)
  GROUP BY 1, 2
),
totals AS (SELECT program_id, sum(tx_count) AS total FROM daily GROUP BY 1),
top AS (SELECT program_id FROM totals ORDER BY total DESC, program_id LIMIT 10)
SELECT d.program_id, d.event_date, d.tx_count
FROM daily d JOIN top USING (program_id)
""",
}


# ---------------------------------------------------------------------------
# relational suite

RELATIONAL_QUERIES: dict[str, QueryFn] = {
    "pricing_summary": R.pricing_summary,
    "shipping_priority": R.shipping_priority,
    "region_revenue": R.region_revenue,
    "segment_order_stats": R.segment_order_stats,
    "big_spenders": R.big_spenders,
    "sales_rollup": R.sales_rollup,
    "order_cube": R.order_cube,
    "small_quantity_revenue": R.small_quantity_revenue,
    "order_value_histogram": R.order_value_histogram,
}

RELATIONAL_SQL: dict[str, str] = {
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "shipping_priority": """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "region_revenue": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    "segment_order_stats": """
SELECT coalesce(c_mktsegment, 'unknown') AS mktsegment,
       count(*) AS order_count,
       round(sum(o_totalprice), 2) AS total_revenue,
       round(avg(o_totalprice), 4) AS avg_order_value
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
GROUP BY 1
""",
    "big_spenders": """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, round(total_qty, 2) AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    "sales_rollup": """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS level,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    "order_cube": """
SELECT coalesce(CAST(order_year AS VARCHAR), 'ALL') AS order_year,
       coalesce(o_orderpriority, 'ALL') AS order_priority,
       CAST(GROUPING(order_year, o_orderpriority) AS BIGINT) AS level,
       count(*) AS order_count,
       round(sum(o_totalprice), 2) AS total_price
FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
             o_orderpriority, o_totalprice
      FROM orders)
GROUP BY CUBE (order_year, o_orderpriority)
""",
    "small_quantity_revenue": """
WITH li AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#5' AND p.p_type = 'ECONOMY'
),
caps AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cap FROM li GROUP BY 1)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS qualifying_lineitems
FROM li JOIN caps USING (l_partkey)
WHERE l_quantity < qty_cap
""",
    "order_value_histogram": """
SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bucket,
       round(50000.0 * CAST(floor(o_totalprice / 50000.0) AS INTEGER), 2) AS bucket_lo,
       count(*) AS orders,
       round(avg(o_totalprice), 2) AS avg_value
FROM orders
GROUP BY 1
""",
}


# ---------------------------------------------------------------------------
# temporal suite (events: as-of join, sessionization)

TEMPORAL_QUERIES: dict[str, QueryFn] = {
    "asof_attribution": T.asof_attribution,
    "user_sessions": T.user_sessions,
    "salted_session_stats": T.salted_session_window_stats,
}

_ASOF_WIN = (
    "OVER (PARTITION BY user_id ORDER BY ts, side, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)

TEMPORAL_SQL: dict[str, str] = {
    "asof_attribution": f"""
WITH pc AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
  FROM events WHERE event_type IN ('click', 'purchase')
),
c AS (
  SELECT event_id, user_id, ts, side,
         last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) {_ASOF_WIN} AS click_ts,
         last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) {_ASOF_WIN} AS click_value
  FROM pc
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, click_ts,
       round(click_value, 2) AS click_value,
       date_diff('second', click_ts, ts) AS gap_sec
FROM c WHERE side = 1
""",
    "user_sessions": f"""
WITH l AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                  OR date_diff('second', prev, ts) > {T.SESSION_GAP_MINUTES * 60}
             THEN 1 ELSE 0 END AS nf
  FROM l
),
s AS (
  SELECT *, CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM f
)
SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       date_diff('second', min(ts), max(ts)) AS duration_sec
FROM s GROUP BY user_id, session_seq
""",
    # session_window merges events with diff < gap (strict), decided at
    # microsecond precision -- the oracle compares exact epoch_us, not
    # floored seconds. The salted two-phase plan is result-identical to
    # the built-in session_window form by construction.
    "salted_session_stats": f"""
WITH l AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                  OR epoch_us(ts) - epoch_us(prev) >= {T.SESSION_GAP_MINUTES * 60} * 1000000::BIGINT
             THEN 1 ELSE 0 END AS nf
  FROM l
),
s AS (
  SELECT *, sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS seq
  FROM f
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
FROM s GROUP BY user_id, seq
""",
}


# ---------------------------------------------------------------------------
# behavioral suite (events: cohorts, funnel, gap-fill)


def _events(plan) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan(load_table(spark, sf_dir, "events"))

    return run


BEHAVIORAL_QUERIES: dict[str, QueryFn] = {
    "cumulative_new_users": _events(B.cumulative_new_users),
    "weekly_cohort_retention": _events(B.weekly_cohort_retention),
    "event_funnel": _events(B.event_funnel),
    "hourly_gapfill": _events(B.hourly_gapfill),
    # rows-only (no oracle): DataSketches HLL binaries are
    # engine-specific; accuracy/merge contracts live in tests/test_approx.py
    "sketch_rollup": _events(K.user_sketch_rollup),
    # exact COUNT(DISTINCT) twin: same ROLLUP grouping sets, fully
    # oracle-able -- pins the grouping-set shape the sketch query shares
    "rollup_exact_users": _events(K.user_exact_rollup),
}

BEHAVIORAL_SQL: dict[str, str] = {
    "rollup_exact_users": """
SELECT CASE WHEN day IS NULL THEN 'total' ELSE 'day' END AS grain,
       day, CAST(n_users AS BIGINT) AS n_users
FROM (
  SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS n_users
  FROM events GROUP BY ROLLUP (day)
)
""",
    "cumulative_new_users": """
WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1),
d AS (SELECT first_day, count(*) AS new_users FROM fs GROUP BY 1)
SELECT first_day, new_users,
       CAST(sum(new_users) OVER (ORDER BY first_day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
FROM d
""",
    "weekly_cohort_retention": """
WITH cohorts AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week FROM events GROUP BY 1
),
activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week FROM events)
SELECT CAST(cohort_week AS DATE) AS cohort_week,
       CAST(date_diff('day', CAST(cohort_week AS DATE), CAST(activity_week AS DATE)) / 7 AS INTEGER) AS week_offset,
       count(*) AS active_users
FROM activity JOIN cohorts USING (user_id)
GROUP BY 1, 2
""",
    "event_funnel": """
WITH m AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM events GROUP BY 1
),
w AS (
  SELECT
    sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS s0,
    sum(CASE WHEN t0 IS NOT NULL AND t1 >= t0 THEN 1 ELSE 0 END) AS s1,
    sum(CASE WHEN t0 IS NOT NULL AND t1 >= t0 AND t2 >= t1 THEN 1 ELSE 0 END) AS s2,
    sum(CASE WHEN t0 IS NOT NULL AND t1 >= t0 AND t2 >= t1 AND t3 >= t2 THEN 1 ELSE 0 END) AS s3
  FROM m
)
SELECT 0 AS stage_idx, 'signup' AS stage, CAST(s0 AS BIGINT) AS users FROM w
UNION ALL SELECT 1, 'view', CAST(s1 AS BIGINT) FROM w
UNION ALL SELECT 2, 'click', CAST(s2 AS BIGINT) FROM w
UNION ALL SELECT 3, 'purchase', CAST(s3 AS BIGINT) FROM w
""",
    "hourly_gapfill": """
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events
),
spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts FROM b),
c AS (
  SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT s.hour_ts, coalesce(c.cnt, 0) AS cnt FROM spine s LEFT JOIN c USING (hour_ts)
""",
}


# ---------------------------------------------------------------------------
# text analysis suite (documents)


def _docs(plan) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan(load_table(spark, sf_dir, "documents"))

    return run


@artifact("cluster_fit")
def _build_cluster_member(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The ingest-time cluster assignment (hash_embed -> lloyd_cells
    membership, written as a parquet side table) shared by the
    cluster-curation entries (corpus_topic_map,
    cluster_prune_keepers) -- the same amortization stance as the
    `ivf` layout: clustering runs ONCE at ingest cadence, every
    curation consumer probes the stored assignment, and the cold fit
    cost stays separately measured by the registry's bench twin.
    Parquet stores the (doc_id, cell) longs exactly, so the layout is
    value-identical to the inline fit (oracles replay the fit from the
    corpus and stay green either way)."""
    docs = load_table(spark, sf_dir, "documents")
    V.lloyd_cells(X.hash_embed(docs)).select(
        F.col("vec_id").alias("doc_id"), "cell"
    ).write.mode("overwrite").parquet(path)


# the registered mix: keep all of src0, half of src1, a tenth of src2,
# a quarter of src3; every other source dropped (rate 0)
_MIX_WEIGHTS = {"src0": 100, "src1": 50, "src2": 10, "src3": 25}

# the source slice standing in for a benchmark set in the registered
# decontamination query
# src6 (was src19 through r7): chosen so the benchmark slice has
# verified cross-source near-dups at sf0.01 (5 pairs at Jaccard>=0.2)
# -- the benchmark_near_dup driver row was passing VACUOUSLY on an
# empty result with src19. Constant shared by operator and oracle.
_BENCH_SOURCE = "src6"

# token budget for the registered packing query: small enough that
# every synthetic shard spans multiple sequences and long documents
# straddle boundaries (the interesting case)
_PACK_BUDGET = 512

# bm25_rank: a representative multi-term lexical query over the
# synthetic corpus vocabulary (mixed document frequencies, so idf
# actually discriminates); BM25 defaults k1=1.2 b=0.75
_BM25_TERMS = ["spark", "window", "merge", "query"]

#: the materialized inverted index; bm25_indexed probes it instead of
#: scanning the corpus
@artifact("bm25_index")
def _build_bm25_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    X.materialize_inverted_index(load_table(spark, sf_dir, "documents"), path)


#: stored text-corpus LSH bucket index -- hash_embed run once over the
#: documents, then bucketed by the embedding index writer
#: (dedup.materialize_embedding_lsh) uncapped at knn_lsh's table count:
#: one plain `buckets` sub-table of (vec_id, v, n, table, bucket) rows.
#: The `cluster_fit` stance: encoding AND bucketing are ingest-time
#: artifacts; hybrid_rank_indexed's semantic member probes the index
#: instead of re-encoding and re-bucketing the corpus per query --
#: VERDICT r11 #4. Parquet stores the doubles exactly, so the probe is
#: value-identical to the inline knn_lsh form.
@artifact("lsh_index")
def _build_text_lsh_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    D.materialize_embedding_lsh(
        X.hash_embed(load_table(spark, sf_dir, "documents")), path, n_tables=V.LSH_TABLES
    )


#: trained-BPE artifact -- merges/ (the learned merge table,
#: bpe_train's contract frame) and vocab/ (per-word piece counts, the
#: encoder bpe_encode_with_vocab joins). One training run per process
#: per sf; both suite entries probe the stored layout (ADVICE r11:
#: registering train + encode inline executed the 8-round training
#: DAG twice per pass). Parquet stores the (string, int/long) columns
#: exactly, so the stored path is value-identical to inline training
#: -- the oracles replay all 8 merge rounds from the corpus and stay
#: green either way.
@artifact("bpe_train")
def _build_bpe_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    merges, syms = X._bpe_loop(load_table(spark, sf_dir, "documents"), n_merges=8)
    merges.write.mode("overwrite").parquet(f"{path}/merges")
    syms.select(
        "w", F.size("s").cast("long").alias("n_pieces")
    ).write.mode("overwrite").parquet(f"{path}/vocab")


TEXT_QUERIES: dict[str, QueryFn] = {
    # doc_features fuses the five per-doc projections (token counts,
    # BPE-ish counts, quality signals, language ID, fingerprints) into
    # ONE corpus scan -- the five standalone operators remain in
    # operators/text.py and stay column-identical (tests pin this).
    "doc_features": _docs(X.doc_features),
    # per-language tokenizer-fertility report (chars per token for
    # both shipped tokenizations, integer basis points)
    "tokenizer_fertility": _docs(X.tokenizer_fertility),
    "consistent_sample": _docs(
        lambda df: X.consistent_sample(df, pct=20).select("doc_id", "lang", "n_chars")
    ),
    "training_shuffle": _docs(lambda df: X.training_shuffle(df, n_shards=16, seed=7)),
    # reproducibility manifest over an ACTUAL shard export of the
    # same permutation (n_shards=16, seed=7): per shard, doc count +
    # order-insensitive (id, pos) multiset digest -- the artifact a
    # re-export or training job checks instead of re-reading bytes.
    # The export runs once per sf_dir (the `shard_export` artifact)
    # and the query reads it back, so the driver row also exercises
    # the writer's partitionBy/pos-sort contract end to end
    "shard_manifest": (
        lambda spark, sf_dir: SH.shard_manifest(
            spark, artifact_path(spark, sf_dir, "shard_export")
        )
    ),
    "vocab_top_words": _docs(X.vocab_top_words),
    # Count-Min sketch on the token stream, graded against the exact
    # top-20: the bounded-shuffle (depth x width cells) alternative to
    # the vocabulary-keyed count, fully oracle-able unlike HLL
    "cms_heavy_hitters": _docs(K.cms_heavy_hitters),
    # per-language coverage against the corpus's own top-10 vocab
    # (top-10 of the ~31-token synthetic vocabulary, so the OOV rate
    # is non-vacuous at every SF)
    "oov_rate": _docs(lambda df: X.oov_rate(df, vocab_size=10)),
    "tfidf_top_terms": _docs(X.tfidf_top_terms),
    # lexical ranked retrieval: top-10 docs for the fixed term query
    # under BM25 (integer-ppm scores keep the across-terms sum
    # engine-exact)
    "bm25_rank": _docs(lambda df: X.bm25_rank(df, _BM25_TERMS)),
    # the materialized-search form: same query answered from the
    # inverted index (prefix-pruned postings read), result pinned
    # IDENTICAL to the scan form -- shared oracle
    "bm25_indexed": (
        lambda spark, sf_dir: X.bm25_rank_indexed(
            spark, artifact_path(spark, sf_dir, "bm25_index"), _BM25_TERMS
        )
    ),
    # hybrid retrieval: RRF fusion of bm25_rank and the hash_embed ->
    # knn_lsh semantic route for the SAME query terms
    "hybrid_rank": _docs(lambda df: X.hybrid_rank(df, _BM25_TERMS)),
    # the production composition: both members answered from STORED
    # ingest-time artifacts (bm25_indexed's pruned postings + the
    # per-sf LSH bucket index over the hash_embed vectors) -- result
    # pinned IDENTICAL to the scan-form fusion via the shared oracle
    # + a row-identity test (VERDICT r11 #4: hybrid_rank was the
    # heaviest window entry because it re-encoded and re-bucketed the
    # corpus and re-derived BM25 stats per probe)
    "hybrid_rank_indexed": (
        lambda spark, sf_dir: X.hybrid_rank_indexed(
            spark,
            artifact_path(spark, sf_dir, "bm25_index"),
            artifact_path(spark, sf_dir, "lsh_index"),
            _BM25_TERMS,
        )
    ),
    "corpus_selection": C.corpus_selection,
    # the full curation pipeline composed end-to-end: gates + exact
    # keepers + cluster-decontaminated split + temperature mix +
    # token-budget selection (plans/corpus.py corpus_curation)
    "corpus_curation": C.corpus_curation,
    # v2: the published gates (C4 cleaning + Gopher rule set) threaded
    # in as the pipeline's gate stages (plans/corpus.py
    # corpus_curation_v2)
    "corpus_curation_v2": C.corpus_curation_v2,
    # v3: the mix/budget stages replaced by the ACHIEVABLE-allocation
    # planners (mixture_waterfill below budget, epoch_plan above it)
    # -- the pipeline a data-constrained run executes (plans/corpus.py
    # corpus_curation_v3)
    "corpus_curation_v3": C.corpus_curation_v3,
    # v4: media as a first-class corpus column -- every gated doc's
    # genuine WAV payload is decoded by the REAL stdlib codec and the
    # pipeline gates on the DECODED duration/RMS (the multimodal
    # Gopher analog); decoded features ride into the output so the
    # codec round-trip is hash-verified (plans/corpus.py
    # corpus_curation_v4, VERDICT r9 #6)
    "corpus_curation_v4": C.corpus_curation_v4,
    # planned-vs-realized mixture manifest over v3 (r10 rotation
    # candidate: registered after the r9 driver surface was frozen)
    "allocation_report": C.allocation_report,
    # per-stage attrition through the v2 pipeline (the funnel report
    # a curation run publishes; budget row pinned == v2's count)
    "curation_funnel": C.curation_funnel,
    # cross-tab of the three registered quality signals (the
    # text-quality sibling of dedup_family_agreement): per
    # (gopher_pass, c4_pass, ppl bucket) doc count + token mass
    "quality_gate_agreement": C.quality_gate_agreement,
    # per-method decontamination summary over the benchmark slice
    # (exact n-gram + near-dup detectors, plans/corpus.py)
    "contamination_report": C.contamination_report,
    "stratified_sample": _docs(X.stratified_sample_stats),
    "pii_stats": _docs(X.pii_stats),
    # the acting sibling of pii_scan: typed-placeholder rewrite
    "pii_redact": _docs(X.pii_redact),
    # per-shard packing waste under the pack_sequences layout
    "packing_efficiency": _docs(
        lambda df: X.packing_efficiency(df, budget=_PACK_BUDGET)
    ),
    "weighted_mix": _docs(
        lambda df: X.weighted_mix(df, _MIX_WEIGHTS).select("doc_id", "source", "lang")
    ),
    # mT5-style temperature sampling: tau=0.5 up-samples small sources
    "temperature_mix": _docs(
        lambda df: X.temperature_mix(df, tau=0.5, target_frac=0.5).select(
            "doc_id", "source", "rate_bp"
        )
    ),
    # benchmark slice = _BENCH_SOURCE, corpus = everything else; n=3 because
    # the synthetic generator's short documents share no longer grams
    # (production decontamination runs n=13, the published heuristic)
    # data-selection inverse of contamination: fraction of a doc's
    # grams unseen in the reference (_BENCH_SOURCE) slice
    "novelty_scores": (
        lambda spark, sf_dir: X.novelty_scores(
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") != _BENCH_SOURCE
            ),
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") == _BENCH_SOURCE
            ),
            n=3,
        )
    ),
    "benchmark_contamination": _docs(
        lambda df: X.benchmark_contamination(
            df.filter(F.col("source") != _BENCH_SOURCE),
            df.filter(F.col("source") == _BENCH_SOURCE),
            n=3,
        )
    ),
    "repetition_stats": _docs(X.repetition_stats),
    "pack_sequences": _docs(lambda df: X.pack_sequences(df, budget=_PACK_BUDGET)),
    # the per-sequence inverse: document segments within each packed
    # sequence (the attention-reset mask artifact)
    "pack_boundaries": _docs(
        lambda df: X.sequence_boundaries(df, budget=_PACK_BUDGET)
    ),
    # numericalize -> pack composed (vocab 200, the tokenize_corpus
    # registry setting; source-sharded so the oracle is pure SQL --
    # the seeded-permutation form is sinks/shards.py
    # export_token_shards, covered by tests/test_shards.py)
    "tokenize_pack": _docs(
        lambda df: X.tokenize_pack(df, vocab_size=200, budget=_PACK_BUDGET)
    ),
    # full-registry entries (not in the 50-slot driver order): swept by
    # tests/test_oracle_parity.py like every all_queries() member
    "span_dup_stats": _docs(lambda df: X.span_dup_stats(df, n=3)),
    # C4's cross-page rule at line granularity: corpus-wide duplicate
    # lines removed, first (doc_id, pos) occurrence wins. The
    # synthetic generator emits single-line docs (no '\n', no exact
    # text dups -- raw registration would be VACUOUS), so the query
    # paginates each doc into 8-token lines first: planted near-dups
    # share 8-token runs, giving the dedup real cross-doc work
    "line_dedup": _docs(
        lambda df: X.line_dedup(
            df.withColumn("_tk", F.split(F.trim(F.col("text")), r"\s+"))
            .withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(
                                F.ceil(F.size("_tk") / 8).cast("int"), F.lit(1)
                            ),
                        ),
                        lambda i: F.array_join(
                            F.slice(F.col("_tk"), (i - F.lit(1)) * 8 + 1, 8), " "
                        ),
                    ),
                    "\n",
                ),
            )
            .drop("_tk")
        )
    ),
    "unigram_logprob": _docs(X.unigram_logprob),
    "bigram_logprob": _docs(X.bigram_logprob),
    # Jelinek-Mercer interpolated form (continuation-unigram backoff)
    "interp_logprob": _docs(X.interp_logprob),
    # distributional-health diagnostic: distinct-n ratios + Zipf fit
    "corpus_diversity": _docs(X.corpus_diversity),
    # corpus-versioning drift report: the two snapshots are the
    # deterministic doc_id parity halves (the stand-in for old/new
    # corpus cuts); shares in integer basis points
    "corpus_drift": _docs(
        lambda df: X.corpus_drift(
            df.withColumn("snapshot", F.col("doc_id") % 2)
        )
    ),
    # MiniPile-style cluster inspection table: the SHARED ingest-time
    # membership (the `cluster_fit` artifact)
    # -> per-cluster mass/source/top-terms rollup
    "corpus_topic_map": (
        lambda spark, sf_dir: C.corpus_topic_map(
            load_table(spark, sf_dir, "documents"),
            member=spark.read.parquet(artifact_path(spark, sf_dir, "cluster_fit")),
        )
    ),
    # ...and its ACTING form: drop whole clusters below the
    # mean-length bar (template populations die as a population);
    # probes the same stored membership as the map it acts on
    "cluster_prune_keepers": (
        lambda spark, sf_dir: C.cluster_prune_keepers(
            load_table(spark, sf_dir, "documents"),
            member=spark.read.parquet(artifact_path(spark, sf_dir, "cluster_fit")),
        )
    ),
    # per-source data-acquisition scorecard: registered quality
    # signals + exact-dup rate rolled up per source in integer bp
    "source_scorecard": _docs(C.source_scorecard),
    # padded-batching waste planner (16-token buckets: the synthetic
    # docs average ~50 tokens; production fine-tuning uses 64-128)
    "length_buckets": _docs(lambda df: X.length_buckets(df, bucket_width=16)),
    # achievable-mixture waterfilling: uniform target weights over a
    # budget of 90% of corpus tokens -- short sources saturate and
    # their unmet share redistributes (budget = one bounded
    # build-time scalar collect; floor() mirrors Python int())
    "mixture_waterfill": (
        lambda spark, sf_dir: (
            lambda c: X.mixture_waterfill(
                c, budget=int(0.9 * c.agg(F.sum("capacity")).first()[0])
            )
        )(
            load_table(spark, sf_dir, "documents")
            .groupBy("source")
            .agg(
                F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+")))
                .cast("long")
                .alias("capacity")
            )
            .withColumn("weight", F.lit(1).cast("long"))
        )
    ),
    # UniMax (Chung et al. 2023): uniform budget split, epoch-capped
    # at 4 passes -- budget of 2x corpus tokens so small sources cap
    # and redistribute to big ones
    "unimax_allocation": (
        lambda spark, sf_dir: (
            lambda c: X.unimax_allocation(
                c, budget=int(2 * c.agg(F.sum("capacity")).first()[0])
            )
        )(
            load_table(spark, sf_dir, "documents")
            .groupBy("source")
            .agg(
                F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+")))
                .cast("long")
                .alias("capacity")
            )
        )
    ),
    # data-constrained epoch planning (Muennighoff et al. 2023):
    # budget of 2.5x corpus tokens -- every source serves its first
    # two epochs in full, the third fills partially in utility order
    "epoch_plan": (
        lambda spark, sf_dir: (
            lambda c: X.epoch_plan(
                c, budget=int(2.5 * c.agg(F.sum("capacity")).first()[0])
            )
        )(
            load_table(spark, sf_dir, "documents")
            .groupBy("source")
            .agg(
                F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+")))
                .cast("long")
                .alias("capacity")
            )
            .withColumn("weight", F.lit(1).cast("long"))
        )
    ),
    # the ACTING sibling of epoch_plan: materialize the planned
    # repetitions into the physical (doc, copy) stream at the same
    # 2.5x budget -- full copies per epochs_bp // 10000, fractional
    # remainder selected by the consistent md5 hash
    "epoch_expand": (
        lambda spark, sf_dir: (
            lambda docs: X.epoch_expand(
                docs,
                (
                    lambda c: X.epoch_plan(
                        c, budget=int(2.5 * c.agg(F.sum("capacity")).first()[0])
                    )
                )(
                    docs.groupBy("source")
                    .agg(
                        F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+")))
                        .cast("long")
                        .alias("capacity")
                    )
                    .withColumn("weight", F.lit(1).cast("long"))
                ),
            ).orderBy("doc_id", "copy")
        )(load_table(spark, sf_dir, "documents"))
    ),
    # T5-style deterministic span-corruption plan (15% / 3-token spans)
    "denoising_spans": _docs(X.denoising_spans),
    # the ACTING sibling: the plan materialized into the T5
    # input/target pair (sentinels + masked-span concatenation)
    "denoise_render": _docs(X.denoise_render),
    # FIM transformation plan (Bavarian et al. 2022): deterministic
    # doc selection + two uniform md5 cut points, one row per doc
    "fim_split": _docs(X.fim_split),
    # the ACTING sibling: the planned PSM rearrangement materialized
    # as training-ready text (sentinels + sliced token segments)
    "fim_render": _docs(X.fim_render),
    # the dataset-card summary (Gebru et al. 2021): per (source, lang)
    # mass + quality-signal means + published-gate pass rates
    "corpus_card": _docs(X.corpus_card),
    # memorization-audit canary registry: the injected (doc, canary)
    # ground truth a post-training memorization eval joins against;
    # rate 500bp so the synthetic corpus yields a real sample
    "canary_registry": _docs(
        lambda df: X.inject_canaries(df, rate_bp=500)
        .filter(F.col("is_canary"))
        .select("doc_id", "canary")
    ),
    # DSIR importance scoring: target domain = the benchmark slice
    # (the same target stance as novelty_scores), raw = the rest
    "dsir_scores": (
        lambda spark, sf_dir: X.dsir_scores(
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") != _BENCH_SOURCE
            ),
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") == _BENCH_SOURCE
            ),
        )
    ),
    # text similarity search end-to-end: hashed-BoW vectors through
    # the multi-table LSH kNN (no learned model anywhere); queries =
    # the first five docs, self-matches excluded by knn_lsh. The
    # encoded frame feeds both join sides -- lazily checkpointed so
    # the md5-per-token encoder runs once, not once per side
    "text_knn": (
        lambda spark, sf_dir: (
            lambda e: V.knn_lsh(
                e,
                e.filter(F.col("vec_id") < 5).select(
                    F.col("vec_id").alias("query_id"), "embedding"
                ),
                k=10,
            )
        )(
            X.hash_embed(load_table(spark, sf_dir, "documents")).localCheckpoint(
                eager=False
            )
        )
    ),
    # feature-hashing encoder bridge: scalar projections of the
    # hashed document vectors (nnz + two components + L1 pin the
    # whole vector; arrays themselves stay out of the compare frame)
    "hash_embed_stats": _docs(
        lambda df: (
            lambda e: e.select(
                "vec_id",
                F.size(F.filter("embedding", lambda x: x != 0.0))
                .cast("long")
                .alias("nnz"),
                F.round(F.element_at("embedding", 1), 6).alias("e0"),
                F.round(F.element_at("embedding", 2), 6).alias("e1"),
                F.round(
                    F.aggregate(
                        "embedding", F.lit(0.0), lambda a, x: a + F.abs(x)
                    ),
                    6,
                ).alias("l1"),
            )
        )(X.hash_embed(df))
    ),
    # CCNet head/middle/tail: per-language quantile bucketing of the
    # interpolated LM score (ascending, so head = low-perplexity top)
    "perplexity_buckets": _docs(
        lambda df: X.grouped_quantile_buckets(
            X.interp_logprob(df, carry_cols=("lang",)),
            "lang",
            "avg_interp_logprob",
        )
    ),
    # window=16/stride=8 because the synthetic docs average ~50 tokens
    # (production RAG chunking runs 256/192 -- same plan, bigger slices)
    "chunk_documents": _docs(lambda df: X.chunk_documents(df, window=16, stride=8)),
    # the acting sibling of span_dup_stats: remove all but the first
    # occurrence of every duplicated word 3-gram
    "span_dedup_rewrite": _docs(lambda df: X.span_dedup_rewrite(df, n=3)),
    # MOSS-style winnowing fingerprints: char-5-gram hashes, window-4
    # minima, zero shuffles (value-selection so both engines agree
    # without a positional tie rule)
    "winnow_fingerprints": _docs(X.winnow_fingerprints),
    # MOSS overlap detector over the winnowed sample (capped buckets)
    "winnow_overlap_pairs": _docs(
        lambda df: X.winnow_overlap_pairs(
            df, min_shared=2, max_bucket=DEDUP_MAX_BUCKET,
            on_low_coverage="warn",
        )
    ),
    # 'we can afford 10k training tokens': highest-alpha-ratio docs
    # admitted whole-bucket-wise until the token budget is spent
    "token_budget_select": _docs(
        lambda df: X.token_budget_select(
            X.quality_scores(df),
            budget=10_000,
            score_col="alpha_ratio",
            weight_col="n_tokens",
        ).select("doc_id", "alpha_ratio", "n_tokens")
    ),
    # first-merge BPE statistics: the aggregation a tokenizer-training
    # round maximizes (top adjacent character pairs, occurrence-weighted)
    "bpe_merge_stats": _docs(X.bpe_merge_stats),
    # the full iterative BPE trainer (bpe_merge_stats is one round):
    # 8 learned merges over the frequency-weighted word vocabulary.
    # Both entries probe the per-sf stored training artifact
    # (`bpe_train` -- merges table + per-word piece counts), the
    # materialized-index stance every other ingest-time artifact
    # here takes: training runs ONCE per process per sf instead of
    # the 8-round DAG executing twice per suite pass (ADVICE r11).
    # Value-identical to inline training (parquet-exact
    # strings/longs); the oracles replay the full training from the
    # corpus.
    "bpe_train": (
        lambda spark, sf_dir: spark.read.parquet(
            f"{artifact_path(spark, sf_dir, 'bpe_train')}/merges"
        )
    ),
    # ...and its downstream half: encode the corpus with the learned
    # tokenizer (per-doc piece counts + integer-bp fertility) via the
    # stored vocabulary join (operators/text.py bpe_encode_with_vocab)
    "bpe_encode": (
        lambda spark, sf_dir: X.bpe_encode_with_vocab(
            load_table(spark, sf_dir, "documents"),
            spark.read.parquet(f"{artifact_path(spark, sf_dir, 'bpe_train')}/vocab"),
        )
    ),
    # vocab-based numericalization: frequency-ranked ids, 0 = unk
    "tokenize_corpus": _docs(lambda df: X.tokenize_corpus(df, vocab_size=200)),
    # C4 line-level cleaning (the synthetic corpus has no sentence
    # punctuation, so every line is dropped -- the oracle still
    # checks the full rule computation; the semantics are exercised
    # on real sentence data in tests/test_text.py)
    "c4_clean": _docs(X.c4_clean),
    # the full published Gopher quality rule set, per-rule signals +
    # the conjunction
    "gopher_quality": _docs(X.gopher_quality),
    # per-source domain quotas: a stable md5-ordered sample per source
    "source_quota_sample": _docs(
        lambda df: X.source_quota_sample(df, max_per_source=10).select(
            "doc_id", "source", "lang"
        )
    ),
    # hot-source fallback: histogram-threshold quota, result-identical
    # to the rank form (shares its oracle verbatim below)
    "source_quota_hot": _docs(
        lambda df: X.source_quota_sample_hot(df, max_per_source=10).select(
            "doc_id", "source", "lang"
        )
    ),
    # exact stratified eval holdout: floor(n*bp/10000) per (source,
    # lang) stratum in the seeded md5 order -- integer-exact per
    # stratum, unlike a global hash gate
    "stratified_holdout": _docs(
        lambda df: X.stratified_holdout(df, eval_frac=0.1).select(
            "doc_id", "source", "lang", "split"
        )
    ),
}

_STOPLIST = ", ".join(f"'{w}'" for w in X.STOPWORDS)
_NORM_TEXT = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

TEXT_SQL: dict[str, str] = {
    "doc_features": f"""
WITH t AS (
  SELECT doc_id, lang, text,
         string_split_regex(trim(lower(text)), '\\s+') AS tk,
         {_NORM_TEXT} AS nrm
  FROM documents
),
s AS (
  SELECT doc_id, lang, text, tk, nrm,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["en"])}))) AS score_en,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["de"])}))) AS score_de,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["es"])}))) AS score_es,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["fr"])}))) AS score_fr
  FROM t
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS BIGINT) AS n_bpe_tokens,
       round(length(trim(text)) / greatest(len(tk), 1), 4) AS avg_token_len,
       round(len(list_filter(tk, x -> x IN ({_STOPLIST}))) / greatest(len(tk), 1), 4) AS stopword_ratio,
       round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / greatest(length(text), 1), 4) AS alpha_ratio,
       lang AS labeled_lang,
       CASE WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
            WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
            WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
            WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
            WHEN score_fr = greatest(score_en, score_de, score_es, score_fr) THEN 'fr'
       END AS predicted_lang,
       md5(nrm) AS fingerprint,
       ('0x' || substr(md5(nrm), 1, 15))::BIGINT AS fingerprint64
FROM s
""",
    "consistent_sample": """
SELECT doc_id, lang, n_chars FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 20
""",
    "training_shuffle": """
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key
  FROM documents
)
SELECT doc_id,
       CAST(key % 16 AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY key % 16 ORDER BY key, doc_id) AS BIGINT) AS pos
FROM k
""",
    "shard_manifest": """
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key
  FROM documents
),
sp AS (
  SELECT doc_id,
         CAST(key % 16 AS BIGINT) AS shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY key % 16 ORDER BY key, doc_id) AS BIGINT) AS pos
  FROM k
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT) AS id_digest
FROM sp GROUP BY shard
""",
    "stratified_sample": """
WITH r AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
         CASE lang WHEN 'en' THEN 10 WHEN 'fr' THEN 40 WHEN 'es' THEN 40
                   WHEN 'zh' THEN 100 WHEN 'de' THEN 100 ELSE 0 END AS rate_pct
  FROM documents
)
SELECT lang AS stratum, rate_pct, count(*) AS total,
       CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS sampled
FROM r GROUP BY 1, 2
""",
    "vocab_top_words": """
WITH t AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token FROM documents
)
SELECT token, count(*) AS freq FROM t WHERE token <> ''
GROUP BY token ORDER BY freq DESC, token LIMIT 100
""",
    "corpus_selection": f"""
WITH t AS (
  SELECT doc_id, text, source, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
q AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / greatest(length(text), 1), 4) AS alpha_ratio
  FROM t
),
sc AS (
  SELECT doc_id,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["en"])}))) AS score_en,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["de"])}))) AS score_de,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["es"])}))) AS score_es,
         len(list_filter(tk, x -> x IN ({", ".join(repr(w) for w in X.LANG_MARKERS["fr"])}))) AS score_fr
  FROM t
),
pred AS (
  SELECT doc_id,
         CASE WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
              WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
              WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
              WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
              WHEN score_fr = greatest(score_en, score_de, score_es, score_fr) THEN 'fr'
         END AS predicted_lang
  FROM sc
),
keep AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5({_NORM_TEXT})
)
SELECT d.doc_id, d.source, p.predicted_lang, q.n_tokens
FROM documents d
JOIN q USING (doc_id)
JOIN pred p USING (doc_id)
JOIN keep k ON d.doc_id = k.doc_id
WHERE q.n_tokens >= {C.MIN_TOKENS} AND q.alpha_ratio >= {C.MIN_ALPHA_RATIO}
  AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < {C.SAMPLE_PCT}
""",
    "tokenizer_fertility": """
WITH t AS (
  SELECT lang, CAST(length(text) AS BIGINT) AS c,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS BIGINT) AS b
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS n_chars,
       CAST(sum(w) AS BIGINT) AS n_ws_tokens,
       CAST(sum(b) AS BIGINT) AS n_bpe_tokens,
       CAST(floor(sum(c) * 10000.0 / greatest(sum(w), 1)) AS BIGINT) AS ws_fertility_bp,
       CAST(floor(sum(c) * 10000.0 / greatest(sum(b), 1)) AS BIGINT) AS bpe_fertility_bp
FROM t GROUP BY lang
""",
    "tfidf_top_terms": """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS docfreq FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, round(score, 6) AS tfidf, CAST(rn AS INT) AS rank FROM (
  SELECT doc_id, term, tf * ln((n_docs + 1.0) / (docfreq + 1.0)) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf * ln((n_docs + 1.0) / (docfreq + 1.0)) DESC, term) AS rn
  FROM tf JOIN dfreq USING (term), n
) WHERE rn <= 5
""",
}

# bm25_rank oracle: generated from the SAME term list and k1/b
# constants the Spark plan uses; every arithmetic expression is the
# identical left-associated tree, and per-term scores quantize to
# BIGINT ppm before the across-terms sum (order-independent in both
# engines).
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TF = ",\n         ".join(
    f"CAST(len(list_filter(w, t -> t = '{t}')) AS BIGINT) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_DF = ",\n         ".join(
    f"CAST(coalesce(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_SCORE = "\n       + ".join(
    f"CAST(round(1000000.0 * ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
    f" * ((tf{i} * {_BM25_K1 + 1.0}) / (tf{i} + {_BM25_K1} *"
    f" ({1.0 - _BM25_B} + {_BM25_B} * dl / (sl / n))))) AS BIGINT)"
    for i in range(len(_BM25_TERMS))
)

TEXT_SQL["bm25_rank"] = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') AS w
  FROM documents
),
proj AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         {_BM25_TF}
  FROM tk
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS DOUBLE) AS sl,
         {_BM25_DF}
  FROM proj
),
sc AS (
  SELECT doc_id, dl,
         {_BM25_SCORE} AS score_ppm
  FROM proj, st
)
SELECT doc_id, dl, score_ppm,
       CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS INT) AS rank
FROM sc WHERE score_ppm > 0
ORDER BY score_ppm DESC, doc_id LIMIT 10
"""

# pii_stats / weighted_mix oracles are generated from the same pattern
# and weight tables the Spark operators use, so the two can't drift.
_PII_SELECT = ",\n         ".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{kind}"
    for kind, pat in X.PII_PATTERNS.items()
)
_PII_AGGS = ",\n       ".join(
    f"CAST(sum(n_{kind}) AS BIGINT) AS total_{kind},\n       "
    f"CAST(sum(CASE WHEN n_{kind} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_{kind}"
    for kind in X.PII_PATTERNS
)
_PII_TOTAL = " + ".join(f"n_{kind}" for kind in X.PII_PATTERNS)
_MIX_CASE = " ".join(f"WHEN '{src}' THEN {pct}" for src, pct in _MIX_WEIGHTS.items())

TEXT_SQL["pii_stats"] = f"""
WITH s AS (
  SELECT {_PII_SELECT}
  FROM documents
),
t AS (SELECT *, {_PII_TOTAL} AS pii_hits FROM s)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pii_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       {_PII_AGGS}
FROM t
"""

# redaction chain generated from the same pattern table, applied in
# the same order over the previous rewrite's output on both engines;
# each pattern's count runs against the PREVIOUS rewrite (mirroring
# the operator), so redacted_count = placeholders actually inserted
_PII_REDACT = "text"
_PII_COUNTS: list[str] = []
for _kind, _pat in X.PII_PATTERNS.items():
    _PII_COUNTS.append(f"len(regexp_extract_all({_PII_REDACT}, '{_pat}'))")
    _PII_REDACT = f"regexp_replace({_PII_REDACT}, '{_pat}', '<{_kind.upper()}>', 'g')"
_PII_COUNT_TOTAL = " + ".join(_PII_COUNTS)

TEXT_SQL["pii_redact"] = f"""
SELECT doc_id,
       CAST({_PII_COUNT_TOTAL} AS BIGINT) AS redacted_count,
       {_PII_REDACT} AS clean_text
FROM documents
"""

# packing health: the pack_sequences CTE grouped per shard
TEXT_SQL["packing_efficiency"] = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
p AS (
  SELECT source, n_tokens,
         CAST((cum - n_tokens + greatest(n_tokens, 1) - 1) // {_PACK_BUDGET} AS BIGINT) AS last_seq
  FROM c
),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(max(last_seq) + 1 AS BIGINT) AS n_sequences
  FROM p GROUP BY source
)
SELECT source, n_docs, total_tokens, n_sequences,
       CAST(n_sequences * {_PACK_BUDGET} - total_tokens AS BIGINT) AS padding_tokens,
       round(total_tokens / (n_sequences * {_PACK_BUDGET}), 4) AS fill_ratio
FROM g
"""

TEXT_SQL["weighted_mix"] = f"""
SELECT doc_id, source, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
      CASE source {_MIX_CASE} ELSE 0 END
"""

TEXT_SQL["benchmark_contamination"] = f"""
WITH tok AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
grams AS (
  SELECT doc_id, source, array_to_string(tk[i:i+2], ' ') AS gram
  FROM tok, UNNEST(generate_series(1, len(tk) - 2)) AS t(i)
),
bench AS (SELECT DISTINCT gram FROM grams WHERE source = '{_BENCH_SOURCE}'),
corpus AS (SELECT DISTINCT doc_id, gram FROM grams WHERE source <> '{_BENCH_SOURCE}')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap_grams
FROM corpus JOIN bench USING (gram)
GROUP BY doc_id
"""

TEXT_SQL["novelty_scores"] = f"""
WITH tok AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
grams AS (
  SELECT doc_id, source, array_to_string(tk[i:i+2], ' ') AS gram
  FROM tok, UNNEST(generate_series(1, len(tk) - 2)) AS t(i)
),
ref AS (SELECT DISTINCT gram FROM grams WHERE source = '{_BENCH_SOURCE}'),
corpus AS (SELECT DISTINCT doc_id, gram FROM grams WHERE source <> '{_BENCH_SOURCE}'),
m AS (
  SELECT corpus.doc_id, CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END AS novel
  FROM corpus LEFT JOIN ref USING (gram)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(novel) AS BIGINT) AS novel_grams,
       round(sum(novel) / count(*), 4) AS novelty
FROM m GROUP BY doc_id
"""

TEXT_SQL["temperature_mix"] = """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
t AS (SELECT sum(n) AS N FROM c),
r AS (
  SELECT source,
         least(10000, CAST(round(0.5 * t.N * (power(c.n / t.N, 0.5) / sum(power(c.n / t.N, 0.5)) OVER ()) / c.n * 10000) AS BIGINT)) AS rate_bp
  FROM c, t
)
SELECT d.doc_id, d.source, r.rate_bp
FROM documents d JOIN r ON d.source = r.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < r.rate_bp
"""

TEXT_SQL["bigram_logprob"] = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
b AS (
  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
  FROM t, UNNEST(range(1, greatest(len(tk), 1))) AS u(i)
  WHERE len(tk) >= 2 AND tk[CAST(i AS INT)] <> '' AND tk[CAST(i + 1 AS INT)] <> ''
),
cbg AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
cctx AS (SELECT w1, count(*) AS cc FROM b GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored_bigrams,
       round(avg(ln(cb / cc)), 4) AS avg_bigram_logprob
FROM b JOIN cbg USING (w1, w2) JOIN cctx USING (w1)
GROUP BY doc_id
"""

TEXT_SQL["interp_logprob"] = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
b AS (
  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
  FROM t, UNNEST(range(1, greatest(len(tk), 1))) AS u(i)
  WHERE len(tk) >= 2 AND tk[CAST(i AS INT)] <> '' AND tk[CAST(i + 1 AS INT)] <> ''
),
cbg AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
cctx AS (SELECT w1, count(*) AS cc FROM b GROUP BY 1),
ccon AS (SELECT w2, count(*) AS cw FROM b GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored_bigrams,
       round(avg(ln({X.INTERP_LAMBDA} * (cb / cc) + {1 - X.INTERP_LAMBDA} * (cw / n))), 4) AS avg_interp_logprob
FROM b JOIN cbg USING (w1, w2) JOIN cctx USING (w1) JOIN ccon USING (w2), tot
GROUP BY doc_id
"""

TEXT_SQL["length_buckets"] = """
WITH t AS (
  SELECT len(string_split_regex(trim(lower(text)), '\\s+')) AS n FROM documents
),
b AS (
  SELECT greatest(CAST(floor((n - 1) / 16.0) AS BIGINT), 0) AS bucket, n FROM t
),
g AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS docs, CAST(sum(n) AS BIGINT) AS tokens
  FROM b GROUP BY bucket
)
SELECT bucket, CAST((bucket + 1) * 16 AS BIGINT) AS ceiling, docs, tokens,
       CAST(docs * (bucket + 1) * 16 - tokens AS BIGINT) AS pad_tokens,
       round((docs * (bucket + 1) * 16 - tokens) * 1.0 / (docs * (bucket + 1) * 16), 4) AS pad_frac
FROM g
"""

TEXT_SQL["corpus_diversity"] = """
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
u AS (SELECT unnest(tk) AS g FROM tok),
u1 AS (SELECT g, count(*) AS c FROM u WHERE g <> '' GROUP BY g),
s1 AS (SELECT CAST(sum(c) AS BIGINT) AS t1, CAST(count(*) AS BIGINT) AS d1 FROM u1),
g2 AS (
  SELECT array_to_string(tk[i:i+1], ' ') AS g
  FROM tok, UNNEST(generate_series(1, len(tk) - 1)) AS x(i)
),
u2 AS (SELECT g, count(*) AS c FROM g2 GROUP BY g),
s2 AS (SELECT CAST(sum(c) AS BIGINT) AS t2, CAST(count(*) AS BIGINT) AS d2 FROM u2),
g3 AS (
  SELECT array_to_string(tk[i:i+2], ' ') AS g
  FROM tok, UNNEST(generate_series(1, len(tk) - 2)) AS x(i)
),
u3 AS (SELECT g, count(*) AS c FROM g3 GROUP BY g),
s3 AS (SELECT CAST(sum(c) AS BIGINT) AS t3, CAST(count(*) AS BIGINT) AS d3 FROM u3),
topv AS (SELECT g, c FROM u1 ORDER BY c DESC, g LIMIT 1000),
xy AS (
  SELECT ln(row_number() OVER (ORDER BY c DESC, g)) AS x, ln(c) AS y FROM topv
),
fit AS (
  SELECT (avg(x * y) - avg(x) * avg(y)) / nullif(avg(x * x) - avg(x) * avg(x), 0) AS s,
         CAST(count(*) AS BIGINT) AS fit_vocab
  FROM xy
)
SELECT t1 AS total_tokens, d1 AS vocab_size,
       round(d1 * 1.0 / t1, 4) AS distinct_1,
       round(d2 * 1.0 / t2, 4) AS distinct_2,
       round(d3 * 1.0 / t3, 4) AS distinct_3,
       round(s, 4) AS zipf_slope, fit_vocab
FROM s1, s2, s3, fit
"""

# corpus_drift: both snapshot counts come from ONE token aggregation
# (mirroring the single-pass Spark plan); shares are integer-div
# basis points so the whole report stays engine-exact
TEXT_SQL["corpus_drift"] = """
WITH t AS (
  SELECT CAST(doc_id % 2 AS BIGINT) AS snap,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
c AS (
  SELECT token,
         CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS count_old,
         CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS count_new
  FROM t WHERE token <> '' GROUP BY token
),
tot AS (
  SELECT greatest(CAST(sum(count_old) AS BIGINT), 1) AS tot_old,
         greatest(CAST(sum(count_new) AS BIGINT), 1) AS tot_new
  FROM c
),
sh AS (
  SELECT token, count_old, count_new,
         CAST(count_old * 10000 // tot_old AS BIGINT) AS share_old_bp,
         CAST(count_new * 10000 // tot_new AS BIGINT) AS share_new_bp
  FROM c, tot
)
SELECT token, count_old, count_new, share_old_bp, share_new_bp,
       CAST(share_new_bp - share_old_bp AS BIGINT) AS drift_bp
FROM sh
ORDER BY abs(share_new_bp - share_old_bp) DESC, token LIMIT 50
"""

TEXT_SQL["mixture_waterfill"] = """
WITH c AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT) AS capacity,
         CAST(1 AS BIGINT) AS weight
  FROM documents GROUP BY source
),
bdg AS (SELECT CAST(floor(0.9 * sum(capacity)) AS DOUBLE) AS b FROM c),
tot AS (SELECT CAST(sum(capacity) AS DOUBLE) AS tc, CAST(sum(weight) AS DOUBLE) AS tw FROM c),
cum AS (
  SELECT *,
         sum(capacity) OVER (ORDER BY capacity * 1.0 / weight, source
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc,
         sum(weight) OVER (ORDER BY capacity * 1.0 / weight, source
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pw
  FROM c
),
fl AS (
  SELECT cum.*, tot.tw, bdg.b,
         (capacity * 1.0 / weight) < ((bdg.b - coalesce(pc, 0)) / (tot.tw - coalesce(pw, 0))) AS flag
  FROM cum, tot, bdg
),
run AS (
  SELECT *, CAST(min(CASE WHEN flag THEN 1 ELSE 0 END)
                 OVER (ORDER BY capacity * 1.0 / weight, source
                       ROWS UNBOUNDED PRECEDING) AS BOOLEAN) AS saturated
  FROM fl
),
sat AS (
  SELECT CAST(coalesce(sum(CASE WHEN saturated THEN capacity END), 0) AS DOUBLE) AS sc,
         CAST(coalesce(sum(CASE WHEN saturated THEN weight END), 0) AS DOUBLE) AS sw
  FROM run
)
SELECT source, capacity, weight,
       CAST(CASE WHEN saturated THEN capacity
            ELSE least(capacity * 1.0, round((b - sc) / greatest(tw - sw, 1e-12) * weight)) END AS BIGINT) AS alloc,
       saturated
FROM run, sat
"""

# unimax_allocation: the waterfill oracle run on epoch-capped
# capacities (4x) with uniform weights at budget 2x corpus tokens,
# mapped back to raw capacity + integer-bp epochs -- the fill CTEs
# mirror TEXT_SQL["mixture_waterfill"] exactly
TEXT_SQL["unimax_allocation"] = """
WITH c0 AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT) AS rawcap
  FROM documents GROUP BY source
),
c AS (
  SELECT source, CAST(rawcap * 4 AS BIGINT) AS capacity,
         CAST(1 AS BIGINT) AS weight, rawcap
  FROM c0
),
bdg AS (SELECT CAST(floor(2 * sum(rawcap)) AS DOUBLE) AS b FROM c),
tot AS (SELECT CAST(sum(capacity) AS DOUBLE) AS tc, CAST(sum(weight) AS DOUBLE) AS tw FROM c),
cum AS (
  SELECT *,
         sum(capacity) OVER (ORDER BY capacity * 1.0 / weight, source
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc,
         sum(weight) OVER (ORDER BY capacity * 1.0 / weight, source
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pw
  FROM c
),
fl AS (
  SELECT cum.*, tot.tw, bdg.b,
         (capacity * 1.0 / weight) < ((bdg.b - coalesce(pc, 0)) / (tot.tw - coalesce(pw, 0))) AS flag
  FROM cum, tot, bdg
),
run AS (
  SELECT *, CAST(min(CASE WHEN flag THEN 1 ELSE 0 END)
                 OVER (ORDER BY capacity * 1.0 / weight, source
                       ROWS UNBOUNDED PRECEDING) AS BOOLEAN) AS saturated
  FROM fl
),
sat AS (
  SELECT CAST(coalesce(sum(CASE WHEN saturated THEN capacity END), 0) AS DOUBLE) AS sc,
         CAST(coalesce(sum(CASE WHEN saturated THEN weight END), 0) AS DOUBLE) AS sw
  FROM run
),
filled AS (
  SELECT source, rawcap,
         CAST(CASE WHEN saturated THEN capacity
              ELSE least(capacity * 1.0, round((b - sc) / greatest(tw - sw, 1e-12) * weight)) END AS BIGINT) AS alloc,
         saturated
  FROM run, sat
)
SELECT source, rawcap AS capacity, alloc,
       CAST(alloc * 10000 // greatest(rawcap, 1) AS BIGINT) AS epochs_bp,
       saturated
FROM filled
"""

# data-constrained epoch planning: (source, epoch) units filled
# greedily by the integer utility key w * decay^(e-1) * 10000^(E-e)
# (exact small-integer powers -- identical BIGINTs on both engines);
# allocation is pure integer min/max against the cumulative fill
TEXT_SQL["epoch_plan"] = """
WITH c AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT) AS capacity,
         CAST(1 AS BIGINT) AS weight
  FROM documents GROUP BY source
),
bdg AS (SELECT CAST(floor(2.5 * sum(capacity)) AS BIGINT) AS b FROM c),
units AS (
  -- utility factors 5000^(e-1) * 10000^(4-e) as exact BIGINT
  -- literals (mirrors the operator: no double power())
  SELECT source, capacity, weight, CAST(u.e AS BIGINT) AS epoch,
         weight * (CASE u.e WHEN 1 THEN 1000000000000
                            WHEN 2 THEN 500000000000
                            WHEN 3 THEN 250000000000
                            ELSE 125000000000 END) AS key
  FROM c, UNNEST(range(1, 5)) AS u(e)
),
cum AS (
  SELECT *,
         coalesce(sum(capacity) OVER (ORDER BY key DESC, source, epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pc
  FROM units
),
a AS (
  SELECT source, capacity, weight,
         greatest(0, least(capacity, b - pc)) AS alloc
  FROM cum, bdg
)
SELECT source, capacity, weight,
       CAST(sum(alloc) AS BIGINT) AS tokens_served,
       CAST(CASE WHEN capacity > 0
            THEN floor(sum(alloc) * 10000.0 / capacity) ELSE 0 END AS BIGINT) AS epochs_bp
FROM a GROUP BY source, capacity, weight
"""

# epoch_expand: the plan SQL embedded verbatim, realized doc-level --
# floor(epochs_bp/10000) full copies for every doc, the fractional
# remainder selected by the consistent md5-bucket hash (the
# consistent_sample idiom), one output row per (doc, copy)
TEXT_SQL["epoch_expand"] = """
WITH plan AS ({plan}),
per AS (
  SELECT source, CAST(epochs_bp // 10000 AS BIGINT) AS fl,
         CAST(epochs_bp % 10000 AS BIGINT) AS frac
  FROM plan
),
d AS (
  SELECT doc_id, documents.source, fl, frac,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bkt
  FROM documents JOIN per ON documents.source = per.source
),
c AS (
  SELECT doc_id, source,
         fl + CASE WHEN bkt < frac THEN 1 ELSE 0 END AS copies
  FROM d
)
SELECT doc_id, source, CAST(u.i AS BIGINT) AS copy
FROM c, UNNEST(range(1, copies + 1)) AS u(i)
WHERE copies > 0
ORDER BY doc_id, copy
""".format(plan=TEXT_SQL["epoch_plan"])


TEXT_SQL["denoising_spans"] = """
WITH t AS (
  SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS n FROM documents
),
bl AS (
  SELECT doc_id, n, CAST(u.b AS BIGINT) AS b
  FROM t, UNNEST(range(0, CAST(ceil(n / 3.0) AS BIGINT))) AS u(b)
  WHERE n > 0
),
selb AS (
  SELECT doc_id, n, b,
         row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS span_id
  FROM bl
  WHERE ('0x' || substr(md5('span|' || CAST(doc_id AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 10000 < 1500
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(span_id AS INT) AS span_id,
       CAST(b * 3 AS BIGINT) AS start, CAST(least(3, n - b * 3) AS BIGINT) AS length
FROM selb
"""

# denoise_render: same block selection, materialized -- per-block
# string pieces (sentinel for selected blocks, the tokens otherwise)
# string_agg'd in block order; the target concatenates sentinel +
# masked tokens per selected span. DuckDB list slices are 1-based
# inclusive-end.
TEXT_SQL["denoise_render"] = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n
  FROM documents
),
bl AS (
  SELECT t.doc_id, t.tk, t.n, CAST(u.b AS BIGINT) AS b,
         ('0x' || substr(md5('span|' || CAST(t.doc_id AS VARCHAR) || '|' || CAST(u.b AS VARCHAR)), 1, 15))::BIGINT % 10000 < 1500 AS selected
  FROM t, UNNEST(range(0, CAST(ceil(n / 3.0) AS BIGINT))) AS u(b)
  WHERE n > 0
),
sel AS (
  SELECT doc_id, b,
         row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS k
  FROM bl WHERE selected
),
pieces AS (
  SELECT bl.doc_id, bl.b,
         CASE WHEN bl.selected THEN '<extra_id_' || sel.k || '>'
              ELSE array_to_string(bl.tk[CAST(bl.b * 3 + 1 AS INT) : CAST(least(bl.n, bl.b * 3 + 3) AS INT)], ' ')
         END AS piece
  FROM bl LEFT JOIN sel ON bl.doc_id = sel.doc_id AND bl.b = sel.b
),
inp AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY b) AS input_text
  FROM pieces GROUP BY doc_id
),
tgt AS (
  SELECT sel.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         string_agg(
           '<extra_id_' || sel.k || '> ' ||
           array_to_string(bl.tk[CAST(sel.b * 3 + 1 AS INT) : CAST(least(bl.n, sel.b * 3 + 3) AS INT)], ' '),
           ' ' ORDER BY sel.b) AS target_text
  FROM sel JOIN bl ON sel.doc_id = bl.doc_id AND sel.b = bl.b
  GROUP BY sel.doc_id
)
SELECT i.doc_id,
       coalesce(g.n_spans, 0) AS n_spans,
       i.input_text,
       coalesce(g.target_text, '') AS target_text
FROM inp i LEFT JOIN tgt g ON i.doc_id = g.doc_id
"""


# fim_split: selection + cut points are independent md5 draws (the
# denoising_spans idiom); cut points over [0, n] with lo/hi ordering;
# unselected docs stay autoregressive (prefix = whole doc)
TEXT_SQL["fim_split"] = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n
  FROM documents
),
h AS (
  SELECT doc_id, n,
         ('0x' || substr(md5('fim|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 5000 AS applied,
         ('0x' || substr(md5('fimc1|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % (n + 1) AS c1,
         ('0x' || substr(md5('fimc2|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % (n + 1) AS c2
  FROM t WHERE n > 0
)
SELECT doc_id, n AS n_tokens,
       CAST(CASE WHEN applied THEN 1 ELSE 0 END AS BIGINT) AS fim_applied,
       CAST(CASE WHEN applied THEN least(c1, c2) ELSE n END AS BIGINT) AS prefix_len,
       CAST(CASE WHEN applied THEN greatest(c1, c2) - least(c1, c2) ELSE 0 END AS BIGINT) AS middle_len,
       CAST(CASE WHEN applied THEN n - greatest(c1, c2) ELSE 0 END AS BIGINT) AS suffix_len
FROM h
"""

# fim_render: same hash draws, the rearrangement itself -- DuckDB
# list slicing (1-based, zero-length slices legal) + sentinel concat
TEXT_SQL["fim_render"] = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n
  FROM documents
),
h AS (
  SELECT doc_id, tk, n,
         ('0x' || substr(md5('fim|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 5000 AS applied,
         ('0x' || substr(md5('fimc1|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % (n + 1) AS c1,
         ('0x' || substr(md5('fimc2|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % (n + 1) AS c2
  FROM t WHERE n > 0
),
cuts AS (
  SELECT doc_id, tk, n, applied,
         least(c1, c2) AS lo, greatest(c1, c2) AS hi
  FROM h
)
SELECT doc_id,
       CAST(CASE WHEN applied THEN 1 ELSE 0 END AS BIGINT) AS fim_applied,
       CASE WHEN applied THEN array_to_string(
              ['<PRE>'] || tk[1:lo] || ['<SUF>'] || tk[hi+1:n] || ['<MID>'] || tk[lo+1:hi],
              ' ')
            ELSE array_to_string(tk, ' ') END AS rendered
FROM cuts
"""



TEXT_SQL["canary_registry"] = """
SELECT doc_id,
       'canary-' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS canary
FROM documents
WHERE ('0x' || substr(md5('canary' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 500
"""

# hash_embed's dense vectors rebuilt in SQL (dims grid x signed
# counts, same mask/shift hash, same 1e-12 norm guard) -- the shared
# CTE prefix (ends at `e`: vec_id, unit vector v) every hashed-vector
# oracle composes with _table_buckets_sql
_HASH_EMBED_E_SQL = f"""WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
t AS (SELECT doc_id, unnest(tk) AS token FROM tok),
h AS (SELECT doc_id, {H64_SQL.format(x="token")} AS hv FROM t WHERE token <> ''),
fv AS (
  SELECT doc_id, CAST(hv % 64 AS INT) AS d,
         CASE WHEN (hv >> 6) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
  FROM h
),
sv AS (SELECT doc_id, d, sum(sgn) AS val FROM fv GROUP BY doc_id, d),
grid AS (
  SELECT tok.doc_id, CAST(u.i AS INT) AS d FROM tok, UNNEST(range(0, 64)) AS u(i)
),
dense AS (
  SELECT grid.doc_id, list(coalesce(sv.val, 0.0) ORDER BY grid.d) AS raw
  FROM grid LEFT JOIN sv ON grid.doc_id = sv.doc_id AND grid.d = sv.d
  GROUP BY grid.doc_id
),
e AS (
  SELECT doc_id AS vec_id,
         list_transform(raw, x -> x / greatest(sqrt(list_dot_product(raw, raw)), 1e-12)) AS v
  FROM dense
)"""

# text ANN: the hashed-vector prefix, then the knn_lsh oracle body
# verbatim over them
TEXT_SQL["text_knn"] = f"""
{_HASH_EMBED_E_SQL},
{_table_buckets_sql(V.LSH_TABLES)},
q AS (SELECT vec_id AS query_id, v AS qv, tbl, bkt FROM b WHERE vec_id < 5),
scored AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, {COSINE_SQL.format(a="q.qv", b="c.v")} AS cosine
  FROM b c JOIN q ON c.tbl = q.tbl AND c.bkt = q.bkt
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 10
"""

# bm25_indexed answers the SAME query with the SAME quantization
# contract as the scan form (per-term BIGINT-ppm then an
# order-independent integer sum), so the scan form's oracle IS its
# oracle -- result-identity additionally pinned Spark-vs-Spark by test
TEXT_SQL["bm25_indexed"] = TEXT_SQL["bm25_rank"]


# cms_heavy_hitters: the Count-Min cells replayed per depth row (the
# same 'cms{i}|' salts), sketch + exact candidates + min-over-rows
# estimate; 'row' renamed rw SQL-side (reserved-ish), output columns
# unchanged
def _cms_cell_sql(i: int, tok: str) -> str:
    salted = f"'cms{i}|' || {tok}"
    return f"CAST({H64_SQL.format(x=salted)} % {K.CMS_WIDTH} AS INT)"


_CMS_CELLS_UNION = "\n  UNION ALL ".join(
    f"SELECT {i} AS rw, {_cms_cell_sql(i, 'token')} AS cell FROM tok"
    for i in range(K.CMS_DEPTH)
)
_CMS_CAND_UNION = "\n  UNION ALL ".join(
    f"SELECT token, exact_count, {i} AS rw, {_cms_cell_sql(i, 'token')} AS cell FROM cand"
    for i in range(K.CMS_DEPTH)
)
TEXT_SQL["cms_heavy_hitters"] = f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents
),
cells AS (
  {_CMS_CELLS_UNION}
),
sk AS (SELECT rw, cell, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY rw, cell),
cand AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count FROM tok
  GROUP BY token ORDER BY exact_count DESC, token LIMIT 20
),
cc AS (
  {_CMS_CAND_UNION}
),
est AS (
  SELECT cc.token, cc.exact_count, min(sk.c) AS cms_count
  FROM cc JOIN sk USING (rw, cell) GROUP BY cc.token, cc.exact_count
)
SELECT token, exact_count, cms_count,
       CAST((cms_count - exact_count) * 10000 // exact_count AS BIGINT) AS over_bp
FROM est ORDER BY exact_count DESC, token
"""


# hybrid_rank: RRF over the two registered retrieval routes -- the
# bm25_rank SQL embedded VERBATIM as the lexical member (the
# agreement-report pinning idiom), the corpus hash-embed chain shared
# with text_knn, and the query's OWN embedding replayed over a
# one-row literal (q-prefixed chain, vec_id -1 so no corpus doc
# self-excludes); buckets computed over the union so both sides hash
# through the identical plane matrices.
_HYBRID_Q_TEXT = " ".join(_BM25_TERMS)
TEXT_SQL["hybrid_rank"] = f"""
{_HASH_EMBED_E_SQL},
qsrc AS (SELECT CAST(-1 AS BIGINT) AS doc_id, '{_HYBRID_Q_TEXT}' AS text),
qtok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM qsrc
),
qt AS (SELECT doc_id, unnest(tk) AS token FROM qtok),
qh AS (SELECT doc_id, {H64_SQL.format(x="token")} AS hv FROM qt WHERE token <> ''),
qfv AS (
  SELECT doc_id, CAST(hv % 64 AS INT) AS d,
         CASE WHEN (hv >> 6) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
  FROM qh
),
qsv AS (SELECT doc_id, d, sum(sgn) AS val FROM qfv GROUP BY doc_id, d),
qgrid AS (
  SELECT qtok.doc_id, CAST(u.i AS INT) AS d FROM qtok, UNNEST(range(0, 64)) AS u(i)
),
qdense AS (
  SELECT qgrid.doc_id, list(coalesce(qsv.val, 0.0) ORDER BY qgrid.d) AS raw
  FROM qgrid LEFT JOIN qsv ON qgrid.doc_id = qsv.doc_id AND qgrid.d = qsv.d
  GROUP BY qgrid.doc_id
),
qe AS (
  SELECT doc_id AS vec_id,
         list_transform(raw, x -> x / greatest(sqrt(list_dot_product(raw, raw)), 1e-12)) AS v
  FROM qdense
),
allv AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM qe),
{_table_buckets_sql(V.LSH_TABLES, src="allv")},
q AS (SELECT vec_id AS query_id, v AS qv, tbl, bkt FROM b WHERE vec_id = -1),
scored AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, {COSINE_SQL.format(a="q.qv", b="c.v")} AS cosine
  FROM b c JOIN q ON c.tbl = q.tbl AND c.bkt = q.bkt
  WHERE c.vec_id <> -1
),
sem AS (
  SELECT neighbor_id AS doc_id, CAST(rnk AS INT) AS sem_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= 10
),
lex AS (SELECT doc_id, rank AS lex_rank FROM ({{BM25}})),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank
  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank,
       round(coalesce(1.0 / (60 + lex_rank), 0.0)
             + coalesce(1.0 / (60 + sem_rank), 0.0), 6) AS rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
""".replace("{BM25}", TEXT_SQL["bm25_rank"])
# the indexed composition is pinned result-identical to the scan-form
# fusion (same contract as bm25_indexed/bm25_rank): ONE oracle grades
# both registrations
TEXT_SQL["hybrid_rank_indexed"] = TEXT_SQL["hybrid_rank"]

TEXT_SQL["dsir_scores"] = f"""
WITH tok AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
tb AS (
  SELECT doc_id, source, CAST({H64_SQL.format(x="token")} % {X.DSIR_BUCKETS} AS INT) AS b
  FROM (SELECT doc_id, source, unnest(tk) AS token FROM tok)
  WHERE token <> ''
),
cb AS (SELECT doc_id, b FROM tb WHERE source <> '{_BENCH_SOURCE}'),
tgt AS (SELECT b FROM tb WHERE source = '{_BENCH_SOURCE}'),
rc AS (SELECT b, count(*) AS c FROM cb GROUP BY b),
rn AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM rc),
tc AS (SELECT b, count(*) AS c FROM tgt GROUP BY b),
tn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tgt),
ratio AS (
  SELECT rc.b,
         (CASE WHEN tc.c IS NULL THEN ln(1 / (tn.n + {X.DSIR_BUCKETS}))
               ELSE ln((tc.c + 1) / (tn.n + {X.DSIR_BUCKETS})) END)
         - ln((rc.c + 1) / (rn.n + {X.DSIR_BUCKETS})) AS lr8
  FROM rc LEFT JOIN tc USING (b), rn, tn
)
SELECT cb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(lr8), 4) AS avg_logratio
FROM cb JOIN ratio USING (b)
GROUP BY cb.doc_id
"""

TEXT_SQL["hash_embed_stats"] = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
t AS (SELECT doc_id, unnest(tk) AS token FROM tok),
h AS (SELECT doc_id, {H64_SQL.format(x="token")} AS hv FROM t WHERE token <> ''),
f AS (
  SELECT doc_id, CAST(hv % 64 AS INT) AS d,
         CASE WHEN (hv >> 6) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
  FROM h
),
v AS (SELECT doc_id, d, sum(sgn) AS val FROM f GROUP BY doc_id, d),
n AS (
  SELECT doc_id,
         greatest(sqrt(sum(val * val)), 1e-12) AS nrm,
         count(*) FILTER (val <> 0) AS nnz,
         sum(abs(val)) AS l1raw,
         coalesce(max(CASE WHEN d = 0 THEN val END), 0.0) AS v0,
         coalesce(max(CASE WHEN d = 1 THEN val END), 0.0) AS v1
  FROM v GROUP BY doc_id
)
SELECT tok.doc_id AS vec_id,
       CAST(coalesce(nnz, 0) AS BIGINT) AS nnz,
       round(coalesce(v0 / nrm, 0.0), 6) AS e0,
       round(coalesce(v1 / nrm, 0.0), 6) AS e1,
       round(coalesce(l1raw / nrm, 0.0), 6) AS l1
FROM tok LEFT JOIN n USING (doc_id)
"""

TEXT_SQL["line_dedup"] = """
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents
),
pages AS (
  SELECT doc_id,
         string_agg(array_to_string(tk[CAST(s AS INT):CAST(s + 7 AS INT)], ' '), chr(10) ORDER BY s) AS text
  FROM tok, UNNEST(generate_series(1, greatest(len(tk), 1), 8)) AS g(s)
  GROUP BY doc_id
),
ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM pages),
l AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, a[CAST(i AS INT)] AS line
  FROM ls, UNNEST(range(1, len(a) + 1)) AS u(i)
),
c AS (SELECT *, trim(line) <> '' AS is_content FROM l),
r AS (
  SELECT *,
         CASE WHEN is_content THEN row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) END AS rn,
         CASE WHEN is_content THEN count(*) OVER (PARTITION BY line) END AS cnt
  FROM c
),
k AS (SELECT doc_id, pos, line, (NOT is_content) OR cnt = 1 OR rn = 1 AS kept FROM r)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS removed_lines,
       coalesce(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY pos), '') AS clean_text
FROM k GROUP BY doc_id
"""

TEXT_SQL["perplexity_buckets"] = f"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
b AS (
  SELECT doc_id, lang, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
  FROM t, UNNEST(range(1, greatest(len(tk), 1))) AS u(i)
  WHERE len(tk) >= 2 AND tk[CAST(i AS INT)] <> '' AND tk[CAST(i + 1 AS INT)] <> ''
),
cbg AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
cctx AS (SELECT w1, count(*) AS cc FROM b GROUP BY 1),
ccon AS (SELECT w2, count(*) AS cw FROM b GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b),
s AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_scored_bigrams,
         round(avg(ln({X.INTERP_LAMBDA} * (cb / cc) + {1 - X.INTERP_LAMBDA} * (cw / n))), 4) AS avg_interp_logprob
  FROM b JOIN cbg USING (w1, w2) JOIN cctx USING (w1) JOIN ccon USING (w2), tot
  GROUP BY doc_id, lang
),
hist AS (
  SELECT lang AS g, round(avg_interp_logprob, 4) AS v, count(*) AS c
  FROM s GROUP BY 1, 2
),
cum AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS total
  FROM hist
),
thr AS (
  SELECT g,
         min(CASE WHEN cum * 1.0 / total >= 1.0 / 3.0 THEN v END) AS t0,
         min(CASE WHEN cum * 1.0 / total >= 2.0 / 3.0 THEN v END) AS t1
  FROM cum GROUP BY g
)
SELECT s.doc_id, s.lang, s.n_scored_bigrams, s.avg_interp_logprob,
       CASE WHEN round(s.avg_interp_logprob, 4) <= t0 THEN 'tail'
            WHEN round(s.avg_interp_logprob, 4) <= t1 THEN 'middle'
            ELSE 'head' END AS bucket
FROM s LEFT JOIN thr ON s.lang = thr.g
"""

TEXT_SQL["unigram_logprob"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
t AS (SELECT * FROM tok WHERE token <> ''),
c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
n AS (SELECT sum(cnt) AS total FROM c)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_scored_tokens,
       round(avg(ln(cnt / total)), 4) AS avg_token_logprob
FROM t JOIN c USING (token), n
GROUP BY doc_id
"""

# Sliding-window chunking: chunk_id is derivable from the start
# (starts form an arithmetic series), so the oracle needs no
# WITH ORDINALITY (unsupported in this DuckDB build).
TEXT_SQL["chunk_documents"] = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
s AS (
  SELECT doc_id, tk, len(tk) AS n,
         unnest(generate_series(1, greatest(least(len(tk) - 8, len(tk)), 1), 8)) AS s1
  FROM t WHERE len(tk) >= 1
)
SELECT doc_id,
       CAST((s1 - 1) / 8 AS BIGINT) AS chunk_id,
       CAST(s1 - 1 AS BIGINT) AS start_token,
       CAST(least(16, n - (s1 - 1)) AS BIGINT) AS n_chunk_tokens,
       array_to_string(tk[s1 : s1 + 15], ' ') AS chunk_text
FROM s
"""

TEXT_SQL["span_dedup_rewrite"] = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(tk[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS gram
  FROM t, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(i)
),
x AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
    FROM g
  ) WHERE rn >= 2
),
cov AS (
  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
  FROM x, UNNEST(range(pos, pos + 3)) AS u(p)
),
m AS (
  SELECT doc_id, count(*) AS removed, list(p ORDER BY p) AS rem
  FROM cov GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(coalesce(m.removed, 0) AS BIGINT) AS removed_tokens,
       coalesce(array_to_string(
         [tk[CAST(i AS INT)] for i in range(1, len(tk) + 1)
          if NOT list_contains(coalesce(m.rem, []), i - 1)],
         ' '), '') AS clean_text
FROM t LEFT JOIN m ON t.doc_id = m.doc_id
"""

TEXT_SQL["winnow_fingerprints"] = r"""
WITH t AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, regexp_replace(lower(text), '[^\p{L}\p{N}]', '', 'g') AS s
    FROM documents
  ) WHERE length(s) >= 5
),
g AS (
  SELECT doc_id,
         [('0x' || substr(md5(substr(s, CAST(i AS INT), 5)), 1, 15))::BIGINT
          for i in range(1, greatest(length(s) - 4, 1) + 1)] AS h
  FROM t
),
m AS (
  SELECT doc_id,
         list_distinct([list_min(h[CAST(j AS INT):CAST(j + 3 AS INT)])
                        for j in range(1, greatest(len(h) - 3, 1) + 1)]) AS fps
  FROM g
)
SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint FROM m
"""

TEXT_SQL["bpe_merge_stats"] = r"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents
),
p AS (
  SELECT substr(w, CAST(i AS INT), 1) AS lhs, substr(w, CAST(i + 1 AS INT), 1) AS rhs
  FROM w, UNNEST(range(1, greatest(length(w), 1))) AS u(i)
  WHERE w <> '' AND length(w) >= 2
)
SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS pair_count
FROM p GROUP BY 1, 2
ORDER BY pair_count DESC, lhs, rhs
LIMIT 50
"""

def _bpe_sql_parts(n_merges: int = 8) -> tuple[str, str]:
    """Unrolled replay of text.bpe_train as COMPOSABLE parts: the
    rendered CTE chain (word counts, character-level symbol arrays,
    then per merge round the weighted pair count, the (count DESC,
    lhs, rhs) argmax, and the left-greedy merge application via the
    same gaps-and-islands windows the Spark operator runs --
    consecutive matched positions form a run, only possible when
    lhs == rhs, and greedy keeps even offsets from each run's start)
    and, separately, the train oracle's UNION-of-argmaxes tail.
    DuckDB's 1-based positions vs Spark's 0-based posexplode cancel
    out: only parity of (pos - run start) and the lag/lead adjacency
    matter. Returning (ctes, union) lets _bpe_train_sql and
    _bpe_encode_sql compose each oracle from the SAME rendered chain
    instead of string-splitting one rendered statement (ADVICE r11:
    the split silently produced malformed SQL on any reformat of the
    union tail)."""
    parts = [
        r"""wcnt AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
)""",
        """s0 AS (
  SELECT w, wc,
         list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS s
  FROM wcnt
)""",
    ]
    for t in range(1, n_merges + 1):
        prev = f"s{t - 1}"
        parts.append(f"""c{t} AS (
  SELECT s[CAST(i AS INT)] AS lhs, s[CAST(i AS INT) + 1] AS rhs, SUM(wc) AS pair_count
  FROM {prev}, UNNEST(range(1, list_count(s))) AS u(i)
  GROUP BY 1, 2
)""")
        parts.append(f"""t{t} AS MATERIALIZED (
  SELECT CAST({t} AS INT) AS rank, lhs, rhs, lhs || rhs AS merged,
         CAST(pair_count AS BIGINT) AS pair_count
  FROM c{t} ORDER BY pair_count DESC, lhs, rhs LIMIT 1
)""")
        parts.append(f"""e{t} AS (
  SELECT w, wc, i AS pos, s[CAST(i AS INT)] AS sym, t.merged AS merged,
         COALESCE(s[CAST(i AS INT)] = t.lhs AND s[CAST(i AS INT) + 1] = t.rhs, false) AS m
  FROM {prev}, UNNEST(range(1, list_count(s) + 1)) AS u(i), t{t} t
)""")
        parts.append(f"""f{t} AS (
  SELECT *, CASE WHEN m THEN pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) END AS run
  FROM e{t}
)""")
        parts.append(f"""g{t} AS (
  SELECT *, CASE WHEN m THEN (pos - MIN(pos) OVER (PARTITION BY w, run)) % 2 = 0
            ELSE false END AS sel
  FROM f{t}
)""")
        parts.append(f"""h{t} AS (
  SELECT w, wc, pos, CASE WHEN sel THEN merged ELSE sym END AS osym,
         COALESCE(lag(sel) OVER (PARTITION BY w ORDER BY pos), false) AS skip
  FROM g{t}
)""")
        # the dry-round guard, mirrored from the Spark operator
        # (text._bpe_loop stops at the last valid symbol state when a
        # round finds no adjacent pair): when t{t} is empty, e{t}'s
        # cross join collapses h{t}, so carry s{t-1} forward verbatim
        # -- without this the oracle returns 0 rows on a dry corpus
        # while the fixed operator returns the full corpus (ADVICE
        # r12). A dry round means c{t} was empty, so every later
        # round is dry too and the carry cascades consistently.
        # MATERIALIZED: the carry makes s{t} reference s{t-1} twice
        # (the merge chain AND the dry fallthrough) -- DuckDB inlines
        # plain CTEs, so without materialization the chain re-evaluates
        # 2^n_merges times (measured: "Too many open files" from the
        # exploded parquet re-reads)
        parts.append(f"""s{t} AS MATERIALIZED (
  SELECT w, wc, list(osym ORDER BY pos) AS s FROM h{t} WHERE NOT skip GROUP BY w, wc
  UNION ALL
  SELECT w, wc, s FROM {prev} WHERE NOT EXISTS (SELECT 1 FROM t{t})
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT rank, lhs, rhs, merged, pair_count FROM t{t}"
        for t in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts), union


def _bpe_train_sql(n_merges: int = 8) -> str:
    """bpe_train's oracle: the rendered CTE chain plus the
    UNION-of-argmaxes tail (one row per merge round)."""
    ctes, union = _bpe_sql_parts(n_merges)
    return ctes + "\n" + union


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """bpe_encode's oracle: the SAME training chain (the trained
    symbol table s{n} is the encoder -- a word's encoding depends
    only on the word), then the vocabulary join onto the exploded
    corpus tokens and the per-doc piece-count rollup with the
    integer-bp fertility floor."""
    head, _ = _bpe_sql_parts(n_merges)
    return f"""{head},
vsz AS (SELECT w, CAST(list_count(s) AS BIGINT) AS wp FROM s{n_merges}),
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(w)) AS BIGINT) AS n_chars,
       CAST(sum(wp) AS BIGINT) AS n_bpe_learned,
       CAST(sum(length(w)) * 10000 // sum(wp) AS BIGINT) AS fertility_bp
FROM tok JOIN vsz USING (w)
WHERE w <> ''
GROUP BY doc_id
"""


TEXT_SQL["bpe_train"] = _bpe_train_sql()
TEXT_SQL["bpe_encode"] = _bpe_encode_sql()

TEXT_SQL["tokenize_corpus"] = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents
),
tok AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, tk[CAST(i AS INT)] AS token
  FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)
  WHERE tk[CAST(i AS INT)] <> ''
),
c AS (SELECT token, count(*) AS f FROM tok GROUP BY 1),
v AS (
  SELECT token, id FROM (
    SELECT token, CAST(row_number() OVER (ORDER BY f DESC, token) AS INT) AS id FROM c
  ) WHERE id <= 200
),
j AS (
  SELECT tok.doc_id, tok.pos, coalesce(v.id, 0) AS id
  FROM tok LEFT JOIN v USING (token)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_count,
       array_to_string(list(id ORDER BY pos), ' ') AS token_ids
FROM j GROUP BY doc_id
"""

TEXT_SQL["tokenize_pack"] = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents
),
tok AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, tk[CAST(i AS INT)] AS token
  FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)
  WHERE tk[CAST(i AS INT)] <> ''
),
c AS (SELECT token, count(*) AS f FROM tok GROUP BY 1),
v AS (
  SELECT token, id FROM (
    SELECT token, CAST(row_number() OVER (ORDER BY f DESC, token) AS INT) AS id FROM c
  ) WHERE id <= 200
),
j AS (
  SELECT tok.doc_id, tok.pos, coalesce(v.id, 0) AS id
  FROM tok LEFT JOIN v USING (token)
),
ids AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_count,
         array_to_string(list(id ORDER BY pos), ' ') AS token_ids
  FROM j GROUP BY doc_id
),
p AS (
  SELECT d.doc_id, d.source, ids.n_tokens, ids.oov_count, ids.token_ids,
         sum(ids.n_tokens) OVER (PARTITION BY d.source ORDER BY d.doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents d JOIN ids USING (doc_id)
)
SELECT doc_id, source, n_tokens, oov_count,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS first_seq,
       CAST((cum - n_tokens + greatest(n_tokens, 1) - 1) // {_PACK_BUDGET} AS BIGINT) AS last_seq,
       token_ids
FROM p
"""

TEXT_SQL["c4_clean"] = r"""
WITH t AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ln,
         (contains(lower(text), 'lorem ipsum') OR contains(lower(text), '{')) AS bad
  FROM documents
),
k AS (
  SELECT doc_id, len(ln) AS n_lines, bad,
         list_filter(ln, l -> regexp_matches(trim(l), '[.!?]["'']?$')
                              AND len(string_split_regex(trim(l), '\s+')) >= 5) AS kept
  FROM t
)
SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(CASE WHEN bad THEN 0 ELSE len(kept) END AS BIGINT) AS kept_lines,
       bad AS page_filtered,
       CASE WHEN bad THEN '' ELSE coalesce(array_to_string(kept, chr(10)), '') END AS clean_text
FROM k
"""

_GOPHER_STOPS = ", ".join(f"'{w}'" for w in X.GOPHER_STOPWORDS)
TEXT_SQL["gopher_quality"] = rf"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w <> '') AS w,
         string_split(text, chr(10)) AS ln
  FROM documents
),
s AS (
  SELECT doc_id,
         len(w) AS n_words,
         round(list_sum(list_transform(w, x -> length(x))) / greatest(len(w), 1), 4) AS mean_word_len,
         round((len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) + len(regexp_extract_all(text, '…'))) / greatest(len(w), 1), 4) AS symbol_ratio,
         round(len(list_filter(ln, l -> regexp_matches(trim(l), '^[-*•]'))) / greatest(len(ln), 1), 4) AS bullet_line_frac,
         round(len(list_filter(ln, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) / greatest(len(ln), 1), 4) AS ellipsis_line_frac,
         round(len(list_filter(w, x -> regexp_matches(x, '\p{{L}}'))) / greatest(len(w), 1), 4) AS alpha_word_frac,
         len(list_filter(w, x -> x IN ({_GOPHER_STOPS}))) AS stopword_hits
  FROM t
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len, symbol_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       CAST(stopword_hits AS BIGINT) AS stopword_hits,
       (n_words BETWEEN {X.GOPHER_MIN_WORDS} AND {X.GOPHER_MAX_WORDS}
        AND mean_word_len BETWEEN {X.GOPHER_MEAN_WORD_LEN[0]} AND {X.GOPHER_MEAN_WORD_LEN[1]}
        AND symbol_ratio <= {X.GOPHER_MAX_SYMBOL_RATIO}
        AND bullet_line_frac <= {X.GOPHER_MAX_BULLET_FRAC}
        AND ellipsis_line_frac <= {X.GOPHER_MAX_ELLIPSIS_FRAC}
        AND alpha_word_frac >= {X.GOPHER_MIN_ALPHA_WORD_FRAC}
        AND stopword_hits >= {X.GOPHER_MIN_STOPWORD_HITS}) AS gopher_pass
FROM s
"""

TEXT_SQL["source_quota_sample"] = """
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 10
"""

# the hot-source fallback is pinned result-identical to the rank form:
# one oracle grades both
TEXT_SQL["source_quota_hot"] = TEXT_SQL["source_quota_sample"]

# oov_rate: one token projection feeds both the vocabulary count and
# the per-language coverage rollup, same integer-bp floor
TEXT_SQL["oov_rate"] = """
WITH tok AS (
  SELECT lang, token FROM (
    SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
),
v AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM tok GROUP BY token
    ORDER BY c DESC, token LIMIT 10
  )
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS oov_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM v) THEN 0 ELSE 1 END) * 10000
            // greatest(count(*), 1) AS BIGINT) AS oov_bp
FROM tok GROUP BY lang ORDER BY lang
"""

# source_scorecard: the four member signals embedded/generated from
# exactly the registered contracts -- gopher and c4 SQLs verbatim as
# subqueries, per-doc PII from the same _PII_SELECT/_PII_TOTAL
# pattern tables, and dedup_exact's normalization for the dup window
TEXT_SQL["source_scorecard"] = f"""
WITH g AS (SELECT doc_id, n_words, gopher_pass FROM ({{GOPHER}})),
c AS (SELECT doc_id, NOT page_filtered AS c4_pass FROM ({{C4}})),
pp AS (
  SELECT doc_id, {_PII_SELECT}
  FROM documents
),
p AS (SELECT doc_id, ({_PII_TOTAL}) > 0 AS has_pii FROM pp),
d AS (
  SELECT doc_id, source,
         count(*) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) > 1 AS is_dup
  FROM documents
),
j AS (
  SELECT d.source, g.n_words, g.gopher_pass, c.c4_pass, p.has_pii, d.is_dup
  FROM d JOIN g USING (doc_id) JOIN c USING (doc_id) JOIN p USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS gopher_pass_bp,
       CAST(sum(CASE WHEN c4_pass THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS c4_pass_bp,
       CAST(sum(CASE WHEN has_pii THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS pii_bp,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS exact_dup_bp
FROM j GROUP BY source ORDER BY source
""".replace("{GOPHER}", TEXT_SQL["gopher_quality"]).replace(
    "{C4}", TEXT_SQL["c4_clean"]
)

TEXT_SQL["stratified_holdout"] = """
SELECT doc_id, source, lang,
       CASE WHEN rn <= (n * 1000) // 10000 THEN 'eval' ELSE 'train' END AS split
FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source, lang
           ORDER BY ('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY source, lang) AS n
  FROM documents
)
"""

TEXT_SQL["token_budget_select"] = """
WITH q AS (
  SELECT doc_id,
         round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / greatest(length(text), 1), 4) AS alpha_ratio,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
h AS (
  SELECT round(CAST(alpha_ratio AS DOUBLE), 4) AS v, sum(n_tokens) AS c
  FROM q GROUP BY 1
),
cum AS (SELECT v, sum(c) OVER (ORDER BY v DESC) AS cum FROM h),
b AS (SELECT min(CASE WHEN cum <= 10000 THEN v END) AS thr FROM cum)
SELECT doc_id, alpha_ratio, n_tokens
FROM q, b
WHERE round(CAST(alpha_ratio AS DOUBLE), 4) >= thr
"""

# The Spark side computes max-run-in-sorted-array per row (zero
# shuffle); the oracle uses the equivalent unnest + group-by mode.
TEXT_SQL["repetition_stats"] = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
wc AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(tk) AS w FROM t) GROUP BY 1, 2
),
ws AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct, max(c) AS top_word
  FROM wc GROUP BY doc_id
),
bg AS (
  SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS g
  FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2
),
bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
bgs AS (SELECT doc_id, max(c) AS top_bigram FROM bgc GROUP BY doc_id)
SELECT t.doc_id, ws.n AS n_words,
       round((ws.n - ws.n_distinct) / greatest(ws.n, 1), 4) AS dup_word_frac,
       round(ws.top_word / greatest(ws.n, 1), 4) AS top_word_frac,
       round(coalesce(bgs.top_bigram, 0) / greatest(ws.n - 1, 1), 4) AS top_bigram_frac
FROM t JOIN ws ON t.doc_id = ws.doc_id LEFT JOIN bgs ON t.doc_id = bgs.doc_id
"""

# duplicated-span fraction: same interval-union formulation (lag
# window over duplicated-gram start positions) in DuckDB
TEXT_SQL["span_dup_stats"] = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(tk[i:i+2], ' ') AS gram
  FROM t, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
  WHERE len(tk) >= 3
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
d AS (SELECT g.* FROM g JOIN dup USING (gram)),
l AS (
  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM d
),
cov AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN prev IS NULL THEN 3 ELSE least(3, pos - prev) END) AS BIGINT) AS covered
  FROM l GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       coalesce(cov.covered, 0) AS dup_span_tokens,
       round(coalesce(cov.covered, 0) / greatest(len(t.tk), 1), 4) AS dup_span_frac
FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
"""

TEXT_SQL["pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS first_seq,
       CAST((cum - n_tokens + greatest(n_tokens, 1) - 1) // {_PACK_BUDGET} AS BIGINT) AS last_seq
FROM c
"""

TEXT_SQL["pack_boundaries"] = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
p AS (
  SELECT doc_id, source, n_tokens,
         cum - n_tokens AS start_offset,
         (cum - n_tokens) // {_PACK_BUDGET} AS first_seq,
         (cum - n_tokens + greatest(n_tokens, 1) - 1) // {_PACK_BUDGET} AS last_seq
  FROM c WHERE n_tokens > 0
)
SELECT source AS shard, CAST(s AS BIGINT) AS seq, doc_id,
       CAST(greatest(start_offset - s * {_PACK_BUDGET}, 0) AS BIGINT) AS begin,
       CAST(least(start_offset + n_tokens - s * {_PACK_BUDGET}, {_PACK_BUDGET}) AS BIGINT) AS "end"
FROM p, UNNEST(generate_series(CAST(first_seq AS BIGINT), CAST(last_seq AS BIGINT))) AS u(s)
"""


# ---------------------------------------------------------------------------
# dimension suite (normalized events -> warehouse dim tables)


def _dim(plan) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan(normalized_events(spark, sf_dir))

    return run


def _merge_dim_wallets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dim maintenance under the driver's hard signal:
    split the log into history + delta on a deterministic predicate
    (day-of-month, modeling the scheduled daily job), build the dim on
    history only, fold the delta in with merge_dim_wallets. Because
    every measure is a mergeable aggregate, the result is exactly
    dim_wallets over the full log -- so it shares that oracle."""
    ev = normalized_events(spark, sf_dir)
    # null-safe split: a null block_time makes the raw predicate null,
    # and both `null` and `~null` filter the row out -- it would vanish
    # from history AND delta. coalesce pins nulls to the history side
    # so every row lands on exactly one side of the split.
    is_delta = F.coalesce(F.dayofmonth("block_time") % 7 == 0, F.lit(False))
    existing = DIM.dim_wallets(ev.filter(~is_delta))
    return DIM.merge_dim_wallets(existing, ev.filter(is_delta))


DIMENSION_QUERIES: dict[str, QueryFn] = {
    "dim_wallets": _dim(DIM.dim_wallets),
    "dim_tokens": _dim(DIM.dim_tokens),
    "program_dim_rollup": _dim(DIM.program_dim_rollup),
    "merge_dim_wallets": _merge_dim_wallets,
}

DIMENSION_SQL: dict[str, str] = {
    "dim_wallets": f"""
WITH {NORM_SQL},
base AS (
  SELECT wallet,
         min(block_time) AS first_seen_time,
         max(block_time) AS last_seen_time,
         CAST(sum(CASE WHEN event_type = 'transaction' THEN 1 ELSE 0 END) AS BIGINT) AS total_transactions,
         CAST(sum(CASE WHEN event_type = 'token_transfer' THEN 1 ELSE 0 END) AS BIGINT) AS total_tokens_sent
  FROM norm GROUP BY wallet
),
recv AS (
  SELECT to_wallet AS wallet, count(*) AS total_tokens_received
  FROM norm WHERE event_type = 'token_transfer' GROUP BY 1
)
SELECT b.wallet, b.first_seen_time, b.last_seen_time, b.total_transactions,
       b.total_tokens_sent,
       CAST(COALESCE(r.total_tokens_received, 0) AS BIGINT) AS total_tokens_received
FROM base b LEFT JOIN recv r ON b.wallet = r.wallet
""",
    "dim_tokens": f"""
WITH {NORM_SQL}
SELECT token_mint,
       upper(regexp_replace(token_mint, '^mint_', '')) AS token_symbol,
       CAST(9 AS INTEGER) AS decimals,
       count(*) AS transfer_count,
       count(DISTINCT from_wallet) AS holder_estimate,
       min(block_time) AS first_seen_time,
       max(block_time) AS last_seen_time
FROM norm WHERE event_type = 'token_transfer'
GROUP BY token_mint
""",
    "program_dim_rollup": f"""
WITH {NORM_SQL},
agg AS (
  SELECT program_id, count(*) AS event_count
  FROM norm WHERE program_id IS NOT NULL GROUP BY program_id
),
m AS (SELECT avg(event_count) AS mean_count FROM agg),
dim AS (
  SELECT program_id,
         CASE WHEN event_count >= mean_count
              THEN 'prog_' || program_id END AS program_name,
         CASE WHEN event_count >= mean_count
              THEN 'wellknown' ELSE 'longtail' END AS program_type
  FROM agg, m
)
SELECT f.program_id,
       COALESCE(d.program_name, f.program_id) AS display_name,
       d.program_type,
       count(*) AS event_count
FROM norm f LEFT JOIN dim d ON f.program_id = d.program_id
WHERE f.program_id IS NOT NULL
GROUP BY f.program_id, d.program_name, d.program_type
""",
}

# merge(dim(history), delta) == dim(history UNION delta) because every
# dim_wallets measure is a mergeable aggregate (min/max/sum) -- the
# incremental plan shares the full-recompute oracle verbatim
DIMENSION_SQL["merge_dim_wallets"] = DIMENSION_SQL["dim_wallets"]


# ---------------------------------------------------------------------------
# dedup suite (documents + embeddings)

# Hot-bucket cap for the REGISTERED LSH dedup plans: one degenerate
# band bucket (e.g. the empty-document signature) makes the candidate
# self-join quadratic at corpus scale, so the graded plan always runs
# capped; exact duplicates lost to a capped bucket are caught by the
# cheap dedup_exact pass. The oracle SQL applies the identical cap.
DEDUP_MAX_BUCKET = 50


def _cap_guard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four capped families' cap-stats rows + the coverage-floor
    guard's verdict at D.CAP_COVERAGE_FLOOR, one row per family (see
    the registration comment at DEDUP_QUERIES['cap_guard_report'])."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    frames = [
        ("embedding", D.embedding_cap_stats(emb, max_bucket=DEDUP_MAX_BUCKET)),
        ("minhash", D.minhash_cap_stats(docs, max_bucket=DEDUP_MAX_BUCKET)),
        ("simhash", D.simhash_cap_stats(docs, max_bucket=DEDUP_MAX_BUCKET)),
        ("winnow", X.winnow_cap_stats(docs, max_bucket=DEDUP_MAX_BUCKET)),
    ]
    out = None
    for fam, f in frames:
        t = f.select(F.lit(fam).alias("family"), "*")
        out = t if out is None else out.unionByName(t)
    return out.withColumn(
        "guard_verdict",
        F.when(
            F.col("est_pair_coverage") >= D.CAP_COVERAGE_FLOOR, F.lit("pass")
        ).otherwise(F.lit("route")),
    ).orderBy("family")


#: materialized minhash LSH index over the corpus side of the
#: deterministic split (doc_id % 10 != 7) -- the index build is the
#: SETUP of the incremental-dedup scenario (ingest/compaction cadence
#: in production), so probes read the stored index.
@artifact("delta_minhash_index")
def _build_delta_minhash_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    D.materialize_minhash(docs.filter(~(F.col("doc_id") % 10 == 7)), path)


#: exported training shards -- the export mirrors the registered
#: training_shuffle's (n_shards=16, seed=7) permutation so the
#: manifest oracle can re-derive the assignment in SQL.
@artifact("shard_export")
def _build_shard_export(spark: SparkSession, sf_dir: str, path: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    SH.export_shards(docs.select("doc_id", "text"), path, n_shards=16, seed=7)


#: materialized winnowing decontamination index over the corpus side
#: of the same split as `delta_minhash_index`.
@artifact("delta_winnow_index")
def _build_delta_winnow_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    D.materialize_winnow(
        docs.filter(~(F.col("doc_id") % 10 == 7)), path, max_bucket=DEDUP_MAX_BUCKET
    )


def _delta_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental decontamination under the driver's hard signal:
    materialize the corpus (doc_id % 10 != 7) winnowing index, probe
    it with the ingest batch (doc_id % 10 == 7). The index is built
    with the standard bucket cap -- the production shape, since an
    uncapped index lets the candidate list grow as delta-width x
    bucket-width with corpus size (the 10x sweep measured the blowup)
    -- and the oracle mirrors the corpus-side cap exactly."""
    docs = load_table(spark, sf_dir, "documents")
    path = artifact_path(spark, sf_dir, "delta_winnow_index")
    return D.delta_containment(
        spark, path, docs.filter(F.col("doc_id") % 10 == 7), threshold=0.5
    ).orderBy("delta_id", "corpus_id")


def _delta_containment_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch-doc cap-blindness report against the SAME cached
    winnow index delta_containment probes: how much of each ingest
    doc's fingerprint mass falls on the index's excluded (over-cap
    boilerplate) list -- the cap loss as a per-document routing
    signal instead of a corpus-level aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    path = artifact_path(spark, sf_dir, "delta_winnow_index")
    return D.delta_containment_exposure(
        spark, path, docs.filter(F.col("doc_id") % 10 == 7)
    ).orderBy("delta_id")


#: materialized embedding-LSH index over the corpus side of the
#: same split as `delta_minhash_index` (vec_id % 10 != 7).
@artifact("delta_embedding_index")
def _build_delta_embedding_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    D.materialize_embedding_lsh(
        emb.filter(~(F.col("vec_id") % 10 == 7)), path, max_bucket=DEDUP_MAX_BUCKET
    )


def _delta_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup under the driver's hard signal:
    materialize the corpus (vec_id % 10 != 7) hyperplane-LSH index
    with the standard bucket cap (the constant 2^planes bucket domain
    makes widths grow with the corpus -- same production-shape choice
    as delta_containment), probe it with the batch (vec_id % 10 == 7)
    at the registered suite's 0.35 threshold. Oracle mirrors the
    corpus-side cap exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = artifact_path(spark, sf_dir, "delta_embedding_index")
    return D.delta_embedding_dedup(
        spark, path, emb.filter(F.col("vec_id") % 10 == 7), threshold=0.35
    ).orderBy("vec_id")


def _delta_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup under the driver's hard signal:
    materialize the corpus (doc_id % 10 != 7) LSH index, probe it with
    the delta batch (doc_id % 10 == 7). Deterministic split, so the
    oracle recomputes the same pairs set-based."""
    docs = load_table(spark, sf_dir, "documents")
    path = artifact_path(spark, sf_dir, "delta_minhash_index")
    return D.delta_dedup_materialized(
        spark, path, docs.filter(F.col("doc_id") % 10 == 7), threshold=0.2
    ).orderBy("doc_id")


DEDUP_QUERIES: dict[str, QueryFn] = {
    "dedup_exact": _docs(D.exact_duplicates),
    "dedup_minhash_lsh": _docs(
        lambda df: D.minhash_lsh_pairs(df, threshold=0.2, max_bucket=DEDUP_MAX_BUCKET, on_low_coverage="warn")
    ),
    "dedup_ngram_jaccard": _docs(lambda df: D.ngram_jaccard_pairs(df, threshold=0.2)),
    # hamming<=3 pairs via 4-segment pigeonhole; the oracle reproduces
    # the identical capped-bucket candidate set. On THIS corpus the
    # 32-bit capped form is nearly blind (est coverage ~0.003,
    # measured every round as BENCH cap_coverage.simhash) -- it stays
    # registered DELIBERATELY as the priced demonstration next to its
    # uncapped / wide / routed twins, and the operator's
    # coverage-floor guard (VERDICT r11 #5) is downgraded to a loud
    # RuntimeWarning here so the blind regime is never silent: a
    # caller lifting this registration verbatim gets the warning (the
    # default, on_low_coverage="raise", refuses to run blind).
    "simhash_near_dup": _docs(
        lambda df: D.simhash_near_dup_pairs(
            df, max_hamming=3, max_bucket=DEDUP_MAX_BUCKET, on_low_coverage="warn"
        )
    ),
    # the key-width dial registered: 60-bit fingerprints (15-bit
    # segments) keep the pigeonhole bucket DOMAIN growing with
    # content, so cap coverage stays scale-invariant where the 32-bit
    # domain saturates to zero by 100x (measured, SCALE.md "Cap
    # coverage UNDER SCALE"); hamming<=3 at 60 bits is also the
    # stricter (production) similarity bar
    # (same guard stance: the wide form's capped coverage on this
    # dense synthetic corpus is ~0.015 -- warn, never silent)
    "simhash_near_dup_wide": _docs(
        lambda df: D.simhash_near_dup_pairs(
            df, max_hamming=3, bits=60, max_bucket=DEDUP_MAX_BUCKET,
            on_low_coverage="warn",
        )
    ),
    # LSH-bucketed candidates + exact-cosine verify: the scale path.
    # The brute-force cross join (embedding_near_dup_pairs) is the
    # recall-1 oracle twin exercised in tests/test_dedup.py only.
    "dedup_embedding_cosine": (
        lambda spark, sf_dir: D.embedding_near_dup_lsh(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.35,
            max_bucket=DEDUP_MAX_BUCKET,
            on_low_coverage="warn",
        )
    ),
    # incremental ingest path: corpus (doc_id % 10 != 7) is materialized
    # as an LSH index once, the delta batch (doc_id % 10 == 7) probes it
    # plus itself; uncapped buckets so the oracle reproduces candidates
    # exactly (the cap is exercised under oracle by dedup_minhash_lsh)
    "delta_dedup": _delta_dedup,
    # incremental decontamination: the containment/winnowing family's
    # materialized-index probe (corpus %10!=7 indexed once, batch
    # %10==7 checked against it at delta cost)
    "delta_containment": _delta_containment,
    # per-doc observability of that probe's capped blind spot: which
    # batch docs the index is (partially) blind to, in basis points
    "delta_containment_exposure": _delta_containment_exposure,
    # incremental embedding dedup: the vector family's materialized
    # index probe -- completes the delta story across all three
    # dedup families
    "delta_embedding_dedup": _delta_embedding_dedup,
    # per-vector observability of that probe's capped blind spot (the
    # vector twin of delta_containment_exposure; the embedding bucket
    # domain is FIXED, so saturation is the measured scale failure)
    "delta_embedding_exposure": (
        lambda spark, sf_dir: D.delta_embedding_exposure(
            spark,
            artifact_path(spark, sf_dir, "delta_embedding_index"),
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") % 10 == 7
            ),
        ).orderBy("delta_id")
    ),
    "dedup_clusters": _docs(
        lambda df: D.connected_components(
            D.minhash_lsh_pairs(df, threshold=0.2, max_bucket=DEDUP_MAX_BUCKET, on_low_coverage="warn"),
            # the labels ARE the output (one consumer): skip the lazy
            # path's multi-consumer checkpoint and its ~0.8 s of
            # construction-time physical planning (r14)
            labels_checkpoint=False,
        )
    ),
    # full-registry entry: the pairs->clean-corpus materialization
    # (unclustered docs + one representative per component)
    "dedup_keepers": _docs(
        lambda df: D.keep_representatives(
            df, D.minhash_lsh_pairs(df, threshold=0.2, max_bucket=DEDUP_MAX_BUCKET, on_low_coverage="warn")
        )
    ),
    # near-subset duplication: winnowing candidates + exact
    # containment verify (the mode Jaccard under-scores)
    "containment_pairs": _docs(
        lambda df: D.containment_pairs(
            df, threshold=0.5, max_bucket=DEDUP_MAX_BUCKET,
            on_low_coverage="warn",
        )
    ),
    # cross-family observability: the three registered text pair
    # pipelines above (same thresholds, same caps) rolled up to one
    # row per family-combination -- the calibration table for which
    # dedup gates to enable; the oracle embeds the three family SQLs
    # verbatim so the report is pinned to exactly their semantics
    "dedup_family_agreement": _docs(
        lambda df: D.dedup_family_agreement(
            df,
            minhash_threshold=0.2,
            containment_threshold=0.5,
            max_hamming=3,
            max_bucket=DEDUP_MAX_BUCKET,
        )
    ),
    # the FULL four-family form: + the vector family (hash_embed ->
    # the registered multi-table sign-LSH near-dup plan at cos>=0.9),
    # whose distinctive catch is bag-of-words twins the shingle/
    # fingerprint families under-score
    "dedup_family_agreement_full": _docs(
        lambda df: D.dedup_family_agreement(
            df,
            minhash_threshold=0.2,
            containment_threshold=0.5,
            max_hamming=3,
            max_bucket=DEDUP_MAX_BUCKET,
            include_embedding=True,
            embedding_threshold=0.9,
        )
    ),
    # eval-leakage guard: consistent hash split, then train docs that
    # near-dup a val doc are dropped
    "leakage_free_split": _docs(
        lambda df: D.leakage_free_split(
            df, val_pct=20, threshold=0.2, max_bucket=DEDUP_MAX_BUCKET,
            on_low_coverage="warn",
        )
    ),
    # the SCALE.md routing rule made concrete: on the density-
    # degenerate simhash family (capped pair recall 0.002, cap stats
    # est coverage 0.0035), the scale-correct consumer is the
    # cluster/keeper path -- and the operator never emits the dense
    # family's quadratic doc-pair list: exact-fingerprint twins
    # collapse LINEARLY first, the uncapped pigeonhole join runs among
    # distinct-fingerprint representatives only, CC + min-id keepers
    # finish. Result-identical to keepers over the full uncapped pair
    # list (pinned by test + this oracle, which computes the naive
    # full-pair form).
    "simhash_dedup_keepers": _docs(D.simhash_dedup_keepers),
    # cap-coverage diagnostics: the observability companion of every
    # capped LSH pair plan (VERDICT r6 'no silent caps'). One narrow
    # groupBy over the same bucket projection the candidate join
    # shuffles; est_pair_coverage ~0 flags the density-degenerate
    # regime where pair emission is the wrong operator and the
    # cluster/keeper path is the route (SCALE.md).
    "minhash_cap_stats": _docs(
        lambda df: D.minhash_cap_stats(df, max_bucket=DEDUP_MAX_BUCKET)
    ),
    "simhash_cap_stats": _docs(
        lambda df: D.simhash_cap_stats(df, max_bucket=DEDUP_MAX_BUCKET)
    ),
    "embedding_cap_stats": (
        lambda spark, sf_dir: D.embedding_cap_stats(
            load_table(spark, sf_dir, "embeddings"), max_bucket=DEDUP_MAX_BUCKET
        )
    ),
    "winnow_cap_stats": _docs(
        lambda df: X.winnow_cap_stats(df, max_bucket=DEDUP_MAX_BUCKET)
    ),
    # the r13 generalized coverage-floor guard as ONE queryable
    # artifact (VERDICT r12 #3 made observable): all four capped
    # families' cap-stats rows side by side with the guard's verdict
    # at the registry floor -- the table a caller reads to know which
    # families the cap leaves honest ('pass') and which must route to
    # cluster/keeper or index-probe paths ('route', exactly the
    # regimes check_cap_coverage refuses to run silently). Oracle
    # composed from the four cap-stats SQLs verbatim, so the report
    # is pinned to exactly their bucket semantics.
    "cap_guard_report": (
        lambda spark, sf_dir: _cap_guard_report(spark, sf_dir)
    ),
    # estimator calibration: per-decile signature-estimate error vs
    # exact Jaccard over the registered plan's own candidate pairs --
    # is num_hashes sized right for the thresholds in play?
    "minhash_calibration": _docs(
        lambda df: D.minhash_calibration(df, max_bucket=DEDUP_MAX_BUCKET)
    ),
    # near-dup decontamination JOIN: corpus docs that fuzzy-match the
    # benchmark slice (_BENCH_SOURCE) at Jaccard >= 0.2 -- the
    # paraphrase-robust upgrade of benchmark_contamination
    "benchmark_near_dup": _docs(
        lambda df: D.cross_corpus_near_dup(
            df.filter(F.col("source") != _BENCH_SOURCE),
            df.filter(F.col("source") == _BENCH_SOURCE),
            threshold=0.2,
        )
    ),
    # the embedding twin of dedup_keepers: sign-LSH cosine pairs ->
    # connected components -> unclustered vectors + one representative
    # per component. Same keep_representatives machinery (corpus side
    # never shuffles); completes the embedding dedup story past pairs.
    "embedding_dedup_keepers": (
        lambda spark, sf_dir: D.keep_representatives(
            load_table(spark, sf_dir, "embeddings"),
            D.embedding_near_dup_lsh(
                load_table(spark, sf_dir, "embeddings"),
                threshold=0.35,
                max_bucket=DEDUP_MAX_BUCKET,
                on_low_coverage="warn",
            ),
            id_col="vec_id",
            src_col="vec_a",
            dst_col="vec_b",
        )
    ),
    # SemDeDup: within-cluster cosine dup groups, keep the member
    # FARTHEST from its cluster centroid. cluster=label (the knn_ivf
    # ingest-cell stance); threshold 0.30 because the synthetic
    # vectors have no close pairs (exact top-10 sit at cos 0.30-0.42
    # -- SCALE.md), and 0.30 yields real in-cluster dup groups
    "semdedup_keepers": (
        lambda spark, sf_dir: D.semdedup_keepers(
            load_table(spark, sf_dir, "embeddings"), threshold=0.30
        )
    ),
    # the k-grows-with-N form (refine_bits=4): fixed k removes 69% of
    # sf0.1 embeddings (0.218 at sf0.01 -- the removal RATE itself is
    # scale-dependent, SCALE.md); the refined assignment holds
    # per-cluster mass (and the removal rate: 0.099) steady.
    # The only exact oracle check of the refine_bits path bench.py runs.
    "semdedup_keepers_scaled": (
        lambda spark, sf_dir: D.semdedup_keepers(
            load_table(spark, sf_dir, "embeddings"), threshold=0.30, refine_bits=4
        )
    ),
    # the cross-cluster-blindness routing answer: pairing probes the 2
    # nearest label-centroids per vector (measured pair coverage 0.61
    # vs 0.097 own-label at tau=0.30, sf0.1; see the operator)
    "semdedup_multiprobe": (
        lambda spark, sf_dir: D.semdedup_keepers_multiprobe(
            load_table(spark, sf_dir, "embeddings"), threshold=0.30, nprobe=2
        )
    ),
    # multiprobe + the k-grows-with-N dial on the pairing cells
    # (refine_bits=4): the configuration a growing corpus runs --
    # probe coverage with the quadratic cell mass held down (r10
    # rotation candidate)
    "semdedup_multiprobe_scaled": (
        lambda spark, sf_dir: D.semdedup_keepers_multiprobe(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.30,
            nprobe=2,
            refine_bits=4,
        )
    ),
    # the COVERAGE-HONEST operating point (VERDICT r10 #4): the full
    # (tau, nprobe, refine_bits) grid at sf0.1 (tools/dials.py
    # semdedup operating grid, SCALE.md) shows the
    # coverage>=0.5 AND removal<1.0 region is EMPTY at tau=0.30 --
    # the duplicate graph percolates (14,922 pairs, one giant
    # component), so any sub-key that breaks the component (the only
    # way removal drops below 1.0) must separate cos-0.30 pairs,
    # which IS destroying coverage (per-bit sign agreement ~0.6 at
    # cos 0.30: 4 bits -> 0.13 predicted, 0.092 measured). At
    # tau=0.5 the graph is a true near-dup graph (14 pairs) and both
    # bars are met trivially: nprobe=3 pair coverage 1.00, removal
    # 0.007, no refine bits needed (the quadratic mass the bits
    # existed to cut is gone once tau stops percolating). Routing
    # rule: tau is the regime dial -- percolating tau = sampler
    # semantics (the _scaled form), near-dup tau = this form.
    # both registered semdedup forms probe a per-sf stored keeper
    # layout (the `semdedup` / `semdedup_exact_first` artifacts):
    # corpus dedup runs at INGEST cadence -- downstream consumers
    # read keepers, nobody re-dedups the same corpus snapshot per
    # query -- the same materialized-artifact stance as `cluster_fit`
    # / `pq`. Parquet stores the (long, long, long, 4dp-double)
    # keeper rows exactly; the oracles replay the FULL computation
    # from the corpus and stay green either way.
    "semdedup_near_dup": (
        lambda spark, sf_dir: spark.read.parquet(artifact_path(spark, sf_dir, "semdedup"))
    ),
    # the dedup-ladder contract as a registered plan (VERDICT r11
    # #3): exact dedup absorbs byte-identical copies BEFORE the
    # semantic stage, so the replica-degenerate quadratic pair set
    # never forms (the 16.45x SCALE.md row's mitigation, now
    # oracle-checked instead of prose; measured this round: 21.3x ->
    # 1.21x under the 10x byte-identical replica protocol)
    "semdedup_exact_first": (
        lambda spark, sf_dir: spark.read.parquet(
            artifact_path(spark, sf_dir, "semdedup_exact_first")
        )
    ),
}


#: the stored semdedup keeper layouts -- see the registration comment
#: above. The ladder composition is its own artifact, so its build is
#: priced beside the plain form's: the exact stage's extra groupBy is
#: the price of replica immunity.
@artifact("semdedup")
def _build_semdedup(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    D.semdedup_keepers_multiprobe(emb, threshold=0.5, nprobe=3).write.mode(
        "overwrite"
    ).parquet(path)


@artifact("semdedup_exact_first")
def _build_semdedup_exact_first(spark: SparkSession, sf_dir: str, path: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    D.semdedup_exact_first(emb, threshold=0.5, nprobe=3).write.mode(
        "overwrite"
    ).parquet(path)

def _minhash_sigs_sql(num_hashes: int = D.MINHASH_HASHES) -> str:
    """Mirror of dedup.minhash_signatures: md5 base hash once per
    shingle, affine rehash per seed, per-doc min."""
    a, b = D.minhash_coeffs(num_hashes)
    mins = ",\n           ".join(
        f"min(({a[s]} * base + {b[s]}) % {D.MINHASH_MOD}) AS h{s}" for s in range(num_hashes)
    )
    arr = ", ".join(f"h{s}" for s in range(num_hashes))
    base = H64_SQL.format(x="g") + " % 2147483648"
    return f"""
sigs AS (
  SELECT doc_id, [{arr}] AS mh FROM (
    SELECT doc_id,
           {mins}
    FROM (SELECT doc_id, {base} AS base
          FROM (SELECT doc_id, unnest(sh) AS g FROM sh))
    GROUP BY doc_id
  )
)"""


DEDUP_SQL: dict[str, str] = {
    "dedup_exact": f"""
SELECT md5({_NORM_TEXT}) AS content_hash,
       min(doc_id) AS keep_doc_id, count(*) AS dup_count
FROM documents
GROUP BY 1
""",
    "dedup_minhash_lsh": f"""
WITH {SHINGLES_SQL},
{_minhash_sigs_sql()},
bands AS (
  SELECT doc_id, b AS band, md5(array_to_string(mh[b*{D.MINHASH_ROWS}+1 : b*{D.MINHASH_ROWS}+{D.MINHASH_ROWS}], ',')) AS band_sig
  FROM sigs, UNNEST(range(0, {D.MINHASH_BANDS})) AS u(b)
),
kept AS (
  SELECT doc_id, band, band_sig FROM (
    SELECT *, count(*) OVER (PARTITION BY band, band_sig) AS w FROM bands
  ) WHERE w <= {DEDUP_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM kept l JOIN kept r
    ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id
) WHERE jac >= 0.2
""",
    "dedup_ngram_jaccard": f"""
WITH {SHINGLES_SQL},
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id
) WHERE jac >= 0.2
""",
    "dedup_clusters": f"""
WITH RECURSIVE {SHINGLES_SQL},
{_minhash_sigs_sql()},
bands AS (
  SELECT doc_id, b AS band, md5(array_to_string(mh[b*{D.MINHASH_ROWS}+1 : b*{D.MINHASH_ROWS}+{D.MINHASH_ROWS}], ',')) AS band_sig
  FROM sigs, UNNEST(range(0, {D.MINHASH_BANDS})) AS u(b)
),
kept AS (
  SELECT doc_id, band, band_sig FROM (
    SELECT *, count(*) OVER (PARTITION BY band, band_sig) AS w FROM bands
  ) WHERE w <= {DEDUP_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM kept l JOIN kept r
    ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
    FROM cand
    JOIN sh sa ON cand.doc_a = sa.doc_id
    JOIN sh sb ON cand.doc_b = sb.doc_id
  ) WHERE jac >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id
""",
    "dedup_embedding_cosine": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_table_buckets_sql(2)},
kept AS (
  SELECT vec_id, v, tbl, bkt FROM (
    SELECT *, count(*) OVER (PARTITION BY tbl, bkt) AS w FROM b
  ) WHERE w <= {DEDUP_MAX_BUCKET}
)
SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b,
       {COSINE_SQL.format(a="a.v", b="c.v")} AS cosine
FROM kept a JOIN kept c ON a.tbl = c.tbl AND a.bkt = c.bkt AND a.vec_id < c.vec_id
WHERE list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.35
""",
}


def _simhash_near_dup_sql(bits: int) -> str:
    """Pigeonhole simhash pair oracle, parameterized by fingerprint
    width -- the key-width dial (SCALE.md: fixed 32-bit segment
    domains saturate under corpus growth; 60 bits restores a
    content-growing domain). Text identical to the former inline
    32-bit entry so the rsplit-derived oracles (cap_stats,
    simhash_dedup_keepers) keep working unchanged."""
    seg_bits = bits // 4
    return f"""
WITH t AS (
  SELECT doc_id,
         [{H64_SQL.format(x="w")} for w in list_distinct(string_split({_NORM_TEXT}, ' '))] AS th
  FROM documents
),
fp AS (
  SELECT doc_id,
         CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END for h in th]) > 0
                        THEN CAST(1 << j AS BIGINT) ELSE CAST(0 AS BIGINT) END
                        for j in range(0, {bits})]) AS BIGINT) AS simhash
  FROM t
),
segs AS (
  SELECT doc_id, simhash, i AS seg,
         CAST((simhash >> (i * {seg_bits})) & {(1 << seg_bits) - 1} AS BIGINT) AS seg_val
  FROM fp, UNNEST(range(0, 4)) AS u(i)
),
kept AS (
  SELECT doc_id, simhash, seg, seg_val FROM (
    SELECT *, count(*) OVER (PARTITION BY seg, seg_val) AS w FROM segs
  ) WHERE w <= {DEDUP_MAX_BUCKET}
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
FROM kept l JOIN kept r
  ON l.seg = r.seg AND l.seg_val = r.seg_val AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
"""


DEDUP_SQL["simhash_near_dup"] = _simhash_near_dup_sql(D.SIMHASH_BITS)
DEDUP_SQL["simhash_near_dup_wide"] = _simhash_near_dup_sql(60)

# keepers = unclustered docs + one representative (min id) per
# component: reuse the clusters pipeline verbatim up to its final
# SELECT so the two oracles cannot drift
_CLUSTERS_PREFIX = DEDUP_SQL["dedup_clusters"].rsplit("\nSELECT id,", 1)[0]
DEDUP_SQL["dedup_keepers"] = _CLUSTERS_PREFIX + """,
cl AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM cl)
UNION ALL
SELECT DISTINCT cluster_id AS doc_id FROM cl
"""

# leakage-free split: the clusters pipeline (verified pairs ->
# recursive-CTE components) + hash-mod split + CLUSTER-LEVEL drop
# rule -- any train member of a component containing a val doc leaks
DEDUP_SQL["leakage_free_split"] = _CLUSTERS_PREFIX + """,
cl AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id),
lbl AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 20
              THEN 'val' ELSE 'train' END AS split
  FROM documents
),
vc AS (
  SELECT DISTINCT cl.cluster_id FROM cl JOIN lbl ON cl.id = lbl.doc_id
  WHERE lbl.split = 'val'
),
leak AS (
  SELECT cl.id AS doc_id FROM cl JOIN lbl ON cl.id = lbl.doc_id
  WHERE lbl.split = 'train' AND cl.cluster_id IN (SELECT cluster_id FROM vc)
)
SELECT doc_id, split FROM lbl WHERE doc_id NOT IN (SELECT doc_id FROM leak)
"""

# MOSS overlap pairs: reuse the winnowing pipeline verbatim up to its
# final SELECT (so the two oracles cannot drift), then the capped
# inverted-index join + shared-count filter
_WINNOW_PREFIX = TEXT_SQL["winnow_fingerprints"].rsplit("\nSELECT doc_id,", 1)[0]
TEXT_SQL["winnow_overlap_pairs"] = _WINNOW_PREFIX + f""",
fp AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint FROM m),
kept AS (
  SELECT doc_id, fingerprint FROM (
    SELECT *, count(*) OVER (PARTITION BY fingerprint) AS w FROM fp
  ) WHERE w <= {DEDUP_MAX_BUCKET}
)
SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
FROM kept l JOIN kept r ON l.fingerprint = r.fingerprint AND l.doc_id < r.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""

# containment pairs: winnowing candidate CTEs + word-shingle verify
DEDUP_SQL["containment_pairs"] = _WINNOW_PREFIX + f""",
fp AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint FROM m),
kept AS (
  SELECT doc_id, fingerprint FROM (
    SELECT *, count(*) OVER (PARTITION BY fingerprint) AS w FROM fp
  ) WHERE w <= {DEDUP_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM kept l JOIN kept r ON l.fingerprint = r.fingerprint AND l.doc_id < r.doc_id
),
{SHINGLES_SQL}
SELECT doc_a, doc_b, containment FROM (
  SELECT doc_a, doc_b,
         round(len(list_intersect(sa.sh, sb.sh)) / least(len(sa.sh), len(sb.sh)), 4) AS containment
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id
)
WHERE containment >= 0.5
"""


# the hashed-vector near-dup pair list (vec ids ARE doc ids): the
# shared hash_embed prefix + the dedup_embedding_cosine bucket/cap/
# verify body at cos>=0.9 -- the fourth agreement family
_EMBED_FAMILY_PAIRS_SQL = f"""{_HASH_EMBED_E_SQL},
{_table_buckets_sql(2)},
kept AS (
  SELECT vec_id, v, tbl, bkt FROM (
    SELECT *, count(*) OVER (PARTITION BY tbl, bkt) AS w FROM b
  ) WHERE w <= {DEDUP_MAX_BUCKET}
)
SELECT DISTINCT a.vec_id AS doc_a, c.vec_id AS doc_b
FROM kept a JOIN kept c ON a.tbl = c.tbl AND a.bkt = c.bkt AND a.vec_id < c.vec_id
WHERE list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.9
"""


# cross-family agreement: the three registered text pair pipelines
# (their full oracle SQLs embedded verbatim as subqueries, so the
# agreement report is pinned to EXACTLY the registered family
# semantics -- same thresholds, same caps) rolled up to one row per
# family-combination
DEDUP_SQL["dedup_family_agreement"] = f"""
WITH mm AS ({{minhash}}),
ss AS ({{simhash}}),
cc AS ({{containment}}),
tagged AS (
  SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS minhash, CAST(0 AS BIGINT) AS simhash, CAST(0 AS BIGINT) AS containment FROM mm
  UNION ALL
  SELECT doc_a, doc_b, 0, 1, 0 FROM ss
  UNION ALL
  SELECT doc_a, doc_b, 0, 0, 1 FROM cc
),
flags AS (
  SELECT doc_a, doc_b, max(minhash) AS minhash, max(simhash) AS simhash,
         max(containment) AS containment
  FROM tagged GROUP BY doc_a, doc_b
)
SELECT minhash, simhash, containment, count(*) AS n_pairs
FROM flags GROUP BY minhash, simhash, containment
ORDER BY minhash, simhash, containment
""".format(
    minhash=DEDUP_SQL["dedup_minhash_lsh"],
    simhash=DEDUP_SQL["simhash_near_dup"],
    containment=DEDUP_SQL["containment_pairs"],
)


# the four-family form: + the hashed-vector family, its oracle the
# hash_embed prefix + the dedup_embedding_cosine bucket/cap/verify
# body at cos>=0.9 (all embedded verbatim, same pinning stance)
DEDUP_SQL["dedup_family_agreement_full"] = """
WITH mm AS ({minhash}),
ss AS ({simhash}),
cc AS ({containment}),
ee AS ({embedding}),
tagged AS (
  SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS minhash, CAST(0 AS BIGINT) AS simhash, CAST(0 AS BIGINT) AS containment, CAST(0 AS BIGINT) AS embedding FROM mm
  UNION ALL
  SELECT doc_a, doc_b, 0, 1, 0, 0 FROM ss
  UNION ALL
  SELECT doc_a, doc_b, 0, 0, 1, 0 FROM cc
  UNION ALL
  SELECT doc_a, doc_b, 0, 0, 0, 1 FROM ee
),
flags AS (
  SELECT doc_a, doc_b, max(minhash) AS minhash, max(simhash) AS simhash,
         max(containment) AS containment, max(embedding) AS embedding
  FROM tagged GROUP BY doc_a, doc_b
)
SELECT minhash, simhash, containment, embedding,
       count(*) AS n_pairs
FROM flags GROUP BY minhash, simhash, containment, embedding
ORDER BY minhash, simhash, containment, embedding
""".format(
    minhash=DEDUP_SQL["dedup_minhash_lsh"],
    simhash=DEDUP_SQL["simhash_near_dup"],
    containment=DEDUP_SQL["containment_pairs"],
    embedding=_EMBED_FAMILY_PAIRS_SQL,
)


# incremental decontamination: winnowing CTEs shared verbatim with
# containment_pairs, candidates restricted to (batch %10==7) x
# (corpus %10!=7), exact containment verify -- the set the uncapped
# materialized-index probe must reproduce
DEDUP_SQL["delta_containment"] = _WINNOW_PREFIX + f""",
fp AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint FROM m),
cfp AS (
  SELECT doc_id, fingerprint FROM (
    SELECT *, count(*) OVER (PARTITION BY fingerprint) AS w
    FROM fp WHERE doc_id % 10 <> 7
  ) WHERE w <= {DEDUP_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
  FROM fp d JOIN cfp c ON d.fingerprint = c.fingerprint
  WHERE d.doc_id % 10 = 7
),
{SHINGLES_SQL}
SELECT delta_id, corpus_id, containment FROM (
  SELECT delta_id, corpus_id,
         round(len(list_intersect(sd.sh, sc.sh)) / least(len(sd.sh), len(sc.sh)), 4) AS containment
  FROM cand
  JOIN sh sd ON cand.delta_id = sd.doc_id
  JOIN sh sc ON cand.corpus_id = sc.doc_id
)
WHERE containment >= 0.5
"""

# per-vector exposure of the embedding index's capped blind spot:
# corpus-side (table, bucket) widths over the shared bucket CTEs,
# excluded = over-cap, counted per batch vector, floored basis points
DEDUP_SQL["delta_embedding_exposure"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_table_buckets_sql(D.EMBED_INDEX_TABLES)},
widths AS (
  SELECT tbl, bkt, count(*) AS w FROM b WHERE vec_id % 10 <> 7 GROUP BY 1, 2
),
excl AS (SELECT tbl, bkt FROM widths WHERE w > {DEDUP_MAX_BUCKET}),
db AS (SELECT vec_id, tbl, bkt FROM b WHERE vec_id % 10 = 7),
tot AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_buckets FROM db GROUP BY 1),
hit AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_excluded
  FROM db JOIN excl USING (tbl, bkt) GROUP BY 1
)
SELECT t.vec_id AS delta_id, t.n_buckets,
       CAST(coalesce(h.n_excluded, 0) AS BIGINT) AS n_excluded,
       CAST(floor(coalesce(h.n_excluded, 0) * 10000 / t.n_buckets) AS BIGINT) AS exposure_bp
FROM tot t LEFT JOIN hit h ON t.vec_id = h.vec_id
ORDER BY delta_id
"""

# per-doc exposure of the capped index's blind spot: corpus-side
# bucket widths over the SAME winnow rows, excluded = over-cap
# fingerprints, counted per batch doc; the fraction quantized to
# basis points (floor) so both engines agree exactly
DEDUP_SQL["delta_containment_exposure"] = _WINNOW_PREFIX + f""",
fp AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint FROM m),
widths AS (
  SELECT fingerprint, count(*) AS w FROM fp WHERE doc_id % 10 <> 7 GROUP BY 1
),
excl AS (SELECT fingerprint FROM widths WHERE w > {DEDUP_MAX_BUCKET}),
dfp AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 10 = 7),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM dfp GROUP BY 1),
hit AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_excluded
  FROM dfp JOIN excl USING (fingerprint) GROUP BY 1
)
SELECT t.doc_id AS delta_id, t.n_fps,
       CAST(coalesce(h.n_excluded, 0) AS BIGINT) AS n_excluded,
       CAST(floor(coalesce(h.n_excluded, 0) * 10000 / t.n_fps) AS BIGINT) AS exposure_bp
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
ORDER BY delta_id
"""


# cap-coverage diagnostics: reuse each pair oracle's bucket CTEs
# verbatim (so the diagnostic grades the EXACT buckets the candidate
# join uses), then one aggregate over bucket widths
def _cap_stats_suffix(keys: str, cap: int) -> str:
    return f""",
sz AS (SELECT {keys}, count(*) AS w FROM src GROUP BY 1, 2),
sz2 AS (SELECT w, CAST(w * (w - 1) / 2 AS BIGINT) AS p FROM sz)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN w > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets,
       CAST(sum(CASE WHEN w > {cap} THEN w ELSE 0 END) AS BIGINT) AS dropped_rows,
       CAST(sum(p) AS BIGINT) AS candidate_pairs_uncapped,
       CAST(sum(CASE WHEN w > {cap} THEN 0 ELSE p END) AS BIGINT) AS candidate_pairs_kept,
       round(sum(CASE WHEN w > {cap} THEN 0 ELSE p END) / greatest(sum(p), 1), 4) AS est_pair_coverage
FROM sz2
"""


DEDUP_SQL["minhash_cap_stats"] = (
    DEDUP_SQL["dedup_minhash_lsh"].rsplit(",\nkept AS", 1)[0]
    + ",\nsrc AS (SELECT band AS k1, band_sig AS k2 FROM bands)"
    + _cap_stats_suffix("k1, k2", DEDUP_MAX_BUCKET)
)

DEDUP_SQL["simhash_cap_stats"] = (
    DEDUP_SQL["simhash_near_dup"].rsplit(",\nkept AS", 1)[0]
    + ",\nsrc AS (SELECT seg AS k1, seg_val AS k2 FROM segs)"
    + _cap_stats_suffix("k1, k2", DEDUP_MAX_BUCKET)
)

_CAL_IDX = ", ".join(str(i) for i in range(1, D.MINHASH_HASHES + 1))
DEDUP_SQL["minhash_calibration"] = (
    DEDUP_SQL["dedup_minhash_lsh"].rsplit("\nSELECT doc_a", 1)[0]
    + f""",
pairq AS (
  SELECT (k * 1000000) // {D.MINHASH_HASHES} AS est_ppm,
         CAST(floor(jac * 1000000) AS BIGINT) AS exact_ppm
  FROM (
    SELECT len(list_filter([{_CAL_IDX}], i -> sa.mh[i] = sb.mh[i])) AS k,
           len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
    FROM cand
    JOIN (SELECT s1.doc_id, s1.sh, s2.mh FROM sh s1 JOIN sigs s2 ON s1.doc_id = s2.doc_id) sa ON cand.doc_a = sa.doc_id
    JOIN (SELECT s1.doc_id, s1.sh, s2.mh FROM sh s1 JOIN sigs s2 ON s1.doc_id = s2.doc_id) sb ON cand.doc_b = sb.doc_id
  )
)
SELECT least(9, exact_ppm // 100000) AS decile,
       count(*) AS n_pairs,
       round(CAST(sum(est_ppm) AS DOUBLE) / count(*), 1) AS mean_est_ppm,
       round(CAST(sum(exact_ppm) AS DOUBLE) / count(*), 1) AS mean_exact_ppm,
       round(CAST(sum(abs(est_ppm - exact_ppm)) AS DOUBLE) / count(*), 1) AS mean_abs_err_ppm
FROM pairq
GROUP BY 1
"""
)

DEDUP_SQL["embedding_cap_stats"] = (
    f"WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    + _table_buckets_sql(2)
    + ",\nsrc AS (SELECT tbl AS k1, bkt AS k2 FROM b)"
    + _cap_stats_suffix("k1, k2", DEDUP_MAX_BUCKET)
)

# the composed end-to-end curation pipeline: the clusters pipeline's
# pair/CC CTEs (shared verbatim -- same threshold/cap as the dedup
# suite) + cluster-level leakage split + the quality/keeper gates of
# corpus_selection + temperature mix over the surviving train docs +
# the token-budget threshold computed last over the mixed set
TEXT_SQL["corpus_curation"] = _CLUSTERS_PREFIX + f""",
cl AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id),
lbl AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < {C.VAL_PCT}
              THEN 'val' ELSE 'train' END AS split
  FROM documents
),
vc AS (
  SELECT DISTINCT cl.cluster_id FROM cl JOIN lbl ON cl.id = lbl.doc_id
  WHERE lbl.split = 'val'
),
leak AS (
  SELECT cl.id AS doc_id FROM cl JOIN lbl ON cl.id = lbl.doc_id
  WHERE lbl.split = 'train' AND cl.cluster_id IN (SELECT cluster_id FROM vc)
),
split_ok AS (
  SELECT doc_id FROM lbl
  WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM leak)
),
q AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens,
         round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / greatest(length(text), 1), 4) AS alpha_ratio
  FROM documents
),
keep AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5({_NORM_TEXT})
),
train AS (
  SELECT d.doc_id, d.source, q.n_tokens, q.alpha_ratio
  FROM documents d
  JOIN q USING (doc_id)
  JOIN keep k ON d.doc_id = k.doc_id
  JOIN split_ok s ON d.doc_id = s.doc_id
  WHERE q.n_tokens >= {C.MIN_TOKENS} AND q.alpha_ratio >= {C.MIN_ALPHA_RATIO}
),
srcn AS (SELECT source, count(*) AS n FROM train GROUP BY source),
srct AS (SELECT sum(n) AS N FROM srcn),
rates AS (
  SELECT source,
         least(10000, CAST(round({C.TARGET_FRAC} * srct.N * (power(srcn.n / srct.N, {C.TAU}) / sum(power(srcn.n / srct.N, {C.TAU})) OVER ()) / srcn.n * 10000) AS BIGINT)) AS rate_bp
  FROM srcn, srct
),
mixed AS (
  SELECT tr.doc_id, tr.source, tr.n_tokens, tr.alpha_ratio, rates.rate_bp
  FROM train tr JOIN rates USING (source)
  WHERE ('0x' || substr(md5(CAST(tr.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < rates.rate_bp
),
hist AS (
  SELECT round(CAST(alpha_ratio AS DOUBLE), 4) AS v, sum(n_tokens) AS cwt
  FROM mixed WHERE alpha_ratio IS NOT NULL GROUP BY 1
),
cum2 AS (SELECT v, sum(cwt) OVER (ORDER BY v DESC) AS cum FROM hist),
thr2 AS (SELECT min(CASE WHEN cum <= {C.TOKEN_BUDGET} THEN v END) AS thr FROM cum2)
SELECT doc_id, source, n_tokens, alpha_ratio, rate_bp
FROM mixed, thr2
WHERE round(CAST(alpha_ratio AS DOUBLE), 4) >= thr
"""

# corpus_curation_v2: same composed skeleton, with the published gate
# operators' CTEs (c4_clean page/line logic + the full gopher_quality
# rule set) replacing v1's MIN_TOKENS/alpha constants; mix/budget run
# over the Gopher signals (n_words weight, alpha_word_frac score).
TEXT_SQL["corpus_curation_v2"] = _CLUSTERS_PREFIX + rf""",
cl AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id),
lbl AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < {C.VAL_PCT}
              THEN 'val' ELSE 'train' END AS split
  FROM documents
),
vc AS (
  SELECT DISTINCT cl.cluster_id FROM cl JOIN lbl ON cl.id = lbl.doc_id
  WHERE lbl.split = 'val'
),
leak AS (
  SELECT cl.id AS doc_id FROM cl JOIN lbl ON cl.id = lbl.doc_id
  WHERE lbl.split = 'train' AND cl.cluster_id IN (SELECT cluster_id FROM vc)
),
split_ok AS (
  SELECT doc_id FROM lbl
  WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM leak)
),
c4t AS (
  SELECT doc_id, string_split(text, chr(10)) AS ln,
         (contains(lower(text), 'lorem ipsum') OR contains(lower(text), '{{')) AS bad
  FROM documents
),
c4 AS (
  SELECT doc_id, bad AS page_filtered,
         CAST(CASE WHEN bad THEN 0 ELSE len(list_filter(ln,
           l -> regexp_matches(trim(l), '[.!?]["'']?$')
                AND len(string_split_regex(trim(l), '\s+')) >= {X.C4_MIN_LINE_WORDS})) END AS BIGINT) AS kept_lines
  FROM c4t
),
gt AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w <> '') AS w,
         string_split(text, chr(10)) AS ln
  FROM documents
),
gs AS (
  SELECT doc_id,
         len(w) AS n_words,
         round(list_sum(list_transform(w, x -> length(x))) / greatest(len(w), 1), 4) AS mean_word_len,
         round((len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) + len(regexp_extract_all(text, '…'))) / greatest(len(w), 1), 4) AS symbol_ratio,
         round(len(list_filter(ln, l -> regexp_matches(trim(l), '^[-*•]'))) / greatest(len(ln), 1), 4) AS bullet_line_frac,
         round(len(list_filter(ln, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) / greatest(len(ln), 1), 4) AS ellipsis_line_frac,
         round(len(list_filter(w, x -> regexp_matches(x, '\p{{L}}'))) / greatest(len(w), 1), 4) AS alpha_word_frac,
         len(list_filter(w, x -> x IN ({_GOPHER_STOPS}))) AS stopword_hits
  FROM gt
),
gq AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         (n_words BETWEEN {X.GOPHER_MIN_WORDS} AND {X.GOPHER_MAX_WORDS}
          AND mean_word_len BETWEEN {X.GOPHER_MEAN_WORD_LEN[0]} AND {X.GOPHER_MEAN_WORD_LEN[1]}
          AND symbol_ratio <= {X.GOPHER_MAX_SYMBOL_RATIO}
          AND bullet_line_frac <= {X.GOPHER_MAX_BULLET_FRAC}
          AND ellipsis_line_frac <= {X.GOPHER_MAX_ELLIPSIS_FRAC}
          AND alpha_word_frac >= {X.GOPHER_MIN_ALPHA_WORD_FRAC}
          AND stopword_hits >= {X.GOPHER_MIN_STOPWORD_HITS}) AS gopher_pass
  FROM gs
),
q AS (
  SELECT doc_id,
         round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / greatest(length(text), 1), 4) AS alpha_ratio
  FROM documents
),
keep AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5({_NORM_TEXT})
),
train AS (
  SELECT d.doc_id, d.source, gq.n_words, q.alpha_ratio, c4.kept_lines
  FROM documents d
  JOIN c4 USING (doc_id)
  JOIN gq USING (doc_id)
  JOIN q USING (doc_id)
  JOIN keep k ON d.doc_id = k.doc_id
  JOIN split_ok s ON d.doc_id = s.doc_id
  WHERE NOT c4.page_filtered AND gq.gopher_pass
),
srcn AS (SELECT source, count(*) AS n FROM train GROUP BY source),
srct AS (SELECT sum(n) AS N FROM srcn),
rates AS (
  SELECT source,
         least(10000, CAST(round({C.TARGET_FRAC} * srct.N * (power(srcn.n / srct.N, {C.TAU}) / sum(power(srcn.n / srct.N, {C.TAU})) OVER ()) / srcn.n * 10000) AS BIGINT)) AS rate_bp
  FROM srcn, srct
),
mixed AS (
  SELECT tr.doc_id, tr.source, tr.n_words, tr.alpha_ratio, tr.kept_lines, rates.rate_bp
  FROM train tr JOIN rates USING (source)
  WHERE ('0x' || substr(md5(CAST(tr.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < rates.rate_bp
),
hist AS (
  SELECT round(CAST(alpha_ratio AS DOUBLE), 4) AS v, sum(n_words) AS cwt
  FROM mixed WHERE alpha_ratio IS NOT NULL GROUP BY 1
),
cum2 AS (SELECT v, sum(cwt) OVER (ORDER BY v DESC) AS cum FROM hist),
thr2 AS (SELECT min(CASE WHEN cum <= {C.V2_TOKEN_BUDGET} THEN v END) AS thr FROM cum2)
SELECT doc_id, source, n_words, alpha_ratio, kept_lines, rate_bp
FROM mixed, thr2
WHERE round(CAST(alpha_ratio AS DOUBLE), 4) >= thr
"""

# dataset card: the v2 oracle's GATE CTEs (c4t..q) lifted verbatim,
# aggregated per (source, lang) -- the oracle joins documents back
# for the group keys (the Spark plan carries them through the fused
# projection instead)
_GATE_CTES = (
    TEXT_SQL["corpus_curation_v2"].split("c4t AS (", 1)[1].rsplit(",\nkeep AS", 1)[0]
)
TEXT_SQL["corpus_card"] = (
    "WITH c4t AS ("
    + _GATE_CTES
    + """
SELECT d.source, d.lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(gq.n_words) AS BIGINT) AS tokens,
       round(sum(CAST(round(q.alpha_ratio * 10000) AS BIGINT)) / (count(*) * 10000.0), 4) AS mean_alpha_ratio,
       round(sum(CASE WHEN gq.gopher_pass THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS gopher_pass_rate,
       round(sum(CASE WHEN c4.page_filtered THEN 0 ELSE 1 END) / CAST(count(*) AS DOUBLE), 4) AS c4_page_pass_rate
FROM documents d
JOIN gq USING (doc_id) JOIN c4 USING (doc_id) JOIN q USING (doc_id)
GROUP BY 1, 2
"""
)

# funnel: the v2 oracle's CTE chain verbatim, output swapped for
# per-stage (docs, tokens) counts -- raw / gates / dedup /
# decontaminated / mixed / budget
TEXT_SQL["curation_funnel"] = (
    TEXT_SQL["corpus_curation_v2"].rsplit("\nSELECT doc_id, source, n_words", 1)[0]
    + """,
sel AS (
  SELECT doc_id, n_words FROM mixed, thr2
  WHERE round(CAST(alpha_ratio AS DOUBLE), 4) >= thr
),
gated AS (
  SELECT d.doc_id, gq.n_words FROM documents d
  JOIN c4 USING (doc_id) JOIN gq USING (doc_id)
  WHERE NOT c4.page_filtered AND gq.gopher_pass
),
deduped AS (SELECT g.doc_id, g.n_words FROM gated g JOIN keep k ON g.doc_id = k.doc_id)
SELECT CAST(0 AS INT) AS stage_id, 'raw' AS stage, CAST(count(*) AS BIGINT) AS docs,
       CAST(coalesce(sum(n_words), 0) AS BIGINT) AS tokens FROM gq
UNION ALL SELECT CAST(1 AS INT), 'gates', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM gated
UNION ALL SELECT CAST(2 AS INT), 'dedup', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM deduped
UNION ALL SELECT CAST(3 AS INT), 'decontaminated', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM train
UNION ALL SELECT CAST(4 AS INT), 'mixed', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM mixed
UNION ALL SELECT CAST(5 AS INT), 'budget', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM sel
"""
)

# corpus_curation_v3: the v2 prefix through `train` verbatim, the
# mix/budget stages swapped for the allocation-constrained planners
# (mixture_waterfill / epoch_plan CTEs inlined at tau=0.5 weights
# w = greatest(floor(sqrt(capacity)), 1)), and per-doc selection
# spending each source's single-pass allocation greedily.
def _v3_oracle(budget: int, media: bool = False) -> str:
    """The v3 oracle, budget-parameterized so tests can drive BOTH
    planner branches (waterfill below total capacity, epoch_plan above
    it) through the same engine-vs-engine comparison the registered
    entry gets at the default budget. `media=True` yields the v4
    oracle: the media-gate CTEs (the WAV samples are the text's ASCII
    codes, so frames = len(text) and rms recomputes per byte --
    exactly the media_wav_stats idiom) thread between `train` and the
    planner stages, and the decoded columns ride into the output."""
    src = "mtrain" if media else "train"
    media_ctes = (
        f""",
wpos AS (
  SELECT t.doc_id, unicode(substr(t.text, CAST(u.i AS INT), 1)) AS s
  FROM (SELECT d.doc_id, d.text FROM documents d JOIN train USING (doc_id)) t,
       UNNEST(range(1, len(t.text) + 1)) AS u(i)
),
mwav AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS media_frames,
         round(sqrt(avg(CAST((s - 128) * (s - 128) AS DOUBLE))), 4) AS media_rms
  FROM wpos GROUP BY doc_id
),
mtrain AS (
  SELECT t.*, m.media_frames, m.media_rms
  FROM train t JOIN mwav m USING (doc_id)
  WHERE m.media_frames BETWEEN {C.V4_MEDIA_MIN_FRAMES} AND {C.V4_MEDIA_MAX_FRAMES}
    AND m.media_rms >= {C.V4_MEDIA_MIN_RMS}
)"""
        if media
        else ""
    )
    extra_sel3 = ", t.media_frames, t.media_rms" if media else ""
    extra_out = ", media_frames, media_rms" if media else ""
    return (
        TEXT_SQL["corpus_curation_v2"].rsplit(",\nsrcn AS", 1)[0]
        + media_ctes
        + f""",
srcw AS (
  SELECT source, CAST(sum(n_words) AS BIGINT) AS capacity,
         greatest(CAST(floor(sqrt(CAST(sum(n_words) AS DOUBLE))) AS BIGINT), 1) AS weight
  FROM {src} GROUP BY source
),
bdg AS (SELECT CAST({budget} AS DOUBLE) AS b),
tot AS (SELECT CAST(sum(capacity) AS DOUBLE) AS tc, CAST(sum(weight) AS DOUBLE) AS tw FROM srcw),
cumw AS (
  SELECT *,
         sum(capacity) OVER (ORDER BY capacity * 1.0 / weight, source
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc,
         sum(weight) OVER (ORDER BY capacity * 1.0 / weight, source
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pw
  FROM srcw
),
fl AS (
  SELECT cumw.*, tot.tw, tot.tc, bdg.b,
         (capacity * 1.0 / weight) < ((bdg.b - coalesce(pc, 0)) / (tot.tw - coalesce(pw, 0))) AS flag
  FROM cumw, tot, bdg
),
runw AS (
  SELECT *, CAST(min(CASE WHEN flag THEN 1 ELSE 0 END)
                 OVER (ORDER BY capacity * 1.0 / weight, source
                       ROWS UNBOUNDED PRECEDING) AS BOOLEAN) AS saturated
  FROM fl
),
satw AS (
  SELECT CAST(coalesce(sum(CASE WHEN saturated THEN capacity END), 0) AS DOUBLE) AS sc,
         CAST(coalesce(sum(CASE WHEN saturated THEN weight END), 0) AS DOUBLE) AS sw
  FROM runw
),
walloc AS (
  SELECT source, capacity, weight,
         CAST(CASE WHEN saturated THEN capacity
              ELSE least(capacity * 1.0, round((b - sc) / greatest(tw - sw, 1e-12) * weight)) END AS BIGINT) AS alloc
  FROM runw, satw
),
units AS (
  SELECT source, capacity, weight, CAST(u.e AS BIGINT) AS epoch,
         weight * (CASE u.e WHEN 1 THEN 1000000000000
                            WHEN 2 THEN 500000000000
                            WHEN 3 THEN 250000000000
                            ELSE 125000000000 END) AS key
  FROM srcw, UNNEST(range(1, 5)) AS u(e)
),
cume AS (
  SELECT *, coalesce(sum(capacity) OVER (ORDER BY key DESC, source, epoch
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pce
  FROM units
),
ealloc AS (
  SELECT source, CAST(sum(greatest(0, least(capacity, {budget} - pce))) AS BIGINT) AS etokens
  FROM cume GROUP BY source
),
served AS (
  SELECT w.source, w.capacity,
         CAST(CASE WHEN bdg.b > tot.tc THEN e.etokens ELSE w.alloc END AS BIGINT) AS src_alloc
  FROM walloc w JOIN ealloc e ON w.source = e.source, tot, bdg
),
sel3 AS (
  SELECT t.doc_id, t.source, t.n_words, t.alpha_ratio, t.kept_lines{extra_sel3},
         s.src_alloc, s.capacity,
         sum(t.n_words) OVER (PARTITION BY t.source
             ORDER BY t.alpha_ratio DESC, t.doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM {src} t JOIN served s ON t.source = s.source
)
SELECT doc_id, source, n_words, alpha_ratio, kept_lines{extra_out}, src_alloc,
       CAST(floor(src_alloc * 10000.0 / capacity) AS BIGINT) AS epochs_bp
FROM sel3
WHERE cum <= least(src_alloc, capacity)
"""
    )


TEXT_SQL["corpus_curation_v3"] = _v3_oracle(C.V3_TOKEN_BUDGET)

# corpus_curation_v4: the v3 oracle with the media-gate CTEs threaded
# between `train` and the planner stages (media=True); the decoded
# frames/rms recompute per byte from the text, the media_wav_stats
# idiom applied inside the composed pipeline.
TEXT_SQL["corpus_curation_v4"] = _v3_oracle(C.V3_TOKEN_BUDGET, media=True)

# allocation_report: the planned-vs-realized mixture manifest = one
# bounded aggregation over the v3 oracle, wrapped verbatim as a
# subquery so the two cannot drift.
TEXT_SQL["allocation_report"] = f"""
SELECT source, src_alloc, epochs_bp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS realized_tokens,
       CAST(floor(sum(n_words) * 10000.0 / src_alloc) AS BIGINT) AS utilization_bp
FROM ({TEXT_SQL["corpus_curation_v3"]})
GROUP BY source, src_alloc, epochs_bp
"""

# quality_gate_agreement: the three registered quality SQLs embedded
# verbatim as subqueries (the dedup_family_agreement pinning idiom),
# joined per doc and rolled up to the <=12-row gate cross-tab
TEXT_SQL["quality_gate_agreement"] = """
WITH gq AS ({gopher}),
cc AS ({c4}),
pb AS ({ppl})
SELECT gq.gopher_pass, NOT cc.page_filtered AS c4_pass, pb.bucket,
       count(*) AS n_docs, CAST(sum(gq.n_words) AS BIGINT) AS total_words
FROM gq
JOIN cc ON gq.doc_id = cc.doc_id
JOIN pb ON gq.doc_id = pb.doc_id
GROUP BY gq.gopher_pass, c4_pass, pb.bucket
ORDER BY gq.gopher_pass, c4_pass, pb.bucket
""".format(
    gopher=TEXT_SQL["gopher_quality"],
    c4=TEXT_SQL["c4_clean"],
    ppl=TEXT_SQL["perplexity_buckets"],
)


# dense-family routing demo: UNCAPPED pigeonhole pairs -> recursive-CTE
# components -> keepers (the simhash twin of dedup_keepers)
DEDUP_SQL["simhash_dedup_keepers"] = (
    DEDUP_SQL["simhash_near_dup"]
    .rsplit(",\nkept AS", 1)[0]
    .replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + """,
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM segs l JOIN segs r
    ON l.seg = r.seg AND l.seg_val = r.seg_val AND l.doc_id < r.doc_id
  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
cl AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM cl)
UNION ALL
SELECT DISTINCT cluster_id AS doc_id FROM cl
"""
)

# near-dup decontamination join: signatures depend only on doc text,
# so the oracle computes the one corpus-wide minhash/band pipeline
# (shared verbatim with dedup_minhash_lsh) and splits by source
# decontamination runs the 16-band x 2-row scheme (dedup.DECON_*:
# s-curve threshold 0.25 so J~0.5 paraphrase pairs collide with
# p~0.997, vs 0.32 under the 4x4 dedup scheme -- measured in bench.py
# benchmark_near_dup_paraphrase), so its oracle re-derives sigs/bands
# at that scheme instead of reusing the dedup prefix
DEDUP_SQL["benchmark_near_dup"] = (
    f"""WITH {SHINGLES_SQL},
{_minhash_sigs_sql(D.DECON_HASHES)},
bands AS (
  SELECT doc_id, b AS band, md5(array_to_string(mh[b*{D.DECON_ROWS}+1 : b*{D.DECON_ROWS}+{D.DECON_ROWS}], ',')) AS band_sig
  FROM sigs, UNNEST(range(0, {D.DECON_BANDS})) AS u(b)
)"""
    + f""",
cb AS (
  SELECT bands.* FROM bands JOIN documents d USING (doc_id)
  WHERE d.source <> '{_BENCH_SOURCE}'
),
bb AS (
  SELECT bands.* FROM bands JOIN documents d USING (doc_id)
  WHERE d.source = '{_BENCH_SOURCE}'
),
cand AS (
  SELECT DISTINCT cb.doc_id AS doc_id, bb.doc_id AS bench_id
  FROM cb JOIN bb ON cb.band = bb.band AND cb.band_sig = bb.band_sig
)
SELECT doc_id, bench_id, round(jac, 4) AS jaccard FROM (
  SELECT cand.doc_id AS doc_id, cand.bench_id AS bench_id,
         len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
  FROM cand
  JOIN sh sa ON cand.doc_id = sa.doc_id
  JOIN sh sb ON cand.bench_id = sb.doc_id
) WHERE jac >= 0.2
"""
)

# per-method decontamination summary: the two registered detector
# oracles wrapped verbatim as subqueries and aggregated -- the report
# is exactly the detectors it summarizes
DEDUP_SQL["contamination_report"] = f"""
SELECT 'exact_ngram' AS method,
       CAST(count(*) AS BIGINT) AS flagged_docs,
       CAST(coalesce(sum(n_overlap_grams), 0) AS BIGINT) AS hits,
       (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE source <> '{_BENCH_SOURCE}') AS corpus_docs
FROM ({TEXT_SQL["benchmark_contamination"]})
UNION ALL
SELECT 'near_dup' AS method,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS flagged_docs,
       CAST(count(*) AS BIGINT) AS hits,
       (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE source <> '{_BENCH_SOURCE}') AS corpus_docs
FROM ({DEDUP_SQL["benchmark_near_dup"]})
"""

DEDUP_SQL["winnow_cap_stats"] = (
    _WINNOW_PREFIX
    + ",\nfp AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint FROM m)"
    + ",\nsrc AS (SELECT fingerprint AS k1, 0 AS k2 FROM fp)"
    + _cap_stats_suffix("k1, k2", DEDUP_MAX_BUCKET)
)

# the generalized guard's report: the four cap-stats oracles verbatim
# as subqueries (DuckDB allows WITH inside a parenthesized subquery),
# each tagged with its family and the floor verdict the guard applies
DEDUP_SQL["cap_guard_report"] = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{fam}' AS family, t.*, "
        f"CASE WHEN t.est_pair_coverage >= {D.CAP_COVERAGE_FLOOR} "
        f"THEN 'pass' ELSE 'route' END AS guard_verdict "
        f"FROM ({DEDUP_SQL[fam + '_cap_stats']}) t"
        for fam in ("embedding", "minhash", "simhash", "winnow")
    )
    + "\n) ORDER BY family"
)


# embedding keepers: the dedup_embedding_cosine pair pipeline feeding
# the same recursive-CC + keepers suffix as dedup_keepers
DEDUP_SQL["embedding_dedup_keepers"] = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_table_buckets_sql(2)},
kept AS (
  SELECT vec_id, v, tbl, bkt FROM (
    SELECT *, count(*) OVER (PARTITION BY tbl, bkt) AS w FROM b
  ) WHERE w <= {DEDUP_MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
  FROM kept a JOIN kept c ON a.tbl = c.tbl AND a.bkt = c.bkt AND a.vec_id < c.vec_id
  WHERE list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.35
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e2.dst, r.lab FROM reach r JOIN edges e2 ON e2.src = r.id
),
cl AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id)
SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT id FROM cl)
UNION ALL
SELECT DISTINCT cluster_id AS vec_id FROM cl
"""

# SemDeDup: label-cluster centroids (6dp cells, the ivf_centroids
# convention), within-cluster pairs at rounded cosine >= 0.30,
# recursive-CTE components, keeper = lowest (rounded centroid-cos,
# vec_id) per component; untouched vectors survive as singletons.
# The oracle body is shared between the base entry and the scaled
# (refine_bits) entry -- only the e(vec_id, v, cl) CTE differs.
# shared SemDeDup keeper tail: pairs (va, vb) + scored `s`
# (vec_id, cl, ccos) -> CC -> lowest-ccos representative per group
_SEMDEDUP_TAIL_SQL = """
edges AS (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb, va FROM pairs),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e2.dst, r.lab FROM reach r JOIN edges e2 ON e2.src = r.id
),
comp AS (SELECT id, min(lab) AS cmp FROM reach GROUP BY id),
m AS (SELECT s.vec_id, s.cl, s.ccos, comp.cmp FROM s LEFT JOIN comp ON s.vec_id = comp.id),
reps AS (
  SELECT vec_id, cl, ccos, gs FROM (
    SELECT *, row_number() OVER (PARTITION BY cmp ORDER BY ccos, vec_id) AS rn,
           count(*) OVER (PARTITION BY cmp) AS gs
    FROM m WHERE cmp IS NOT NULL
  ) WHERE rn = 1
)
SELECT vec_id, cl AS cluster, CAST(1 AS BIGINT) AS group_size, ccos AS centroid_cos
FROM m WHERE cmp IS NULL
UNION ALL
SELECT vec_id, cl AS cluster, CAST(gs AS BIGINT) AS group_size, ccos AS centroid_cos
FROM reps
"""


def _semdedup_sql(e_cte: str) -> str:
    return f"""
WITH RECURSIVE {e_cte},
cd AS (
  SELECT cl, i AS dim, round(avg(v[CAST(i AS INT)]), 6) AS cv
  FROM e, UNNEST(range(1, 65)) AS u(i)
  GROUP BY cl, i
),
cent AS (SELECT cl, list(cv ORDER BY dim) AS cvec FROM cd GROUP BY cl),
s AS (
  SELECT e.vec_id, e.cl, e.v, {COSINE_SQL.format(a="e.v", b="cvec")} AS ccos
  FROM e JOIN cent USING (cl)
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM s a JOIN s b ON a.cl = b.cl AND a.vec_id < b.vec_id
  WHERE {COSINE_SQL.format(a="a.v", b="b.v")} >= 0.30
),{_SEMDEDUP_TAIL_SQL}"""


DEDUP_SQL["semdedup_keepers"] = _semdedup_sql(
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    "CAST(label AS BIGINT) AS cl FROM embeddings)"
)

# Scaled SemDeDup: the k-grows-with-N contract as a registered entry
# (refine_bits=4 -- the dial value whose removal rate and runtime are
# on record in SCALE.md): every label cluster splits by 4 leading
# sign-LSH bits, cl = label*16 + bits. The plane matrix is the same
# LCG-derived literal the knn/bucket oracles inline (lsh_planes
# n_planes=4 == the first 4 rows of every 8-plane table-0 matrix),
# and both engines fold the dot product left-to-right over the same
# doubles, so the sign decision is engine-portable bit-for-bit.
_P4 = "[" + ", ".join(
    "[" + ", ".join(repr(x) for x in row) + "]"
    for row in V.lsh_planes(n_planes=4)
) + "]"
DEDUP_SQL["semdedup_keepers_scaled"] = _semdedup_sql(f"""e AS (
  SELECT vec_id, v,
         cl0 * 16 + CAST(list_sum([CASE WHEN list_dot_product(m4[p+1], v) >= 0
           THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END
           for p in range(0, 4)]) AS BIGINT) AS cl
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS cl0
        FROM embeddings),
       (SELECT {_P4} AS m4)
)""")

# Multi-probe SemDeDup: pairing probes = the 2 nearest label-centroids
# per vector (knn_ivf's probe rule applied to the corpus); primary
# (rank-1) cell scores the keeper. Same centroid/tail CTEs. The
# `refined` form is the k-grows-with-N dial on the PAIRING cells
# only: each probe cell splits by the vector's 4 leading sign-LSH
# sub-bits (the same _P4 literal matrix as semdedup_keepers_scaled;
# probe ranking and keeper scoring keep the unrefined centroids).
def _semdedup_mp_sql(
    refined: bool = False,
    tau: float = 0.30,
    nprobe: int = 2,
    exact_first: bool = False,
) -> str:
    if refined:
        probes = f"""sb AS (
  SELECT vec_id, CAST(list_sum([CASE WHEN list_dot_product(m4[p+1], v) >= 0
    THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END
    for p in range(0, 4)]) AS BIGINT) AS sub
  FROM e, (SELECT {_P4} AS m4)
),
probes AS (
  SELECT pr.vec_id, pr.pcl * 16 + sb.sub AS pcl
  FROM pr JOIN sb ON pr.vec_id = sb.vec_id WHERE pr.rn <= {nprobe}
)"""
    else:
        probes = f"probes AS (SELECT vec_id, pcl FROM pr WHERE rn <= {nprobe})"
    src = (
        """keep AS (SELECT min(vec_id) AS vec_id FROM embeddings GROUP BY embedding),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS cl
      FROM embeddings WHERE vec_id IN (SELECT vec_id FROM keep))"""
        if exact_first
        else """e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                            CAST(label AS BIGINT) AS cl FROM embeddings)"""
    )
    return f"""
WITH RECURSIVE {src},
cd AS (
  SELECT cl, i AS dim, round(avg(v[CAST(i AS INT)]), 6) AS cv
  FROM e, UNNEST(range(1, 65)) AS u(i)
  GROUP BY cl, i
),
cent AS (SELECT cl AS pcl, list(cv ORDER BY dim) AS cvec FROM cd GROUP BY cl),
pr AS (
  SELECT e.vec_id, cent.pcl,
         {COSINE_SQL.format(a="e.v", b="cvec")} AS pcos,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {COSINE_SQL.format(a="e.v", b="cvec")} DESC, cent.pcl) AS rn
  FROM e CROSS JOIN cent
),
s AS (
  SELECT e.vec_id, pr.pcl AS cl, e.v, pr.pcos AS ccos
  FROM e JOIN pr ON e.vec_id = pr.vec_id AND pr.rn = 1
),
{probes},
pairs AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM probes pa JOIN probes pb ON pa.pcl = pb.pcl AND pa.vec_id < pb.vec_id
  JOIN e a ON a.vec_id = pa.vec_id
  JOIN e b ON b.vec_id = pb.vec_id
  WHERE {COSINE_SQL.format(a="a.v", b="b.v")} >= {tau}
),{_SEMDEDUP_TAIL_SQL}"""


DEDUP_SQL["semdedup_multiprobe"] = _semdedup_mp_sql()
DEDUP_SQL["semdedup_multiprobe_scaled"] = _semdedup_mp_sql(refined=True)
# The tau-routed COVERAGE-HONEST operating point (VERDICT r10 #4):
# same CTE body at tau=0.5, nprobe=3, no refine bits -- see the
# registration comment for the measured grid behind the choice.
DEDUP_SQL["semdedup_near_dup"] = _semdedup_mp_sql(tau=0.5, nprobe=3)
# The LADDER composition (VERDICT r11 #3): exact dedup (min-vec_id per
# byte-identical vector, a linear groupBy) feeding the SAME tau-routed
# semantic stage -- the registered, oracle-checked form of the
# replica-degeneracy mitigation SCALE.md documents (byte-identical
# copies make the tau>=0.5 pair set itself quadratic; the exact stage
# absorbs them, so the semantic stage prices ~linear under the 10x
# replica protocol).
DEDUP_SQL["semdedup_exact_first"] = _semdedup_mp_sql(
    tau=0.5, nprobe=3, exact_first=True
)

# Incremental embedding dedup: bucket CTEs shared with the embedding
# pair/keeper oracles; corpus-side rows capped (mirroring the capped
# index build), candidates = batch x corpus + batch-internal, exact
# cosine verify, min-id-wins within the batch.
DEDUP_SQL["delta_embedding_dedup"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_table_buckets_sql(D.EMBED_INDEX_TABLES)},
ck AS (
  SELECT vec_id, v, tbl, bkt FROM (
    SELECT *, count(*) OVER (PARTITION BY tbl, bkt) AS w
    FROM b WHERE vec_id % 10 <> 7
  ) WHERE w <= {DEDUP_MAX_BUCKET}
),
dk AS (SELECT vec_id, v, tbl, bkt FROM b WHERE vec_id % 10 = 7),
chit AS (
  SELECT DISTINCT d.vec_id
  FROM dk d JOIN ck c ON d.tbl = c.tbl AND d.bkt = c.bkt
  WHERE list_dot_product(d.v, c.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.35
),
dpair AS (
  SELECT DISTINCT r.vec_id
  FROM dk l JOIN dk r ON l.tbl = r.tbl AND l.bkt = r.bkt AND l.vec_id < r.vec_id
  WHERE list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) >= 0.35
),
dropped AS (SELECT vec_id FROM chit UNION SELECT vec_id FROM dpair)
SELECT vec_id FROM embeddings
WHERE vec_id % 10 = 7 AND vec_id NOT IN (SELECT vec_id FROM dropped)
"""

# Incremental dedup: same minhash/band pipeline, candidates restricted
# to pairs involving the delta split, drop rules = corpus hit OR
# smaller-id delta hit (min-id-wins within the batch).
DEDUP_SQL["delta_dedup"] = f"""
WITH {SHINGLES_SQL},
{_minhash_sigs_sql()},
bands AS (
  SELECT doc_id, b AS band, md5(array_to_string(mh[b*{D.MINHASH_ROWS}+1 : b*{D.MINHASH_ROWS}+{D.MINHASH_ROWS}], ',')) AS band_sig
  FROM sigs, UNNEST(range(0, {D.MINHASH_BANDS})) AS u(b)
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
  WHERE l.doc_id % 10 = 7 OR r.doc_id % 10 = 7
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
    FROM cand
    JOIN sh sa ON cand.doc_a = sa.doc_id
    JOIN sh sb ON cand.doc_b = sb.doc_id
  ) WHERE jac >= 0.2
),
dropped AS (
  SELECT doc_a AS doc_id FROM pairs WHERE doc_a % 10 = 7 AND doc_b % 10 <> 7
  UNION
  SELECT doc_b FROM pairs WHERE doc_b % 10 = 7 AND doc_a % 10 <> 7
  UNION
  SELECT doc_b FROM pairs WHERE doc_a % 10 = 7 AND doc_b % 10 = 7
)
SELECT doc_id FROM documents
WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT doc_id FROM dropped)
"""


# ---------------------------------------------------------------------------
# similarity suite (embeddings)


def _knn(fn, k: int = 10) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
        return fn(emb, queries_df, k)

    return run


def _knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return V.knn_ivf(emb, queries_df, k=10, nprobe=2)


#: materialized IVF layout -- the layout build happens at
#: ingest/compaction cadence in production.
@artifact("ivf")
def _build_ivf_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    V.materialize_ivf(load_table(spark, sf_dir, "embeddings"), path, cell_col="label")


def _knn_ivf_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF shape end-to-end: build the cell-partitioned
    layout + persisted centroids (the `ivf` artifact, amortized per
    sf_dir and priced by its bench twin), then probe it -- the scan carries dynamic
    partition pruning to the probed cells (pinned in
    tests/test_similarity.py). Result-identical to `knn_ivf` (same
    ingest-time assignment: the label column), so it shares that
    query's oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    path = artifact_path(spark, sf_dir, "ivf")
    return V.knn_ivf_materialized(spark, path, queries_df, k=10, nprobe=2)


SIMILARITY_QUERIES: dict[str, QueryFn] = {
    "knn_bruteforce": _knn(V.knn_bruteforce),
    "knn_lsh": _knn(V.knn_lsh),
    "knn_ivf": _knn_ivf,
    "knn_ivf_materialized": _knn_ivf_materialized,
}

SIMILARITY_SQL: dict[str, str] = {
    "knn_bruteforce": f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {COSINE_SQL.format(a="qv", b="cv")} AS cosine
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 10
""",
    "knn_lsh": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_table_buckets_sql(V.LSH_TABLES)},
q AS (SELECT vec_id AS query_id, v AS qv, tbl, bkt FROM b WHERE vec_id < 5),
scored AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, {COSINE_SQL.format(a="q.qv", b="c.v")} AS cosine
  FROM b c JOIN q ON c.tbl = q.tbl AND c.bkt = q.bkt
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 10
""",
    "knn_ivf": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
cd AS (
  SELECT label AS cell, i AS dim, round(avg(embedding[i]::DOUBLE), 6) AS cv
  FROM embeddings, UNNEST(range(1, 65)) AS u(i)
  GROUP BY label, i
),
cent AS (SELECT cell, list(cv ORDER BY dim) AS cvec FROM cd GROUP BY cell),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
pr AS (
  SELECT query_id, cell, qv, row_number() OVER (
      PARTITION BY query_id
      ORDER BY {COSINE_SQL.format(a="qv", b="cvec")} DESC, cell
  ) AS rn
  FROM q CROSS JOIN cent
),
probes AS (SELECT query_id, qv, cell FROM pr WHERE rn <= 2),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {COSINE_SQL.format(a="p.qv", b="c.v")} AS cosine
  FROM probes p JOIN e c ON c.label = p.cell
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 10
""",
}

# the materialized layout is result-identical to knn_ivf (same
# ingest-time cell assignment), so it shares the oracle verbatim
SIMILARITY_SQL["knn_ivf_materialized"] = SIMILARITY_SQL["knn_ivf"]


def _knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the TRAINED deterministic Lloyd quantizer
    (similarity.lloyd_cells) instead of the arbitrary label partition:
    the label stand-in models an ingest-time assignment but has no
    cell locality, measuring planted@.95 recall 0.44 vs 1.00 for the
    fitted quantizer at the same nprobe (BENCH r9/r10) -- this entry
    registers the configuration a real deployment would ship."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    # the fitted assignment feeds BOTH knn_ivf consumers (centroid agg
    # + the corpus probe join); without the lazy checkpoint each
    # re-derives the full 4-pass Lloyd DAG (measured 4.4 s -> 1.3 s)
    assigned = V.lloyd_cells(emb).localCheckpoint(eager=False)
    return V.knn_ivf(assigned, queries_df, k=10, nprobe=2, cell_col="cell")


SIMILARITY_QUERIES["knn_ivf_kmeans"] = _knn_ivf_kmeans


def _lloyd_sql(
    n_iters: int,
    e_cte: str | None = None,
    dim: int = 64,
    planes_sql: str | None = None,
) -> str:
    """CTE fragment replaying similarity.lloyd_cells bit-for-bit:
    sign-LSH init over the _P4 plane matrix, then n_iters unrolled
    Lloyd passes (6-dp centroid means, 4-dp cosine reassignment, ties
    to the lowest cell -- the exact roundings the Spark operator
    contracts). Yields a{n_iters} = (vec_id, v, cell). `e_cte`
    overrides the corpus CTE chain (must end by defining
    e = (vec_id, v)) -- the int8 form feeds reconstructed vectors.
    `dim`/`planes_sql` override the vector width and the init plane
    literal for non-64-dim spaces (the truncated-prefix MRL form)."""
    parts = [
        f"""{e_cte or "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"},
a0 AS (
  SELECT vec_id, v, CAST(list_sum([CASE WHEN list_dot_product(m4[p+1], v) >= 0
    THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END
    for p in range(0, 4)]) AS BIGINT) AS cell
  FROM e, (SELECT {planes_sql or _P4} AS m4)
)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(f"""c{t} AS (
  SELECT cell, list(cv ORDER BY dim) AS cvec FROM (
    SELECT cell, i AS dim, round(avg(v[CAST(i AS INT)]), 6) AS cv
    FROM a{t - 1}, UNNEST(range(1, {dim + 1})) AS u(i) GROUP BY cell, i
  ) GROUP BY cell
)""")
        parts.append(f"""a{t} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c{t}.cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {COSINE_SQL.format(a="e.v", b="cvec")} DESC, c{t}.cell) AS rn
    FROM e CROSS JOIN c{t}
  ) WHERE rn = 1
)""")
    return ",\n".join(parts)


def _lloyd_ivf_sql(
    q_src: str = "e",
    e_cte: str | None = None,
    extra_cte: str | None = None,
    score_src: str | None = None,
    dim: int = 64,
    planes_sql: str | None = None,
) -> str:
    """The full Lloyd-quantized IVF oracle: _lloyd_sql + the knn_ivf
    probe tail. `q_src` names the CTE queries draw full-precision
    vectors from (the int8 form trains/scores on reconstructed
    vectors while queries stay raw, exactly the registered plan).
    `extra_cte` splices additional CTEs between the Lloyd chain and
    the probe tail, and `score_src` redirects the tail's centroid
    aggregation + candidate join to a CTE other than the Lloyd
    chain's a{N} (the residual-PQ form scores RECONSTRUCTIONS stored
    under the coarse a{N} assignment)."""
    score = score_src or f"a{V.LLOYD_ITERS}"
    extra = f"{extra_cte},\n" if extra_cte else ""
    return f"""
WITH {_lloyd_sql(V.LLOYD_ITERS, e_cte=e_cte, dim=dim, planes_sql=planes_sql)},
{extra}cd AS (
  SELECT cell, i AS dim, round(avg(v[CAST(i AS INT)]), 6) AS cv
  FROM {score}, UNNEST(range(1, {dim + 1})) AS u(i) GROUP BY cell, i
),
cent AS (SELECT cell, list(cv ORDER BY dim) AS cvec FROM cd GROUP BY cell),
q AS (SELECT vec_id AS query_id, v AS qv FROM {q_src} WHERE vec_id < 5),
pr AS (
  SELECT query_id, cell, qv, row_number() OVER (
      PARTITION BY query_id
      ORDER BY {COSINE_SQL.format(a="qv", b="cvec")} DESC, cell
  ) AS rn
  FROM q CROSS JOIN cent
),
probes AS (SELECT query_id, qv, cell FROM pr WHERE rn <= 2),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {COSINE_SQL.format(a="p.qv", b="c.v")} AS cosine
  FROM probes p JOIN {score} c ON c.cell = p.cell
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


SIMILARITY_SQL["knn_ivf_kmeans"] = _lloyd_ivf_sql()


@artifact("int8")
def _build_int8_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The int8 index as its stored production artifact (the
    quantized vectors and their trained-cell assignment are written
    once at ingest): lloyd_cells over reconstructed_int8, persisted
    as a per-sf parquet side table exactly like `pq`."""
    emb = load_table(spark, sf_dir, "embeddings")
    V.lloyd_cells(V.reconstructed_int8(emb)).write.mode("overwrite").parquet(path)


def _knn_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory-bound production shape: the INDEX side (quantizer
    training, cell assignment, and scoring vectors) runs entirely on
    int8-reconstructed vectors (4x-smaller storage), while queries
    arrive full-precision -- measuring exactly the recall the compression costs (planted bench rows
    knn_ivf_int8_*). The index is the per-sf stored `int8`
    artifact -- the production read path, like the PQ rung."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    assigned = spark.read.parquet(artifact_path(spark, sf_dir, "int8"))
    return V.knn_ivf(assigned, queries_df, k=10, nprobe=2, cell_col="cell")


SIMILARITY_QUERIES["knn_ivf_int8"] = _knn_ivf_int8

_INT8_E_CTE = """raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS s
  FROM raw
),
e AS (SELECT vec_id, list_transform(v, x -> round(x / s) * s) AS v FROM sc)"""

SIMILARITY_SQL["knn_ivf_int8"] = _lloyd_ivf_sql(q_src="raw", e_cte=_INT8_E_CTE)


@artifact("pq")
def _build_pq_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The residual-PQ index as the stored artifact it is in
    production (codebooks + codes are built ONCE at ingest; queries
    probe the stored reconstruction): reconstructed_pq_residual's
    (vec_id, embedding, cell) written as a parquet side table per sf,
    amortized exactly like `ivf`. Parquet stores the doubles exactly,
    so probing the layout is value-identical to probing the inline
    reconstruction."""
    emb = load_table(spark, sf_dir, "embeddings")
    V.reconstructed_pq_residual(emb).write.mode("overwrite").parquet(path)


def _knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deepest rung of the compression ladder (float32 -> int8 ->
    PQ), in the RESIDUAL-encoded IVF-ADC form (Jegou et al. 2011's
    published recipe, VERDICT r10 #3): the coarse Lloyd quantizer
    assigns cells on the raw vectors, the m=4 subspace codebooks
    quantize the residual x - centroid(x), and the index stores cell
    + ~2 bytes of codes per vector; scoring reconstructions
    (centroid + codewords) against full-precision queries is
    asymmetric distance computation. Residual encoding is why this
    rung holds recall at ~100x compression -- planted @.95 recall
    1.00 vs the raw-vector form's saturated 0.70 at the SAME code
    budget (bench rows knn_ivf_pq_* vs knn_ivf_pq_raw_*). The index
    is the per-sf stored `pq` artifact, probed here -- the production
    read path."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    recon = spark.read.parquet(artifact_path(spark, sf_dir, "pq"))
    return V.knn_ivf(recon, queries_df, k=10, nprobe=2, cell_col="cell")


SIMILARITY_QUERIES["knn_ivf_pq"] = _knn_ivf_pq


#: the residual-PQ oracle's corpus chain: e = the RAW vectors (the
#: coarse Lloyd quantizer trains on them, unlike the int8 form whose
#: e is reconstructed), with raw kept for full-precision queries.
_PQ_RES_E_CTE = """raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v FROM raw)"""


def _pq_res_cte(m: int = V.PQ_SUBSPACES, n_iters: int = V.PQ_ITERS) -> str:
    """CTE chain replaying similarity.reconstructed_pq_residual
    bit-for-bit, spliced AFTER the coarse Lloyd chain (a{N} over raw
    vectors): the coarse centroids (ccent, 6-dp means -- the
    ivf_centroids contract), the residual frame rres = v - cvec, then
    per subspace the slice, the sign-LSH init over that subspace's
    OWN plane table, n_iters unrolled Lloyd passes (the exact
    roundings _lloyd_sql contracts), the final per-cell codeword, and
    the codeword join; ends with recon = (vec_id, cell,
    cvec + concatenated codewords) -- the score_src contract
    _lloyd_ivf_sql's tail expects."""
    sub_dim = V.EMB_DIM // m
    nlast = V.LLOYD_ITERS
    parts = [
        f"""ccd AS (
  SELECT cell, i AS dim, round(avg(v[CAST(i AS INT)]), 6) AS cv
  FROM a{nlast}, UNNEST(range(1, {V.EMB_DIM + 1})) AS u(i) GROUP BY cell, i
)""",
        "ccent AS (SELECT cell, list(cv ORDER BY dim) AS cvec FROM ccd GROUP BY cell)",
        f"""rres AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, {V.EMB_DIM + 1}),
                        i -> a.v[CAST(i AS INT)] - c.cvec[CAST(i AS INT)]) AS r
  FROM a{nlast} a JOIN ccent c USING (cell)
)""",
    ]
    for j in range(m):
        pj = "[" + ", ".join(
            "[" + ", ".join(repr(x) for x in row) + "]"
            for row in V.lsh_planes(V.PQ_SUB_PLANES, sub_dim, table=j)
        ) + "]"
        lo, hi = j * sub_dim + 1, (j + 1) * sub_dim
        parts.append(f"""s{j}v AS (SELECT vec_id, r[{lo}:{hi}] AS sv FROM rres)""")
        parts.append(f"""s{j}a0 AS (
  SELECT vec_id, sv, CAST(list_sum([CASE WHEN list_dot_product(mj[p+1], sv) >= 0
    THEN CAST(1 << p AS BIGINT) ELSE CAST(0 AS BIGINT) END
    for p in range(0, {V.PQ_SUB_PLANES})]) AS BIGINT) AS cell
  FROM s{j}v, (SELECT {pj} AS mj)
)""")
        for t in range(1, n_iters + 1):
            parts.append(f"""s{j}c{t} AS (
  SELECT cell, list(cv ORDER BY dim) AS cvec FROM (
    SELECT cell, i AS dim, round(avg(sv[CAST(i AS INT)]), 6) AS cv
    FROM s{j}a{t - 1}, UNNEST(range(1, {sub_dim + 1})) AS u(i) GROUP BY cell, i
  ) GROUP BY cell
)""")
            parts.append(f"""s{j}a{t} AS (
  SELECT vec_id, sv, cell FROM (
    SELECT s{j}v.vec_id, s{j}v.sv, s{j}c{t}.cell,
           row_number() OVER (PARTITION BY s{j}v.vec_id
               ORDER BY {COSINE_SQL.format(a=f"s{j}v.sv", b="cvec")} DESC, s{j}c{t}.cell) AS rn
    FROM s{j}v CROSS JOIN s{j}c{t}
  ) WHERE rn = 1
)""")
        parts.append(f"""s{j}cent AS (
  SELECT cell, list(cv ORDER BY dim) AS cvec FROM (
    SELECT cell, i AS dim, round(avg(sv[CAST(i AS INT)]), 6) AS cv
    FROM s{j}a{n_iters}, UNNEST(range(1, {sub_dim + 1})) AS u(i) GROUP BY cell, i
  ) GROUP BY cell
)""")
        parts.append(
            f"s{j}p AS (SELECT a.vec_id, c.cvec AS p{j} "
            f"FROM s{j}a{n_iters} a JOIN s{j}cent c USING (cell))"
        )
    concat = " || ".join(f"s{j}p.p{j}" for j in range(m))
    joins = " ".join(f"JOIN s{j}p USING (vec_id)" for j in range(m))
    parts.append(f"""recon AS (
  SELECT rres.vec_id, rres.cell,
         list_transform(list_zip(c.cvec, {concat}), s -> s[1] + s[2]) AS v
  FROM rres JOIN ccent c USING (cell) {joins}
)""")
    return ",\n".join(parts)


SIMILARITY_SQL["knn_ivf_pq"] = _lloyd_ivf_sql(
    q_src="raw", e_cte=_PQ_RES_E_CTE, extra_cte=_pq_res_cte(), score_src="recon"
)


#: Matryoshka prefix width: first 16 of 64 dims (4x memory cut)
MRL_DIM = 16

@artifact("mrl")
def _build_mrl_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The MRL index as its stored production artifact: the 16-dim
    truncated vectors and their Lloyd cell assignment, written once
    per sf exactly like `int8` / `pq` (VERDICT r12 #6 -- the inline
    per-query fit was the heaviest window entry; MRL deployments
    store and search the prefix space, so the fit IS an ingest
    artifact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb16 = emb.select(
        "vec_id",
        F.slice(V._dvec(F.col("embedding")), 1, MRL_DIM).alias("embedding"),
    )
    V.lloyd_cells(emb16, dim=MRL_DIM).write.mode("overwrite").parquet(path)


def _knn_ivf_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DIMENSION-truncation rung of the compression ladder
    (Matryoshka Representation Learning, Kusupati et al. 2022): index
    AND queries live in the first MRL_DIM=16 of 64 dims -- the same
    4x memory cut as int8, achieved by prefix truncation instead of
    scalar quantization, which is how MRL-trained embeddings deploy
    (store and search the prefix space; no decode at all). These
    synthetic embeddings are NOT MRL-trained, so the measured planted
    recall (bench rows knn_ivf_mrl_planted@.*) is the honest cost of
    assuming prefix dominance on vectors that spread information
    uniformly -- the comparison row a data lead reads before choosing
    truncation over int8 at the same budget."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb16 = emb.select(
        "vec_id",
        F.slice(V._dvec(F.col("embedding")), 1, MRL_DIM).alias("embedding"),
    )
    queries_df = emb16.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the 16-dim Lloyd fit is the per-sf stored `mrl` artifact -- the
    # `cluster_fit` stance every sibling rung uses (VERDICT r12 #6: the inline fit made
    # this the heaviest window entry at 6.0 s solo while int8/PQ
    # probed stored layouts). The oracle replays the fit, so results
    # are unchanged.
    assigned = spark.read.parquet(artifact_path(spark, sf_dir, "mrl"))
    return V.knn_ivf(assigned, queries_df, k=10, nprobe=2, cell_col="cell")


SIMILARITY_QUERIES["knn_ivf_mrl"] = _knn_ivf_mrl

_P4_MRL = "[" + ", ".join(
    "[" + ", ".join(repr(x) for x in row) + "]"
    for row in V.lsh_planes(n_planes=4, dim=MRL_DIM)
) + "]"
SIMILARITY_SQL["knn_ivf_mrl"] = _lloyd_ivf_sql(
    e_cte=f"e AS (SELECT vec_id, (embedding::DOUBLE[])[1:{MRL_DIM}] AS v FROM embeddings)",
    dim=MRL_DIM,
    planes_sql=_P4_MRL,
)


# corpus_topic_map: the hash-embed prefix (text_knn's oracle, ends at
# e) feeds the unrolled Lloyd replay (knn_ivf_kmeans's oracle), then
# three rollups over the (doc_id, cell) membership -- both building
# blocks are the exact CTEs the already-verdicted entries pin, so the
# composition cannot drift from either. The membership prefix is
# shared verbatim with cluster_prune_keepers (the acting form) so the
# gate drops exactly the clusters the inspection table shows.
_HASH_EMBED_E_CTE = _HASH_EMBED_E_SQL[len("WITH ") :]
_TOPIC_MEMBER_CTES = f"""WITH {_lloyd_sql(V.LLOYD_ITERS, e_cte=_HASH_EMBED_E_CTE)},
m AS (SELECT vec_id AS doc_id, cell FROM a{V.LLOYD_ITERS}),
dt AS (
  SELECT m.cell, d.doc_id, d.source,
         list_filter(string_split_regex(trim(lower(d.text)), '\\s+'), x -> x <> '') AS tkf
  FROM m JOIN documents d USING (doc_id)
)"""
TEXT_SQL["corpus_topic_map"] = f"""
{_TOPIC_MEMBER_CTES},
stats AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(tkf)) AS BIGINT) AS total_tokens
  FROM dt GROUP BY cell
),
srcs AS (
  SELECT cell, source, count(*) AS c,
         row_number() OVER (PARTITION BY cell ORDER BY count(*) DESC, source) AS r
  FROM dt GROUP BY cell, source
),
tt AS (
  SELECT cell, term, CAST(count(*) AS BIGINT) AS term_count
  FROM (SELECT cell, unnest(tkf) AS term FROM dt) GROUP BY cell, term
),
rk AS (
  SELECT cell, term, term_count,
         row_number() OVER (PARTITION BY cell ORDER BY term_count DESC, term) AS term_rank
  FROM tt
)
SELECT s.cell, s.n_docs, s.total_tokens,
       CAST(s.total_tokens // s.n_docs AS BIGINT) AS mean_tokens,
       sr.source AS top_source,
       CAST(rk.term_rank AS INT) AS term_rank, rk.term, rk.term_count
FROM stats s
JOIN (SELECT cell, source FROM srcs WHERE r = 1) sr USING (cell)
JOIN rk ON rk.cell = s.cell AND rk.term_rank <= 3
ORDER BY s.cell, rk.term_rank
"""

# the ACTING form: drop whole clusters below the mean-length bar --
# membership CTEs shared verbatim with the inspection table above
TEXT_SQL["cluster_prune_keepers"] = f"""
{_TOPIC_MEMBER_CTES},
cs AS (
  SELECT cell,
         CAST(CAST(sum(len(tkf)) AS BIGINT) // count(*) AS BIGINT) AS cluster_mean_tokens
  FROM dt GROUP BY cell
)
SELECT dt.doc_id, dt.cell, cs.cluster_mean_tokens
FROM dt JOIN cs USING (cell)
WHERE cs.cluster_mean_tokens >= {C.MIN_CLUSTER_MEAN_TOKENS}
ORDER BY dt.doc_id
"""


# ---------------------------------------------------------------------------
# multimodal suite (binary payloads built from documents)


def _media(plan) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan(M.attach_binary(load_table(spark, sf_dir, "documents")))

    return run


def _media_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decode audio stats: synth_wav writes genuine WAV bytes,
    wav_stats/wav_resample parse them back through the stdlib wave
    codec (original + stride-4 decimation). mean/rms round via
    F.round in-plan (half-away, engine-portable)."""
    # ONE fused synth+decode kernel (r14, guide §4.2): the r13 form
    # lazily checkpointed the synth output so two decode branches
    # shared it -- that stored the payload BYTES on executors and
    # still shipped them across the Arrow boundary three times; the
    # fused kernel runs the identical codec sequence per item and
    # emits only the narrow stats row (no checkpoint, no join).
    fused = M.synth_wav_stats_decimated(load_table(spark, sf_dir, "documents"), stride=4)
    return fused.select(
        "media_id",
        "n_frames",
        "framerate",
        F.round("mean_amp", 4).alias("mean_amp"),
        F.round("rms", 4).alias("rms"),
        "peak",
        "rs_n_frames",
        "rs_framerate",
        F.round("rs_mean_amp", 4).alias("rs_mean_amp"),
    ).orderBy("media_id")


def _media_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decode image stats: synth_bmp writes genuine uncompressed
    24-bit BMP bytes (grayscale pixels = the text's ASCII codes,
    zero-padded to 16-pixel rows), bmp_stats/bmp_resize struct-parse
    them back (original + stride-2 nearest-neighbor downsample,
    re-decoded). mean_lum rounds via F.round in-plan (half-away,
    engine-portable)."""
    # ONE fused synth+decode kernel (r14, guide §4.2) -- see
    # _media_wav_stats for the rationale; identical codec sequence,
    # payload never crosses Arrow, no checkpoint, no join.
    fused = M.synth_bmp_stats_resized(load_table(spark, sf_dir, "documents"), stride=2)
    return fused.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        F.round("mean_lum", 4).alias("mean_lum"),
        "max_lum",
        "rs_width",
        "rs_height",
        "rs_n_pixels",
        F.round("rs_mean_lum", 4).alias("rs_mean_lum"),
    ).orderBy("media_id")


def _media_avi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decode video stats: synth_avi writes genuine RIFF/AVI
    bytes (uncompressed DIB frames whose grayscale pixels are the
    text's ASCII codes, zero-padded to 64-pixel frames),
    avi_stats/avi_frame_sample struct-parse them back (original +
    every-2nd-frame temporal decimation re-encoded at fps/2).
    mean_lum rounds via F.round in-plan (half-away,
    engine-portable)."""
    # ONE fused synth+decode kernel (r14, guide §4.2): the r13 lazy
    # checkpoint of the synth table (shared by the two decode
    # branches) stored payload BYTES on executors and regressed both
    # checkpointed entries in the driver run (VERDICT r13 #3); the
    # fused kernel runs the identical codec sequence per item --
    # encode, demux, stats, decimate, re-encode at fps/2, re-demux,
    # stats -- and emits only the narrow stats row (no checkpoint, no
    # join, payload never crosses the Arrow boundary).
    fused = M.synth_avi_stats_sampled(load_table(spark, sf_dir, "documents"), stride=2)
    return fused.select(
        "media_id",
        "n_frames",
        "width",
        "height",
        "fps",
        F.round("mean_lum", 4).alias("mean_lum"),
        "max_lum",
        "rs_n_frames",
        "rs_fps",
        F.round("rs_mean_lum", 4).alias("rs_mean_lum"),
    ).orderBy("media_id")


MULTIMODAL_QUERIES: dict[str, QueryFn] = {
    "media_stats": _media(M.media_stats),
    # mapInPandas path; the deterministic stand-in decoder is
    # sha256-based, so even the Arrow-batched Python stage is exactly
    # oracle-checkable (f0 = first 4 digest bytes / 2^32).
    "media_features": _media(
        lambda media: M.extract_features(media).select(
            "media_id", "modality", "byte_len", F.round(F.element_at("feature", 1), 4).alias("f0")
        )
    ),
    # REAL codec end-to-end: documents -> genuine RIFF/WAV containers
    # (samples = ASCII byte values) -> stdlib-wave decode -> typed
    # stats, plus a real decimating resample (stride 4) re-decoded.
    # Deterministic by construction, so the per-byte oracle recomputes
    # every decoded number from the text itself.
    "media_wav_stats": _media_wav_stats,
    # SECOND real codec end-to-end (r10 rotation candidate):
    # documents -> genuine uncompressed 24bpp BMP containers
    # (grayscale pixels = ASCII codes, zero-padded rows) -> struct
    # decode -> typed stats, plus a real stride-2 nearest-neighbor
    # downsample re-decoded. Deterministic, so the per-pixel oracle
    # recomputes every decoded number from the text itself.
    "media_bmp_stats": _media_bmp_stats,
    # THIRD real codec end-to-end, completing the modality trio:
    # documents -> genuine RIFF/AVI containers (uncompressed 24bpp
    # DIB frames, grayscale pixels = ASCII codes zero-padded to
    # 64-pixel frames, idx1 index) -> struct demux -> typed stats,
    # plus a real every-2nd-frame temporal decimation re-encoded at
    # fps/2 and re-decoded. Deterministic, so the per-pixel oracle
    # recomputes every decoded number from the text itself.
    "media_avi_stats": _media_avi_stats,
    # MEDIA DEDUP (r10, r11 rotation candidates): the digest ladder.
    # Exact = one hash agg on the map-side sha256 payload digest;
    # synth payloads are injective in the text, so the oracle groups
    # by RAW text (byte-equality semantics, no normalization).
    # digest-only synth (r14, guide §4.1: pass/emit only what the
    # consumer needs): the checksum is sha256 over the same real
    # encoded container, but the payload bytes no longer cross the
    # Arrow boundary just to be dropped by the digest groupBy
    "media_exact_dups": (
        lambda spark, sf_dir: M.media_exact_dups(
            M.synth_wav_digest(load_table(spark, sf_dir, "documents"))
        )
    ),
    # Near-dup = REAL-decode feature agreement (equal duration block
    # + mean/RMS within integer basis-point tolerance) -- catches
    # same-signal re-encodes whose bytes differ. Features come from
    # the fused synth+decode kernel (r14): identical codec sequence,
    # but the payload never crosses the Arrow boundary between the
    # synth and stats stages.
    "media_near_dup": (
        lambda spark, sf_dir: M.media_near_dup_pairs_from_stats(
            M.synth_wav_stats(load_table(spark, sf_dir, "documents"))
        )
    ),
    # the hot-key-proof blocking form (SCALE.md r11): sub-keyed on
    # (n_frames, floor(mean_bp/tol)) with pigeonhole double emission
    # -- result-identical to the plain key by construction, so it
    # shares that entry's oracle VERBATIM (the bm25_indexed pinning
    # idiom: the strongest identity statement the gate can make)
    "media_near_dup_subkey": (
        lambda spark, sf_dir: M.media_near_dup_pairs_from_stats(
            M.synth_wav_stats(load_table(spark, sf_dir, "documents")), sub_key=True
        )
    ),
}

MULTIMODAL_SQL: dict[str, str] = {
    "media_stats": """
SELECT 'text' AS modality, count(*) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       round(avg(octet_length(encode(text))), 4) AS avg_bytes,
       count(DISTINCT text) AS distinct_payloads
FROM documents
""",
    "media_features": """
SELECT doc_id AS media_id, 'text' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       round(('0x' || substr(sha256(text), 1, 8))::BIGINT / 4294967296.0, 4) AS f0
FROM documents
""",
    # the WAV samples are the text's ASCII codes, so every decoded
    # number recomputes per byte: unicode(char) = sample value;
    # stride-4 decimation keeps positions with (i-1) % 4 = 0
    "media_wav_stats": """
WITH pos AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
         unicode(substr(text, CAST(u.i AS INT), 1)) AS s
  FROM documents, UNNEST(range(1, len(text) + 1)) AS u(i)
),
orig AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         round(avg(s), 4) AS mean_amp,
         round(sqrt(avg(CAST((s - 128) * (s - 128) AS DOUBLE))), 4) AS rms,
         CAST(max(s) AS BIGINT) AS peak
  FROM pos GROUP BY doc_id
),
rs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS rs_n_frames,
         round(avg(s), 4) AS rs_mean_amp
  FROM pos WHERE (i - 1) % 4 = 0 GROUP BY doc_id
)
SELECT o.doc_id AS media_id, o.n_frames, CAST(8000 AS BIGINT) AS framerate,
       o.mean_amp, o.rms, o.peak,
       r.rs_n_frames, CAST(2000 AS BIGINT) AS rs_framerate, r.rs_mean_amp
FROM orig o JOIN rs r ON o.doc_id = r.doc_id
ORDER BY media_id
""",
    # media_bmp_stats: pixel i of doc = ascii code for i < len(text),
    # 0 for the row padding; height = ceil(len/16) with a 1-row floor
    # (empty text -> one all-zero row). The resize keeps even rows and
    # even columns of the logical grid. Luminance of a gray triple ==
    # the gray value, and IEEE division is correctly rounded, so
    # Python's 3S/(3n) equals avg(s) exactly.
    "media_bmp_stats": """
WITH geo AS (
  SELECT doc_id, text, len(text) AS n,
         greatest(CAST(ceil(len(text) / 16.0) AS BIGINT), 1) AS h
  FROM documents
),
pos AS (
  SELECT g.doc_id, g.h, CAST(u.i AS BIGINT) AS i,
         CASE WHEN u.i < g.n
              THEN unicode(substr(g.text, CAST(u.i + 1 AS INT), 1))
              ELSE 0 END AS s
  FROM geo g, UNNEST(range(0, g.h * 16)) AS u(i)
),
orig AS (
  SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
         CAST(count(*) AS BIGINT) AS n_pixels,
         round(avg(s), 4) AS mean_lum,
         CAST(max(s) AS BIGINT) AS max_lum
  FROM pos GROUP BY doc_id
),
rs AS (
  SELECT doc_id, CAST(8 AS BIGINT) AS rs_width,
         CAST((max(h) + 1) // 2 AS BIGINT) AS rs_height,
         CAST(count(*) AS BIGINT) AS rs_n_pixels,
         round(avg(s), 4) AS rs_mean_lum
  FROM pos WHERE (i // 16) % 2 = 0 AND (i % 16) % 2 = 0
  GROUP BY doc_id
)
SELECT o.doc_id AS media_id, o.width, o.height, o.n_pixels, o.mean_lum, o.max_lum,
       r.rs_width, r.rs_height, r.rs_n_pixels, r.rs_mean_lum
FROM orig o JOIN rs r ON o.doc_id = r.doc_id
ORDER BY media_id
""",
    # media_avi_stats: pixel i of doc = ascii code for i < len(text),
    # 0 for the frame padding; frames = ceil(len/64) with a 1-frame
    # floor (empty text -> one all-zero frame). The temporal
    # decimation keeps even frame indices (i // 64 even) and halves
    # the frame rate. Same exact-mean argument as media_bmp_stats:
    # Python's 3S/(3n) equals avg(s) exactly under IEEE division.
    "media_avi_stats": """
WITH geo AS (
  SELECT doc_id, text, len(text) AS n,
         greatest(CAST(ceil(len(text) / 64.0) AS BIGINT), 1) AS nf
  FROM documents
),
pos AS (
  SELECT g.doc_id, g.nf, CAST(u.i AS BIGINT) AS i,
         CASE WHEN u.i < g.n
              THEN unicode(substr(g.text, CAST(u.i + 1 AS INT), 1))
              ELSE 0 END AS s
  FROM geo g, UNNEST(range(0, g.nf * 64)) AS u(i)
),
orig AS (
  SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
         round(avg(s), 4) AS mean_lum,
         CAST(max(s) AS BIGINT) AS max_lum
  FROM pos GROUP BY doc_id
),
rs AS (
  SELECT doc_id, CAST((max(nf) + 1) // 2 AS BIGINT) AS rs_n_frames,
         round(avg(s), 4) AS rs_mean_lum
  FROM pos WHERE (i // 64) % 2 = 0
  GROUP BY doc_id
)
SELECT o.doc_id AS media_id, o.n_frames,
       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       CAST(4 AS BIGINT) AS fps, o.mean_lum, o.max_lum,
       r.rs_n_frames, CAST(2 AS BIGINT) AS rs_fps, r.rs_mean_lum
FROM orig o JOIN rs r ON o.doc_id = r.doc_id
ORDER BY media_id
""",
}

# media_exact_dups: the synth payload is injective in the text (header
# depends only on len(text) + a constant framerate), so payload-digest
# equality IS raw-text equality -- the oracle groups by text verbatim
# (no normalization: binary semantics).
MULTIMODAL_SQL["media_exact_dups"] = """
SELECT min(doc_id) AS keep_media_id, CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY text
"""

# media_near_dup: decoded features recompute per byte (the
# media_wav_stats idiom), quantized to integer basis points BEFORE the
# tolerance compare so both engines difference identical integers.
MULTIMODAL_SQL["media_near_dup"] = f"""
WITH pos AS (
  SELECT doc_id, unicode(substr(text, CAST(u.i AS INT), 1)) AS s
  FROM documents, UNNEST(range(1, len(text) + 1)) AS u(i)
),
feats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         CAST(round(avg(s) * 10000) AS BIGINT) AS mean_bp,
         CAST(round(sqrt(avg(CAST((s - 128) * (s - 128) AS DOUBLE))) * 10000) AS BIGINT) AS rms_bp
  FROM pos GROUP BY doc_id
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b, a.n_frames,
       a.mean_bp - b.mean_bp AS d_mean_bp,
       a.rms_bp - b.rms_bp AS d_rms_bp
FROM feats a JOIN feats b
  ON a.n_frames = b.n_frames AND a.doc_id < b.doc_id
WHERE abs(a.mean_bp - b.mean_bp) <= {M.MEDIA_NEAR_DUP_TOL_BP}
  AND abs(a.rms_bp - b.rms_bp) <= {M.MEDIA_NEAR_DUP_TOL_BP}
"""

# result-identical by the pigeonhole argument (test-pinned), so the
# sub-keyed form shares the oracle verbatim
MULTIMODAL_SQL["media_near_dup_subkey"] = MULTIMODAL_SQL["media_near_dup"]


# ---------------------------------------------------------------------------
# public manifest


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    out.update(ANALYTICS_QUERIES)
    out.update(RELATIONAL_QUERIES)
    out.update(TEMPORAL_QUERIES)
    out.update(BEHAVIORAL_QUERIES)
    out.update(TEXT_QUERIES)
    out.update(DIMENSION_QUERIES)
    out.update(DEDUP_QUERIES)
    out.update(SIMILARITY_QUERIES)
    out.update(MULTIMODAL_QUERIES)
    return out


def all_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(ANALYTICS_SQL)
    out.update(RELATIONAL_SQL)
    out.update(TEMPORAL_SQL)
    out.update(BEHAVIORAL_SQL)
    out.update(TEXT_SQL)
    out.update(DIMENSION_SQL)
    out.update(DEDUP_SQL)
    out.update(SIMILARITY_SQL)
    out.update(MULTIMODAL_SQL)
    return out


# The order is fixed this round so BENCH deltas stay comparable across
# changes; every registry entry, listed here or not, stays DuckDB-swept
# by tests/test_oracle_parity.py.
DRIVER_ORDER = [
    "semdedup_exact_first",
    "hybrid_rank_indexed",
    "semdedup_near_dup",
    "knn_ivf_mrl",
    "media_near_dup_subkey",
    "media_exact_dups",
    "bpe_train",
    "bpe_encode",
    "top_tokens",
    "failed_transactions",
    "merge_dim_wallets",
    "knn_ivf_materialized",
    "dedup_keepers",
    "corpus_curation",
    "sales_rollup",
    "bm25_indexed",
    "simhash_near_dup_wide",
    "contamination_report",
    "delta_containment_exposure",
    "dsir_scores",
    "corpus_diversity",
    "minhash_calibration",
    "stratified_holdout",
    "corpus_card",
    "denoising_spans",
    "pack_boundaries",
    "length_buckets",
    "canary_registry",
    "mixture_waterfill",
    "epoch_plan",
    "shard_manifest",
    "simhash_near_dup",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "knn_lsh",
    "media_stats",
    "media_avi_stats",
    "dim_wallets",
    "program_dim_rollup",
    "transaction_volume",
    "hourly_volume",
    "active_programs",
    "wallet_activity",
    "program_trends",
    "cumulative_new_users",
    "sketch_rollup",
    "rollup_exact_users",
    "corpus_selection",
    "benchmark_contamination",
]


def driver_queries() -> dict[str, QueryFn]:
    qs = all_queries()
    return {name: qs[name] for name in DRIVER_ORDER}


def driver_oracle_sql() -> dict[str, str]:
    sql = all_oracle_sql()
    return {name: sql[name] for name in DRIVER_ORDER if name in sql}
