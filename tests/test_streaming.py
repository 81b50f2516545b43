"""Structured Streaming pipeline: end-to-end file stream -> parse ->
dedup -> parquet sink, restart/resume via checkpoint, and the
windowed-aggregation twin of the A5 hourly-volume query."""

import json
import os

import pytest

from solana_data_etl_pipeline_spark.operators.parse import parse_blocks
from solana_data_etl_pipeline_spark.sources.blocks import blocks_to_df
from solana_data_etl_pipeline_spark.sources.fixtures import make_block
from solana_data_etl_pipeline_spark.streaming.structured import (
    hourly_volume_stream,
    run_block_stream,
    stream_blocks,
)


def _land(path, name, slots):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for s in slots:
            b = make_block(s)
            if b is not None:
                f.write(json.dumps(b) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_stream_matches_batch_parse(spark, dirs):
    inp, out, ckpt = dirs
    _land(inp, "a.jsonl", range(1, 15))
    run_block_stream(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    expected = parse_blocks(blocks_to_df(spark, [make_block(s) for s in range(1, 15)]))
    assert got.count() == expected.count()
    assert sorted(r.event_id for r in got.select("event_id").collect()) == sorted(
        r.event_id for r in expected.select("event_id").collect()
    )
    # date partitioning materialized
    assert {r.event_date for r in got.select("event_date").distinct().collect()}


def test_stream_restart_resumes_and_dedups(spark, dirs):
    inp, out, ckpt = dirs
    _land(inp, "a.jsonl", range(1, 10))
    run_block_stream(spark, inp, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # second landing overlaps the first (slots 5-9 replayed)
    _land(inp, "b.jsonl", range(5, 20))
    run_block_stream(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    ids = [r.event_id for r in got.select("event_id").collect()]
    assert len(ids) == len(set(ids)), "replayed slots must not duplicate events"
    expected = parse_blocks(blocks_to_df(spark, [make_block(s) for s in range(1, 20)]))
    assert len(ids) == expected.count()
    assert len(ids) > n1


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    import json as _json

    from solana_data_etl_pipeline_spark.streaming.stateful import running_user_totals

    from pyspark.sql import functions as F

    inp = str(tmp_path / "ev_in")
    ckpt = str(tmp_path / "ev_ckpt")
    out = str(tmp_path / "ev_out")
    os.makedirs(inp, exist_ok=True)

    def land(name, rows):
        with open(os.path.join(inp, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def drain(run):
        stream = spark.readStream.schema("user_id long, value double").json(inp)

        def sink(df, batch_id):
            df.withColumn("run", F.lit(run)).write.mode("append").parquet(out)

        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.read.parquet(out).filter(F.col("run") == run).collect()
        }

    land("a.jsonl", [{"user_id": 1, "value": 2.0}, {"user_id": 1, "value": 3.0}, {"user_id": 2, "value": 5.0}])
    got1 = drain(1)
    assert got1[1] == (2, 5.0)
    assert got1[2] == (1, 5.0)

    # second run: state restored from the checkpoint and accumulated
    land("b.jsonl", [{"user_id": 1, "value": 10.0}, {"user_id": 3, "value": 1.0}])
    got2 = drain(2)
    assert got2[1] == (3, 15.0)  # accumulated across restarts
    assert got2[3] == (1, 1.0)
    assert 2 not in got2  # untouched key not re-emitted in update mode


def test_hourly_volume_stream_matches_batch(spark, dirs):
    inp, _, _ = dirs
    _land(inp, "a.jsonl", range(1, 30))
    stream = hourly_volume_stream(parse_blocks(stream_blocks(spark, inp)))
    q = (
        stream.writeStream.format("memory")
        .queryName("hv_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.hour_start: r.tx_count for r in spark.sql("SELECT * FROM hv_test").collect()}
    batch = parse_blocks(blocks_to_df(spark, [make_block(s) for s in range(1, 30)]))
    from pyspark.sql import functions as F

    expected = {
        r.hour_start: r.tx_count
        for r in batch.filter(F.col("event_type") == "transaction")
        .groupBy(F.date_trunc("hour", "block_time").alias("hour_start"))
        .agg(F.count("*").alias("tx_count"))
        .collect()
    }
    assert got == expected


def test_transfer_attribution_stream_matches_batch(spark, dirs):
    from solana_data_etl_pipeline_spark.streaming.structured import transfer_attribution_stream

    inp, _, _ = dirs
    _land(inp, "a.jsonl", range(1, 40))
    stream = transfer_attribution_stream(parse_blocks(stream_blocks(spark, inp)))
    q = (
        stream.writeStream.format("memory")
        .queryName("attr_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.event_id, r.tx_signature, r.success)
        for r in spark.sql("SELECT * FROM attr_test").collect()
    )
    batch = parse_blocks(blocks_to_df(spark, [make_block(s) for s in range(1, 40)]))
    expected = sorted(
        (r.event_id, r.tx_signature, r.success)
        for r in transfer_attribution_stream(batch).collect()
    )
    assert got == expected
    assert len(got) > 0  # fixtures actually produce transfers
    # every transfer attributed exactly once (signature join is 1:1)
    assert len({g[0] for g in got}) == len(got)


def test_stream_to_parquet_warehouse_idempotent(spark, tmp_path):
    """foreachBatch into the parquet warehouse: drained events land
    once; re-running the stream over the same landing zone (fresh
    checkpoint, worst case) is a no-op thanks to the sink anti-join."""
    import json as _json

    from solana_data_etl_pipeline_spark.sinks.warehouse import ParquetWarehouse
    from solana_data_etl_pipeline_spark.sources.fixtures import make_block
    from solana_data_etl_pipeline_spark.streaming.structured import run_stream_to_warehouse

    inp = tmp_path / "landing"
    inp.mkdir()
    blocks = [make_block(s) for s in (1, 2, 3)]
    (inp / "b.jsonl").write_text("\n".join(_json.dumps(b) for b in blocks))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.connect()
    run_stream_to_warehouse(spark, str(inp), wh, str(tmp_path / "ck1"))
    n = wh.read_events().count()
    assert n > 0
    # fresh checkpoint = full source replay; sink dedup absorbs it
    run_stream_to_warehouse(spark, str(inp), wh, str(tmp_path / "ck2"))
    assert wh.read_events().count() == n


def test_stream_to_jdbc_warehouse(spark, tmp_path):
    """The same stream drains into the JDBC sink (embedded Derby) with
    identical exactly-once effect."""
    import json as _json

    from solana_data_etl_pipeline_spark.sinks.jdbc import JdbcWarehouse
    from solana_data_etl_pipeline_spark.sources.fixtures import make_block
    from solana_data_etl_pipeline_spark.streaming.structured import run_stream_to_warehouse

    inp = tmp_path / "landing"
    inp.mkdir()
    (inp / "b.jsonl").write_text("\n".join(_json.dumps(make_block(s)) for s in (7, 8)))
    wh = JdbcWarehouse(spark, f"jdbc:derby:{tmp_path}/streamdb;create=true", write_partitions=2)
    wh.connect()
    run_stream_to_warehouse(spark, str(inp), wh, str(tmp_path / "ck"))
    n = wh.read_events().count()
    assert n > 0
    run_stream_to_warehouse(spark, str(inp), wh, str(tmp_path / "ck2"))
    assert wh.read_events().count() == n
    assert sorted(r.slot for r in wh.processed_slots().collect()) == [7, 8]


def test_document_stream_gates_dedups_and_quarantines(spark, tmp_path):
    from solana_data_etl_pipeline_spark.streaming.corpus import run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    good_text = "the quick brown fox jumps over the lazy dog again and again today"
    other_text = "a completely different sentence with plenty of ordinary words in it"

    def _doc(i, text, src="s1"):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": src,
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, good_text) + "\n")
        f.write(_doc(2, good_text, src="s2") + "\n")   # exact dup content
        f.write(_doc(3, "too short") + "\n")            # fails MIN_TOKENS gate
        f.write("{not valid json\n")                    # malformed -> quarantine

    run_document_stream(spark, land, out, quar, ckpt)
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    # dup content kept once (first doc_id), gated doc dropped
    assert set(got) == {1}
    assert got[1].predicted_lang == "en"
    assert got[1].n_tokens >= 10
    q = spark.read.parquet(quar).collect()
    assert {r.error_type for r in q} == {"malformed_record"}
    assert any("not valid json" in (r.error_context or "") for r in q)

    # second file: a cross-batch duplicate, a fresh doc, a row missing doc_id
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_doc(4, good_text, src="s3") + "\n")    # dup of batch-1 content
        f.write(_doc(5, other_text) + "\n")
        f.write(json.dumps({"text": other_text, "lang": "en", "source": "s1",
                            "ingest_time": "2024-01-01T01:00:00"}) + "\n")

    run_document_stream(spark, land, out, quar, ckpt)
    got2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 5}  # doc 4's content already in the corpus
    q2 = [r for r in spark.read.parquet(quar).collect()]
    assert {r.error_type for r in q2} == {"malformed_record", "missing_doc_id"}

    # replay-from-scratch (lost checkpoint, same files): BOTH sinks are
    # a no-op -- corpus via the fingerprint anti-join, quarantine via
    # the error_id anti-join
    run_document_stream(spark, land, out, quar, str(tmp_path / "doc_ckpt2"))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 5}
    assert len(spark.read.parquet(quar).collect()) == len(q2)


def test_document_stream_near_dup_index(spark, tmp_path):
    """Streaming NEAR-dup dedup: each batch probes the maintained
    minhash index; the index catches up to the corpus after every
    batch (self-healing form); replays stay no-ops."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    idx = str(tmp_path / "nd_idx")
    os.makedirs(land, exist_ok=True)

    text_a = "the quick brown fox jumps over the lazy dog again and again today ok"
    text_b = "completely different material about spark partitions and shuffle joins here"

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, text_a) + "\n")
        f.write(_doc(2, text_b) + "\n")

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(near_dup_index=idx))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}
    # index caught up to the corpus
    assert {r.doc_id for r in spark.read.parquet(f"{idx}/bands").collect()} == {1, 2}

    # batch 2: a NEAR-dup of doc 1 (not an exact dup -- new fingerprint),
    # plus genuinely new content
    text_c = "yet another unrelated sentence mentioning parquet files and row groups now"
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_doc(10, text_a + " extra") + "\n")   # near-dup of doc 1 -> dropped
        f.write(_doc(11, text_c) + "\n")              # fresh -> kept

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(near_dup_index=idx))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 11}
    assert {r.doc_id for r in spark.read.parquet(f"{idx}/bands").collect()} == {1, 2, 11}
    # shingle side of the index stays in lockstep
    assert {r.doc_id for r in spark.read.parquet(f"{idx}/shingles").collect()} == {1, 2, 11}

    # lost-checkpoint replay: corpus AND index unchanged
    run_document_stream(spark, land, out, quar, str(tmp_path / "ckpt2"), StreamOptions(near_dup_index=idx))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 11}
    assert spark.read.parquet(f"{idx}/bands").select("doc_id").distinct().count() == 3

    # self-heal: wipe the index (models a crash that committed the
    # corpus but lost index appends); the next NORMAL batch (original
    # checkpoint, only the new file processes) rebuilds the index from
    # the whole corpus via the catch-up anti-join
    import shutil

    shutil.rmtree(idx)
    with open(os.path.join(land, "c.jsonl"), "w") as f:
        f.write(_doc(20, "fresh follow-up batch content with entirely novel wording throughout every single line") + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(near_dup_index=idx))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 11, 20}
    assert {r.doc_id for r in spark.read.parquet(f"{idx}/bands").collect()} == {1, 2, 11, 20}
    assert {r.doc_id for r in spark.read.parquet(f"{idx}/shingles").collect()} == {1, 2, 11, 20}


def test_streaming_index_bucket_cap_counts_accumulated_width(spark):
    """dedup.cap_buckets must enforce the degenerate-bucket cap against
    TOTAL bucket width (index rows already present + this batch's
    rows), not per batch -- otherwise a hot bucket grows without bound
    across appends and every future probe join goes quadratic."""
    from solana_data_etl_pipeline_spark.operators.dedup import cap_buckets

    schema = "doc_id long, band int, band_sig string"
    keys = ["band", "band_sig"]
    existing = spark.createDataFrame(
        [(1, 0, "hot"), (2, 0, "hot"), (3, 1, "warm")], schema
    )
    new = spark.createDataFrame(
        [(10, 0, "hot"), (11, 1, "warm"), (12, 2, "cold"), (13, 2, "cold")], schema
    )

    def kept(max_bucket, existing):
        return {tuple(r) for r in cap_buckets(new, keys, max_bucket, existing)[0].collect()}

    # cap 3: bucket (0,hot) would reach 3 -> kept; every bucket fits
    assert kept(3, existing) == {(10, 0, "hot"), (11, 1, "warm"), (12, 2, "cold"), (13, 2, "cold")}

    # cap 2: (0,hot) total would be 3 -> new rows dropped, existing
    # untouched; (1,warm) reaches exactly 2 -> kept
    assert kept(2, existing) == {(11, 1, "warm"), (12, 2, "cold"), (13, 2, "cold")}

    # first batch (no index yet): cap applies within the batch alone
    assert kept(1, None) == {(10, 0, "hot"), (11, 1, "warm")}

    # uncapped passthrough
    assert cap_buckets(new, keys, None, existing)[0] is new


def test_split_capped_bands_partitions_the_batch(spark):
    """dedup.cap_buckets splits bucket rows into (kept, overflow), a
    PARTITION of the input: overflow holds exactly what the cap refused
    (all-or-nothing per bucket), kept rows keep the input's column
    order (callers append them), and uncapped mode returns an empty
    overflow with the input's schema."""
    from solana_data_etl_pipeline_spark.operators.dedup import cap_buckets

    schema = "doc_id long, band int, band_sig string"
    keys = ["band", "band_sig"]
    existing = spark.createDataFrame(
        [(1, 0, "hot"), (2, 0, "hot"), (3, 1, "warm")], schema
    )
    new = spark.createDataFrame(
        [(10, 0, "hot"), (11, 1, "warm"), (12, 2, "cold"), (13, 2, "cold")], schema
    )
    hot, warm, cold = {(10, 0, "hot")}, {(11, 1, "warm")}, {(12, 2, "cold"), (13, 2, "cold")}

    def split(max_bucket, existing):
        kept, over = cap_buckets(new, keys, max_bucket, existing)
        assert kept.columns == over.columns == new.columns
        got_kept = {tuple(r) for r in kept.collect()}
        got_over = {tuple(r) for r in over.collect()}
        assert got_kept | got_over == hot | warm | cold
        assert got_kept & got_over == set()
        return got_kept, got_over

    # against the index: exactly the rejected rows overflow
    assert split(2, existing) == (warm | cold, hot)
    # first batch, tight cap: whole over-wide buckets overflow
    assert split(1, None) == (hot | warm, cold)
    assert split(2, None) == (hot | warm | cold, set())

    # uncapped: empty overflow, schema preserved for downstream appends
    kept, over = cap_buckets(new, keys, None, existing)
    assert over.columns == new.columns
    assert over.count() == 0


def test_embedding_stream_maintains_ivf_layout(spark, tmp_path):
    """Streaming embedding ingest: first batch trains the quantizer and
    creates the materialize_ivf layout; later batches assign against
    persisted centroids and append cell-partitioned; bad rows
    quarantine; replays are no-ops; the layout stays probe-able."""
    from solana_data_etl_pipeline_spark.operators.similarity import knn_ivf_materialized
    from solana_data_etl_pipeline_spark.streaming.embeddings import run_embedding_stream

    land = str(tmp_path / "emb_in")
    layout = str(tmp_path / "ivf")
    quar = str(tmp_path / "emb_quar")
    ckpt = str(tmp_path / "emb_ckpt")
    os.makedirs(land, exist_ok=True)

    def _vec(i, emb):
        return json.dumps(
            {"vec_id": i, "embedding": emb, "ingest_time": "2024-01-01T00:00:00"}
        )

    # two well-separated clusters in 4-d
    a = [10.0, 0.0, 0.0, 0.1]
    b = [0.0, 10.0, 0.1, 0.0]
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        for i in range(3):
            f.write(_vec(i, [x + i * 0.01 for x in a]) + "\n")
        for i in range(3, 6):
            f.write(_vec(i, [x + i * 0.01 for x in b]) + "\n")
        f.write(_vec(90, [1.0, 2.0]) + "\n")                      # bad dimension
        f.write(json.dumps({"embedding": a, "ingest_time": "2024-01-01T00:00:00"}) + "\n")  # no vec_id
        f.write("{broken json\n")                                  # malformed

    run_embedding_stream(spark, land, layout, quar, ckpt, n_cells=2, dim=4)
    corpus = spark.read.parquet(f"{layout}/corpus")
    assert {r.vec_id for r in corpus.collect()} == set(range(6))
    assert corpus.select("cell").distinct().count() == 2
    q = {r.error_type for r in spark.read.parquet(quar).collect()}
    assert q == {"malformed_record", "missing_vec_id", "bad_dimension"}

    # batch 2: a replayed vec_id (dropped) and a new a-cluster vector
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_vec(0, a) + "\n")                    # vec_id already in layout
        f.write(_vec(10, [10.1, 0.0, 0.0, 0.1]) + "\n")

    run_embedding_stream(spark, land, layout, quar, ckpt, n_cells=2, dim=4)
    corpus2 = spark.read.parquet(f"{layout}/corpus")
    got = {r.vec_id: r.cell for r in corpus2.collect()}
    assert set(got) == set(range(6)) | {10}
    # the new vector landed in the SAME cell as the a-cluster
    assert got[10] == got[0]

    # the maintained layout is probe-able and finds the right neighbors
    queries = spark.createDataFrame(
        [(999, [10.0, 0.05, 0.0, 0.1])], "query_id long, embedding array<double>"
    )
    top = knn_ivf_materialized(spark, layout, queries, k=3, nprobe=1).collect()
    assert {r.neighbor_id for r in top} <= (set(range(3)) | {10})

    # lost-checkpoint replay: layout and quarantine unchanged
    n_q = spark.read.parquet(quar).count()
    run_embedding_stream(spark, land, layout, quar, str(tmp_path / "ckpt2"), n_cells=2, dim=4)
    assert spark.read.parquet(f"{layout}/corpus").count() == 7
    assert spark.read.parquet(quar).count() == n_q


def test_retrain_ivf_recovers_recall_after_stream_drift(spark, tmp_path):
    """A drifted stream erodes IVF recall; retrain_ivf restores it.

    Batch 1 trains the quantizer on clusters A and B. Batch 2 streams
    in cluster C, centered BETWEEN the stale centroids, with members
    nudged alternately toward A and B -- so the ingest-time
    nearest-stale-centroid assignment SPLITS C across both cells, and
    an nprobe=1 probe near C's center can only ever see half its true
    neighbors. retrain_ivf refits the quantizer on the current corpus
    and atomically rewrites the layout; C becomes one coherent cell
    and the same probe recovers full recall."""
    import glob

    from solana_data_etl_pipeline_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_materialized,
        retrain_ivf,
    )
    from solana_data_etl_pipeline_spark.streaming.embeddings import run_embedding_stream

    land = str(tmp_path / "emb_in")
    layout = str(tmp_path / "ivf")
    quar = str(tmp_path / "emb_quar")
    ckpt = str(tmp_path / "emb_ckpt")
    os.makedirs(land, exist_ok=True)

    def _vec(i, emb):
        return json.dumps(
            {"vec_id": i, "embedding": emb, "ingest_time": "2024-01-01T00:00:00"}
        )

    a = [10.0, 0.0, 0.0, 0.1]
    b = [0.0, 10.0, 0.1, 0.0]
    with open(os.path.join(land, "train.jsonl"), "w") as f:
        for i in range(4):
            f.write(_vec(i, [x + i * 0.01 for x in a]) + "\n")
        for i in range(4, 8):
            f.write(_vec(i, [x + i * 0.01 for x in b]) + "\n")
    run_embedding_stream(spark, land, layout, quar, ckpt, n_cells=2, dim=4)

    # drift batch: cluster C between A and B, members leaning
    # alternately A-ward / B-ward so stale assignment splits them
    with open(os.path.join(land, "drift.jsonl"), "w") as f:
        for j, i in enumerate(range(20, 28)):
            s = 1.0 if j % 2 == 0 else -1.0
            f.write(_vec(i, [5.0 + s + j * 0.01, 5.0 - s, 0.0, 0.0]) + "\n")
    run_embedding_stream(spark, land, layout, quar, ckpt, n_cells=2, dim=4)

    corpus = spark.read.parquet(f"{layout}/corpus")
    c_cells = {r.cell for r in corpus.filter("vec_id >= 20").collect()}
    assert len(c_cells) == 2, "drifted cluster must straddle the stale cells"

    queries = spark.createDataFrame(
        [(999, [5.0, 5.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    k = 8  # exactly |C|: every true neighbor is a C member
    exact = {r.neighbor_id for r in knn_bruteforce(corpus, queries, k).collect()}
    assert exact == set(range(20, 28))
    before = {
        r.neighbor_id
        for r in knn_ivf_materialized(spark, layout, queries, k=k, nprobe=1).collect()
    }
    recall_before = len(before & exact) / k
    assert recall_before <= 0.5, "stale quantizer must lose the split half"

    summary = retrain_ivf(spark, layout, n_cells=3)
    assert summary["vectors"] == 16
    # layout swap is complete: no debris, same vec_ids, fresh centroids
    assert glob.glob(f"{layout}._*") == []
    corpus2 = spark.read.parquet(f"{layout}/corpus")
    assert {r.vec_id for r in corpus2.collect()} == set(range(8)) | set(range(20, 28))
    assert spark.read.parquet(f"{layout}/centroids").count() == 3
    c_cells2 = {r.cell for r in corpus2.filter("vec_id >= 20").collect()}
    assert len(c_cells2) == 1, "refit quantizer must give C one coherent cell"

    after = {
        r.neighbor_id
        for r in knn_ivf_materialized(spark, layout, queries, k=k, nprobe=1).collect()
    }
    assert len(after & exact) / k == 1.0

    # the retrained layout keeps streaming: next batch assigns against
    # the NEW centroids and stays probe-able
    with open(os.path.join(land, "post.jsonl"), "w") as f:
        f.write(_vec(30, [5.0, 5.0, 0.01, 0.0]) + "\n")
    run_embedding_stream(spark, land, layout, quar, ckpt, n_cells=3, dim=4)
    got = {r.vec_id: r.cell for r in spark.read.parquet(f"{layout}/corpus").collect()}
    assert got[30] == got[20], "post-retrain ingest must join the refit C cell"


def test_incremental_clusters_unit_merge_and_compose(spark, tmp_path):
    """streaming/clusters.py maintenance, driven directly: append-only
    per-doc rows, merges absorbed by the remap log, remaps kept fully
    resolved under composition, compaction folds and resets."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.dedup import connected_components
    from solana_data_etl_pipeline_spark.streaming.clusters import (
        append_pairs,
        catch_up_clusters,
        compact_clusters,
        streamed_clusters,
    )

    idx = str(tmp_path / "idx")

    def pairs_df(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    def clusters_now():
        return {r.doc_id: r.cluster_id for r in streamed_clusters(spark, idx).collect()}

    # epoch 0: two separate families
    append_pairs(spark, idx, pairs_df([(101, 100), (201, 200)]), epoch=0)
    catch_up_clusters(spark, idx)
    assert clusters_now() == {100: 100, 101: 100, 200: 200, 201: 200}

    # epoch 1: a bridge doc merges them -> remap 200 -> 100
    append_pairs(spark, idx, pairs_df([(300, 100), (300, 200)]), epoch=1)
    catch_up_clusters(spark, idx)
    assert clusters_now() == {k: 100 for k in (100, 101, 200, 201, 300)}
    remaps = {(r.old_root, r.new_root) for r in spark.read.parquet(f"{idx}/remaps").collect()}
    assert remaps == {(200, 100)}

    # epoch 2: a smaller id joins -> root moves to 50; the existing
    # 200->100 entry must COMPOSE to 200->50 (stay fully resolved)
    append_pairs(spark, idx, pairs_df([(50, 100)]), epoch=2)
    catch_up_clusters(spark, idx)
    assert clusters_now() == {k: 50 for k in (50, 100, 101, 200, 201, 300)}
    remaps = {(r.old_root, r.new_root) for r in spark.read.parquet(f"{idx}/remaps").collect()}
    assert remaps == {(200, 50), (100, 50)}
    olds = {o for o, _ in remaps}
    news = {n for _, n in remaps}
    assert not (olds & news), "remap log must stay fully resolved (no chains)"

    # per-doc rows were never rewritten: insert-time roots on disk
    raw = {r.doc_id: r.cluster_id for r in spark.read.parquet(f"{idx}/clusters").collect()}
    assert raw[200] == 200 and raw[300] == 100 and raw[50] == 50

    # parity with batch CC over the complete pair log
    logged = spark.read.parquet(f"{idx}/pairs").select("doc_a", "doc_b")
    batch = {
        r.id: r.cluster_id for r in connected_components(logged).collect()
    }
    assert clusters_now() == batch

    # idempotency: immediate re-run, and a crash-before-marker replay
    catch_up_clusters(spark, idx)
    assert clusters_now() == batch
    import shutil

    shutil.rmtree(f"{idx}/pairs_done")  # crash before the marker advanced
    catch_up_clusters(spark, idx)  # reprocesses every epoch
    assert clusters_now() == batch
    assert spark.read.parquet(f"{idx}/clusters").count() == 6  # no dup rows

    # compaction folds remaps into the per-doc table and resets the log
    compact_clusters(spark, idx)
    assert clusters_now() == batch
    raw = {r.doc_id: r.cluster_id for r in spark.read.parquet(f"{idx}/clusters").collect()}
    assert raw == batch
    assert spark.read.parquet(f"{idx}/remaps").count() == 0
    compact_clusters(spark, idx)  # empty-log no-op
    assert clusters_now() == batch


def test_document_stream_maintains_clusters(spark, tmp_path):
    """End-to-end streaming cluster maintenance: streamed corpus
    cluster ids EQUAL batch connected_components labels over the same
    verified pairs -- including a cross-component merge discovered two
    batches after the components formed."""
    from solana_data_etl_pipeline_spark.operators.dedup import connected_components
    from solana_data_etl_pipeline_spark.streaming.clusters import streamed_clusters
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    idx = str(tmp_path / "nd_idx")
    os.makedirs(land, exist_ok=True)

    common = "the shared boilerplate header that both document families carry along verbatim today"
    a_suf = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    b_suf = "papa amber lima quebec jupiter xray whiskey mercury mike uniform"
    fam_a = f"{common} {a_suf}"
    fam_b = f"{common} {b_suf}"
    bridge = f"{common} {a_suf} {b_suf}"
    unrelated = "completely different material about spark partitions and shuffle joins in production"

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    def _run():
        run_document_stream(
            spark, land, out, quar, ckpt,
            StreamOptions(near_dup_index=idx, near_dup_threshold=0.4),
        )

    # batch 1: family representatives (J(fam_a, fam_b)=0.33 < 0.4 ->
    # both kept, no pairs) + an unrelated doc
    with open(os.path.join(land, "b1.jsonl"), "w") as f:
        f.write(_doc(100, fam_a) + "\n")
        f.write(_doc(200, fam_b) + "\n")
        f.write(_doc(900, unrelated) + "\n")
    _run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {100, 200, 900}

    # batch 2: one near-dup per family -> dropped, attributed
    with open(os.path.join(land, "b2.jsonl"), "w") as f:
        f.write(_doc(101, fam_a + " extra") + "\n")
        f.write(_doc(201, fam_b + " extra") + "\n")
    _run()
    got = {r.doc_id: r.cluster_id for r in streamed_clusters(spark, idx).collect()}
    assert got == {100: 100, 101: 100, 200: 200, 201: 200}

    # batch 3: the bridge doc verifies against BOTH retained reps ->
    # dropped, and its matches merge the two components
    with open(os.path.join(land, "b3.jsonl"), "w") as f:
        f.write(_doc(300, bridge) + "\n")
    _run()
    got = {r.doc_id: r.cluster_id for r in streamed_clusters(spark, idx).collect()}
    assert got == {k: 100 for k in (100, 101, 200, 201, 300)}

    # batch 4: a smaller-id near-dup of family A arrives late -> the
    # merged component relabels to 50 everywhere (remap composition)
    with open(os.path.join(land, "b4.jsonl"), "w") as f:
        f.write(_doc(50, fam_a + " more") + "\n")
    _run()
    got = {r.doc_id: r.cluster_id for r in streamed_clusters(spark, idx).collect()}
    assert got == {k: 50 for k in (50, 100, 101, 200, 201, 300)}

    # THE parity statement: streamed labels == batch CC over the
    # logged pair set (doc 900 in neither -- it was never in a pair)
    logged = spark.read.parquet(f"{idx}/pairs").select("doc_a", "doc_b")
    batch = {r.id: r.cluster_id for r in connected_components(logged).collect()}
    assert got == batch

    # corpus membership unchanged by cluster bookkeeping
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {100, 200, 900}

    # lost-checkpoint replay: everything (corpus, pairs, clusters) is
    # a no-op -- the replayed mega-batch is emptied by the fingerprint
    # anti-join and write-once epoch logging keeps recorded pairs
    _run_ckpt2 = lambda: run_document_stream(  # noqa: E731
        spark, land, out, quar, str(tmp_path / "ckpt2"),
        StreamOptions(near_dup_index=idx, near_dup_threshold=0.4),
    )
    _run_ckpt2()
    got2 = {r.doc_id: r.cluster_id for r in streamed_clusters(spark, idx).collect()}
    assert got2 == batch
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {100, 200, 900}


def test_cluster_pairs_log_partition_pruning_and_write_once(spark, tmp_path):
    """Scale contract of the pair log: the catch-up's pending read
    prunes processed epoch PARTITIONS at the file source, and a
    replayed epoch cannot overwrite recorded pairs (write-once)."""
    from solana_data_etl_pipeline_spark.streaming.clusters import (
        _pending_pairs,
        append_pairs,
        catch_up_clusters,
        streamed_clusters,
    )

    idx = str(tmp_path / "idx")
    for e in range(3):
        pairs = spark.createDataFrame([(e * 10 + 1, e * 10 + 2)], "doc_a long, doc_b long")
        append_pairs(spark, idx, pairs, epoch=e)

    pend = _pending_pairs(spark, idx, last=1)
    plan = pend._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(epoch" in plan and "(epoch" in plan, plan
    assert {r.doc_a for r in pend.collect()} == {21}  # only epoch 2 scanned

    # write-once: a replay of epoch 0 with DIFFERENT (here: empty)
    # content must not erase the recorded pairs
    append_pairs(
        spark, idx,
        spark.createDataFrame([], "doc_a long, doc_b long"),
        epoch=0,
    )
    assert _pending_pairs(spark, idx, last=-1).count() == 3
    catch_up_clusters(spark, idx)
    got = {r.doc_id: r.cluster_id for r in streamed_clusters(spark, idx).collect()}
    assert got == {1: 1, 2: 1, 11: 11, 12: 11, 21: 21, 22: 21}


def test_document_stream_temperature_policy(spark, tmp_path):
    """Streaming mT5 temperature rebalancing: rates recomputed per
    batch from corpus-so-far + batch source counts, logged per epoch,
    and every admission obeys the hash-mod gate at the logged rate."""
    import hashlib
    import math

    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "in"); out = str(tmp_path / "corpus")
    quar = str(tmp_path / "quar"); ckpt = str(tmp_path / "ckpt")
    plog = str(tmp_path / "rates")
    os.makedirs(land, exist_ok=True)

    def _doc(i, src):
        words = " ".join(f"doc{i}word{j}" for j in range(12))
        return json.dumps({"doc_id": i, "text": words, "lang": "en", "source": src,
                           "ingest_time": "2024-01-01T00:00:00"})

    def _bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10_000

    def _expected_rates(counts, tau=0.5, frac=0.5):
        n = sum(counts.values())
        ws = {s: (c / n) ** tau for s, c in counts.items()}
        wsum = sum(ws.values())
        return {s: min(10_000, round(frac * n * (ws[s] / wsum) / c * 10_000))
                for s, c in counts.items()}

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        for i in range(16):
            f.write(_doc(i, "big") + "\n")
        for i in range(100, 104):
            f.write(_doc(i, "small") + "\n")
    run_document_stream(spark, land, out, quar, ckpt,
                        StreamOptions(temperature_tau=0.5, target_frac=0.5, policy_log_dir=plog))

    r0 = {r.source: r.rate_bp for r in spark.read.parquet(plog).filter("epoch = 0").collect()}
    assert r0 == _expected_rates({"big": 16, "small": 4})
    got1 = {r.doc_id: r.source for r in spark.read.parquet(out).collect()}
    for i in list(range(16)) + list(range(100, 104)):
        src = "big" if i < 100 else "small"
        assert (i in got1) == (_bucket(i) < r0[src]), i

    # batch 2: rates now include the admitted corpus counts
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        for i in range(200, 210):
            f.write(_doc(i, "big") + "\n")
    run_document_stream(spark, land, out, quar, ckpt,
                        StreamOptions(temperature_tau=0.5, target_frac=0.5, policy_log_dir=plog))
    corpus_counts = {}
    for s in got1.values():
        corpus_counts[s] = corpus_counts.get(s, 0) + 1
    merged = dict(corpus_counts)
    merged["big"] = merged.get("big", 0) + 10
    r1 = {r.source: r.rate_bp for r in spark.read.parquet(plog).filter("epoch = 1").collect()}
    assert r1 == _expected_rates(merged)
    got2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    for i in range(200, 210):
        assert (i in got2) == (_bucket(i) < r1["big"]), i

    # replay from scratch: corpus and policy log unchanged
    n_log = spark.read.parquet(plog).count()
    run_document_stream(spark, land, out, quar, str(tmp_path / "ckpt2"),
                        StreamOptions(temperature_tau=0.5, target_frac=0.5, policy_log_dir=plog))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == got2
    assert spark.read.parquet(plog).count() == n_log


def test_document_stream_token_budget(spark, tmp_path):
    """Streaming token budget: each batch admits its best-scored docs
    within the REMAINING budget; once spent, later batches admit
    nothing; the cap holds across restarts."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "in"); out = str(tmp_path / "corpus")
    quar = str(tmp_path / "quar"); ckpt = str(tmp_path / "ckpt")
    os.makedirs(land, exist_ok=True)

    def _doc(i):
        words = " ".join(f"doc{i}word{j}" for j in range(12))
        return json.dumps({"doc_id": i, "text": words, "lang": "en", "source": "s",
                           "ingest_time": "2024-01-01T00:00:00"})

    budget = 60  # docs are 12 tokens each -> at most 5 admitted ever
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        for i in range(4):
            f.write(_doc(i) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(token_budget=budget))
    tok1 = sum(r.n_tokens for r in spark.read.parquet(out).collect())
    assert 0 < tok1 <= budget

    with open(os.path.join(land, "b.jsonl"), "w") as f:
        for i in range(10, 20):
            f.write(_doc(i) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(token_budget=budget))
    rows2 = spark.read.parquet(out).collect()
    assert sum(r.n_tokens for r in rows2) <= budget

    # budget exhausted (or batch won't fit): a third batch adds nothing more than budget
    with open(os.path.join(land, "c.jsonl"), "w") as f:
        for i in range(30, 40):
            f.write(_doc(i) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(token_budget=budget))
    rows3 = spark.read.parquet(out).collect()
    assert sum(r.n_tokens for r in rows3) <= budget


def test_document_stream_waterfill_budget(spark, tmp_path):
    """Allocation-constrained streaming budget: the waterfill planner
    guarantees the small source its full capacity (saturation) while
    the big source is cut to its weighted allocation -- the source
    balance the plain greedy budget gate cannot express -- and later
    batches spend only each source's REMAINING allocation."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "in"); out = str(tmp_path / "corpus")
    quar = str(tmp_path / "quar"); ckpt = str(tmp_path / "ckpt")
    os.makedirs(land, exist_ok=True)

    def _doc(i, src):
        words = " ".join(f"doc{i}word{j}" for j in range(12))
        return json.dumps({"doc_id": i, "text": words, "lang": "en", "source": src,
                           "ingest_time": "2024-01-01T00:00:00"})

    # batch 1: source a = 1 doc (12 tok, w=3), source b = 10 docs
    # (120 tok, w=10); budget 60 -> a saturates (cap/w = 4 < 60/13),
    # lambda = (60-12)/10 = 4.8 -> b alloc = 48 = 4 docs
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(0, "a") + "\n")
        for i in range(10, 20):
            f.write(_doc(i, "b") + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(waterfill_budget=60))
    rows = spark.read.parquet(out).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src["a"]) == 1          # the small source saturates
    assert len(by_src["b"]) == 4          # the big source is cut to 48 tokens
    assert sum(r.n_tokens for r in rows) == 60

    # batch 2: capacities grow (a: 36 tok w=6, b: 180 tok w=13 -> no
    # saturation, lambda = 60/19 -> a alloc 19 < committed+12, b
    # alloc 41 < committed 48): both sources' remaining allocations
    # are exhausted, so nothing new lands
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        for i in (1, 2):
            f.write(_doc(100 + i, "a") + "\n")
        for i in range(20, 25):
            f.write(_doc(i, "b") + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(waterfill_budget=60))
    rows2 = spark.read.parquet(out).collect()
    assert sum(r.n_tokens for r in rows2) == 60
    assert {r.doc_id for r in rows2} == {r.doc_id for r in rows}


def test_document_stream_published_gates(spark, tmp_path):
    """gates='published' swaps the MIN_TOKENS/alpha constants for the
    C4 page gate + Gopher rule conjunction (the corpus_curation_v2
    gates): a Gopher-passing doc survives, a brace-marked page and a
    stopword-free doc are dropped."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    # >= 50 words, mean word length in [3,10], stopwords present
    passing = " ".join(
        "the quick brown fox jumps over that lazy dog with steady paces".split()
        * 5
    )
    braces = passing + " { code block }"          # C4 page blocklist
    no_stop = " ".join(f"word{i}" for i in range(60))  # zero stopword hits

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, passing) + "\n")
        f.write(_doc(2, braces) + "\n")
        f.write(_doc(3, no_stop) + "\n")

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(gates="published"))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}


def test_document_stream_ingest_decontamination(spark, tmp_path):
    """A batch doc containing a benchmark doc verbatim is blocked at
    ingest via the static winnowing index; clean docs pass; a second
    drain reuses the index and stays exactly-once."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    bench_text = "what is the capital of france and why does it matter to geography"
    bench_path = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    ).write.parquet(bench_path)

    clean = "a perfectly ordinary training document with plenty of words to keep around"
    contaminated = "intro words before the quiz " + bench_text + " closing words after it"

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, clean) + "\n")
        f.write(_doc(2, contaminated) + "\n")

    run_document_stream(
        spark, land, out, quar, ckpt,
        StreamOptions(decontaminate_bench=bench_path, decon_threshold=0.5),
    )
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}

    # second drain: another contaminated doc blocked, fresh doc kept
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_doc(3, "the " + bench_text) + "\n")
        f.write(_doc(4, "yet another clean training document mentioning completely different things about spark shuffles") + "\n")

    run_document_stream(
        spark, land, out, quar, ckpt,
        StreamOptions(decontaminate_bench=bench_path, decon_threshold=0.5),
    )
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 4}

    # neither ingest doc touched an excluded fingerprint (the bench
    # index never over-capped), so the blind log has no rows for them
    blind = spark.read.parquet(f"{out}_decon_blind")
    assert blind.count() == 0


def test_document_stream_decon_blind_log(spark, tmp_path):
    """A bench set dominated by boilerplate over-caps its own index
    buckets, so a batch doc made of that boilerplate is admitted with
    a hollow verdict -- the probe literally cannot see it. The blind
    log records exactly that doc (exposure 10000 bp) BEFORE the
    corpus commit; clean docs stay out of the log."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    boiler = (
        "standard benchmark license header text repeated verbatim across "
        "every single benchmark file in the distribution"
    )
    bench_path = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(900 + i, boiler) for i in range(10)], "doc_id long, text string"
    ).write.parquet(bench_path)

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, boiler) + "\n")
        f.write(_doc(2, "a clean document about adaptive query execution internals and shuffles") + "\n")

    run_document_stream(
        spark, land, out, quar, ckpt,
        StreamOptions(decontaminate_bench=bench_path, decon_threshold=0.5,
        near_dup_max_bucket=5),
    )
    # the boilerplate doc is ADMITTED (the capped index is blind to it)...
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}
    # ...but the blind log names it, and only it
    blind = {r.delta_id: r for r in spark.read.parquet(f"{out}_decon_blind").collect()}
    assert set(blind) == {1}
    assert blind[1].exposure_bp == 10000


def test_document_stream_decon_blind_routing_catches_hollow_verdict(spark, tmp_path):
    """The acting form of the blind-spot signal: with
    decon_route_blind=True, the boilerplate doc the capped index
    cannot see takes the UNCAPPED fallback probe and is DROPPED
    before the corpus commit (the log-only run above admits it);
    clean docs are untouched and never pay fallback cost, and the
    blind log holds no admitted-blind rows because the only blind doc
    was caught."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    boiler = (
        "standard benchmark license header text repeated verbatim across "
        "every single benchmark file in the distribution"
    )
    bench_path = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(900 + i, boiler) for i in range(10)], "doc_id long, text string"
    ).write.parquet(bench_path)

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, boiler) + "\n")
        f.write(_doc(2, "a clean document about adaptive query execution internals and shuffles") + "\n")

    run_document_stream(
        spark, land, out, quar, ckpt,
        StreamOptions(decontaminate_bench=bench_path, decon_threshold=0.5,
        near_dup_max_bucket=5, decon_route_blind=True),
    )
    # the blind contaminated doc is caught by the uncapped fallback
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {2}
    # the uncapped twin index was materialized beside the capped one
    assert spark.read.parquet(f"{out}_decon_index_full/fingerprints").count() > 0
    # nothing blind was admitted, so the log is empty
    blind = spark.read.parquet(f"{out}_decon_blind")
    assert blind.count() == 0


def test_document_stream_semantic_dedup(spark, tmp_path):
    """Embed-at-ingest semantic dedup: a PERMUTED twin (same bag of
    words, different order) passes the exact-fingerprint gate but is
    dropped by the hash-embed probe -- within a batch (min-id wins)
    and across batches (the materialized embedding index, caught up
    self-healingly after each corpus write); distinct docs pass."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    sem = str(tmp_path / "sem_index")
    os.makedirs(land, exist_ok=True)

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()
    original = " ".join(words)
    permuted = " ".join(reversed(words))
    other = "a completely different training document about spark physical plans and shuffles"

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    # batch 1: original + its in-batch permuted twin + a distinct doc
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, original) + "\n")
        f.write(_doc(2, permuted) + "\n")
        f.write(_doc(3, other) + "\n")

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(semantic_index=sem))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}
    # the index knows exactly the surviving corpus
    idx_ids = {r.vec_id for r in spark.read.parquet(f"{sem}/buckets").collect()}
    assert idx_ids == {1, 3}

    # batch 2: ANOTHER permutation of batch 1's doc (cross-batch
    # semantic dup -> dropped by the index probe) + a fresh doc
    rotated = " ".join(words[6:] + words[:6])
    fresh = "yet another unrelated document describing adaptive query execution in detail"
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_doc(4, rotated) + "\n")
        f.write(_doc(5, fresh) + "\n")

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(semantic_index=sem))
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 5}
    idx_ids = {r.vec_id for r in spark.read.parquet(f"{sem}/buckets").collect()}
    assert idx_ids == {1, 3, 5}


def _semantic_blind_setup(spark, tmp_path, **stream_kwargs):
    """Shared planted scenario for the semantic blind-spot tests: a
    first batch of three bag-of-words PERMUTATIONS (identical
    hash-embed vectors -- they share every LSH bucket by
    construction) plus one clean doc, under a bucket cap of 2. The
    capped pair generator is blind to the 3-wide permutation buckets,
    so all three are admitted; the catch-up then rejects all their
    index rows (3 > cap), recording the excluded buckets. A second
    batch brings ANOTHER permutation (its every probe route is
    excluded -- exposure 10000 bp) plus a clean doc."""
    import shutil

    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    sem = str(tmp_path / "sem_index")
    os.makedirs(land, exist_ok=True)

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, " ".join(words)) + "\n")
        f.write(_doc(2, " ".join(reversed(words))) + "\n")
        f.write(_doc(3, " ".join(words[6:] + words[:6])) + "\n")
        f.write(_doc(4, "a clean document about adaptive query execution internals and shuffles") + "\n")
    run_document_stream(
        spark, land, out, quar, ckpt,
        StreamOptions(semantic_index=sem, semantic_max_bucket=2, **stream_kwargs),
    )
    # the capped gate was blind to the in-batch permutation family
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 3, 4}
    # the catch-up recorded the buckets it had to reject rows from
    assert spark.read.parquet(f"{sem}/excluded").count() > 0
    # only the clean doc made it into the capped index
    assert {r.vec_id for r in spark.read.parquet(f"{sem}/buckets").collect()} == {4}

    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_doc(5, " ".join(words[3:] + words[:3])) + "\n")
        f.write(_doc(6, "yet another unrelated document describing whole stage code generation boundaries in detail") + "\n")
    run_document_stream(
        spark, land, out, quar, ckpt,
        StreamOptions(semantic_index=sem, semantic_max_bucket=2, **stream_kwargs),
    )
    return out, sem


def test_document_stream_semantic_blind_log(spark, tmp_path):
    """Log-only mode (the decon_blind stance applied to the embedding
    family): the batch-2 permutation twin is ADMITTED -- every one of
    its probe buckets is on the excluded list, so the capped verdict
    is hollow -- and the blind log records exactly that doc at
    exposure 10000 before the corpus commit; the clean doc stays out
    of the log."""
    out, sem = _semantic_blind_setup(spark, tmp_path)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 3, 4, 5, 6}
    blind = {r.delta_id: r for r in spark.read.parquet(f"{out}_semantic_blind").collect()}
    assert set(blind) == {5}
    assert blind[5].exposure_bp == 10000


def test_document_stream_semantic_blind_routing_catches_hollow_verdict(spark, tmp_path):
    """The acting form: with semantic_route_blind=True the catch-up
    ALSO persists the cap-rejected rows as the overflow twin, and the
    measurably-blind batch-2 twin takes the fallback probe against it
    -- its cosine-1.0 match with the overflowed batch-1 permutations
    drops it before the corpus commit (the log-only run above admits
    it); the clean doc is untouched and the blind log holds no
    admitted-blind rows because the only blind doc was caught."""
    out, sem = _semantic_blind_setup(spark, tmp_path, semantic_route_blind=True)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 3, 4, 6}
    # the overflow twin holds exactly the rejected permutation rows
    over_ids = {r.vec_id for r in spark.read.parquet(f"{sem}_overflow/buckets").collect()}
    assert over_ids == {1, 2, 3}
    # nothing blind was admitted, so the log is empty
    assert spark.read.parquet(f"{out}_semantic_blind").count() == 0


def test_semantic_index_self_heals_after_loss(spark, tmp_path):
    """The semantic index's catch-up is SELF-HEALING: losing the
    entire index after a drain (the worst crash: corpus committed,
    index append lost) is repaired by the next batch's catch-up,
    which rebuilds rows for every corpus doc the index does not know
    -- and the probe still drops a semantic dup of PRE-LOSS content
    afterwards."""
    import shutil

    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    sem = str(tmp_path / "sem_index")
    os.makedirs(land, exist_ok=True)

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, " ".join(words)) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(semantic_index=sem))

    # simulate the crash: corpus committed, index lost entirely
    shutil.rmtree(sem)

    rotated = " ".join(words[3:] + words[:3])   # semantic dup of doc 1
    fresh = "an unrelated piece describing whole stage code generation boundaries"
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_doc(2, rotated) + "\n")
        f.write(_doc(3, fresh) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(semantic_index=sem))

    # doc 2 must STILL be dropped: with the index gone, the probe
    # falls back to batch-internal pairs (which cannot see doc 1), so
    # the corpus-level guarantee comes from the catch-up rebuilding
    # doc 1's rows -- by the NEXT drain doc 2's twin is indexed. The
    # honest contract: one batch of exposure after total index loss.
    docs_now = {r.doc_id for r in spark.read.parquet(out).collect()}
    idx_ids = {r.vec_id for r in spark.read.parquet(f"{sem}/buckets").collect()}
    # the catch-up rebuilt the lost index to cover the full corpus
    assert idx_ids == docs_now
    # third drain: another twin is now caught against the healed index
    with open(os.path.join(land, "c.jsonl"), "w") as f:
        f.write(_doc(4, " ".join(reversed(words))) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(semantic_index=sem))
    final = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 4 not in final
    assert {r.vec_id for r in spark.read.parquet(f"{sem}/buckets").collect()} == final


def test_document_stream_indexes_equal_batch_build(spark, tmp_path):
    """The stream grows its near-dup and semantic indexes through the
    batch writers, so with both caps off, two streamed batches leave
    exactly the rows a fresh build over the final corpus writes:
    `{semantic_index}/buckets` = materialize_embedding_lsh(hash_embed(
    corpus)), `{near_dup_index}/bands` and `/shingles` =
    materialize_minhash(corpus)."""
    from solana_data_etl_pipeline_spark.operators import dedup as D
    from solana_data_etl_pipeline_spark.operators.text import hash_embed
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    idx, sem = str(tmp_path / "nd_idx"), str(tmp_path / "sem_index")
    os.makedirs(land, exist_ok=True)

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    topics = ["parquet row groups", "shuffle partitions", "broadcast joins",
              "window functions", "adaptive execution", "columnar caching"]
    for name, ids in (("a.jsonl", range(1, 4)), ("b.jsonl", range(4, 7))):
        with open(os.path.join(land, name), "w") as f:
            for i in ids:
                f.write(_doc(i, f"document {i} explains {topics[i - 1]} with worked examples and measured numbers") + "\n")
        run_document_stream(
            spark, land, out, str(tmp_path / "doc_quar"), str(tmp_path / "doc_ckpt"),
            StreamOptions(near_dup_index=idx, near_dup_max_bucket=None,
            semantic_index=sem, semantic_max_bucket=None),
        )
    corpus = spark.read.parquet(out).select("doc_id", "text")
    assert corpus.count() == 6  # both batches streamed, nothing deduplicated
    batch_nd, batch_sem = str(tmp_path / "batch_nd"), str(tmp_path / "batch_sem")
    D.materialize_minhash(corpus, batch_nd)
    D.materialize_embedding_lsh(hash_embed(corpus), batch_sem)

    def rows(path):
        df = spark.read.parquet(path)
        return df.schema.simpleString(), sorted(tuple(r) for r in df.collect())

    assert rows(f"{sem}/buckets") == rows(f"{batch_sem}/buckets")
    for sub in ("bands", "shingles"):
        assert rows(f"{idx}/{sub}") == rows(f"{batch_nd}/{sub}")


def test_document_stream_media_sidecar(spark, tmp_path):
    """media_health=True probes base64 payloads through the REAL codec
    registry at ingest: valid WAV/BMP containers count ok, a corrupt
    video payload lands in the media quarantine with its codec error,
    the text pipeline admits every doc regardless, and a restarted
    stream over the same landing zone appends nothing twice."""
    import base64

    from solana_data_etl_pipeline_spark.operators.multimodal import (
        _bmp_encode,
        _wav_encode,
    )
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    def _doc(i, media=None, modality=None):
        words = " ".join(f"doc{i}word{j}" for j in range(12))
        d = {"doc_id": i, "text": words, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        if media is not None:
            d["media_b64"] = base64.b64encode(media).decode()
            d["modality"] = modality
        return json.dumps(d)

    wav = _wav_encode(b"abcdef", 8000)
    bmp = _bmp_encode(b"\x10" * 16, 16)
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, wav, "audio") + "\n")
        f.write(_doc(2, bmp, "image") + "\n")
        f.write(_doc(3, b"not a real avi container", "video") + "\n")
        f.write(_doc(4) + "\n")  # no media: text-only doc

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(media_health=True))

    # text pipeline untouched: all four docs admitted
    assert spark.read.parquet(out).count() == 4
    health = {
        r.modality: r for r in spark.read.parquet(f"{out}_media_health").collect()
    }
    assert health["audio"].n_ok == 1 and health["audio"].n_bad == 0
    assert health["image"].n_ok == 1 and health["image"].n_bad == 0
    assert health["video"].n_ok == 0 and health["video"].n_bad == 1
    assert health["audio"].total_bytes == len(wav)
    mq = spark.read.parquet(f"{out}_media_quarantine").collect()
    assert [(r.doc_id, r.modality) for r in mq] == [(3, "video")]
    assert "AVI" in mq[0].error or "ValueError" in mq[0].error

    # restart over the drained landing zone: checkpoint skips the
    # files, sidecars append nothing
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(media_health=True))
    assert spark.read.parquet(f"{out}_media_health").count() == 3
    assert spark.read.parquet(f"{out}_media_quarantine").count() == 1


def test_document_stream_media_gate_applies_v4_bounds(spark, tmp_path):
    """media_gate=True is the streaming twin of corpus_curation_v4's
    media gate: cleanly-decoded audio whose DECODED features violate
    the v4 bounds (too-short duration; near-silence RMS) gates the
    DOCUMENT before the corpus commit and logs it; in-bounds audio
    and media-less docs pass; health still counts all decodes ok; a
    restarted stream appends nothing twice."""
    import base64

    from solana_data_etl_pipeline_spark.operators.multimodal import _wav_encode
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    def _doc(i, media=None):
        words = " ".join(f"doc{i}word{j}" for j in range(12))
        d = {"doc_id": i, "text": words, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        if media is not None:
            d["media_b64"] = base64.b64encode(media).decode()
            d["modality"] = "audio"
        return json.dumps(d)

    ok_wav = _wav_encode(b"\x20" * 100, 8000)     # 100 frames, rms 96
    short_wav = _wav_encode(b"\x20" * 20, 8000)   # 20 < V4_MEDIA_MIN_FRAMES
    silent_wav = _wav_encode(b"\x80" * 100, 8000) # rms 0 < V4_MEDIA_MIN_RMS
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, ok_wav) + "\n")
        f.write(_doc(2, short_wav) + "\n")
        f.write(_doc(3, silent_wav) + "\n")
        f.write(_doc(4) + "\n")  # no media

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(media_health=True, media_gate=True))

    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 4}
    gated = {r.doc_id: r for r in spark.read.parquet(f"{out}_media_gated").collect()}
    assert set(gated) == {2, 3}
    assert gated[2].n_frames == 20
    assert gated[3].rms == 0.0
    # every decode SUCCEEDED (gating is curation, not corruption)
    health = {r.modality: r for r in spark.read.parquet(f"{out}_media_health").collect()}
    assert health["audio"].n_ok == 3 and health["audio"].n_bad == 0

    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(media_health=True, media_gate=True))
    assert spark.read.parquet(f"{out}_media_gated").count() == 2
    assert spark.read.parquet(out).count() == 2


def test_document_stream_drift_report_per_batch(spark, tmp_path):
    """drift_report=True is the streaming twin of corpus_drift: the
    first batch logs nothing (no baseline), the second batch's report
    ranks the planted new-vocabulary token at the top with
    hand-computable basis-point shares, and a restarted stream
    appends nothing twice (write-once per epoch, logged before the
    corpus commit)."""
    from solana_data_etl_pipeline_spark.streaming.corpus import StreamOptions, run_document_stream

    land = str(tmp_path / "docs_in")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "doc_quar")
    ckpt = str(tmp_path / "doc_ckpt")
    os.makedirs(land, exist_ok=True)

    def _doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s1",
             "ingest_time": "2024-01-01T00:00:00"}
        )

    # batch 1: the baseline corpus -- 12 tokens (past the simple
    # gates' minimum), all 'base'
    with open(os.path.join(land, "a.jsonl"), "w") as f:
        f.write(_doc(1, " ".join(["base"] * 12)) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(drift_report=True))
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    with _pytest.raises(AnalysisException):  # no baseline -> no log
        spark.read.parquet(f"{out}_drift")

    # batch 2: half old vocab, half NEW -- corpus-so-far is 100% base
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(_doc(2, " ".join(["base"] * 6 + ["novel"] * 6)) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(drift_report=True))
    rows = spark.read.parquet(f"{out}_drift").collect()
    assert {r.epoch for r in rows} == {1}
    by_tok = {r.token: r for r in rows}
    # corpus-so-far: 12x base (10000 bp); batch: 6x base + 6x novel
    assert by_tok["base"].share_old_bp == 10000
    assert by_tok["base"].share_new_bp == 5000
    assert by_tok["base"].drift_bp == -5000
    assert by_tok["novel"].share_old_bp == 0
    assert by_tok["novel"].share_new_bp == 5000
    assert by_tok["novel"].drift_bp == 5000

    # restart: replayed batches are anti-join-emptied and epoch-
    # guarded -- the report never rewrites
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(drift_report=True))
    assert spark.read.parquet(f"{out}_drift").count() == len(rows)

    # a NEW batch (fresh epoch, so the epoch guard does not apply)
    # whose every doc is an exact dup of the committed corpus admits
    # nothing -- no snapshot-1 mass means there is nothing to drift
    # from, so NO report is written (previously every corpus token
    # logged drift_bp = -share_old_bp, reading as the entire
    # vocabulary vanishing; ADVICE r10)
    with open(os.path.join(land, "c.jsonl"), "w") as f:
        f.write(_doc(3, " ".join(["base"] * 12)) + "\n")
    run_document_stream(spark, land, out, quar, ckpt, StreamOptions(drift_report=True))
    after = spark.read.parquet(f"{out}_drift").collect()
    assert len(after) == len(rows) and {r.epoch for r in after} == {1}
