"""Streaming embedding ingest that MAINTAINS the materialized IVF
layout: the similarity-search twin of the streaming corpus pipeline
(streaming/corpus.py) -- vectors land continuously, and the
cell-partitioned table that knn_ivf_materialized probes is kept
current without ever rebuilding it per batch.

Protocol per micro-batch:
- PERMISSIVE parse with corrupt-record capture; malformed lines and
  rows missing vec_id quarantine as etl_errors-shaped rows
  (sinks/quarantine.py), plus a DIMENSION gate: a vector of the wrong
  arity poisons every downstream dot product, so it quarantines too
  (deterministic error_id -- replays dedupable).
- exact dedup: batch-internal first-wins per vec_id, then a
  cross-batch anti-join against the layout's vec_ids -- replayed
  batches are a no-op (the same two-layer exactly-once-effect contract
  as the corpus stream).
- FIRST batch trains the coarse quantizer and writes the layout
  (operators/similarity.py materialize_ivf); every later batch only
  ASSIGNS new vectors to the nearest persisted centroid
  (assign_cells, broadcast + map-side combine) and appends
  cell-repartitioned files into the partitioned table. Centroids
  stay the ingest-time quantizer -- standard IVF practice: retrain on
  drift at compaction cadence, not per batch, via
  operators/similarity.py retrain_ivf (atomic layout rewrite;
  restores the quantizer-fits-corpus invariant a drifted stream
  erodes).

Scale shape: nothing in the batch path touches the existing corpus
except one vec_id column scan (the anti-join probe; at 100 TB that
read is served by a vec_id-bucketed side index, the same pattern the
corpus stream documents for fingerprints). The append shuffles only
the batch, into at most nlist files per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.operators.similarity import (
    EMB_DIM,
    assign_cells,
    materialize_ivf,
)
from solana_data_etl_pipeline_spark.operators.util import read_or_none, unindexed

#: JSONL landing-zone shape for embedding vectors.
EMB_LANDING_SCHEMA = (
    "vec_id long, embedding array<double>, ingest_time timestamp_ntz"
)


def run_embedding_stream(
    spark: SparkSession,
    input_dir: str,
    layout_path: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    n_cells: int = 16,
    dim: int = EMB_DIM,
):
    """Landing zone -> quarantine split + dimension gate -> exact
    dedup -> quantizer-train (first batch) / assign + append (later
    batches) into the materialize_ivf layout."""
    from pyspark.sql.types import StructType

    from solana_data_etl_pipeline_spark.sinks.quarantine import (
        CORRUPT_COL,
        split_corrupt,
        with_corrupt_column,
    )

    schema = with_corrupt_column(StructType.fromDDL(EMB_LANDING_SCHEMA))
    raw = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(input_dir)
    )

    def _bad_dim_quarantine(rows: DataFrame) -> DataFrame:
        context = F.to_json(F.struct("vec_id", "embedding", "ingest_time"))
        return rows.select(
            F.sha2(context, 256).alias("error_id"),
            F.lit(None).cast("long").alias("slot"),
            F.lit(None).cast("string").alias("tx_signature"),
            F.lit("bad_dimension").alias("error_type"),
            F.lit(f"embedding arity != {dim}").alias("error_message"),
            context.alias("error_context"),
            F.current_timestamp().alias("created_at"),
        )

    def _sink(batch_df, batch_id):
        batch_df.persist()
        try:
            good, quarantine = split_corrupt(batch_df, required_col="vec_id")
            dim_ok = F.size("embedding") == dim
            quarantine = quarantine.unionByName(
                _bad_dim_quarantine(good.filter(~F.coalesce(dim_ok, F.lit(False))))
            )
            good = good.filter(F.coalesce(dim_ok, F.lit(False)))
            # batch-internal first-wins per vec_id (deterministic: keep
            # the earliest ingest_time, then arbitrary-but-stable by
            # content hash)
            from pyspark.sql import Window

            w = Window.partitionBy("vec_id").orderBy(
                F.col("ingest_time").asc_nulls_last(),
                F.md5(F.to_json(F.struct("embedding"))).asc(),
            )
            good = (
                good.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            # cross-batch: vec_ids already in the layout never re-enter
            # (same narrow-try rule: only the path-probing read may be
            # treated as "first batch")
            new = unindexed(
                good, read_or_none(spark, f"{layout_path}/corpus"), "vec_id"
            ).select("vec_id", "embedding")
            # ONLY the centroids read is allowed to mean "first batch":
            # materialize_ivf overwrites the corpus, so an
            # AnalysisException escaping from assign_cells or the
            # append (schema drift, bad layout) must PROPAGATE, not
            # silently replace the accumulated corpus with one batch.
            cents = read_or_none(spark, f"{layout_path}/centroids")
            if cents is not None:
                assigned = assign_cells(new, cents)
                (
                    assigned.repartition("cell")
                    .write.mode("append")
                    .partitionBy("cell")
                    .parquet(f"{layout_path}/corpus")
                )
            elif new.limit(1).count():
                # first batch trains the quantizer and creates the layout
                materialize_ivf(new, layout_path, n_cells=n_cells)
            if quarantine.limit(1).count():
                unindexed(
                    quarantine, read_or_none(spark, quarantine_dir), "error_id"
                ).write.mode("append").parquet(quarantine_dir)
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
