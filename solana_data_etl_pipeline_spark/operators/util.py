"""Shared operator utilities."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.utils import AnalysisException


def read_or_none(spark, path: str) -> DataFrame | None:
    """The parquet table at `path`, or None when it does not exist yet.
    Only this path-probing read may mean "absent": a failure in a plan
    built on the returned frame must still propagate, so callers never
    wrap more than this call."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def unindexed(
    df: DataFrame,
    index_rows: DataFrame | None,
    on: str | list[str] = "doc_id",
    index_id: str | None = None,
) -> DataFrame:
    """The rows of `df` whose key `on` (a column or a list of them) is
    not among the keys of `index_rows`, where a single key may be named
    `index_id` instead; all of `df` while the index table does not
    exist yet (None). This is the anti-join by which an index or an
    append-only log learns which rows are new."""
    if index_rows is None:
        return df
    if index_id is not None:
        index_rows = index_rows.withColumnRenamed(index_id, on)
    on = [on] if isinstance(on, str) else on
    return df.join(index_rows.select(*on).distinct(), on, "left_anti")


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than
    the session's default parallelism.

    Compute-heavy per-row operators (shingling, hashing, scoring) must
    not inherit a single-split input: local test fixtures are one
    parquet row group, which would serialize the whole stage on one
    core. On a real cluster with many input splits this is a no-op --
    the guard avoids paying an unconditional shuffle at scale.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df.repartition(target)
    return df if current >= target else df.repartition(target)


def _index_meta_file(spark, path: str):
    """(Hadoop FileSystem, Path) of the `{path}/_meta` sidecar, resolved
    through the session's Hadoop configuration so remote stores work."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_meta")
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def write_index_meta(spark, path: str, geometry: dict) -> None:
    """Write a stored index's build geometry as `{path}/_meta`, a small
    JSON object (e.g. {"num_hashes": 16, "bands": 4}).

    Every ingest-time index (minhash bands, winnow fingerprints,
    embedding buckets) defines the geometry it is probed with: a
    probe at any other geometry hashes into a different space and
    silently matches nothing. So the index, not
    the caller, owns it -- probes read it back with read_index_meta
    and take no geometry parameters. The leading underscore keeps the
    file out of parquet scans of `path`. A driver-side filesystem
    write: no Spark job runs."""
    fs, p = _index_meta_file(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(geometry, sort_keys=True).encode()))
    finally:
        out.close()


def read_index_meta(spark, path: str) -> dict | None:
    """The geometry write_index_meta stored at `path`, or None when
    `{path}/_meta` is absent (not a materialized index). Read through
    the filesystem on every call -- nothing is cached, so a rebuilt
    index is never probed with its predecessor's geometry -- and no
    Spark job runs."""
    fs, p = _index_meta_file(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        text = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def require_index_meta(spark, path: str) -> dict:
    """read_index_meta for a probe: raises ValueError naming `path`
    instead of guessing a geometry when the index has no `_meta`."""
    meta = read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path}: no `_meta`: not a materialized index; rebuild it")
    return meta
