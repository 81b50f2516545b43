"""Tests of the benchmark's own logic.

    python -m pytest perfbench -q      (from the repository root)
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, Tracer, self_times, tail_percentile  # noqa: E402
from truth import expected_ingest  # noqa: E402


def test_expected_counts_match_parse_blocks():
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators.parse import parse_blocks
    from solana_data_etl_pipeline_spark.session import get_spark
    from solana_data_etl_pipeline_spark.sources.blocks import blocks_to_df
    from solana_data_etl_pipeline_spark.sources.fixtures import make_block

    first, last = 30, 52  # includes the skipped slots 34 and 51
    spark = get_spark("perfbench-test", master="local[2]")
    events = parse_blocks(blocks_to_df(spark, [make_block(s) for s in range(first, last + 1)]))
    row = events.agg(
        F.count("*").alias("events"),
        F.count_distinct("event_id").alias("ids"),
        F.sum((F.col("event_type") == "transaction").cast("int")).alias("txs"),
        F.sum(((F.col("event_type") == "transaction") & ~F.col("success")).cast("int")).alias("failed"),
    ).first()
    exp = expected_ingest(first, last)
    assert exp.events > exp.txs > exp.failed_txs > 0
    assert (row["events"], row["ids"], row["txs"], row["failed"]) == (exp.events, exp.events, exp.txs, exp.failed_txs)


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a: the union 1..6 is covered
        Span(3, "a.leaf", 1, 2.0, 3.0),
        Span(4, "c", 0, 9.0, 12.0),  # runs past the parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_nests_spans_and_records_results():
    tr = Tracer()
    with tr.span("outer"):
        assert tr.wrap("inner", lambda x: x * 2)(21) == 42
    outer, inner = tr.spans
    assert (outer.parent, inner.parent, inner.result) == (None, outer.id, 42)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert self_times(tr.spans)[outer.id] == pytest.approx(outer.duration - inner.duration)


@pytest.mark.parametrize(
    "n, label, value",
    [
        (1, "max", 1.0),
        (10, "max", 10.0),  # ten samples leave none with ten beyond
        (11, "p9.09091", 1.0),
        (20, "p50", 10.0),
        (100, "p90", 90.0),
        (1000, "p99", 990.0),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, label, value):
    samples = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got_label, got = tail_percentile(samples)
    assert (got_label, got) == (label, value)
    if label != "max":
        assert sum(1 for s in samples if s > got) == 10


def test_cpu_seconds_count_this_process_busy_time():
    from run import proc_cpu_s, steal_ticks

    before = proc_cpu_s(os.getpid())
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert proc_cpu_s(os.getpid()) - before >= 0.2
    stolen, total = steal_ticks()
    assert 0 <= stolen <= total


def test_registry_inputs_repeat_byte_for_byte(tmp_path):
    import gen

    gen.write_tables(str(tmp_path / "a"), 42)
    gen.write_tables(str(tmp_path / "b"), 42)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for name in names:
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_peak_rss_reset_forgets_freed_memory():
    from run import peak_rss_mb, reset_peak_rss

    pids = [os.getpid()]
    block = b"\x01" * (128 << 20)  # written, so every page is resident
    peak = peak_rss_mb(pids)
    del block
    reset_peak_rss(pids)
    assert peak_rss_mb(pids) < peak - 100
