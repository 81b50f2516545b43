"""The three benchmark workloads: backfill, refresh and registry.

Each workload is a class with ``setup()`` (repeated, timed as
``setup_s``), ``warm()`` (untimed, pays JIT and lazy set-up once),
``op()`` (one unit of measured work, looped for ``--seconds``) and
``check()`` (correctness, outside the timed region). One client drives
every workload in a closed loop: the next op starts when the previous
one has returned.
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.config import Config
from solana_data_etl_pipeline_spark.plans import canonical
from solana_data_etl_pipeline_spark.session import get_spark
from solana_data_etl_pipeline_spark.sinks.warehouse import ParquetWarehouse
from solana_data_etl_pipeline_spark.sources import blocks
from solana_data_etl_pipeline_spark.sources.fixtures import GENESIS_TIME, FixtureRpcClient
from solana_data_etl_pipeline_spark.operators.parse import parse_blocks
from solana_data_etl_pipeline_spark.streaming import incremental

import gen
from truth import expected_ingest

#: untimed ops before the timed loop. Op CPU falls for the first ops
#: while the JVM compiles the hot paths (4-core machine, CPU seconds:
#: refresh cycles after the preload 48.5, 27.4, 18.1, 16.6; registry
#: passes after the oracle pass 19.6, 16.0, 14.8, 11.1, 10.0). The timed
#: third op is still on that slope, but more warm ops would not fit the
#: run-time budget.
WARM_OPS = 2
#: seconds between fixture slots (``make_block`` block times step by 2 s)
SLOT_SECONDS = 2
#: slots the chain advances per refresh cycle: the slots produced during
#: one wait of the program's incremental loop (``etl.interval_seconds``,
#: 30 s by default, so 15 slots)
ADVANCE_SLOTS = Config.load().etl.interval_seconds // SLOT_SECONDS
#: slots per backfill op, and slots the refresh warm-up preloads. Neither
#: comes from a measured workload: both are sized so that a run, with
#: its three set-ups, two warm ops and the check, fits the run-time
#: budget (see README.md)
CHUNK_SLOTS = 40
PRELOAD_SLOTS = 20
#: registry entries timed by the registry workload: one or two per
#: operator family (dedup, text, similarity, multimodal, analytics,
#: dimensions), none of which builds a per-input layout cache
REGISTRY_ENTRIES = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "top_tokens",
    "knn_lsh",
    "media_exact_dups",
    "active_programs",
    "merge_dim_wallets",
]

#: registry inputs are generated from this seed, never from the workload
#: seed: the graded suite runs over one fixed data set, and a new data
#: set per seed would move the amount of dedup and similarity work
REGISTRY_INPUT_SEED = 42

INCREMENTAL_LOGGER = "solana_data_etl_pipeline_spark.streaming.incremental"


class ErrorCounter(logging.Handler):
    """Counts the ERROR records ``run_backfill`` / ``run_incremental``
    log when they skip a failed chunk or pass and carry on."""

    def __init__(self):
        super().__init__(logging.ERROR)
        self.count = 0

    def emit(self, record: logging.LogRecord) -> None:
        self.count += 1


def block_time(slot: int) -> dt.datetime:
    """Wall-clock block time of a fixture slot (UTC, naive)."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=GENESIS_TIME + SLOT_SECONDS * slot)


def start_slot(seed: int) -> int:
    """Seeded slot range start, spread over ~50 days of fixture chain."""
    return 1_000 + (seed % 4_999) * 400


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.failures = 0
        self.attempted = 0
        self.notes: dict = {}

    def start_session(self) -> float:
        """(Re)start the Spark session; returns the seconds it took."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
            self.ctx.stopped_sessions.append(self.spark)
        self.spark = get_spark(f"perfbench-{self.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failures += 1
        self.notes.setdefault("failures", []).append(what)

    def check_upsert(self, lo: int, hi: int, stored_events: int) -> float:
        """Re-fetch and re-parse slots [lo, hi], already stored, and
        apply them with upsert_events: every row is replaced, none is
        added. Returns the upsert's seconds."""
        self.attempted += 1
        t0 = time.perf_counter()
        fetched = blocks.fetch_blocks_df(self.spark, lambda: FixtureRpcClient(tip=hi), list(range(lo, hi + 1)))
        applied = self.wh.upsert_events(parse_blocks(fetched))
        upsert_s = time.perf_counter() - t0
        self.ctx.upsert_rewrite(self.wh, {block_time(s).date() for s in range(lo, hi + 1)}, applied)
        stored = self.wh.read_events().count()
        want = expected_ingest(lo, hi).events
        if (applied, stored) != (want, stored_events):
            self.fail(f"upsert applied {applied} rows and left {stored}; expected {want} and {stored_events}")
        self.ctx.record_warehouse(self.wh, stored)
        return upsert_s


class Backfill(Workload):
    """Fresh warehouse; run_backfill over a seeded slot range, one call
    per chunk (op = one chunk). The warm-up ingests the range's first
    chunks, so every timed chunk appends to a non-empty table through
    the anti-join. After the loop an overlapping sub-range is
    re-fetched, re-parsed and applied with upsert_events."""

    name = "backfill"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.first = start_slot(ctx.seed)
        self.upsert_s = 0.0
        self.timed_written = 0

    def setup(self) -> float:
        session_s = self.start_session()
        path = os.path.join(self.ctx.work, "backfill-warehouse")
        shutil.rmtree(path, ignore_errors=True)
        self.wh = ParquetWarehouse(self.spark, path)
        self.chunks = 0
        self.written = 0
        return session_s

    def _ingest_chunk(self) -> int:
        lo = self.first + self.chunks * CHUNK_SLOTS
        hi = lo + CHUNK_SLOTS - 1
        n = incremental.run_backfill(self.spark, self.wh, lambda: FixtureRpcClient(tip=hi), lo, hi)
        self.chunks += 1
        self.written += n
        return n

    def warm(self) -> None:
        for _ in range(WARM_OPS):
            self._ingest_chunk()

    def op(self) -> None:
        self.attempted += 1
        self.timed_written += self._ingest_chunk()

    def check(self) -> None:
        last = self.first + self.chunks * CHUNK_SLOTS - 1
        exp = expected_ingest(self.first, last).events
        events = self.wh.read_events()
        stats = events.agg(F.count("*").alias("n"), F.count_distinct("event_id").alias("ids")).first()
        if (self.written, stats["n"], stats["ids"]) != (exp, exp, exp):
            self.fail(f"backfill wrote {self.written}, stored {stats['n']} ({stats['ids']} ids), expected {exp}")
        self.upsert_s = self.check_upsert(self.first + CHUNK_SLOTS // 2, self.first + CHUNK_SLOTS + CHUNK_SLOTS // 2 - 1, exp)

    def summary(self, op_s: list[float]) -> dict:
        return {"backfill_events_per_s": self.timed_written / sum(op_s), "upsert_s": self.upsert_s, "chunks": len(op_s)}


class Refresh(Workload):
    """Preloaded warehouse; each op is one freshness cycle: the chain
    advances, process_incremental ingests the delta, the table is
    compacted and run_analytics rewrites every analytics and dimension
    table. A run times one or two cycles, so compaction runs on every
    cycle: compacting every Kth would make the median depend on which
    cycles fall in the timed window.

    The preload runs once, in the warm-up, not in every set-up: on a
    fresh session it costs ~5 s, and three of them per run would not
    fit the run-time budget."""

    name = "refresh"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.first = start_slot(ctx.seed)
        self.cycle = 0

    def setup(self) -> float:
        session_s = self.start_session()
        path = os.path.join(self.ctx.work, "refresh-warehouse")
        shutil.rmtree(path, ignore_errors=True)
        self.wh = ParquetWarehouse(self.spark, path)
        self.cycle = 0
        return session_s

    def warm(self) -> None:
        """Preload the warehouse with a backfill, then run WARM_OPS cycles."""
        tip = self.first + PRELOAD_SLOTS - 1
        self.client = FixtureRpcClient(tip=tip)
        incremental.run_backfill(self.spark, self.wh, lambda: FixtureRpcClient(tip=tip), self.first, tip)
        for _ in range(WARM_OPS):
            self._cycle()

    def _cycle(self) -> None:
        self.client.advance(ADVANCE_SLOTS)
        incremental.process_incremental(self.spark, self.wh, self.client)
        self.cycle += 1
        self.wh.compact()
        events = self.wh.read_events()
        if self.ctx.traced:
            self.ctx.files_scanned.append(len(events.inputFiles()))
        canonical.run_analytics(events, as_of=block_time(self.client.tip), output_path=self.out)

    @property
    def out(self) -> str:
        return os.path.join(self.ctx.work, "refresh-analytics")

    def op(self) -> None:
        self.attempted += 1
        try:
            self._cycle()
        except Exception as exc:  # a failed cycle is counted, the loop goes on
            self.fail(f"cycle {self.cycle}: {exc!r}")

    def check(self) -> None:
        exp = expected_ingest(self.first, self.client.tip)
        stored = self.wh.read_events().count()
        if stored != exp.events:
            self.fail(f"warehouse holds {stored} events, expected {exp.events}")
        vol = self.spark.read.parquet(f"{self.out}/analytics_transaction_volume")
        total = vol.filter(F.col("period_type") == "total").first()["tx_count"]
        failed = self.spark.read.parquet(f"{self.out}/analytics_failed_transactions").first()
        got = (total, failed["total_transactions"], failed["failed_transactions"])
        if got != (exp.txs, exp.txs, exp.failed_txs):
            self.fail(f"analytics (total, txs, failed) = {got}, expected {(exp.txs, exp.txs, exp.failed_txs)}")
        self.upsert_s = self.check_upsert(self.first, self.first + PRELOAD_SLOTS - 1, exp.events)

    def summary(self, op_s: list[float]) -> dict:
        return {"upsert_s": self.upsert_s}


class Registry(Workload):
    """REGISTRY_ENTRIES from the graded 50 over fixed input tables, each
    written to the noop sink; op = one pass over the entries, after the
    untimed warm passes on the same SparkContext. The input tables are
    generated once, before the first set-up and outside any timing, so
    set-up is the session start alone."""

    name = "registry"

    def __init__(self, ctx):
        super().__init__(ctx)
        import __spark_entry__

        self.queries = {n: __spark_entry__.queries()[n] for n in REGISTRY_ENTRIES}
        self.oracle_sql = __spark_entry__.oracle_sql()
        self.sf_dir = os.path.join(ctx.work, "registry-inputs")
        self.samples: dict[str, list[float]] = {n: [] for n in REGISTRY_ENTRIES}
        self.failed_entries: set[str] = set()
        gen.write_tables(self.sf_dir, REGISTRY_INPUT_SEED)

    def setup(self) -> float:
        return self.start_session()

    def warm(self) -> None:
        """Check every entry against its DuckDB oracle, then run WARM_OPS
        untimed passes."""
        from tools.selfcheck import check_queries, oracle_connection

        con = oracle_connection(self.sf_dir)
        try:
            bad = check_queries(self.spark, con, self.queries, self.oracle_sql, self.sf_dir, log=lambda *_: None)
        finally:
            con.close()
        self.failed_entries.update(bad)
        for _ in range(WARM_OPS):
            self._pass()

    def _sample(self, name: str) -> None:
        fn = self.queries[name]
        tr = self.ctx.tracer
        if tr is None:
            fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return
        with tr.span(f"registry.{name}.construct"):
            df = fn(self.spark, self.sf_dir)
        with tr.span(f"registry.{name}.execute"):
            df.write.format("noop").mode("overwrite").save()

    def op(self) -> None:
        for name, seconds in self._pass().items():
            self.samples[name].append(seconds)

    def _pass(self) -> dict[str, float]:
        """One sample of every entry; returns each entry's seconds."""
        seconds = {}
        for name in REGISTRY_ENTRIES:
            before = set(self.spark.sparkContext._jsc.getPersistentRDDs().keys())
            t0 = time.perf_counter()
            try:
                self._sample(name)
            except Exception as exc:  # an entry that raises is a failed entry
                self.failed_entries.add(name)
                self.notes.setdefault("errors", {})[name] = repr(exc)[:300]
            seconds[name] = time.perf_counter() - t0
            self._drop_sample_rdds(before)
        return seconds

    def _drop_sample_rdds(self, before: set) -> None:
        """Unpersist only the RDDs this sample created (blocking), so
        state a sample leaves behind never drags the next one."""
        for rdd_id, jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                jrdd.unpersist(True)

    def check(self) -> None:
        self.attempted = len(REGISTRY_ENTRIES)
        for name in sorted(self.failed_entries):
            self.fail(f"registry entry {name}")

    def summary(self, op_s: list[float]) -> dict:
        return {"suite_s": sum(statistics.median(v) for v in self.samples.values() if v)}


WORKLOADS = {w.name: w for w in (Backfill, Refresh, Registry)}
