"""Independent expected values for the ingest and refresh workloads.

Computed in pure Python by walking ``sources.fixtures.make_block``
over a slot range, never through Spark, so the checks do not share
code with the parse or sink layers they check.
"""

from __future__ import annotations

from dataclasses import dataclass

from solana_data_etl_pipeline_spark.sources.fixtures import make_block


@dataclass(frozen=True)
class Expected:
    events: int
    txs: int
    failed_txs: int


def expected_ingest(first_slot: int, last_slot: int) -> Expected:
    """Counts parse_blocks should emit for the inclusive slot range: one
    'transaction' event per tx, one event per instruction, one
    'token_transfer' per post token balance carrying a mint."""
    events = txs = failed = 0
    for slot in range(first_slot, last_slot + 1):
        block = make_block(slot)
        if block is None:
            continue
        for tx in block["transactions"]:
            meta = tx["meta"]
            txs += 1
            failed += meta["err"] is not None
            events += 1 + len(tx["transaction"]["message"]["instructions"])
            events += sum(1 for b in meta["postTokenBalances"] if b.get("mint") is not None)
    return Expected(events, txs, failed)
